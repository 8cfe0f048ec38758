import os
import sys
import tempfile
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphmapreduce_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _enable_tws_protobuf_shim() -> None:
    """Make transformWithState verifiable where protobuf isn't installed.

    PySpark's TWS python worker speaks protobuf to the JVM state server;
    this sandbox has no ``google.protobuf`` on PyPI-path, but the
    (public) google-cloud-sdk appengine platform dir ships a pure-Python
    protobuf runtime one minor version behind PySpark's gencode.  When
    the real package is absent and that copy exists, expose it on
    PYTHONPATH (workers inherit it) together with the gated
    ``tools/pb_compat/sitecustomize.py`` version-check relaxation.
    Must run BEFORE the first SparkSession — workers capture the env.
    No-op everywhere else.
    """
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    gae = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    shim = os.path.join(_REPO_ROOT, "tools", "pb_compat")
    if not os.path.isdir(os.path.join(gae, "google", "protobuf")):
        return
    os.environ["GMR_TWS_PB_SHIM"] = "1"
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    for p in (shim, gae):
        if p not in parts:
            parts.append(p)
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    sys.path.append(gae)  # append: a real install would still win
    try:
        from google.protobuf import runtime_version as rv

        rv.ValidateProtobufRuntimeVersion = lambda *a, **k: None
    except Exception:
        pass


_enable_tws_protobuf_shim()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="gmr-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "4g",
            # managed tables (bucketing tests) go to a temp warehouse
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="gmr_wh_"),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _driver_budget(spark, value):
    """Set the driver budget of ``graph/`` for the block, then restore
    it; ``None`` keeps the current value."""
    from graphmapreduce_spark.graph.iterate import DRIVER_BUDGET_KEY

    prev = spark.conf.get(DRIVER_BUDGET_KEY, None)
    if value is not None:
        spark.conf.set(DRIVER_BUDGET_KEY, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(DRIVER_BUDGET_KEY)
        else:
            spark.conf.set(DRIVER_BUDGET_KEY, prev)


@pytest.fixture
def distributed_tier(spark):
    """Keep the test's graph loops on the distributed tier: budget 0
    turns the driver-local tier off."""
    yield from _driver_budget(spark, "0")


@pytest.fixture(scope="module")
def distributed_tier_module(spark):
    """``distributed_tier`` for every test of a module."""
    yield from _driver_budget(spark, "0")


@pytest.fixture
def graph_tiers(spark):
    """``for tier in graph_tiers():`` runs a test body on both tiers of
    ``graph/``: "driver" (the default budget) then "distributed"
    (budget 0)."""

    def tiers():
        for tier, budget in (("driver", None), ("distributed", "0")):
            with contextmanager(_driver_budget)(spark, budget):
                yield tier

    return tiers

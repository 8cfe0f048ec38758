"""tools/perf.py, the one perf harness, and the bench.py pieces it
imports: ``cold``'s run order and summary over two fake checkouts (no
Spark), bench.py's JSON line contract, and one ``plans`` run."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from tools import perf  # noqa: E402


def _fake_checkout(root, total: float) -> str:
    """A checkout whose bench.py prints a canned JSON line."""
    root.mkdir()
    line = {"metric": "headline_total_wall", "value": total, "unit": "sec",
            "queries": {"q01_pricing_summary": total}, "stddev": {},
            "failed": [], "sf": 0.001}
    (root / "bench.py").write_text(f"print({json.dumps(line)!r})\n")
    return str(root)


def test_cold_alternates_checkouts_and_summarizes(tmp_path, capsys):
    a = _fake_checkout(tmp_path / "a", 2.0)
    b = _fake_checkout(tmp_path / "b", 1.0)
    out = tmp_path / "cold.json"
    assert perf.main(["cold", "--a", a, "--b", b, "-n", "2",
                      "--out", str(out)]) == 0
    summary = json.loads(out.read_text())
    assert [r["tree"] for r in summary["runs"]] == [a, b, b, a]
    assert [r["tag"] for r in summary["runs"]] == ["a", "b", "b", "a"]
    assert all(r["rc"] == 0 and "steal_delta" in r for r in summary["runs"])
    assert summary["a_totals"] == [2.0, 2.0]
    assert summary["b_totals"] == [1.0, 1.0]
    assert (summary["a_min"], summary["b_min"]) == (2.0, 1.0)
    assert summary["per_query_min"] == {
        "q01_pricing_summary": {"a": 2.0, "b": 1.0}
    }
    assert "a_min=2.0 b_min=1.0" in capsys.readouterr().out


def test_bench_json_line_keys_in_order():
    line = json.loads(bench.result_line(
        {"q01_pricing_summary": 1.25, "q02_top_customers": None},
        {"q01_pricing_summary": 0.01, "q02_top_customers": None},
        "/data/sf0.1/",
    ))
    assert list(line) == [
        "metric", "value", "unit", "queries", "stddev", "failed", "sf"
    ]
    assert line["value"] == 1.25 and line["unit"] == "sec"
    assert line["failed"] == ["q02_top_customers"]
    assert line["sf"] == 0.1


def test_plans_writes_one_dump_and_one_audit_line(tmp_path, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no testdata at {sf_dir}")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "perf.py"), "plans",
         "--out", str(tmp_path), "--suffix", "t", "q01_pricing_summary"],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert os.listdir(tmp_path) == ["q01_pricing_summary_t.txt"]
    dump = (tmp_path / "q01_pricing_summary_t.txt").read_text()
    # the dump is the plan that ran, not the pre-execution plan
    assert "isFinalPlan=true" in dump
    lines = out.stdout.splitlines()
    audit = [ln for ln in lines if ln.startswith("exchanges=")]
    assert len(audit) == 1
    # q01's one exchange and one lineitem scan, counted in the final
    # plan only (an AQE plan also prints its initial plan)
    assert audit[0].startswith("exchanges=1 ")
    scans = [ln for ln in lines if ln.startswith("scan[")]
    assert len(scans) == 1
    assert scans[0].startswith("scan[0]: pushed=[] read=struct<l_quantity")


def test_ab_pairs_the_two_values_in_flipped_order(monkeypatch, capsys):
    """``ab --values A B`` sets the conf to A and B in each pair, B
    first in every other pair, and reports both values; without
    ``--values`` it pairs false and true."""
    key = "spark.graphmapreduce.clusterBroadcastMaxPairs"
    sets = []

    class Conf:
        def set(self, k, v):
            sets.append((k, v))

    class Spark:
        conf = Conf()

    monkeypatch.setattr(perf.bench, "warm_up", lambda spark, sf_dir: None)
    monkeypatch.setattr(perf.workload, "queries", lambda: {"q": None})
    # tier (a) (budget 1000000) takes 1 s, the distributed tier 3 s
    monkeypatch.setattr(
        perf.bench, "timed",
        lambda spark, q, sf_dir: 3.0 if sets[-1][1] == "0" else 1.0,
    )
    args = perf.parser().parse_args(
        ["ab", "--conf", key, "--values", "0", "1000000", "-n", "3", "q"]
    )
    perf.ab(Spark(), "/data", args)
    assert sets == [(key, v) for v in
                    ("0", "1000000", "1000000", "0", "0", "1000000")]
    out = capsys.readouterr().out
    assert out.startswith("q: A(0) min=3.000 runs=3.00,3.00,3.00 | "
                          "B(1000000) min=1.000 runs=1.00,1.00,1.00 | "
                          "paired B-A median=-2.000s")
    args = perf.parser().parse_args(["ab", "--conf", key, "q"])
    assert args.values == ["false", "true"] and args.n == 5

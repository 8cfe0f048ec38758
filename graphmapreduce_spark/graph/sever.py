"""Hard lineage severing for long iterative loops.

Measured pathology (PySpark 4.1.2, local mode; see BASELINE.md round-4
continuation #3): a loop that derives each round's state from the
previous round's ``localCheckpoint(eager=True)`` — referencing it more
than once per round, the normal shape for message joins (state feeds
both the message side and the old-value side) — stays flat for ~16
chained rounds and then the per-round wall time DOUBLES every round
(0.2 s → 160 s by round 24 on a 5 000-row state in the minimal repro).
The logical plan stays truncated (constant analyzed-plan size), the
Spark job count per round stays constant, holding Python references
changes nothing, and ``Dataset.checkpoint(eager=True)`` to a reliable
checkpoint dir does NOT stop it — the only thing that does is giving
the state a plan with ZERO RDD ancestry.

``LineageSeverer`` provides that: a parquet write + fresh re-scan (the
new frame's plan is a plain file scan).  A sever every
``SEVER_INTERVAL`` rounds (the cadence ``graph/iterate.py::Rounds``
applies for every loop in ``graph/``) keeps every checkpoint chain
shorter than the ~16-round cliff, which the repro shows is sufficient
(flat through 25 rounds).  Cost: one small-table write per interval —
the state tables in these loops (vertex values, community labels, core
degrees) are the SMALL side of each superstep by design, so the write
is noise next to one superstep's shuffle; on a cluster, point
``spark.graphmapreduce.severDir`` at shared storage.

Second measured pathology (round 6, root-caused via jstack on the
driver): ``localCheckpoint`` truncates lineage but PROPAGATES
ESTIMATED STATS — ``LogicalRDD.rewriteStatsAndConstraints`` re-derives
``sizeInBytes`` from the pre-checkpoint plan, and
``SizeInBytesOnlyStatsPlanVisitor`` MULTIPLIES child sizes at every
join.  A loop whose round JOINS the loop-carried frame with itself (or
uses it several times — Borůvka's double comp join + pointer-jump
self-joins) therefore grows the estimate's BigInt BIT-LENGTH
geometrically per round: the driver ends up grinding multi-megabit
``BigInteger.multiply`` inside stats estimation (160 s rounds), then
``BigInteger.checkRange`` throws "BigInteger would overflow supported
range".  The parquet re-scan resets stats to REAL file sizes, so the
discriminator is: rounds that SELF-join the carried frame must sever
EVERY round (``boruvka_mst``: ``Rounds(..., every=1)``); linear
message-join rounds are fine at ``SEVER_INTERVAL``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

# below the measured ~16-round cliff, with margin for the pre-loop
# checkpoints (edge materialization etc.) that share the same session
SEVER_INTERVAL = 10

# every severer not yet closed, cleaned up at interpreter exit.  Strong
# references: severers are loop locals, so a weak registry would lose
# them (and leak their scratch dirs) as soon as the loop returns, while
# the frames they produced may still be read from those dirs.
_LIVE: "set[LineageSeverer]" = set()


@atexit.register
def _close_all() -> None:
    for s in list(_LIVE):
        s.close()


class LineageSeverer:
    """Owns a scratch directory; ``sever(df)`` returns ``df`` reborn as
    a parquet scan.  Sever files are KEPT until ``close()``: with the
    truncation bug this class works around, a later recompute may
    legitimately walk back to any earlier sever scan, and callers may
    sever several frames through one instance — deleting mid-run can
    break both.  Every severer is also registered for a best-effort
    ``close()`` at interpreter exit (atexit), so local scratch dirs do
    not accumulate in /tmp across runs.  Remote ``severDir`` paths
    (hdfs:/s3/abfs/gs:) are NOT removed — the driver-side rmtree can't
    reach them; point severDir at a store with a TTL/lifecycle rule or
    sweep it externally (documented residue: a few KB–MB per run, the
    severed states are the SMALL side of their loops by design)."""

    def __init__(self, spark, tag: str = "state"):
        self.spark = spark
        base = spark.conf.get("spark.graphmapreduce.severDir", None)
        if base:
            self.dir = os.path.join(base, f"sever_{tag}_{uuid.uuid4().hex}")
            self._local = not any(
                base.startswith(p) for p in ("hdfs:", "s3", "abfs", "gs:")
            )
        else:
            self.dir = tempfile.mkdtemp(prefix=f"gmr_sever_{tag}_")
            self._local = True
        _LIVE.add(self)

    def sever(self, df: DataFrame) -> DataFrame:
        path = os.path.join(self.dir, uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def close(self) -> None:
        """Best-effort removal of the scratch dir (idempotent).  Only
        call once no frame returned by ``sever`` will be used again."""
        if self not in _LIVE:
            return
        _LIVE.discard(self)
        if self._local:
            shutil.rmtree(self.dir, ignore_errors=True)

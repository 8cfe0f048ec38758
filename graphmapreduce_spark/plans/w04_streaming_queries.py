"""Structured Streaming: event-time windows, watermarks, stream joins (q60–q66 band).

Part 4/11 of the query registry (split from the former single-file
workload.py); importing this module registers its queries in
``plans._shared.QUERIES``.
"""

from graphmapreduce_spark.plans._shared import *  # noqa: F401,F403

@register(
    "q60_tumbling_window",
    """
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q60_tumbling_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = tumbling_agg(
        e,
        "ts",
        "1 hour",
        group_cols=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        ],
    )
    return out.drop("window_end")


@register(
    "q61_sliding_window",
    """
    WITH buckets AS (
      SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
                            * 1000000) AS w0, * FROM events
    ),
    expanded AS (
      SELECT w0 AS window_start, user_id, value FROM buckets
      UNION ALL
      SELECT w0 - INTERVAL 5 MINUTE AS window_start, user_id, value FROM buckets
    )
    SELECT window_start, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM expanded
    GROUP BY 1
    """,
)
def q61_sliding_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    out = sliding_agg(
        e,
        "ts",
        "10 minutes",
        "5 minutes",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        ],
    )
    return out.drop("window_end")


@register(
    "q62_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 5 MINUTE AS session_end,
           user_id,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def q62_session_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return session_agg(
        e,
        "ts",
        "5 minutes",
        group_cols=["user_id"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        ],
    )


def _stream_events(spark, sf_dir):
    """readStream over the events parquet fixture, with ``ts``
    normalized to session-TZ TIMESTAMP whatever the physical form
    (nanos-as-long, TIMESTAMP_NTZ, or TIMESTAMP), mirroring ``_t`` —
    watermarks require TIMESTAMP, not NTZ."""
    import os as _os

    path = _os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(path)
    # the file stream source requires a directory: point it at sf_dir
    # with a glob selecting only the events file
    stream = (
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_ts(stream, "ts")


def _run_stream_to_table(spark, stream_df, name: str, output_mode: str = "update"):
    """Execute a streaming query to completion (availableNow) into an
    in-memory sink and return the materialized table.

    State-store partitioning: a stateful streaming query pins its state
    partition count to ``spark.sql.shuffle.partitions`` at the first
    micro-batch, and every micro-batch then pays an open/commit cycle
    on EVERY state store — a fan-out that should be sized to the state
    volume, not to the core count (guide §2.2; measured at sf0.1: the
    q63 5-key windowed aggregate runs ~2× faster with 4 state
    partitions than with 32, pure store-lifecycle cost).  The runner
    therefore scopes shuffle partitions for the stream's lifetime to
    ``spark.graphmapreduce.streaming.statePartitions`` (default 8 —
    generous for the low-cardinality windowed/keyed aggregates these
    operators compute; never raised above the session value).  For
    corpus-scale state (e.g. a streaming dedup ingest whose state is
    the seen-hash set) size it up: ≈ expected state bytes / 64 MB.

    Assumes one driver thread per session: the rescope is session-wide,
    so any query another thread plans on this session while the stream
    runs gets the stream's shuffle partition count.
    """
    import tempfile
    import uuid

    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    state_parts = min(
        int(prev_parts),
        int(
            spark.conf.get(
                "spark.graphmapreduce.streaming.statePartitions", "8"
            )
        ),
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix=f"gmr_ckpt_{name}_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(qname)


@register(
    "q63_streaming_tumbling",
    """
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q63_streaming_tumbling(spark, sf_dir):
    """True Structured Streaming execution (readStream → watermark →
    tumbling window → memory sink, availableNow) — the fixture is one
    file = one micro-batch, so no rows are late and the result equals
    the batch oracle."""
    stream = _stream_events(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _run_stream_to_table(spark, windowed, "tumbling")


@register(
    "q64_stateful_running_totals",
    """
    SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
    FROM events
    GROUP BY user_id
    """,
)
def q64_stateful_running_totals(spark, sf_dir):
    """Arbitrary stateful streaming (applyInPandasWithState running
    count/sum per user).  Update mode emits one row per key per
    micro-batch; the final row per key (max n) is the converged total,
    equal to the batch aggregate."""
    from graphmapreduce_spark.streaming import stateful as ST

    stream = _stream_events(spark, sf_dir)
    running = ST.running_totals(stream, key_col="user_id", value_col="value")
    out = _run_stream_to_table(spark, running, "running")
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n", F.round("total", 4).alias("total"))
    )


@register(
    "q65_streaming_session",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 5 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT MIN(ts) AS session_start, user_id,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def q65_streaming_session(spark, sf_dir):
    """True streaming session windows: readStream → watermark →
    session_window(gap 5 min) → append-mode memory sink.

    Session aggregation only supports append output, which emits a
    session once the watermark passes its end.  A far-future 'flush'
    event is appended to a temp copy of the stream so the final
    watermark closes every real session — i.e. the query exercises the
    real eviction semantics instead of relying on query shutdown."""
    import os as _os
    import shutil
    import tempfile

    src = _os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(src)
    d = tempfile.mkdtemp(prefix="gmr_sess_src_")
    shutil.copy(src, _os.path.join(d, "00_events.parquet"))
    # flush row in the fixture's native physical type (nanos-long,
    # TIMESTAMP_NTZ, or TIMESTAMP), 2h past the max event
    max_ts = static.agg(F.max("ts")).first()[0]
    if dict(static.dtypes).get("ts") == "bigint":
        flush_ts = int(max_ts) + 2 * 3600 * 1_000_000_000
    else:
        import datetime as _dt

        flush_ts = max_ts + _dt.timedelta(hours=2)
    flush = spark.createDataFrame(
        [(-1, flush_ts, -1, "flush", 0.0, None)], static.schema
    )
    flush.coalesce(1).write.mode("append").parquet(d)
    stream = _normalize_ts(
        spark.readStream.schema(static.schema).parquet(d), "ts"
    )
    sess = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n",
            "total_value",
        )
    )
    out = _run_stream_to_table(spark, sess, "session", output_mode="append")
    return out.filter(F.col("user_id") >= 0)


@register(
    "q66_stream_stream_join",
    """
    SELECT e1.user_id, COUNT(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e1.event_type = 'click' AND e2.event_type = 'purchase'
     AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    GROUP BY e1.user_id
    """,
)
def q66_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (clicks ⋈ purchases within 10 min per
    user), both sides watermarked — state is bounded by the watermark +
    band width.  Joined rows are re-aggregated batch-side after the
    stream completes (one micro-batch, so no pairs straddle a batch
    boundary) and must equal the q21 batch-join oracle."""
    stream = _stream_events(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 minutes")
    )
    buys = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("b_user_id"), F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "30 minutes")
    )
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("buy_ts") > F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("user_id", "click_ts", "buy_ts")
    # stream-stream joins support append output only
    out = _run_stream_to_table(spark, joined, "ssjoin", output_mode="append")
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


@register(
    "q69_stream_dedup",
    """
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q69_stream_dedup(spark, sf_dir):
    """Streaming exact dedup under at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` on event_id over a self-unioned
    stream (every event delivered twice).  State for an id is kept only
    until the watermark passes its timestamp — bounded memory at any
    scale, unlike an unbounded ``dropDuplicates``.  The deduped stream
    re-aggregated equals the plain batch aggregate over events."""
    from graphmapreduce_spark.streaming.windows import dedup_within_watermark

    stream = _stream_events(spark, sf_dir)
    duplicated = stream.unionByName(stream)  # simulate redelivery
    deduped = dedup_within_watermark(
        duplicated, ["event_id"], ts_col="ts", delay="30 minutes"
    )
    out = _run_stream_to_table(spark, deduped, "sdedup", output_mode="append")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )

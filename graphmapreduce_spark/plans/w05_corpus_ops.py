"""Corpus operations: cluster dedup, sampling, sketches, cleaning, sessions, IR scoring.

Part 5/11 of the query registry (split from the former single-file
workload.py); importing this module registers its queries in
``plans._shared.QUERIES``.
"""

from graphmapreduce_spark.plans._shared import *  # noqa: F401,F403
from graphmapreduce_spark.plans.w02_graph_queries import _mod_graph  # noqa: F401
from graphmapreduce_spark.plans.w04_streaming_queries import _run_stream_to_table, _stream_events  # noqa: F401

_PAIR_CLOSURE_CTES = """
    sh AS MATERIALIZED (
      SELECT doc_id, list_distinct(list_transform(
               range(1, GREATEST(length(text) - 2, 0) + 1),
               i -> substr(text, i, 3))) AS grams
      FROM documents WHERE doc_id < 100
    ),
    inv AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT id_a, id_b
      FROM inter
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (len(sa.grams) + len(sb.grams) - i) >= 0.6
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
    verts AS (SELECT DISTINCT src AS id FROM sym),
    reach AS (
      SELECT id, id AS lbl FROM verts
      UNION
      SELECT s.dst AS id, r.lbl AS lbl
      FROM reach r JOIN sym s ON s.src = r.id
    ),
    clusters AS (SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id)
"""


def _pair_frame(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d, D.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.6, max_df=1000
    )


@register(
    "q76_dedup_clusters",
    f"""
    WITH RECURSIVE
    {_PAIR_CLOSURE_CTES}
    SELECT id, cluster FROM clusters
    """,
)
def q76_dedup_clusters(spark, sf_dir):
    """Transitive closure of n-gram-Jaccard near-dup pairs: (doc id,
    cluster = min id in its connected component).  Spark side runs
    min-label Pregel over the pair graph; the oracle runs the identical
    closure as a DuckDB recursive CTE."""
    _, pairs = _pair_frame(spark, sf_dir)
    return D.dedup_clusters(pairs)


@register(
    "q77_canonical_docs",
    f"""
    WITH RECURSIVE
    {_PAIR_CLOSURE_CTES},
    scored AS (
      SELECT d.doc_id, length(d.text) AS n_chars, c.cluster,
             ROW_NUMBER() OVER (PARTITION BY c.cluster
                                ORDER BY length(d.text) DESC, d.doc_id)
               AS rn
      FROM documents d JOIN clusters c ON c.id = d.doc_id
      WHERE d.doc_id < 100
    )
    SELECT doc_id, n_chars FROM scored WHERE rn = 1
    UNION ALL
    SELECT doc_id, length(text) AS n_chars FROM documents
    WHERE doc_id < 100
      AND doc_id NOT IN (SELECT id FROM clusters)
    """,
)
def q77_canonical_docs(spark, sf_dir):
    """Cluster-level dedup keeping the BEST copy: per near-dup cluster
    the longest member (ties → smallest id) survives; unique docs pass
    through.  This is the full corpus-dedup pipeline a training-data
    run would execute."""
    docs, pairs = _pair_frame(spark, sf_dir)
    clusters = D.dedup_clusters(pairs)
    slim = docs.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    return D.canonical_docs(slim, "doc_id", clusters, prefer="n_chars")


# ---------------------------------------------------------------------
# Deterministic sampling — reproducible corpus subsampling, train/eval
# splits and data-mixture control.  md5 variant is value-checked: the
# oracle replicates the 60-bit hash bit-for-bit, so set MEMBERSHIP (not
# just the rate) must match.
# ---------------------------------------------------------------------
_MD5_BUCKET = (
    "('0x' || substr(md5(CAST({col} AS VARCHAR) || ':{seed}'), 1, 15))"
    "::BIGINT % 1000000"
)


@register(
    "q78_hash_sample",
    f"""
    SELECT doc_id FROM documents
    WHERE {_MD5_BUCKET.format(col='doc_id', seed=0)} < 100000
    """,
)
def q78_hash_sample(spark, sf_dir):
    """10% deterministic Bernoulli sample of the corpus: pure filter
    (no shuffle, no RNG state), same members on any engine / partition
    layout — unlike df.sample()."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return SMP.hash_sample(d, "doc_id", 0.10, seed=0, hash_fn="md5")


@register(
    "q79_stratified_sample",
    f"""
    SELECT event_id, event_type FROM events
    WHERE {_MD5_BUCKET.format(col='event_id', seed=7)}
          < CASE event_type WHEN 'click' THEN 500000
                            WHEN 'error' THEN 50000
                            ELSE 200000 END
    """,
)
def q79_stratified_sample(spark, sf_dir):
    """Data-mixture control: per-stratum deterministic keep rates
    (upsample clicks to 50%, downsample errors to 5%, default 20%) as a
    single CASE-rate filter compiled into the scan."""
    e = _t(spark, sf_dir, "events").select("event_id", "event_type")
    return SMP.stratified_hash_sample(
        e,
        "event_id",
        "event_type",
        {"click": 0.5, "error": 0.05},
        default_fraction=0.2,
        seed=7,
        hash_fn="md5",
    )


@register(
    "q80_hash_split",
    f"""
    WITH b AS (
      SELECT doc_id,
             {_MD5_BUCKET.format(col='doc_id', seed=1)} AS bk
      FROM documents
    )
    SELECT 'test' AS split, CAST(COUNT(*) AS BIGINT) AS n
    FROM b WHERE bk >= 900000
    UNION ALL
    SELECT 'train', CAST(COUNT(*) AS BIGINT) FROM b WHERE bk < 800000
    UNION ALL
    SELECT 'val', CAST(COUNT(*) AS BIGINT)
    FROM b WHERE bk >= 800000 AND bk < 900000
    """,
)
def q80_hash_split(spark, sf_dir):
    """80/10/10 train/val/test split from ONE hash: contiguous bucket
    ranges, so the three frames partition the corpus exactly and an id
    keeps its split forever as new data lands."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    train, val, test = SMP.hash_split(
        d, "doc_id", [0.8, 0.1, 0.1], seed=1, hash_fn="md5"
    )
    parts = [("train", train), ("val", val), ("test", test)]
    out = None
    for name, frame in parts:
        c = frame.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit(name).alias("split"), "n"
        )
        out = c if out is None else out.unionByName(c)
    return out


@register(
    "q81_heavy_hitters",
    r"""
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT UNNEST(list_filter(
            string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
          FROM documents)
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 20
    """,
)
def q81_heavy_hitters(spark, sf_dir):
    """Exact corpus-wide top-20 terms (count desc, term tiebreak) —
    boilerplate detection / vocabulary profiling.  explode + partial
    agg; top-k via TakeOrdered, never a global sort."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.words("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(20)
    )


# ---------------------------------------------------------------------
# Sketch extensions: mergeable quantiles (KLL) + distinct-count set
# algebra (theta).  KLL estimates are rank-bounded but the compaction
# is randomized → rows-only driver check, accuracy pytest.  Theta is
# EXACT below its nominal capacity, so q83 gets a full value oracle.
# ---------------------------------------------------------------------
@register("q82_kll_quantile_rollup", None)  # randomized compaction: no oracle
def q82_kll_quantile_rollup(spark, sf_dir):
    """Mergeable-percentile pattern: KLL sketch per (event_type, day)
    fine grain, rolled up to event_type by sketch MERGE — any later
    quantile question over any date range without re-scanning the base
    table.  Rank error is bounded by k regardless of merge depth."""
    e = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    sk = SK.kll_sketch_table(e, ["event_type", "day"], "value")
    return SK.kll_quantile_rollup(sk, ["event_type"], [0.5, 0.95]).orderBy(
        "event_type"
    )


@register(
    "q83_theta_segment_overlap",
    """
    WITH a AS (SELECT DISTINCT user_id % 3000 AS user_id FROM events
               WHERE event_type = 'click' AND value > 90),
         b AS (SELECT DISTINCT user_id % 3000 AS user_id FROM events
               WHERE event_type = 'purchase' AND value > 90)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b,
           (SELECT CAST(COUNT(*) AS BIGINT)
              FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union,
           (SELECT CAST(COUNT(*) AS BIGINT)
              FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
             AS n_intersect,
           (SELECT CAST(COUNT(*) AS BIGINT)
              FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_a_only
    """,
)
def q83_theta_segment_overlap(spark, sf_dir):
    """Segment distinct-count algebra from theta sketches: high-value
    click user cohorts vs purchase cohorts — |A|, |B|, |A∪B|, |A∩B|,
    |A\\B| with NO self-join of the fact table.  The sketched key is
    the user COHORT (id mod 3000) so the distinct count stays below
    2^lgk=4096 at EVERY fixture scale — the sketch's exact regime,
    which is what the oracle's exact set counts compare against (raw
    user_id left the regime at sf1: 13,350 distinct → 0.3%-error
    estimates, correct sketch behavior but not value-checkable).  At
    production scale the same plan returns bounded-error estimates;
    q74/q82 carry the bounded-error pytest contracts."""
    e = _t(spark, sf_dir, "events").filter(F.col("value") > 90)
    e = e.withColumn("user_cohort", F.col("user_id") % 3000)
    sk = SK.theta_sketch_table(e, ["event_type"], "user_cohort", lgk=12)
    return SK.theta_overlap(sk, "event_type", "click", "purchase")


def _kcore_oracle_sql(k: int = 15, mod: int = 5000, rounds: int = 8) -> str:
    """Unrolled synchronous peel (same pattern as the PageRank oracle):
    each round keeps vertices with degree >= k and re-filters the edge
    set.  The k-core is the unique maximal subgraph with min degree >= k,
    so once the fixture converges (3 rounds at sf0.01) the remaining
    unrolled rounds are no-ops and the fixed-depth SQL equals Spark's
    run-to-fixpoint result."""
    pre = f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT LEAST(l_orderkey % {mod}, l_partkey % {mod}) AS a,
                      GREATEST(l_orderkey % {mod}, l_partkey % {mod}) AS b
      FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod}
    ),
    s0 AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM und
      UNION ALL SELECT b AS src, a AS dst FROM und)"""
    its = []
    for i in range(1, rounds + 1):
        p = f"s{i - 1}"
        its.append(f"""
    k{i} AS MATERIALIZED (
      SELECT src FROM {p} GROUP BY src HAVING COUNT(*) >= {k}),
    s{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {p} e
      JOIN k{i} x ON x.src = e.src
      JOIN k{i} y ON y.src = e.dst)""")
    return (
        pre + "," + ",".join(its)
        + f"""
    SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM s{rounds} GROUP BY src"""
    )


@register("q84_kcore", _kcore_oracle_sql())
def q84_kcore(spark, sf_dir):
    """k-core of the lineitem-derived graph (k=15): iterative
    synchronous peel; oracle is the unrolled-CTE form of the same peel."""
    li = _t(spark, sf_dir, "lineitem")
    e = (
        li.select(
            (F.col("l_orderkey") % 5000).alias("s"),
            (F.col("l_partkey") % 5000).alias("t"),
        )
        .filter(F.col("s") != F.col("t"))
        .select(F.least("s", "t").alias("src"), F.greatest("s", "t").alias("dst"))
        .distinct()
    )
    g = PropertyGraph.from_edges(e)
    return alg.k_core(g, k=15, assume_simple=True)


# ---------------------------------------------------------------------
# Text cleaning stage: normalization, PII scrubbing, boilerplate
# removal, repetition scoring.  The fixture text is already clean ASCII
# word-soup, so q85 injects deterministic noise (case, tabs, an email,
# an IP, a long digit run) IN THE QUERY on both engines — the
# transformations are exercised for real, not vacuously.
# ---------------------------------------------------------------------
@register(
    "q85_normalize_scrub",
    r"""
    WITH noisy AS (
      SELECT doc_id,
             '  THE Quick' || chr(9) || text ||
             '  reach me: bob.smith+x@example.co.uk or 10.0.42.7 ref 123456789012  '
               AS t
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(t),
                '[\x00-\x1f\x7f]', ' ', 'g'), '\s{2,}', ' ', 'g'))
             AS norm_text,
           regexp_replace(regexp_replace(regexp_replace(t,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                '\b\d{10,18}\b', '<NUM>', 'g')
             AS scrubbed
    FROM noisy
    """,
)
def q85_normalize_scrub(spark, sf_dir):
    """Text normalization + PII scrubbing as pure expressions; noise is
    injected deterministically so case folding, control-char removal,
    whitespace collapse and all three redaction patterns fire."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    noisy = F.concat(
        F.lit("  THE Quick\t"),
        F.col("text"),
        F.lit("  reach me: bob.smith+x@example.co.uk or 10.0.42.7 ref 123456789012  "),
    )
    return d.select(
        "doc_id",
        T.normalize_text(noisy).alias("norm_text"),
        T.scrub_pii(noisy).alias("scrubbed"),
    )


@register(
    "q87_boilerplate_segments",
    """
    WITH d AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
    ),
    arrs AS (SELECT doc_id, string_split_regex(text, ' the ') AS arr FROM d),
    segs AS (
      SELECT doc_id, i AS pos, trim(arr[i]) AS k, arr[i] AS seg
      FROM arrs, UNNEST(range(1, len(arr) + 1)) AS t(i)
      WHERE trim(arr[i]) <> ''
    ),
    hot AS (
      SELECT k FROM (
        SELECT k, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY k
      ) WHERE df >= 2
    ),
    kept AS (SELECT * FROM segs WHERE k NOT IN (SELECT k FROM hot))
    SELECT doc_id, string_agg(seg, ' the ' ORDER BY pos) AS text
    FROM kept GROUP BY doc_id
    """,
)
def q87_boilerplate_segments(spark, sf_dir):
    """Corpus-level boilerplate removal: segments appearing in >= 2
    distinct docs are dropped, survivors re-joined in order.  The
    fixture's synthetic text has no newlines, so segments are delimited
    by a frequent token — the plan (posexplode, doc-frequency agg,
    broadcast anti-join, ordered reassembly) is identical to the
    paragraph-delimiter production form."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return D.remove_boilerplate_segments(
        d, "doc_id", "text", delimiter=" the ", min_df=2, rejoin=" the "
    )


@register(
    "q88_repetition_ratio",
    """
    SELECT doc_id,
           ROUND(CASE WHEN len(g) > 0
                 THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                 ELSE 0.0 END, 6) AS rep_ratio
    FROM (SELECT doc_id,
                 list_transform(range(1, GREATEST(length(text) - 7, 0) + 1),
                                i -> substr(text, i, 8)) AS g
          FROM documents)
    """,
)
def q88_repetition_ratio(spark, sf_dir):
    """Gopher-style intra-doc repetition: 1 - distinct/total char
    8-grams, pure expression."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(T.repetition_ratio("text", 8), 6).alias("rep_ratio")
    )


# ---------------------------------------------------------------------
# Event analytics: gap-based sessionization (the batch analog of the
# streaming session window) and first-touch funnel.
# ---------------------------------------------------------------------
@register(
    "q89_sessionize",
    """
    WITH e AS (
      -- floor to whole seconds: Spark's cast(timestamp AS long)
      -- truncates, DuckDB's epoch() keeps fractional seconds
      SELECT user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      FROM events
    ),
    s AS (
      SELECT user_id, ts, tsec,
             CASE WHEN lag(tsec) OVER w IS NULL
                       OR tsec - lag(tsec) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, tsec,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM s
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(tsec) - MIN(tsec) AS span_s
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def q89_sessionize(spark, sf_dir):
    """Sessionize the event stream with a 30-minute inactivity gap and
    summarize each session (event count, span).  Two window passes over
    ONE per-user shuffle, then a hash agg."""
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    s = R.sessionize(e, "user_id", "ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long")))
        .alias("span_s"),
    )


@register(
    "q90_funnel",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted FROM (
      SELECT user_id
      FROM events
      GROUP BY user_id
      HAVING MIN(CASE WHEN event_type = 'view' THEN ts END)
               < MIN(CASE WHEN event_type = 'click' THEN ts END)
         AND MIN(CASE WHEN event_type = 'click' THEN ts END)
               < MIN(CASE WHEN event_type = 'purchase' THEN ts END)
    )
    """,
)
def q90_funnel(spark, sf_dir):
    """First-touch funnel: users whose first view precedes their first
    click, which precedes their first purchase — one hash agg with
    conditional MINs, no self-joins."""
    e = _t(spark, sf_dir, "events")
    m = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))  # noqa: E731
    per_user = e.groupBy("user_id").agg(
        m("view").alias("v"), m("click").alias("c"), m("purchase").alias("p")
    )
    return per_user.filter(
        (F.col("v") < F.col("c")) & (F.col("c") < F.col("p"))
    ).agg(F.count(F.lit(1)).alias("n_converted"))


@register(
    "q91_python_udtf",
    r"""
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, arr[i] AS term
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '') AS arr
          FROM documents WHERE doc_id < 20),
         UNNEST(range(1, len(arr) + 1)) AS t(i)
    """,
)
def q91_python_udtf(spark, sf_dir):
    """Genuine PySpark-4 table-function API (@udtf class + SQL LATERAL
    correlation) — complements q28's Arrow-batched mapInPandas form.
    Row-at-a-time Python: API-parity query on a small slice, NOT the
    bulk-tokenization path (that's functions.text.words)."""
    from graphmapreduce_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).select(
        "doc_id", "text"
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.term
        FROM _udtf_docs d, LATERAL tokenize_udtf(d.text) t
        """
    )


# ---------------------------------------------------------------------
# Pretraining layout + IR scoring
# ---------------------------------------------------------------------
@register(
    "q92_sequence_packing",
    r"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             -- CAST: DuckDB SUM(BIGINT) is HUGEINT; Spark emits BIGINT
             -- and the driver hash is type-sensitive
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS "offset"
      FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST("offset" // 2048 AS BIGINT) AS bin,
           "offset" FROM cum
    """,
)
def q92_sequence_packing(spark, sf_dir):
    """Pretraining sequence packing: docs virtually concatenated in
    doc_id order and cut into 2048-token context windows — each doc gets
    (bin, offset).  The oracle is the naive global running sum; the
    Spark plan computes the identical layout with the scalable two-level
    cumsum (parallel per-range windows + broadcast prefix offsets)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", T.token_count("text").cast("long").alias("n_tokens")
    )
    return PK.packed_layout(
        d, "doc_id", "n_tokens", capacity=2048, range_size=100
    )


@register(
    "q93_bm25",
    r"""
    WITH params AS (SELECT 1.2 AS k1, 0.75 AS b),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, AVG(len(ws)) AS avg_len FROM toks
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*)::DOUBLE AS tf, ANY_VALUE(dl) AS dl
      FROM (SELECT doc_id, UNNEST(ws) AS term, len(ws)::DOUBLE AS dl
            FROM toks)
      WHERE term IN ('spark', 'fast', 'window')
      GROUP BY doc_id, term
    ),
    idf AS (
      SELECT term,
             ln(((SELECT n_docs FROM stats) - COUNT(*) + 0.5)
                / (COUNT(*) + 0.5) + 1.0) AS idf
      FROM tf GROUP BY term
    )
    SELECT tf.doc_id,
           ROUND(SUM(idf.idf * tf.tf * (k1 + 1)
                     / (tf.tf + k1 * (1 - b + b * tf.dl
                                      / (SELECT avg_len FROM stats)))),
                 6) AS bm25
    FROM tf JOIN idf USING (term), params
    GROUP BY tf.doc_id
    """,
)
def q93_bm25(spark, sf_dir):
    """BM25 relevance of every document to the query terms
    {spark, fast, window}: tf via explode+filter, df/idf per term
    (broadcast — the query vocabulary is tiny), avg doc length as a
    1-row broadcast.  One corpus scan, no UDF; the Lucene-style idf
    ln((N-df+.5)/(df+.5)+1) keeps scores positive."""
    k1, b = 1.2, 0.75
    terms = ["spark", "fast", "window"]
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", T.words("text").alias("ws")
    )
    toks = d.select(
        "doc_id", F.size("ws").cast("double").alias("dl"), "ws"
    )
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avg_len")
    )
    tf = (
        toks.select(
            "doc_id", "dl", F.explode("ws").alias("term")
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"),
             F.first("dl").alias("dl"))
    )
    idf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avg_len"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("bm25")
    )


@register(
    "q94_merge_upsert",
    """
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 1000
    ),
    updates AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.1, 2) AS o_totalprice
      FROM orders WHERE o_orderkey < 100
      UNION ALL
      SELECT o_orderkey + 1000000, ROUND(o_totalprice, 2)
      FROM orders WHERE o_orderkey < 50
    )
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice FROM updates
    UNION ALL
    SELECT b.o_orderkey, ROUND(b.o_totalprice, 2)
    FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM updates u
                      WHERE u.o_orderkey = b.o_orderkey)
    """,
)
def q94_merge_upsert(spark, sf_dir):
    """SCD-type-1 MERGE as a relational rewrite: a CDC batch (repriced
    existing keys + brand-new keys) replaces/inserts into the base —
    one anti-join (update keys broadcast) + one union."""
    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") < 1000).select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    updates = (
        o.filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") < 50).select(
                (F.col("o_orderkey") + 1000000).alias("o_orderkey"),
                F.round("o_totalprice", 2).alias("o_totalprice"),
            )
        )
    )
    return R.merge_upsert(base, updates, ["o_orderkey"])


@register(
    "q95_embedding_centroids",
    """
    SELECT label, CAST(i - 1 AS INTEGER) AS pos,
           ROUND(AVG(embedding[i]), 6) AS c
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    GROUP BY label, i
    """,
)
def q95_embedding_centroids(spark, sf_dir):
    """Per-label embedding centroid, emitted exploded as (label, pos,
    component): posexplode + hash agg — the vector-aggregation shape
    k-means and IVF coarse quantizers build on.  Rounded per component
    so float summation order can't flip the hash compare."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )


@register(
    "q86_decontaminate",
    r"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 4 THEN list_distinct(list_transform(
                    range(1, len(w) - 4 + 2),
                    i -> array_to_string(w[i:i+3], ' ')))
                  ELSE [] END AS grams
      FROM ws
    ),
    ev AS (SELECT DISTINCT UNNEST(grams) AS gram FROM g
           WHERE doc_id % 17 = 0),
    tr AS (SELECT doc_id, UNNEST(grams) AS gram FROM g
           WHERE doc_id % 17 <> 0)
    SELECT tr.doc_id, COUNT(*) AS matched_ngrams
    FROM tr JOIN ev USING (gram)
    GROUP BY tr.doc_id
    """,
)
def q86_decontaminate(spark, sf_dir):
    """Test-set decontamination signal: training docs sharing >= 1
    distinct word 4-gram with the eval slice (doc_id % 17 == 0), with
    the count of contaminated grams.  The eval n-gram set collapses to
    a broadcast distinct list, so the train side is one scan + broadcast
    semi-join — the shape that survives a 100 TB corpus."""
    d = _t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 17 == 0)
    tr = d.filter(F.col("doc_id") % 17 != 0)
    return D.contamination_report(tr, ev, "doc_id", "text", n=4)


@register(
    "q96_tfidf",
    r"""
    WITH ws AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'),
                                 x -> x <> '') AS w
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, UNNEST(w) AS term FROM ws)
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM ws),
    scored AS (
      SELECT doc_id, term,
             ROUND(tf * ln((SELECT n_docs FROM n)::DOUBLE / df), 6)
               AS tfidf
      FROM tf JOIN df USING (term)
      WHERE doc_id < 30
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
    """,
)
def q96_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by tf-idf (idf =
    ln(N/df), df over the WHOLE corpus, top-k only over the doc_id < 30
    slice).  One corpus scan -> (doc,term) hash agg -> term df agg
    (broadcast: vocabulary << corpus) -> per-doc window top-k.  Ranking
    uses the ROUNDED score + term tie-break so both engines agree."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(T.words("text")).alias("term")
    )
    tf = d.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("doc_id").distinct().count()
    scored = (
        tf.filter(F.col("doc_id") < 30)
        .join(F.broadcast(df_t), "term")
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "q97_chunk_documents",
    """
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
           substr(text, i * 80 + 1, 120) AS chunk,
           length(substr(text, i * 80 + 1, 120)) AS chunk_len
    FROM documents,
         UNNEST(range(0, (length(text) - 1) // 80 + 1)) AS t(i)
    WHERE doc_id < 50 AND length(text) > 0
    """,
)
def q97_chunk_documents(spark, sf_dir):
    """RAG-style document chunking: 120-char windows every 80 chars
    (40-char overlap), emitted as (doc_id, chunk_id, chunk, chunk_len).
    Pure expression + posexplode — a narrow map stage at any scale."""
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 50) & (F.length("text") > 0)
    )
    return d.select(
        "doc_id",
        F.posexplode(T.chunk_text("text", size=120, stride=80)).alias(
            "chunk_id", "chunk"
        ),
    ).select(
        "doc_id",
        "chunk_id",
        "chunk",
        F.length("chunk").cast("long").alias("chunk_len"),
    )


def _ppr_oracle_sql(
    n_iter: int = 12,
    d: float = 0.85,
    k: int = 500,
    seeds: tuple[int, ...] = (0, 7, 42),
) -> str:
    """Personalized PageRank unrolled: same power iteration as
    _pagerank_oracle_sql but the teleport vector is uniform over the
    seed set and dangling mass restarts to the seeds."""
    seed_list = ", ".join(str(s) for s in seeds)
    e_v = f"(CASE WHEN v.id IN ({seed_list}) THEN 1.0/{len(seeds)} ELSE 0.0 END)"
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {k} AS src, l_partkey % {k} AS dst
      FROM lineitem WHERE l_orderkey % {k} <> l_partkey % {k}
    ),
    v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
    deg AS MATERIALIZED (
      SELECT src AS id, COUNT(*)::DOUBLE AS d FROM e GROUP BY src),
    r0 AS MATERIALIZED (
      SELECT v.id, {e_v} AS rank FROM v)
    """
    its = []
    for i in range(1, n_iter + 1):
        p = f"r{i - 1}"
        its.append(f"""
    r{i} AS MATERIALIZED (
      SELECT v.id,
             ((1-{d}) + {d} * (SELECT COALESCE(SUM(r.rank),0) FROM {p} r
                               LEFT JOIN deg dg ON dg.id = r.id
                               WHERE dg.id IS NULL)) * {e_v}
             + {d} * COALESCE(s.in_sum, 0) AS rank
      FROM v
      LEFT JOIN (SELECT e.dst AS id, SUM(r.rank / dg.d) AS in_sum
                 FROM e JOIN {p} r ON r.id = e.src
                        JOIN deg dg ON dg.id = e.src
                 GROUP BY e.dst) s ON s.id = v.id
    )""")
    return (
        pre + "," + ",".join(its)
        + f"\n    SELECT id, ROUND(rank, 6) AS rank FROM r{n_iter}"
        + "\n    WHERE ROUND(rank, 6) > 0"
    )


@register("q98_personalized_pagerank", _ppr_oracle_sql())
def q98_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from seeds {0,7,42}: seed-expansion
    retrieval over the Z_500 lineitem graph.  Oracle: the same 12
    restart-walk iterations unrolled as SQL CTEs.  Zero-rank vertices
    (unreachable from the seeds) are filtered on both sides."""
    g = _mod_graph(spark, sf_dir, 500)
    pr = alg.personalized_pagerank(
        g, sources=[0, 7, 42], damping=0.85, max_iter=12,
        threshold=1e-12, check_interval=4,
    )
    return pr.select("id", F.round("rank", 6).alias("rank")).filter(
        F.col("rank") > 0
    )


def _label_propagation_oracle_sql(n_iter: int = 3, k: int = 2000) -> str:
    """Synchronous LPA unrolled: per round a (dst,label) count and a
    (count desc, label asc) argmax — deterministic, so exact."""
    pre = f"""
    WITH de AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {k} AS src, l_partkey % {k} AS dst
      FROM lineitem WHERE l_orderkey % {k} <> l_partkey % {k}
    ),
    e AS MATERIALIZED (SELECT src, dst FROM de UNION SELECT dst, src FROM de),
    v AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
    l0 AS MATERIALIZED (SELECT id, id AS lab FROM v)
    """
    its = []
    for i in range(1, n_iter + 1):
        p = f"l{i - 1}"
        its.append(f"""
    c{i} AS MATERIALIZED (
      SELECT e.dst AS id, p.lab, COUNT(*) AS c
      FROM e JOIN {p} p ON p.id = e.src GROUP BY e.dst, p.lab
    ),
    b{i} AS MATERIALIZED (
      SELECT id, lab FROM (
        SELECT id, lab,
               ROW_NUMBER() OVER (PARTITION BY id
                                  ORDER BY c DESC, lab ASC) AS rn
        FROM c{i}) WHERE rn = 1
    ),
    l{i} AS MATERIALIZED (
      SELECT p.id, COALESCE(b.lab, p.lab) AS lab
      FROM {p} p LEFT JOIN b{i} b ON b.id = p.id
    )""")
    return (
        pre + "," + ",".join(its)
        + f"\n    SELECT lab AS community, COUNT(*) AS n_members"
        + f" FROM l{n_iter} GROUP BY lab"
    )


@register("q99_label_propagation", _label_propagation_oracle_sql())
def q99_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation (3 rounds,
    deterministic most-frequent-neighbor-label / smallest-label
    tie-break) on the undirected Z_2000 lineitem graph — sparse enough
    (avg degree ~30 at sf0.01) that multiple communities survive."""
    g = _mod_graph(spark, sf_dir, 2000)
    lp = alg.label_propagation(g, max_iter=3, symmetrize=True)
    return lp.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


@register(
    "q100_line_dedup",
    """
    WITH d AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id < 300
    ),
    arrs AS (SELECT doc_id, string_split_regex(text, ' the ') AS arr FROM d),
    segs AS (
      SELECT doc_id, i AS pos, trim(arr[i]) AS k, arr[i] AS line
      FROM arrs, UNNEST(range(1, len(arr) + 1)) AS t(i)
      WHERE trim(arr[i]) <> ''
    ),
    kept AS (
      SELECT doc_id, pos, line FROM (
        SELECT doc_id, pos, line,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY doc_id, pos) AS rn
        FROM segs) WHERE rn = 1
    )
    SELECT doc_id, string_agg(line, ' the ' ORDER BY pos) AS text
    FROM kept GROUP BY doc_id
    """,
)
def q100_line_dedup(spark, sf_dir):
    """Corpus-level exact line dedup (CCNet-style keep-first): every
    distinct trimmed segment keeps only its first (doc id, position)
    occurrence; later copies anywhere in the corpus are dropped.  Same
    ' the ' delimiter trick as q87 (the fixture text has no newlines);
    the plan — posexplode, winner-per-line agg on an md5 key, join-back,
    ordered reassembly — is the production newline form."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return D.dedup_lines(
        d, "doc_id", "text", delimiter=" the ", rejoin=" the ", min_len=1
    )


@register(
    "q101_stats_suite",
    """
    WITH m AS (SELECT l_returnflag, avg(l_quantity) AS mu
               FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
           ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           ROUND(covar_pop(l_quantity, l_extendedprice), 2)  AS covarp_qty_price,
           ROUND(stddev_samp(l_discount), 6)                 AS sd_disc,
           ROUND(var_samp(l_discount), 6)                    AS var_disc,
           ROUND(avg((l_quantity - mu) ^ 3)
                 / avg((l_quantity - mu) ^ 2) ^ 1.5, 6)      AS skew_qty,
           ROUND(avg((l_quantity - mu) ^ 4)
                 / avg((l_quantity - mu) ^ 2) ^ 2 - 3, 6)    AS kurt_qty,
           ROUND(median(l_quantity), 6)                      AS med_qty
    FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def q101_stats_suite(spark, sf_dir):
    """Statistical aggregate suite — corr/covar/stddev/var/skewness/
    kurtosis/median per group, all single-pass hash aggregates (Spark
    computes the moments map-side-combinably; median is the sort-based
    exact form).  Oracle note: DuckDB's skewness/kurtosis are
    bias-corrected SAMPLE statistics while Spark's are population
    moments, so the oracle derives them from raw central moments
    (m3/m2^1.5, m4/m2^2-3) — verified to reproduce Spark bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "covar_qty_price"
        ),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias(
            "covarp_qty_price"
        ),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.skewness("l_quantity"), 6).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt_qty"),
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
    )


@register(
    "q102_scd2",
    """
    WITH cur AS (
      SELECT c_custkey, c_mktsegment AS segment,
             TIMESTAMP '1992-01-01' AS ts, 0 AS src
      FROM customer WHERE c_custkey <= 300
    ),
    upd AS (
      SELECT o_custkey AS c_custkey, min(o_orderpriority) AS segment,
             o_orderdate AS ts, 1 AS src
      FROM orders WHERE o_custkey <= 300
      GROUP BY o_custkey, o_orderdate
    ),
    tl AS (SELECT * FROM cur UNION ALL SELECT * FROM upd),
    lagged AS (
      SELECT *, lag(segment) OVER (PARTITION BY c_custkey
                                   ORDER BY ts, src) AS prev
      FROM tl
    ),
    kept AS (
      SELECT * FROM lagged
      WHERE src = 0 OR (prev IS DISTINCT FROM segment)
    )
    SELECT c_custkey, segment, ts AS valid_from,
           lead(ts) OVER (PARTITION BY c_custkey
                          ORDER BY ts, src) AS valid_to
    FROM kept
    """,
)
def q102_scd2(spark, sf_dir):
    """SCD-type-2 dimension versioning: replay each customer's order
    priorities as segment-change CDC events against a day-one snapshot;
    `scd2_apply` chains mid-batch versions, collapses no-op updates, and
    emits half-open [valid_from, valid_to) spans in one keyed shuffle.
    The history-keeping complement of q94's type-1 MERGE."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    cur = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1992-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    upd = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 300)
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.min("o_orderpriority").alias("segment"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "segment",
            F.col("o_orderdate").alias("ts"),
        )
    )
    return R.scd2_apply(cur, upd, ["c_custkey"], ["segment"], "ts")


@register(
    "q103_resample_gapfill",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
      FROM events WHERE user_id < 50
    ),
    b AS (SELECT user_id, (es // 86400) * 86400 AS bucket_start, es, value
          FROM e),
    pb AS (
      SELECT user_id, bucket_start, value FROM (
        SELECT user_id, bucket_start, value,
               row_number() OVER (PARTITION BY user_id, bucket_start
                                  ORDER BY es DESC, value DESC) AS rn
        FROM b) WHERE rn = 1
    ),
    bounds AS (SELECT user_id, min(bucket_start) AS lo,
                      max(bucket_start) AS hi
               FROM b GROUP BY user_id),
    grid AS (SELECT user_id, g AS bucket_start
             FROM bounds, UNNEST(range(lo, hi + 1, 86400)) AS t(g)),
    j AS (SELECT g.user_id, g.bucket_start, pb.value
          FROM grid g LEFT JOIN pb
            ON g.user_id = pb.user_id AND g.bucket_start = pb.bucket_start)
    SELECT user_id, bucket_start,
           ROUND(last_value(value IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY bucket_start
                       ROWS UNBOUNDED PRECEDING), 6) AS value
    FROM j
    """,
)
def q103_resample_gapfill(spark, sf_dir):
    """Time-series regularization: resample each user's irregular event
    stream onto a daily grid (last value at bucket close) and forward-
    fill the gaps — `resample_ffill`, one keyed shuffle for bucket agg +
    grid join + fill window, grid generated in-plan via sequence()."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = TS.resample_ffill(e, "user_id", "ts", "value", 86400, fill="ffill")
    return out.withColumn("value", F.round("value", 6))


@register(
    "q104_char_entropy",
    """
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE doc_id < 500 AND length(text) > 0),
    chars AS (
      SELECT doc_id, c
      FROM d, UNNEST(string_split(text, '')) AS t(c)
    ),
    cnt AS (SELECT doc_id, c, count(*) AS n FROM chars GROUP BY doc_id, c),
    tot AS (SELECT doc_id, sum(n) AS tot FROM cnt GROUP BY doc_id)
    SELECT cnt.doc_id,
           ROUND(-sum((n / tot) * log2(n / tot)), 6) AS entropy_bits
    FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id
    GROUP BY cnt.doc_id
    """,
)
def q104_char_entropy(spark, sf_dir):
    """Character-distribution entropy as a corpus quality signal
    (degenerate filler -> 0 bits, prose ~4, noise -> log2 alphabet).
    The Spark side is a pure higher-order-function expression — NO
    shuffle at all — while the oracle uses the equivalent
    explode+group formulation."""
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 500) & (F.length("text") > 0)
    )
    return d.select(
        "doc_id", F.round(T.char_entropy("text"), 6).alias("entropy_bits")
    )


def _ktruss_oracle_sql(need: int = 2, mod: int = 2000, rounds: int = 12) -> str:
    """Unrolled synchronous truss peel (k-core-oracle pattern,
    `_kcore_oracle_sql`): per round enumerate canonical a<b<c triangles,
    credit each one to its three edges, keep edges with support >= k-2.
    The k-truss is the unique maximal such subgraph, so once the fixture
    converges (10 rounds at sf0.01) extra unrolled rounds are no-ops.
    Edges in no triangle never enter the support table and drop
    implicitly — support 0 < need."""
    pre = f"""
    WITH s0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(l_orderkey % {mod}, l_partkey % {mod}) AS a,
                      GREATEST(l_orderkey % {mod}, l_partkey % {mod}) AS b
      FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod})"""
    its = []
    for i in range(1, rounds + 1):
        p = f"s{i - 1}"
        its.append(f"""
    t{i} AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
             FROM {p} e1
             JOIN {p} e2 ON e1.b = e2.a
             JOIN {p} e3 ON e3.a = e1.a AND e3.b = e2.b),
    p{i} AS MATERIALIZED (
      SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
        SELECT a, b FROM t{i}
        UNION ALL SELECT b AS a, c AS b FROM t{i}
        UNION ALL SELECT a, c AS b FROM t{i}) GROUP BY a, b),
    s{i} AS MATERIALIZED (
      SELECT a, b FROM p{i} WHERE support >= {need})""")
    return (
        pre + "," + ",".join(its)
        + f"""
    SELECT a, b, support FROM p{rounds} WHERE support >= {need}"""
    )


@register("q105_ktruss", _ktruss_oracle_sql())
def q105_ktruss(spark, sf_dir):
    """4-truss of the lineitem-derived graph: every surviving edge
    closes >= 2 triangles inside the truss (10 synchronous peel rounds
    to fixpoint at sf0.01); oracle is the unrolled-CTE form of the same
    peel."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        (F.col("l_orderkey") % 2000).alias("src"),
        (F.col("l_partkey") % 2000).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    g = PropertyGraph.from_edges(e)
    return alg.k_truss(g, k=4)


@register(
    "q106_fuzzy_join",
    """
    WITH c AS (SELECT c_custkey AS id, c_name AS t
               FROM customer WHERE c_custkey < 400)
    SELECT a.id AS id_a, b.id AS id_b,
           levenshtein(a.t, b.t) AS dist
    FROM c a JOIN c b ON a.id < b.id
    WHERE levenshtein(a.t, b.t) <= 2
    """,
)
def q106_fuzzy_join(spark, sf_dir):
    """Edit-distance self-join on customer names (dist <= 2): q-gram
    multiset count filtering prunes candidates before the levenshtein
    verify; the oracle is the O(n^2) brute force the blocking avoids.
    Completeness precondition (len >= q*(d+1) = 9) holds — names are
    18 chars."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    out = S.fuzzy_self_join(c, "c_custkey", "c_name", max_dist=2, q=3)
    return out.withColumn("dist", F.col("dist").cast("long"))


@register(
    "q107_interval_join",
    """
    WITH iv AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT)                   AS s,
             CAST(floor(epoch(ts)) AS BIGINT)
               + CAST(floor(value * 60) AS BIGINT) + 1          AS e
      FROM events WHERE user_id < 200
    ),
    l AS (SELECT * FROM iv WHERE event_type = 'click'),
    r AS (SELECT * FROM iv WHERE event_type = 'view')
    SELECT l.user_id, l.event_id AS a_id, r.event_id AS b_id,
           least(l.e, r.e) - greatest(l.s, r.s) AS overlap_secs
    FROM l JOIN r ON l.user_id = r.user_id
                 AND l.s < r.e AND r.s < l.e
    """,
)
def q107_interval_join(spark, sf_dir):
    """Interval-overlap join: click spans x view spans per user (span =
    [ts, ts + value minutes)).  `interval_join` blocks on 1-hour
    buckets generated in-plan so the pairs meet with a HASH join plus
    an exact-overlap filter (emitted once, in the overlap-start
    bucket); the oracle is the inequality join Catalyst would plan as
    a nested loop."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    iv = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("s"),
        (
            F.col("ts").cast("long")
            + F.floor(F.col("value") * 60).cast("long")
            + 1
        ).alias("e"),
    )
    left = iv.filter(F.col("event_type") == "click").drop("event_type")
    right = iv.filter(F.col("event_type") == "view").drop("event_type")
    out = R.interval_join(
        left, right, ("s", "e"), ("s", "e"), on=["user_id"], bucket_width=3600
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("a_id"),
        F.col("event_id_r").alias("b_id"),
        (F.least("e", "e_r") - F.greatest("s", "s_r")).alias("overlap_secs"),
    )


@register(
    "q108_cms_freq",
    """
    WITH j(j) AS (SELECT unnest([0, 1, 2, 3])),
    cms AS (
      SELECT j AS d,
             ('0x' || substr(md5(p_brand || '#' || j), 1, 15))::BIGINT % 16
               AS w,
             CAST(count(*) AS BIGINT) AS cnt
      FROM part, j GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT p_brand FROM part),
    keyed AS (
      SELECT p_brand, j AS d,
             ('0x' || substr(md5(p_brand || '#' || j), 1, 15))::BIGINT % 16
               AS w
      FROM probes, j
    )
    SELECT k.p_brand, min(coalesce(cnt, 0)) AS est
    FROM keyed k LEFT JOIN cms ON k.d = cms.d AND k.w = cms.w
    GROUP BY k.p_brand
    """,
)
def q108_cms_freq(spark, sf_dir):
    """Count-min sketch as a DataFrame-native (d, w, cnt) table —
    width 16 x depth 4 is deliberately tight so bucket collisions
    OCCUR and the estimates show the CMS overcount, which the oracle
    reproduces hash-for-hash (portable md5 bucketing).  Build is one
    bounded-size agg; probing all 25 brands is a broadcast join."""
    part = _t(spark, sf_dir, "part")
    cms = SK.cms_table(part, "p_brand", width=16, depth=4)
    return SK.cms_lookup(cms, part, "p_brand", width=16, depth=4)


@register(
    "q109_bloom_filter",
    """
    WITH j(j) AS (SELECT unnest([0, 1, 2, 3])),
    member AS (SELECT CAST(s_suppkey AS VARCHAR) AS v
               FROM supplier WHERE s_nationkey < 5),
    bloom AS (
      SELECT DISTINCT
             ('0x' || substr(md5(v || '#' || j), 1, 15))::BIGINT % 64 AS bit
      FROM member, j
    ),
    probes AS (SELECT DISTINCT CAST(s_suppkey AS VARCHAR) AS v FROM supplier),
    keyed AS (
      SELECT v, ('0x' || substr(md5(v || '#' || j), 1, 15))::BIGINT % 64
               AS bit
      FROM probes, j
    )
    SELECT k.v, count(*) = sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END)
             AS maybe
    FROM keyed k LEFT JOIN bloom b ON k.bit = b.bit
    GROUP BY k.v
    """,
)
def q109_bloom_filter(spark, sf_dir):
    """Bloom filter as a table of set bit positions (64 bits x 4
    hashes over ~1/5 of suppliers — tight enough that false positives
    appear; the oracle reproduces them exactly).  The 100 TB use: build
    from the small join side, broadcast the <=64 rows, pre-filter the
    big side before the real shuffle."""
    sup = _t(spark, sf_dir, "supplier")
    member = sup.filter(F.col("s_nationkey") < 5).select(
        F.col("s_suppkey").cast("string").alias("v")
    )
    probes = sup.select(F.col("s_suppkey").cast("string").alias("v"))
    bloom = SK.bloom_table(member, "v", num_bits=64, num_hashes=4)
    return SK.bloom_maybe_contains(bloom, probes, "v", num_bits=64, num_hashes=4)


@register(
    "q110_stream_static_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def q110_stream_static_join(spark, sf_dir):
    """Stream-static enrichment join: the event stream joins the
    customer dimension (stateless — the static side is re-planned per
    micro-batch, broadcast when small) and feeds a streaming aggregate.
    One availableNow micro-batch over the fixture, so update mode emits
    exactly the converged totals; equals the batch join+agg oracle."""
    stream = _stream_events(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )
    return _run_stream_to_table(spark, agg, "streamstatic")


@register(
    "q111_quality_audit",
    """
    SELECT 'completeness:o_orderkey' AS "check",
           ROUND(avg(CASE WHEN o_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
             AS metric FROM orders
    UNION ALL
    SELECT 'completeness:prio',
           ROUND(avg(CASE WHEN nullif(o_orderpriority, '1-URGENT')
                          IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) FROM orders
    UNION ALL
    SELECT 'uniqueness:o_orderkey',
           ROUND(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'uniqueness:o_custkey',
           ROUND(CAST(count(DISTINCT o_custkey) AS DOUBLE) / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'integrity:orders_customer',
           ROUND(CAST((SELECT count(*) FROM orders
                       WHERE o_custkey IN (SELECT c_custkey FROM customer))
                      AS DOUBLE)
                 / (SELECT count(*) FROM orders), 6)
    UNION ALL
    SELECT 'integrity:lineitem_halfpart',
           ROUND(CAST((SELECT count(*) FROM lineitem
                       WHERE l_partkey IN (SELECT p_partkey FROM part
                                           WHERE p_partkey % 2 = 0))
                      AS DOUBLE)
                 / (SELECT count(*) FROM lineitem), 6)
    """,
)
def q111_quality_audit(spark, sf_dir):
    """Deequ-style data-quality gate: null-fraction, key-uniqueness and
    referential-integrity metrics as ONE (check, metric) report — each
    family is a single aggregate pass (no per-rule rescans); the prio
    column gets nulls injected via nullif and the part side is halved so
    both failure modes actually show fractions < 1."""
    from graphmapreduce_spark.operators import quality as Q

    o = _t(spark, sf_dir, "orders")
    o2 = o.withColumn("prio", F.expr("nullif(o_orderpriority, '1-URGENT')"))
    li = _t(spark, sf_dir, "lineitem")
    return Q.audit(
        [
            Q.completeness(o2, ["o_orderkey", "prio"]),
            Q.uniqueness(o, ["o_orderkey", "o_custkey"]),
            Q.referential_integrity(
                o,
                _t(spark, sf_dir, "customer"),
                "o_custkey",
                "c_custkey",
                "orders_customer",
            ),
            Q.referential_integrity(
                li,
                _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 2 == 0),
                "l_partkey",
                "p_partkey",
                "lineitem_halfpart",
            ),
        ]
    )


@register(
    "q112_histogram",
    """
    WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
               FROM orders)
    SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19)
                AS BIGINT)                                   AS bucket,
           ROUND(lo + least(floor((o_totalprice - lo) / ((hi - lo) / 20)), 19)
                      * ((hi - lo) / 20), 4)                 AS bucket_lo,
           CAST(count(*) AS BIGINT)                          AS n
    FROM orders, b
    GROUP BY 1, 2
    """,
)
def q112_histogram(spark, sf_dir):
    """Equal-width histogram (20 bins over the observed [min, max]):
    the bounds are a 1-row aggregate broadcast back over the scan —
    two passes total, both full-codegen, no driver round-trip for the
    bounds."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    w = (F.col("hi") - F.col("lo")) / 20
    bucket = F.least(F.floor((F.col("o_totalprice") - F.col("lo")) / w), F.lit(19))
    return (
        o.join(F.broadcast(bounds))
        .groupBy(
            bucket.cast("long").alias("bucket"),
            F.round(F.col("lo") + bucket * w, 4).alias("bucket_lo"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q113_cogroup_merge",
    """
    WITH o AS (SELECT o_custkey, count(*) AS n_orders,
                      sum(o_totalprice) AS total
               FROM orders GROUP BY o_custkey)
    SELECT coalesce(o.o_custkey, c.c_custkey) AS custkey,
           CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
           ROUND(coalesce(total, 0.0), 2) AS total_spend,
           c.c_acctbal AS acctbal
    FROM o FULL JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q113_cogroup_merge(spark, sf_dir):
    """Co-grouped map (the `groupBy().cogroup().applyInPandas` API):
    both sides shuffle once on the key, then each key's order rows and
    customer row meet in ONE Arrow-batched pandas call — the escape
    hatch for per-key merge logic joins can't express.  This instance
    is deliberately join-expressible so the full-outer join+agg oracle
    value-checks the plumbing (keys on either side, empty frames)."""
    import pandas as pd

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")

    def merge(key, left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "custkey": [int(key[0])],
                "n_orders": [len(left)],
                "total_spend": [float(left["o_totalprice"].sum())],
                "acctbal": [
                    float(right["c_acctbal"].iloc[0]) if len(right) else None
                ],
            }
        )

    out = (
        orders.groupBy("o_custkey")
        .cogroup(cust.groupBy("c_custkey"))
        .applyInPandas(
            merge,
            schema="custkey long, n_orders long, total_spend double, acctbal double",
        )
    )
    return out.withColumn("total_spend", F.round("total_spend", 2))


def _harmonic_oracle_sql(
    sources: tuple[int, ...] = (0, 1, 2), mod: int = 500, depth: int = 8
) -> str:
    """Per-source unrolled BFS (min-dist accumulation; extra rounds
    no-op once the frontier is exhausted — the mod-500 graph's directed
    diameter is ~4 at sf0.01), then the harmonic sum over sources."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {mod} AS src, l_partkey % {mod} AS dst
      FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod})"""
    blocks, finals = [], []
    for s in sources:
        blocks.append(f"""
    s{s}d0 AS (SELECT CAST({s} AS BIGINT) AS id, 0 AS dist)""")
        for i in range(1, depth + 1):
            p = f"s{s}d{i - 1}"
            blocks.append(f"""
    s{s}d{i} AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM {p}
        UNION ALL
        SELECT e.dst AS id, p.dist + 1 AS dist
        FROM e JOIN {p} p ON p.id = e.src
      ) GROUP BY id)""")
        finals.append(
            f"SELECT id, 1.0 / dist AS h FROM s{s}d{depth} WHERE dist > 0"
        )
    return (
        pre
        + ","
        + ",".join(blocks)
        + f"""
    SELECT id, ROUND(sum(h), 6) AS harmonic
    FROM ({" UNION ALL ".join(finals)}) GROUP BY id"""
    )


@register("q114_harmonic_centrality", _harmonic_oracle_sql())
def q114_harmonic_centrality(spark, sf_dir):
    """Sampled harmonic centrality from 3 fixed seed sources over the
    directed mod-500 graph — one frontier-filtered BFS fixpoint per
    source over the shared cached edge table; oracle is the per-source
    unrolled min-dist BFS summed the same way."""
    g = _mod_graph(spark, sf_dir)
    out = alg.harmonic_centrality(g, [0, 1, 2])
    return out.withColumn("harmonic", F.round("harmonic", 6))


@register(
    "q115_iqr_outliers",
    """
    WITH f AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           CAST(sum(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
                           OR o_totalprice > q3 + 1.5 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(count(*) AS BIGINT) AS n
    FROM orders o JOIN f ON o.o_orderpriority = f.o_orderpriority
    GROUP BY o.o_orderpriority
    """,
)
def q115_iqr_outliers(spark, sf_dir):
    """Tukey-fence (1.5 IQR) outlier counts per order priority: exact
    per-group quartiles (one tiny sort-based agg) broadcast back over
    the scan, so the flagging pass is shuffle-free on the fact side."""
    from graphmapreduce_spark.operators import quality as Q

    o = _t(spark, sf_dir, "orders")
    flagged = Q.iqr_outliers(o, ["o_orderpriority"], "o_totalprice", k=1.5)
    return flagged.groupBy("o_orderpriority").agg(
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
    )


def _zorder_oracle_sql(bits: int = 8) -> str:
    """Bit-for-bit replica of `layout.zorder_key` arithmetic on
    (o_custkey % 256, epoch-day % 256)."""
    terms = []
    for i, col in enumerate(("x", "y")):
        for b in range(bits):
            terms.append(f"((({col} >> {b}) & 1) << {b * 2 + i})")
    z = " | ".join(terms)
    return f"""
    WITH src AS (
      SELECT o_orderkey,
             o_custkey % 256 AS x,
             (o_orderdate::DATE - DATE '1970-01-01') % 256 AS y
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT o_orderkey, x, y, {z} AS z FROM src
    """


@register("q116_zorder_key", _zorder_oracle_sql())
def q116_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (customer, order-day) — the
    layout expression behind `cluster_by_zorder`, which range-partitions
    and sorts on this key so parquet files stay narrow in BOTH columns
    and multi-dimensional filters prune files.  The oracle replicates
    the bit interleave arithmetic exactly."""
    from graphmapreduce_spark.operators.layout import zorder_key

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    src = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            % 256
        ).alias("y"),
    )
    return src.withColumn("z", zorder_key(["x", "y"], bits=8))


def _mis_oracle_sql(mod: int = 500, rounds: int = 8) -> str:
    """Unrolled Luby rounds with the same md5-60bit priorities: winners
    beat every active neighbor, winners+neighbors retire, repeat.  The
    dense mod-500 graph finishes in ~3 rounds at sf0.01; later rounds
    are no-ops on an empty active set."""
    pre = f"""
    WITH de AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {mod} AS src, l_partkey % {mod} AS dst
      FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod}),
    e AS MATERIALIZED (
      SELECT src, dst FROM de UNION SELECT dst AS src, src AS dst FROM de),
    a0 AS MATERIALIZED (
      SELECT id, ('0x' || substr(md5(id || ':mis'), 1, 15))::BIGINT AS pri
      FROM (SELECT DISTINCT src AS id FROM e))"""
    its, winners = [], []
    for i in range(rounds):
        a, w = f"a{i}", f"w{i}"
        its.append(f"""
    nm{i} AS (
      SELECT e.dst AS id, min(s.pri) AS mn
      FROM e JOIN {a} s ON s.id = e.src JOIN {a} t ON t.id = e.dst
      GROUP BY e.dst),
    {w} AS MATERIALIZED (
      SELECT a.id FROM {a} a LEFT JOIN nm{i} m ON m.id = a.id
      WHERE m.mn IS NULL OR a.pri < m.mn),
    rm{i} AS (
      SELECT id FROM {w}
      UNION SELECT e.dst AS id FROM e JOIN {w} w ON w.id = e.src),
    a{i + 1} AS MATERIALIZED (
      SELECT a.id, a.pri FROM {a} a
      WHERE a.id NOT IN (SELECT id FROM rm{i}))""")
        winners.append(f"SELECT id FROM w{i}")
    return (
        pre + "," + ",".join(its)
        + f"""
    {" UNION ALL ".join(winners)}"""
    )


@register("q117_maximal_independent_set", _mis_oracle_sql())
def q117_maximal_independent_set(spark, sf_dir):
    """Luby's parallel MIS with deterministic md5 priorities over the
    symmetrized mod-500 graph — O(log n) BSP rounds, each one
    neighbor-min agg + anti-join on the shrinking active set; the
    oracle unrolls the same rounds in SQL."""
    g = _mod_graph(spark, sf_dir)
    return alg.maximal_independent_set(g)


@register(
    "q118_weighted_sample",
    """
    WITH d AS (
      SELECT doc_id, n_chars,
             least(greatest(CAST(n_chars AS DOUBLE) / 800.0, 0.0), 1.0) AS p
      FROM documents
    )
    SELECT doc_id, n_chars FROM d
    WHERE CAST(('0x' || substr(md5(doc_id || ':7'), 1, 15))::BIGINT % 1000000
               AS DOUBLE) / 1000000 < p
    """,
)
def q118_weighted_sample(spark, sf_dir):
    """Quality-weighted Bernoulli sampling: keep probability scales with
    document length (the data-mixture upweighting move), drawn from the
    content-deterministic hash uniform — a pure narrow filter the oracle
    replicates draw-for-draw (md5 variant)."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "p", F.col("n_chars").cast("double") / 800.0
    )
    out = SMP.weighted_hash_sample(
        d, "doc_id", "p", scale=1.0, seed=7, hash_fn="md5"
    )
    return out.select("doc_id", "n_chars")


def _walks_oracle_sql(mod: int = 500, length: int = 4) -> str:
    """Unrolled deterministic-walk steps: step t moves to the
    out-neighbor minimizing (md5-60bit of 'cur|t|nb', nb) — the same
    argmin `deterministic_walks` takes via min(struct)."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {mod} AS src, l_partkey % {mod} AS dst
      FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod}),
    v AS MATERIALIZED (
      SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e),
    s0 AS (SELECT id AS start, id AS node FROM v)"""
    its = []
    for t in range(1, length + 1):
        its.append(f"""
    s{t} AS MATERIALIZED (
      SELECT start, node FROM (
        SELECT c.start, e.dst AS node,
               row_number() OVER (
                 PARTITION BY c.start
                 ORDER BY ('0x' || substr(md5(c.node || '|' || {t} || '|'
                                              || e.dst), 1, 15))::BIGINT,
                          e.dst) AS rn
        FROM s{t - 1} c JOIN e ON e.src = c.node) WHERE rn = 1)""")
    sel = ["SELECT start, 0 AS step, node FROM s0"] + [
        f"SELECT start, {t} AS step, node FROM s{t}" for t in range(1, length + 1)
    ]
    return pre + "," + ",".join(its) + "\n    " + " UNION ALL ".join(sel)


@register("q119_deterministic_walks", _walks_oracle_sql())
def q119_deterministic_walks(spark, sf_dir):
    """Random-walk corpus generation (DeepWalk/node2vec input) with
    hash-deterministic transitions from every vertex of the mod-500
    graph — per step one frontier join + min-struct agg, never
    reshuffling the edge set; oracle unrolls the same argmin steps."""
    g = _mod_graph(spark, sf_dir)
    return alg.deterministic_walks(g, walk_length=4)


@register(
    "q120_cooccurrence",
    r"""
    WITH dw AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, UNNEST(list_filter(
          string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
        FROM documents WHERE doc_id < 400)
      WHERE length(term) >= 4
    ),
    df AS (SELECT term, count(*) AS d FROM dw GROUP BY term),
    keep AS (SELECT term FROM df WHERE d BETWEEN 5 AND 320),
    dk AS (SELECT dw.doc_id, dw.term FROM dw JOIN keep USING (term))
    SELECT a.term AS term_a, b.term AS term_b,
           CAST(count(*) AS BIGINT) AS support
    FROM dk a JOIN dk b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY a.term, b.term
    ORDER BY support DESC, term_a, term_b
    LIMIT 20
    """,
)
def q120_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence mining: top word pairs sharing
    documents.  Scale hygiene mirrors the n-gram-Jaccard lesson: a
    document-frequency band (5..320) caps the per-term fanout BEFORE
    the within-doc self-join, so one corpus-wide term can never create
    O(docs^2) pair rows; top-k via TakeOrdered, no global sort."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    dw = (
        d.select("doc_id", F.explode(T.words("text")).alias("term"))
        .filter(F.length("term") >= 4)
        .distinct()
    )
    df_band = (
        dw.groupBy("term")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter((F.col("d") >= 5) & (F.col("d") <= 320))
        .select("term")
    )
    dk = dw.join(F.broadcast(df_band), "term").localCheckpoint(eager=False)
    pairs = (
        dk.alias("a")
        .join(
            dk.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return pairs.orderBy(
        F.desc("support"), F.asc("term_a"), F.asc("term_b")
    ).limit(20)


@register(
    "q121_recursive_cte",
    """
    WITH RECURSIVE chain(id, root, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, chain.root, chain.depth + 1
      FROM customer c JOIN chain ON chain.id = c.c_custkey // 10
      WHERE c.c_custkey >= 10
    )
    SELECT id, root, depth FROM chain
    """,
)
def q121_recursive_cte(spark, sf_dir):
    """Recursive SQL (WITH RECURSIVE, new in Spark 4): hierarchy
    traversal over the implicit digit-prefix forest (parent(k) = k
    div 10) — the BOM-explosion / org-chain shape, expressed the same
    way on both engines; each recursion level is one hash join, depth
    bounded by the key width.  The recursion's OUTPUT is corpus-sized
    (every customer appears once), so the default 1M-row recursion
    guard trips at sf10.  The guard is derived from the INPUT
    cardinality (one metadata-only parquet count, no fixture-derived
    constant): total recursion output ≤ |customer| rows, so 4·n is a
    real runaway bound at every scale.  Because the guard is a shared
    session conf, the raised value is scoped to THIS query's execution:
    the recursion is materialized eagerly (localCheckpoint) under the
    raised limit and the prior value restored in ``finally``, so later
    recursive CTEs in the same session keep the default 1M-row guard.
    The LEVEL limit (the actual depth guard, depth = key width ≈ 8)
    stays at its default throughout."""
    cust = _t(spark, sf_dir, "customer")
    n = cust.count()  # metadata-only count over parquet footers
    guard = str(max(1_000_000, 4 * n))
    key = "spark.sql.cteRecursionRowLimit"
    prev = spark.conf.get(key, None)
    cust.createOrReplaceTempView("customer_v")
    spark.conf.set(key, guard)
    try:
        # eager=True: the recursion executes HERE, under the raised
        # guard; the returned plan reads the checkpointed blocks.
        return spark.sql(
            """
            WITH RECURSIVE chain(id, root, depth) AS (
              SELECT c_custkey, c_custkey, 0 FROM customer_v
              WHERE c_custkey < 10
              UNION ALL
              SELECT c.c_custkey, chain.root, chain.depth + 1
              FROM customer_v c JOIN chain ON chain.id = c.c_custkey div 10
              WHERE c.c_custkey >= 10
            )
            SELECT id, root, depth FROM chain
            """
        ).localCheckpoint(eager=True)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@register(
    "q122_variant_json",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_sum,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 50
    GROUP BY event_type
    """,
)
def q122_variant_json(spark, sf_dir):
    """Semi-structured VARIANT path (Spark 4): `parse_json` once into
    the binary variant encoding, then typed `variant_get` extraction —
    the shredded-JSON fast path vs per-access string re-parsing
    (q18's from_json covers the schema-ful route).  Oracle uses
    DuckDB's json_extract on the same paths."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k"),
    )
    return (
        v.filter(F.col("k") >= 50)
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_sum"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "q123_incremental_agg",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)        AS n,
           -- exact decimal money sum (q01/q411 sf10 class); min/max
           -- don't accumulate and stay double
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                                           AS total,
           ROUND(min(o_totalprice), 2)     AS lo,
           ROUND(max(o_totalprice), 2)     AS hi
    FROM orders GROUP BY o_orderpriority
    """,
)
def q123_incremental_agg(spark, sf_dir):
    """Incremental materialized-aggregate maintenance: history and the
    'new day' are aggregated separately, then `merge_agg_tables` merges
    the two agg tables WITHOUT re-scanning history (union + re-agg over
    group rows only — count/sum/min/max states are algebraic).  The
    oracle is the from-scratch aggregate the merge must equal."""
    o = _t(spark, sf_dir, "orders")
    cutoff = "1997-01-01"

    def agg_at_grain(df):
        # decimal partial sums stay algebraic through the merge and
        # exact at any scale (q01/q411 sf10 class)
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias(
                "total"
            ),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )

    base = agg_at_grain(o.filter(F.col("o_orderdate") < cutoff))
    delta = agg_at_grain(o.filter(F.col("o_orderdate") >= cutoff))
    merged = SK.merge_agg_tables(
        base,
        delta,
        ["o_orderpriority"],
        sum_cols=["total"],
        count_cols=["n"],
        min_cols=["lo"],
        max_cols=["hi"],
    )
    return merged.select(
        "o_orderpriority",
        "n",
        F.col("total").cast("double").alias("total"),
        F.round("lo", 2).alias("lo"),
        F.round("hi", 2).alias("hi"),
    )


@register(
    "q124_clustering_coefficient",
    """
    WITH und AS (
      SELECT DISTINCT LEAST(l_orderkey % 500, l_partkey % 500) AS a,
                      GREATEST(l_orderkey % 500, l_partkey % 500) AS b
      FROM lineitem
      WHERE l_orderkey % 500 <> l_partkey % 500
    ),
    sym AS (SELECT a AS id, b AS nbr FROM und
            UNION ALL SELECT b, a FROM und),
    deg AS (SELECT id, COUNT(*) AS deg FROM sym GROUP BY id),
    tris AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1 JOIN und e2 ON e1.b = e2.a
                  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (SELECT x AS id FROM tris
                UNION ALL SELECT y FROM tris
                UNION ALL SELECT z FROM tris),
    pvt AS (SELECT id, COUNT(*) AS t FROM corners GROUP BY id)
    SELECT d.id,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(COALESCE(pvt.t, 0) AS BIGINT) AS triangles,
           ROUND(CASE WHEN d.deg < 2 THEN 0.0
                      ELSE 2.0 * COALESCE(pvt.t, 0)
                           / (d.deg * (d.deg - 1)) END, 6) AS cc
    FROM deg d LEFT JOIN pvt ON d.id = pvt.id
    """,
)
def q124_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient per vertex over the Z_500 lineitem
    graph — `clustering_coefficient` composes the degree-oriented
    adjacency intersection (triangles) with one distinct-neighbor
    degree agg; the oracle replays both as plain SQL."""
    from graphmapreduce_spark.graph.algorithms import clustering_coefficient

    g = _mod_graph(spark, sf_dir, 500)
    out = clustering_coefficient(g)
    return out.withColumn("cc", F.round("cc", 6))


@register(
    "q125_vertex_jaccard",
    """
    WITH und AS (
      SELECT DISTINCT LEAST(l_orderkey % 2000, l_partkey % 2000) AS a,
                      GREATEST(l_orderkey % 2000, l_partkey % 2000) AS b
      FROM lineitem
      WHERE l_orderkey % 2000 <> l_partkey % 2000 AND l_quantity <= 5
    ),
    sym AS (SELECT a AS id, b AS nbr FROM und
            UNION ALL SELECT b, a FROM und),
    deg AS (SELECT id, COUNT(*) AS deg FROM sym GROUP BY id),
    common AS (
      SELECT l.id AS id_a, r.id AS id_b, CAST(COUNT(*) AS BIGINT) AS common
      FROM sym l JOIN sym r ON l.nbr = r.nbr AND l.id < r.id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT c.id_a, c.id_b, c.common,
           ROUND(c.common::DOUBLE
                 / (da.deg + db.deg - c.common), 6) AS jaccard
    FROM common c JOIN deg da ON c.id_a = da.id
                  JOIN deg db ON c.id_b = db.id
    """,
)
def q125_vertex_jaccard(spark, sf_dir):
    """Common-neighbor Jaccard similarity between vertex pairs (the
    link-prediction primitive) on a sparse lineitem-derived graph —
    `vertex_jaccard` generates pairs ONLY through shared neighbors
    (wedge join), never an all-pairs cross; the oracle is the same
    wedge join in SQL."""
    from graphmapreduce_spark.graph.algorithms import vertex_jaccard

    li = _t(spark, sf_dir, "lineitem")
    e = (
        li.filter(F.col("l_quantity") <= 5)
        .select(
            (F.col("l_orderkey") % 2000).alias("src"),
            (F.col("l_partkey") % 2000).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .withColumn("weight", F.lit(1.0))
    )
    g = PropertyGraph.from_edges(e, prepartition=False)
    out = vertex_jaccard(g, min_common=2)
    return out.withColumn("jaccard", F.round("jaccard", 6))


@register(
    "q126_shard_assignment",
    r"""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS n_tokens
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM toks),
    cum AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS "offset"
      FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST("offset" // ((t + 7) // 8) AS BIGINT) AS shard,
           "offset"
    FROM cum, tot
    """,
)
def q126_shard_assignment(spark, sf_dir):
    """Token-balanced contiguous sharding of the corpus into 8 shards
    (equal token mass per data-loader worker) — `shard_assignment`
    reuses the scalable two-level cumsum; the oracle is the naive
    global window with ceil-divided capacity."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", T.token_count("text").cast("long").alias("n_tokens")
    )
    return PK.shard_assignment(d, "doc_id", "n_tokens", num_shards=8)


@register(
    "q127_gopher_quality",
    r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         w -> w <> '') AS ws,
             string_split(text, chr(10)) AS lines,
             length(regexp_replace(text, '\s', '', 'g')) AS nonspace
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(ws)::BIGINT AS n_words,
             ROUND(CASE WHEN len(ws) > 0
                        THEN nonspace::DOUBLE / len(ws) ELSE 0.0 END, 6)
               AS avg_word_len,
             ROUND(CASE WHEN len(ws) > 0
                        THEN len(list_filter(ws,
                             w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                             / len(ws) ELSE 0.0 END, 6) AS alpha_frac,
             ROUND(CASE WHEN len(lines) > 0
                        THEN len(list_filter(lines,
                             x -> regexp_matches(x, '^\s*[-*•]')))::DOUBLE
                             / len(lines) ELSE 0.0 END, 6) AS bullet_frac,
             CAST(list_contains(list_transform(ws, w -> lower(w)), 'the')::INT
                + list_contains(list_transform(ws, w -> lower(w)), 'be')::INT
                + list_contains(list_transform(ws, w -> lower(w)), 'to')::INT
                + list_contains(list_transform(ws, w -> lower(w)), 'of')::INT
                + list_contains(list_transform(ws, w -> lower(w)), 'and')::INT
                + list_contains(list_transform(ws, w -> lower(w)), 'that')::INT
                + list_contains(list_transform(ws, w -> lower(w)), 'have')::INT
                + list_contains(list_transform(ws, w -> lower(w)), 'with')::INT
               AS BIGINT) AS stop_hits
      FROM base
    )
    SELECT *,
           (n_words BETWEEN 50 AND 100000
            AND avg_word_len BETWEEN 3.0 AND 10.0
            AND alpha_frac >= 0.8
            AND bullet_frac <= 0.9
            AND stop_hits >= 2) AS keep
    FROM m
    """,
)
def q127_gopher_quality(spark, sf_dir):
    """Gopher-style quality gates over the corpus (word-count bounds,
    mean word length, alphabetic fraction, bullet-line fraction,
    stopword floor) — `gopher_rules` computes every rule as pure
    expressions in one scan-speed pass; the oracle replays the same
    arithmetic with DuckDB list lambdas."""
    from graphmapreduce_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents")
    return Q.gopher_rules(d, "doc_id", "text")


@register(
    "q128_merge_cdc",
    """
    WITH changes AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 20 = 0 THEN 'D'
                  WHEN c_custkey % 10 = 0 THEN 'U'
                  ELSE 'I' END AS op,
             c_name,
             ROUND(c_acctbal + 100.0, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 5 = 0
    ),
    survivors AS (
      SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
      FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
    )
    SELECT * FROM survivors
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM changes WHERE op <> 'D'
    """,
)
def q128_merge_cdc(spark, sf_dir):
    """Full CDC MERGE (insert/update/delete ops in one change batch)
    against the customer dimension — `merge_apply_cdc` is one anti-join
    on the broadcastable change keys + one union; deleted keys vanish,
    updates replace wholesale.  The oracle is the NOT IN + union
    formulation."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    changes = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 20 == 0, "D")
            .when(F.col("c_custkey") % 10 == 0, "U")
            .otherwise("I")
            .alias("op"),
            "c_name",
            F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        )
    )
    return R.merge_apply_cdc(c, changes, ["c_custkey"], op_col="op")


@register(
    "q129_stream_left_outer_join",
    """
    SELECT e1.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(e2.ts) AS BIGINT) AS n_unmatched
    FROM events e1 LEFT JOIN events e2
      ON e1.user_id = e2.user_id AND e2.event_type = 'purchase'
     AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
    WHERE e1.event_type = 'click'
    GROUP BY e1.user_id
    """,
)
def q129_stream_left_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: every click emits —
    matched with purchases within 10 minutes, or with nulls once the
    watermark proves no match can arrive.  Outer results only
    materialize when BOTH sides' watermarks pass the join window, so a
    far-future flush event per side (click + purchase, user -1) is
    appended to a temp copy of the stream — the query exercises real
    outer-eviction semantics, not shutdown flushing."""
    import datetime as _dt
    import os as _os
    import shutil
    import tempfile

    src = _os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(src)
    d = tempfile.mkdtemp(prefix="gmr_loj_src_")
    shutil.copy(src, _os.path.join(d, "00_events.parquet"))
    max_ts = static.agg(F.max("ts")).first()[0]
    if dict(static.dtypes).get("ts") == "bigint":
        f1 = int(max_ts) + 2 * 3600 * 1_000_000_000
    else:
        f1 = max_ts + _dt.timedelta(hours=2)
    flush = spark.createDataFrame(
        [(-1, f1, -1, "click", 0.0, None), (-2, f1, -1, "purchase", 0.0, None)],
        static.schema,
    )
    flush.coalesce(1).write.mode("append").parquet(d)
    stream = _normalize_ts(
        spark.readStream.schema(static.schema).parquet(d), "ts"
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 minutes")
    )
    buys = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user_id"), F.col("ts").alias("buy_ts")
        )
        .withWatermark("buy_ts", "30 minutes")
    )
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("b_user_id"))
        & (F.col("buy_ts") > F.col("click_ts"))
        & (
            F.col("buy_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
        "left_outer",
    ).select("user_id", "click_ts", "buy_ts")
    out = _run_stream_to_table(spark, joined, "lojoin", output_mode="append")
    return (
        out.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("buy_ts").isNull(), 1).otherwise(0)
            ).alias("n_unmatched"),
        )
    )


@register(
    "q130_intradoc_line_dedup",
    """
    WITH base AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
    ),
    k AS (
      SELECT doc_id, ls,
             list_transform(
               list_filter(range(1, len(ls) + 1),
                           i -> list_position(ls, ls[i]) = i),
               i -> ls[i]) AS kept
      FROM base
    )
    SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, chr(10)) AS cleaned
    FROM k
    """,
)
def q130_intradoc_line_dedup(spark, sf_dir):
    """Within-document repeated-line removal (template/menu spam) —
    `dedup_lines` keeps first occurrences in order via an index-lambda
    filter, entirely in-scan with no shuffle; the oracle rebuilds the
    same kept-list with DuckDB list lambdas."""
    d = _t(spark, sf_dir, "documents")
    cleaned = T.dedup_lines("text")
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), "\n")).alias("n_lines"),
        F.size(F.split(cleaned, "\n")).alias("n_kept"),
        cleaned.alias("cleaned"),
    )


@register(
    "q131_time_weighted_avg",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es, value
      FROM events WHERE user_id < 100
    ),
    o AS (
      SELECT user_id, es, value,
             (es // 86400) * 86400 AS bucket_start,
             lead(es) OVER (PARTITION BY user_id ORDER BY es, value) AS nxt
      FROM e
    ),
    w AS (
      SELECT user_id, bucket_start, value,
             (LEAST(COALESCE(nxt, bucket_start + 86400),
                    bucket_start + 86400) - es)::DOUBLE AS dt
      FROM o
    )
    SELECT user_id, bucket_start,
           ROUND(SUM(value * dt) / SUM(dt), 6) AS twap
    FROM w GROUP BY user_id, bucket_start
    """,
)
def q131_time_weighted_avg(spark, sf_dir):
    """Daily TWAP per user over the irregular event stream — each
    observation weighted by how long it stayed current (lead() clamped
    to the bucket edge); `time_weighted_avg` carries the window and the
    bucket agg on ONE keyed shuffle.  Plain AVG would overweight
    bursts; the oracle replays the same lead/clamp arithmetic."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    out = TS.time_weighted_avg(e, "user_id", "ts", "value", 86400)
    return out.withColumn("twap", F.round("twap", 6))


@register(
    "q132_table_diff",
    """
    WITH a AS (
      SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
      FROM customer
    ),
    b0 AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0
                  THEN ROUND(c_acctbal + 50.0, 2)
                  ELSE ROUND(c_acctbal, 2) END AS c_acctbal
      FROM customer WHERE c_custkey % 11 <> 0
    ),
    bn AS (
      SELECT c_custkey + 1000000 AS c_custkey, c_name,
             ROUND(c_acctbal, 2) AS c_acctbal
      FROM customer WHERE c_custkey % 13 = 0
    ),
    b AS (SELECT * FROM b0 UNION ALL SELECT * FROM bn),
    j AS (
      SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
             CASE WHEN b.c_custkey IS NULL THEN 'only_a'
                  WHEN a.c_custkey IS NULL THEN 'only_b'
                  WHEN NOT (a.c_name IS NOT DISTINCT FROM b.c_name
                            AND a.c_acctbal IS NOT DISTINCT FROM b.c_acctbal)
                  THEN 'changed' END AS status,
             a.c_name AS c_name_a, a.c_acctbal AS c_acctbal_a,
             b.c_name AS c_name_b, b.c_acctbal AS c_acctbal_b
      FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
    )
    SELECT c_custkey, status, c_name_a, c_acctbal_a, c_name_b, c_acctbal_b
    FROM j WHERE status IS NOT NULL
    """,
)
def q132_table_diff(spark, sf_dir):
    """Anti-entropy reconciliation: diff the customer dimension against
    a drifted copy (dropped keys, changed balances, new keys) —
    `table_diff` is one full-outer hash join emitting only the
    differing keys with null-safe change detection."""
    a = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    b0 = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 11 != 0)
        .select(
            "c_custkey",
            "c_name",
            F.when(
                F.col("c_custkey") % 7 == 0,
                F.round(F.col("c_acctbal") + 50.0, 2),
            )
            .otherwise(F.round("c_acctbal", 2))
            .alias("c_acctbal"),
        )
    )
    bn = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 13 == 0)
        .select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
        )
    )
    return R.table_diff(
        a, b0.unionByName(bn), ["c_custkey"], ["c_name", "c_acctbal"]
    )


@register(
    "q133_stratified_fixed_k",
    """
    SELECT o_orderkey, o_orderpriority FROM (
      SELECT o_orderkey, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY ('0x' || substr(md5('0' || '|'
                         || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT,
                        o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 100
    """,
)
def q133_stratified_fixed_k(spark, sf_dir):
    """Deterministic fixed-size stratified sample: exactly 100 orders
    per priority class chosen by portable md5 priority —
    `stratified_fixed_k` is one keyed window shuffle, a pure function
    of the data (stable across runs/engines/partitionings), the
    count-based complement of the rate-based `hash_sample`."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return SMP.stratified_fixed_k(
        o, ["o_orderpriority"], k=100, seed=0, id_cols=["o_orderkey"]
    )


@register(
    "q134_ewma",
    """
    WITH e AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS es, value
      FROM events WHERE user_id < 30
    ),
    l AS (
      SELECT user_id, event_id, es, value,
             lag(value, 1) OVER w AS v1,
             lag(value, 2) OVER w AS v2,
             lag(value, 3) OVER w AS v3,
             lag(value, 4) OVER w AS v4
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    )
    SELECT user_id, event_id,
           ROUND((value
                  + COALESCE(0.5 * v1, 0) + COALESCE(0.25 * v2, 0)
                  + COALESCE(0.125 * v3, 0) + COALESCE(0.0625 * v4, 0))
                 / (1
                    + CASE WHEN v1 IS NULL THEN 0 ELSE 0.5 END
                    + CASE WHEN v2 IS NULL THEN 0 ELSE 0.25 END
                    + CASE WHEN v3 IS NULL THEN 0 ELSE 0.125 END
                    + CASE WHEN v4 IS NULL THEN 0 ELSE 0.0625 END), 6)
             AS ewma
    FROM l
    """,
)
def q134_ewma(spark, sf_dir):
    """Finite-window EWMA smoothing of each user's value series
    (alpha=0.5, last 5 observations, renormalized at series heads) —
    `ewma` unrolls the recursion into lag() terms over ONE keyed
    window; the oracle is the same unrolled arithmetic."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30).select(
        "user_id", "event_id", F.col("ts").cast("long").alias("es"), "value"
    )
    out = TS.ewma(
        e, "user_id", ["es", "event_id"], "value", alpha=0.5, k=5
    )
    return out.select(
        "user_id", "event_id", F.round("ewma", 6).alias("ewma")
    )


@register(
    "q135_degree_assortativity",
    """
    WITH und AS (
      SELECT DISTINCT LEAST(l_orderkey % 500, l_partkey % 500) AS a,
                      GREATEST(l_orderkey % 500, l_partkey % 500) AS b
      FROM lineitem
      WHERE l_orderkey % 500 <> l_partkey % 500
    ),
    sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT a AS id, COUNT(*) AS deg FROM sym GROUP BY a)
    SELECT ROUND(corr(da.deg, db.deg), 6) AS assortativity
    FROM sym JOIN deg da ON sym.a = da.id
             JOIN deg db ON sym.b = db.id
    """,
)
def q135_degree_assortativity(spark, sf_dir):
    """Newman degree assortativity of the Z_500 lineitem graph — one
    scalar from two degree joins + the built-in corr aggregate;
    positive means hubs attach to hubs."""
    from graphmapreduce_spark.graph.algorithms import degree_assortativity

    g = _mod_graph(spark, sf_dir, 500)
    return degree_assortativity(g).select(
        F.round("assortativity", 6).alias("assortativity")
    )


@register(
    "q136_modularity",
    """
    WITH und AS (
      SELECT DISTINCT LEAST(l_orderkey % 500, l_partkey % 500) AS a,
                      GREATEST(l_orderkey % 500, l_partkey % 500) AS b
      FROM lineitem
      WHERE l_orderkey % 500 <> l_partkey % 500
    ),
    m AS (SELECT COUNT(*)::DOUBLE AS m FROM und),
    intra AS (
      SELECT a % 4 AS community, COUNT(*) AS e_c
      FROM und WHERE a % 4 = b % 4 GROUP BY 1
    ),
    sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
    degmass AS (
      SELECT a % 4 AS community, COUNT(*) AS a_c FROM sym GROUP BY 1
    )
    SELECT ROUND(SUM(COALESCE(e_c, 0) / m - POW(a_c / (2 * m), 2)), 6)
             AS modularity
    FROM degmass LEFT JOIN intra USING (community), m
    """,
)
def q136_modularity(spark, sf_dir):
    """Newman modularity Q of a 4-way hash community assignment on the
    Z_500 lineitem graph — `modularity` is two broadcastable assignment
    joins + two tiny aggs, the quality gate for label-propagation or
    locality-partition output."""
    from graphmapreduce_spark.graph.algorithms import modularity

    g = _mod_graph(spark, sf_dir, 500)
    comm = g.vertices.select(
        "id", (F.col("id") % 4).alias("community")
    )
    return modularity(g, comm).select(
        F.round("modularity", 6).alias("modularity")
    )


@register(
    "q137_flesch_readability",
    r"""
    WITH base AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> ''))::BIGINT AS nw,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syllables
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN nw > 0
                THEN ROUND(206.835 - 1.015 * (nw::DOUBLE / sentences)
                           - 84.6 * (syllables::DOUBLE / nw), 4)
           END AS flesch
    FROM base
    """,
)
def q137_flesch_readability(spark, sf_dir):
    """Flesch reading-ease per document (vowel-group syllable proxy,
    terminal-punctuation sentence proxy) — `flesch_reading_ease` is one
    regexp-count expression per component, no explode, scan-speed."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(T.flesch_reading_ease("text"), 4).alias("flesch")
    )


@register(
    "q138_winsorize",
    """
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_hi,
           ROUND(AVG(GREATEST(lo, LEAST(hi, l_extendedprice))), 2)
             AS avg_wins,
           ROUND(ANY_VALUE(lo), 4) AS p05,
           ROUND(ANY_VALUE(hi), 4) AS p95
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q138_winsorize(spark, sf_dir):
    """Per-group winsorized price summary: clip to the group's exact
    [p05, p95] percentiles then summarize — `winsorize` is a two-pass
    shape (tiny bounds agg broadcast onto a map-side clip join), never
    a full-data window sort."""
    from graphmapreduce_spark.operators import quality as Q

    li = _t(spark, sf_dir, "lineitem")
    w = Q.winsorize(li, ["l_returnflag"], "l_extendedprice", 0.05, 0.95)
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("l_extendedprice") < F.col("l_extendedprice_lo"))
            .cast("long")
        ).alias("n_clip_lo"),
        F.sum(
            (F.col("l_extendedprice") > F.col("l_extendedprice_hi"))
            .cast("long")
        ).alias("n_clip_hi"),
        F.round(F.avg("l_extendedprice_wins"), 2).alias("avg_wins"),
        F.round(F.any_value("l_extendedprice_lo"), 4).alias("p05"),
        F.round(F.any_value("l_extendedprice_hi"), 4).alias("p95"),
    )


@register(
    "q139_chi_squared",
    """
    WITH cells AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS o
      FROM orders GROUP BY 1, 2
    ),
    ra AS (SELECT o_orderpriority AS a, COUNT(*) AS ra FROM orders GROUP BY 1),
    rb AS (SELECT o_orderstatus AS b, COUNT(*) AS rb FROM orders GROUP BY 1),
    n AS (SELECT COUNT(*)::DOUBLE AS n FROM orders),
    fullgrid AS (
      SELECT COALESCE(cells.o, 0) AS o, ra.ra * rb.rb / n.n AS e
      FROM ra CROSS JOIN rb CROSS JOIN n
      LEFT JOIN cells ON cells.a = ra.a AND cells.b = rb.b
    )
    SELECT ROUND(SUM(POW(o - e, 2) / e), 4) AS chi2,
           CAST((SELECT (COUNT(*) - 1) FROM ra)
                * (SELECT (COUNT(*) - 1) FROM rb) AS BIGINT) AS dof
    FROM fullgrid
    """,
)
def q139_chi_squared(spark, sf_dir):
    """Pearson chi-squared independence test between order priority and
    status — `chi_squared` builds the full product-marginal grid
    (empty cells still contribute their expectation) from three tiny
    aggs + broadcast joins."""
    from graphmapreduce_spark.operators import quality as Q

    o = _t(spark, sf_dir, "orders")
    out = Q.chi_squared(o, "o_orderpriority", "o_orderstatus")
    return out.select(F.round("chi2", 4).alias("chi2"), "dof")


@register(
    "q140_retention_cohorts",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS b
      FROM events
    ),
    cohort AS (SELECT user_id, MIN(b) AS c FROM act GROUP BY user_id)
    SELECT c AS cohort,
           CAST((b - c) // 86400 AS BIGINT) AS bucket_offset,
           CAST(COUNT(DISTINCT act.user_id) AS BIGINT) AS n_users
    FROM act JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
)
def q140_retention_cohorts(spark, sf_dir):
    """Daily cohort retention triangle over the event stream (users
    bucketed by first-activity day, counted in every later day they
    return) — `retention_cohorts` carries the distinct, the cohort
    min, and the count on one user-key partitioning."""
    e = _t(spark, sf_dir, "events")
    return TS.retention_cohorts(e, "user_id", "ts", 86400)


@register(
    "q141_corpus_pipeline",
    r"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                  '[\x00-\x1f\x7f]', ' ', 'g'), '\s{2,}', ' ', 'g')) AS ntext
      FROM documents
    ),
    base AS (
      SELECT doc_id, ntext,
             list_filter(string_split_regex(trim(ntext), '\s+'),
                         w -> w <> '') AS ws,
             string_split(ntext, chr(10)) AS lines,
             length(regexp_replace(ntext, '\s', '', 'g')) AS nonspace
      FROM norm
    ),
    m AS (
      SELECT doc_id, ntext,
             len(ws)::BIGINT AS n_words,
             ROUND(CASE WHEN len(ws) > 0
                        THEN nonspace::DOUBLE / len(ws) ELSE 0.0 END, 6)
               AS avg_word_len,
             ROUND(CASE WHEN len(ws) > 0
                        THEN len(list_filter(ws,
                             w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
                             / len(ws) ELSE 0.0 END, 6) AS alpha_frac,
             ROUND(CASE WHEN len(lines) > 0
                        THEN len(list_filter(lines,
                             x -> regexp_matches(x, '^\s*[-*•]')))::DOUBLE
                             / len(lines) ELSE 0.0 END, 6) AS bullet_frac,
             (list_contains(ws, 'the')::INT + list_contains(ws, 'be')::INT
              + list_contains(ws, 'to')::INT + list_contains(ws, 'of')::INT
              + list_contains(ws, 'and')::INT + list_contains(ws, 'that')::INT
              + list_contains(ws, 'have')::INT
              + list_contains(ws, 'with')::INT) AS stop_hits
      FROM base
    ),
    gated AS (
      SELECT doc_id, ntext FROM m
      WHERE n_words BETWEEN 20 AND 100000
        AND avg_word_len BETWEEN 3.0 AND 10.0
        AND alpha_frac >= 0.8 AND bullet_frac <= 0.9 AND stop_hits >= 1
    ),
    dedup AS (SELECT ntext, MIN(doc_id) AS doc_id FROM gated GROUP BY ntext),
    toks AS (
      SELECT doc_id,
             len(regexp_extract_all(ntext,
                 '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))::BIGINT AS n_tokens
      FROM dedup
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS "offset"
      FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST("offset" // 2048 AS BIGINT) AS bin, "offset"
    FROM cum
    """,
)
def q141_corpus_pipeline(spark, sf_dir):
    """The composed corpus-prep flow (`pipeline.prepare_corpus`):
    normalize → Gopher gate → exact dedup on the normalized form →
    tokenize → pack into 2048-token windows.  Every stage is an
    already-oracled operator; the chained CTE oracle value-checks the
    composition end-to-end.  Narrow stages fuse into one scan — the
    only shuffles are the dedup agg and the packing cumsum."""
    from graphmapreduce_spark.pipeline import prepare_corpus

    d = _t(spark, sf_dir, "documents")
    return prepare_corpus(
        d, "doc_id", "text", capacity=2048,
        # fixture register: terse technical docs (10-99 words)
        min_words=20, min_stopword_hits=1,
    )


@register(
    "q142_asof_forward",
    """
    WITH l AS (SELECT user_id, ts, event_id FROM events
               WHERE event_type = 'click'),
    r AS (SELECT user_id, ts, value FROM events
          WHERE event_type = 'purchase')
    SELECT l.user_id, l.event_id,
           MIN(CASE WHEN r.ts >= l.ts
                    THEN r.ts END) AS next_purchase_ts
    FROM l LEFT JOIN r ON l.user_id = r.user_id
    GROUP BY l.user_id, l.event_id
    """,
)
def q142_asof_forward(spark, sf_dir):
    """Forward as-of join: each click matched to the EARLIEST purchase
    at-or-after it per user — `asof_join(direction='forward')` is the
    tagged-union + running-window formulation (one keyed shuffle,
    per-key row counts unbounded); q22 covers the backward direction.
    The oracle is the quadratic min-over-future formulation."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("b_ts"), "value"
    )
    out = asof_join(
        clicks, buys, on="user_id", left_ts="ts", right_ts="b_ts",
        value_cols=["b_ts"], direction="forward",
    )
    return out.select(
        "user_id", "event_id",
        F.col("b_ts").alias("next_purchase_ts"),
    )


@register(
    "q143_distribution_windows",
    """
    SELECT o_orderkey, o_orderpriority,
           ROUND(percent_rank() OVER w, 6) AS pr,
           ROUND(cume_dist() OVER w, 6) AS cd,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q143_distribution_windows(spark, sf_dir):
    """Distribution window functions (percent_rank / cume_dist /
    ntile) per priority class — completes the window-function family
    beyond the q07/q70 ranking and q08/q71 analytic rows.  Unique
    (price, key) order keeps every engine's tie handling identical."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


@register(
    "q144_ordered_listagg",
    """
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_totalprice DESC, o_orderkey) AS top_keys
    FROM (
      SELECT * FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rn
        FROM orders) WHERE rn <= 10)
    GROUP BY o_orderpriority
    """,
)
def q144_ordered_listagg(spark, sf_dir):
    """Deterministic ordered string aggregation: the 10 priciest order
    keys per priority, concatenated in (price desc, key) order — the
    report/export shape.  Spark side sorts structs inside the
    aggregated array (`array_sort` of (neg-price, key) structs), so the
    concatenation order is plan-independent — never a bare
    collect_list, whose order is partition-dependent."""
    o = _t(spark, sf_dir, "orders")
    top = R.top_k_per_group(
        o.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )
    agged = top.groupBy("o_orderpriority").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("o_totalprice")).alias("np"),
                    F.col("o_orderkey").alias("k"),
                )
            )
        ).alias("_s")
    )
    return agged.select(
        "o_orderpriority",
        F.array_join(
            F.transform(F.col("_s"), lambda s: s["k"].cast("string")), ","
        ).alias("top_keys"),
    )


@register(
    "q145_mad_outliers",
    """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY 1
    ),
    dev AS (
      SELECT l.l_returnflag, ABS(l_extendedprice - m.m) AS d, m.m
      FROM lineitem l JOIN med m USING (l_returnflag)
    ),
    mad AS (
      SELECT l_returnflag, ANY_VALUE(m) AS m,
             quantile_cont(d, 0.5) AS mad
      FROM dev GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(ANY_VALUE(mad.m), 4) AS median,
           ROUND(ANY_VALUE(mad.mad), 4) AS mad,
           CAST(SUM(CASE WHEN ABS(l.l_extendedprice - mad.m)
                              > 3 * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN mad USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def q145_mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation (the
    breakdown-resistant alternative to q115's IQR fences): two exact
    median aggs (group-tiny, broadcast back) + a scan-speed flagging
    pass with the 1.4826 normal-consistency factor."""
    li = _t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("m")
    )
    dev = li.join(F.broadcast(med), "l_returnflag")
    mad = dev.groupBy("l_returnflag").agg(
        F.any_value("m").alias("m"),
        F.expr("percentile(abs(l_extendedprice - m), 0.5)").alias("mad"),
    )
    out = li.join(F.broadcast(mad), "l_returnflag")
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.any_value("m"), 4).alias("median"),
        F.round(F.any_value("mad"), 4).alias("mad"),
        F.sum(
            (
                F.abs(F.col("l_extendedprice") - F.col("m"))
                > 3 * 1.4826 * F.col("mad")
            ).cast("long")
        ).alias("n_outliers"),
    )


@register(
    "q146_salted_skew_join",
    """
    WITH skewed AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 1
                  ELSE l_orderkey % 100 END AS k,
             l_quantity
      FROM lineitem
    ),
    dim AS (SELECT DISTINCT o_orderkey % 100 AS k,
                   o_orderpriority
            FROM orders WHERE o_orderkey % 100 < 100)
    SELECT s.k, d.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(s.l_quantity), 2) AS qty
    FROM skewed s JOIN dim d ON s.k = d.k
    GROUP BY s.k, d.o_orderpriority
    """,
)
def q146_salted_skew_join(spark, sf_dir):
    """Skew-resistant equi join: ~70% of the fact rows share ONE hot
    key — `salted_join` spreads it over 8 shuffle partitions (salt on
    the fact side, replicate the dim side) and must return rows
    identical to the plain join the oracle computes.  The explicit
    fallback for joins AQE's skew splitting can't rebalance."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 7, 1)
        .otherwise(F.col("l_orderkey") % 100)
        .alias("k"),
        "l_quantity",
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") % 100).alias("k"), "o_orderpriority"
        )
        .distinct()
    )
    joined = R.salted_join(li, dim, ["k"], num_salts=8)
    return joined.groupBy("k", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@register(
    "q147_embedding_dim_stats",
    """
    SELECT CAST(i - 1 AS INTEGER) AS pos,
           ROUND(AVG(embedding[i]), 6) AS mean,
           ROUND(STDDEV_POP(embedding[i]), 6) AS std,
           ROUND(MIN(embedding[i]), 6) AS lo,
           ROUND(MAX(embedding[i]), 6) AS hi
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    GROUP BY i
    """,
)
def q147_embedding_dim_stats(spark, sf_dir):
    """Dimension-wise embedding distribution audit (mean/std/min/max
    per coordinate — the 'is dim 17 dead or exploding' check before
    ANN indexing): posexplode + one hash agg keyed on the dimension,
    map-side combinable, never a driver-side matrix."""
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("pos", "v"))
    return (
        ex.groupBy("pos")
        .agg(
            F.round(F.avg("v"), 6).alias("mean"),
            F.round(F.stddev_pop("v"), 6).alias("std"),
            F.round(F.min("v"), 6).alias("lo"),
            F.round(F.max("v"), 6).alias("hi"),
        )
    )


@register(
    "q148_centroid_similarity",
    """
    WITH c AS (
      SELECT label, i, AVG(embedding[i]) AS v
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
      GROUP BY label, i
    ),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.v * b.v) AS dot,
             SQRT(SUM(a.v * a.v)) AS na, SQRT(SUM(b.v * b.v)) AS nb
      FROM c a JOIN c b ON a.i = b.i AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT label_a, label_b, ROUND(dot / (na * nb), 6) AS cosine
    FROM pairs
    """,
)
def q148_centroid_similarity(spark, sf_dir):
    """Pairwise cosine similarity between per-label embedding
    centroids (the cluster-overlap diagnostic on q95's output): the
    k×k matrix comes from a dimension-keyed join of the tiny centroid
    table with itself — the corpus is scanned ONCE for the centroids,
    never for the pairs."""
    e = _t(spark, sf_dir, "embeddings")
    c = (
        e.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg("v").alias("v"))
    )
    a = c.select(
        F.col("label").alias("label_a"), "i", F.col("v").alias("va")
    )
    b = c.select(
        F.col("label").alias("label_b"), "i", F.col("v").alias("vb")
    )
    pairs = (
        a.join(b, ["i"])
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("va") * F.col("vb")).alias("dot"),
            F.sqrt(F.sum(F.col("va") * F.col("va"))).alias("na"),
            F.sqrt(F.sum(F.col("vb") * F.col("vb"))).alias("nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
            "cosine"
        ),
    )


@register(
    "q149_bigram_topk",
    r"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         w -> w <> '') AS w
      FROM documents
    ),
    bg AS (
      SELECT UNNEST(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i + 1])) AS bigram
      FROM ws WHERE len(w) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 25
    """,
)
def q149_bigram_topk(spark, sf_dir):
    """Corpus-wide top adjacent word pairs — ORDERED bigrams (q120's
    co-occurrence is unordered within-doc): the bigram list is built
    in-array with an index lambda (no self-join at all), then one
    explode + hash agg + TakeOrdered."""
    d = _t(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), "\\s+"),
        lambda x: x != "",
    )
    bg = d.select(w.alias("w")).filter(F.size("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.concat(
                    F.element_at(F.col("w"), i),
                    F.lit(" "),
                    F.element_at(F.col("w"), i + 1),
                ),
            )
        ).alias("bigram")
    )
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(25)
    )


@register(
    "q150_activity_heatmap",
    """
    WITH e AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, value FROM events
    )
    SELECT CAST(((es // 86400) + 4) % 7 AS BIGINT) AS dow,
           CAST((es % 86400) // 3600 AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM e GROUP BY 1, 2
    """,
)
def q150_activity_heatmap(spark, sf_dir):
    """Day-of-week × hour activity heatmap over the event stream —
    dow/hour derived ARITHMETICALLY from the epoch (1970-01-01 was a
    Thursday, hence the +4), sidestepping the engines' incompatible
    dayofweek conventions; one hash agg over 168 cells."""
    e = _t(spark, sf_dir, "events")
    es = F.col("ts").cast("long")
    return (
        e.select(
            ((F.floor(es / 86400) + 4) % 7).cast("long").alias("dow"),
            ((es % 86400) / 3600).cast("long").alias("hour"),
            "value",
        )
        .groupBy("dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register("q151_image_decode", None)  # binary codec — not SQL-expressible
def q151_image_decode(spark, sf_dir):
    """REAL image decode end-to-end: synthesize deterministic PNG
    payloads (stdlib encoder) in one mapInPandas stage, then decode +
    feature-extract them with ``extract_image_features(fake=False)`` —
    the stdlib zlib/numpy PNG decoder in `functions/codecs.py`.  Unlike
    q55 (stand-in decoder, plumbing only), every byte here moves through
    a genuine codec.  Deterministic, so the driver's rows-only check is
    stable; pixel-exact value checks live in
    tests/test_multimodal_codecs.py."""
    import numpy as np  # worker-side
    import pandas as pd

    from graphmapreduce_spark.functions import codecs as C
    from graphmapreduce_spark.operators import multimodal as M

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)

    def encode(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            payloads = []
            for i in ids:
                # gradient image whose mean intensity encodes doc_id
                arr = (
                    (np.arange(8)[:, None] + np.arange(12)[None, :] + i * 3)
                    % 256
                ).astype(np.uint8)
                payloads.append(C.encode_png(arr, filter_type=i % 5))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    media = d.select("doc_id").mapInPandas(
        encode, schema="media_id long, payload binary"
    )
    feats = M.extract_image_features(media, n_features=4)
    return feats.select(
        "media_id",
        F.round(F.col("features")[0], 6).alias("f_mean"),
        F.round(F.col("features")[1], 6).alias("f_std"),
    )


@register("q152_audio_decode", None)  # binary codec — not SQL-expressible
def q152_audio_decode(spark, sf_dir):
    """REAL audio decode end-to-end: synthesize deterministic PCM-WAV
    sine clips (stdlib wave encoder), then decode + frame-analyze with
    ``extract_audio_features(fake=False)`` — RMS and zero-crossing rate
    over genuinely decoded samples.  Analytic value checks (rms ≈
    amp/√2, zcr ≈ 2f/sr) live in tests/test_multimodal_codecs.py."""
    import numpy as np
    import pandas as pd

    from graphmapreduce_spark.functions import codecs as C
    from graphmapreduce_spark.operators import multimodal as M

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 32)

    def encode(batches):
        sr = 8000
        t = np.arange(sr // 4) / sr  # 250 ms clips
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            rows = []
            for i in ids:
                freq = 100 + 50 * (i % 8)
                amp = 0.2 + 0.1 * (i % 5)
                wav = C.encode_wav(amp * np.sin(2 * np.pi * freq * t), sr)
                rows.append((i, wav, 250))
            yield pd.DataFrame(
                rows, columns=["media_id", "payload", "duration_ms"]
            )

    media = d.select("doc_id").mapInPandas(
        encode, schema="media_id long, payload binary, duration_ms long"
    )
    feats = M.extract_audio_features(media, frame_ms=25)
    return feats.select(
        "media_id",
        "n_samples",
        "n_frames",
        F.round("rms_mean", 6).alias("rms_mean"),
        F.round("zcr_mean", 6).alias("zcr_mean"),
    )


@register(
    "q153_hashed_ngram_classifier",
    r"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         w -> w <> '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             w || CASE WHEN len(w) >= 2
                  THEN list_transform(range(1, len(w)),
                                      i -> w[i] || ' ' || w[i + 1])
                  ELSE [] END AS grams
      FROM ws
    ),
    s AS (
      SELECT doc_id, grams,
             list_sum(list_transform(grams, x ->
               ((('0x' || substr(md5(x), 1, 15))::BIGINT % 4096)
                 * 2654435761 + 42) % 10007 / 10007.0 - 0.5)) AS total
      FROM g
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + EXP(-(CASE WHEN len(grams) > 0
                 THEN COALESCE(total, 0) / len(grams) ELSE 0 END))), 6)
             AS score
    FROM s
    """,
)
def q153_hashed_ngram_classifier(spark, sf_dir):
    """Hashing-trick linear classifier inference (fastText scoring
    shape): unigram+bigram features hashed to 4096 buckets, arithmetic
    weight lookup, mean-pool, sigmoid — one codegen expression, zero
    shuffles, zero UDFs.  The seeded weight table is embedded in both
    engines, so the whole inference path is value-oracled."""
    d = _t(spark, sf_dir, "documents")
    # spread by id before the per-token hashing expression: the scoring
    # is scan-fused, and a single-row-group corpus file would evaluate
    # it serially (r07: 0.57 → 0.17 s at sf0.1 for one narrow shuffle
    # of (id, text)).  Input-parallelism-gated (operators/_spread.py).
    from graphmapreduce_spark.operators._spread import spread_by

    return (
        spread_by(d.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.round(
                T.hashed_ngram_score("text", num_buckets=4096, seed=42), 6
            ).alias("score"),
        )
    )


@register(
    "q154_temperature_sample",
    """
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS ng
      FROM documents GROUP BY lang
    ),
    m AS (SELECT MAX(ng) AS nmax FROM c),
    r AS (
      SELECT lang, LEAST(1.0, 0.5 * POW(ng / nmax, 0.5 - 1.0)) AS pg
      FROM c, m
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN r USING (lang)
    WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':0'), 1, 15))
             ::BIGINT % 1000000) / 1000000.0 < pg
    """,
)
def q154_temperature_sample(spark, sf_dir):
    """Temperature-scaled mixture resampling over the language column
    (alpha=0.5 flattens the en-heavy mixture toward the tail languages;
    the largest language keeps base_rate=0.5).  Draw-for-draw md5
    oracle — every kept row matches."""
    d = _t(spark, sf_dir, "documents")
    out = SMP.temperature_sample(
        d, "doc_id", "lang", alpha=0.5, base_rate=0.5, hash_fn="md5"
    )
    return out.select("doc_id", "lang")


@register(
    "q155_unigram_surprisal",
    r"""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               w -> w <> '')) AS w
      FROM documents
    ),
    v AS (SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w),
    t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM v)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(-LN(cnt / n)), 6) AS surprisal
    FROM tok JOIN v USING (w), t
    GROUP BY doc_id
    """,
)
def q155_unigram_surprisal(spark, sf_dir):
    """Corpus-unigram-LM surprisal per document — the CCNet-style
    perplexity quality filter with the corpus as its own LM.  Vocab agg
    + broadcast-scalar N + per-doc agg; fully value-oracled."""
    from graphmapreduce_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents")
    return Q.unigram_surprisal(d, "doc_id", "text")


@register(
    "q156_pmi",
    r"""
    WITH dw AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, UNNEST(list_filter(
          string_split_regex(trim(text), '\s+'), x -> x <> '')) AS term
        FROM documents WHERE doc_id < 400)
      WHERE length(term) >= 4
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM dw),
    df AS (SELECT term, count(*) AS d FROM dw GROUP BY term),
    keep AS (SELECT term, d FROM df WHERE d BETWEEN 5 AND 320),
    dk AS (SELECT dw.doc_id, dw.term FROM dw JOIN keep USING (term)),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             CAST(count(*) AS BIGINT) AS support
      FROM dk a JOIN dk b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2 HAVING count(*) >= 8
    )
    SELECT term_a, term_b, support,
           ROUND(LN(support * nd / (ka.d * kb.d)), 6) AS pmi
    FROM pairs
    JOIN keep ka ON ka.term = term_a
    JOIN keep kb ON kb.term = term_b, n
    ORDER BY pmi DESC, term_a, term_b LIMIT 25
    """,
)
def q156_pmi(spark, sf_dir):
    """Pointwise mutual information over within-document co-occurrence —
    the association statistic behind embedding-era collocation mining
    (word2vec's implicit factorization target).  Same scale hygiene as
    q120 (document-frequency band before the within-doc self-join, so a
    corpus-wide term cannot go quadratic), then PMI = ln(n_ab·N /
    (n_a·n_b)) from one broadcast df-table join; TakeOrdered top-k."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    dw = (
        d.select("doc_id", F.explode(T.words("text")).alias("term"))
        .filter(F.length("term") >= 4)
        .distinct()
        .localCheckpoint(eager=False)
    )
    nd = dw.agg(
        F.countDistinct("doc_id").cast("double").alias("nd")
    )
    keep = (
        dw.groupBy("term")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter((F.col("d") >= 5) & (F.col("d") <= 320))
    )
    dk = dw.join(F.broadcast(keep.select("term")), "term").localCheckpoint(
        eager=False
    )
    pairs = (
        dk.alias("a")
        .join(
            dk.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 8)
    )
    scored = (
        pairs.join(
            F.broadcast(
                keep.select(F.col("term").alias("term_a"), F.col("d").alias("da"))
            ),
            "term_a",
        )
        .join(
            F.broadcast(
                keep.select(F.col("term").alias("term_b"), F.col("d").alias("db"))
            ),
            "term_b",
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "term_a",
            "term_b",
            "support",
            F.round(
                F.log(
                    F.col("support") * F.col("nd") / (F.col("da") * F.col("db"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("term_a"), F.asc("term_b")
    ).limit(25)


@register(
    "q157_linear_interp",
    """
    WITH e AS (
      SELECT user_id AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
      FROM events WHERE user_id < 50
    ),
    obs AS (
      SELECT k, t, MAX(value) AS v, 1 AS o FROM e GROUP BY k, t
    ),
    bounds AS (SELECT k, (MIN(t) // 3600) * 3600 AS lo,
                      (MAX(t) // 3600) * 3600 AS hi
               FROM obs GROUP BY k),
    grid AS (SELECT k, g AS t, NULL::DOUBLE AS v, 0 AS o
             FROM bounds, UNNEST(range(lo, hi + 1, 3600)) AS s(g)),
    u AS (SELECT * FROM obs UNION ALL SELECT * FROM grid),
    w AS (
      SELECT k, t, o,
        last_value(CASE WHEN o = 1 THEN t END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, o DESC
                ROWS UNBOUNDED PRECEDING) AS pt,
        last_value(CASE WHEN o = 1 THEN v END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, o DESC
                ROWS UNBOUNDED PRECEDING) AS pv,
        first_value(CASE WHEN o = 1 THEN t END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, o ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
        first_value(CASE WHEN o = 1 THEN v END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY t, o ASC
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
      FROM u
    )
    SELECT k AS user_id, t AS bucket_start,
           ROUND(CASE WHEN pt IS NULL OR nt IS NULL THEN NULL
                      WHEN nt = pt THEN pv
                      ELSE pv + (nv - pv) * (t - pt) / (nt - pt)
                 END, 6) AS value
    FROM w WHERE o = 0
    """,
)
def q157_linear_interp(spark, sf_dir):
    """Hourly linear-interpolation resampling of the event series —
    `resample_interpolate`: one keyed shuffle carries both bracketing
    windows; the whole union+window+arithmetic pipeline is replicated
    in the oracle."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return TS.resample_interpolate(e, "user_id", "ts", "value", 3600)


@register(
    "q158_containment_join",
    """
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, GREATEST(length(text) - 2, 0) + 1),
               i -> substr(text, i, 3))) AS grams
      FROM documents WHERE doc_id < 100
    ),
    inv AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / len(sa.grams), 6) AS cont_a_in_b,
           ROUND(CAST(i AS DOUBLE) / len(sb.grams), 6) AS cont_b_in_a
    FROM inter
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / len(sa.grams) >= 0.8
       OR CAST(i AS DOUBLE) / len(sb.grams) >= 0.8
    """,
)
def q158_containment_join(spark, sf_dir):
    """n-gram containment join (|A∩B|/|A|, both directions) — the
    asymmetric quote/excerpt/contamination detector where symmetric
    Jaccard under-fires because the union is dominated by the longer
    document.  Same inverted-index plan as q45."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.ngram_containment_pairs(d, "doc_id", "text", n=3, threshold=0.8)


@register(
    "q161_prefix_jaccard",
    """
    WITH sh AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, GREATEST(length(text) - 2, 0) + 1),
               i -> substr(text, i, 3))) AS grams
      FROM documents WHERE doc_id < 150
    ),
    inv AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) /
                 (len(sa.grams) + len(sb.grams) - i), 6) AS jaccard
    FROM inter
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (len(sa.grams) + len(sb.grams) - i) >= 0.5
    """,
)
def q161_prefix_jaccard(spark, sf_dir):
    """PPJoin prefix-filtered exact Jaccard join (Xiao et al. WWW'08):
    only each doc's rarest |A|−⌈t·|A|⌉+1 shingles are indexed; the
    oracle is the PLAIN full-inverted-index SQL, so the value check
    PROVES the prefix filter is lossless on real data."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return D.ngram_jaccard_pairs_prefix(
        d, "doc_id", "text", n=3, threshold=0.5
    )


@register(
    "q160_asof_tolerance",
    """
    SELECT p.event_id, p.user_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch(p.ts) - epoch(c.ts) <= 600
                THEN c.value END AS last_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def q160_asof_tolerance(spark, sf_dir):
    """As-of join with a match tolerance (pandas merge_asof parity):
    the most recent click within 10 minutes of each purchase — stale
    matches null out exactly as if absent.  Same single-shuffle
    union+window plan as q22 with one extra carried column."""
    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    c = e.filter(F.col("event_type") == "click").withColumnRenamed(
        "value", "last_click_value"
    )
    out = asof_join(
        p, c, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["last_click_value"], direction="backward", tolerance=600,
    )
    return out.select("event_id", "user_id", "last_click_value")


def _weighted_pagerank_oracle_sql(
    n_iter: int = 10, d: float = 0.85, k: int = 500
) -> str:
    """Unrolled WEIGHTED power iteration: contrib = rank·w/strength,
    edge weight = pair multiplicity in lineitem (repeat interactions)."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT l_orderkey % {k} AS src, l_partkey % {k} AS dst,
             COUNT(*)::DOUBLE AS w
      FROM lineitem WHERE l_orderkey % {k} <> l_partkey % {k}
      GROUP BY 1, 2
    ),
    v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
    stg AS MATERIALIZED (
      SELECT src AS id, SUM(w) AS s FROM e GROUP BY src),
    nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM v),
    r0 AS MATERIALIZED (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM v)
    """
    its = []
    for i in range(1, n_iter + 1):
        p = f"r{i - 1}"
        its.append(f"""
    r{i} AS MATERIALIZED (
      SELECT v.id,
             (1-{d})/(SELECT n FROM nn)
             + {d} * (SELECT COALESCE(SUM(r.rank),0) FROM {p} r
                      LEFT JOIN stg dg ON dg.id = r.id WHERE dg.id IS NULL)
                   / (SELECT n FROM nn)
             + {d} * COALESCE(s.in_sum, 0) AS rank
      FROM v
      LEFT JOIN (SELECT e.dst AS id, SUM(r.rank * e.w / dg.s) AS in_sum
                 FROM e JOIN {p} r ON r.id = e.src
                        JOIN stg dg ON dg.id = e.src
                 GROUP BY e.dst) s ON s.id = v.id
    )""")
    return (
        pre + "," + ",".join(its)
        + f"\n    SELECT id, ROUND(rank, 6) AS rank FROM r{n_iter}"
    )


@register("q159_weighted_pagerank", _weighted_pagerank_oracle_sql())
def q159_weighted_pagerank(spark, sf_dir):
    """WEIGHTED PageRank — rank distributed over out-edges proportional
    to edge weight (pair multiplicity), the natural mode for the
    reference's weighted-adjacency graph format (graph.h adjwgt).
    Oracle: the same 10 weighted power iterations unrolled as SQL CTEs."""
    li = _t(spark, sf_dir, "lineitem")
    e = (
        li.select(
            (F.col("l_orderkey") % 500).alias("src"),
            (F.col("l_partkey") % 500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    g = PropertyGraph.from_edges(e)
    pr = alg.pagerank(
        g,
        damping=0.85,
        max_iter=10,
        threshold=1e-8,
        check_interval=5,
        weighted=True,
    )
    return pr.select("id", F.round("rank", 6).alias("rank"))


def _hits_oracle_sql(n_iter: int = 8, k: int = 500) -> str:
    """Unrolled Kleinberg iterations: auth ← Σ in-hub, L2-normalize,
    hub ← Σ out-auth, L2-normalize — norms as scalar subqueries over the
    raw sums (zeros contribute nothing, so raw == padded norm)."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {k} AS src, l_partkey % {k} AS dst
      FROM lineitem WHERE l_orderkey % {k} <> l_partkey % {k}
    ),
    v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
    h0 AS MATERIALIZED (SELECT id, 1.0 AS h FROM v)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(f"""
    a{i}r AS MATERIALIZED (
      SELECT e.dst AS id, SUM(p.h) AS a
      FROM e JOIN h{i - 1} p ON p.id = e.src GROUP BY e.dst),
    a{i} AS MATERIALIZED (
      SELECT v.id, COALESCE(r.a, 0) / (SELECT sqrt(SUM(a*a)) FROM a{i}r) AS a
      FROM v LEFT JOIN a{i}r r ON r.id = v.id),
    h{i}r AS MATERIALIZED (
      SELECT e.src AS id, SUM(p.a) AS h
      FROM e JOIN a{i} p ON p.id = e.dst GROUP BY e.src),
    h{i} AS MATERIALIZED (
      SELECT v.id, COALESCE(r.h, 0) / (SELECT sqrt(SUM(h*h)) FROM h{i}r) AS h
      FROM v LEFT JOIN h{i}r r ON r.id = v.id)""")
    return (
        pre + "," + ",".join(its)
        + f"""
    SELECT a.id, ROUND(a.a, 6) AS auth, ROUND(h.h, 6) AS hub
    FROM a{n_iter} a JOIN h{n_iter} h ON h.id = a.id"""
    )


@register("q162_hits", _hits_oracle_sql())
def q162_hits(spark, sf_dir):
    """HITS hubs & authorities — the reference's PageRank dataflow
    (algorithms.h:4-37) with two message exchanges per superstep and an
    in-plan broadcast L2 normalizer.  Oracle: the same 8 Kleinberg
    iterations unrolled as SQL CTEs."""
    g = _mod_graph(spark, sf_dir, 500)
    out = alg.hits(g, max_iter=8)
    return out.select(
        "id", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
    )


def _closeness_oracle_sql(
    sources: tuple[int, ...] = (0, 1, 2), mod: int = 500, depth: int = 8
) -> str:
    """Per-source unrolled min-dist BFS (same frontier algebra as
    _harmonic_oracle_sql), collapsed to reached-count / distance-sum."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {mod} AS src, l_partkey % {mod} AS dst
      FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod})"""
    blocks, finals = [], []
    for s in sources:
        blocks.append(f"""
    s{s}d0 AS (SELECT CAST({s} AS BIGINT) AS id, 0 AS dist)""")
        for i in range(1, depth + 1):
            p = f"s{s}d{i - 1}"
            blocks.append(f"""
    s{s}d{i} AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM {p}
        UNION ALL
        SELECT e.dst AS id, p.dist + 1 AS dist
        FROM e JOIN {p} p ON p.id = e.src
      ) GROUP BY id)""")
        finals.append(
            f"SELECT id, dist FROM s{s}d{depth} WHERE dist > 0"
        )
    return (
        pre
        + ","
        + ",".join(blocks)
        + f"""
    SELECT id, COUNT(*)::BIGINT AS n_reached, SUM(dist)::BIGINT AS total_dist,
           ROUND(COUNT(*)::DOUBLE / SUM(dist), 6) AS closeness
    FROM ({" UNION ALL ".join(finals)}) GROUP BY id"""
    )


@register("q163_closeness_centrality", _closeness_oracle_sql())
def q163_closeness_centrality(spark, sf_dir):
    """Sampled closeness centrality from 3 fixed seed sources — one
    frontier-filtered BFS per source over the shared cached edge table
    (harmonic_centrality's dataflow, distance-sum collapse)."""
    g = _mod_graph(spark, sf_dir)
    out = alg.closeness_centrality(g, [0, 1, 2])
    return out.select(
        "id",
        "n_reached",
        F.col("total_dist").cast("long").alias("total_dist"),
        F.round("closeness", 6).alias("closeness"),
    )


@register(
    "q164_gaps_islands",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS b
      FROM events
    ),
    r AS (
      SELECT user_id, b,
             b - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY b) AS a
      FROM d
    )
    SELECT user_id, MIN(b) AS island_start, MAX(b) AS island_end,
           COUNT(*)::BIGINT AS n_buckets
    FROM r GROUP BY user_id, a
    """,
)
def q164_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive activity days per
    user — distinct, anchor window, and hash agg all on the one user_id
    partitioning (`relational.gaps_islands`)."""
    e = _t(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
    )
    return R.gaps_islands(days, "user_id", "day")


@register(
    "q165_skyline",
    """
    SELECT p_partkey, p_retailprice, p_size
    FROM part r
    WHERE NOT EXISTS (
      SELECT 1 FROM part s
      WHERE s.p_retailprice <= r.p_retailprice AND s.p_size >= r.p_size
        AND (s.p_retailprice < r.p_retailprice OR s.p_size > r.p_size))
    """,
)
def q165_skyline(spark, sf_dir):
    """2-D Pareto frontier (cheapest-price / largest-size parts).  The
    oracle is the textbook quadratic NOT-EXISTS; the Spark plan is the
    scale path — per-price hash agg, cummax over the collapsed distinct
    values, broadcast semi-join back (`relational.skyline_2d`)."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return R.skyline_2d(p, "p_retailprice", "p_size")


@register(
    "q166_group_mode",
    """
    WITH c AS (
      SELECT p_type, p_brand, COUNT(*)::BIGINT AS n
      FROM part GROUP BY 1, 2
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY p_type ORDER BY n DESC, p_brand ASC) AS rn
      FROM c
    )
    SELECT p_type, p_brand AS mode, n FROM r WHERE rn = 1
    """,
)
def q166_group_mode(spark, sf_dir):
    """Per-group modal value with deterministic tiebreak (count desc,
    value asc) — count-then-rank so the window sees the collapsed
    group×value table, not the raw rows (`relational.group_mode`)."""
    p = _t(spark, sf_dir, "part")
    return R.group_mode(p, ["p_type"], "p_brand")


@register(
    "q167_dup_ngram_spans",
    r"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         w -> w <> '') AS w
      FROM documents
    ),
    gp AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(w) - 8 + 2),
               i -> ('0x' || substr(md5(
                      array_to_string(list_slice(w, i, i + 7), ' ')),
                      1, 15))::BIGINT)) AS g
      FROM ws WHERE len(w) >= 8
    ),
    cnt AS (SELECT g, COUNT(*) AS c FROM gp GROUP BY g)
    SELECT gp.doc_id AS id, COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
           ROUND(SUM(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS dup_ratio
    FROM gp JOIN cnt USING (g)
    GROUP BY gp.doc_id
    """,
)
def q167_dup_ngram_spans(spark, sf_dir):
    """Substring-level duplication profile (Lee et al. span-dedup
    signal): per document, the fraction of word-8-gram positions whose
    gram repeats corpus-wide.  Positions kept via posexplode-style
    in-array build; md5-60bit gram keys so the count/join shuffles carry
    longs (`dedup.duplicate_ngram_spans`)."""
    d = _t(spark, sf_dir, "documents")
    return D.duplicate_ngram_spans(d, "doc_id", "text", n=8, min_count=2)


def _brandes_oracle_blocks(
    sources: tuple[int, ...], mod: int, depth: int
) -> tuple[str, list]:
    """Shared CTE scaffolding for the two Brandes oracles: per source
    the forward level/σ BFS (anti-join via NOT IN over the accumulated
    visited set) and the backward dependency sweep
    δ(v)=Σ σv/σw·(1+δw) as one LEFT-JOIN agg per level, deepest
    first."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {mod} AS src, l_partkey % {mod} AS dst
      FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod})"""
    blocks = []
    for s in sources:
        blocks.append(f"""
    s{s}f0 AS (SELECT CAST({s} AS BIGINT) AS id, 1.0 AS sigma),
    s{s}vis0 AS (SELECT id FROM s{s}f0)""")
        for l in range(1, depth + 1):
            blocks.append(f"""
    s{s}f{l} AS MATERIALIZED (
      SELECT e.dst AS id, SUM(p.sigma) AS sigma
      FROM e JOIN s{s}f{l - 1} p ON p.id = e.src
      WHERE e.dst NOT IN (SELECT id FROM s{s}vis{l - 1})
      GROUP BY e.dst),
    s{s}vis{l} AS MATERIALIZED (
      SELECT id FROM s{s}vis{l - 1} UNION SELECT id FROM s{s}f{l})""")
        blocks.append(f"""
    s{s}d{depth} AS (SELECT id, sigma, 0.0 AS delta FROM s{s}f{depth})""")
        for l in range(depth - 1, -1, -1):
            blocks.append(f"""
    s{s}d{l} AS MATERIALIZED (
      SELECT p.id, p.sigma,
             COALESCE(SUM(p.sigma / w.sigma * (1 + w.delta)), 0) AS delta
      FROM s{s}f{l} p
      LEFT JOIN e ON e.src = p.id
      LEFT JOIN s{s}d{l + 1} w ON w.id = e.dst
      GROUP BY p.id, p.sigma)""")
    return pre + "," + ",".join(blocks), list(sources)


def _betweenness_oracle_sql(
    sources: tuple[int, ...] = (0, 1, 2), mod: int = 500, depth: int = 8
) -> str:
    body, srcs = _brandes_oracle_blocks(sources, mod, depth)
    finals = [
        f"SELECT id, delta FROM s{s}d{l}"
        for s in srcs
        for l in range(1, depth + 1)
    ]
    return (
        body
        + f"""
    SELECT id, ROUND(SUM(delta), 6) AS betweenness
    FROM ({" UNION ALL ".join(finals)}) GROUP BY id"""
    )


def _edge_betweenness_oracle_sql(
    sources: tuple[int, ...] = (0, 1, 2), mod: int = 500, depth: int = 8
) -> str:
    """Per-edge dependency terms σ(src)/σ(dst)·(1+δ(dst)) of the same
    unrolled sweep, summed over sources and level transitions."""
    body, srcs = _brandes_oracle_blocks(sources, mod, depth)
    finals = [
        f"""SELECT e.src, e.dst,
            p.sigma / w.sigma * (1 + w.delta) AS c
            FROM s{s}f{l} p
            JOIN e ON e.src = p.id
            JOIN s{s}d{l + 1} w ON w.id = e.dst"""
        for s in srcs
        for l in range(0, depth)
    ]
    return (
        body
        + f"""
    SELECT src, dst, ROUND(SUM(c), 6) AS betweenness
    FROM ({" UNION ALL ".join(finals)}) GROUP BY src, dst"""
    )


@register("q168_betweenness", _betweenness_oracle_sql())
def q168_betweenness(spark, sf_dir):
    """Sampled Brandes betweenness from 3 fixed seed sources — forward
    σ-carrying BFS + backward per-level dependency sweep, all joins and
    hash aggs over the shared cached edge table.  Oracle: the same two
    phases unrolled per source as SQL CTEs."""
    g = _mod_graph(spark, sf_dir)
    out = alg.betweenness_centrality(g, [0, 1, 2])
    return out.select("id", F.round("betweenness", 6).alias("betweenness"))


@register(
    "q169_bipartite_projection",
    """
    WITH e AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    ok AS (SELECT p FROM e GROUP BY p HAVING COUNT(*) <= 1000),
    pe AS (SELECT s, e.p FROM e JOIN ok USING (p))
    SELECT a.s AS a, b.s AS b, COUNT(*)::BIGINT AS common
    FROM pe a JOIN pe b ON a.p = b.p AND a.s < b.s
    GROUP BY 1, 2
    """,
)
def q169_bipartite_projection(spark, sf_dir):
    """Bipartite supplier–part graph projected onto suppliers (pairs
    weighted by shared parts) — inverted-index self-join on the part
    key with the hub-part df cap exercised in-plan (1000 exceeds any
    sf0.01 part df, so the oracle stays uncapped-equivalent)."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return alg.bipartite_project(e, max_df=1000)


@register(
    "q170_bigram_surprisal",
    r"""
    WITH ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         w -> w <> '') AS w
      FROM documents
    ),
    tok AS (SELECT UNNEST(w) AS t FROM ws),
    v AS (SELECT COUNT(DISTINCT t)::DOUBLE AS v FROM tok),
    bgp AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i + 1])) AS b
      FROM ws WHERE len(w) >= 2
    ),
    bg AS (
      SELECT doc_id, split_part(b, ' ', 1) AS w1,
             split_part(b, ' ', 2) AS w2
      FROM bgp
    ),
    cb AS (SELECT w1, w2, COUNT(*)::DOUBLE AS cb FROM bg GROUP BY 1, 2),
    cl AS (SELECT w1, COUNT(*)::DOUBLE AS cl FROM bg GROUP BY 1)
    SELECT bg.doc_id, COUNT(*)::BIGINT AS n_bigrams,
           ROUND(AVG(-ln((cb.cb + 1.0) / (cl.cl + (SELECT v FROM v)))), 6)
             AS surprisal
    FROM bg JOIN cb USING (w1, w2) JOIN cl USING (w1)
    GROUP BY bg.doc_id
    """,
)
def q170_bigram_surprisal(spark, sf_dir):
    """Add-1-smoothed bigram-LM surprisal per document — the KenLM
    perplexity-filter shape one n-gram up from q155; bigram stream
    built in-array, two Zipf-bounded count aggs, scalar V broadcast
    (`quality.bigram_surprisal`)."""
    from graphmapreduce_spark.operators import quality as Q

    d = _t(spark, sf_dir, "documents")
    return Q.bigram_surprisal(d, "doc_id", "text", k=1.0)


@register(
    "q171_equi_depth_histogram",
    """
    WITH r AS (
      SELECT l_extendedprice AS v,
             NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey,
                             l_linenumber) AS bucket
      FROM lineitem)
    SELECT bucket::BIGINT AS bucket, COUNT(*)::BIGINT AS n,
           MIN(v) AS lo, MAX(v) AS hi
    FROM r GROUP BY bucket
    """,
)
def q171_equi_depth_histogram(spark, sf_dir):
    """Exact equal-frequency histogram with NTILE semantics — computed
    from `sort.global_rank` (range partition + per-partition row_number
    + offset fold-in), so the complement of q112's equal-WIDTH histogram
    never runs a single-partition window.  Tiebreak columns make the
    order total, so bucket boundaries are engine-identical."""
    from graphmapreduce_spark.operators import sort as GS

    li = _t(spark, sf_dir, "lineitem")
    out = GS.equi_depth_histogram(
        li.select("l_extendedprice", "l_orderkey", "l_linenumber"),
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        buckets=10,
    )
    return out.select("bucket", "n", "lo", "hi")


@register(
    "q172_weighted_median",
    """
    WITH c AS (
      SELECT l_returnflag, l_quantity AS v, SUM(l_extendedprice) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    r AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM c)
    SELECT l_returnflag, MIN(v) AS wmedian
    FROM r WHERE cum * 2 >= tot GROUP BY 1
    """,
)
def q172_weighted_median(spark, sf_dir):
    """Revenue-weighted median quantity per return flag — lower weighted
    median via collapse-then-cumulate: the window walks distinct values
    on the group-key partitioning (`relational.weighted_median`)."""
    li = _t(spark, sf_dir, "lineitem")
    return R.weighted_median(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


def _eccentricity_oracle_sql(
    sources: tuple[int, ...] = (0, 1, 2), mod: int = 500, depth: int = 8
) -> str:
    """Same per-source unrolled min-dist BFS as _closeness_oracle_sql,
    collapsed to the per-SOURCE max distance + reached count."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {mod} AS src, l_partkey % {mod} AS dst
      FROM lineitem WHERE l_orderkey % {mod} <> l_partkey % {mod})"""
    blocks, finals = [], []
    for s in sources:
        blocks.append(f"""
    s{s}d0 AS (SELECT CAST({s} AS BIGINT) AS id, 0 AS dist)""")
        for i in range(1, depth + 1):
            p = f"s{s}d{i - 1}"
            blocks.append(f"""
    s{s}d{i} AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM {p}
        UNION ALL
        SELECT e.dst AS id, p.dist + 1 AS dist
        FROM e JOIN {p} p ON p.id = e.src
      ) GROUP BY id)""")
        finals.append(
            f"""SELECT CAST({s} AS BIGINT) AS id,
            MAX(dist)::BIGINT AS eccentricity,
            (COUNT(*) - 1)::BIGINT AS n_reached FROM s{s}d{depth}"""
        )
    return pre + "," + ",".join(blocks) + "\n" + " UNION ALL ".join(finals)


@register("q173_eccentricity", _eccentricity_oracle_sql())
def q173_eccentricity(spark, sf_dir):
    """Sampled landmark eccentricity (max BFS distance per seed source,
    the double-sweep diameter heuristic's primitive) — one tagged
    multi-source BFS, one per-source agg."""
    g = _mod_graph(spark, sf_dir)
    out = alg.eccentricity(g, [0, 1, 2])
    return out.select(
        "id",
        F.col("eccentricity").cast("long").alias("eccentricity"),
        "n_reached",
    )


@register(
    "q174_benford_audit",
    """
    WITH d AS (
      SELECT substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                    AS VARCHAR), 1, 1)::INT AS digit
      FROM lineitem WHERE l_extendedprice > 0
    ),
    c AS (SELECT digit, COUNT(*)::BIGINT AS n FROM d
          WHERE digit > 0 GROUP BY digit),
    t AS (SELECT SUM(n)::DOUBLE AS t FROM c)
    SELECT digit, n,
           ROUND(n / t.t, 6) AS freq,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS expected,
           ROUND(ABS(n / t.t - log10(1.0 + 1.0 / digit)), 6) AS deviation
    FROM c CROSS JOIN t
    """,
)
def q174_benford_audit(spark, sf_dir):
    """Benford first-digit audit over extended prices — the
    fabricated-data / unit-mixing quality check: one 9-row map-side
    combined agg + broadcast total (`quality.benford_audit`)."""
    li = _t(spark, sf_dir, "lineitem")
    from graphmapreduce_spark.operators import quality as Q

    return Q.benford_audit(li, "l_extendedprice")


@register(
    "q175_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_event
      FROM events
    ),
    c AS (
      SELECT prev_event, event_type AS event, COUNT(*)::BIGINT AS n
      FROM seq WHERE prev_event IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT prev_event, SUM(n)::DOUBLE AS t FROM c GROUP BY 1)
    SELECT c.prev_event, c.event, c.n, ROUND(c.n / tot.t, 6) AS p
    FROM c JOIN tot USING (prev_event)
    """,
)
def q175_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (the session-flow / next-event-model statistic): one lag
    window on the user-key partitioning (ties broken by event_id so the
    sequence is engine-identical), pair counts, and a per-prev
    normalizer joined back — the normalizer table is |event_type|²-
    bounded, so AQE broadcasts it at any event volume."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev_event", F.lag("event_type").over(w))
    c = (
        seq.filter(F.col("prev_event").isNotNull())
        .groupBy("prev_event", F.col("event_type").alias("event"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.groupBy("prev_event").agg(F.sum("n").cast("double").alias("_t"))
    return c.join(tot, "prev_event").select(
        "prev_event",
        "event",
        "n",
        F.round(F.col("n") / F.col("_t"), 6).alias("p"),
    )


@register("q176_edge_betweenness", _edge_betweenness_oracle_sql())
def q176_edge_betweenness(spark, sf_dir):
    """Sampled EDGE betweenness (the Girvan–Newman cut primitive) from
    the same tagged Brandes sweep as q168 — the per-edge dependency
    terms are that sweep's pre-aggregation rows, summed per edge."""
    g = _mod_graph(spark, sf_dir)
    out = alg.edge_betweenness(g, [0, 1, 2])
    return out.select(
        "src", "dst", F.round("betweenness", 6).alias("betweenness")
    )


@register(
    "q177_period_over_period",
    """
    WITH m AS (
      SELECT date_part('year', l_shipdate)::BIGINT AS y,
             date_part('month', l_shipdate)::BIGINT AS m,
             -- price has 2dp and (1-discount) 2dp, so the true product
             -- is a <=4dp value the double approximates within an ulp:
             -- the DECIMAL(18,4) cast recovers it EXACTLY, and the
             -- decimal SUM is order-proof (q418 float discipline) --
             -- the double SUM + ROUND(,2) this replaces hit a cent
             -- tie at sf1 monthly magnitudes
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))) AS rev4
      FROM lineitem GROUP BY 1, 2
    ),
    md AS (
      SELECT y, m,
             CAST(CAST(ROUND(rev4, 2) * 100 AS DECIMAL(38,0)) AS DOUBLE)
               / 100 AS revenue
      FROM m
    )
    SELECT y, m, revenue,
           ROUND((revenue - LAG(revenue) OVER (ORDER BY y, m))
                 / LAG(revenue) OVER (ORDER BY y, m), 6) AS pct_change
    FROM md
    """,
)
def q177_period_over_period(spark, sf_dir):
    """Month-over-month revenue change — the reporting staple: the lag
    window runs over the COLLAPSED monthly table (tens of rows at any
    fact volume), so the single-partition order is bounded by the
    calendar, never the data.  Revenue accumulates as an exact
    DECIMAL(18,4) (the per-row product is a true <=4dp value) and
    converts to double via the cents-integer SAFE-CAST, so the emitted
    bytes are partition-order-proof at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.year("l_shipdate").cast("long").alias("y"),
        F.month("l_shipdate").cast("long").alias("m"),
    ).agg(
        F.sum(
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(18,4)")
        ).alias("rev4")
    )
    md = m.select(
        "y",
        "m",
        (
            (F.round(F.col("rev4"), 2) * 100)
            .cast("decimal(38,0)")
            .cast("double")
            / 100
        ).alias("revenue"),
    )
    w = Window.orderBy("y", "m")
    prev = F.lag("revenue").over(w)
    return md.withColumn(
        "pct_change", F.round((F.col("revenue") - prev) / prev, 6)
    )


@register(
    "q178_skew_report",
    """
    WITH c AS (
      SELECT l_partkey, COUNT(*)::BIGINT AS n FROM lineitem GROUP BY 1
    )
    SELECT SUM(n)::BIGINT AS n_rows, COUNT(*)::BIGINT AS n_keys,
           MAX(n)::BIGINT AS max_n,
           ROUND(MAX(n) / SUM(n)::DOUBLE, 6) AS top_share,
           ROUND(ln(SUM(n)::DOUBLE)
                 - SUM(n * ln(n::DOUBLE)) / SUM(n)::DOUBLE, 6) AS entropy
    FROM c
    """,
)
def q178_skew_report(spark, sf_dir):
    """Join-key skew diagnostic over the part key — the decision input
    for q146's salted join: hottest-key share + distribution entropy
    from one count agg and a 1-row collapse
    (`quality.skew_report`)."""
    li = _t(spark, sf_dir, "lineitem")
    from graphmapreduce_spark.operators import quality as Q

    return Q.skew_report(li, ["l_partkey"])


@register(
    "q179_interval_union",
    """
    WITH iv AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
      FROM events
    ),
    m AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pm
      FROM iv
    ),
    g AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS grp
      FROM m
    ),
    c AS (
      SELECT user_id, grp, MIN(s) AS ms, MAX(e) AS me
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id, COUNT(*)::BIGINT AS n_intervals,
           SUM(me - ms)::BIGINT AS covered
    FROM c GROUP BY user_id
    """,
)
def q179_interval_union(spark, sf_dir):
    """Per-user union measure of 5-minute activity windows (overlaps
    counted once) — the utilization/SLA primitive: plane sweep as a
    strict-predecessor running-max window + group numbering, all on one
    user-key partitioning (`relational.interval_union`)."""
    e = _t(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.col("ts").cast("long").alias("s"),
        (F.col("ts").cast("long") + 300).alias("e"),
    )
    return R.interval_union(iv, ["user_id"], "s", "e")


@register(
    "q180_cumulative_distinct",
    """
    WITH firstday AS (
      SELECT user_id,
             MIN(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT day, COUNT(*)::BIGINT AS new_users
      FROM firstday GROUP BY day
    )
    SELECT day, new_users,
           SUM(new_users) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING)::BIGINT
             AS cum_users
    FROM daily
    """,
)
def q180_cumulative_distinct(spark, sf_dir):
    """Running distinct-user count by day — EXACT cumulative distinct
    via the first-seen trick: distinct collapses to one row per user
    (min day), the cumulative window then runs over the collapsed
    per-day table (calendar-bounded), never the raw events."""
    e = _t(spark, sf_dir, "events")
    fd = e.groupBy("user_id").agg(
        F.min(F.floor(F.col("ts").cast("long") / 86400).cast("long")).alias(
            "day"
        )
    )
    daily = fd.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.withColumn(
        "cum_users", F.sum("new_users").over(w).cast("long")
    )


@register(
    "q181_hard_negatives",
    """
    WITH c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
         q AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(range(1, len(q.v) + 1),
                              i -> q.v[i] * c.v[i]))
               / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 6)
               AS cosine
      FROM c CROSS JOIN q
      WHERE q.label <> c.label
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored) t
    WHERE rank <= 10
    """,
)
def q181_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive pairs: per query vector the
    top-10 most-similar vectors with a DIFFERENT label — q48's
    broadcast-scan plan with the label-inequality predicate pushed into
    the scoring join (`similarity.hard_negatives`)."""
    from graphmapreduce_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "q182_class_weights",
    """
    WITH c AS (SELECT label, COUNT(*)::BIGINT AS n
               FROM embeddings GROUP BY label),
    t AS (SELECT SUM(n)::DOUBLE AS tot, COUNT(*)::DOUBLE AS k FROM c)
    SELECT label, n,
           ROUND(n / t.tot, 6) AS share,
           ROUND(t.tot / (t.k * n), 6) AS weight
    FROM c CROSS JOIN t
    """,
)
def q182_class_weights(spark, sf_dir):
    """Class-balance report + inverse-frequency reweighting factors
    (sklearn's 'balanced' convention, weight = N/(k·n_c)) — the label
    audit before classifier-head training: one count agg + broadcast
    1-row total."""
    emb = _t(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(
        F.sum("n").cast("double").alias("_tot"),
        F.count(F.lit(1)).cast("double").alias("_k"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        F.round(F.col("n") / F.col("_tot"), 6).alias("share"),
        F.round(F.col("_tot") / (F.col("_k") * F.col("n")), 6).alias(
            "weight"
        ),
    )


def _katz_oracle_sql(
    n_iter: int = 8, alpha: float = 0.005, beta: float = 1.0, k: int = 500
) -> str:
    """Unrolled Katz iteration x = β + α·(Aᵀx) from x₀ = β."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {k} AS src, l_partkey % {k} AS dst
      FROM lineitem WHERE l_orderkey % {k} <> l_partkey % {k}
    ),
    v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
    k0 AS MATERIALIZED (SELECT id, {beta}::DOUBLE AS x FROM v)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(f"""
    k{i} AS MATERIALIZED (
      SELECT v.id, {beta}::DOUBLE + {alpha}::DOUBLE * COALESCE(s.in_sum, 0) AS x
      FROM v
      LEFT JOIN (SELECT e.dst AS id, SUM(r.x) AS in_sum
                 FROM e JOIN k{i - 1} r ON r.id = e.src
                 GROUP BY e.dst) s ON s.id = v.id
    )""")
    return (
        pre + "," + ",".join(its)
        + f"\n    SELECT id, ROUND(x, 6) AS katz FROM k{n_iter}"
    )


@register("q183_katz", _katz_oracle_sql())
def q183_katz(spark, sf_dir):
    """Katz centrality (attenuated walk counts) — pagerank's superstep
    plan minus degree normalization; 8 unrolled iterations as the
    oracle."""
    g = _mod_graph(spark, sf_dir, 500)
    # alpha must sit below 1/lambda_max (~1/44 on this graph) or the
    # series diverges and round-6 parity dies at double precision
    out = alg.katz_centrality(g, alpha=0.005, beta=1.0, max_iter=8)
    return out.select("id", F.round("katz", 6).alias("katz"))


def _eigenvector_oracle_sql(n_iter: int = 8, k: int = 500) -> str:
    """Unrolled power iteration x = Aᵀx from x₀ = 1, L2-normalized once
    at the end (mirrors eigenvector_centrality exactly)."""
    pre = f"""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l_orderkey % {k} AS src, l_partkey % {k} AS dst
      FROM lineitem WHERE l_orderkey % {k} <> l_partkey % {k}
    ),
    v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e),
    x0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS x FROM v)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(f"""
    x{i} AS MATERIALIZED (
      SELECT v.id, COALESCE(s.in_sum, 0)::DOUBLE AS x
      FROM v
      LEFT JOIN (SELECT e.dst AS id, SUM(r.x) AS in_sum
                 FROM e JOIN x{i - 1} r ON r.id = e.src
                 GROUP BY e.dst) s ON s.id = v.id
    )""")
    return (
        pre + "," + ",".join(its)
        + f"""
    SELECT id,
           ROUND(x / (SELECT sqrt(SUM(x * x)) FROM x{n_iter}), 6)
             AS eigenvector
    FROM x{n_iter}"""
    )


@register("q184_eigenvector", _eigenvector_oracle_sql())
def q184_eigenvector(spark, sf_dir):
    """Eigenvector centrality by 8 power-iteration supersteps,
    un-normalized chunks + one final L2 norm (the HITS trick on a
    single vector)."""
    g = _mod_graph(spark, sf_dir, 500)
    out = alg.eigenvector_centrality(g, max_iter=8)
    return out.select(
        "id", F.round("eigenvector", 6).alias("eigenvector")
    )


@register(
    "q185_reciprocity",
    """
    WITH e AS (
      SELECT DISTINCT l_orderkey % 500 AS src, l_partkey % 500 AS dst
      FROM lineitem WHERE l_orderkey % 500 <> l_partkey % 500
    )
    SELECT (SELECT COUNT(*) FROM e)::BIGINT AS n_edges,
           (SELECT COUNT(*) FROM e a
            WHERE EXISTS (SELECT 1 FROM e b
                          WHERE b.src = a.dst AND b.dst = a.src))::BIGINT
             AS n_mutual,
           ROUND((SELECT COUNT(*) FROM e a
                  WHERE EXISTS (SELECT 1 FROM e b
                                WHERE b.src = a.dst AND b.dst = a.src))
                 / (SELECT COUNT(*) FROM e)::DOUBLE, 6) AS reciprocity
    """,
)
def q185_reciprocity(spark, sf_dir):
    """Directed-edge reciprocity (mutual-edge fraction) — one flipped
    self-semi-join + two counts (`algorithms.reciprocity`)."""
    g = _mod_graph(spark, sf_dir)
    return alg.reciprocity(g)


@register(
    "q186_band_join",
    """
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           ROUND(ABS(a.p_retailprice - b.p_retailprice), 2) AS price_gap
    FROM part a JOIN part b
      ON ABS(a.p_retailprice - b.p_retailprice) <= 0.5
     AND a.p_partkey < b.p_partkey
    """,
)
def q186_band_join(spark, sf_dir):
    """Numeric band join (|price gap| ≤ 0.5) via eps-bucket blocking —
    equi join on floor(val/eps) with 3-bucket left expansion, exact
    band re-checked post-join; the oracle is the quadratic theta join
    (`relational.band_join`)."""
    p = _t(spark, sf_dir, "part")
    a = p.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_retailprice").alias("pa"),
    )
    b = p.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_retailprice").alias("pb"),
    )
    out = R.band_join(
        a, b, "pa", "pb", 0.5, condition=F.col("a_key") < F.col("b_key")
    )
    return out.select(
        "a_key",
        "b_key",
        F.round(F.abs(F.col("pa") - F.col("pb")), 2).alias("price_gap"),
    )


@register(
    "q187_leakage_safe_split",
    f"""
    WITH RECURSIVE
    {_PAIR_CLOSURE_CTES},
    alld AS (SELECT doc_id FROM documents WHERE doc_id < 100),
    asg AS (
      SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
      FROM alld d LEFT JOIN clusters c ON c.id = d.doc_id
    ),
    b AS (
      SELECT doc_id, cluster,
             {_MD5_BUCKET.format(col='cluster', seed=1)} AS bk
      FROM asg
    )
    SELECT doc_id, cluster,
           CASE WHEN bk < 800000 THEN 'train'
                WHEN bk < 900000 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q187_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: hash on the near-dup CLUSTER
    id, not the doc id, so near-duplicates can never straddle a split
    boundary and leak eval data into training — the q80 split's
    correctness upgrade, composing the q76 closure with the md5 bucket
    ranges.  Singleton docs are their own cluster."""
    d, pairs = _pair_frame(spark, sf_dir)
    clusters = D.dedup_clusters(pairs)
    assigned = (
        d.select("doc_id")
        .join(clusters, d["doc_id"] == clusters["id"], "left")
        .select(
            "doc_id",
            F.coalesce("cluster", F.col("doc_id")).alias("cluster"),
        )
    )
    bk = F.pmod(
        T.md5_hash60(
            F.concat(F.col("cluster").cast("string"), F.lit(":1"))
        ),
        F.lit(1_000_000),
    )
    return assigned.select(
        "doc_id",
        "cluster",
        F.when(bk < 800_000, "train")
        .when(bk < 900_000, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "q188_length_buckets",
    r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '')) AS n_tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, n_tok,
             CAST(POWER(2, CEIL(LOG2(GREATEST(n_tok, 1)))) AS BIGINT)
               AS bucket
      FROM t WHERE n_tok > 0
    )
    SELECT bucket, COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok)::BIGINT AS total_tokens,
           (COUNT(*) * bucket)::BIGINT AS padded_tokens,
           ROUND(1.0 - SUM(n_tok) / (COUNT(*) * bucket)::DOUBLE, 6)
             AS waste_ratio
    FROM b GROUP BY bucket
    """,
)
def q188_length_buckets(spark, sf_dir):
    """Power-of-two length bucketing with padding-waste accounting —
    the batching-efficiency audit run before fixed-shape training
    (docs padded to their bucket; waste = padding fraction).  One
    tokenize + one 20-row hash agg."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.trim(F.col("text")), "\\s+"), lambda w: w != "")
    )
    b = (
        d.select(n_tok.alias("n_tok"))
        .filter(F.col("n_tok") > 0)
        .withColumn(
            "bucket",
            F.pow(
                F.lit(2.0),
                F.ceil(F.log2(F.greatest(F.col("n_tok"), F.lit(1)))),
            ).cast("long"),
        )
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        (F.count(F.lit(1)) * F.col("bucket").cast("long"))
        .alias("padded_tokens"),
        F.round(
            1.0
            - F.sum("n_tok")
            / (F.count(F.lit(1)) * F.col("bucket")).cast("double"),
            6,
        ).alias("waste_ratio"),
    )


@register(
    "q189_encoding_audit",
    r"""
    SELECT doc_id,
           length(text)::BIGINT AS n_chars,
           (length(text) - length(replace(text, chr(65533), '')))::BIGINT
             AS n_replacement,
           (length(text)
            - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]',
                                    '', 'g')))::BIGINT AS n_control
    FROM documents
    """,
)
def q189_encoding_audit(spark, sf_dir):
    """Mojibake / encoding-damage audit: per document the count of
    U+FFFD replacement characters and C0 control characters (tab,
    newline, CR excluded) — the ingest-corruption signal a crawl
    pipeline thresholds on.  Pure scan-speed regexp-count expressions,
    zero shuffles."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit("�"))
        .cast("long")
        .alias("n_replacement"),
        F.regexp_count(
            F.col("text"),
            F.lit("[\x00-\x08\x0B\x0C\x0E-\x1F]"),
        )
        .cast("long")
        .alias("n_control"),
    )


@register(
    "q190_powerlaw_alpha",
    """
    WITH e AS (
      SELECT DISTINCT l_orderkey % 500 AS src, l_partkey % 500 AS dst
      FROM lineitem WHERE l_orderkey % 500 <> l_partkey % 500
    ),
    deg AS (SELECT src, COUNT(*)::DOUBLE AS d FROM e GROUP BY src)
    SELECT COUNT(*)::BIGINT AS n_vertices,
           MIN(d)::BIGINT AS d_min,
           MAX(d)::BIGINT AS d_max,
           ROUND(1.0 + COUNT(*)
                 / SUM(ln(d / (SELECT MIN(d) FROM deg))), 6) AS alpha_mle
    FROM deg
    """,
)
def q190_powerlaw_alpha(spark, sf_dir):
    """Degree-distribution power-law exponent by the Clauset–Shalizi–
    Newman continuous MLE α = 1 + n/Σ ln(d/d_min) over out-degrees —
    the one-row structure statistic deciding whether skew mitigation
    (degree orientation, salting) is even needed.  One degree agg +
    one collapse."""
    li = _t(spark, sf_dir, "lineitem")
    deg = (
        li.select(
            (F.col("l_orderkey") % 500).alias("src"),
            (F.col("l_partkey") % 500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    dmin = deg.agg(F.min("d").alias("_dm"))
    return (
        deg.crossJoin(F.broadcast(dmin))
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("d").cast("long").alias("d_min"),
            F.max("d").cast("long").alias("d_max"),
            F.round(
                1.0
                + F.count(F.lit(1))
                / F.sum(F.log(F.col("d") / F.col("_dm"))),
                6,
            ).alias("alpha_mle"),
        )
    )


@register(
    "q191_join_size",
    """
    WITH l AS (SELECT l_partkey AS k, COUNT(*)::BIGINT AS n
               FROM lineitem GROUP BY 1),
         r AS (SELECT p_partkey AS k, COUNT(*)::BIGINT AS n
               FROM part GROUP BY 1)
    SELECT SUM(l.n * r.n)::BIGINT AS join_rows,
           MAX(l.n * r.n)::BIGINT AS max_key_rows,
           COUNT(*)::BIGINT AS n_join_keys
    FROM l JOIN r USING (k)
    """,
)
def q191_join_size(spark, sf_dir):
    """EXACT join-cardinality forecast without running the join:
    |L ⋈ R| = Σ_k n_L(k)·n_R(k) from the two key histograms — the
    planning diagnostic (with per-key max, the skew half of the
    decision feeding q146's salted join and q178's skew report) at the
    cost of two count aggs and a join over |keys|, not |rows|."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    l = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("nl")
    )
    r = p.groupBy(F.col("p_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("nr")
    )
    return l.join(r, "k").agg(
        F.sum(F.col("nl") * F.col("nr")).alias("join_rows"),
        F.max(F.col("nl") * F.col("nr")).alias("max_key_rows"),
        F.count(F.lit(1)).alias("n_join_keys"),
    )


@register(
    "q192_sliding_distinct",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      FROM events
    ),
    contrib AS (
      SELECT a.user_id, a.day + o.offs AS win_end
      FROM act a
      JOIN (SELECT UNNEST(range(0, 7)) AS offs) o ON TRUE
    ),
    dedup AS (SELECT DISTINCT user_id, win_end FROM contrib),
    days AS (SELECT DISTINCT day FROM act)
    SELECT d.day, COUNT(DISTINCT c.user_id)::BIGINT AS users_7d
    FROM days d JOIN dedup c ON c.win_end = d.day
    GROUP BY d.day
    """,
)
def q192_sliding_distinct(spark, sf_dir):
    """EXACT trailing-7-day distinct users per active day — each
    (user, day) activity contributes to the 7 windows ending on
    day..day+6 (a FIXED 7× explode, never a range self-join), then one
    distinct + count per window end, restricted to days that actually
    occur.  The exact complement of an HLL-by-window rollup."""
    e = _t(spark, sf_dir, "events")
    act = e.select(
        "user_id",
        F.floor(F.col("ts").cast("long") / 86400).cast("long").alias("day"),
    ).distinct()
    contrib = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + 6)
        ).alias("win_end"),
    ).distinct()
    days = act.select("day").distinct()
    return (
        days.join(contrib, days["day"] == contrib["win_end"])
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
    )


@register(
    "q193_rolling_zscore",
    """
    WITH w AS (
      SELECT event_id, user_id, value,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS m,
             STDDEV_SAMP(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS s
      FROM events
    )
    SELECT event_id, user_id, ROUND((value - m) / s, 6) AS z
    FROM w WHERE s > 0 AND ABS((value - m) / s) > 3
    """,
)
def q193_rolling_zscore(spark, sf_dir):
    """Trailing-20-event rolling z-score anomaly flags per user — the
    streaming-monitoring primitive in batch form: one per-user window
    (event_id tiebreak keeps frames engine-identical), flags where
    |z| > 3.  Output is the anomalous rows only."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    scored = e.select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(w).alias("m"),
        F.stddev_samp("value").over(w).alias("s"),
    )
    z = (F.col("value") - F.col("m")) / F.col("s")
    return scored.filter((F.col("s") > 0) & (F.abs(z) > 3)).select(
        "event_id", "user_id", F.round(z, 6).alias("z")
    )


@register(
    "q194_autocorr",
    """
    WITH lagged AS (
      SELECT user_id, value,
             LAG(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS pv
      FROM events
    )
    SELECT user_id, COUNT(*)::BIGINT AS n_pairs,
           ROUND(CORR(value, pv), 6) AS autocorr
    FROM lagged WHERE pv IS NOT NULL
    GROUP BY user_id
    """,
)
def q194_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of event values per user (the
    persistence/seasonality screen before forecasting): one lag window
    + one Pearson-corr agg on the same user partitioning."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.select(
        "user_id", "value", F.lag("value").over(w).alias("pv")
    ).filter(F.col("pv").isNotNull())
    return lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.corr("value", "pv"), 6).alias("autocorr"),
    )


def _langid_confusion_oracle_sql() -> str:
    """The q44 stopword-argmax scorer keyed by the labeled lang column —
    the confusion matrix instead of the marginal."""
    hit_exprs = []
    for lang, stops in sorted(T.STOPWORDS.items()):
        lst = ", ".join(f"'{w}'" for w in stops)
        hit_exprs.append(
            f"len(list_filter(ws, x -> list_contains([{lst}], lower(x))))"
            f" AS h_{lang}"
        )
    hits = ",\n             ".join(hit_exprs)
    return f"""
    WITH toks AS (
      SELECT lang, list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ),
    scored AS (
      SELECT lang, {hits}
      FROM toks
    )
    SELECT lang,
           CASE WHEN GREATEST(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                WHEN h_es >= h_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang,
           COUNT(*)::BIGINT AS n
    FROM scored
    GROUP BY 1, 2
    """


@register("q195_langid_confusion", _langid_confusion_oracle_sql())
def q195_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix: predicted language (q44's stopword
    argmax) against the labeled ``lang`` column — the classifier
    evaluation every corpus-mixing decision leans on.  One scan, one
    |langs|²-bounded agg."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        "lang", T.language_id("text").alias("predicted_lang")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "q196_table_checksum",
    """
    WITH h AS (
      SELECT ('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
               CAST(ROUND(o_totalprice, 2) AS VARCHAR)), 1, 15))::BIGINT
             AS rh
      FROM orders
    )
    SELECT COUNT(*)::BIGINT AS n_rows,
           BIT_XOR(rh)::BIGINT AS xor_checksum,
           SUM(rh % 1000000007)::BIGINT AS modsum_checksum
    FROM h
    """,
)
def q196_table_checksum(spark, sf_dir):
    """Order-insensitive content checksum of a table (row-hash sum) —
    the cheap cross-system integrity handshake before/after a
    migration, CDC replay, or compaction: one scan, two commutative
    aggs, no sort, no collect.  md5-60bit row hashes keep it
    engine-portable; XOR never overflows (but cancels rows duplicated
    an even number of times), and the mod-1e9+7 hash sum catches
    exactly that case while staying exact in BIGINT to ~9·10⁹ rows —
    together with the row count the pair is a robust handshake."""
    o = _t(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round("o_totalprice", 2).cast("string"),
    )
    h = o.select(T.md5_hash60(row_repr).alias("rh"))
    return h.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(rh)").cast("long").alias("xor_checksum"),
        F.sum(F.pmod(F.col("rh"), F.lit(1_000_000_007)))
        .cast("long")
        .alias("modsum_checksum"),
    )


@register(
    "q197_psi_drift",
    """
    WITH b AS (
      SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS period,
             LEAST(CAST(l_quantity AS BIGINT) // 10, 4) AS bucket
      FROM lineitem
    ),
    c AS (SELECT period, bucket, COUNT(*)::DOUBLE AS n
          FROM b GROUP BY 1, 2),
    t AS (SELECT period, SUM(n) AS tot FROM c GROUP BY 1),
    p AS (SELECT c.bucket,
                 MAX(CASE WHEN c.period = 'a' THEN c.n / t.tot END) AS pa,
                 MAX(CASE WHEN c.period = 'b' THEN c.n / t.tot END) AS pb
          FROM c JOIN t USING (period) GROUP BY c.bucket)
    SELECT ROUND(SUM((pa - pb) * ln(pa / pb)), 6) AS psi,
           COUNT(*)::BIGINT AS n_buckets
    FROM p WHERE pa > 0 AND pb > 0
    """,
)
def q197_psi_drift(spark, sf_dir):
    """Population Stability Index between two periods' quantity
    distributions — THE production ML drift gate:
    PSI = Σ (p_i − q_i)·ln(p_i/q_i) over shared buckets.  Two count
    aggs collapse to |buckets| rows before any division; the split here
    is a deterministic orderkey parity stand-in for time periods."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, "a").otherwise("b").alias(
            "period"
        ),
        F.least(
            F.floor(F.col("l_quantity").cast("long") / 10), F.lit(4)
        ).alias("bucket"),
    )
    c = b.groupBy("period", "bucket").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    t = c.groupBy("period").agg(F.sum("n").alias("tot"))
    p = (
        c.join(t, "period")
        .groupBy("bucket")
        .agg(
            F.max(
                F.when(F.col("period") == "a", F.col("n") / F.col("tot"))
            ).alias("pa"),
            F.max(
                F.when(F.col("period") == "b", F.col("n") / F.col("tot"))
            ).alias("pb"),
        )
    )
    return (
        p.filter((F.col("pa") > 0) & (F.col("pb") > 0))
        .agg(
            F.round(
                F.sum(
                    (F.col("pa") - F.col("pb"))
                    * F.log(F.col("pa") / F.col("pb"))
                ),
                6,
            ).alias("psi"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
    )


@register(
    "q198_lexical_diversity",
    r"""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               w -> w <> '')) AS w
      FROM documents
    ),
    per AS (
      SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
    )
    SELECT doc_id,
           SUM(c)::BIGINT AS n_tokens,
           COUNT(*)::BIGINT AS n_types,
           ROUND(COUNT(*) / SUM(c)::DOUBLE, 6) AS ttr,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 / COUNT(*)::DOUBLE, 6) AS hapax_frac
    FROM per GROUP BY doc_id
    """,
)
def q198_lexical_diversity(spark, sf_dir):
    """Type-token ratio + hapax-legomenon fraction per document — the
    lexical-diversity screen separating word-salad spam (TTR→1) from
    template boilerplate (TTR→0): one explode, one (doc, word) agg,
    one per-doc collapse on the same doc partitioning."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), "\\s+"),
                lambda w: w != "",
            )
        ).alias("w"),
    )
    per = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("ttr"),
        F.round(
            F.sum((F.col("c") == 1).cast("long")) / F.count(F.lit(1)), 6
        ).alias("hapax_frac"),
    )


@register(
    "q199_cross_source_dups",
    """
    WITH sh AS (
      SELECT doc_id, source, list_distinct(list_transform(
               range(1, GREATEST(length(text) - 2, 0) + 1),
               i -> substr(text, i, 3))) AS grams
      FROM documents WHERE doc_id < 100
    ),
    inv AS (SELECT doc_id, UNNEST(grams) AS g FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sh sa ON sa.doc_id = id_a
      JOIN sh sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (len(sa.grams) + len(sb.grams) - i) >= 0.6
    )
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           COUNT(*)::BIGINT AS n_pairs
    FROM pairs
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
    GROUP BY 1, 2
    """,
)
def q199_cross_source_dups(spark, sf_dir):
    """Near-duplicate leakage matrix BETWEEN sources: q45's pair
    pipeline joined back to the source column, pair counts keyed by
    the unordered source pair — the report deciding which feeds
    duplicate which before corpus mixing."""
    d, pairs = _pair_frame(spark, sf_dir)
    src = d.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")
    )
    sb = src.select(
        F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "q200_corpus_card",
    r"""
    WITH ws AS (
      SELECT doc_id, lang, source,
             len(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> w <> '')) AS n_tok,
             length(text) AS n_chars
      FROM documents
    )
    SELECT 'n_docs' AS metric, COUNT(*)::DOUBLE AS value FROM ws
    UNION ALL
    SELECT 'total_tokens', SUM(n_tok)::DOUBLE FROM ws
    UNION ALL
    SELECT 'mean_doc_tokens', ROUND(AVG(n_tok), 6) FROM ws
    UNION ALL
    SELECT 'total_chars', SUM(n_chars)::DOUBLE FROM ws
    UNION ALL
    SELECT 'n_langs', COUNT(DISTINCT lang)::DOUBLE FROM ws
    UNION ALL
    SELECT 'n_sources', COUNT(DISTINCT source)::DOUBLE FROM ws
    UNION ALL
    SELECT 'exact_dup_docs',
           (COUNT(*) - COUNT(DISTINCT md5(text)))::DOUBLE FROM documents
    """,
)
def q200_corpus_card(spark, sf_dir):
    """The one-page corpus datasheet (size, token mass, language and
    source breadth, exact-dup mass) as (metric, value) rows — every
    component is a single-pass aggregate over one scan, union'd free;
    the summary a dataset release ships next to the data."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(F.split(F.trim(F.col("text")), "\\s+"), lambda w: w != "")
    )
    ws = d.select(
        "lang", "source", n_tok.alias("n_tok"),
        F.length("text").alias("n_chars"), F.md5("text").alias("_h"),
    )
    agg = ws.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n_tok").cast("double").alias("total_tokens"),
        F.round(F.avg("n_tok"), 6).alias("mean_doc_tokens"),
        F.sum("n_chars").cast("double").alias("total_chars"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct("_h"))
        .cast("double")
        .alias("exact_dup_docs"),
    )
    pairs = ", ".join(
        f"'{m}', `{m}`"
        for m in (
            "n_docs", "total_tokens", "mean_doc_tokens", "total_chars",
            "n_langs", "n_sources", "exact_dup_docs",
        )
    )
    return agg.selectExpr(f"stack(7, {pairs}) AS (metric, value)")


@register(
    "q201_asof_nearest",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, MAX(value) AS v FROM events
          WHERE event_type = 'click' GROUP BY 1, 2),
    sel AS (
      SELECT p.event_id, p.user_id, epoch(p.ts) AS lts,
             (SELECT MAX(epoch(c.ts)) FROM c
              WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS bts,
             (SELECT MIN(epoch(c.ts)) FROM c
              WHERE c.user_id = p.user_id AND c.ts >= p.ts) AS fts
      FROM p),
    pick AS (
      SELECT event_id, user_id, lts,
             CASE WHEN bts IS NOT NULL
                   AND (fts IS NULL OR lts - bts <= fts - lts)
                  THEN bts ELSE fts END AS mts
      FROM sel)
    SELECT pk.event_id, pk.user_id,
           CASE WHEN pk.mts IS NOT NULL AND ABS(pk.lts - pk.mts) <= 900
                THEN c.v END AS nearest_click_value
    FROM pick pk
    LEFT JOIN c ON c.user_id = pk.user_id AND epoch(c.ts) = pk.mts
    """,
)
def q201_asof_nearest(spark, sf_dir):
    """As-of NEAREST join (completes pandas merge_asof direction
    parity with q22 backward / q142 forward / q160 tolerance): each
    purchase takes the click closest in time within 15 minutes, ties
    backward.  Both running fills ride ONE keyed shuffle (same
    partitioning, two sort orders); clicks collapse to one row per
    (user, ts) so equal-timestamp matches are deterministic."""
    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("nearest_click_value"))
    )
    out = R.asof_join(
        p, c, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["nearest_click_value"], direction="nearest",
        tolerance=900,
    )
    return out.select("event_id", "user_id", "nearest_click_value")


@register(
    "q202_oov_rate",
    r"""
    WITH tok AS (
      SELECT doc_id, UNNEST(list_filter(
               string_split_regex(trim(lower(text)), '\s+'),
               w -> w <> '')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w ASC) AS rn
        FROM tok GROUP BY w
      ) WHERE rn <= 1000
    )
    SELECT t.doc_id, COUNT(*)::BIGINT AS n_tokens,
           SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
           ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                 / COUNT(*)::DOUBLE, 6) AS oov_rate
    FROM tok t LEFT JOIN vocab v USING (w)
    GROUP BY t.doc_id
    """,
)
def q202_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per document against the corpus's own
    top-1000 vocabulary (count-desc, word-asc tiebreak — the
    fixed-vocab tokenizer coverage question): one token agg builds the
    Zipf-bounded vocabulary, TakeOrdered truncates it, and the
    broadcast left-anti-style membership join never shuffles the token
    stream."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), "\\s+"),
                lambda w: w != "",
            )
        ).alias("w"),
    )
    # orderBy+limit compiles to TakeOrderedAndProject — per-partition
    # top-k merged at the driver, never a single-partition sort of the
    # full vocabulary; the (count desc, word asc) key makes it
    # deterministic
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(1000)
        .select("w", F.lit(True).alias("_inv"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("_inv").isNull().cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.col("_inv").isNull().cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


@register(
    "q203_streaming_topk",
    """
    WITH c AS (
      SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                 ORDER BY n DESC, event_type ASC) AS rank
      FROM c
    )
    SELECT window_start, event_type, n, rank FROM r WHERE rank <= 3
    """,
)
def q203_streaming_topk(spark, sf_dir):
    """Streaming windowed top-k (the trending-items shape): the
    UNBOUNDED part — per-window counts — runs as a true Structured
    Streaming query (watermark + tumbling window, availableNow); the
    rank-and-truncate runs as a batch post-pass on the materialized
    sink table, the standard split since ranking needs the window
    closed.  Sink table is window-bounded, so the post-pass is tiny."""
    stream = _stream_events(spark, sf_dir)
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )
    table = _run_stream_to_table(spark, counts, "topk")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        table.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


_POISSON1_CDF = [
    (0, 0.367879441), (1, 0.735758882), (2, 0.919698603),
    (3, 0.981011843), (4, 0.996340153), (5, 0.999405815),
    (6, 0.999916758), (7, 0.999989750),
]


def _bootstrap_oracle_sql(n_boot: int = 20) -> str:
    """Deterministic Poisson bootstrap of mean(l_quantity): per (row,
    replica) the md5-uniform drives a Poisson(1) inverse-CDF weight."""
    case = " ".join(
        f"WHEN u < {p} THEN {k}" for k, p in _POISSON1_CDF
    )
    return f"""
    WITH r AS (
      SELECT l_quantity AS x,
             CAST(l_orderkey AS VARCHAR) || '-'
               || CAST(l_linenumber AS VARCHAR) AS rid
      FROM lineitem
    ),
    rep AS (
      SELECT x, rid, UNNEST(range(1, {n_boot} + 1)) AS b FROM r
    ),
    wtd AS (
      SELECT b, x,
             (CASE {case} ELSE 8 END) AS w
      FROM (SELECT b, x,
              (('0x' || substr(md5(rid || ':' || CAST(b AS VARCHAR)),
                 1, 15))::BIGINT % 1000000) / 1e6 AS u
            FROM rep)
    )
    SELECT b, ROUND(SUM(w * x) / SUM(w), 6) AS est
    FROM wtd GROUP BY b
    """


@register("q204_bootstrap_mean", _bootstrap_oracle_sql())
def q204_bootstrap_mean(spark, sf_dir):
    """Poisson bootstrap of mean(quantity), 20 replicas — THE
    distributed resampling technique: true multinomial resampling
    needs global coordination, but per-row independent Poisson(1)
    weights approximate it exactly in expectation and partial-combine
    like any aggregate.  Deterministic md5-uniform draws make every
    replica value-checkable; the 20× replica explode collapses
    map-side to 20 partial rows before the only shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    rid = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    rep = li.select(
        F.col("l_quantity").alias("x"), rid.alias("rid")
    ).select(
        "x", "rid", F.explode(F.sequence(F.lit(1), F.lit(20))).alias("b")
    )
    u = (
        F.pmod(
            T.md5_hash60(
                F.concat(F.col("rid"), F.lit(":"), F.col("b").cast("string"))
            ),
            F.lit(1_000_000),
        )
        / F.lit(1e6)
    )
    w = F.lit(8)
    for k, p in reversed(_POISSON1_CDF):
        w = F.when(u < p, k).otherwise(w)
    return (
        rep.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.round(
                F.sum(F.col("w") * F.col("x")) / F.sum("w"), 6
            ).alias("est")
        )
    )


@register(
    "q205_groupwise_regression",
    """
    WITH s AS (
      -- exact decimal sufficient statistics (q544 discipline, found
      -- at sf1/sf10): the engines' REGR_* float paths differ in the
      -- last ulp, which 150k groups WILL land on a rounding boundary.
      -- x = integer microseconds centered on a fixed constant (keeps
      -- x² inside DECIMAL38); value quantized at 1e-4 (lossless for
      -- this 2dp column)
      SELECT user_id, COUNT(*) AS n,
             SUM(CAST(epoch_us(ts) - 1700000000000000
                      AS DECIMAL(19,0))) AS sx,
             SUM(CAST(value AS DECIMAL(10,4))) AS sv,
             SUM(CAST(epoch_us(ts) - 1700000000000000 AS DECIMAL(19,0))
                 * CAST(epoch_us(ts) - 1700000000000000
                        AS DECIMAL(19,0))) AS sxx,
             SUM(CAST(epoch_us(ts) - 1700000000000000 AS DECIMAL(19,0))
                 * CAST(value AS DECIMAL(10,4))) AS svx,
             SUM(CAST(value AS DECIMAL(10,4))
                 * CAST(value AS DECIMAL(10,4))) AS svv
      FROM events GROUP BY user_id
    ),
    m AS (
      -- cancel exactly in decimal, then drop to double (q544).
      -- Cap audit (both engines overflow/NULL past these, and they
      -- fail DIFFERENTLY — DuckDB raises, non-ANSI Spark NULLs — so
      -- the bounds are documented, widened to the DECIMAL38 ceiling):
      --   n: DECIMAL(7,0) on the sxx product (7+30+1=38 is the
      --      ceiling), DECIMAL(10,0) elsewhere -> group size < 1e7;
      --   sxx < 1e30 -> group_size * x_max^2 < 1e30; this corpus is a
      --      30-day us-centered window (|x| <= 6.7e12, x^2 <= 4.5e25)
      --      -> group size <= ~22k.  Measured max group = 99, and
      --      key-offset replication keeps per-key group sizes CONSTANT
      --      across scale factors, so the bound holds at every SF.
      SELECT user_id, n,
             CAST(CAST(n AS DECIMAL(10,0)) * CAST(svx AS DECIMAL(27,4))
                  - CAST(sx AS DECIMAL(19,0))
                    * CAST(sv AS DECIMAL(19,4)) AS DOUBLE) AS b,
             CAST(CAST(n AS DECIMAL(7,0)) * CAST(sxx AS DECIMAL(30,0))
                  - CAST(sx AS DECIMAL(19,0))
                    * CAST(sx AS DECIMAL(19,0)) AS DOUBLE) AS c,
             CAST(CAST(n AS DECIMAL(10,0)) * CAST(svv AS DECIMAL(24,8))
                  - CAST(sv AS DECIMAL(19,4))
                    * CAST(sv AS DECIMAL(19,4)) AS DOUBLE) AS d,
             CAST(sx AS DOUBLE) AS sx_d, CAST(sv AS DOUBLE) AS sv_d
      FROM s
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN c = 0 THEN NULL
                 ELSE b / c * 1000000 END, 6) + 0.0 AS slope,
           -- 2dp: epoch-0 extrapolation multiplies noise by x̄≈8.5e8
           ROUND(CASE WHEN c = 0 THEN NULL
                 ELSE sv_d / n - (b / c * 1000000)
                      * (sx_d / n / 1000000 + 1700000000) END, 2)
             + 0.0 AS intercept,
           ROUND(CASE WHEN c = 0 OR d = 0 THEN NULL
                 ELSE b * b / (c * d) END, 6) + 0.0 AS r2
    FROM m
    """,
)
def q205_groupwise_regression(spark, sf_dir):
    """Per-key ordinary least squares (value ~ time) from exact
    decimal sufficient statistics in ONE map-side-combined agg pass —
    regression at any group count without per-group fitting loops,
    and (the sf1/sf10 lesson) without the engines' REGR_* float-path
    ulps, which 150k groups will land on a rounding boundary.
    Semantics anchors: REGR_SLOPE/REGR_R2 per group; x in seconds."""
    e = _t(spark, sf_dir, "events")
    xq = (
        F.unix_micros(F.col("ts")) - F.lit(1700000000000000)
    ).cast("decimal(19,0)")
    vq = F.col("value").cast("decimal(10,4)")
    s = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xq).alias("sx"),
        F.sum(vq).alias("sv"),
        F.sum(xq * xq).alias("sxx"),
        F.sum(xq * vq).alias("svx"),
        F.sum(vq * vq).alias("svv"),
    )
    # cap audit mirrors the oracle comment: n widened to the DECIMAL38
    # ceiling per product (7,0 against sxx's 30 digits, 10,0 elsewhere);
    # bounds: group size < 1e7 and group_size * x_max^2 < 1e30 (this
    # corpus: |x| <= 6.7e12 us -> <= ~22k rows/group; measured max 99,
    # constant across SFs by key-offset replication)
    n10 = F.col("n").cast("decimal(10,0)")
    n7 = F.col("n").cast("decimal(7,0)")
    b = (
        n10 * F.col("svx").cast("decimal(27,4)")
        - F.col("sx").cast("decimal(19,0)")
        * F.col("sv").cast("decimal(19,4)")
    ).cast("double")
    c = (
        n7 * F.col("sxx").cast("decimal(30,0)")
        - F.col("sx").cast("decimal(19,0)")
        * F.col("sx").cast("decimal(19,0)")
    ).cast("double")
    d = (
        n10 * F.col("svv").cast("decimal(24,8)")
        - F.col("sv").cast("decimal(19,4)")
        * F.col("sv").cast("decimal(19,4)")
    ).cast("double")
    m = s.select(
        "user_id", "n",
        b.alias("b"), c.alias("c"), d.alias("d"),
        F.col("sx").cast("double").alias("sx_d"),
        F.col("sv").cast("double").alias("sv_d"),
    )
    slope = F.col("b") / F.col("c") * 1000000
    # + 0.0 canonicalizes IEEE negative zero — the engines round
    # tiny negative slopes to -0.0 vs 0.0 inconsistently
    return m.select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        (
            F.round(
                F.when(F.col("c") == 0, None).otherwise(slope), 6
            )
            + 0.0
        ).alias("slope"),
        (
            F.round(
                F.when(F.col("c") == 0, None).otherwise(
                    F.col("sv_d") / F.col("n")
                    - slope
                    * (
                        F.col("sx_d") / F.col("n") / 1000000
                        + 1700000000
                    )
                ),
                2,
            )
            + 0.0
        ).alias("intercept"),
        (
            F.round(
                F.when(
                    (F.col("c") == 0) | (F.col("d") == 0), None
                ).otherwise(
                    F.col("b") * F.col("b") / (F.col("c") * F.col("d"))
                ),
                6,
            )
            + 0.0
        ).alias("r2"),
    )

"""Deduplication operators for training-data pipelines.

Five families, each scale-designed (north-star [EXT] mandate,
SURVEY.md §2.2 last row):

- exact: hash-groupBy on content (or md5 fingerprint) — one shuffle.
- MinHash + LSH: shingle → minhash signature → band buckets → candidate
  pairs only within buckets (never the quadratic all-pairs) → exact
  Jaccard verify on candidates.
- SimHash: 64-bit sign-sum fingerprint; near-dups = identical fingerprint
  (or identical band for hamming tolerance).
- n-gram Jaccard: exact similarity join via shingle inverted index
  (explode + self-join on shingle + count agg).
- embedding cosine: near-dups above a cosine threshold, bucketed by
  random-hyperplane LSH to avoid the cross join.

All of it is joins/groupBys over built-in expressions; the only
quadratic step is within-bucket pair generation, bounded by bucket size.
The shingle-set generators share one candidate → verify shape:
`_shingle_ids` (hashed shingle sets), `_verify_jaccard` (exact Jaccard
of candidate pairs), `_knee_bands` (default banding), and
`_shingle_index` / `_shared_shingle_counts` (inverted-index joins).
Keep-policy is deterministic everywhere: the smallest id survives.
"""

from __future__ import annotations

from collections.abc import Sequence
from itertools import chain

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegralType,
    LongType,
    StructField,
    StructType,
)

from graphmapreduce_spark.functions import text as T
from graphmapreduce_spark.functions import vectors as V
from graphmapreduce_spark.graph.iterate import (
    count_rows,
    driver_budget,
    driver_local,
)
from graphmapreduce_spark.operators._spread import spread_by

# 31-bit Mersenne prime — modular universal hashing for MinHash.
# Coefficients and shingle ids both stay < 2^31, so a*x + b < 2^62 never
# overflows a long (Spark runs ANSI arithmetic by default).
_MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, content_cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep exactly one row (smallest id) per distinct content tuple."""
    w_cols = [F.col(c) for c in content_cols]
    keep = df.groupBy(*w_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=[*content_cols, id_col], how="left_semi")


def _hash_coeffs(num_hashes: int, seed: int):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Corpus-scale MinHash signing as one ``mapInArrow`` pass over
    (id, text): each Arrow batch goes through a numpy kernel
    (``_minhash_batches``): no per-shingle rows and no aggregate.

    Per document the kernel takes the distinct ``shingle_n``-character
    slices (code points, as ``functions.text.char_shingles``), hashes
    each distinct shingle of a block once, all in one call of the numpy
    twin of ``hash_fn`` (``functions.text._hash_np``: XXH64 seed 42, or
    the portable 60-bit md5 a SQL oracle replicates), reduces each
    hash ``pmod 2^31-1``, and takes the minimum of
    ``(a·h + b) pmod 2^31-1`` per hash function over the document's
    shingles.  Documents are shingled and reduced in blocks of at most
    ``_SIG_BLOCK_CELLS`` (hash, shingle) cells — 64 MiB of int64, 2^18
    shingles at 32 hashes — so a batch of long documents holds one
    block's shingles (plus at most one document's) and one block's hash
    matrix at a time.

    Returns (id_col, sig array<long>) with one row per input row that
    has at least one shingle: null text and text shorter than
    ``shingle_n`` get no row.  Rows that share an id (a null id too)
    keep one signature each; ids are not merged.
    """
    a, b = _hash_coeffs(num_hashes, seed)
    # spread rows across cores before the per-document kernel: a corpus
    # read from few files would otherwise sign serially
    # (input-parallelism-gated — no corpus shuffle when the scan already
    # parallelizes; operators/_spread.py)
    src = spread_by(df.select(id_col, text_col), F.col(id_col))
    schema = StructType(
        [src.schema[id_col], StructField("sig", ArrayType(LongType()), False)]
    )

    def sign(batches):
        return _minhash_batches(batches, shingle_n, hash_fn, a, b)

    return src.mapInArrow(sign, schema)


# (hash, shingle) cells per block of the signature kernel: the int64
# hash matrix of one block is at most 64 MiB
_SIG_BLOCK_CELLS = 1 << 23


def _minhash_batches(batches, n: int, hash_fn: str, a: np.ndarray, b: np.ndarray):
    """``minhash_signatures``' kernel over (id, text) Arrow batches:
    documents are collected until their distinct shingles fill a block,
    then the block is signed (``_minhash_block``)."""
    block = max(1, _SIG_BLOCK_CELLS // len(a))
    for batch in batches:
        ids, texts = batch.column(0), batch.column(1).to_pylist()
        rows, sets, size = [], [], 0
        for i, t in enumerate(texts):
            if t is not None and len(t) >= n:
                rows.append(i)
                sets.append(_shingle_set(t, n))
                size += len(sets[-1])
            if rows and (size >= block or i == len(texts) - 1):
                yield pa.RecordBatch.from_arrays(
                    [ids.take(rows), _minhash_block(sets, hash_fn, a, b, block)],
                    [batch.schema.names[0], "sig"],
                )
                rows, sets, size = [], [], 0


def _minhash_block(
    sets: list, hash_fn: str, a: np.ndarray, b: np.ndarray, block: int
) -> pa.ListArray:
    """The signatures of documents given as shingle sets.  The hash
    matrix is built ``block`` shingles at a time (a document larger
    than a block spans several), each block's per-document minima
    taken by ``np.minimum.reduceat`` and folded into the signatures."""
    counts = np.fromiter(map(len, sets), dtype=np.int64, count=len(sets))
    h = _shingle_hashes(sets, hash_fn) % _MERSENNE
    doc = np.repeat(np.arange(len(sets)), counts)
    sig = np.full((len(a), len(sets)), _MERSENNE, dtype=np.int64)
    for lo in range(0, len(h), block):
        hb, db = h[lo : lo + block], doc[lo : lo + block]
        starts = np.flatnonzero(np.r_[True, db[1:] != db[:-1]])
        m = a[:, None] * hb
        m += b[:, None]
        m %= _MERSENNE
        d = db[starts]
        sig[:, d] = np.minimum(sig[:, d], np.minimum.reduceat(m, starts, axis=1))
    k = len(a)
    offsets = np.arange(0, (len(sets) + 1) * k, k, dtype=np.int32)
    return pa.ListArray.from_arrays(offsets, pa.array(sig.T.ravel()))


def _shingle_set(t: str, n: int) -> set:
    """The distinct ``n``-character slices of ``t`` (code points, as
    ``functions.text.char_shingles``)."""
    return {t[j : j + n] for j in range(len(t) - n + 1)}


def _shingle_hashes(sets: list, hash_fn: str) -> np.ndarray:
    """The ``hash_fn`` hash of every shingle of ``sets``, set after set;
    each distinct shingle is hashed once."""
    shingles = pc.dictionary_encode(
        pa.array(list(chain.from_iterable(sets)), pa.string())
    )
    return T._hash_np(shingles.dictionary, hash_fn)[shingles.indices.to_numpy()]


def _band_rows(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    num_hashes: int,
    bands: int,
    exact_buckets: bool,
) -> DataFrame:
    """(_id, band, bucket) rows: the signature split into ``bands``
    slices, bucketed by (band index, slice content) — shared by the
    self-join (lsh_candidate_pairs) and the batch-vs-corpus
    (incremental_near_dup_pairs) candidate generators."""
    rows_per_band = num_hashes // bands
    banded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.slice(
                    F.col(sig_col), b * rows_per_band + 1, rows_per_band
                ),
            )
        ).alias("band", "band_sig"),
    )
    if exact_buckets:
        return banded.select(
            "_id",
            "band",
            F.concat_ws(
                "_", F.col("band_sig").cast("array<string>")
            ).alias("bucket"),
        )
    return banded.select(
        "_id",
        "band",
        F.xxhash64(
            F.col("band_sig").cast("string"), F.col("band")
        ).alias("bucket"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    exact_buckets: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banding: split the signature into ``bands`` rows, bucket by
    (band index, band content); docs sharing any bucket become a
    candidate pair (id_a < id_b, distinct).

    ``exact_buckets=True`` keeps the band content itself (as a string)
    as the bucket key instead of its xxhash64 — collision-free, SQL-
    oracle-replicable; the default 8-byte hash keys shuffle less.

    ``max_bucket_size`` bounds the within-bucket pair blowup: a
    degenerate bucket (mass-duplicated boilerplate puts df docs in one
    band bucket) would otherwise emit O(df²) pairs from the self-join.
    Buckets over the cap switch to STAR expansion — every member pairs
    with the bucket's min id only, O(df) pairs — which preserves the
    bucket's connected component exactly (transitive dedup clustering
    downstream recovers the same groups) while dropping the redundant
    within-bucket cross pairs.  The default ``None`` keeps exact
    all-pairs semantics (the SQL-oracle-comparable contract); pass a
    cap EXPLICITLY for corpus-scale runs — at 100 TB a single viral
    boilerplate bucket is otherwise a quadratic straggler.  With a cap
    set, the oversized buckets are found by a map-side-combined groupBy
    (no single-task hot spot on the viral bucket itself), checkpointed
    and counted at the call, and joined back onto the banded rows:
    broadcast within ``graph/iterate.py::driver_budget`` rows, shuffled
    on (band, bucket) above it."""
    banded = _band_rows(
        df, id_col, sig_col, num_hashes, bands, exact_buckets
    )
    if max_bucket_size is not None:
        # No single-task hot spot on a viral bucket (VERDICT r07 item 1
        # — the r07 shape computed count/min as a whole-partition
        # window, which funnels the entire viral bucket through one
        # task before the cap can filter it, and AQE cannot split a
        # window partition):
        #   1. per-bucket count/min by groupBy — partial aggregates
        #      combine map-side, so even a 10M-member bucket reduces to
        #      one narrow row per map partition before its exchange;
        #   2. ONLY the oversized buckets (rare by construction — at
        #      most |banded|/cap of them exist) are kept, as the tiny
        #      (band, bucket, _hub) list, checkpointed and counted once:
        #      the count is the job that fills the checkpoint;
        #   3. routing is then two joins of `banded` to that list —
        #      anti (small side) + inner (star side).  Within the driver
        #      budget the list is broadcast.  The anti join also tests
        #      `_hub <= _id`, which every member with an id passes (the
        #      hub is the bucket min), so both joins read the same
        #      (band, bucket, _hub) build side and share ONE broadcast;
        #      the joins add ZERO exchange of the banded rows, and the
        #      self-join below keeps its one reused (bucket, band)
        #      exchange.  Above the budget both joins are shuffled on
        #      (band, bucket).  Null ids stay on the small side, where
        #      they pair with nothing.
        # (Annotating every bucket via a full groupBy+join-back was
        # measured ~2 s slower in-recipe at sf0.1: it re-exchanges the
        # whole banded table for the join; the broadcast-the-exceptions
        # shape costs only the narrow stats aggregate.)
        big_buckets = (
            banded.groupBy("band", "bucket")
            .agg(
                F.count(F.lit(1)).alias("_bn"),
                F.min("_id").alias("_hub"),
            )
            .filter(F.col("_bn") > max_bucket_size)
            .select(
                F.col("band").alias("_hband"),
                F.col("bucket").alias("_hbucket"),
                "_hub",
            )
            .localCheckpoint(eager=False)
        )
        cap = driver_budget(df.sparkSession)
        if 0 < cap and count_rows(big_buckets) <= cap:
            hubs = F.broadcast(big_buckets)
        else:
            hubs = big_buckets.hint("shuffle_hash")
        on = (F.col("band") == F.col("_hband")) & (
            F.col("bucket") == F.col("_hbucket")
        )
        small = banded.join(hubs, on & (F.col("_hub") <= F.col("_id")), "left_anti")
        big = banded.join(hubs, on)
    else:
        small, big = banded, None
    l, r = small.alias("l"), small.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.band") == F.col("r.band"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    )
    if big is not None:
        # star expansion: every member of an oversized bucket pairs
        # with the bucket min only — id_a < id_b holds because _hub is
        # the bucket minimum
        star = big.filter(F.col("_id") != F.col("_hub")).select(
            F.col("_hub").alias("id_a"), F.col("_id").alias("id_b")
        )
        pairs = pairs.unionByName(star)
    return pairs.distinct()


# text bytes up to which tier (a) runs the LSH stage: below the speed
# crossover and the candidate-budget overflow measured in ``_lsh_local``
_LSH_DRIVER_BYTES = 8 << 20
# (element, pair) cells per block of tier (a)'s verify lookups and
# signature comparisons: 8 MiB per int64 array
_VERIFY_BLOCK = 1 << 20
# shingles per block of tier (a)'s verify hashing: ~30 MiB of Python
# strings and sets, as a signature block at 32 hashes
_SHINGLE_BLOCK = 1 << 18

# hash-mod sampled-verify prefilter margin: pairs whose sampled Jaccard
# falls below threshold − this skip the full intersection
_VERIFY_SAMPLE_MARGIN = 0.1


def _knee_bands(num_hashes: int, threshold: float) -> int:
    """Largest divisor banding whose S-curve knee sits at ``threshold``
    (the q46 rule, shared by all banded generators)."""
    bands = 1
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        if (1.0 / b) ** (1.0 / r) >= threshold:
            bands = b
    return max(bands, 1)


def _shingle_ids(shingles: Column, hash_fn: str) -> Column:
    """The verify-side shingle set: the distinct hashed ids of a shingle
    array.  Value-identical to raw-shingle Jaccard in the full 60/64-bit
    hash space (within-doc collision p < 1e-12 — NOT the 31-bit
    signature space, whose ~2e-4/doc collision rate would visibly
    shrink sets), and ~40% narrower than string arrays."""
    return F.array_distinct(
        F.transform(shingles, lambda s: T._hash_col(s, hash_fn))
    )


def _jaccard(a: str, b: str) -> Column:
    """Exact |A∩B| / |A∪B| of two array columns; null when the union is
    empty (two rows without a shingle), which no Jaccard cut keeps."""
    return F.try_divide(
        F.size(F.array_intersect(a, b)).cast("double"),
        F.size(F.array_union(a, b)),
    )


def _verify_jaccard(
    cands: DataFrame,
    a: DataFrame,
    b: DataFrame,
    threshold: float,
    prefilter: Column | None = None,
) -> DataFrame:
    """Exact-Jaccard verify of candidate pairs — the last step of every
    candidate generator.  ``a`` and ``b`` are the pair sides, each
    (key, shingle-id array, extra columns...) whose key names one of
    ``cands``' two columns; ``cands`` joins ``a`` then ``b``, the
    optional ``prefilter`` runs on the joined rows, and pairs with
    Jaccard ≥ ``threshold`` come out as (key_a, key_b, jaccard rounded
    to 6 places)."""
    (ka, sa), (kb, sb) = a.columns[:2], b.columns[:2]
    joined = cands.join(a, ka).join(b, kb)
    if prefilter is not None:
        joined = joined.filter(prefilter)
    return (
        joined.withColumn("jaccard", _jaccard(sa, sb))
        .filter(F.col("jaccard") >= threshold)
        .select(ka, kb, F.round("jaccard", 6).alias("jaccard"))
    )


def _lsh_local(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int,
    seed: int,
    **knobs,
) -> tuple[DataFrame | None, DataFrame | None]:
    """``minhash_lsh_near_dup_pairs`` on tier (a): (pairs, None) on tier
    (a); (None, sigs) when the candidate pairs outgrow the budget, with
    ``sigs`` the driver's signatures as the distributed plan's ``(_id,
    sig)`` frame, so the corpus is not signed twice; (None, None) for
    any other corpus.  ``_driver_corpus`` collects ``(id, text)`` and
    ``_lsh_collected`` runs the stage on it.  Spark rounds the Jaccard
    of the returned (id_a, id_b, |A∩B|, |A∪B|) rows with the same
    expression as the distributed verify, so both tiers return the same
    rows."""
    table = _driver_corpus(df, id_col, text_col, knobs["verify_sample_mod"])
    if table is None:
        return None, None
    ids, texts = table.columns
    id_field = df.schema[id_col]
    spark = df.sparkSession
    pairs, sigs = _lsh_collected(
        spark, ids, texts, id_field, num_hashes=num_hashes, seed=seed, **knobs
    )
    if pairs is None:
        return None, sigs
    ra, rb, inter, union = pairs
    schema = StructType(
        [
            StructField("id_a", id_field.dataType, id_field.nullable),
            StructField("id_b", id_field.dataType, id_field.nullable),
            StructField("_inter", LongType(), False),
            StructField("_union", LongType(), False),
        ]
    )
    out = pa.table(
        [ids.take(ra), ids.take(rb), pa.array(inter), pa.array(union)],
        names=schema.names,
    )
    jaccard = F.col("_inter").cast("double") / F.col("_union")
    return spark.createDataFrame(out, schema).select(
        "id_a", "id_b", F.round(jaccard, 6).alias("jaccard")
    ), None


def _driver_corpus(
    df: DataFrame, id_col: str, text_col: str, verify_sample_mod: int | None
) -> pa.Table | None:
    """Tier (a)'s gate for the LSH stage (and for the whole
    ``pipeline.dedup_corpus`` recipe): ``df``'s ``(id, text)`` collected
    when the id type is integral, ``graph/iterate.py::driver_local``
    admits it — a take of at most ``driver_budget`` + 1 text sizes
    shows the rows within the budget and at most ``_LSH_DRIVER_BYTES``
    (and ``spark.sql.autoBroadcastJoinThreshold``) bytes of text — and
    the collected ids are unique and non-null; else ``None``.

    ``_LSH_DRIVER_BYTES`` sits below the measured speed crossover and
    below the corpora whose candidate pairs overflow the default budget.
    q576 (md5, 32 hashes, cap 64, margins 0.2, mod 4) on
    ``tools/make_scale.py`` copies of sf0.1, 4 cores, ``tools/perf.py
    ab --values 0 20000000 -n 2`` (budget raised so the pairs fit; best
    of each side), tier (a) vs distributed: 9.5 vs 20.3 s at 4× (20 000
    documents, 6.0 MB of text), 21.5 vs 34.9 s at 8× (12.0 MB), 53.1 vs
    65.6 s at 16× (24.0 MB), 101.7 vs 107.5 s at 24× (35.9 MB) and
    187.8 vs 150.4 s at 44× (66 MB, one pair); q46 (uncapped) 27.3 vs
    46.1 s at 4× and 104.7 vs 199.9 s at 8×.  The copies grow the pairs
    with the square of the factor: at 8× the distinct candidates are
    1.22M, over the default budget, and there the driver's signing
    before the fallback cost q576 4 s end to end (fresh processes, 2
    pairs: 41.4 and 39.9 s vs 37.4 and 36.0 s for the parent plan), even
    with the signatures handed over.  Under a bucket cap of 64 a band
    has at most 31.5 pairs a row: 882 000 for 8 MiB of documents of
    sf0.1's length.  At 8 MiB (28 000 documents, 73 000 pairs, default
    budget) the kernel's tracemalloc peak is 129 MiB while signing and
    202 MiB in the verify, which holds every candidate document's
    hashes at once."""
    src = df.select(id_col, text_col)
    if not isinstance(src.schema[id_col].dataType, IntegralType):
        return None
    if verify_sample_mod is not None and int(verify_sample_mod) < 1:
        return None
    table = driver_local(
        src, payload=F.octet_length(text_col), max_bytes=_LSH_DRIVER_BYTES
    )
    if table is None:
        return None
    ids = table.column(0)
    if ids.null_count or len(np.unique(ids.to_numpy())) < len(ids):
        return None
    return table


def _lsh_collected(
    spark,
    ids: pa.ChunkedArray,
    texts: pa.ChunkedArray,
    id_field: StructField,
    *,
    num_hashes: int,
    seed: int,
    **knobs,
):
    """The LSH stage on a collected corpus (``ids`` unique and non-null,
    of ``id_field``'s type): ``(pairs, None)`` with ``pairs`` the
    verified (row_a, row_b, |A∩B|, |A∪B|) of ``_lsh_pairs``, rows being
    positions in ``texts``; ``(None, sigs)`` when the candidate pairs
    exceed the driver budget, ``sigs`` being the driver's signatures as
    the distributed plan's ``(_id, sig)`` frame.  The corpus is signed
    with ``_minhash_batches`` and ``_lsh_pairs`` runs the rest of the
    stage as numpy."""
    a, b = _hash_coeffs(num_hashes, seed)
    pos = pa.table({"_row": np.arange(len(texts)), "text": texts})
    signed = pa.Table.from_batches(
        _minhash_batches(pos.to_batches(), knobs["shingle_n"], knobs["hash_fn"], a, b),
        pa.schema([("_row", pa.int64()), ("sig", pa.list_(pa.int64()))]),
    )
    rows = signed.column(0).to_numpy()
    sig = signed.column(1).combine_chunks().flatten().to_numpy()
    pairs = _lsh_pairs(
        texts, ids.to_numpy(), rows, sig.reshape(-1, num_hashes),
        driver_budget(spark), **knobs
    )
    if pairs is not None:
        return pairs, None
    # the distributed plan takes the signatures over instead of signing
    # the corpus again
    sigs = signed.set_column(0, "_id", ids.take(rows))
    schema = StructType(
        [
            StructField("_id", id_field.dataType, id_field.nullable),
            StructField("sig", ArrayType(LongType()), False),
        ]
    )
    return None, spark.createDataFrame(sigs, schema)


def _lsh_pairs(
    texts: pa.ChunkedArray,
    key: np.ndarray,
    rows: np.ndarray,
    sig: np.ndarray,
    cap: int,
    *,
    threshold: float,
    bands: int,
    shingle_n: int,
    hash_fn: str,
    max_bucket_size: int | None,
    est_margin: float | None,
    verify_sample_mod: int | None,
):
    """Tier (a)'s kernel: the distributed stage's rows as numpy, on one
    collected corpus of ``texts`` with unique ``key`` ids, whose signed
    ``rows`` have the signatures ``sig`` (one row each).  Returns
    (row_a, row_b, |A∩B|, |A∪B|) of the verified pairs — rows of
    ``texts``, ordered so ``key[row_a] < key[row_b]`` — or ``None`` when
    the distinct candidate pairs exceed ``cap``.

    Each step is the numpy twin of one distributed step: banding on the
    band contents (the distributed bucket is that content or its
    xxhash64); all pairs within a bucket, or a star on the bucket's min
    id over ``max_bucket_size`` signed rows; the ``est_margin``
    agreement cut; then the distinct hashed shingles of candidate
    documents only, the ``verify_sample_mod`` prefilter and the exact
    Jaccard cut."""
    num_hashes = sig.shape[1]
    idv = key[rows]
    cands = _band_candidates(sig, idv, bands, max_bucket_size, cap)
    if cands is None:
        return None
    u, v = cands
    if est_margin is not None:
        cut = max(0.0, threshold - est_margin) * num_hashes
        keep = np.empty(len(u), dtype=bool)
        step = max(1, _VERIFY_BLOCK // num_hashes)
        for lo in range(0, len(u), step):
            sl = slice(lo, lo + step)
            keep[sl] = (sig[u[sl]] == sig[v[sl]]).sum(axis=1) >= cut
        u, v = u[keep], v[keep]
    docs, xy = np.unique(np.r_[u, v], return_inverse=True)
    keep, inter, union = _verify(
        texts.take(rows[docs]),
        xy[: len(u)],
        xy[len(u) :],
        shingle_n,
        hash_fn,
        threshold,
        verify_sample_mod,
    )
    return rows[u[keep]], rows[v[keep]], inter[keep], union[keep]


def _band_candidates(
    sig: np.ndarray,
    idv: np.ndarray,
    bands: int,
    max_bucket_size: int | None,
    cap: int,
) -> np.ndarray | None:
    """``lsh_candidate_pairs`` on a signature matrix: the distinct
    candidate pairs as two arrays of signature rows (lo, hi) with
    ``idv[lo] < idv[hi]``, or ``None`` past ``cap`` pairs.  A bucket is
    a band's rows with equal band contents; its size counts every
    signed row, as the distributed ``count(lit(1))`` does."""
    m, num_hashes = sig.shape
    r = num_hashes // bands
    cands = np.zeros(0, dtype=np.int64)
    for band in range(bands):
        cols = sig[:, band * r : (band + 1) * r]
        order = np.lexsort(cols.T) if r else np.arange(m)
        s = cols[order]
        starts = np.flatnonzero(np.r_[True, (s[1:] != s[:-1]).any(axis=1)])
        sizes = np.diff(np.r_[starts, m])
        big = sizes > (m if max_bucket_size is None else max_bucket_size)
        small = (sizes >= 2) & ~big
        if (sizes[small] * (sizes[small] - 1) // 2).sum() + (sizes[big] - 1).sum() > cap:
            return None
        us, vs = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
        for size in np.unique(sizes[small]).tolist():
            members = order[starts[small & (sizes == size)][:, None] + np.arange(size)]
            i, j = np.triu_indices(size, 1)
            us.append(members[:, i].ravel())
            vs.append(members[:, j].ravel())
        for lo, size in zip(starts[big].tolist(), sizes[big].tolist()):
            # star: every member pairs with the bucket's min id only
            members = order[lo : lo + size]
            hub = members[np.argmin(idv[members])]
            us.append(np.full(size - 1, hub))
            vs.append(members[members != hub])
        u, v = np.concatenate(us), np.concatenate(vs)
        swap = idv[u] > idv[v]
        codes = np.where(swap, v, u) * m + np.where(swap, u, v)
        cands = np.union1d(cands, codes)
        if len(cands) > cap:
            return None
    return np.divmod(cands, max(m, 1))


def _verify(
    texts: pa.Array,
    x: np.ndarray,
    y: np.ndarray,
    n: int,
    hash_fn: str,
    threshold: float,
    mod: int | None,
):
    """The verify of candidate pairs (x, y) of ``texts``: (keep, |A∩B|,
    |A∪B|) per pair, the counts set where ``keep``.  ``mod`` adds the
    sampled prefilter ahead of the exact Jaccard cut, as the distributed
    verify does."""
    full = _HashSets.of(texts.to_pylist(), n, hash_fn)
    keep = np.zeros(len(x), dtype=bool)
    inter = np.zeros(len(x), dtype=np.int64)
    union = np.zeros(len(x), dtype=np.int64)
    sel = np.arange(len(x))
    with np.errstate(divide="ignore", invalid="ignore"):
        if mod is not None:
            # numpy's % of an int64 by a positive int is Spark's pmod
            sm = full.subset(full.values % mod == 0)
            i_s = sm.intersections(x, y)
            u_s = sm.size[x] + sm.size[y] - i_s
            cut = max(0.0, threshold - _VERIFY_SAMPLE_MARGIN)
            sel = np.flatnonzero((u_s < 8 * mod) | (i_s / u_s >= cut))
        p, q = x[sel], y[sel]
        inter[sel] = full.intersections(p, q)
        union[sel] = full.size[p] + full.size[q] - inter[sel]
        keep[sel] = inter[sel] / union[sel] >= threshold
    return keep, inter, union


class _HashSets:
    """Documents' distinct shingle hashes (``_shingle_ids``' values):
    each document's hashes sorted in ``values``, document after
    document, ``size`` of them each."""

    def __init__(self, values: np.ndarray, size: np.ndarray):
        self.values, self.size = values, size
        self.off = np.r_[0, np.cumsum(size)]

    @classmethod
    def of(cls, texts: list, n: int, hash_fn: str) -> "_HashSets":
        """The sets of ``texts``, shingled and hashed
        ``_SHINGLE_BLOCK`` shingles at a time."""
        # filled in place: a document has at most len - n + 1 hashes
        values = np.empty(sum(max(len(t) - n + 1, 0) for t in texts), np.int64)
        sizes = np.zeros(len(texts), np.int64)
        sets, first, end, size = [], 0, 0, 0
        for i, t in enumerate(texts):
            sets.append(_shingle_set(t, n))
            size += len(sets[-1])
            if size >= _SHINGLE_BLOCK or i == len(texts) - 1:
                h = _shingle_hashes(sets, hash_fn)
                doc = np.repeat(np.arange(first, i + 1), [len(s) for s in sets])
                order = np.lexsort((h, doc))
                h, doc = h[order], doc[order]
                # two shingles of a document with one hash count once
                new = np.r_[True, (h[1:] != h[:-1]) | (doc[1:] != doc[:-1])]
                values[end : end + new.sum()] = h[new]
                end += new.sum()
                sizes[first : i + 1] = np.bincount(doc[new] - first, minlength=len(sets))
                sets, first, size = [], i + 1, 0
        return cls(values[:end], sizes)

    def subset(self, member: np.ndarray) -> "_HashSets":
        """The sets restricted to the hashes where ``member``."""
        at = np.flatnonzero(member)
        doc = np.searchsorted(self.off, at, "right") - 1
        return _HashSets(self.values[at], np.bincount(doc, minlength=len(self.size)))

    def intersections(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """|A∩B| for each pair of sets ``a[k]`` and ``b[k]``: the smaller
        set's hashes are looked up in the other's sorted segment,
        ``_VERIFY_BLOCK`` hashes at a time, one search per segment."""
        swap = self.size[a] > self.size[b]
        a, b = np.where(swap, b, a), np.where(swap, a, b)
        order = np.argsort(b, kind="stable")
        a, b = a[order], b[order]
        n = self.size[a]
        ends = np.cumsum(n)
        inter = np.zeros(len(a), np.int64)
        lo = 0
        while lo < len(a):
            base = ends[lo - 1] if lo else 0
            hi = max(lo + 1, int(np.searchsorted(ends, base + _VERIFY_BLOCK, "right")))
            cnt = n[lo:hi]
            at = np.r_[0, np.cumsum(cnt)]
            idx = np.repeat(self.off[a[lo:hi]] - at[:-1], cnt) + np.arange(at[-1])
            h = self.values[idx]
            hit = np.zeros(len(h), dtype=bool)
            bb = b[lo:hi]
            starts = np.flatnonzero(np.r_[True, bb[1:] != bb[:-1]]).tolist()
            for s, e in zip(starts, starts[1:] + [hi - lo]):
                seg = self.values[self.off[bb[s]] : self.off[bb[s] + 1]]
                if len(seg):
                    part = h[at[s] : at[e]]
                    j = np.minimum(np.searchsorted(seg, part), len(seg) - 1)
                    hit[at[s] : at[e]] = seg[j] == part
            pair = np.repeat(np.arange(hi - lo), cnt)
            inter[lo:hi] = np.bincount(pair[hit], minlength=hi - lo)
            lo = hi
        out = np.empty_like(inter)
        out[order] = inter
        return out


def minhash_lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
    est_margin: float | None = None,
    verify_sample_mod: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs with exact-Jaccard verification of LSH
    candidates.  Returns (id_a, id_b, jaccard) with id_a < id_b.

    Two tiers, as in ``graph/`` (``graph/iterate.py::driver_local``): a
    corpus with integral, unique, non-null ids, at most
    ``spark.graphmapreduce.clusterBroadcastMaxPairs`` rows and at most
    8 MiB of text (and ``spark.sql.autoBroadcastJoinThreshold``) is
    collected once and the whole stage — signing, banding, the bucket
    cap, both prefilters and the verify — runs as one numpy pass on the
    driver (``_lsh_local``), with the same rows out.  It takes no Spark
    job past the gate's take of text sizes and the collect; budget 0
    turns it off.  Any other corpus, or one whose candidate pairs
    outgrow the budget, runs the distributed plan below.

    ``verify_sample_mod`` (opt-in; e.g. 4) inserts a second
    DETERMINISTIC prefilter between the signature estimate and the full
    intersection: each document's hashed shingle set is subsampled to
    the shingles with ``hash % mod == 0`` (a 1/mod content-keyed
    sample — both documents of a pair sample the SAME shingles, the
    classic bottom-sketch property), the Jaccard of the sampled sets
    estimates the true Jaccard with sd ≈ √(J(1−J)·mod/|A∪B|), and
    pairs whose sampled estimate falls below ``threshold − 0.1`` skip
    the full verify.  On corpora whose candidate sets are dominated by
    moderate-similarity false positives this removes most of the
    intersection work at 1/mod of the array width (measured: the sf1
    rehearsal verify 28.3 s → ~8 s at mod=4).  Pairs with a sampled
    union below 8·mod pass through to the full verify (no false drops
    on short documents).  Deterministic given the hash, hence
    oracle-replicable in SQL.

    ``max_bucket_size`` (opt-in; e.g. 4096 for corpus-scale runs) caps
    degenerate band buckets via star expansion (see
    `lsh_candidate_pairs`); note that inside an oversized bucket only
    hub pairs are verified, so pairwise recall there is deliberately
    reduced to what transitive clustering needs.  The ``None`` default
    keeps exact all-pairs semantics (oracle-comparable).

    ``est_margin`` (opt-in) inserts a signature-estimate prefilter
    between banding and exact verification: candidate pairs whose
    signature-agreement fraction (an unbiased Jaccard estimator) falls
    below ``threshold - est_margin`` are dropped BEFORE the expensive
    shingle-set intersection.  Signature rows are ~``num_hashes``
    longs — ~40× narrower than shingle arrays — so on template-heavy
    corpora where banding admits many moderate-similarity false
    positives (measured: 13.9M candidates → 250k verified at an
    sf1-equivalent rehearsal) this removes most verify traffic.  It is
    APPROXIMATE: a true pair at exactly ``threshold`` survives with
    probability P[Binom(num_hashes, t) ≥ (t - est_margin)·num_hashes]
    (e.g. ~99.5% at num_hashes=32, t=0.5, est_margin=0.2; pairs above
    the threshold survive with higher probability still).  ``None``
    (default) keeps the oracle-exact contract.

    Verification itself intersects 60-bit HASHED shingle sets (the same
    ids the signatures are built from, `_shingle_ids`), not raw shingle
    strings: the Jaccard value is identical unless two distinct
    shingles of one document collide in 60 bits (p < 1e-12 per
    document), and long arrays intersect ~2× faster while shuffling
    ~40% fewer bytes.

    ``bands`` defaults to the largest b with (1/b)^(b/num_hashes) ≥
    threshold — i.e. the banding whose S-curve knee sits at the requested
    threshold, which keeps false-positive candidates (and therefore the
    within-bucket pair blowup) bounded.  Shingle sets are only
    materialized for candidate ids, never for the whole corpus.
    """
    if bands is None:
        bands = _knee_bands(num_hashes, threshold)
    local, sigs = _lsh_local(
        df,
        id_col,
        text_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        seed=seed,
        hash_fn=hash_fn,
        max_bucket_size=max_bucket_size,
        est_margin=est_margin,
        verify_sample_mod=verify_sample_mod,
    )
    if local is not None:
        return local
    return _lsh_distributed(
        df,
        id_col,
        text_col,
        sigs,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        seed=seed,
        hash_fn=hash_fn,
        max_bucket_size=max_bucket_size,
        est_margin=est_margin,
        verify_sample_mod=verify_sample_mod,
    )


def _lsh_distributed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sigs: DataFrame | None,
    *,
    threshold: float,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    seed: int,
    hash_fn: str,
    max_bucket_size: int | None,
    est_margin: float | None,
    verify_sample_mod: int | None,
) -> DataFrame:
    """``minhash_lsh_near_dup_pairs``' distributed plan; ``sigs`` is
    tier (a)'s ``(_id, sig)`` hand-over, ``None`` to sign ``df`` here."""
    # The production path (any of the candidate-thinning knobs set —
    # the q576 recipe) is STAGED: signatures and the surviving pair
    # table are each materialized once, and shingle sets are built for
    # CANDIDATE ids only.  The uncapped exact-contract path (q46: every
    # knob None) keeps the original single lazy plan: its candidate set
    # is by-design super-linear (VERDICT r06), so materializing it + the
    # id-set semi-join costs MORE than the exchange reuse Catalyst
    # already finds in the one-plan shape (measured 4.5 s → 9.9 s at
    # sf0.1 when staged — the staging is a win only when candidates are
    # thinned).
    staged = (
        max_bucket_size is not None
        or est_margin is not None
        or verify_sample_mod is not None
    )
    if sigs is None:
        sigs = minhash_signatures(
            df, id_col, text_col, num_hashes, shingle_n, seed, hash_fn
        ).withColumnRenamed(id_col, "_id")
    if staged:
        # materialize signatures ONCE: downstream they are scanned up to
        # four times (banding for the self-join — twice without exchange
        # reuse — plus the est-margin sides), and every scan would re-run
        # the signature kernel over the corpus.  The table is (id,
        # num_hashes longs) — the narrowest artifact of the whole recipe,
        # so its materialization cost is a fraction of ONE recomputation;
        # localCheckpoint (not persist) is GC-scoped, so repeated calls
        # don't accumulate session cache.  Lazy: materialized by the
        # first action that reaches it (the verify/cluster chain), then
        # every later scan reads the checkpointed blocks.  Under AQE the
        # call still runs any shuffle map stage below it (the spread) as
        # a job of its own
        sigs = sigs.localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(
        sigs, "_id", "sig", num_hashes, bands,
        exact_buckets=(hash_fn == "md5"),
        max_bucket_size=max_bucket_size,
    )
    if est_margin is not None:
        cut = max(0.0, threshold - est_margin)
        sa = sigs.select(
            F.col("_id").alias("id_a"), F.col("sig").alias("_sig_a")
        )
        sb = sigs.select(
            F.col("_id").alias("id_b"), F.col("sig").alias("_sig_b")
        )
        agree = F.aggregate(
            F.zip_with(
                "_sig_a",
                "_sig_b",
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        cands = (
            cands.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(agree >= F.lit(cut * num_hashes))
            .select("id_a", "id_b")
        )
    # Shingle sets are spread across cores before the per-shingle hash
    # fan-out (few-file corpora scan as few partitions; on the one-plan
    # path both verify sides derive from this one exchange via
    # ReusedExchange — measured 4.1 s → 2.9 s at sf0.1 for q46;
    # input-parallelism-gated, operators/_spread.py).
    sh_src = df.select(F.col(id_col).alias("_sid"), F.col(text_col))
    if staged:
        # the staged path materializes the surviving pair table once
        # (both the id prefilter below and the verify joins scan it, and
        # each scan would re-run the banded self-join + est-margin
        # signature joins) and shingles CANDIDATE ids only (an inner
        # join on the pair table restricts to those ids anyway, but
        # Spark would still shingle the whole corpus on both join sides)
        cands = cands.localCheckpoint(eager=False)
        cand_ids = (
            cands.select(F.col("id_a").alias("_sid"))
            .unionByName(cands.select(F.col("id_b").alias("_sid")))
            .distinct()
        )
        sh_src = sh_src.join(cand_ids, "_sid", "left_semi")
    sh = spread_by(sh_src, F.col("_sid")).select(
        "_sid",
        _shingle_ids(
            T.char_shingles(text_col, n=shingle_n, distinct=True), hash_fn
        ).alias("_sh"),
    )
    # both paths lazily checkpoint the hashed shingle arrays: the a/b
    # verify sides (and the sampled sides) each sit above this table, so
    # the per-shingle hashing — not just the scan — would otherwise run
    # once per side; materializing (id, array<long>) on first use
    # halves it, and on the uncapped one-plan path it is the ONLY
    # materialization (full staging measured worse there, see above)
    sh = sh.localCheckpoint(eager=False)
    # with verify_sample_mod the sampled set rides along as a third
    # column of each pair side — ONE join per side (a separate sampled
    # table costs two extra joins over the pair table for nothing), and
    # the sampled prefilter runs ahead of the full intersection inside
    # the same codegen stage
    sampled, prefilter = None, None
    if verify_sample_mod is not None:
        m = int(verify_sample_mod)
        sampled = F.filter("_sh", lambda h: F.pmod(h, F.lit(m)) == 0)
        # short docs pass through un-prefiltered: with a sampled union
        # below ~8·mod the sampling sd (≈ sqrt(J(1-J)/uni)) exceeds the
        # margin and true near-dups would be false-dropped (e.g.
        # |A∪B|≈50, mod=4, J=0.8 → sd≈0.11 > 0.1); the exact verify
        # still filters them, so this costs recall nothing
        cut2 = max(0.0, threshold - _VERIFY_SAMPLE_MARGIN)
        prefilter = (
            F.size(F.array_union("sm_a", "sm_b")) < F.lit(8 * m)
        ) | (_jaccard("sm_a", "sm_b") >= cut2)

    def side(k: str) -> DataFrame:
        cols = [F.col("_sid").alias(f"id_{k}"), F.col("_sh").alias(f"sh_{k}")]
        if sampled is not None:
            cols.append(sampled.alias(f"sm_{k}"))
        return sh.select(*cols)

    return _verify_jaccard(cands, side("a"), side("b"), threshold, prefilter)


def build_near_dup_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> dict:
    """The PERSISTABLE near-dup index of a corpus: a dict with two
    DataFrames — ``bands`` (corpus_id, band, bucket) and ``shingles``
    (corpus_id, _sh_corpus_id hashed shingle array) — plus the banding
    parameters that arriving batches must reuse.  Write both frames to
    parquet ONCE after corpus dedup; every daily
    `incremental_near_dup_pairs(corpus_index=...)` call then skips the
    corpus-side signature/shingle scans entirely — the 100 TB corpus
    is never re-read for an arriving batch."""
    if bands is None:
        bands = _knee_bands(num_hashes, threshold)
    sigs = minhash_signatures(
        corpus, id_col, text_col, num_hashes, shingle_n, seed, hash_fn
    )
    bands_df = _band_rows(
        sigs, id_col, "sig", num_hashes, bands, hash_fn == "md5"
    ).select(F.col("_id").alias("corpus_id"), "band", "bucket")
    shingles_df = corpus.select(
        F.col(id_col).alias("corpus_id"),
        _shingle_ids(
            T.char_shingles(text_col, n=shingle_n, distinct=True), hash_fn
        ).alias("_sh_corpus_id"),
    )
    return {
        "bands": bands_df,
        "shingles": shingles_df,
        "num_hashes": num_hashes,
        "bands_n": bands,
        "shingle_n": shingle_n,
        "seed": seed,
        "hash_fn": hash_fn,
    }


def save_near_dup_index(index: dict, path: str) -> None:
    """Persist a `build_near_dup_index` dict as ONE self-describing
    parquet artifact: ``<path>/bands``, ``<path>/shingles``, and a
    one-row ``<path>/params`` table carrying the banding parameters —
    so a later session (or another cluster) reloads everything it
    needs to keep batch buckets compatible with the corpus."""
    spark = index["bands"].sparkSession
    index["bands"].write.mode("overwrite").parquet(path + "/bands")
    index["shingles"].write.mode("overwrite").parquet(path + "/shingles")
    spark.createDataFrame(
        [
            (
                int(index["num_hashes"]),
                int(index["bands_n"]),
                int(index["shingle_n"]),
                int(index["seed"]),
                str(index["hash_fn"]),
            )
        ],
        "num_hashes int, bands_n int, shingle_n int, seed int,"
        " hash_fn string",
    ).write.mode("overwrite").parquet(path + "/params")


def load_near_dup_index(spark, path: str) -> dict:
    """Reload a `save_near_dup_index` artifact; inverse round-trip."""
    p = spark.read.parquet(path + "/params").collect()[0]
    return {
        "bands": spark.read.parquet(path + "/bands"),
        "shingles": spark.read.parquet(path + "/shingles"),
        "num_hashes": p["num_hashes"],
        "bands_n": p["bands_n"],
        "shingle_n": p["shingle_n"],
        "seed": p["seed"],
        "hash_fn": p["hash_fn"],
    }


def incremental_near_dup_pairs(
    corpus: DataFrame | None,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int | None = None,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    corpus_index: dict | None = None,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an EXISTING corpus —
    (batch_id, corpus_id, jaccard) — without ever pairing the corpus
    against itself: the daily-increment production pattern.  A 100 TB
    corpus is deduped ONCE (`pipeline.dedup_corpus`); each day's
    arrivals then run this asymmetric check, whose cost scales with
    the BATCH.

    Pass ``corpus_index`` (from `build_near_dup_index`, typically
    re-read from parquet) to skip the corpus-side signature/shingle
    scans — banding parameters then come FROM the index so batch and
    corpus buckets stay compatible; ``corpus`` may be None.

    Candidates come from a band-bucket EQUI join of batch bands against
    corpus bands (never a self-join side); verification intersects
    hashed shingle sets only for candidates.  Banding defaults to the
    q46 threshold-knee rule."""
    if corpus is None and corpus_index is None:
        raise ValueError(
            "incremental_near_dup_pairs needs either a corpus DataFrame"
            " or a corpus_index from build_near_dup_index"
        )
    if corpus_index is None:
        corpus_index = build_near_dup_index(
            corpus, id_col, text_col, threshold, num_hashes, bands,
            shingle_n, seed, hash_fn,
        )
    # banding parameters come from the index so batch and corpus buckets
    # stay compatible
    num_hashes = corpus_index["num_hashes"]
    shingle_n = corpus_index["shingle_n"]
    hash_fn = corpus_index["hash_fn"]
    bb = _band_rows(
        minhash_signatures(
            batch, id_col, text_col, num_hashes, shingle_n,
            corpus_index["seed"], hash_fn,
        ),
        id_col, "sig", num_hashes, corpus_index["bands_n"], hash_fn == "md5",
    ).select(F.col("_id").alias("batch_id"), "band", "bucket")
    cands = bb.join(corpus_index["bands"], ["band", "bucket"]).select(
        "batch_id", "corpus_id"
    ).distinct()
    batch_sh = batch.select(
        F.col(id_col).alias("batch_id"),
        _shingle_ids(
            T.char_shingles(text_col, n=shingle_n, distinct=True), hash_fn
        ).alias("_sh_batch_id"),
    )
    return _verify_jaccard(
        cands, batch_sh, corpus_index["shingles"], threshold
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03) as rows
    (id, fp): min rolling-hash in each window of ``w`` consecutive
    character n-grams, deduplicated.

    Shuffle-based formulation — posexplode the rolling hashes, then a
    bounded-frame window min — rather than the nested array-expression
    form (``functions.text.winnowing_fingerprint``): per-row expression
    depth stays constant, work distributes with the corpus partitioning,
    and skewed long documents parallelize across their hash positions.
    """
    from pyspark.sql.window import Window

    hs = df.select(
        F.col(id_col),
        F.posexplode(T.rolling_hashes(text_col, n, hash_fn)).alias("pos", "h"),
    )
    frame = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    whole = Window.partitionBy(id_col)
    return (
        hs.withColumn("_sz", F.count(F.lit(1)).over(whole))
        .withColumn("_wmin", F.min("h").over(frame))
        .filter(F.col("pos") <= F.greatest(F.col("_sz") - w, F.lit(0)))
        .select(F.col(id_col), F.col("_wmin").alias("fp"))
        .distinct()
    )


def dedup_by_pairs(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Greedy keep-smallest-id dedup: drop any row whose id appears as the
    larger side of a near-dup pair.  (Deterministic, single anti-join; the
    transitive-closure variant is `dedup_clusters` for cluster-level
    dedup.)"""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Transitive closure of near-dup pairs: (id, cluster) where cluster
    is the smallest doc id in the connected component of the pair graph.

    Near-dup similarity is NOT transitive — A~B and B~C do not make A and
    C similar — so corpus-level dedup takes the closure explicitly and
    keeps one canonical document per cluster (the standard practice in
    large-scale training-data dedup; `dedup_by_pairs` is the greedy
    non-transitive variant).

    Scale shape: the pair graph holds only near-dup ids — a small
    fraction of a 100 TB corpus.  The closure is
    ``graph/algorithms.py::connected_components`` over it, so a pair
    graph within the driver budget (pairs and distinct ids) is closed
    on the driver — a superstep loop on a graph this size is pure
    overhead (measured ~6 s for a 241-pair graph at sf0.1 vs ~0.3 s on
    the driver) — and a larger one by Pregel min-label propagation in
    O(cluster diameter) supersteps.  Pairs with an id that does not
    cast to a long are dropped.  The edge count that picks the tier
    also materializes the pair table's lazy checkpoint, so neither tier
    recomputes the (expensive) pair derivation.
    """
    from graphmapreduce_spark.graph.algorithms import connected_components
    from graphmapreduce_spark.graph.property_graph import PropertyGraph

    # try_cast: under ANSI SQL (the Spark 4 default) a plain cast THROWS
    # on a malformed id; try_cast yields NULL instead, and the filter
    # below drops those rows
    edges = pairs.select(
        F.col(id_a).try_cast("long").alias("src"),
        F.col(id_b).try_cast("long").alias("dst"),
    ).localCheckpoint(eager=False)
    # ids that cast to NULL (non-numeric string ids through the public
    # API) are dropped: the closure's joins never match a null id, and
    # the pair graph's vertex set would otherwise hold a null id.  The
    # filter sits ABOVE the checkpoint so predicate pushdown stops at the
    # RDD boundary — pushing isnotnull(cast(id)) into the deep
    # verified-pairs plan measured +1 s of pure re-planning per
    # invocation at sf0.1.
    nn = edges.filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    comp = connected_components(
        PropertyGraph.from_edges(nn), max_iter=max_iter, check_interval=4
    )
    return comp.select(F.col("id"), F.col("component").alias("cluster"))


def canonical_docs(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    prefer: Column | str | None = None,
) -> DataFrame:
    """One representative row per near-dup cluster, plus every row that
    is in no cluster (unique docs pass through untouched).

    Default pick is the smallest id in the cluster (deterministic, no
    extra data needed).  With ``prefer`` (e.g. a quality-score column)
    the member maximizing it wins, ties broken by smallest id — so dedup
    keeps the BEST copy, not an arbitrary one.

    One left join + one per-cluster window (rows already co-located by
    the cluster shuffle); unique docs skip the window entirely.
    """
    from pyspark.sql.window import Window

    cl = clusters.select(
        F.col("id").alias(id_col), F.col("cluster")
    )
    joined = df.join(cl, id_col, "left")
    in_cluster = joined.filter(F.col("cluster").isNotNull())
    unique = joined.filter(F.col("cluster").isNull()).drop("cluster")
    order = [F.col(id_col).asc()]
    if prefer is not None:
        p = F.col(prefer) if isinstance(prefer, str) else prefer
        order = [p.desc(), F.col(id_col).asc()]
    w = Window.partitionBy("cluster").orderBy(*order)
    best = (
        in_cluster.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "cluster")
    )
    return unique.unionByName(best)


def simhash(
    col: Column | str, num_bits: int = 64, hash_fn: str = "xxhash64"
) -> Column:
    """SimHash fingerprint: for each bit, sum +1/-1 over word hashes;
    bit set iff the sum is positive.  Word-level.  ``hash_fn='md5'``
    uses the portable 60-bit hash the SQL oracle can replicate."""
    ws = T.words(col)
    hs = F.transform(ws, lambda w: T._hash_col(w, hash_fn))
    fp = F.lit(0).cast("long")
    for bit in range(num_bits):
        contrib = F.aggregate(
            hs,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << bit if bit < 63 else -(1 << 63))) != 0, 1).otherwise(-1),
        )
        fp = fp + F.when(contrib > 0, F.lit(1 << bit if bit < 63 else -(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return fp


def simhash_dup_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Groups of documents sharing an identical SimHash fingerprint.
    Returns (simhash, ids sorted, group_size >= 2)."""
    fp = df.select(
        F.col(id_col).alias("id"),
        simhash(text_col, num_bits, hash_fn).alias("simhash"),
    )
    return (
        fp.groupBy("simhash")
        .agg(
            F.array_sort(F.collect_list("id")).alias("ids"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") >= 2)
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicates with hamming tolerance (the banded mode
    promised alongside ``simhash_dup_groups``'s exact-fingerprint mode).

    Banding: the ``num_bits`` fingerprint is split into ``bands`` equal
    slices; candidate pairs share at least one identical (band index,
    band value) bucket; candidates are verified by exact popcount
    distance.  By pigeonhole the scheme is COMPLETE for
    ``max_hamming < bands`` (k differing bits can dirty at most k
    bands, leaving one intact) — the default 4×16-bit bands over a
    64-bit fingerprint exactly cover the classic hamming≤3 setting.
    Bucket join instead of the all-pairs cross product; the only
    quadratic step is within-bucket pair generation.

    Returns (id_a, id_b, hamming), id_a < id_b, hamming <= max_hamming.
    """
    if num_bits % bands:
        raise ValueError("num_bits must be divisible by bands")
    if max_hamming >= bands:
        raise ValueError(
            "completeness needs max_hamming < bands "
            f"(got hamming {max_hamming} with {bands} bands)"
        )
    band_w = num_bits // bands
    fp = df.select(
        F.col(id_col).alias("id"),
        simhash(text_col, num_bits, hash_fn).alias("fp"),
    )
    if band_w >= 64:
        band_vals = F.array(F.col("fp"))
    else:
        mask = (1 << band_w) - 1
        band_vals = F.array(
            *[
                F.shiftrightunsigned("fp", j * band_w).bitwiseAND(F.lit(mask))
                for j in range(bands)
            ]
        )
    banded = fp.select(
        "id", "fp", F.posexplode(band_vals).alias("band", "bv")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _shingle_index(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """The shingle inverted index of a corpus: per-doc distinct shingle
    arrays ``sh`` (id, sh) and the index rows ``inv`` (id, g) exploded
    from them."""
    sh = df.select(
        F.col(id_col).alias("id"),
        T.char_shingles(text_col, n=n, distinct=True).alias("sh"),
    )
    return sh, sh.select("id", F.explode("sh").alias("g"))


def _shingle_self_join(inv: DataFrame) -> DataFrame:
    """The inverted-index self-join: one (id_a, id_b) row, id_a < id_b,
    per indexed shingle the two documents share."""
    a, b = inv.alias("a"), inv.alias("b")
    return a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id"))
    ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))


def _shared_shingle_counts(sh: DataFrame, inv: DataFrame) -> DataFrame:
    """(id_a, id_b, inter, na, nb): ``inter`` shingles of ``inv`` shared
    by the pair, counted by one groupBy over the self-join, plus both
    documents' full set sizes from ``sh`` — full shingle arrays never
    ship to pairs; only the scalar set sizes join in, so the pair table
    stays narrow."""
    sizes = sh.select("id", F.size("sh").alias("n_sh"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        _shingle_self_join(inv)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sa, "id_a")
        .join(sb, "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity join via inverted shingle index.

    Candidate pairs AND their shared-shingle counts come from one
    groupBy over the inverted-index self-join (count = |A∩B| over the
    indexed shingles, `_shared_shingle_counts`).

    ``max_df`` caps shingle document frequency in the index: a shingle
    appearing in more than ``max_df`` docs produces O(df²) join rows and
    carries no dedup signal (boilerplate).  Hot-shingle detection runs
    EAGERLY (one small agg job at call time): when no shingle exceeds
    the cap — the common case on clean corpora — the plan is exactly
    the uncapped one, paying zero pruning branches (this was a measured
    +62% bench regression when the hot machinery stayed in-plan
    unconditionally).  When hot shingles exist they are removed with a
    broadcast anti-join (the hot set is tiny by construction — same
    scheme as the winnowing pair pipeline), and the Jaccard stays
    EXACT: the intersection count missing from the capped index is
    recovered by joining each doc's own (tiny) hot-shingle array to the
    pair and intersecting those — O(|hot per doc|) per pair, not
    O(|shingles per doc|).  The only pairs lost are those whose every
    shared shingle is hotter than ``max_df``.  ``None`` = no cap
    (exact, quadratic-risk on boilerplate-heavy corpora).

    Returns (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    """
    sh, inv = _shingle_index(df, id_col, text_col, n)
    hot_by_doc = None
    if max_df is not None:
        hot = (
            inv.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("g")
        )
        # existence probe: a partial-agg pass over the index, bounded
        # output.  The probe is strictly cheaper than carrying three
        # dead pruning branches through the main job when the hot set
        # is empty.
        if hot.limit(1).count() > 0:
            hot_by_doc = (
                inv.join(F.broadcast(hot), "g")
                .groupBy("id")
                .agg(F.collect_list("g").alias("hot_sh"))
            )
            inv = inv.join(F.broadcast(hot), "g", "left_anti")
    pairs = _shared_shingle_counts(sh, inv)
    if hot_by_doc is not None:
        ha = hot_by_doc.select(F.col("id").alias("id_a"), F.col("hot_sh").alias("hot_a"))
        hb = hot_by_doc.select(F.col("id").alias("id_b"), F.col("hot_sh").alias("hot_b"))
        empty = F.array().cast("array<string>")
        pairs = (
            pairs.join(ha, "id_a", "left")
            .join(hb, "id_b", "left")
            .withColumn(
                "inter",
                F.col("inter")
                + F.size(
                    F.array_intersect(
                        F.coalesce("hot_a", empty), F.coalesce("hot_b", empty)
                    )
                ),
            )
        )
    return (
        pairs.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: candidate pairs share a random-hyperplane
    LSH bucket, verified by exact cosine.  Returns (id_a, id_b, cosine)."""
    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(first["d"])
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((num_planes, dim)).tolist()
    sig = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        V.hyperplane_signature(vec_col, planes).alias("bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(V.cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def remove_boilerplate_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str = r"\n{2,}",
    min_df: int = 2,
    rejoin: str = "\n\n",
) -> DataFrame:
    """Corpus-level boilerplate removal (RefinedWeb-style): split each
    doc into segments, drop every segment whose trimmed form appears in
    >= ``min_df`` DISTINCT documents (headers, footers, nav chrome,
    license blurbs), reassemble the survivors in original order.

    Returns (id_col, text_col) for documents with >= 1 surviving
    segment; fully-boilerplate docs drop out (filter them upstream of
    rejoin if empty docs must be kept).

    Scale shape: posexplode -> per-segment doc-frequency agg (two
    shuffles over segment text, map-side combinable) -> anti-join of
    the hot set, broadcast-hinted (boilerplate vocabularies are small)
    -> one groupBy(id) to reassemble.  No UDF, no driver data path.
    """
    seg = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias("pos", "seg"),
    ).filter(F.trim(F.col("seg")) != "")
    key = F.trim(F.col("seg"))
    hot = F.broadcast(
        seg.select(key.alias("k"), F.col(id_col))
        .distinct()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("k")
    )
    kept = seg.join(hot, key == F.col("k"), "left_anti")
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            rejoin,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
        ).alias(text_col)
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None = None,
    n: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-training-doc count of distinct word n-grams shared with an
    eval/benchmark set — the standard test-set-decontamination signal
    (n-gram collision, as used for pretraining-corpus decontamination).

    Returns (id_col, matched_ngrams >= 1); clean docs are absent.

    Scale shape: the eval side (benchmarks: thousands of docs) collapses
    to a distinct n-gram set and is broadcast, so the 100 TB train side
    is ONE scan + broadcast hash semi-join — no train-side shuffle until
    the per-doc count agg, which only sees matched (rare) rows.  Pass
    ``broadcast_eval=False`` for an eval set too big to broadcast; the
    same plan runs as a shuffle join.  ``word_ngrams`` is distinct
    per doc, so the count is exactly #distinct contaminated grams.
    """
    ev = eval_df.select(
        F.explode(
            T.word_ngrams(eval_text_col or text_col, n)
        ).alias("gram")
    ).distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr = train.select(
        F.col(id_col),
        F.explode(T.word_ngrams(text_col, n)).alias("gram"),
    )
    return tr.join(ev, "gram").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("matched_ngrams")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    eval_text_col: str | None = None,
    n: int = 8,
    min_overlap: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Drop training docs sharing >= ``min_overlap`` distinct word
    n-grams with the eval set (anti-join on the contamination report).
    Returns the clean ``train`` rows unchanged."""
    flagged = contamination_report(
        train, eval_df, id_col, text_col, eval_text_col, n, broadcast_eval
    ).filter(F.col("matched_ngrams") >= min_overlap)
    return train.join(flagged.select(id_col), id_col, "left_anti")


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delimiter: str = r"\n",
    rejoin: str = "\n",
    min_len: int = 1,
) -> DataFrame:
    """Corpus-level exact line dedup (CCNet-style): every distinct
    trimmed line keeps ONLY its first occurrence in corpus order —
    smallest (doc id, position) — and every later copy (in other docs
    or later in the same doc) is dropped.  The complement of
    ``remove_boilerplate_segments``: that removes ALL copies of hot
    segments, this keeps exactly one copy of every line.

    Lines whose trimmed form is empty are dropped; lines shorter than
    ``min_len`` characters are exempt from dedup (kept everywhere) so
    structural stubs — bullets, braces, separators — don't collapse
    corpus-wide.  ``delimiter`` is a Java regex, ``rejoin`` a literal.

    Returns (id_col, text_col); docs whose every line lost drop out.

    Scale shape: posexplode -> winner-per-line agg + join back, both
    keyed on md5(line) so shuffle keys stay fixed-width regardless of
    line length; no UDF, no driver data path.  Two shuffles over the
    line set, map-side combinable.
    """
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), delimiter)).alias("pos", "line"),
    ).withColumn("k", F.md5(F.trim(F.col("line"))))
    lines = lines.filter(F.trim(F.col("line")) != "")
    exempt = lines.filter(F.length(F.trim(F.col("line"))) < min_len)
    ded = lines.filter(F.length(F.trim(F.col("line"))) >= min_len)
    winners = ded.groupBy("k").agg(
        F.min(F.struct(F.col("_id").alias("i"), F.col("pos").alias("p"))).alias("w")
    )
    kept = (
        ded.join(winners, "k")
        .filter((F.col("_id") == F.col("w.i")) & (F.col("pos") == F.col("w.p")))
        .select("_id", "pos", "line")
    )
    survivors = kept.unionByName(exempt.select("_id", "pos", "line"))
    return survivors.groupBy("_id").agg(
        F.concat_ws(
            rejoin,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias(text_col)
    ).select(F.col("_id").alias(id_col), text_col)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """n-gram CONTAINMENT join — the asymmetric complement of
    `ngram_jaccard_pairs`: containment(A in B) = |A∩B| / |A|, the
    statistic for quotation / excerpt / benchmark-contamination
    detection where a small document is (near-)embedded in a large one
    and symmetric Jaccard stays low because the union is dominated by
    the large side.

    Same inverted-index plan as the uncapped Jaccard join
    (`_shared_shingle_counts`: shared-shingle counts from one groupBy
    over the index self-join; only scalar set sizes join onto the
    narrow pair table); scores are exact.

    Returns (id_a, id_b, cont_a_in_b, cont_b_in_a) for pairs where
    EITHER direction reaches ``threshold``; id_a < id_b.
    """
    out = (
        _shared_shingle_counts(*_shingle_index(df, id_col, text_col, n))
        .withColumn(
            "cont_a_in_b", F.col("inter").cast("double") / F.col("na")
        )
        .withColumn(
            "cont_b_in_a", F.col("inter").cast("double") / F.col("nb")
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
    )
    return out.select(
        "id_a",
        "id_b",
        F.round("cont_a_in_b", 6).alias("cont_a_in_b"),
        F.round("cont_b_in_a", 6).alias("cont_b_in_a"),
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard join with PPJoin-style PREFIX FILTERING
    (Xiao et al., WWW'08) — provably lossless candidate pruning:
    under any global shingle ordering, two sets with J ≥ t MUST share a
    shingle among their first ``|A| − ⌈t·|A|⌉ + 1`` shingles, so only
    that prefix is indexed.  With the canonical rarest-first order
    (document frequency ascending, shingle value tiebreak) the indexed
    shingles are also the LOW-df ones, which squeezes the candidate set
    from both ends — on template corpora where every doc shares most
    shingles this prunes what a size-ratio filter cannot (measured:
    size filter dropped 10% of q46 candidates; prefixes of a t=0.5 join
    index ~half of each doc's rarest shingles only).

    Output contract is IDENTICAL to `ngram_jaccard_pairs` (id_a < id_b,
    jaccard ≥ threshold, exact scores) — losslessness is value-checked
    by registering this plan against the plain inverted-index oracle.

    Plan: df-table agg, one per-doc window to rank shingles rarest-
    first, prefix-only inverted index self-join, then exact verification
    on full 60-bit-hashed shingle sets for the (small) candidate set.
    """
    sh, inv = _shingle_index(df, id_col, text_col, n)
    dfreq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql.window import Window as W

    ranked = (
        inv.join(dfreq, "g")
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("id").orderBy(F.col("_df"), F.col("g"))
            ),
        )
        .withColumn("_na", F.count(F.lit(1)).over(W.partitionBy("id")))
    )
    prefix_len = F.col("_na") - F.ceil(F.lit(threshold) * F.col("_na")) + 1
    pref = ranked.filter(F.col("_rn") <= prefix_len).select("id", "g")
    cands = _shingle_self_join(pref).distinct()
    hashed = sh.select("id", _shingle_ids(F.col("sh"), "md5").alias("_sh"))
    a = hashed.select(F.col("id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = hashed.select(F.col("id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return _verify_jaccard(cands, a, b, threshold)


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplication profile (the span-dedup signal of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): for every document, the fraction of its word ``n``-gram
    POSITIONS whose gram occurs ≥ ``min_count`` times corpus-wide
    (other documents or elsewhere in the same one).  Returns
    ``(id, n_grams, n_dup, dup_ratio)`` — documents shorter than ``n``
    words are excluded (they have no spans).

    Unlike the distinct-shingle paths above, positions are kept —
    but they never SHUFFLE: ``n_grams`` is the gram-array length (a
    narrow expression), the gram-count agg partial-combines down to
    the vocabulary before its exchange, and only the (count ≥
    min_count) DUP-GRAM SET flows back, as a semi join the optimizer
    broadcasts whenever the dup vocabulary is small (it is, unless the
    corpus is mostly duplicated — and then the join is the point).
    Gram keys are 60-bit md5 longs, so every shuffled row is
    fixed-width.  The position stream is re-derived per consumer by a
    narrow explode of the checkpointed gram-array table — the arrays
    are hashed once, and only the cheap explode repeats.
    """
    # spread rows across cores BEFORE the per-position md5 fan-out
    # (same rule as minhash_signatures): a corpus read from few/large
    # files scans as few partitions, and the gram hashing — the
    # dominant cost of this operator — would otherwise run serially.
    # One narrow shuffle of (id, text); every downstream branch reuses
    # the exchange (ReusedExchange), so the hashing parallelizes in all
    # three consumers of the gram stream.  Input-parallelism-gated
    # (operators/_spread.py): a many-file corpus skips the shuffle.
    df = spread_by(df.select(id_col, text_col), F.col(id_col))
    # bind the token array ONCE via a lambda variable (the per-index
    # slice lambda would otherwise re-evaluate the split per element —
    # quadratic per document; same trick as hashed_ngram_score)
    w0 = T.words(F.lower(F.col(text_col)))
    grams = F.transform(
        F.array(w0),
        lambda w: F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - n + 1),
                lambda i: T.md5_hash60(
                    F.concat_ws(" ", F.slice(w, i, F.lit(n)))
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>")),
    )[0]
    docs = df.select(F.col(id_col).alias("id"), grams.alias("_g")).filter(
        F.size("_g") > 0
    )
    # materialize the gram-array table once (lazy checkpoint; the first
    # consumer's job populates it): the per-position md5 hashing is the
    # dominant cost and THREE consumers sit above the reused exchange
    # (the vocab agg's position stream, the semi-join's position stream,
    # and the final per-doc size projection) — each would re-hash the
    # corpus.  The artifact is (id, array<long>) ≈ 8 bytes per token —
    # bounded by corpus text size, MEMORY_AND_DISK so big corpora spill
    # instead of recomputing (r07: 1.17 → 0.44 s warm at sf0.1)
    docs = docs.localCheckpoint(eager=False)
    pos = docs.select("id", F.explode("_g").alias("g"))
    dup_set = (
        pos.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("g")
    )
    dup_counts = (
        pos.join(dup_set, "g", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        docs.select("id", F.size("_g").cast("long").alias("n_grams"))
        .join(dup_counts, "id", "left")
        .select(
            "id",
            "n_grams",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.round(
                F.coalesce("n_dup", F.lit(0)) / F.col("n_grams"), 6
            ).alias("dup_ratio"),
        )
    )

"""End-to-end corpus preparation — the composition the individual
operators exist for: a user of the reference switching to this engine
gets the whole normalize → quality-gate → dedup → tokenize → pack flow
as one call, not a parts list.

Every stage is an already-oracled operator (q85 normalize, q127 gopher
rules, q40 exact dedup, q92 packing), so the composed plan is itself
value-checkable end-to-end (q141) — and because each stage is a pure
DataFrame transform, Catalyst fuses the narrow ones (normalize + gate +
fingerprint run in ONE scan) and only the dedup agg and the packing
cumsum shuffle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from graphmapreduce_spark.functions import text as T
from graphmapreduce_spark.operators.packing import packed_layout
from graphmapreduce_spark.operators.quality import gopher_rules


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 2048,
    range_size: int = 100_000,
    near_dup: bool = False,
    near_kwargs: dict | None = None,
    **gate_kwargs,
) -> DataFrame:
    """Normalize text, drop documents failing the Gopher quality gates,
    dedup on the normalized form (keep the smallest id), count
    tokens, and lay the survivors out into ``capacity``-token context
    windows.  Returns (id_col, n_tokens, bin, offset) — the loader
    manifest for a pretraining run.  ``gate_kwargs`` pass through to
    `gopher_rules` (tune thresholds to the corpus register — web text
    carries the paper defaults; terse technical corpora need looser
    word-count/stopword floors).

    ``near_dup=False``: exact dedup — ONE agg (group on normalized
    text, min id) + the packing cumsum's range window; everything else
    is scan-fused expressions.  ``near_dup=True``: the 100 TB path —
    the exact-dedup stage is replaced by the FULL `dedup_corpus`
    recipe (exact reps → capped MinHash-LSH → cluster → canonical
    mapping) over the gated documents, and only cluster canonicals
    (``id == canonical_id``) flow into tokenize/pack.  ``near_kwargs``
    pass through to `dedup_corpus` (threshold, num_hashes, hash_fn,
    max_bucket_size, est_margin, verify_sample_mod, …).  Stage costs
    are exactly the measured q576 recipe + the one packing window.
    """
    norm = docs.select(
        F.col(id_col),
        T.normalize_text(text_col).alias("_ntext"),
    )
    gated = gopher_rules(
        norm, id_col, "_ntext", **gate_kwargs
    ).filter(F.col("keep")).select(id_col)
    kept = norm.join(gated, id_col, "left_semi")
    if near_dup:
        mapping = dedup_corpus(
            kept, id_col, "_ntext", **(near_kwargs or {})
        )
        canonical = kept.join(
            mapping.filter(
                F.col(id_col) == F.col("canonical_id")
            ).select(id_col),
            id_col,
            "left_semi",
        )
    else:
        canonical = kept.groupBy("_ntext").agg(
            F.min(id_col).alias(id_col)
        )
    toks = canonical.select(
        F.col(id_col),
        T.token_count("_ntext").cast("long").alias("n_tokens"),
    )
    return packed_layout(
        toks, id_col, "n_tokens", capacity=capacity, range_size=range_size
    )


def dedup_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int | None = None,
    shingle_n: int = 5,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = 64,
    est_margin: float | None = 0.2,
    verify_sample_mod: int | None = 4,
    max_iter: int = 50,
    prefer: str | None = None,
    emit_index: bool = False,
) -> "DataFrame | tuple[DataFrame, dict]":
    """The production 100 TB dedup recipe as ONE composed operator
    (BASELINE.md's prescription, previously prose): exact-dedup first,
    MinHash-LSH with the measured cost knobs on the exact survivors
    only, transitive clustering of the verified pairs, and a full
    doc → canonical mapping out — WITHOUT ever materializing
    within-cluster all-pairs.

    Returns (id_col, canonical_id): every input document mapped to the
    id of its surviving representative (the smallest id in its near-dup
    cluster).  A document is kept iff ``id_col == canonical_id``;
    ``count(distinct canonical_id)`` is the deduped corpus size.  A
    document whose text is null maps to its own id and enters neither
    the exact nor the near-dup stage.

    Two tiers, as in ``graph/`` (``graph/iterate.py::driver_local``).
    A corpus with integral, unique, non-null ids, within the driver
    budget (``spark.graphmapreduce.clusterBroadcastMaxPairs`` rows,
    default 1M) and within 8 MiB of text, is collected once and all
    four stages below run as one numpy pass on the driver
    (``_dedup_local``), with the same rows and schema out; ``prefer``
    and ``emit_index`` then run on its local frames.  If the
    representatives' candidate pairs outgrow the budget, their driver
    signatures are handed to the distributed LSH plan.  Every other
    corpus (budget 0 included) runs the Spark stages.

    Stage shapes, in order (the Spark tier's shapes; tier (a) runs the
    same steps as arrays):
      1. exact: group on md5(text) (16-byte key, never the text) →
         min-id representative; the doc→rep mapping rides the same
         hash key, so the widest shuffle of the whole recipe carries
         (id, 128-bit hash), not documents.
      2. near-dup: `minhash_lsh_near_dup_pairs` over REPRESENTATIVES
         ONLY — exact copies (the bulk of web-scale duplication) never
         reach shingling.  ``max_bucket_size`` star-expands degenerate
         LSH buckets (pair count linear in bucket size, exactly what
         transitive clustering needs); ``est_margin`` drops candidates
         whose signature-estimated Jaccard is below
         threshold−margin before the shingle-set verify.  Both knobs
         are deterministic given the seed, hence oracle-replicable.
         On the Spark tier, representatives within the driver budget
         in rows and within 8 MiB of text (``operators/dedup.py::
         _lsh_local``) still run this whole step as one numpy pass on
         the driver, with the same pairs out; larger ones run it as
         Spark stages.
      3. cluster: connected components over the verified pair graph
         (`dedup_clusters`, i.e. ``graph/algorithms.py::
         connected_components``), labeled by the component's min id.
         Within the driver budget (``graph/iterate.py::driver_local``:
         ``spark.graphmapreduce.clusterBroadcastMaxPairs`` valid pairs
         and distinct ids, default 1M) the closure runs on the driver
         over the collected pairs; above it, Pregel min-label
         propagation in O(cluster diameter) supersteps.
      4. map-back: doc → exact rep → cluster label, one left join on
         the representative id, coalescing unique docs to themselves.

    ``emit_index=True`` returns ``(mapping, index)`` instead: the
    persistable band index over the kept canonicals as a byproduct
    (see `_with_index`) — persist with
    `operators.dedup.save_near_dup_index` and feed later batches to
    `incremental_near_dup_pairs(corpus_index=...)`.
    """
    from graphmapreduce_spark.operators.dedup import _knee_bands

    if bands is None:
        bands = _knee_bands(num_hashes, threshold)
    lsh = dict(
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
    base, rep_docs, sigs = _dedup_local(
        docs, id_col, text_col, emit_index, **lsh
    )
    if base is None:
        base, rep_docs = _dedup_distributed(
            docs, id_col, text_col, sigs, max_iter, lsh
        )
    if prefer is None:
        mapping = base
        return _with_index(
            mapping, None, docs, rep_docs, id_col, text_col, threshold,
            num_hashes, bands, shingle_n, seed, hash_fn,
        ) if emit_index else mapping
    # quality-preferred canonical: within each cluster keep the member
    # with the highest ``prefer`` value (smallest id on ties — the q77
    # canonical_docs convention), and point EVERY member at it.  One
    # max-struct agg on the cluster key + one broadcast-back join —
    # the cluster-best table is one row per cluster.
    # type-agnostic tiebreak (string / uuid doc ids work): pass 1 takes
    # the cluster-max quality, pass 2 the MIN id among members at that
    # quality — arithmetic id negation would be NULL for non-numeric
    # ids and silently degrade the documented smallest-id-on-ties
    # convention.  Null/non-numeric quality folds to -inf so clusters
    # whose members all lack a score still keep a canonical.
    q = F.coalesce(
        F.col(prefer).cast("double"), F.lit(float("-inf"))
    ).alias("_q")
    members = base.join(docs.select(id_col, prefer), id_col).select(
        id_col, "canonical_id", q
    )
    best_q = members.groupBy("canonical_id").agg(F.max("_q").alias("_mq"))
    best = (
        members.join(best_q, "canonical_id")
        .filter(F.col("_q") == F.col("_mq"))
        .groupBy("canonical_id")
        .agg(F.min(id_col).alias("_best_id"))
    )
    mapping = base.join(best, "canonical_id").select(
        id_col, F.col("_best_id").alias("canonical_id")
    )
    if not emit_index:
        return mapping
    return _with_index(
        mapping, prefer, docs, rep_docs, id_col, text_col, threshold,
        num_hashes, bands, shingle_n, seed, hash_fn,
    )


def _dedup_local(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    emit_index: bool,
    *,
    num_hashes: int,
    seed: int,
    **knobs,
) -> tuple[DataFrame | None, DataFrame | None, DataFrame | None]:
    """``dedup_corpus`` on tier (a): ``(base, rep_docs, None)``, the
    mapping and (with ``emit_index``) the representatives' ``(id,
    text)`` as local frames; ``(None, None, sigs)`` when the
    representatives' candidate pairs outgrow the budget, ``sigs`` being
    their signatures for the distributed LSH plan; ``(None, None,
    None)`` for any other corpus.

    The gate is the LSH stage's (``operators/dedup.py::
    _driver_corpus``: integral, unique, non-null ids within the driver
    budget and 8 MiB of text).  One numpy pass then runs every stage on
    the collected table's non-null texts: the min id per md5 digest of
    the UTF-8 text (the distributed groupBy key), the LSH stage over
    those representatives only (``_lsh_collected``), min-label WCC over
    the verified pairs (``graph/algorithms.py::_min_label_roots``) and
    the map-back doc → representative → its cluster's min id."""
    from graphmapreduce_spark.graph.algorithms import _min_label_roots
    from graphmapreduce_spark.operators.dedup import (
        _driver_corpus,
        _lsh_collected,
    )

    table = _driver_corpus(docs, id_col, text_col, knobs["verify_sample_mod"])
    if table is None:
        return None, None, None
    ids = table.column(0)
    key = ids.to_numpy()
    texts = table.column(1)
    # a null text maps to itself and enters neither exact dedup nor LSH
    has = np.flatnonzero(pc.is_valid(texts).to_numpy(zero_copy_only=False))
    digest = np.frombuffer(
        b"".join(
            hashlib.md5(t).digest()
            for t in pc.cast(texts.take(has), pa.binary()).to_pylist()
        ),
        "V16",
    )
    # in id order, a digest's first row is its min id
    by_id = np.argsort(key[has], kind="stable")
    _, first, group = np.unique(
        digest[by_id], return_index=True, return_inverse=True
    )
    rep = has[by_id[first]]
    reps = table.take(rep)
    spark = docs.sparkSession
    id_field = docs.schema[id_col]
    pairs, sigs = _lsh_collected(
        spark, reps.column(0), reps.column(1), id_field,
        num_hashes=num_hashes, seed=seed, **knobs
    )
    if pairs is None:
        return None, None, sigs
    roots, _ = _min_label_roots(
        key[rep], np.ones(len(rep), dtype=bool), pairs[0], pairs[1]
    )
    canon = key.astype(np.int64)
    canon[has[by_id]] = key[rep[roots[group]]]
    schema = StructType(
        [id_field, StructField("canonical_id", LongType(), True)]
    )
    out = pa.table(
        [ids.combine_chunks(), pa.array(canon, pa.int64())],
        names=schema.names,
    )
    rep_docs = None
    if emit_index:
        rep_docs = spark.createDataFrame(
            reps, StructType([id_field, docs.schema[text_col]])
        )
    return spark.createDataFrame(out, schema), rep_docs, None


def _dedup_distributed(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    sigs: DataFrame | None,
    max_iter: int,
    lsh: dict,
) -> tuple[DataFrame, DataFrame]:
    """``dedup_corpus``' Spark recipe: (base mapping, representatives'
    ``(id, text)``).  ``sigs`` are the representatives' signatures
    signed by ``_dedup_local`` before it gave up, else ``None``."""
    from graphmapreduce_spark.operators.dedup import (
        _lsh_distributed,
        dedup_clusters,
        minhash_lsh_near_dup_pairs,
    )

    key = F.md5(F.col(text_col).cast("binary")).alias("_ck")
    texts = docs.filter(F.col(text_col).isNotNull())
    # materialize the (content-hash → representative) table once: it is
    # scanned by the doc→rep mapping AND the representative semi-join,
    # and each would otherwise re-hash + re-shuffle the corpus.  The
    # table is (16-byte hash, id) — corpus-linear but payload-free.
    reps = (
        texts.select(key, F.col(id_col))
        .groupBy("_ck")
        .agg(F.min(id_col).alias("_rep"))
        # lazy: the first downstream action (the LSH/cluster chain)
        # materializes it.  Under AQE the call still runs the shuffle
        # map stage below it (the groupBy's) as one job; eager would
        # also run the final stage here
        .localCheckpoint(eager=False)
    )
    # a null text has a null key, joins nothing and maps to itself
    exact_map = (
        docs.select(F.col(id_col), key)
        .join(reps, "_ck", "left")
        .select(id_col, F.coalesce("_rep", id_col).alias("_rep"))
    )
    # materialize once: the LSH stage scans representatives three ways
    # (signatures, sampled shingles, full shingles) — without the
    # checkpoint each scan would re-run the exact-dedup shuffle.  Not
    # spread by id here: each of those passes spreads its own input
    # (`operators/_spread.py`; a checkpoint has no input files and
    # reports no partitioning, so a spread before it would be shuffled
    # again), and `_with_index` spreads what it reads.
    rep_docs = (
        texts.join(
            reps.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
        )
        .select(id_col, text_col)
        # lazy as `reps` is: materialized on first use and shared by
        # every later consumer; under AQE the call still runs the
        # shuffle map stages below it as jobs of their own
        .localCheckpoint(eager=False)
    )
    if sigs is None:
        pairs = minhash_lsh_near_dup_pairs(rep_docs, id_col, text_col, **lsh)
    else:
        # tier (a) signed the representatives before their candidate
        # pairs outgrew the budget: the distributed plan takes them over
        pairs = _lsh_distributed(rep_docs, id_col, text_col, sigs, **lsh)
    id_type = docs.schema[id_col].dataType.simpleString()
    if id_type in ("bigint", "int", "smallint", "tinyint"):
        clusters = dedup_clusters(pairs, max_iter=max_iter)
    else:
        # string / uuid doc ids: the clustering (connected components
        # over the pair graph) needs LONG vertex ids, so rank the
        # representatives into an ORDER-
        # PRESERVING long surrogate (distributed sample-sort — no
        # hashing, hence zero collision risk at any corpus size, and
        # min-surrogate == min-id so the smallest-id canonical
        # convention survives translation both ways)
        from graphmapreduce_spark.operators.sort import global_rank

        sidmap = global_rank(
            rep_docs.select(id_col), [id_col], rank_col="_sid"
        ).localCheckpoint(eager=True)
        pairs_s = (
            pairs.join(
                sidmap.select(
                    F.col(id_col).alias("id_a"), F.col("_sid").alias("_sa")
                ),
                "id_a",
            )
            .join(
                sidmap.select(
                    F.col(id_col).alias("id_b"), F.col("_sid").alias("_sb")
                ),
                "id_b",
            )
            .select(
                F.col("_sa").alias("id_a"), F.col("_sb").alias("id_b")
            )
        )
        clusters = (
            dedup_clusters(pairs_s, max_iter=max_iter)
            .join(
                sidmap.select(
                    F.col("_sid").alias("id"), F.col(id_col).alias("_oid")
                ),
                "id",
            )
            .join(
                sidmap.select(
                    F.col("_sid").alias("cluster"),
                    F.col(id_col).alias("_ocl"),
                ),
                "cluster",
            )
            .select(
                F.col("_oid").alias("id"), F.col("_ocl").alias("cluster")
            )
        )
    base = (
        exact_map.join(
            clusters.withColumnRenamed("id", "_rep"), "_rep", "left"
        )
        .select(
            id_col,
            F.coalesce("cluster", "_rep").alias("canonical_id"),
        )
    )
    return base, rep_docs


def _with_index(
    mapping: DataFrame,
    prefer: str | None,
    docs: DataFrame,
    rep_docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int,
    bands: int | None,
    shingle_n: int,
    seed: int,
    hash_fn: str,
):
    """(mapping, index) for ``dedup_corpus(emit_index=True)``: the
    persistable band index (`operators/dedup.py build_near_dup_index`)
    over the SURVIVING canonical documents, built with the recipe's own
    banding parameters so the corpus-dedup → daily-increment flow
    (q576 → q580/q583) shares one artifact — write it once with
    `save_near_dup_index`, and every later batch screens against the
    kept corpus without re-reading it.

    With the default min-id canonical, every kept doc is an exact-dedup
    representative, so the index is a semi-join FILTER of the bands/
    shingles the LSH stage already derives from the checkpointed
    ``rep_docs`` — zero extra corpus scans.  With ``prefer=`` the
    cluster-best member may not be a representative, so the index is
    built over the kept docs' text instead (one extra scan of the KEPT
    subset only; exact-dup members share text, so either member's
    shingles are identical)."""
    from graphmapreduce_spark.operators._spread import spread_by
    from graphmapreduce_spark.operators.dedup import build_near_dup_index

    kept = (
        mapping.select(F.col("canonical_id").alias(id_col)).distinct()
    )
    if prefer is None:
        # spread as the signature pass spreads it: the two repartitions
        # by id collapse into one there, and the shingle pass reads the
        # spread rows too
        src = spread_by(rep_docs, F.col(id_col))
    else:
        src = docs.join(kept, id_col, "left_semi").select(id_col, text_col)
    index = build_near_dup_index(
        src, id_col, text_col, threshold=threshold,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        seed=seed, hash_fn=hash_fn,
    )
    kc = kept.withColumnRenamed(id_col, "corpus_id")
    index["bands"] = index["bands"].join(kc, "corpus_id", "left_semi")
    index["shingles"] = index["shingles"].join(kc, "corpus_id", "left_semi")
    return mapping, index

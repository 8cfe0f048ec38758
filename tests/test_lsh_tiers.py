"""Both tiers of ``minhash_lsh_near_dup_pairs`` and of the whole
``pipeline.dedup_corpus`` recipe: a corpus within the driver budget
runs as one numpy pass on the driver (tier (a)) and returns the same
rows as the distributed plan (budget 0); every input the kernels cannot
take exactly falls back to that plan."""

import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from graphmapreduce_spark import pipeline as P
from graphmapreduce_spark.graph import algorithms as A
from graphmapreduce_spark.graph.iterate import DRIVER_BUDGET_KEY, driver_local
from graphmapreduce_spark.operators import dedup as D

STAGED = dict(max_bucket_size=6, est_margin=0.2, verify_sample_mod=4)


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _corpus(spark, seed: int):
    """Boilerplate copies (one bucket per band, over the cap of
    ``STAGED``), random texts with one-word edits and tails (pairs
    around the threshold), a null text and a text shorter than a
    shingle."""
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(50)]
    rows = [(i, "one boilerplate line shared by every copy") for i in range(12)]
    for j in range(60):
        t = " ".join(rng.choices(words, k=rng.randint(4, 30)))
        rows.append((100 + 3 * j, t))
        if rng.random() < 0.6:
            w = t.split()
            w[rng.randrange(len(w))] = "zz"
            rows.append((101 + 3 * j, " ".join(w)))
        if rng.random() < 0.4:
            rows.append((102 + 3 * j, t + " and a tail"))
    rows += [(90, None), (91, "ab")]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df, **kw):
    out = D.minhash_lsh_near_dup_pairs(
        df, "doc_id", "text", threshold=0.5, num_hashes=32, shingle_n=5, **kw
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the distributed plan verifies by joins; tier (a) returns a local
    # relation
    tier = "distributed" if "Join" in plan else "driver"
    return tier, out.schema, sorted(tuple(r) for r in out.collect())


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
@pytest.mark.parametrize("staged", [False, True], ids=["one_plan", "staged"])
def test_driver_tier_pairs_equal_distributed(spark, hash_fn, staged):
    df = _corpus(spark, 11).localCheckpoint()
    kw = dict(hash_fn=hash_fn, **(STAGED if staged else {}))
    tier, schema, got = _pairs(df, **kw)
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        ref_tier, ref_schema, ref = _pairs(df, **kw)
    assert (tier, ref_tier) == ("driver", "distributed")
    assert schema == ref_schema
    assert got == ref
    # the boilerplate copies: all pairs uncapped, a star on id 0 capped
    copies = [(a, b) for a, b, _ in got if b < 12]
    assert copies == ([(0, b) for b in range(1, 12)] if staged else
                      [(a, b) for a in range(12) for b in range(a + 1, 12)])
    assert len(got) > len(copies)


def _falls_back(spark, df):
    """``df``'s pairs, checked to come from the distributed plan and to
    equal the budget-0 run's."""
    tier, _, got = _pairs(df)
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        ref_tier, _, ref = _pairs(df)
    assert (tier, ref_tier) == ("distributed", "distributed")
    assert got == ref
    return got


def test_duplicate_ids_fall_back(spark):
    df = spark.createDataFrame(
        [(1, "the same text in two rows"), (1, "the same text in two rows"),
         (2, "the same text in two rows")],
        "doc_id long, text string",
    )
    # the distributed plan verifies each row of id 1 against id 2
    assert _falls_back(spark, df) == [(1, 2, 1.0), (1, 2, 1.0)]


def test_null_ids_fall_back(spark):
    df = spark.createDataFrame(
        [(None, "the same text in two rows"), (1, "the same text in two rows"),
         (2, "the same text in two rows")],
        "doc_id long, text string",
    )
    assert _falls_back(spark, df) == [(1, 2, 1.0)]


def test_string_ids_fall_back(spark):
    df = spark.createDataFrame(
        [("a", "the same text in two rows"), ("b", "the same text in two rows")],
        "doc_id string, text string",
    )
    assert _falls_back(spark, df) == [("a", "b", 1.0)]


def test_text_bytes_over_the_bound_fall_back(spark, monkeypatch):
    """Text over the byte bound or over the broadcast threshold, and a
    threshold of -1, keep the corpus off tier (a)."""
    df = _corpus(spark, 3)
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    with _conf(spark, threshold, "100"):
        got = _falls_back(spark, df)
    with _conf(spark, threshold, "-1"):
        assert _falls_back(spark, df) == got
    with monkeypatch.context() as m:
        m.setattr(D, "_LSH_DRIVER_BYTES", 100)
        assert _falls_back(spark, df) == got
    assert _pairs(df)[::2] == ("driver", got)


@pytest.mark.parametrize("staged", [False, True], ids=["one_plan", "staged"])
def test_pairs_over_the_budget_fall_back(spark, monkeypatch, staged):
    """Candidate pairs over the budget send the corpus to the
    distributed plan, which takes the driver's signatures over instead
    of signing again."""
    # 6 copies of one text, within the bucket cap: 15 pairs from 6 rows
    df = spark.createDataFrame(
        [(i, "the same text in every row") for i in range(6)],
        "doc_id long, text string",
    )
    kw = STAGED if staged else {}
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        ref = _pairs(df, **kw)[2]
    with _conf(spark, DRIVER_BUDGET_KEY, "10"), monkeypatch.context() as m:
        m.setattr(D, "minhash_signatures", None)
        tier, _, got = _pairs(df, **kw)
    assert tier == "distributed" and got == ref and len(got) == 15
    with _conf(spark, DRIVER_BUDGET_KEY, str(len(got))):
        tier, _, got = _pairs(df, **kw)
    assert tier == "driver" and got == ref


def test_gate_reads_no_further_than_the_budget(spark):
    """The gate takes the text bytes of budget + 1 rows instead of
    scanning the corpus: a corpus over the budget is turned away after
    the partition that holds them, and no later partition is read."""
    df = spark.range(0, 100, numPartitions=4).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 25, F.lit("some text"))
        .otherwise(F.raise_error(F.lit("read past the budget")))
        .alias("text"),
    )
    with _conf(spark, DRIVER_BUDGET_KEY, "10"):
        assert driver_local(
            df, payload=F.octet_length("text"), max_bytes=1 << 20
        ) is None


def test_empty_unions_verify_as_no_pair(spark):
    """Rows of one id that have no shingle (a null text, a text shorter
    than a shingle) verify against each other with an empty union: the
    distributed verify takes that as no pair instead of dividing by
    zero, as the driver kernel does."""
    bp = "one boilerplate line shared by every copy"
    rows = [(i, bp) for i in range(5)]
    shared = rows + [(i, t) for i in (5, 6) for t in (bp, None, "ab")]
    df = spark.createDataFrame(shared, "doc_id long, text string")
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        tier, _, got = _pairs(df)
        assert tier == "distributed"
        assert {(a, b) for a, b, _ in got} == {
            (a, b) for a in range(7) for b in range(a + 1, 7)
        }
        mapping = P.dedup_corpus(df, "doc_id", "text", threshold=0.5,
                                 num_hashes=32, shingle_n=5).collect()
    # every row with a text joins 0's cluster; a null-text row maps to
    # its own id, which is in that cluster for id 5 (the "ab" rows'
    # representative) and no representative for id 6
    assert sorted(tuple(r) for r in mapping) == (
        [(i, 0) for i in range(6)] + [(5, 0), (5, 0), (6, 0), (6, 0), (6, 6)]
    )
    unique = rows + [(5, bp), (6, None), (7, "ab"), (8, "ab")]
    df = spark.createDataFrame(unique, "doc_id long, text string")
    tier, _, got = _pairs(df)
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        ref_tier, _, ref = _pairs(df)
    assert (tier, ref_tier) == ("driver", "distributed")
    assert got == ref and len(got) == 15


# ---------------------------------------------------------------------------
# pipeline.dedup_corpus
# ---------------------------------------------------------------------------
RECIPE = dict(threshold=0.5, num_hashes=32, shingle_n=5, **STAGED)


def _recipe_corpus(spark, seed: int, id_type: str = "bigint"):
    """Near copies of one boilerplate page (one bucket per band, over
    the cap of ``STAGED``) with exact copies of one of them, random
    texts with one-word edits, tails and exact copies, a text shorter
    than a shingle, and a quality score (null for some rows)."""
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(50)]
    page = "one boilerplate paragraph shared by every copy of the page " * 3
    texts = [(i, page + f"v{i}") for i in range(12)]
    texts += [(20 + i, page + "v3") for i in range(3)]
    for j in range(60):
        t = " ".join(rng.choices(words, k=rng.randint(4, 30)))
        texts.append((100 + 4 * j, t))
        if rng.random() < 0.6:
            w = t.split()
            w[rng.randrange(len(w))] = "zz"
            texts.append((101 + 4 * j, " ".join(w)))
        if rng.random() < 0.4:
            texts.append((102 + 4 * j, t + " and a tail"))
        if rng.random() < 0.3:
            texts.append((40 + j, t))
    texts.append((13, "ab"))
    rng.shuffle(texts)
    rows = [(i, t, rng.choice([None, 0.5, 1.0, 2.0])) for i, t in texts]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string, q double")


def _recipe(monkeypatch, df, **kw):
    """``dedup_corpus``' tier, schema and rows (in a fixed order) for
    ``df``."""
    calls = []
    distributed = P._dedup_distributed

    def recording(*args):
        calls.append(1)
        return distributed(*args)

    with monkeypatch.context() as m:
        m.setattr(P, "_dedup_distributed", recording)
        out = P.dedup_corpus(df, "doc_id", "text", **{**RECIPE, **kw})
        rows = sorted((tuple(r) for r in out.collect()), key=repr)
    return ("distributed" if calls else "driver"), out.schema, rows


@pytest.mark.parametrize("hash_fn,id_type", [("md5", "int"), ("xxhash64", "bigint")])
@pytest.mark.parametrize("prefer", [None, "q"])
def test_recipe_tiers_equal(spark, monkeypatch, hash_fn, id_type, prefer):
    df = _recipe_corpus(spark, 5, id_type).localCheckpoint()
    kw = dict(hash_fn=hash_fn, prefer=prefer)
    tier, schema, got = _recipe(monkeypatch, df, **kw)
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        ref_tier, ref_schema, ref = _recipe(monkeypatch, df, **kw)
    assert (tier, ref_tier) == ("driver", "distributed")
    assert schema == ref_schema
    assert got == ref
    canon = dict(got)
    if prefer is None:
        # the page's near copies (a star over the cap) and exact copies
        # form one cluster on its min id
        assert {canon[i] for i in [*range(12), 20, 21, 22]} == {0}
        assert 1 < len(set(canon.values())) < len(canon) - 15


def test_recipe_tier_a_runs_no_spark_stage(spark, monkeypatch):
    """On tier (a) the recipe signs, bands, verifies and clusters on the
    driver: neither the Spark LSH stages nor ``connected_components``
    run."""
    df = _recipe_corpus(spark, 7).localCheckpoint()
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        ref = _recipe(monkeypatch, df)[2]

    def boom(*args, **kwargs):
        raise AssertionError("a Spark stage ran on tier (a)")

    with monkeypatch.context() as m:
        for mod, name in [(A, "connected_components"), (D, "dedup_clusters"),
                          (D, "minhash_signatures"), (D, "lsh_candidate_pairs"),
                          (D, "_verify_jaccard"), (D, "_lsh_distributed")]:
            m.setattr(mod, name, boom)
        assert _recipe(monkeypatch, df)[::2] == ("driver", ref)


def _recipe_falls_back(spark, monkeypatch, df):
    """``df``'s mapping, checked to come from the distributed recipe and
    to equal the budget-0 run's."""
    tier, _, got = _recipe(monkeypatch, df)
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        ref_tier, _, ref = _recipe(monkeypatch, df)
    assert (tier, ref_tier) == ("distributed", "distributed")
    assert got == ref
    return got


@pytest.mark.parametrize(
    "rows,schema,expected",
    [
        ([("a", "the same text in two rows"), ("b", "the same text in two rows")],
         "string", [("a", "a"), ("b", "a")]),
        ([(None, "the same text in two rows"), (1, "the same text in two rows"),
          (2, "the same text in two rows")],
         "bigint", [(1, 1), (2, 1), (None, 1)]),
        ([(1, "the same text in two rows"), (1, "another text of its own"),
          (2, "the same text in two rows")],
         "bigint", [(1, 1), (1, 1), (2, 1)]),
    ],
    ids=["string_ids", "null_ids", "duplicate_ids"],
)
def test_recipe_falls_back(spark, monkeypatch, rows, schema, expected):
    df = spark.createDataFrame(rows, f"doc_id {schema}, text string")
    assert _recipe_falls_back(spark, monkeypatch, df) == expected


def test_recipe_maps_null_texts_to_themselves(spark, monkeypatch):
    """A document with a null text maps to its own id on both tiers, and
    tier (a) takes such a corpus with one collect."""
    df = spark.createDataFrame(
        [(1, "the same text in two rows"), (2, None),
         (3, "the same text in two rows")],
        "doc_id bigint, text string",
    )
    collects = []
    gate = D.driver_local

    def counting(*args, **kwargs):
        table = gate(*args, **kwargs)
        collects.append(table is not None)
        return table

    monkeypatch.setattr(D, "driver_local", counting)
    want = [(1, 1), (2, 2), (3, 1)]
    assert _recipe(monkeypatch, df)[::2] == ("driver", want)
    assert collects == [True]
    collects.clear()
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        assert _recipe(monkeypatch, df)[::2] == ("distributed", want)
    assert not any(collects)


def test_recipe_text_bytes_over_the_bound_fall_back(spark, monkeypatch):
    df = _recipe_corpus(spark, 3)
    with monkeypatch.context() as m:
        m.setattr(D, "_LSH_DRIVER_BYTES", 100)
        got = _recipe_falls_back(spark, monkeypatch, df)
    assert _recipe(monkeypatch, df)[::2] == ("driver", got)


def test_recipe_pairs_over_the_budget_fall_back(spark, monkeypatch):
    """Representatives whose candidate pairs outgrow the budget send the
    corpus to the distributed recipe, whose LSH stage takes the driver's
    signatures over instead of signing again."""
    # 6 near copies (plus an exact copy): 15 pairs from 6 representatives
    page = "the same page with a different last word " * 4
    df = spark.createDataFrame(
        [(i, page + f"v{i}") for i in range(6)] + [(6, page + "v0")],
        "doc_id long, text string",
    )
    with _conf(spark, DRIVER_BUDGET_KEY, "0"):
        ref = _recipe(monkeypatch, df)[2]
    signed = []
    sign = D._minhash_batches

    def once(*args):
        assert not signed, "the representatives were signed twice"
        signed.append(1)
        yield from sign(*args)

    with _conf(spark, DRIVER_BUDGET_KEY, "10"), monkeypatch.context() as m:
        m.setattr(D, "_minhash_batches", once)
        m.setattr(D, "minhash_signatures", None)
        assert _recipe(monkeypatch, df)[::2] == ("distributed", ref)
    assert signed == [1] and ref == [(i, 0) for i in range(7)]
    with _conf(spark, DRIVER_BUDGET_KEY, "15"):
        assert _recipe(monkeypatch, df)[::2] == ("driver", ref)

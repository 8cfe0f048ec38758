"""Both tiers of ``minhash_lsh_near_dup_pairs``: a corpus within the
driver budget runs as one numpy pass on the driver (tier (a)) and
returns the same rows as the distributed plan (budget 0); every input
the kernel cannot take exactly falls back to that plan."""

import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

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

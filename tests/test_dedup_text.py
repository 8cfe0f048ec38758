"""Dedup + text-analysis operator tests with by-construction golden
answers (FIXTURES.md §3: exact dups, near-dups ≥0.8 Jaccard, uniques)."""

import sys

import pytest
from pyspark.sql import functions as F

from graphmapreduce_spark.functions import text as T
from graphmapreduce_spark.operators import dedup as D

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
    (4, "completely different text about spark engines"),
    (5, "the lazy dog jumps over the quick brown fox"),  # same words, reordered
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(docs):
    kept = D.exact_dedup(docs, ["text"], "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5]


def test_normalized_fingerprint_collapses_reorder(docs):
    fp = docs.select("doc_id", T.normalized_fingerprint("text").alias("fp"))
    vals = {r["doc_id"]: r["fp"] for r in fp.collect()}
    assert vals[1] == vals[2] == vals[5]  # same token multiset
    assert vals[1] != vals[4]


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup → jaccard 1.0
    assert (1, 3) in got  # near dup
    assert not any(4 in p for p in got)


def test_ngram_jaccard_max_df_bounds_hot_shingle_pairs(spark):
    """One boilerplate shingle shared by every doc must not force O(n²)
    candidate pairs when max_df caps it; genuinely similar pairs (linked
    by cold shingles) survive with their EXACT jaccard (hot shingles
    still count in the score)."""
    n_docs = 40
    rows = [(i, f"ZZZZ doc number {i:04d} unique payload {i*7:05d}") for i in range(n_docs)]
    # docs 100/101: near-identical beyond the boilerplate
    rows += [
        (100, "ZZZZ shared sentence about spark engines and parquet"),
        (101, "ZZZZ shared sentence about spark engines and parquets"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=4, threshold=0.01
    )
    capped = D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=4, threshold=0.01, max_df=10
    )
    n_uncapped = uncapped.count()
    capped_rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # every doc shares the 'ZZZZ' 4-gram: uncapped is full quadratic
    assert n_uncapped == (n_docs + 2) * (n_docs + 1) // 2
    assert len(capped_rows) < n_uncapped / 4
    # the true near-dup pair survives the cap with its exact score
    assert (100, 101) in capped_rows
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped.collect()
    }[(100, 101)]
    assert capped_rows[(100, 101)] == exact


def test_minhash_lsh_finds_exact_and_near(docs, graph_tiers):
    for _ in graph_tiers():
        pairs = D.minhash_lsh_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16
        )
        rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        assert rows[(1, 2)] == 1.0
        assert (1, 3) in rows
        assert not any(4 in p for p in rows)


def test_minhash_lsh_est_margin_prefilter_keeps_true_pairs(docs, graph_tiers):
    """The signature-estimate prefilter (scale knob) must keep every
    clearly-above-threshold pair of the exact run: an exact dup (j=1)
    always agrees on all signature positions, and the (1,3) near-dup's
    agreement estimate concentrates far above threshold-margin."""
    for _ in graph_tiers():
        exact = D.minhash_lsh_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16
        )
        pre = D.minhash_lsh_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16,
            est_margin=0.2,
        )
        e = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
        p = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pre.collect()}
        # prefilter can only drop pairs, never add or change scores
        assert set(p) <= set(e)
        assert all(e[k] == p[k] for k in p)
        assert (1, 2) in p and p[(1, 2)] == 1.0
        assert (1, 3) in p


def test_minhash_lsh_sampled_verify_prefilter(docs, graph_tiers):
    """The hash-mod sampled-shingle prefilter (second scale knob) must
    keep every clearly-above-threshold pair with unchanged exact
    scores — it only skips full verification for pairs whose sampled
    Jaccard is far below threshold."""
    for _ in graph_tiers():
        exact = D.minhash_lsh_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16
        )
        pre = D.minhash_lsh_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16,
            verify_sample_mod=4,
        )
        e = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
        p = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pre.collect()}
        assert set(p) <= set(e)
        assert all(e[k] == p[k] for k in p)
        assert (1, 2) in p and p[(1, 2)] == 1.0
        assert (1, 3) in p


def test_dedup_corpus_composed_recipe(spark, graph_tiers):
    """pipeline.dedup_corpus end-to-end on a hand-checkable corpus:
    exact dups collapse to the min id, near-dups cluster transitively,
    unique docs map to themselves, and every input id appears exactly
    once in the mapping."""
    for _ in graph_tiers():
        from graphmapreduce_spark.pipeline import dedup_corpus

        base = "the quick brown fox jumps over the lazy dog " * 6
        rows = [
            (1, base),
            (2, base),                          # exact dup of 1
            (3, base + "EXTRA TAIL HERE"),      # near dup of 1
            (4, "completely different content about spark physical plans "
                * 6),
            (5, base),                          # another exact dup of 1
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["canonical_id"]
            for r in dedup_corpus(
                docs, "doc_id", "text", threshold=0.5, num_hashes=32,
            ).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 1}


def test_dedup_by_pairs(docs):
    pairs = D.minhash_lsh_near_dup_pairs(
        docs, "doc_id", "text", threshold=0.95, num_hashes=32, bands=16
    )
    kept = D.dedup_by_pairs(docs, "doc_id", pairs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert 1 in ids and 2 not in ids  # exact dup dropped, smaller id kept


def test_simhash_identical_for_exact_dups(docs):
    fp = {r["doc_id"]: r["sh"] for r in docs.select(
        "doc_id", D.simhash("text", num_bits=32).alias("sh")
    ).collect()}
    assert fp[1] == fp[2]
    assert fp[1] == fp[5]  # word-multiset based
    assert fp[1] != fp[4]


def test_simhash_hamming_band_near_dup(spark):
    """Banded hamming near-dup must equal the brute-force popcount join
    for max_hamming < bands (pigeonhole completeness)."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),  # ~1 word
        (3, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (4, "completely unrelated text about database query engines"),
        (5, "another entirely different document mentioning volcanoes"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_dup_pairs(
            docs, "doc_id", "text", num_bits=64, bands=4, max_hamming=3
        ).collect()
    }
    # brute force over the actual fingerprints
    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", D.simhash("text", 64).alias("fp")
        ).collect()
    }
    ids = sorted(fps)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                expect[(a, b)] = h
    assert got == expect
    assert got[(1, 3)] == 0  # exact dup pair must be present

    with pytest.raises(ValueError, match="max_hamming < bands"):
        D.simhash_near_dup_pairs(
            docs, "doc_id", "text", bands=4, max_hamming=4
        )


def test_simhash_dup_groups(docs):
    groups = D.simhash_dup_groups(docs, "doc_id", "text", num_bits=32).collect()
    grouped_ids = {tuple(g["ids"]) for g in groups}
    assert any({1, 2} <= set(g) for g in grouped_ids)


def test_embedding_near_dup(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.001, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "id long, vec array<double>",
    )
    pairs = D.embedding_near_dup_pairs(
        emb, "id", "vec", threshold=0.99, num_planes=4, seed=7
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is happy"),
            (2, "le chat est dans la maison et il est content"),
            (3, "el gato es feliz y la casa es grande"),
            (4, "der Hund ist nicht in der Schule und das ist gut"),
            (5, "xyzzy plugh qwerty"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["lang"] for r in df.select(
        "id", T.language_id("text").alias("lang")
    ).collect()}
    assert out == {1: "en", 2: "fr", 3: "es", 4: "de", 5: "und"}


def test_text_stats_exprs(spark):
    df = spark.createDataFrame([(1, "Hello, world! 123")], "id long, text string")
    row = df.select(
        T.n_words("text").alias("w"),
        T.token_count("text").alias("t"),
        F.round(T.punct_ratio("text"), 4).alias("p"),
        F.round(T.avg_word_len("text"), 4).alias("awl"),
    ).collect()[0]
    assert row["w"] == 3
    # tokens: Hello , world ! 1 2 3 → 7
    assert row["t"] == 7
    # non-space chars: 15, punct: , ! → 2/15
    assert row["p"] == round(2 / 15, 4)


def test_winnowing_fingerprint_overlap(spark):
    df = spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqrstuvwxyz0123456789"),
            (2, "abcdefghijklmnopqrstuvwxyz0123456789"),
            (3, "zyxwvutsrqponmlkjihgfedcba9876543210"),
        ],
        "id long, text string",
    )
    fps = {r["id"]: r["fp"] for r in df.select(
        "id", T.winnowing_fingerprint("text", n=8, w=4).alias("fp")
    ).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_winnowing_fingerprints_rows_match_expression_form(spark):
    """The shuffle-based operator and the array-expression form must
    produce the identical fingerprint set per document."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "ab"),  # shorter than the n-gram width
        ],
        "id long, text string",
    )
    from graphmapreduce_spark.operators import dedup as D

    rows = D.winnowing_fingerprints(df, "id", "text", n=8, w=4).collect()
    got = {}
    for r in rows:
        got.setdefault(r["id"], set()).add(r["fp"])
    expr = {
        r["id"]: set(r["fp"])
        for r in df.select(
            "id", T.winnowing_fingerprint("text", n=8, w=4).alias("fp")
        ).collect()
    }
    assert got == {k: v for k, v in expr.items() if v}


def test_dedup_clusters_transitive_closure(spark):
    """A-B and B-C chain one cluster labeled by min id; D-E separate;
    clusters contain only paired ids (uniques absent)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster"] for r in D.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_clusters_pregel_fallback_matches_broadcast_path(spark):
    """The size-adaptive closure must produce the identical mapping on
    both sides of the broadcast cap: a deep chain + a star + a cycle,
    run once under the cap (driver tier of ``connected_components``)
    and once with the cap forced to 0 (distributed Pregel min-label)."""
    rows = (
        [(i, i + 1) for i in range(1, 9)]  # chain 1..9 (diameter 8)
        + [(100, k) for k in (101, 102, 103)]  # star
        + [(200, 201), (201, 202), (202, 200)]  # cycle
    )
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    expect = {i: 1 for i in range(1, 10)}
    expect.update({100: 100, 101: 100, 102: 100, 103: 100})
    expect.update({200: 200, 201: 200, 202: 200})
    got_bc = {r["id"]: r["cluster"] for r in D.dedup_clusters(pairs).collect()}
    assert got_bc == expect
    key = "spark.graphmapreduce.clusterBroadcastMaxPairs"
    spark.conf.set(key, "0")
    try:
        got_pregel = {
            r["id"]: r["cluster"] for r in D.dedup_clusters(pairs).collect()
        }
    finally:
        spark.conf.unset(key)
    assert got_pregel == expect


def test_canonical_docs_prefers_quality_and_passes_uniques(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, 1.0), (11, 1.0), (42, 0.0)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    clusters = D.dedup_clusters(pairs)
    # default: smallest id per cluster + untouched unique doc 42
    kept = {r["doc_id"] for r in D.canonical_docs(df, "doc_id", clusters).collect()}
    assert kept == {1, 10, 42}
    # prefer=q: highest q wins, tie broken by smallest id (2 beats 3)
    kept_q = {
        r["doc_id"]
        for r in D.canonical_docs(df, "doc_id", clusters, prefer="q").collect()
    }
    assert kept_q == {2, 10, 42}


def test_normalize_text_and_scrub_pii(spark):
    df = spark.createDataFrame(
        [(1, "  HELLO\tWorld\x01  mail a.b+c@ex.org ip 10.0.0.1 acct 12345678901  ")],
        "id long, t string",
    )
    r = df.select(
        T.normalize_text("t").alias("n"), T.scrub_pii("t").alias("s")
    ).collect()[0]
    assert r["n"] == "hello world mail a.b+c@ex.org ip 10.0.0.1 acct 12345678901"
    assert "<EMAIL>" in r["s"] and "<IP>" in r["s"] and "<NUM>" in r["s"]
    assert "a.b+c@ex.org" not in r["s"] and "10.0.0.1" not in r["s"]


def test_remove_boilerplate_paragraphs_default_delimiter(spark):
    footer = "subscribe to our newsletter"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha content\n\n{footer}"),
            (2, f"unique beta content\n\n{footer}"),
            (3, f"{footer}"),  # all boilerplate: drops out entirely
            (4, "standalone gamma text"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in D.remove_boilerplate_segments(docs, "doc_id", "text").collect()
    }
    assert out == {
        1: "unique alpha content",
        2: "unique beta content",
        4: "standalone gamma text",
    }


def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh" * 10), (2, "abcdefghijklmnop")], "id long, t string"
    )
    got = {
        r["id"]: r["r"]
        for r in df.select("id", T.repetition_ratio("t", 8).alias("r")).collect()
    }
    # doc 1: 73 total 8-grams but only 8 distinct (fully looped text)
    assert got[1] > 0.85
    # doc 2: all 9 8-grams distinct
    assert got[2] == 0.0


def test_word_ngrams_and_chunk_text(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", T.word_ngrams("text", n=3).alias("g")
        ).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == [] and got[3] == []  # shorter than n -> empty
    ch = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", T.chunk_text("text", size=3, stride=2).alias("c")
        ).collect()
    }
    # "a b c d" (7 chars): starts 1,3,5,7 -> last chunk is the short tail
    assert ch[1] == ["a b", "b c", "c d", "d"]
    assert ch[3] == []


def test_decontaminate_flags_and_drops(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),  # shares 4-grams w/ eval
            (2, "totally unrelated training text here"),
            (3, "the quick brown fox"),  # exactly one shared 4-gram
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox runs away")], "doc_id long, text string"
    )
    rep = {
        r["doc_id"]: r["matched_ngrams"]
        for r in D.contamination_report(
            train, ev, "doc_id", "text", n=4
        ).collect()
    }
    assert rep == {1: 1, 3: 1}  # only "the quick brown fox" collides
    clean = D.decontaminate(train, ev, "doc_id", "text", n=4)
    assert sorted(r["doc_id"] for r in clean.collect()) == [2]
    # min_overlap above the collision count keeps everything
    lax = D.decontaminate(train, ev, "doc_id", "text", n=4, min_overlap=2)
    assert lax.count() == 3


def test_lsh_bucket_cap_star_expansion(spark, graph_tiers):
    """A degenerate bucket (many identical docs -> every band bucket
    holds all of them) must not emit the O(n^2) all-pairs blowup: over
    the cap, members pair with the bucket's min id only (star), which
    keeps the connected component intact at O(n) pairs."""
    for _ in graph_tiers():
        n = 1000
        docs = spark.range(n).selectExpr(
            "id AS doc_id",
            # identical text -> identical signature -> one bucket per band
            "'the same boilerplate line repeated everywhere' AS text",
        )
        sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=32)
        capped = D.lsh_candidate_pairs(
            sigs, "doc_id", "sig", num_hashes=32, bands=8, max_bucket_size=100
        )
        rows = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        # star: exactly n-1 pairs, all anchored at the min id
        assert len(rows) == n - 1
        assert all(a == 0 for a, _ in rows)
        # transitive closure still recovers ONE group of n docs
        groups = D.dedup_clusters(capped.selectExpr(
            "id_a", "id_b"
        ), "id_a", "id_b")
        comp = {r[0]: r[1] for r in groups.collect()}
        assert len(comp) == n and len(set(comp.values())) == 1
        # under the cap the exact all-pairs semantics are untouched
        uncapped = D.lsh_candidate_pairs(
            sigs, "doc_id", "sig", num_hashes=32, bands=8, max_bucket_size=None
        )
        assert uncapped.count() == n * (n - 1) // 2


def test_dedup_lines_keeps_first_occurrence(spark):
    from graphmapreduce_spark.functions.text import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "a\nb\na\nc\nb\na"),
            (2, "x\nx\nx"),
            (3, "only"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["c"] for r in df.select(
        "doc_id", dedup_lines("text").alias("c")
    ).collect()}
    assert got[1] == "a\nb\nc"
    assert got[2] == "x"
    assert got[3] == "only"
    assert got[4] == ""


def test_gopher_rules_flags(spark):
    from graphmapreduce_spark.operators.quality import gopher_rules

    good = "The cat sat on the mat and that was fine to watch. " * 10
    bullets = "\n".join("- item" for _ in range(20))
    df = spark.createDataFrame(
        [(1, good), (2, "short text"), (3, bullets)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_rules(df, "doc_id", "text").collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["keep"] is False          # word count below floor
    assert rows[3]["bullet_frac"] == 1.0     # all lines bulleted
    assert rows[3]["keep"] is False


def test_flesch_reading_ease_known_values(spark):
    from graphmapreduce_spark.functions.text import flesch_reading_ease

    df = spark.createDataFrame(
        [(1, "The cat sat."), (2, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["f"] for r in df.select(
        "doc_id", flesch_reading_ease("text").alias("f")
    ).collect()}
    # 3 words, 1 sentence, 3 vowel groups (e/a/a):
    # 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert abs(got[1] - 119.19) < 1e-6
    assert got[2] is None


def test_prepare_corpus_pipeline_stages(spark):
    """Composed corpus prep: gate drops junk, dedup keeps min id on the
    NORMALIZED form, offsets are the contiguous token cumsum."""
    from graphmapreduce_spark.pipeline import prepare_corpus

    good = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [
            (1, good * 5),
            (2, "  THE  quick brown fox jumps over the lazy dog again "
                "and again extra tail words " + good * 4),  # distinct text
            (3, good.upper() * 5),          # normalizes EQUAL to doc 1
            (4, "zz " * 60),                # no stopwords -> gated out
            (5, "too short"),               # word floor -> gated out
        ],
        "doc_id long, text string",
    )
    out = prepare_corpus(
        docs, capacity=64, min_words=20, min_stopword_hits=1
    ).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == [1, 2]  # 3 deduped into 1; 4, 5 gated
    rows = {r["doc_id"]: r for r in out}
    assert rows[1]["offset"] == 0
    assert rows[2]["offset"] == rows[1]["n_tokens"]
    assert rows[2]["bin"] == rows[2]["offset"] // 64


def test_prepare_corpus_near_dup_collapses_clusters(spark, graph_tiers):
    """near_dup=True swaps the exact-dedup stage for the full
    dedup_corpus recipe: near-dup variants that exact dedup keeps
    collapse to their cluster's min-id canonical, gating still applies,
    and the packing cumsum stays contiguous over the survivors."""
    for _ in graph_tiers():
        from graphmapreduce_spark.pipeline import prepare_corpus

        good = "the quick brown fox jumps over the lazy dog again and again "
        docs = spark.createDataFrame(
            [
                (1, good * 5),
                (2, good * 5 + "one tiny extra tail"),  # near dup of 1
                (3, good.upper() * 5),                  # exact dup of 1 (norm)
                (4, "an entirely different body of prose about the spark "
                    "engine with plenty of distinct and varied wording to "
                    "clear the word floor and the stopword gate easily"),
                (5, "zz " * 60),                        # no stopwords -> gated
            ],
            "doc_id long, text string",
        )
        kwargs = dict(capacity=64, min_words=20, min_stopword_hits=1)
        exact = prepare_corpus(docs, **kwargs).collect()
        near = prepare_corpus(
            docs,
            near_dup=True,
            near_kwargs=dict(threshold=0.5, hash_fn="md5"),
            **kwargs,
        ).collect()
        # exact dedup keeps the near-dup doc 2; the recipe collapses it
        assert sorted(r["doc_id"] for r in exact) == [1, 2, 4]
        assert sorted(r["doc_id"] for r in near) == [1, 4]
        rows = {r["doc_id"]: r for r in near}
        assert rows[1]["offset"] == 0
        assert rows[4]["offset"] == rows[1]["n_tokens"]
        assert rows[4]["bin"] == rows[4]["offset"] // 64


def test_containment_detects_embedded_quote(spark):
    """A short doc fully contained in a long one: containment(A in B)=1
    while symmetric Jaccard stays below the near-dup bar."""
    quote = "the five boxing wizards jump quickly tonight"
    long_doc = (
        "completely unrelated opening material here and then "
        + quote
        + " followed by much more trailing body text that goes on"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "nothing in common with either")],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
        for r in D.ngram_containment_pairs(
            df, "doc_id", "text", n=5, threshold=0.9
        ).collect()
    }
    assert (1, 2) in pairs
    a_in_b, b_in_a = pairs[(1, 2)]
    assert a_in_b == 1.0  # every 5-gram of the quote appears in the host
    assert b_in_a < 0.6  # asymmetric: the host is NOT inside the quote
    assert not any(3 in p for p in pairs)


def test_prefix_jaccard_equals_plain_inverted_index(spark):
    """PPJoin losslessness: the prefix-filtered join must return the
    EXACT pair set and scores of the full inverted-index join — on the
    near-dup fixture and on a corpus with an all-docs boilerplate
    shingle (worst case for prefix selectivity, not correctness)."""
    rows = DOCS + [
        (10, "ZZZZboiler plate everywhere " + "unique ten " * 3),
        (11, "ZZZZboiler plate everywhere " + "unique eleven " * 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.4
        ).collect()
    }
    pref = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs_prefix(
            docs, "doc_id", "text", n=3, threshold=0.4
        ).collect()
    }
    assert pref == plain and len(pref) > 0


def test_duplicate_ngram_spans(spark):
    from graphmapreduce_spark.operators.dedup import duplicate_ngram_spans

    # doc 1 and 2 share the exact 4-gram "a b c d"; doc 3 repeats its own
    # 4-gram twice ("p q r s ... p q r s"); doc 4 is all-unique; doc 5 is
    # shorter than n and must be absent from the output
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "z a b c d"),
            (3, "p q r s x p q r s"),
            (4, "one two three four five"),
            (5, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["n_grams"], r["n_dup"])
        for r in duplicate_ngram_spans(
            docs, "doc_id", "text", n=4, min_count=2
        ).collect()
    }
    assert 5 not in out
    assert out[1] == (2, 1)  # grams: "a b c d"(dup), "b c d e"
    assert out[2] == (2, 1)  # grams: "z a b c", "a b c d"(dup)
    assert out[3][0] == 6 and out[3][1] == 2  # the two "p q r s" positions
    assert out[4] == (2, 0)


def test_bigram_surprisal_hand_checked(spark):
    import math

    from graphmapreduce_spark.operators.quality import bigram_surprisal

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["surprisal"])
        for r in bigram_surprisal(docs, "doc_id", "text", k=1.0).collect()
    }
    # corpus: cb(a,b)=3, cb(b,a)=1, cl(a)=3, cl(b)=1, V=3 (a, b, solo)
    s_ab = -math.log((3 + 1) / (3 + 3))
    s_ba = -math.log((1 + 1) / (1 + 3))
    assert out[1] == (3, round((2 * s_ab + s_ba) / 3, 6))
    assert out[2] == (1, round(s_ab, 6))
    assert 3 not in out  # single-token docs carry no bigrams


def test_dedup_corpus_bucket_cap_keeps_clusters_connected(spark, graph_tiers):
    """The 100 TB path: when a near-dup cluster exceeds
    max_bucket_size, star expansion verifies only hub pairs — LINEAR
    in bucket size — and transitive clustering must still map every
    member to one canonical id (connectivity through the hub), with
    the same kept-set as the uncapped run."""
    for _ in graph_tiers():
        from graphmapreduce_spark.pipeline import dedup_corpus

        base = "alpha beta gamma delta epsilon zeta eta theta " * 8
        rows = [(i, base + f"tail{i % 3}") for i in range(1, 41)]
        rows.append((99, "entirely different text about catalyst plans "
                         * 8))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = {
            r["doc_id"]: r["canonical_id"]
            for r in dedup_corpus(
                docs, "doc_id", "text", threshold=0.5, num_hashes=32,
                max_bucket_size=None,
            ).collect()
        }
        capped = {
            r["doc_id"]: r["canonical_id"]
            for r in dedup_corpus(
                docs, "doc_id", "text", threshold=0.5, num_hashes=32,
                max_bucket_size=8,
            ).collect()
        }
        # the 40 near-dups form one cluster under both; 99 stays itself
        assert len(set(uncapped.values())) == len(set(capped.values()))
        assert capped[99] == 99
        assert len({v for k, v in capped.items() if k != 99}) == 1
        assert capped == uncapped


def test_incremental_near_dup_index_reuse(spark, docs, tmp_path):
    """A parquet-persisted band index produces pair-for-pair the same
    result as recomputing the corpus side — the daily-increment
    contract: the corpus is scanned once at index-build time, never
    per batch."""
    corpus = docs.filter("doc_id <= 3")
    batch = docs.filter("doc_id > 3")
    direct = {
        (r["batch_id"], r["corpus_id"]): r["jaccard"]
        for r in D.incremental_near_dup_pairs(
            corpus, batch, "doc_id", "text",
            threshold=0.3, num_hashes=32, shingle_n=3, hash_fn="md5",
        ).collect()
    }
    idx = D.build_near_dup_index(
        corpus, "doc_id", "text",
        threshold=0.3, num_hashes=32, shingle_n=3, hash_fn="md5",
    )
    bp, sp = str(tmp_path / "bands"), str(tmp_path / "shingles")
    idx["bands"].write.parquet(bp)
    idx["shingles"].write.parquet(sp)
    reloaded = {
        **idx,
        "bands": spark.read.parquet(bp),
        "shingles": spark.read.parquet(sp),
    }
    via_index = {
        (r["batch_id"], r["corpus_id"]): r["jaccard"]
        for r in D.incremental_near_dup_pairs(
            None, batch, "doc_id", "text",
            threshold=0.3, corpus_index=reloaded,
        ).collect()
    }
    assert via_index == direct and len(direct) > 0


def test_incremental_and_self_join_verify_agree(spark):
    """Batch-vs-corpus and whole-corpus LSH share the knee banding, the
    exact md5 buckets and the Jaccard verify, so the incremental pairs
    are exactly the whole-corpus pairs that cross the split, with the
    same scores."""
    fox = "the quick brown fox jumps over the lazy dog"
    spark_txt = "spark engines plan queries with catalyst rules and codegen"
    rows = [
        (1, fox),
        (2, fox + " again"),
        (3, fox.replace("lazy", "sleepy")),
        (4, spark_txt),
        (5, spark_txt.replace("codegen", "whole stage codegen")),
        (6, "an unrelated note about tide tables and harbour pilots"),
        (7, "the lazy dog jumps over the quick brown fox"),
        (8, spark_txt + " today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus, batch = docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0")
    kw = dict(threshold=0.5, num_hashes=32, hash_fn="md5")
    inc = {
        (min(r["batch_id"], r["corpus_id"]),
         max(r["batch_id"], r["corpus_id"]), r["jaccard"])
        for r in D.incremental_near_dup_pairs(
            corpus, batch, "doc_id", "text", **kw
        ).collect()
    }
    whole = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.minhash_lsh_near_dup_pairs(
            docs, "doc_id", "text", **kw
        ).collect()
    }
    cross = {p for p in whole if (p[0] % 2) != (p[1] % 2)}
    assert inc == cross and len(inc) > 0


def test_dedup_clusters_cap_counts_only_valid_pairs(spark, monkeypatch):
    """The driver vs Pregel choice counts the pairs that will be
    clustered: rows whose ids cast to NULL are dropped by both paths,
    so they must not push a small valid pair set over the cap.  The cap
    also bounds the distinct ids: 3 valid pairs over 5 ids fit a cap of
    5, the 8 raw pairs do not."""
    from graphmapreduce_spark.graph import algorithms, pregel

    def no_pregel(*a, **k):
        raise AssertionError("3 valid pairs must not take the Pregel path")

    monkeypatch.setattr(algorithms, "_min_label", no_pregel)
    monkeypatch.setattr(pregel.Pregel, "run", no_pregel)
    pairs = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("7", "8")]
        + [("x", "9"), ("9", "y"), ("a", "b"), ("", "4"), ("5", "z")],
        "id_a string, id_b string",
    )
    key = "spark.graphmapreduce.clusterBroadcastMaxPairs"
    spark.conf.set(key, "5")
    try:
        got = {r["id"]: r["cluster"] for r in D.dedup_clusters(pairs).collect()}
    finally:
        spark.conf.unset(key)
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_sampled_verify_passes_short_docs_through(spark):
    """ADVICE r05: with a sampled union below ~8·mod the prefilter's
    sampling sd exceeds the margin, so SHORT docs must bypass it —
    the pair set with verify_sample_mod=4 equals the unprefiltered
    one on a corpus of short near-dup pairs (no false drops)."""
    rows = []
    for i in range(12):
        base = f"short doc number {i} about topic {i % 3} end"
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base + "!"))  # near-dup of its mate
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.5, num_hashes=32, bands=16)
    exact = D.minhash_lsh_near_dup_pairs(docs, "doc_id", "text", **kw)
    pre = D.minhash_lsh_near_dup_pairs(
        docs, "doc_id", "text", verify_sample_mod=4, **kw
    )
    e = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    p = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pre.collect()}
    assert p == e  # short docs: prefilter must drop NOTHING
    assert all((2 * i, 2 * i + 1) in p for i in range(12))


def test_dedup_corpus_prefer_with_string_ids(spark, graph_tiers):
    """ADVICE r05: the prefer= tiebreak negated the id arithmetically,
    which is NULL for string ids — the quality-preferred canonical must
    work (highest quality, smallest id on ties) for non-numeric ids."""
    for _ in graph_tiers():
        from graphmapreduce_spark.pipeline import dedup_corpus

        base = "the quick brown fox jumps over the lazy dog " * 6
        rows = [
            ("doc-a", base, 0.1),
            ("doc-b", base, 0.9),          # highest quality in cluster
            ("doc-c", base + "TAIL", 0.9), # ties doc-b, larger id loses
            ("doc-z", "unrelated corpus about catalyst plans " * 6, 0.5),
        ]
        docs = spark.createDataFrame(rows, "doc_id string, text string, q double")
        out = {
            r["doc_id"]: r["canonical_id"]
            for r in dedup_corpus(
                docs, "doc_id", "text", threshold=0.5, num_hashes=32,
                prefer="q",
            ).collect()
        }
        assert out == {
            "doc-a": "doc-b", "doc-b": "doc-b", "doc-c": "doc-b",
            "doc-z": "doc-z",
        }


def test_dedup_corpus_spreads_representatives_once(
    spark, monkeypatch, distributed_tier
):
    """The representatives' (id, text) are spread by id once, by the
    signature pass, not also before their checkpoint (a checkpoint
    reports no partitioning, so that spread was shuffled again); the
    candidates' shingle pass spreads its subset, and with
    ``emit_index=True`` both index frames still read spread rows."""
    from graphmapreduce_spark.pipeline import dedup_corpus

    plans = []
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def recording(self, eager=True):
        # at budget 0 the clustering's supersteps checkpoint too; only
        # the dedup stages' own checkpoints are recorded
        caller = sys._getframe(1).f_globals["__name__"]
        if not caller.startswith("graphmapreduce_spark.graph."):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self, eager)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    base = "the quick brown fox jumps over the lazy dog " * 6
    corpus = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " EXTRA TAIL"), (4, "other " * 20)],
        "doc_id long, text string",
    )
    _, idx = dedup_corpus(
        corpus, "doc_id", "text", threshold=0.5, num_hashes=32,
        shingle_n=5, hash_fn="md5", max_bucket_size=64, emit_index=True,
    )
    spread = "REPARTITION_BY_NUM"
    signed = [p for p in plans if "MapInArrow" in p]
    assert len(signed) == 1 and signed[0].count(spread) == 1
    # the other spread is the candidates' shingle pass (``_sid``)
    assert all(spread not in p for p in plans if "MapInArrow" not in p
               and "_sid" not in p), plans
    for name in ("bands", "shingles"):
        plan = idx[name]._jdf.queryExecution().executedPlan().toString()
        assert plan.count(spread) == 1, (name, plan)


def test_dedup_corpus_emit_index_roundtrip(spark, tmp_path, graph_tiers):
    """dedup_corpus(emit_index=True): the byproduct index covers
    exactly the kept canonicals, parquet round-trips through
    save/load_near_dup_index, and screening a batch against it equals
    screening against the kept documents directly."""
    for _ in graph_tiers():
        from graphmapreduce_spark.pipeline import dedup_corpus

        base = "the quick brown fox jumps over the lazy dog " * 6
        other = "completely different content about spark physical plans " * 6
        corpus = spark.createDataFrame(
            [(1, base), (2, base), (3, base + " EXTRA TAIL"), (4, other)],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, base + "!"), (101, "unrelated batch noise " * 10)],
            "doc_id long, text string",
        )
        kw = dict(threshold=0.5, num_hashes=32, shingle_n=5, hash_fn="md5")
        mapping, idx = dedup_corpus(corpus, "doc_id", "text",
                                    emit_index=True, **kw)
        kept = {r["canonical_id"] for r in mapping.collect()}
        assert kept == {1, 4}
        assert {r["corpus_id"] for r in idx["shingles"].collect()} == kept
        assert {r["corpus_id"] for r in idx["bands"].collect()} <= kept
        p = str(tmp_path / "idx")
        D.save_near_dup_index(idx, p)
        loaded = D.load_near_dup_index(spark, p)
        assert loaded["num_hashes"] == 32 and loaded["hash_fn"] == "md5"
        via_index = {
            (r["batch_id"], r["corpus_id"]): r["jaccard"]
            for r in D.incremental_near_dup_pairs(
                None, batch, "doc_id", "text", threshold=0.5,
                corpus_index=loaded,
            ).collect()
        }
        kept_docs = corpus.filter(corpus.doc_id.isin(*kept))
        direct = {
            (r["batch_id"], r["corpus_id"]): r["jaccard"]
            for r in D.incremental_near_dup_pairs(
                kept_docs, batch, "doc_id", "text", threshold=0.5, **{
                    k: v for k, v in kw.items() if k != "threshold"}
            ).collect()
        }
        assert via_index == direct
        assert (100, 1) in via_index  # the batch near-dup is caught
        assert all(bid != 101 for bid, _ in via_index)


def test_lsh_bucket_cap_plan_has_no_window(spark):
    """The r08 cap shape must never funnel a viral bucket through one
    task: bucket stats come from a map-side-combined groupBy and only
    the oversized buckets are broadcast back — so the capped plan must
    contain NO Window node (a whole-partition window was the r07 shape,
    a single-task hot spot AQE cannot split) and must broadcast the
    exception list (BroadcastHashJoin / BroadcastNestedLoop absent of
    the banded side exchange)."""
    docs = spark.range(200).selectExpr(
        "id AS doc_id", "'same text everywhere' AS text"
    )
    sigs = D.minhash_signatures(docs, "doc_id", "text", num_hashes=32)
    capped = D.lsh_candidate_pairs(
        sigs, "doc_id", "sig", num_hashes=32, bands=8, max_bucket_size=10
    )
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_lsh_bucket_cap_fallback_matches_broadcast(spark, graph_tiers):
    """The oversized-bucket list is broadcast once for both routing
    joins within the driver budget, and both joins are shuffled on
    (band, bucket) above it (budget 0); the candidate pairs are the
    same."""
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(40)]
    rows = [(i, "one boilerplate line shared by every copy") for i in range(30)]
    # near-duplicates: each random text and a copy with one word changed
    for j in range(12):
        t = " ".join(rng.choices(words, k=30))
        rows += [(100 + 2 * j, t), (101 + 2 * j, t.replace(t.split()[3], "zz", 1))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.minhash_signatures(
        docs, "doc_id", "text", num_hashes=32
    ).localCheckpoint()
    got = {}
    for tier in graph_tiers():
        capped = D.lsh_candidate_pairs(
            sigs, "doc_id", "sig", num_hashes=32, bands=8, max_bucket_size=5
        )
        got[tier] = sorted(tuple(r) for r in capped.collect())
        plan = capped._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        routing = [
            ln for ln in final.splitlines() if "Join" in ln and "_hband" in ln
        ]
        join = "BroadcastHashJoin" if tier == "driver" else "ShuffledHashJoin"
        assert len(routing) >= 2 and all(join in ln for ln in routing), plan
        if tier == "driver":
            # one broadcast of the list; the other join reuses it
            assert final.count("Scan ExistingRDD[_hband") == 1, plan
    assert got["driver"] == got["distributed"]
    # the 30 copies form one star, anchored at the min id
    assert [p for p in got["driver"] if p[0] < 30] == [(0, i) for i in range(1, 30)]
    assert len(got["driver"]) > 29


def test_dedup_clusters_drops_null_ids(spark):
    """Non-numeric string ids cast to NULL; the driver path must drop
    them instead of labelling a null id, and the mapping must cover
    exactly the valid ids (ADVICE r07)."""
    pairs = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("x", "9"), ("7", None)],
        "id_a string, id_b string",
    )
    got = {r["id"]: r["cluster"] for r in D.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_spread_by_gates_on_input_parallelism(spark, tmp_path):
    """spread_by must repartition a few-file corpus (the serial-scan
    layout hazard) and must NOT add a shuffle when the file count
    already reaches the session's shuffle parallelism (VERDICT r07
    item 2 — an unconditional corpus-text shuffle is pure cost at
    scale)."""
    from graphmapreduce_spark.operators._spread import spread_by

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    few = str(tmp_path / "few")
    many = str(tmp_path / "many")
    base = spark.range(500).selectExpr("id AS doc_id", "'t' AS text")
    base.coalesce(1).write.parquet(few)
    base.repartition(n_part).write.parquet(many)

    few_df = spark.read.parquet(few)
    many_df = spark.read.parquet(many)
    plan_few = (
        spread_by(few_df, "doc_id")._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    plan_many = (
        spread_by(many_df, "doc_id")._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    assert "RepartitionByExpression" in plan_few
    assert "RepartitionByExpression" not in plan_many
    # an in-memory frame (no files) keeps the spread — the safe default
    plan_mem = (
        spread_by(base, "doc_id")._jdf.queryExecution()
        .optimizedPlan().toString()
    )
    assert "RepartitionByExpression" in plan_mem


def test_scan_splits_reads_footers_through_pyarrow_fs(spark, tmp_path):
    """``_scan_splits`` opens parquet footers from the scan's file URIs
    through ``pyarrow.fs``: one ``file://`` parquet of 6 row groups, in
    a directory whose name the URI percent-encodes, counts 6 splits,
    not its 1 file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphmapreduce_spark.operators._spread import _scan_splits

    d = tmp_path / "row groups"
    d.mkdir()
    pq.write_table(
        pa.table({"doc_id": list(range(600)), "text": ["t"] * 600}),
        d / "part.parquet",
        row_group_size=100,
    )
    df = spark.read.parquet(str(d))
    (uri,) = df.inputFiles()
    assert uri.startswith("file:") and "%20" in uri
    assert _scan_splits(df, 100) == 6
    # counting stops once the footers reach the wanted parallelism
    assert _scan_splits(df, 4) == 6
    assert _scan_splits(df, 1) == 1


def _explode_min_signatures(df, id_col, text_col, num_hashes, shingle_n, hash_fn):
    """Reference MinHash signatures in the SQL form: explode the distinct
    shingles, hash each, then one ``min`` aggregate per hash function
    grouped by id."""
    a, b = D._hash_coeffs(num_hashes, 42)
    m = F.lit(D._MERSENNE)
    h = F.pmod(T._hash_col(F.col("_s"), hash_fn), m)
    rows = df.select(
        id_col, F.explode(T.char_shingles(text_col, n=shingle_n)).alias("_s")
    )
    return rows.groupBy(id_col).agg(
        F.array(
            *[F.min(F.pmod(F.lit(int(a[i])) * h + F.lit(int(b[i])), m))
              for i in range(num_hashes)]
        ).alias("sig")
    )


def _random_texts(seed, n):
    import random

    rng = random.Random(seed)
    alphabet = "abcde xyz é漢😀\t"
    return [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 100)))
        for _ in range(n)
    ]


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_hash_twins_equal_hash_col(spark, hash_fn):
    """The numpy twin of each shingle hash gives ``_hash_col``'s value on
    empty, ASCII, non-ASCII and non-BMP strings of 0-100 characters
    (0-400 UTF-8 bytes: every XXH64 step runs)."""
    import pyarrow as pa

    texts = _random_texts(7, 1000)
    df = spark.createDataFrame(list(enumerate(texts)), "i long, s string")
    want = [
        r[0] for r in df.orderBy("i").select(T._hash_col(F.col("s"), hash_fn))
        .collect()
    ]
    assert T._hash_np(pa.array(texts), hash_fn).tolist() == want


SIG_DOCS = [
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("b", "the quick brown fox jumps over the lazy cat"),
    ("c", None),
    ("d", "ab"),  # shorter than shingle_n
    ("e", "abc"),  # exactly one shingle
    ("f", "aaaaaaaaaa"),  # one distinct shingle, repeated
    ("g", "naïve café 漢字 😀😀😀 emoji"),  # code points, not bytes
    ("h", "spark " * 60),
]


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_minhash_signatures_equal_explode_min_reference(spark, hash_fn):
    """The Arrow kernel gives the explode + ``min`` aggregate's
    signatures, with its schema; null text and text shorter than
    ``shingle_n`` get no row."""
    docs = spark.createDataFrame(
        SIG_DOCS + [(f"r{i}", t) for i, t in enumerate(_random_texts(3, 40))],
        "doc_id string, text string",
    )
    got = D.minhash_signatures(docs, "doc_id", "text", 16, 3, 42, hash_fn)
    want = _explode_min_signatures(docs, "doc_id", "text", 16, 3, hash_fn)
    assert got.schema == want.schema
    rows = sorted((r[0], tuple(r[1])) for r in got.collect())
    assert rows == sorted((r[0], tuple(r[1])) for r in want.collect())
    assert {"c", "d"}.isdisjoint(i for i, _ in rows)
    assert {"a", "e", "f", "g", "h"} <= {i for i, _ in rows}


def test_minhash_signatures_one_row_per_document(spark):
    """Documents that share an id (null included) keep one signature
    each, equal to the signature of the document alone; ids are not
    merged into one signature over the union of their shingles."""
    t1, t2 = "the quick brown fox", "lazy dogs sleep all day"
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [(1, t1), (1, t2), (2, t2), (None, t1), (None, t2)], schema
    )
    alone = _explode_min_signatures(
        spark.createDataFrame([(1, t1), (2, t2)], schema),
        "doc_id", "text", 8, 3, "xxhash64",
    ).collect()
    sig = {t1 if r[0] == 1 else t2: tuple(r[1]) for r in alone}
    got = D.minhash_signatures(docs, "doc_id", "text", 8, 3).collect()

    def key(r):
        return (r[0] is None, r)

    assert sorted(((r[0], tuple(r[1])) for r in got), key=key) == sorted(
        [(1, sig[t1]), (1, sig[t2]), (2, sig[t2]),
         (None, sig[t1]), (None, sig[t2])],
        key=key,
    )


def test_minhash_kernel_blocks_equal_one_pass(monkeypatch):
    """Signing in blocks smaller than a document (one document spans
    several blocks, blocks split documents) gives the one-block
    signatures."""
    import pyarrow as pa

    texts = ["x", None] + _random_texts(5, 30)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts)), pa.int64()), pa.array(texts)],
        ["doc_id", "text"],
    )
    a, b = D._hash_coeffs(8, 42)

    def sign():
        out = pa.Table.from_batches(
            list(D._minhash_batches([batch], 3, "xxhash64", a, b))
        )
        return list(zip(out["doc_id"].to_pylist(), out["sig"].to_pylist()))

    whole = sign()
    monkeypatch.setattr(D, "_SIG_BLOCK_CELLS", 8 * 7)
    blocked = sign()
    assert len(whole) == sum(t is not None and len(t) >= 3 for t in texts)
    assert blocked == whole

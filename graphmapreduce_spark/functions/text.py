"""Text-analysis expressions for training-data pipelines.

All pure Column expressions (codegen-friendly, no UDFs): tokenization,
quality statistics, token counting, language identification, document
fingerprinting, character shingles.  Each has an exact ANSI-SQL
equivalent so the DuckDB oracle can verify it (see
``graphmapreduce_spark.plans.workload``).  The two shingle hashes also
have numpy twins (``md5_hash60_np``, ``xxhash64_np``) for kernels that
hash whole Arrow batches.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

# Deterministic, tiny stopword lists for the language-ID heuristic.
# The heuristic is: tokenize, count hits in each language's list,
# predict the language with the most hits (ties broken alphabetically),
# 'und' (undetermined) when no list hits.
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "en": ["the", "and", "is", "of", "to", "a", "in", "that", "it", "for"],
    "es": ["el", "la", "los", "que", "y", "es", "un", "una", "con", "para"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"],
}

# BPE-ish token regex: runs of letters, single digits, or single
# non-alphanumeric-non-space characters (GPT-2-style pre-tokenization,
# simplified to stay identical between Java and RE2-style engines).
TOKEN_REGEX = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"


def words(col: Column | str) -> Column:
    """Whitespace tokens, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), "\\s+"), lambda w: w != "")


def n_words(col: Column | str) -> Column:
    return F.size(words(col))


def token_count(col: Column | str) -> Column:
    """BPE-ish token count via TOKEN_REGEX (letters run / digit / punct)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(TOKEN_REGEX))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space characters that are not alphanumeric."""
    c = F.col(col) if isinstance(col, str) else col
    nonspace = F.length(F.regexp_replace(c, "\\s", ""))
    punct = F.length(F.regexp_replace(c, "[A-Za-z0-9\\s]", ""))
    return F.when(nonspace > 0, punct.cast("double") / nonspace).otherwise(0.0)


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of words that are stopwords of ``lang``."""

    def ratio(ws: Column) -> Column:
        hits = F.size(
            F.filter(ws, lambda w: F.lower(w).isin(*STOPWORDS[lang]))
        )
        return F.when(
            F.size(ws) > 0, hits.cast("double") / F.size(ws)
        ).otherwise(0.0)

    # bind the token array once per row (three references otherwise each
    # re-run the whitespace split — see hashed_ngram_score)
    return F.transform(F.array(words(col)), ratio)[0]


def avg_word_len(col: Column | str) -> Column:
    def avg(ws: Column) -> Column:
        total = F.aggregate(
            F.transform(ws, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        return F.when(
            F.size(ws) > 0, total.cast("double") / F.size(ws)
        ).otherwise(0.0)

    return F.transform(F.array(words(col)), avg)[0]


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: penalize too-short docs, high
    punctuation, missing stopwords.  Deterministic; mirrors common
    pretraining-corpus filters (length / punctuation / stopword tests)."""
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c).cast("double") / 200.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4.0)
    stop_score = F.least(stopword_ratio(c, "en") * 5.0, F.lit(1.0))
    return F.round((len_score + punct_pen + stop_score) / 3.0, 6)


def language_id(col: Column | str) -> Column:
    """Heuristic language ID over STOPWORDS; ties → alphabetical, no
    hits → 'und'."""
    def pick(ws: Column) -> Column:
        best = None
        for lang in sorted(STOPWORDS):  # alphabetical: earlier wins ties
            hits = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS[lang])))
            cand = F.struct(hits.alias("hits"), F.lit(lang).alias("lang"))
            if best is None:
                best = cand
            else:
                # strict > keeps the alphabetically smaller on ties
                best = F.when(cand["hits"] > best["hits"], cand).otherwise(best)
        return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))

    # bind the lowered token array once — each per-language filter would
    # otherwise re-split + re-lower the text (|languages| re-evals/row)
    return F.transform(
        F.array(F.transform(words(col), lambda w: F.lower(w))), pick
    )[0]


def normalized_fingerprint(col: Column | str) -> Column:
    """OpenRefine-style fingerprint: lowercase, tokenize, sort distinct
    tokens, rejoin, md5.  Collapses reorderings/duplications of the same
    token multiset — a cheap canonical-form dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_sort(
        F.array_distinct(
            F.filter(F.split(F.lower(F.trim(c)), "\\s+"), lambda w: w != "")
        )
    )
    return F.md5(F.array_join(toks, " "))


def exact_fingerprint(col: Column | str) -> Column:
    """md5 of the raw text — exact-duplicate key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def char_shingles(col: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Character n-gram array (the MinHash/Jaccard input unit).  Text
    shorter than ``n`` yields an empty array (guard needed because
    ``sequence(1, 0)`` would count DOWN, emitting bogus positions)."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: F.substring(c, i, n),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams) if distinct else grams


def word_ngrams(col: Column | str, n: int = 8, distinct: bool = True) -> Column:
    """Word n-gram array: whitespace tokens joined back with single
    spaces, ``n`` at a time.  The unit of test-set decontamination
    (n-gram collision between a training doc and an eval benchmark).
    Docs with fewer than ``n`` words yield an empty array (same
    ``sequence`` guard as ``char_shingles``)."""
    def grams_of(ws: Column) -> Column:
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (n - 1)),
                lambda i: F.array_join(F.slice(ws, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    # bind the token array once per row (lambda variable) — slicing the
    # raw words() expression inside the per-index lambda re-evaluates
    # the split per n-gram, quadratic per doc (see hashed_ngram_score)
    grams = F.transform(F.array(words(col)), grams_of)[0]
    return F.array_distinct(grams) if distinct else grams


def chunk_text(col: Column | str, size: int = 512, stride: int = 384) -> Column:
    """Fixed-size character chunks with overlap (RAG / context-window
    layout): starts at 1, 1+stride, … while the start is inside the
    text; the last chunk may be short.  Returns array<string>; empty
    text yields an empty array.  Pure expression — chunking 100 TB is
    one narrow map stage, no shuffle."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    c = F.col(col) if isinstance(col, str) else col
    n_chunks = F.floor((F.length(c) - 1) / stride).cast("int")
    return F.when(
        F.length(c) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks),
            lambda i: c.substr(i * stride + 1, F.lit(size)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def md5_hash60(col: Column | str) -> Column:
    """Portable 60-bit hash: first 15 hex digits of md5, as LONG.

    Exists so hash-based operators (SimHash, winnowing, MinHash) have an
    engine-independent variant the SQL oracle can replicate bit-for-bit
    (DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``).  xxhash64 is
    the fast default elsewhere; md5 costs more per byte but both are
    one-pass over the data, so the plan shape is identical.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _hash_col(c: Column, hash_fn: str) -> Column:
    if hash_fn == "xxhash64":
        return F.xxhash64(c)
    if hash_fn == "md5":
        return md5_hash60(c)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


# numpy twins of ``_hash_col``'s two hashes, for Arrow-batch kernels:
# each takes a non-null Arrow string array and returns the int64 values
# the Column form gives for the same strings
def _hash_np(values: pa.Array, hash_fn: str) -> np.ndarray:
    if hash_fn == "xxhash64":
        return xxhash64_np(values)
    if hash_fn == "md5":
        return md5_hash60_np(values)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def _utf8(values: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(byte offsets, UTF-8 bytes) of a string array."""
    values = values.cast(pa.large_string())
    _, offsets, data = values.buffers()
    offsets = np.frombuffer(offsets, dtype=np.int64)
    offsets = offsets[values.offset : values.offset + len(values) + 1]
    if data is None:
        return offsets, np.zeros(0, dtype=np.uint8)
    return offsets, np.frombuffer(data, dtype=np.uint8)


def md5_hash60_np(values: pa.Array) -> np.ndarray:
    """``md5_hash60`` of each string: the first 60 bits of the md5 of
    its UTF-8 bytes."""
    offsets, data = _utf8(values)
    buf, bounds = data.tobytes(), offsets.tolist()
    digests = b"".join(
        hashlib.md5(buf[lo:hi]).digest()[:8]
        for lo, hi in zip(bounds[:-1], bounds[1:])
    )
    return (np.frombuffer(digests, dtype=">u8") >> np.uint64(4)).astype(np.int64)


_XXH_P1, _XXH_P2, _XXH_P3, _XXH_P4, _XXH_P5 = (
    np.uint64(p)
    for p in (
        0x9E3779B185EBCA87,
        0xC2B2AE3D27D4EB4F,
        0x165667B19E3779F9,
        0x85EBCA77C2B2AE63,
        0x27D4EB2F165667C5,
    )
)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh_round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * _XXH_P2, 31) * _XXH_P1


def _le_word(b: np.ndarray, p: int, width: int) -> np.ndarray:
    """Little-endian ``width``-byte word at byte ``p`` of each row of
    ``b``, as ``uint64``."""
    w = np.ascontiguousarray(b[:, p : p + width])
    return w.view(f"<u{width}")[:, 0].astype(np.uint64)


def xxhash64_np(values: pa.Array) -> np.ndarray:
    """Spark's ``xxhash64`` of each string: XXH64 with seed 42 over its
    UTF-8 bytes.  Strings of one byte length are hashed together —
    32-byte stripes, then 8-byte words, a 4-byte word and single bytes,
    then the avalanche — as ``uint64`` lanes that wrap on overflow."""
    offsets, data = _utf8(values)
    lens = np.diff(offsets)
    out = np.empty(len(lens), dtype=np.uint64)
    s = np.uint64(42)  # Spark's xxhash64 seed
    with np.errstate(over="ignore"):
        for n in np.unique(lens).tolist():
            rows = np.flatnonzero(lens == n)
            b = data[offsets[rows, None] + np.arange(n)]
            p = 0
            if n >= 32:
                v = [s + _XXH_P1 + _XXH_P2, s + _XXH_P2, s, s - _XXH_P1]
                v = [np.full(len(rows), x, dtype=np.uint64) for x in v]
                while p + 32 <= n:
                    v = [
                        _xxh_round(x, _le_word(b, p + 8 * i, 8))
                        for i, x in enumerate(v)
                    ]
                    p += 32
                h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
                for x in v:
                    h = (h ^ _xxh_round(np.uint64(0), x)) * _XXH_P1 + _XXH_P4
            else:
                h = np.full(len(rows), s + _XXH_P5, dtype=np.uint64)
            h = h + np.uint64(n)
            while p + 8 <= n:
                h = h ^ _xxh_round(np.uint64(0), _le_word(b, p, 8))
                h = _rotl(h, 27) * _XXH_P1 + _XXH_P4
                p += 8
            if p + 4 <= n:
                h = h ^ (_le_word(b, p, 4) * _XXH_P1)
                h = _rotl(h, 23) * _XXH_P2 + _XXH_P3
                p += 4
            while p < n:
                h = h ^ (b[:, p].astype(np.uint64) * _XXH_P5)
                h = _rotl(h, 11) * _XXH_P1
                p += 1
            h = (h ^ (h >> np.uint64(33))) * _XXH_P2
            h = (h ^ (h >> np.uint64(29))) * _XXH_P3
            out[rows] = h ^ (h >> np.uint64(32))
    return out.view(np.int64)


def rolling_hashes(
    col: Column | str, n: int = 8, hash_fn: str = "xxhash64"
) -> Column:
    """Hash of each character n-gram — the winnowing ingredient.
    ``hash_fn='md5'`` gives the oracle-replicable 60-bit variant."""
    return F.transform(
        char_shingles(col, n, distinct=False), lambda g: _hash_col(g, hash_fn)
    )


def winnowing_fingerprint(col: Column | str, n: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprint: min hash in each window of ``w``
    consecutive n-gram hashes, deduplicated, sorted.  Standard locality-
    sensitive document signature (Schleimer et al., SIGMOD'03)."""
    def fp_of(hs: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(hs) - w, F.lit(0)))
        mins = F.transform(idx, lambda i: F.array_min(F.slice(hs, i + 1, w)))
        return F.when(
            F.size(hs) > 0, F.array_sort(F.array_distinct(mins))
        ).otherwise(F.array().cast("array<long>"))

    # bind the rolling-hash array once per row — slicing the raw
    # expression per window index would recompute every n-gram hash per
    # window, quadratic per doc (see hashed_ngram_score)
    return F.transform(F.array(rolling_hashes(col, n)), fp_of)[0]


# ---------------------------------------------------------------------------
# Normalization / scrubbing / repetition — training-data cleaning stage.
# All pure Column expressions (JVM-side, codegen); regexes restricted to
# syntax with identical semantics in Java regex and RE2 so the DuckDB
# oracle can replicate them byte-for-byte.
# ---------------------------------------------------------------------------
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_LONG_DIGITS_RE = r"\b\d{10,18}\b"


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for dedup/fingerprinting: lowercase, control
    chars to spaces, whitespace runs collapsed, trimmed.

    Deliberately NO unicode NFC/accent folding: Spark has no built-in
    for it and a per-row Python UDF in a 100 TB hot path is the wrong
    trade — normalize encodings at ingest instead."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")
    c = F.regexp_replace(c, r"\s{2,}", " ")
    return F.trim(c)


def scrub_pii(col: Column | str) -> Column:
    """Redact common PII lexemes: emails, IPv4 addresses, long digit
    runs (phones / account ids).  Email first — emails contain digits
    and dots the later passes would half-eat."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, _EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, _IPV4_RE, "<IP>")
    c = F.regexp_replace(c, _LONG_DIGITS_RE, "<NUM>")
    return c


def repetition_ratio(col: Column | str, n: int = 8) -> Column:
    """Intra-document repetition: 1 - distinct/total char n-grams
    (Gopher-style quality signal; high ratio = looped/spammy text)."""
    def ratio(total_grams: Column) -> Column:
        t = F.size(total_grams)
        u = F.size(F.array_distinct(total_grams))
        return F.when(
            t > 0, F.lit(1.0) - u.cast("double") / t.cast("double")
        ).otherwise(F.lit(0.0))

    return F.transform(F.array(char_shingles(col, n, distinct=False)), ratio)[0]


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (bits) of the character unigram distribution —
    the quality signal that separates natural prose (~4 bits/char for
    English) from degenerate filler (repeated char -> 0) and random
    noise (-> log2 alphabet).  Complements `repetition_ratio`, which
    only sees n-gram-level looping.

    Pure higher-order-function expression: distinct chars x counted via
    in-array filter, p·log2 p folded with `aggregate` — O(distinct·len)
    per row JVM-side, NO shuffle (the explode+groupBy formulation costs
    two shuffles over the full character set of the corpus)."""
    c = F.col(col) if isinstance(col, str) else col

    def entropy(chars: Column) -> Column:
        n = F.size(chars).cast("double")
        probs = F.transform(
            F.array_distinct(chars),
            lambda ch: F.size(F.filter(chars, lambda x: x == ch)).cast(
                "double"
            )
            / n,
        )
        ent = -F.aggregate(
            probs,
            F.lit(0.0),
            lambda acc, p: acc + p * F.log2(p),
        )
        return F.when(n > 0, ent).otherwise(F.lit(0.0))

    # bind the char array once — the per-distinct-char filter would
    # otherwise re-split the string per distinct char (~60 re-splits/row)
    return F.transform(F.array(F.split(c, "")), entropy)[0]


def dedup_lines(col: Column | str) -> Column:
    """Within-document line dedup: drop every repeat of a line already
    seen earlier in the SAME document, keeping first occurrences in
    order (the intra-doc complement of the corpus-level CCNet line
    dedup in ``operators/dedup.py`` — kills template/menu spam
    without cross-doc state).

    Pure higher-order expression — the index lambda keeps a line only
    where `array_position` says its first occurrence is itself, so the
    whole transform runs in-scan with NO shuffle and no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")
    kept = F.filter(
        lines, lambda x, i: F.array_position(lines, x) == i + F.lit(1)
    )
    return F.array_join(kept, "\n")


def flesch_reading_ease(col: Column | str) -> Column:
    """Flesch reading-ease score (206.835 − 1.015·words/sentences −
    84.6·syllables/words) with the standard cheap proxies: sentences =
    terminal-punctuation runs (min 1), syllables = vowel-group runs.
    Vowel groups never span whitespace, so the document-level regexp
    count equals the per-word sum — one expression, no explode.  NULL
    for wordless docs.  The corpus-readability gate alongside
    `quality_score` / `gopher_rules`."""
    c = F.col(col) if isinstance(col, str) else col
    nw = n_words(c)
    sentences = F.greatest(F.regexp_count(c, F.lit("[.!?]+")), F.lit(1))
    syllables = F.regexp_count(F.lower(c), F.lit("[aeiouy]+"))
    return F.when(
        nw > 0,
        F.lit(206.835)
        - F.lit(1.015) * (nw.cast("double") / sentences)
        - F.lit(84.6) * (syllables.cast("double") / nw),
    )


def hashed_ngram_score(
    col: Column | str, num_buckets: int = 4096, seed: int = 42
) -> Column:
    """Hashing-trick linear text classifier inference (the fastText /
    Vowpal-Wabbit scoring shape): word unigrams + adjacent bigrams are
    hashed into ``num_buckets`` feature buckets, each bucket carries a
    weight, and the score is sigmoid(mean bucket weight).

    The weight table here is a deterministic function of the bucket id
    (``((b * 2654435761 + seed) mod 10007) / 10007 - 0.5``) rather than
    a trained model — the POINT is the inference plan: tokenize →
    n-gram → hash → weight-lookup → pool → squash, all as one codegen
    expression with zero shuffles and zero UDFs.  Swapping in trained
    weights means replacing the arithmetic lookup with a map literal or
    broadcast-join against a weights table; the plan shape is identical.
    md5-based bucket hashing keeps it SQL-oracle-replicable.
    """
    def weight(g: Column) -> Column:
        b = F.pmod(md5_hash60(g), F.lit(num_buckets))
        return (
            F.pmod(b * F.lit(2654435761) + F.lit(seed), F.lit(10007)).cast(
                "double"
            )
            / F.lit(10007.0)
            - F.lit(0.5)
        )

    def score_of(grams: Column) -> Column:
        total = F.aggregate(
            grams, F.lit(0.0), lambda acc, g: acc + weight(g)
        )
        mean = F.when(F.size(grams) > 0, total / F.size(grams)).otherwise(
            F.lit(0.0)
        )
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-mean))

    def grams_of(w: Column) -> Column:
        bigrams = F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.concat(
                    F.element_at(w, i), F.lit(" "), F.element_at(w, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(w, bigrams)

    # bind the token array (then the gram array) ONCE per row via lambda
    # variables — referencing the raw `words(...)` expression inside the
    # per-index bigram lambda re-evaluates the split per element, which
    # is quadratic per document (measured 23 s for 5k docs vs 0.9 s
    # bound)
    w0 = words(F.lower(F.col(col) if isinstance(col, str) else col))
    return F.transform(
        F.array(w0),
        lambda w: F.transform(F.array(grams_of(w)), score_of)[0],
    )[0]

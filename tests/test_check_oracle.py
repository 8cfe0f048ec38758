"""The round-6 strict comparator (tools/check_oracle.py) must be AT
LEAST as strict as the driver's value hash: byte-exact floats, type-
tagged cells, and a declared-type-surface gate that catches DuckDB
HUGEINT/DECIMAL vs Spark LONG/DOUBLE without executing the query —
the exact class that produced the round-5 q263/q292 hash-only FAILs.
"""

import os
import sys

import duckdb

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.check_oracle import (  # noqa: E402
    compare_results,
    duck_bucket,
    duck_describe,
    legacy_cell,
    parse_args,
    spark_bucket,
    strict_cell,
    type_surface_diff,
)


def test_strict_fails_on_last_ulp_divergence():
    """An artificially-introduced single-ulp float divergence must FAIL
    the strict comparator (the legacy 9-sig-digit mode passes it — the
    round-5 parity gap, proven closed)."""
    a = 1.0
    b = 1.0 + 2.0 ** -52  # one ulp away
    assert a != b
    ok, msg = compare_results(["x"], [(a,)], ["x"], [(b,)])
    assert not ok and "value mismatch" in msg
    ok_legacy, _ = compare_results(
        ["x"], [(a,)], ["x"], [(b,)], cell=legacy_cell
    )
    assert ok_legacy  # documents exactly why legacy was too weak


def test_strict_distinguishes_int_from_float_surface():
    """int 5 vs float 5.0 — the pandas/arrow surface of a DuckDB
    HUGEINT — must mismatch under the strict cells."""
    ok, _ = compare_results(["n"], [(5,)], ["n"], [(5.0,)])
    assert not ok
    # and the tags can never collide with a string that looks numeric
    assert strict_cell(5) != strict_cell("5")
    assert strict_cell(True) != strict_cell(1)


def test_strict_passes_identical_values():
    rows = [(1, "a", 1.25, None), (2, "b", float("nan"), 3)]
    ok, msg = compare_results(
        ["i", "s", "f", "n"], rows, ["i", "s", "f", "n"], list(rows)
    )
    assert ok, msg


def test_type_surface_flags_hugeint_and_decimal():
    spark_fields = [("n", "bigint"), ("r", "double")]
    # DuckDB SUM(int) surfaces HUGEINT; ROUND(decimal, k) stays DECIMAL
    duck_fields = [("n", "HUGEINT"), ("r", "DECIMAL(18,6)")]
    bad = type_surface_diff(spark_fields, duck_fields)
    assert {c for c, _, _ in bad} == {"n", "r"}
    # after the CAST hardening both columns agree
    assert type_surface_diff(spark_fields, [("n", "BIGINT"), ("r", "DOUBLE")]) == []


def test_bucket_maps_cover_the_common_surfaces():
    assert spark_bucket("bigint") == duck_bucket("BIGINT") == "int"
    assert spark_bucket("int") == duck_bucket("INTEGER") == "int"
    assert spark_bucket("double") == duck_bucket("DOUBLE") == "double"
    assert spark_bucket("string") == duck_bucket("VARCHAR") == "str"
    assert spark_bucket("date") == duck_bucket("DATE") == "date"
    assert (
        spark_bucket("timestamp") == duck_bucket("TIMESTAMP") == "timestamp"
    )
    assert spark_bucket("array<bigint>") == duck_bucket("BIGINT[]")
    assert spark_bucket("array<double>") == duck_bucket("DOUBLE[]")
    # the poisoned surfaces stay unreachable from Spark
    assert duck_bucket("HUGEINT") == "hugeint"
    assert duck_bucket("HUGEINT") != spark_bucket("bigint")
    assert duck_bucket("DECIMAL(38,6)") != spark_bucket("double")


def test_duck_describe_surfaces_hugeint_statically():
    """DESCRIBE exposes the HUGEINT sum surface without executing —
    the static sweep that caught q263/q292's class registry-wide."""
    con = duckdb.connect()
    fields = duck_describe(
        con, "SELECT SUM(x) AS s, CAST(SUM(x) AS BIGINT) AS sb "
        "FROM (SELECT 1 AS x)"
    )
    got = dict(fields)
    assert duck_bucket(got["s"]) == "hugeint"
    assert duck_bucket(got["sb"]) == "int"
    con.close()


def test_conf_flag_is_repeatable_and_kept_apart_from_queries():
    """``--conf key=value`` (repeatable) goes to the session conf, not
    to the positional sf_dir/query list."""
    import pytest

    pos, flags, conf = parse_args([
        "/data/sf0.01", "--conf", "a.b=0", "q32_pagerank",
        "--types-only", "--conf", "c=x=y",
    ])
    assert pos == ["/data/sf0.01", "q32_pagerank"]
    assert flags == {"--types-only"}
    assert conf == {"a.b": "0", "c": "x=y"}
    with pytest.raises(SystemExit):
        parse_args(["--conf", "novalue"])

"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet dir,
compare row count, column names, the *declared type surface* and
byte-exact values.

Round-6 hardening (VERDICT r05 task 1): the old comparator collapsed
floats to 9 significant digits and stringified everything, which is
WEAKER than the driver's value hash — q263/q292 passed locally while
failing the driver (DuckDB HUGEINT ``SUM(CASE ...)`` vs Spark LongType
surfaces differently through pandas/arrow).  The strict comparator:

- checks the DECLARED column types on both engines (Spark
  ``df.schema`` vs DuckDB ``DESCRIBE <sql>``) and fails any column
  whose type buckets differ — in particular DuckDB HUGEINT/DECIMAL
  vs Spark LONG/DOUBLE, the exact class that produced the round-5
  hash-only failures, caught WITHOUT executing the query;
- compares values byte-exactly: floats via ``repr`` (a last-ulp
  divergence fails), ints exactly, every cell type-tagged so int 5
  and float 5.0 can never collide.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
       --legacy      old 9-significant-digit comparison (debug aid)
       --types-only  static type-surface sweep only (fast; no query
                     execution — Spark analysis + DuckDB DESCRIBE)
       --conf key=value
                     Spark conf for the session (repeatable), e.g.
                     ``--conf spark.graphmapreduce.clusterBroadcastMaxPairs=0``
                     runs the graph loops on the distributed tier
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# ---------------------------------------------------------------------------
# type-surface buckets: a Spark column and a DuckDB column may only be
# compared when they land in the SAME bucket.  HUGEINT and DECIMAL are
# deliberately unreachable from Spark's bucket map: DuckDB surfaces them
# as int128/Decimal which pandas/arrow render differently from Spark's
# int64/double, so the driver's value hash diverges even when the maths
# agree — the oracle SQL must CAST them away.
# ---------------------------------------------------------------------------

_SPARK_INTS = {"bigint", "int", "smallint", "tinyint"}


def spark_bucket(t: str) -> str:
    t = t.strip().lower()
    if t in _SPARK_INTS:
        return "int"
    if t == "double":
        return "double"
    if t == "float":
        return "float32"
    if t == "string":
        return "str"
    if t == "boolean":
        return "bool"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "binary":
        return "binary"
    if t.startswith("decimal"):
        return t.replace(" ", "")  # decimal(p,s) — exact match required
    if t.startswith("array<") and t.endswith(">"):
        return "array:" + spark_bucket(t[6:-1])
    if t.startswith("map<"):
        return "map"
    if t.startswith("struct<"):
        return "struct"
    return "other:" + t


def duck_bucket(t: str) -> str:
    t = t.strip().upper()
    if t.endswith("[]"):
        return "array:" + duck_bucket(t[:-2])
    if t in (
        "BIGINT",
        "INTEGER",
        "SMALLINT",
        "TINYINT",
        "UBIGINT",
        "UINTEGER",
        "USMALLINT",
        "UTINYINT",
        "INT64",
        "INT32",
    ):
        return "int"
    if t in ("HUGEINT", "UHUGEINT", "INT128"):
        return "hugeint"  # never matches a Spark bucket — CAST it in the SQL
    if t == "DOUBLE":
        return "double"
    if t in ("FLOAT", "REAL"):
        return "float32"
    if t == "VARCHAR":
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "BLOB":
        return "binary"
    if t.startswith("DECIMAL"):
        return t.lower().replace(" ", "")
    if t.startswith("MAP"):
        return "map"
    if t.startswith("STRUCT"):
        return "struct"
    return "other:" + t.lower()


def type_surface_diff(spark_fields, duck_fields):
    """[(col, spark_type, duck_type)] for every column whose declared
    type buckets differ.  Inputs: [(name, type_str)] per engine."""
    smap = {n: t for n, t in spark_fields}
    dmap = {n: t for n, t in duck_fields}
    bad = []
    for n in sorted(set(smap) | set(dmap)):
        st, dt = smap.get(n), dmap.get(n)
        if st is None or dt is None:
            bad.append((n, st or "<missing>", dt or "<missing>"))
        elif spark_bucket(st) != duck_bucket(dt):
            bad.append((n, st, dt))
    return bad


# ---------------------------------------------------------------------------
# cell canonicalization
# ---------------------------------------------------------------------------


def strict_cell(x) -> str:
    """Byte-exact, type-tagged canonical form.  Floats keep their full
    repr, so a single-ulp divergence between engines is a mismatch —
    at least as strict as any value hash the driver can compute."""
    if x is None:
        return "~"
    if isinstance(x, bool):
        return "b:" + str(x)
    if isinstance(x, int):
        return "i:" + repr(x)
    if isinstance(x, float):
        if math.isnan(x):
            return "f:nan"
        return "f:" + repr(x)
    if isinstance(x, decimal.Decimal):
        return "d:" + str(x)
    if isinstance(x, str):
        return "s:" + x
    if isinstance(x, (bytes, bytearray)):
        return "y:" + bytes(x).hex()
    if isinstance(x, datetime.datetime):
        return "T:" + x.isoformat()
    if isinstance(x, datetime.date):
        return "D:" + x.isoformat()
    if isinstance(x, (list, tuple)):
        return "[" + ",".join(strict_cell(v) for v in x) + "]"
    if isinstance(x, dict):
        return (
            "{"
            + ",".join(
                strict_cell(k) + "=" + strict_cell(v)
                for k, v in sorted(x.items(), key=lambda kv: str(kv[0]))
            )
            + "}"
        )
    return "o:" + repr(x)


def legacy_cell(x) -> str:
    """The pre-round-6 normalization (9 significant digits) — kept as a
    debug aid to tell 'value wrong' from 'value surface differs'."""
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        return f"{x:.9g}"
    if isinstance(x, bool):
        return str(int(x))
    return str(x)


def norm_rows(cols, rows, cell=strict_cell):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(cell(r[i]) for i in idx))
    out.sort()
    return [cols[i] for i in idx], out


def compare_results(scols, srows, ocols, orows, cell=strict_cell):
    """Compare collected Spark rows vs DuckDB rows.  Returns (ok, msg)."""
    ncols, nsrows = norm_rows(scols, srows, cell)
    nocols, norows = norm_rows(ocols, orows, cell)
    if ncols != nocols:
        return False, f"column mismatch spark={ncols} duckdb={nocols}"
    if len(nsrows) != len(norows):
        return False, f"row count spark={len(nsrows)} duckdb={len(norows)}"
    if nsrows != norows:
        diffs = [(a, b) for a, b in zip(nsrows, norows) if a != b][:3]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, ""


def duck_describe(con, sql):
    """[(name, declared_type)] for a SELECT without executing it."""
    rows = con.execute("DESCRIBE " + sql).fetchall()
    return [(r[0], r[1]) for r in rows]


def parse_args(args: list[str]) -> tuple[list[str], set[str], dict[str, str]]:
    """(positional args, flags, ``--conf`` settings) of the command line."""
    positional: list[str] = []
    flags: set[str] = set()
    conf: dict[str, str] = {}
    it = iter(args)
    for a in it:
        if a == "--conf":
            setting = next(it, "")
            key, sep, value = setting.partition("=")
            if not key or not sep:
                raise SystemExit(f"--conf expects key=value, got {setting!r}")
            conf[key] = value
        elif a.startswith("--"):
            flags.add(a)
        else:
            positional.append(a)
    return positional, flags, conf


def main():
    argv, flags, conf = parse_args(sys.argv[1:])
    legacy = "--legacy" in flags
    types_only = "--types-only" in flags
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    cell = legacy_cell if legacy else strict_cell

    from graphmapreduce_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(
        master="local[8]", shuffle_partitions=8, app_name="oracle-check",
        # contract-quadratic outputs (q186's pair table is ~18M rows at
        # sf1) exceed the 1g default during the harness's own collect,
        # and sf10 streaming-state collects (q69) exceed the default
        # driver HEAP — harness limits, not plan properties; in local
        # mode the driver JVM is the only JVM, and the box has 128 GiB
        extra_conf={
            "spark.driver.maxResultSize": "8g",
            "spark.driver.memory": "24g",
            **conf,
        },
    )
    con = duckdb.connect()
    # cap DuckDB and spill to disk rather than OOM-ing the box — the
    # sf10 campaign lost a sweeper to a 58 GiB unbounded materialization
    con.execute(
        f"SET memory_limit='{os.environ.get('SWEEP_DUCK_MEM', '28GB')}'"
    )
    _spill = os.environ.get("SWEEP_DUCK_SPILL", "/tmp/duck_spill")
    os.makedirs(_spill, exist_ok=True)
    con.execute(f"SET temp_directory='{_spill}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            sfields = [
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            ]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            if types_only:
                n_rowsonly += 1
                continue
            try:
                rows = [tuple(r) for r in df.collect()]
            except Exception as ex:
                print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
                n_fail += 1
                continue
            print(
                f"rows  {name}: {len(rows)} rows, cols={cols}"
                f" ({time.time()-t0:.1f}s) [rows-only]"
            )
            n_rowsonly += 1
            continue
        # --- declared type surface (no execution on either engine) ---
        try:
            dfields = duck_describe(con, oracles[name])
        except Exception as ex:
            print(f"FAIL  {name}: duckdb describe error: "
                  f"{type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        tdiff = type_surface_diff(sfields, dfields)
        if tdiff:
            print(
                f"FAIL  {name}: type-surface mismatch "
                + "; ".join(
                    f"{c}: spark={st} duckdb={dt}" for c, st, dt in tdiff
                )
            )
            n_fail += 1
            continue
        if types_only:
            print(f"PASS  {name}: types ok ({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        # --- values ---
        try:
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        ok, msg = compare_results(cols, rows, ocols, orows, cell)
        if not ok:
            print(f"FAIL  {name}: {msg}")
            n_fail += 1
            continue
        print(f"PASS  {name}: {len(rows)} rows ({time.time()-t0:.1f}s)")
        n_pass += 1
    print(
        f"\n== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only, "
        f"{len(qs)} total =="
    )
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

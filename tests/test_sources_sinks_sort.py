"""Readers round-trip, sinks round-trip, global sample-sort equivalence."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from graphmapreduce_spark.operators.sort import global_sort, is_globally_sorted
from graphmapreduce_spark.sources import read_edge_list, read_metis, read_subgraph_files
from graphmapreduce_spark.sources.sinks import write_csv, write_json, write_parquet


def test_edge_list_reader(spark, tmp_path):
    p = tmp_path / "g.txt"
    p.write_text("# comment\n5\n5\n1 2\n2 3 2.5\n\n3 1\n")
    g = read_edge_list(spark, str(p))
    edges = sorted((r.src, r.dst, r.weight) for r in g.edges.collect())
    # header lines '5' dropped (single token), comment/blank skipped
    assert edges == [(1, 2, 1.0), (2, 3, 2.5), (3, 1, 1.0)]


def test_edge_list_zero_based_shift(spark, tmp_path):
    p = tmp_path / "g0.txt"
    p.write_text("0 1\n1 2\n")
    g = read_edge_list(spark, str(p), one_based_shift=True)
    edges = sorted((r.src, r.dst) for r in g.edges.collect())
    assert edges == [(1, 2), (2, 3)]  # shifted to 1-based like the reference
    # default: no shift (and no min-id scan)
    g0 = read_edge_list(spark, str(p))
    assert sorted((r.src, r.dst) for r in g0.edges.collect()) == [(0, 1), (1, 2)]


def test_metis_reader_weighted(spark, tmp_path):
    # 3 vertices, 2 undirected edges, fmt 001 = edge weights present
    p = tmp_path / "m.graph"
    p.write_text("3 2 001\n2 7 3 1\n1 7\n1 1\n")
    g = read_metis(spark, str(p))
    edges = sorted((r.src, r.dst, r.weight) for r in g.edges.collect())
    assert edges == [(1, 2, 7.0), (1, 3, 1.0), (2, 1, 7.0), (3, 1, 1.0)]
    assert g.num_vertices() == 3


def test_subgraph_reader(spark, tmp_path):
    # fmt-1111 lines: vid vwgt (nbor part ewgt)*
    p = tmp_path / "s.0"
    p.write_text("1 1.0 2 0 5.0 3 1 2.0\n2 1.0 1 0 5.0\n")
    g = read_subgraph_files(spark, [str(p)])
    edges = sorted((r.src, r.dst, r.weight) for r in g.edges.collect())
    assert edges == [(1, 2, 5.0), (1, 3, 2.0), (2, 1, 5.0)]


def test_sinks_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, s string, v double"
    )
    pq = str(tmp_path / "pq")
    write_parquet(df, pq, partition_by=["s"])
    back = spark.read.parquet(pq)
    assert sorted((r.id, r.s, r.v) for r in back.collect()) == [
        (1, "a", 1.5),
        (2, "b", 2.5),
    ]
    # partitioned layout → directory per key (partition pruning on read)
    assert any(d.startswith("s=") for d in os.listdir(pq))

    cs = str(tmp_path / "cs")
    write_csv(df, cs)
    assert spark.read.option("header", "true").csv(cs).count() == 2

    js = str(tmp_path / "js")
    write_json(df, js)
    assert spark.read.json(js).count() == 2


def test_global_sample_sort(spark):
    df = spark.createDataFrame(
        [((i * 2654435761) % 1000,) for i in range(5000)], "n long"
    ).repartition(8)
    out = global_sort(df, ["n"], num_partitions=4)
    assert is_globally_sorted(out, "n")
    vals = [r["n"] for r in out.collect()]
    assert vals == sorted(vals)


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed identically on the join key must join without
    any shuffle (the Exchange happened once, at write time)."""
    import io
    from contextlib import redirect_stdout

    from graphmapreduce_spark.sources.sinks import write_bucketed_table

    left = spark.createDataFrame(
        [(i % 50, i) for i in range(1000)], "k long, lv long"
    )
    right = spark.createDataFrame(
        [(i, str(i)) for i in range(50)], "k long, rv string"
    )
    write_bucketed_table(left, "t_bkt_left", ["k"], 4)
    write_bucketed_table(right, "t_bkt_right", ["k"], 4)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bkt_left").join(spark.table("t_bkt_right"), "k")
        assert j.count() == 1000
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_edgelist_datasource_matches_text_reader(spark):
    """Custom Python DataSource ('edgelist' format) parses the headered
    edge-list fixture (``testdata_fixtures/rdsmall.graph``: 2-line count
    header, then the 12-cycle in both directions) identically to the
    spark.read.text composition, including with byte-range splits small
    enough to force boundary realignment."""
    from graphmapreduce_spark.sources import read_edge_list
    from graphmapreduce_spark.sources.edgelist_datasource import (
        EdgeListDataSource,
    )

    spark.dataSource.register(EdgeListDataSource)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "testdata_fixtures",
        "rdsmall.graph",
    )

    via_text = read_edge_list(
        spark, path, one_based_shift=False
    ).edges.select("src", "dst", "weight")
    expected = sorted(map(tuple, via_text.collect()))

    for split_bytes in (None, 16):  # one split; many tiny splits
        reader = spark.read.format("edgelist").option("path", path)
        if split_bytes:
            reader = reader.option("target_partition_bytes", split_bytes)
        got = sorted(map(tuple, reader.load().collect()))
        assert got == expected, f"split_bytes={split_bytes}"
    assert len(expected) == 24  # header says 24 edges


def test_edgelist_datasource_weights_and_comments(spark, tmp_path):
    from graphmapreduce_spark.sources.edgelist_datasource import (
        EdgeListDataSource,
    )

    spark.dataSource.register(EdgeListDataSource)
    p = tmp_path / "wg.txt"
    p.write_text("# comment\n\n1 2 0.5\n2 3\n")
    rows = sorted(
        map(
            tuple,
            spark.read.format("edgelist")
            .option("path", str(p))
            .option("default_weight", 9.0)
            .load()
            .collect(),
        )
    )
    assert rows == [(1, 2, 0.5), (2, 3, 9.0)]


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Directory-partitioned parquet: a filter on the partition column
    must become a PartitionFilter (scan skips other directories), not a
    post-scan filter — the read side of the partition-pruning story."""
    import io
    from contextlib import redirect_stdout

    from graphmapreduce_spark.sources.sinks import write_parquet

    df = spark.createDataFrame(
        [(i, "A" if i % 3 else "B") for i in range(300)], "id long, st string"
    )
    out = str(tmp_path / "pt")
    write_parquet(df, out, partition_by=["st"])
    back = spark.read.parquet(out).filter(F.col("st") == "B")
    assert back.count() == 100
    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain()
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "B" in plan.split("PartitionFilters")[1].split("]")[0], plan


def test_orc_roundtrip(spark, tmp_path):
    from graphmapreduce_spark.sources.sinks import write_orc

    df = spark.range(50).selectExpr("id", "id % 7 AS g")
    path = str(tmp_path / "orc_out")
    write_orc(df, path)
    back = spark.read.orc(path)
    assert back.count() == 50
    assert {r["g"] for r in back.select("g").distinct().collect()} == set(range(7))


def test_global_ntile_matches_window_ntile(spark):
    """global_ntile == F.ntile over a single-partition window on a
    total order, including the uneven-tile boundary (n=103, k=5 ->
    first 3 tiles hold 21 rows) and the n<k degenerate case."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from graphmapreduce_spark.operators.sort import global_ntile

    df = spark.range(103).select(
        F.col("id"), (F.pmod(F.col("id") * 37, F.lit(101))).alias("v")
    )
    want = {
        r["id"]: r["t"]
        for r in df.select(
            "id", F.ntile(5).over(Window.orderBy("v", "id")).alias("t")
        ).collect()
    }
    got = {
        r["id"]: r["tile"]
        for r in global_ntile(df, ["v", "id"], 5, num_partitions=7).collect()
    }
    assert got == want
    tiny = spark.range(3)
    got2 = {
        r["id"]: r["tile"]
        for r in global_ntile(tiny, ["id"], 5).collect()
    }
    assert got2 == {0: 1, 1: 2, 2: 3}


def test_global_cumsum_matches_window_cumsum(spark):
    """global_cumsum == SUM OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING) on a total order, across an arbitrary partition count,
    descending order, and double values."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from graphmapreduce_spark.operators.sort import global_cumsum

    df = spark.range(200).select(
        F.col("id"),
        (F.pmod(F.col("id") * 13, F.lit(97)) / 7.0).alias("v"),
    )
    w = Window.orderBy(F.col("v").desc(), F.col("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["id"]: round(r["c"], 9)
        for r in df.select("id", F.sum("v").over(w).alias("c")).collect()
    }
    got = {
        r["id"]: round(r["cum"], 9)
        for r in global_cumsum(
            df, [F.col("v").desc(), F.col("id")], "v", num_partitions=9
        ).collect()
    }
    assert got == want

    # long-typed sums stay exact integers (no double round-trip):
    # values near 2^53 would corrupt under a double offset
    big = spark.range(6).select(
        F.col("id"), (F.lit(1 << 53) + F.col("id")).alias("v")
    )
    out = global_cumsum(big, ["id"], "v", num_partitions=3)
    rows = {r["id"]: r["cum"] for r in out.collect()}
    acc = 0
    for i in range(6):
        acc += (1 << 53) + i
        assert rows[i] == acc, (i, rows[i], acc)
    assert dict(out.dtypes)["cum"] == "bigint"

    # DECIMAL sums stay exact decimals (the q411 sf10 lesson): cent
    # values that a double offset would carry as binary fractions must
    # come back exactly, and the output keeps the decimal dtype
    import decimal

    cents = spark.range(7).select(
        F.col("id"),
        (F.col("id").cast("decimal(18,2)") + F.lit(0.01).cast(
            "decimal(18,2)"
        )).alias("v"),
    )
    outd = global_cumsum(cents, ["id"], "v", num_partitions=3)
    rowsd = {r["id"]: r["cum"] for r in outd.collect()}
    accd = decimal.Decimal(0)
    for i in range(7):
        accd += decimal.Decimal(i) + decimal.Decimal("0.01")
        assert rowsd[i] == accd, (i, rowsd[i], accd)
    assert dict(outd.dtypes)["cum"].startswith("decimal")


def test_xml_roundtrip_fidelity(spark, tmp_path):
    """write_xml -> read_xml must be value-identical (ints widen to
    LONG under inference; values unchanged)."""
    from graphmapreduce_spark.sources import read_xml, write_xml

    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    d = str(tmp_path / "nation_xml")
    write_xml(n, d, row_tag="nation")
    back = read_xml(spark, d, row_tag="nation")
    a = sorted(tuple(r) for r in n.collect())
    b = sorted(tuple(r) for r in back.select(*n.columns).collect())
    assert a == b


def test_xml_roundtrip_escapes_special_chars(spark, tmp_path):
    """Tag-significant characters in values must survive the writer's
    escaping and the reader's unescaping."""
    from graphmapreduce_spark.sources import read_xml, write_xml

    rows = [
        (1, "a<b&c>d"),
        (2, 'quote" and \'apostrophe\''),
        (3, "plain"),
    ]
    df = spark.createDataFrame(rows, "id long, txt string")
    d = str(tmp_path / "esc_xml")
    write_xml(df, d)
    back = read_xml(spark, d)
    assert sorted(tuple(r) for r in back.select("id", "txt").collect()) \
        == sorted(rows)


def test_xml_explicit_schema_skips_inference(spark, tmp_path):
    from graphmapreduce_spark.sources import read_xml, write_xml

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, txt string")
    d = str(tmp_path / "schema_xml")
    write_xml(df, d)
    back = read_xml(spark, d, schema="id long, txt string")
    assert back.schema.simpleString() == "struct<id:bigint,txt:string>"
    assert sorted(tuple(r) for r in back.collect()) == [(1, "x"), (2, "y")]

"""Property-graph abstraction: two DataFrames.

The reference stores a partitioned directed weighted graph in CSR arrays
(``graph.h:26-39`` ``graph_t``; ``partition.h:68-79`` ``GRAPH_DATA``) with
explicit per-neighbor owner-partition metadata (``adjloc`` / ``nborProc``).
The Spark-native equivalent is the normalized relational form:

- ``vertices(id LONG, value DOUBLE)`` — vertex state (ref ``fvwgts``)
- ``edges(src LONG, dst LONG, weight DOUBLE)`` — adjacency + edge weight
  (ref ``adjncy`` + ``fadjwgt``)

Ownership metadata disappears: Spark's hash shuffle partitioning *is* the
vertex→partition assignment, and a join's exchange *is* the ghost-vertex
send (``graph.h:860-921`` serialize + ``gmr.cpp:267-268`` Alltoallv).

At 100 TB scale the edges table is the big fact table; we hash-partition
it once on ``src`` and persist, so every superstep's message join shuffles
only the (much smaller) vertex-state side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

EDGE_SCHEMA = StructType(
    [
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("weight", DoubleType(), True),
    ]
)

VERTEX_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("value", DoubleType(), True),
    ]
)


class PropertyGraph:
    """vertices + edges DataFrames with graph helpers.

    ``num_partitions`` controls the hash partitioning of the edge table —
    the analog of the reference's vertex→process assignment
    (``partition.h:662-677`` multiplicative hash).  Spark's shuffle hash
    plays the same role; unlike the reference's ``MAX_PROCESSOR=256`` cap
    (``graph.h:18``) it is unbounded.
    """

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        num_partitions: int | None = None,
        prepartition: bool = True,
    ):
        self.spark = edges.sparkSession
        if num_partitions is None:
            num_partitions = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.num_partitions = num_partitions
        if "weight" not in edges.columns:
            edges = edges.withColumn("weight", F.lit(1.0))
        edges = edges.select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            F.col("weight").cast("double"),
        )
        if prepartition:
            # One shuffle up front; every superstep's edges⋈vertices join
            # then reuses this partitioning and only shuffles vertex state.
            edges = edges.repartition(num_partitions, "src")
        self.edges = edges
        self.vertices = (
            vertices.withColumn("id", F.col("id").cast("long"))
            if vertices is not None
            else None
        )
        self._endpoint_pair = None
        # tier (a)'s snapshot of this graph, kept by
        # ``graph/iterate.py::LocalGraph.collect``
        self._local = None

    # -- constructors -------------------------------------------------

    @classmethod
    def from_edges(
        cls,
        edges: DataFrame,
        default_value: float = 0.0,
        num_partitions: int | None = None,
        prepartition: bool = True,
    ) -> "PropertyGraph":
        """Derive the vertex set as distinct(src) ∪ distinct(dst).

        The reference synthesizes 'gap' vertices that appear only as
        neighbors (``partition.h:628-642``); the union here is the same
        completion.

        Vertices are derived from the graph's FINAL (cast, partitioned)
        edge plan, not the raw input: Spark's cache manager substitutes
        persisted plans by subtree match, so once ``edges`` is persisted
        (every iterative algorithm does this first) the vertex-set,
        degree, and init jobs all read the cache instead of re-running
        the upstream pipeline.
        """
        g = cls(
            None, edges, num_partitions=num_partitions, prepartition=prepartition
        )
        ids = (
            g.edges.select(F.col("src").alias("id"))
            .unionByName(g.edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        g.vertices = ids.withColumn("value", F.lit(float(default_value)))
        g._endpoint_pair = (g.edges, g.vertices)
        return g

    @property
    def vertices_from_endpoints(self) -> bool:
        """True when the vertex ids are exactly the distinct edge
        endpoints: a ``from_edges`` graph whose edge and vertex tables
        were not replaced."""
        pair = self._endpoint_pair
        return (
            pair is not None
            and pair[0] is self.edges
            and pair[1] is self.vertices
        )

    # -- helpers ------------------------------------------------------

    def out_degrees(self) -> DataFrame:
        """(id, out_degree) — zero-degree vertices included."""
        deg = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )
        return (
            self.vertices.select("id")
            .join(deg, "id", "left")
            .withColumn("out_degree", F.coalesce("out_degree", F.lit(0)))
        )

    def in_degrees(self) -> DataFrame:
        deg = self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_degree")
        )
        return (
            self.vertices.select("id")
            .join(deg, "id", "left")
            .withColumn("in_degree", F.coalesce("in_degree", F.lit(0)))
        )

    def undirected(self) -> "PropertyGraph":
        """Symmetrize: each edge also reversed, duplicates removed."""
        sym = (
            self.edges.select("src", "dst", "weight")
            .unionByName(
                self.edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
                )
            )
            .groupBy("src", "dst")
            .agg(F.min("weight").alias("weight"))
        )
        return PropertyGraph(self.vertices, sym, num_partitions=self.num_partitions)

    def num_vertices(self) -> int:
        return self.vertices.count()

    def cache(self) -> "PropertyGraph":
        self.edges = self.edges.persist()
        self.edges.count()
        return self

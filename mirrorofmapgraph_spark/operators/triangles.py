"""Triangle counting — one-shot dataflow (no superstep loop).

Not in the reference (SURVEY.md §2.5 item 5) but required by the north
rule. Standard Spark-first formulation: canonicalize to undirected edges
with src < dst (each triangle {a<b<c} appears exactly once as the edge
pattern (a,b),(b,c),(a,c)), then two self-joins.

Scale notes: both joins are equi-joins on single keys — shuffle-hash /
sort-merge with AQE skew splitting. The classic optimization for skew
(orient edges from lower- to higher-degree endpoint so wedges are counted
at low-degree centers) is applied when ``degree_oriented=True``: it bounds
wedge counts by O(m^1.5) instead of sum(deg^2) — the difference between
feasible and not on a power-law web graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges as (a, b) with a < b; self-loops dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def _degree_oriented(und: DataFrame) -> DataFrame:
    """Re-orient each undirected edge from lower-degree to higher-degree
    endpoint (ties by id). Wedge enumeration then pivots at the low-degree
    vertex — the standard O(m^1.5) triangle bound."""
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        und.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), on="a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), on="b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("y"),
    )


def _oriented_common_neighbors(edges: DataFrame) -> DataFrame:
    """(x, y, _common) per degree-oriented edge: the sorted out-neighbor
    arrays of both endpoints intersected — ``_common`` lists exactly the
    triangle apexes z with x->z and y->z. Each triangle {x', y', z'} has
    exactly ONE oriented edge whose endpoints both point at the third
    vertex, so rows/sizes of ``_common`` enumerate triangles exactly once.

    This replaces the wedge self-join: instead of materializing and
    shuffling one row per wedge (sum deg_o^2 rows — 31M at sf0.1 for a
    0.5M-edge graph, A/B'd 5.8 -> 3.1 s), adjacency arrays are built once
    (vertex-sized state, bounded per row by the degree-orientation
    O(sqrt m) out-degree cap) and the closing test is one JVM
    array_intersect per edge."""
    from pyspark.storagelevel import StorageLevel

    und = canonical_undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    o = _degree_oriented(und).persist(StorageLevel.MEMORY_AND_DISK)
    adj = o.groupBy("x").agg(F.sort_array(F.collect_list("y")).alias("_nbrs"))
    return (
        o.join(adj, on="x")
        .join(
            adj.select(F.col("x").alias("y"), F.col("_nbrs").alias("_nbrs_y")),
            on="y",
        )
        .select(
            "x", "y", F.array_intersect("_nbrs", "_nbrs_y").alias("_common")
        )
    )


def triangles(edges: DataFrame, degree_oriented: bool = True) -> DataFrame:
    """All triangles as rows (a, b, c) with a < b < c (exactly once each)."""
    from pyspark.storagelevel import StorageLevel

    if degree_oriented:
        tri = _oriented_common_neighbors(edges).select(
            "x", "y", F.explode("_common").alias("z")
        )
        # median of three from pairwise least/greatest: no arithmetic, so
        # ids near the int64 limit cannot overflow
        xy_lo, xy_hi = F.least("x", "y"), F.greatest("x", "y")
        return tri.select(
            F.least(xy_lo, "z").alias("a"),
            F.greatest(xy_lo, F.least(xy_hi, "z")).alias("b"),
            F.greatest(xy_hi, "z").alias("c"),
        )
    # plain a<b<c join chain
    und = canonical_undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    e1 = und.select(F.col("a"), F.col("b"))
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = e1.join(e2, on="b")
    return wedges.join(
        und.select(F.col("a"), F.col("b").alias("c")), on=["a", "c"], how="inner"
    ).select("a", "b", "c")


def triangle_count(edges: DataFrame, degree_oriented: bool = True) -> DataFrame:
    """Single-row DataFrame (n_triangles long)."""
    if degree_oriented:
        # same enumeration as triangles(); the count only needs the
        # intersection SIZES, so skip the row explosion entirely
        return _oriented_common_neighbors(edges).agg(
            F.coalesce(
                F.sum(F.size("_common").cast("long")), F.lit(0).cast("long")
            ).alias("n_triangles")
        )
    return triangles(edges, degree_oriented).agg(F.count("*").alias("n_triangles"))


def triangle_count_per_vertex(edges: DataFrame, degree_oriented: bool = True) -> DataFrame:
    """(id, n_triangles) — triangles incident to each vertex."""
    tri = triangles(edges, degree_oriented)
    stacked = (
        tri.select(F.col("a").alias("id"))
        .unionByName(tri.select(F.col("b").alias("id")))
        .unionByName(tri.select(F.col("c").alias("id")))
    )
    return stacked.groupBy("id").agg(F.count("*").alias("n_triangles"))

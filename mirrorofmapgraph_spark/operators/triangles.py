"""Triangle counting — one-shot dataflow (no superstep loop).

Not in the reference (SURVEY.md §2.5 item 5) but required by the north
rule. Each edge is canonicalized to an undirected pair a < b
(sources/edges.py canonical_undirected), then oriented from its lower- to
its higher-degree endpoint (ties by id), and every oriented edge
intersects its endpoints' sorted out-neighbor arrays: each triangle shows
up exactly once, as the apex of the one oriented edge whose endpoints
both point at it.

Scale notes: the orientation bounds the wedges at O(m^1.5) instead of
sum(deg^2) — the difference between feasible and not on a power-law web
graph — and caps each adjacency array at O(sqrt m); every join is a
single-key equi-join (shuffle-hash / sort-merge, AQE-splittable).

The canonical pairs and their orientation stay persisted, shared by plan
with later calls over the same edges until ``spark.catalog.clearCache()``
(the GAS edge copies' contract): dropping both persists slowed
triangle_count from 1.26 to 2.21 s (sf0.01 link graph) and from 1.04 to
1.21 s (R-MAT scale 11), medians of 5 alternated reps on ``local[4]``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.edges import canonical_undirected


def undirected_pairs(edges: DataFrame) -> DataFrame:
    """canonical_undirected(edges) as (a, b) with a < b — the triangle
    family's input (triangles, ktruss, linkpred)."""
    return canonical_undirected(edges).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )


def sorted3(x, y, z) -> tuple[Column, Column, Column]:
    """(min, median, max) of three columns from pairwise least/greatest:
    no arithmetic, so ids near the int64 limit cannot overflow."""
    lo, hi = F.least(x, y), F.greatest(x, y)
    return F.least(lo, z), F.greatest(lo, F.least(hi, z)), F.greatest(hi, z)


def _orient_by_degree(und: DataFrame) -> DataFrame:
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


def _oriented_common_neighbors(und: DataFrame) -> DataFrame:
    """(x, y, _common) per degree-oriented edge of the canonical pairs
    ``und`` (``undirected_pairs``): the sorted out-neighbor
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

    und = und.persist(StorageLevel.MEMORY_AND_DISK)
    o = _orient_by_degree(und).persist(StorageLevel.MEMORY_AND_DISK)
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


def pair_triangles(und: DataFrame) -> DataFrame:
    """All triangles of the canonical pairs ``und`` (``undirected_pairs``)
    as rows (a, b, c) with a < b < c (exactly once each). k-truss calls it
    on its own pairs, which are canonical already."""
    tri = _oriented_common_neighbors(und).select(
        "x", "y", F.explode("_common").alias("z")
    )
    a, b, c = sorted3("x", "y", "z")
    return tri.select(a.alias("a"), b.alias("b"), c.alias("c"))


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles as rows (a, b, c) with a < b < c (exactly once each)."""
    return pair_triangles(undirected_pairs(edges))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Single-row DataFrame (n_triangles long)."""
    # same enumeration as triangles(); the count only needs the
    # intersection SIZES, so skip the row explosion entirely
    return _oriented_common_neighbors(undirected_pairs(edges)).agg(
        F.coalesce(
            F.sum(F.size("_common").cast("long")), F.lit(0).cast("long")
        ).alias("n_triangles")
    )


def triangle_count_per_vertex(edges: DataFrame) -> DataFrame:
    """(id, n_triangles) — triangles incident to each vertex."""
    tri = triangles(edges)
    stacked = (
        tri.select(F.col("a").alias("id"))
        .unionByName(tri.select(F.col("b").alias("id")))
        .unionByName(tri.select(F.col("c").alias("id")))
    )
    return stacked.groupBy("id").agg(F.count("*").alias("n_triangles"))

"""k-truss decomposition by incremental edge peeling.

The k-truss is the maximal subgraph in which every edge participates in
at least (k-2) triangles *within the subgraph* — the edge-analog of the
k-core (operators/kcore.py) and a much stronger cohesion filter for
community structure on link graphs. Same monotone peel-to-fixpoint shape
as the reference's HashMin CC loop (Algorithms/CC/cc.h), so it reuses
the identical Spark strategy: per-round dataflow + an eager lineage cut
(plans/gas.cut), one driver-side scalar count as the fixpoint gate. A raw
``localCheckpoint`` would square the size estimate every round (a
22-round peel of 320 edges failed inside it at a 1 GiB driver heap).

Support is computed ONCE over the full graph (degree-oriented O(m^1.5)
wedge enumeration, operators/triangles.py) and then maintained
INCREMENTALLY: each peel round enumerates only the triangles destroyed
by that round's removed edges (common-neighbor probe from each removed
edge — cost proportional to the removed edges' neighborhood, not the
surviving graph) and decrements the surviving edges they charged. A
triangle is destroyed exactly once no matter how many of its edges were
removed together (canonical-triangle dedup before charging), so the
maintained support always equals the triangle count within the current
graph — the same fixpoint and the same support values as the naive
re-enumerate-every-round peel, at a fraction of the per-round cost.

Monotonicity makes the DuckDB oracle exact: edges only ever leave, so an
unrolled-K SQL with K >= the converged round count equals the gated
fixpoint EXACTLY (integer supports, no float risk).

Scale notes (100 TB): the peel only shrinks the edge table; the per-round
work is keyed equi-joins sized by the removed frontier's neighborhoods
(AQE-splittable); superseded state checkpoints are released each round
(plans/gas.release) so a deep peel doesn't accumulate generations in the
block manager; no step widens rows or collects data to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import cut, release
from .triangles import pair_triangles, sorted3, undirected_pairs


def _edge_support(und: DataFrame) -> DataFrame:
    """(a, b, support) for every canonical edge of ``und`` with >= 1
    triangle; edges in no triangle simply don't appear (support 0)."""
    tri = pair_triangles(und)
    charged = (
        tri.select(F.col("a"), F.col("b"))
        .unionByName(tri.select(F.col("a"), F.col("c").alias("b")))
        .unionByName(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
    )
    return charged.groupBy("a", "b").agg(F.count("*").alias("support"))


def _destroyed_triangles(state: DataFrame, removed: DataFrame) -> DataFrame:
    """Distinct canonical triangles (x < y < z) of the graph ``state``
    (canonical edges a < b, including this round's removals) that contain
    at least one ``removed`` edge — exactly the triangles this round
    destroys. Found by a common-neighbor probe from each removed edge:
    c is a triangle apex of removed (a, b) iff both (a, c) and (b, c) are
    edges. Cost is sized by the removed edges' neighborhoods."""
    nbr = state.select(F.col("a").alias("v"), F.col("b").alias("w")).unionByName(
        state.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )
    cand = (
        removed.select("a", "b")
        .join(nbr, F.col("a") == F.col("v"))
        .select("a", "b", F.col("w").alias("c"))
        .filter(F.col("c") != F.col("b"))
    )
    closed = cand.join(
        nbr.select(F.col("v").alias("b"), F.col("w").alias("c")), ["b", "c"], "left_semi"
    )
    x, y, z = sorted3("a", "b", "c")
    return closed.select(x.alias("x"), y.alias("y"), z.alias("z")).distinct()


def ktruss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    *,
    max_rounds: int = 100,
) -> DataFrame:
    """Edges of the k-truss with their within-truss triangle support:
    (a, b, support), a < b. k >= 2; the 2-truss is the whole (simple)
    graph, k=3 keeps edges in >= 1 triangle, etc. Returns an empty frame
    when the k-truss is empty; raises if ``max_rounds`` is exhausted
    before the fixpoint (a truncated peel is not the k-truss).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    need = k - 2
    und = undirected_pairs(edges)
    state = cut(
        und.join(_edge_support(und), ["a", "b"], "left").select(
            "a",
            "b",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        ),
        eager=True,
    )
    if need <= 0:
        # nothing can be peeled; report support over the full simple graph
        return state
    for _ in range(max(1, max_rounds)):
        removed = state.filter(F.col("support") < need)
        if removed.isEmpty():  # fixpoint: every surviving edge has enough support
            return state
        # materialize the destroyed-triangle set once per round (it is read
        # three times by the unpivot below), then release it with the round
        tri = cut(_destroyed_triangles(state, removed), eager=True)
        dec = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .groupBy("a", "b")
            .agg(F.count("*").alias("dec"))
        )
        survivors = cut(
            state.filter(F.col("support") >= need)
            .join(dec, ["a", "b"], "left")
            .select(
                "a",
                "b",
                (F.col("support") - F.coalesce("dec", F.lit(0))).alias("support"),
            ),
            eager=True,
        )
        release(tri)
        release(state)
        state = survivors
    raise RuntimeError(
        f"ktruss(k={k}) did not converge in {max_rounds} rounds; raise max_rounds"
    )

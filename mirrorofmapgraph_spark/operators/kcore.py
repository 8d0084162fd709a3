"""k-core decomposition by iterative peeling over the undirected graph.

The k-core is the maximal subgraph in which every vertex has degree >= k
(within the subgraph). Peeling is the classic fixpoint: repeatedly drop
vertices whose surviving-neighbor count is < k until nothing changes —
the same monotone-shrinking-frontier shape as the reference's HashMin CC
loop (Algorithms/CC/cc.h), so it reuses the identical Spark strategy:
per-round co-partitioned semi-joins + groupBy count, eager
``localCheckpoint`` to cut lineage, a driver-side count as the fixpoint
test (one scalar per round, not a data collect), and each superseded
generation freed through plans/gas.release.

The cut is a plain ``localCheckpoint``, not plans/gas.cut: a left-semi
join inherits its left side's size estimate, so nothing compounds across
rounds, and the true small estimate (R-MAT scale 11, edge factor 16, k=20:
each generation 967,327 B, a semi-join's right side 644,884 B) earns both
semi-joins a ``BroadcastHashJoin LeftSemi BuildRight`` that cut's reset
would lose.

Monotonicity makes the DuckDB oracle exact: once the fixpoint is reached,
further peel rounds are no-ops, so an unrolled-K SQL with K >= the
converged round count equals the engine's gated fixpoint EXACTLY
(integer degrees, no float risk).

Scale notes (100 TB): each round touches only surviving edges — the
symmetric table is filtered by TWO left-semi joins against the shrinking
alive set (no row widening, hash-partitioned on the join keys), and the
alive set only shrinks, so round cost is monotonically non-increasing.
Degree counting is map-side partial-agg friendly (count per src).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import release
from ..sources.edges import vertex_frame


def kcore(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    *,
    max_rounds: int = 100,
) -> DataFrame:
    """Vertices of the k-core with their within-core degree: (id, deg).

    ``edges`` is the directed (src, dst[, w]) table; direction is ignored
    (the core is defined on the underlying undirected simple graph).
    Returns an empty frame when the k-core is empty.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    max_rounds = max(1, max_rounds)
    # symmetric neighbor table: one row per (vertex, neighbor), deduped —
    # COUNT per src below is then exactly the undirected degree
    pairs = edges.filter(F.col("src") != F.col("dst")).select("src", "dst")
    sym = (
        pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .repartition("src")
        .persist()
    )
    alive = vertex_frame(sym).select("id").localCheckpoint(eager=True)
    n = alive.count()
    try:
        for _ in range(max_rounds):
            deg = (
                sym.join(alive.select(F.col("id").alias("src")), "src", "left_semi")
                .join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
                .groupBy(F.col("src").alias("id"))
                .agg(F.count("*").alias("deg"))
            )
            survivors = deg.filter(F.col("deg") >= k).localCheckpoint(eager=True)
            m = survivors.count()
            # the superseded generation's checkpoint blocks are never read
            # again — free them (DataFrame.unpersist is a no-op here)
            release(alive)
            alive = survivors
            if m == n:  # fixpoint: no vertex fell below k this round
                return survivors
            n = m
            if m == 0:
                return survivors
        # A truncated peel is NOT the k-core (its `deg` values were counted
        # against the pre-peel alive set) — refuse to return it silently.
        raise RuntimeError(
            f"kcore(k={k}) did not converge in {max_rounds} rounds "
            f"({n} survivors still changing); raise max_rounds"
        )
    finally:
        sym.unpersist()

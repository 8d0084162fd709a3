"""HITS (hubs & authorities) over the directed edge table.

The reference engine ships BFS/CC/PageRank/SSSP (Algorithms/); HITS is the
natural next link-analysis kernel on the same CSR edge table and reuses the
exact dataflow shape of a PageRank superstep (gather-join + groupBy sum,
Algorithms/PageRank/PageRank.h:233-283) — just run twice per iteration,
once along each edge direction:

    a_t(v) = sum_{u->v} h_{t-1}(u) / sum_v(raw)      (authority: in-gather)
    h_t(u) = sum_{u->v} a_t(v)     / sum_u(raw)      (hub: out-gather)

Sum-normalization (Kleinberg's L1 variant) keeps every step a pure
sum/divide — exactly reproducible in ANSI SQL for the DuckDB oracle.

Scale notes (100 TB): the edge table is hash-partitioned ONCE per gather
direction and persisted; every iteration reuses the same co-partitioned
join (no re-shuffle of the big side). The normalizer is a 1-row aggregate
broadcast back via crossJoin — never a driver-side collect inside the
dataflow. A per-iteration lineage cut (plans/gas.cut) keeps the plan size
O(1) in the iteration count; a raw ``localCheckpoint`` would also square
the size estimate every iteration (15 iterations on a 50-vertex graph ran
out of a 1 GiB driver heap). The last cut is eager, so the result is
materialized before the edge copies are unpersisted and every earlier
generation can be released (plans/gas.release).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import cut, release
from ..sources.edges import vertex_frame


def hits(
    spark: SparkSession,
    edges: DataFrame,
    *,
    iters: int = 5,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Run ``iters`` full HITS iterations; returns (id, hub, auth).

    ``edges`` is the directed (src, dst[, w]) table; weights are ignored
    (classic unweighted HITS). Scores are L1-normalized each half-step.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")

    # one repartition per direction, reused by every iteration's join
    e_by_src = edges.select("src", "dst").repartition("src").persist()
    e_by_dst = e_by_src.repartition("dst").persist()
    if vertices is None:
        # derive from the persisted copy — the raw lineage would be
        # re-evaluated once per union branch otherwise
        vertices = vertex_frame(e_by_src)

    state = cut(
        vertices.select("id", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth")),
        eager=False,
    )
    generations = [state]

    try:
        for i in range(iters):
            # authority half-step: gather hub scores along in-edges.
            # Join key is src, so probe the src-partitioned copy — the
            # dst-partitioned copy would re-shuffle the big side per step.
            a_raw = (
                e_by_src.join(state.select(F.col("id").alias("src"), "hub"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("_raw"))
            )
            auth = _l1_normalized(a_raw, "auth")
            state = (
                state.select("id", "hub")
                .join(auth, "id", "left")
                .select("id", "hub", F.coalesce("auth", F.lit(0.0)).alias("auth"))
            )
            # hub half-step: gather the fresh authority scores along
            # out-edges — join key dst, so probe the dst-partitioned copy
            h_raw = (
                e_by_dst.join(state.select(F.col("id").alias("dst"), "auth"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("auth").alias("_raw"))
            )
            hub = _l1_normalized(h_raw, "hub")
            state = cut(
                state.select("id", "auth")
                .join(hub, "id", "left")
                .select("id", F.coalesce("hub", F.lit(0.0)).alias("hub"), "auth"),
                eager=i == iters - 1,
            )
            generations.append(state)
        for g in generations[:-1]:
            release(g)
        return state.select(
            "id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
        )
    finally:
        e_by_src.unpersist()
        e_by_dst.unpersist()


def _l1_normalized(raw: DataFrame, out_col: str) -> DataFrame:
    """raw(id, _raw) -> (id, out_col = _raw / sum(_raw)).

    The total is a 1-row frame broadcast into the division — the scalar
    never routes through the driver, so the whole iteration is one DAG.
    """
    total = raw.agg(F.sum("_raw").alias("_tot"))
    return raw.crossJoin(F.broadcast(total)).select(
        "id", (F.col("_raw") / F.col("_tot")).alias(out_col)
    )

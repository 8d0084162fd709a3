"""Single-source shortest paths: frontier-driven Bellman-Ford relaxation.

Reference: Algorithms/SSSP/sssp.h —
- init dist = INT_MAX, dist[src] = 0 (:91-99);
- expand emits src_dist + w when it could improve dst (:342-358);
- contract takes the min per dst (atomicMin :397);
- apply: dist = min(old, gathered) (:248-268); changed iff decreased.

We use double distances (the reference is int32-bound only because of GPU
atomicMin constraints, sssp.h:36-54); unreached vertices report +inf,
exposed as null in ``distances`` for SQL-friendliness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import GASEngine, GASProgram, GASResult, operator_engine

_INF = float("inf")


def sssp_program() -> GASProgram:
    return GASProgram(
        name="sssp",
        mode="push",
        state_cols=("dist",),
        message=lambda df: F.col("dist") + F.col("w"),  # relax (sssp.h:342-358)
        combiner=F.min,
        apply=lambda df: {
            "dist": F.least(F.col("dist"), F.coalesce(F.col("_gathered"), F.col("dist")))
        },
        changed=lambda df: F.col("_new_dist") < F.col("dist"),
    )


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    source: int | list[int],
    *,
    vertices: DataFrame | None = None,
    max_iter: int = 10_000,
    engine: GASEngine | None = None,
    **engine_kwargs,
) -> GASResult:
    """result.vertices = (id, dist); dist = +inf when unreached.

    ``source`` may be one id, a list (multi-source: dist to the nearest
    source; absent ids are ignored), or a one-column DataFrame of ids —
    see bfs.bfs for the semantics."""
    from .bfs import _mark_sources

    program = sssp_program()
    with operator_engine(spark, edges, engine, **engine_kwargs) as eng:
        if vertices is None:
            # the vertex set comes from the engine's one endpoint-stats
            # aggregation (see GASEngine.vertex_stats)
            vertices = eng.vertex_stats(program.direction).select("id")
        marked = _mark_sources(vertices, source)
        v0 = marked.select(
            "id",
            F.when(F.col("_is_src"), F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
        )
        frontier0 = marked.filter(F.col("_is_src")).select("id")
        return eng.run(program, v0, frontier0, max_iter=max_iter)

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

from ..plans.gas import GASEngine, GASProgram, GASResult, run_program
from .bfs import _mark_sources

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

    def start(stats: DataFrame) -> tuple[DataFrame, DataFrame]:
        # dist 0 at the sources, which are the first frontier (sssp.h:91-99)
        marked = _mark_sources(stats, source)
        v0 = marked.select(
            "id",
            F.when(F.col("_is_src"), F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
        )
        return v0, marked.filter(F.col("_is_src")).select("id")

    return run_program(
        spark, edges, sssp_program(), start,
        vertices=vertices, engine=engine, max_iter=max_iter, **engine_kwargs,
    )

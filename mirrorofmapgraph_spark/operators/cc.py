"""Connected components = HashMin label propagation to fixpoint.

Reference: Algorithms/CC/cc.h —
- init label[v] = v (:118-120), frontier = ALL (:128-140);
- propagate label[v] <- min(label[v], min over neighbors) over BOTH edge
  directions until fixpoint (expand :289-302 emits iff dst_label >
  src_label; contract atomicMin :328-342; the CPU oracle sweeps fwd+rev,
  cc.cu:152-180);
- component id = min vertex id in the component; exact equality checked
  (cc.cu:111-130).

Spark-first: push-mode min-combiner supersteps over BOTH directions of
the ONE edge table it is given (GASProgram direction="both" — the
reference's CSC+CSR dual traversal, enactor_vertex_centric.cuh:574-687).
The direction is the engine's layout key: "both" persists a src- and a
dst-partitioned copy (the second built cache-to-cache), so both passes'
state joins are exchange-free. The min combiner is
duplicate-insensitive, so no symmetrize/dedup build shuffle is needed,
and a table that already holds both directions gives the same labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import GASEngine, GASProgram, GASResult, run_program


def cc_program() -> GASProgram:
    return GASProgram(
        name="cc",
        mode="push",
        direction="both",
        state_cols=("label",),
        message=lambda df: F.col("label"),  # push my label (cc.h:289-302)
        combiner=F.min,  # contract atomicMin (cc.h:328-342)
        apply=lambda df: {
            "label": F.least(F.col("label"), F.coalesce(F.col("_gathered"), F.col("label")))
        },
        changed=lambda df: F.col("_new_label") < F.col("label"),
    )


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    max_iter: int = 200,
    engine: GASEngine | None = None,
    resume: bool = False,
    **engine_kwargs,
) -> GASResult:
    """result.vertices = (id, label); label = min id in component.

    Isolated vertices (present in ``vertices`` but not in ``edges``) keep
    label = their own id — their own singleton component (mirrors the
    reference, where every vertex 0..n-1 exists; cc.cu:184-192 counts
    components as distinct labels).
    """
    return run_program(
        spark, edges, cc_program(), _own_labels,
        vertices=vertices, engine=engine, max_iter=max_iter, resume=resume,
        **engine_kwargs,
    )


def _own_labels(stats: DataFrame) -> tuple[DataFrame, DataFrame]:
    """label[v] = v (cc.h:118-120) with every vertex in the first frontier
    (srcVertex() == ALL, cc.h:68-71)."""
    return stats.select("id", F.col("id").alias("label")), stats.select("id")

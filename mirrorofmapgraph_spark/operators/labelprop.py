"""Community label propagation (LPA) — a generalization of CC's HashMin.

Not shipped by the reference (betweenness was dropped in 0.1,
CHANGELOG:27-41) but required by the north rule; it reuses the same
superstep shape as CC (SURVEY.md §2.5 item 5) with a *mode* combiner
instead of min. The mode is not a single-column algebraic aggregate, so
the program supplies a custom two-stage gather (GASProgram.aggregate_fn):

    counts = msgs.groupBy(dst, label).count()        (partial-agg friendly)
    argmax = counts.groupBy(dst).max(struct(cnt, -label))  (tie -> min label)

Semantics (deterministic, synchronous): every superstep each vertex with
>= 1 neighbor adopts the most frequent label among its neighbors'
*previous* labels, ties broken by the smallest label; stop at fixpoint or
max_iter. A vertex whose neighborhood did not change keeps its label
(its argmax is unchanged), so the engine's frontier gating — only
receivers adjacent to changed vertices re-apply — is exact, and LPA runs
through the SAME enactor as PageRank/CC/BFS/SSSP
(enactor_vertex_centric.cuh:2400 runs every reference program through one
enactor), gaining the stats-cut lineage hygiene, free observation
metrics, and durable checkpoint/resume.

Edge layout: the undirected neighborhood is traversed as BOTH directions
of ONE canonical (src < dst) edge table (direction="both",
sources/edges.py canonical_undirected): each undirected edge delivers
exactly one message per endpoint, so a table that already holds both
directions canonicalizes to the same neighbor multisets. The engine
persists the table src- and dst-partitioned for the "both" direction, so
neither pass exchanges per superstep. Self-loops are excluded from
neighbor counts (as in the oracle's src <> dst edge derivation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import GASEngine, GASProgram, GASResult, run_program
from ..sources.edges import canonical_undirected
from .cc import _own_labels


def _mode_aggregate(msgs: DataFrame) -> DataFrame:
    """Two-stage mode gather: per-(dst, label) counts (map-side partial —
    hub skew stays off the reduce side), then argmax with min-label
    tie-break via max(struct(cnt, -label))."""
    counts = msgs.groupBy("dst", "_msg").agg(F.count("*").alias("_cnt"))
    return (
        counts.groupBy("dst")
        .agg(
            F.max(F.struct(F.col("_cnt"), (-F.col("_msg")).alias("neg"))).alias("_top"),
            F.sum("_cnt").alias("_msg_cnt"),
        )
        .select("dst", (-F.col("_top.neg")).alias("_gathered"), "_msg_cnt")
    )


def labelprop_program() -> GASProgram:
    return GASProgram(
        name="labelprop",
        mode="pull",
        direction="both",
        state_cols=("label",),
        message=lambda df: F.col("label"),  # neighbor's current label
        combiner=None,
        aggregate_fn=_mode_aggregate,
        # adopt the neighborhood mode; vertices with no gathered messages
        # (isolated, or outside the frontier) keep their label
        apply=lambda df: {
            "label": F.when(
                F.col("_in_frontier") & F.col("_gathered").isNotNull(),
                F.col("_gathered"),
            ).otherwise(F.col("label"))
        },
        changed=lambda df: F.col("_new_label") != F.col("label"),
    )


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    engine: GASEngine | None = None,
    resume: bool = False,
    **engine_kwargs,
) -> GASResult:
    """result.vertices = (id, label). Isolated vertices keep their own id.

    When passing ``engine=``, build it over the SAME table this function
    uses: ``canonical_undirected(edges)``.
    """
    return run_program(
        spark, canonical_undirected(edges), labelprop_program(), _own_labels,
        vertices=vertices, engine=engine, max_iter=max_iter, resume=resume,
        **engine_kwargs,
    )

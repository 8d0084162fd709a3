"""PageRank with the reference's exact per-vertex frontier semantics.

Reference: Algorithms/PageRank/PageRank.h —
- init rank = 0.15 for every vertex (:112-116), frontier = ALL (:130-139);
- superstep: rank[v] <- 0.15 + 0.85 * sum_{u->v} rank[u] / out_deg(u)
  (gather_edge :233-243, gather_sum :248-254, apply :257-283);
- a vertex leaves the frontier when |Δrank| < tol (:271-277; reference
  default tol 0.01, we default 1e-6 per BASELINE.json);
- next frontier = out-neighbors of changed vertices, exact dedup
  (allow_duplicates=false, PageRank.h:43).

This is the *non-normalized* GraphLab formulation: ranks do NOT sum to 1,
dangling vertices simply contribute nothing, no teleport renormalization.
Matched exactly (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import GASEngine, GASProgram, GASResult


def _seed_stats(engine: GASEngine, vertices: DataFrame | None) -> DataFrame:
    """Setup frame for the PageRank family: (id, n_src, n_dst[, w_src])
    from the engine's ONE materialized endpoint-stats aggregation over
    the forward table (vertex set and out-degrees in a single shuffle,
    shared with the engine's all-receivers/sender counts) instead of
    separate vertex_frame/out_degrees shuffles over the raw lineage —
    measured ~8 s of pre-loop jobs at sf0.1. A caller's ``vertices``
    frame is left-joined onto the stats, so its vertices without edges
    get zero counts."""
    stats = engine.vertex_stats("fwd")
    if vertices is None:
        return stats
    return vertices.select("id").join(stats, on="id", how="left").select(
        "id",
        *(F.coalesce(F.col(c), F.lit(0)).alias(c) for c in stats.columns[1:]),
    )


def pagerank_program(damping: float = 0.85, tol: float = 1e-6) -> GASProgram:
    base = 1.0 - damping

    return GASProgram(
        name="pagerank",
        mode="pull",
        state_cols=("rank", "out_deg"),
        # gather_edge: nbr_rank / nbr_out_deg (PageRank.h:233-243)
        message=lambda df: F.col("rank") / F.col("out_deg"),
        # gather_sum: + (PageRank.h:248-254)
        combiner=F.sum,
        # apply: 0.15 + 0.85 * gathered, frontier vertices only (:257-283)
        apply=lambda df: {
            "rank": F.when(
                F.col("_in_frontier"),
                F.lit(base) + F.lit(damping) * F.coalesce(F.col("_gathered"), F.lit(0.0)),
            ).otherwise(F.col("rank"))
        },
        # leave frontier when |Δ| < tol (:271-277)
        changed=lambda df: F.col("_in_frontier")
        & (F.abs(F.col("_new_rank") - F.col("rank")) >= F.lit(tol)),
        # all-changed regime test = "every vertex WITH out-edges changed"
        # (dangling vertices freeze after step 1 on real link graphs and
        # must not disable the all-receivers fast path)
        has_out_edges=lambda df: F.col("out_deg") > 0,
    )


def personalized_pagerank_program(
    damping: float = 0.85, tol: float = 1e-6
) -> GASProgram:
    """PageRank with the teleport mass restricted to a source set: the
    uniform base term becomes ``base * src_w`` (src_w = 1.0 on sources,
    0.0 elsewhere — carried as a state column so apply stays a pure
    Column expression). Same gather/combiner/frontier-exit semantics as
    :func:`pagerank_program` (Algorithms/PageRank/PageRank.h:233-283)."""
    base = 1.0 - damping

    return GASProgram(
        name="personalized_pagerank",
        mode="pull",
        state_cols=("rank", "out_deg", "src_w"),
        message=lambda df: F.col("rank") / F.col("out_deg"),
        combiner=F.sum,
        apply=lambda df: {
            "rank": F.when(
                F.col("_in_frontier"),
                F.lit(base) * F.col("src_w")
                + F.lit(damping) * F.coalesce(F.col("_gathered"), F.lit(0.0)),
            ).otherwise(F.col("rank"))
        },
        changed=lambda df: F.col("_in_frontier")
        & (F.abs(F.col("_new_rank") - F.col("rank")) >= F.lit(tol)),
        has_out_edges=lambda df: F.col("out_deg") > 0,
    )


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    sources,
    *,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    engine: GASEngine | None = None,
    **engine_kwargs,
) -> GASResult:
    """Personalized PageRank seeded at ``sources`` (an id, a list of ids,
    or a 1-column DataFrame); result.vertices = (id, rank, out_deg, src_w).

    r_0(v) = base * 1[v in S];  r_{t+1}(v) = base * 1[v in S]
             + damping * sum_{u->v} r_t(u) / out_deg(u)

    The source set rides as a broadcast-joined indicator column, so the
    big vertex frame is touched once — no driver-side membership test.
    """
    if engine is None:
        engine = GASEngine(spark, edges, **engine_kwargs)
    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col(sources.columns[0]).alias("id")).dropDuplicates()
    else:
        ids = [sources] if not isinstance(sources, (list, tuple)) else list(sources)
        src_df = spark.createDataFrame([(int(i),) for i in ids], "id long").dropDuplicates()
    base = 1.0 - damping
    stats = _seed_stats(engine, vertices)
    v0 = (
        stats.join(F.broadcast(src_df.withColumn("_is_src", F.lit(1.0))), "id", "left")
        .select(
            "id",
            (F.lit(base) * F.coalesce("_is_src", F.lit(0.0))).alias("rank"),
            F.col("n_src").cast("long").alias("out_deg"),
            F.coalesce("_is_src", F.lit(0.0)).alias("src_w"),
        )
    )
    frontier0 = stats.select("id")
    prog = personalized_pagerank_program(damping=damping, tol=tol)
    return engine.run(prog, v0, frontier0, max_iter=max_iter)


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    engine: GASEngine | None = None,
    resume: bool = False,
    **engine_kwargs,
) -> GASResult:
    """Run PageRank; result.vertices = (id, rank, out_deg).

    ``vertices`` defaults to all ids appearing in ``edges``; pass an
    explicit (id) frame to include isolated vertices (their rank is the
    base 0.15, as in the reference where every allocated vertex holds
    rank even if degree 0).
    """
    if engine is None:
        engine = GASEngine(spark, edges, **engine_kwargs)
    stats = _seed_stats(engine, vertices)
    v0 = stats.select(
        "id",
        F.lit(1.0 - damping).alias("rank"),
        F.col("n_src").cast("long").alias("out_deg"),
    )
    frontier0 = stats.select("id")  # srcVertex() == ALL (PageRank.h:192-195)
    prog = pagerank_program(damping=damping, tol=tol)
    return engine.run(prog, v0, frontier0, max_iter=max_iter, resume=resume)


def weighted_pagerank_program(damping: float = 0.85, tol: float = 1e-6) -> GASProgram:
    """PageRank over edge weights: a vertex distributes its rank to
    out-neighbors proportionally to edge weight instead of uniformly —
    ``rank[v] <- base + damping * sum_{u->v} rank[u] * w(u,v) / wout(u)``
    where ``wout(u) = sum of u's outgoing weights``. Same frontier-exit /
    dedup semantics as :func:`pagerank_program` (PageRank.h:233-283); the
    uniform formulation is the special case w ≡ 1."""
    base = 1.0 - damping

    return GASProgram(
        name="weighted_pagerank",
        mode="pull",
        state_cols=("rank", "wout"),
        message=lambda df: F.col("rank") * F.col("w") / F.col("wout"),
        combiner=F.sum,
        apply=lambda df: {
            "rank": F.when(
                F.col("_in_frontier"),
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("_gathered"), F.lit(0.0)),
            ).otherwise(F.col("rank"))
        },
        changed=lambda df: F.col("_in_frontier")
        & (F.abs(F.col("_new_rank") - F.col("rank")) >= F.lit(tol)),
        has_out_edges=lambda df: F.col("wout") > 0,
    )


def weighted_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    *,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    engine: GASEngine | None = None,
    resume: bool = False,
    **engine_kwargs,
) -> GASResult:
    """Weight-proportional PageRank; result.vertices = (id, rank, wout).

    ``edges`` must carry a double ``w`` column (the repo link graph's
    edge multiplicity / affinity). Zero-total-weight vertices behave like
    dangling vertices (contribute nothing)."""
    if engine is None:
        engine = GASEngine(spark, edges, **engine_kwargs)
    stats = _seed_stats(engine, vertices)
    v0 = stats.select(
        "id",
        F.lit(1.0 - damping).alias("rank"),
        F.col("w_src").cast("double").alias("wout"),
    )
    frontier0 = stats.select("id")
    prog = weighted_pagerank_program(damping=damping, tol=tol)
    return engine.run(prog, v0, frontier0, max_iter=max_iter, resume=resume)

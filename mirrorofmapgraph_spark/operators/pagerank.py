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

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import GASEngine, GASProgram, GASResult, run_program
from .bfs import _mark_sources


def _rank_program(
    damping: float,
    tol: float,
    *,
    personalized: bool = False,
    weighted: bool = False,
) -> GASProgram:
    """The PageRank family's one vertex program (PageRank.h:233-283). The
    variants differ only in:
    - the teleport term: ``base``, or ``base * src_w`` when personalized
      (src_w = 1.0 on sources, 0.0 elsewhere — a state column, so apply
      stays a pure Column expression);
    - the message: ``rank / out_deg``, or ``rank * w / wout`` when
      weighted (wout = sum of the sender's outgoing weights);
    - the sender column (``out_deg`` or ``wout``) and so the state columns.
    The flags also give the program name (its checkpoint directory).
    """
    base = 1.0 - damping
    deg = "wout" if weighted else "out_deg"
    return GASProgram(
        name="weighted_pagerank" if weighted
        else "personalized_pagerank" if personalized else "pagerank",
        mode="pull",
        state_cols=("rank", deg, *(("src_w",) if personalized else ())),
        # gather_edge: nbr_rank / nbr_out_deg (PageRank.h:233-243)
        message=lambda df: (
            F.col("rank") * F.col("w") if weighted else F.col("rank")
        ) / F.col(deg),
        # gather_sum: + (PageRank.h:248-254)
        combiner=F.sum,
        # apply: 0.15 + 0.85 * gathered, frontier vertices only (:257-283)
        apply=lambda df: {
            "rank": F.when(
                F.col("_in_frontier"),
                (F.lit(base) * F.col("src_w") if personalized else F.lit(base))
                + F.lit(damping) * F.coalesce(F.col("_gathered"), F.lit(0.0)),
            ).otherwise(F.col("rank"))
        },
        # leave frontier when |Δ| < tol (:271-277)
        changed=lambda df: F.col("_in_frontier")
        & (F.abs(F.col("_new_rank") - F.col("rank")) >= F.lit(tol)),
        # all-changed regime test = "every vertex WITH out-edges changed"
        # (dangling vertices freeze after step 1 on real link graphs and
        # must not disable the all-receivers fast path)
        has_out_edges=lambda df: F.col(deg) > 0,
    )


def pagerank_program(damping: float = 0.85, tol: float = 1e-6) -> GASProgram:
    return _rank_program(damping, tol)


def _every_vertex(
    init: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame], tuple[DataFrame, DataFrame]]:
    """A PageRank-family start: the state ``init(stats)`` with every vertex
    in the first frontier (srcVertex() == ALL, PageRank.h:192-195)."""
    return lambda stats: (init(stats), stats.select("id"))


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
    return run_program(
        spark, edges, pagerank_program(damping=damping, tol=tol),
        _every_vertex(lambda stats: stats.select(
            "id",
            F.lit(1.0 - damping).alias("rank"),
            F.col("n_src").cast("long").alias("out_deg"),
        )),
        vertices=vertices, engine=engine, max_iter=max_iter, resume=resume,
        **engine_kwargs,
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

    The sources are marked like bfs's (bfs._mark_sources): a DataFrame is
    broadcast-joined, ids become an ``isin`` predicate — no driver-side
    membership test.
    """
    base = 1.0 - damping

    def init(stats: DataFrame) -> DataFrame:
        return _mark_sources(stats, sources).select(
            "id",
            F.when(F.col("_is_src"), F.lit(base)).otherwise(F.lit(0.0)).alias("rank"),
            F.col("n_src").cast("long").alias("out_deg"),
            F.col("_is_src").cast("double").alias("src_w"),
        )

    return run_program(
        spark, edges, _rank_program(damping, tol, personalized=True),
        _every_vertex(init),
        vertices=vertices, engine=engine, max_iter=max_iter, **engine_kwargs,
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
    """Weight-proportional PageRank; result.vertices = (id, rank, wout):
    ``rank[v] <- base + damping * sum_{u->v} rank[u] * w(u,v) / wout(u)``,
    the uniform formulation being the special case w ≡ 1.

    ``edges`` must carry a double ``w`` column (the repo link graph's
    edge multiplicity / affinity). Zero-total-weight vertices behave like
    dangling vertices (contribute nothing)."""
    return run_program(
        spark, edges, _rank_program(damping, tol, weighted=True),
        _every_vertex(lambda stats: stats.select(
            "id",
            F.lit(1.0 - damping).alias("rank"),
            F.col("w_src").cast("double").alias("wout"),
        )),
        vertices=vertices, engine=engine, max_iter=max_iter, resume=resume,
        **engine_kwargs,
    )

"""Level-synchronous BFS (frontier traversal) + predecessor extraction.

Reference: Algorithms/BFS/bfs.h —
- init label = -1, label[src] = 0 (:69-78); single source (:128-131);
- expand: every frontier vertex emits all out-neighbors (:216-227);
- contract: drop already-labeled vertices, else label = depth (:229-255);
- labels are DEPTH from the source (source = 0).

Predecessor extraction is the reference's separate post-pass over in-edges
(Algorithms/BFS/predextract.cuh:246-375): for each visited v pick an
in-neighbor u with label[u] == label[v] - 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.gas import GASEngine, GASProgram, GASResult, run_program
from ..sources.edges import vertex_frame


def bfs_program() -> GASProgram:
    return GASProgram(
        name="bfs",
        mode="push",
        state_cols=("depth",),
        message=lambda df: F.col("depth") + F.lit(1),  # candidate depth
        combiner=F.min,
        # contract/apply: first discovery wins (bfs.h:241-253)
        apply=lambda df: {
            "depth": F.when(
                (F.col("depth") < 0) & F.col("_gathered").isNotNull(), F.col("_gathered")
            ).otherwise(F.col("depth"))
        },
        changed=lambda df: (F.col("depth") < 0) & (F.col("_new_depth") >= 0),
    )


def bfs(
    spark: SparkSession,
    edges: DataFrame,
    source: int | list[int],
    *,
    vertices: DataFrame | None = None,
    max_iter: int = 10_000,
    engine: GASEngine | None = None,
    **engine_kwargs,
) -> GASResult:
    """result.vertices = (id, depth); depth = -1 for unreached (bfs.h:69).

    ``source`` may be a single vertex id (reference semantics,
    bfs.h:128-131), a list or tuple of ids — multi-source BFS: depth = distance
    to the NEAREST source (all sources start at depth 0 in the initial
    frontier; the reference's multi-source harness instead runs 100 random
    single sources sequentially, bfs.cu:340-397 — that harness is
    random_sources() + a loop, exercised in tests/test_graph_algos.py) —
    or a one-column DataFrame of source ids, so a computed source (e.g.
    ``vertices.agg(min(id))``) never forces a driver-side collect inside
    the measured query. Source ids not present in the graph are ignored;
    ids go through ``int()``, so numpy integers work too.
    """

    def start(stats: DataFrame) -> tuple[DataFrame, DataFrame]:
        # depth 0 at the sources, which are the first frontier (bfs.h:69-78)
        marked = _mark_sources(stats, source)
        v0 = marked.select(
            "id",
            F.when(F.col("_is_src"), F.lit(0)).otherwise(F.lit(-1)).cast("long").alias("depth"),
        )
        return v0, marked.filter(F.col("_is_src")).select("id")

    return run_program(
        spark, edges, bfs_program(), start,
        vertices=vertices, engine=engine, max_iter=max_iter, **engine_kwargs,
    )


def _mark_sources(vertices: DataFrame, source) -> DataFrame:
    """``vertices`` plus a boolean ``_is_src``: the source marker of bfs,
    sssp and personalized PageRank. ``source`` is a one-column DataFrame of
    ids (broadcast-joined, no driver action), a list or tuple of ids, or
    one id; ids go through ``int()`` into an ``isin`` predicate."""
    if isinstance(source, DataFrame):
        # dropDuplicates: a repeated source id would fan out the left join
        # and duplicate vertex rows, corrupting the one-row-per-vertex
        # invariant of the initial state/frontier.
        src_df = source.select(
            F.col(source.columns[0]).cast("long").alias("id")
        ).dropDuplicates()
        return vertices.join(
            F.broadcast(src_df.withColumn("_s", F.lit(True))), on="id", how="left"
        ).select(
            *vertices.columns, F.coalesce(F.col("_s"), F.lit(False)).alias("_is_src")
        )
    ids = list(source) if isinstance(source, (list, tuple)) else [source]
    return vertices.withColumn("_is_src", F.col("id").isin([int(i) for i in ids]))


def random_sources(
    edges: DataFrame, n: int, seed: int = 1, *, require_out_edges: bool = True
) -> list[int]:
    """Deterministic pseudo-random non-isolated source picker — the
    analogue of the reference's RANDOMIZED_SOURCE loop (bfs.cu:340-397,
    which retries until the source has outgoing edges). Ranks candidate
    vertices by a seeded hash and takes the first n with out-edges; one
    distributed top-n job, no driver-side retry loop."""
    cand = edges.select(F.col("src").alias("id")).distinct() if require_out_edges \
        else vertex_frame(edges)
    rows = (
        cand.withColumn("_r", F.xxhash64(F.col("id"), F.lit(seed)))
        .orderBy("_r")
        .limit(n)
        .collect()
    )
    return [int(r["id"]) for r in rows]


def pred_extract(result_vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, depth, pred): any in-neighbor one level shallower; source/unreached
    get pred = -1. Mirrors predextract.cuh:246-375 (gather over in-edges)."""
    v = result_vertices.select("id", "depth")
    preds = (
        edges.join(v.withColumnRenamed("id", "dst").withColumnRenamed("depth", "d_dst"), on="dst")
        .join(
            v.select(F.col("id").alias("src"), F.col("depth").alias("d_src")), on="src"
        )
        .filter((F.col("d_dst") > 0) & (F.col("d_src") == F.col("d_dst") - 1))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("pred"))  # deterministic pick (reference picks any)
    )
    return v.join(preds, on="id", how="left").select(
        "id", "depth", F.coalesce(F.col("pred"), F.lit(-1)).alias("pred")
    )

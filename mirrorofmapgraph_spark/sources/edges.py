"""Edge-table construction: canonicalize, dedup, symmetrize, degrees, skew stats.

Mirrors the reference's graph-build semantics:
- undirected inputs are materialized by inserting the reverse edge
  (b40c/graph/builder/market.cuh:131-139) -> ``symmetrize``;
- default edge weight 1.0 when absent (market.cuh:116);
- out-degree derived from CSR offsets via adjacent_difference
  (Algorithms/PageRank/PageRank.h:147-161) -> ``out_degrees`` groupBy;
- degree log-histogram (b40c/graph/csr_graph.cuh:167-207 PrintHistogram).

Scale notes: the edge table is the big table (10^12 rows). Every helper
here is one shuffle or less; degree tables are vertex-sized (much smaller)
and usually broadcast-joinable downstream. Hub skew (reference bitcoin max
degree 4,075,472 — SIGMOD Table 1) is surfaced by ``degree_histogram`` /
``hub_vertices`` so callers can salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonicalize(edges: DataFrame, dedup: bool = True, drop_self_loops: bool = False) -> DataFrame:
    """Normalize an edge DataFrame to (src long, dst long, w double).

    Duplicate (src, dst) pairs keep the minimum weight (deterministic;
    the reference keeps whichever the COO sort leaves — for analytics
    min/first are equivalent on unit weights).
    """
    out = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        (F.col("w") if "w" in edges.columns else F.lit(1.0)).cast("double").alias("w"),
    )
    if drop_self_loops:
        out = out.filter(F.col("src") != F.col("dst"))
    if dedup:
        out = out.groupBy("src", "dst").agg(F.min("w").alias("w"))
    return out


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected semantics: union the reverse edges and dedup — the
    analogue of the reference doubling edges at parse time
    (market.cuh:131-139). One shuffle (the dedup groupBy)."""
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
    )
    return canonicalize(edges.unionByName(rev), dedup=True)


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """Undirected edge set as canonical (src < dst) pairs, deduped —
    HALF the rows of ``symmetrize`` for the same semantics when traversed
    in BOTH directions (GASProgram direction "both"). Each undirected edge
    is ONE row, so the dual-pass traversal delivers exactly one message
    per endpoint per undirected edge — identical neighbor multisets to
    the symmetrized table, at half the persisted bytes and the same
    single build shuffle. Self-loops are dropped (an undirected self-loop
    has no distinct endpoint to message)."""
    canon = edges.filter(F.col("src") != F.col("dst")).select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        (F.col("w") if "w" in edges.columns else F.lit(1.0)).cast("double").alias("w"),
    )
    return canon.groupBy("src", "dst").agg(F.min("w").alias("w"))


def out_degrees(edges: DataFrame) -> DataFrame:
    """DataFrame(id, out_deg). Map-side partial aggregation keeps hub skew
    off the reduce side (each mapper contributes one row per key)."""
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_deg"))


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Log2 out-degree histogram — parity with the reference's
    PrintHistogram (csr_graph.cuh:167-207). Returns (log2_deg, n_vertices)."""
    deg = out_degrees(edges)
    return (
        deg.withColumn("log2_deg", F.ceil(F.log2(F.col("out_deg"))).cast("int"))
        .groupBy("log2_deg")
        .agg(F.count("*").alias("n_vertices"))
        .orderBy("log2_deg")
    )


def hub_vertices(edges: DataFrame, min_degree: int = 100_000) -> DataFrame:
    """Vertices whose in-degree exceeds ``min_degree`` — candidates for
    salted aggregation in the GAS gather (plans/gas.py)."""
    return in_degrees(edges).filter(F.col("in_deg") >= min_degree)


def vertex_frame(edges: DataFrame) -> DataFrame:
    """All distinct vertex ids appearing in the edge table: (id long)."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )

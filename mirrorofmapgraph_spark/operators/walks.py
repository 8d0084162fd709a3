"""Deterministic random-walk sampling over the edge table.

Random walks are the sampling primitive for graph-embedding / GNN
training-data pipelines (DeepWalk/node2vec-style corpus generation) —
the natural "training-data op" on the link graph this engine serves.
Not in the reference (its scope is the four traversal kernels,
SURVEY.md §2.5), but each hop is exactly one GAS-shaped co-partitioned
join, so it rides the same scale machinery.

Determinism without engine RNG: the next-hop choice at step ``t`` of
walk ``i`` standing at vertex ``v`` is

    pick(i, t, v) = (i*1103515245 + t*12345 + v*31) mod P mod deg(v)
    P = 2^31 - 1 (functions/hashing.MERSENNE31)

— plain int64 arithmetic (same portability contract as
functions/hashing.py), so the DuckDB oracle, numpy, and pure Python
reproduce the exact same walks at any parallelism. Walks stop early at
sinks (no out-edges), like a DeepWalk corpus truncating at dead ends.

Scale notes (100 TB): the adjacency is indexed ONCE (row_number + count
windows partitioned by src — no global window; a super-hub's neighbor
list sorts within one partition, acceptable to the same degree-skew
budget as the gather salt) and persisted; each hop is then a single
equi-join of the walk frontier against the indexed adjacency on BOTH
keys ``(src, rn)`` — an O(1) hash probe per walk, the Spark analogue of
the reference's CSR ``row_offsets[v] + pick`` lookup
(b40c/graph/csr_graph.cuh:28-29). The frontier carries its current
vertex's out-degree forward from the previous hop (the indexed
adjacency stores ``next_deg`` = deg(dst)), so ``rn = pick % deg`` is
computed frontier-side and participates in the join hash key; the
alternative — joining on src alone with ``rn == pick % deg`` as a
post-join residual — scans the full Σ deg(frontier) adjacency per hop
(a 4M-degree hub costs 4M rows per walk standing on it). State per
walk is one row; lineage is cut every few hops (plans/gas.cut), and the
cut generations are released once the result is materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import MERSENNE31
from ..plans.gas import cut, release

#: hops between the walk frontier's lineage cuts (plans/gas.cut)
CHECKPOINT_EVERY = 4


def indexed_adjacency(edges: DataFrame) -> DataFrame:
    """Distinct (src, dst) plus rn (0-based rank of dst among src's
    neighbors, dst-ordered) and deg (src's out-degree)."""
    adj = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    by_src = Window.partitionBy("src")
    return adj.select(
        "src",
        "dst",
        (F.row_number().over(by_src.orderBy("dst")) - 1).alias("rn"),
        F.count("*").over(by_src).alias("deg"),
    )


def _pick(walk_id, step: int, cur):
    # walk_id and vertex are reduced mod P first so every product stays
    # below 2^62 (int64-safe for any id range, same discipline as
    # functions/hashing.py)
    return F.pmod(
        F.pmod(walk_id, F.lit(MERSENNE31)) * F.lit(1103515245)
        + F.lit(step * 12345)
        + F.pmod(cur, F.lit(MERSENNE31)) * F.lit(31),
        F.lit(MERSENNE31),
    )


def _hop(cur: DataFrame, adj: DataFrame, t: int) -> DataFrame:
    """One walk hop: compute ``rn = pick % deg`` on the frontier (which
    carries ``deg`` of its current vertex), then equi-join the indexed
    adjacency on BOTH keys (src, rn) — an O(1) hash probe per walk. The
    matched row's ``next_deg`` becomes the new frontier's ``deg``."""
    frontier = cur.select(
        "walk_id",
        F.col("vertex").alias("src"),
        F.pmod(_pick(F.col("walk_id"), t, F.col("vertex")), F.col("deg")).alias("rn"),
    )
    return frontier.join(adj, ["src", "rn"]).select(
        "walk_id",
        F.col("dst").alias("vertex"),
        F.col("next_deg").alias("deg"),
    )


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    starts: DataFrame,
    length: int,
) -> DataFrame:
    """Walk ``length`` hops from each start; returns (walk_id, step,
    vertex) with step 0 = the start vertex. ``starts`` is a (walk_id,
    vertex) frame (one row per walk; walk_id drives the hash choice, so
    two walks from the same vertex diverge). Walks that reach a sink
    simply end (no rows for later steps)."""
    if length < 0:
        raise ValueError("length must be >= 0")
    base = indexed_adjacency(edges)
    degs = base.select("src", "deg").distinct()
    # next_deg = out-degree of dst (null at sinks) so each hop's result
    # already carries the degree the NEXT hop's pick needs — no per-hop
    # degree join, and rn joins as a key instead of a residual filter.
    adj = base.join(
        degs.select(F.col("src").alias("dst"), F.col("deg").alias("next_deg")),
        "dst",
        "left",
    ).persist()
    cuts = []
    try:
        start0 = starts.select(
            F.col("walk_id").cast("long").alias("walk_id"),
            F.col("vertex").cast("long").alias("vertex"),
        )
        # step 0 emits every start (even sinks); only non-sinks keep walking
        outs = [start0.select("walk_id", F.lit(0).alias("step"), "vertex")]
        cur = start0.join(degs.withColumnRenamed("src", "vertex"), "vertex", "inner")
        for t in range(1, length + 1):
            hop = _hop(cur, adj, t)
            if t % CHECKPOINT_EVERY == 0 and t < length:
                hop = cut(hop, eager=True)
                cuts.append(hop)
            cur = hop.filter(F.col("deg").isNotNull())
            outs.append(hop.select("walk_id", F.lit(t).alias("step"), "vertex"))
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        return res.select("walk_id", "step", "vertex").localCheckpoint(eager=True)
    finally:
        # the materialized result no longer reads the hop generations
        for hop in cuts:
            release(hop)
        adj.unpersist()

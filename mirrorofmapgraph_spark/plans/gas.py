"""The GAS superstep engine: Gather-Apply-Scatter as DataFrame dataflow.

Re-expression of the reference's vertex-centric enactor
(GASengine/enactor_vertex_centric.cuh:2400-2908 EnactIterativeSearch) on
Spark. Phase mapping (SURVEY.md §2.2):

- gather  (enactor:1285-1608, merge-path kernel + mgpu::ReduceByKey)
    -> frontier ⋈ edges ⋈ vertex-state equi-joins + groupBy(dst).agg(combiner)
- apply   (enactor:1234-1283)
    -> vertices left-join gathered + column expressions (changed flag)
- expand/contract (enactor:539-1230, 1882-2397, 2787-2864; the four
  dedup culls contract_atomic/cta.cuh:200-344)
    -> filter(changed) ⋈ edges + exact distinct/groupBy — the culls are
       GPU approximations of exact dedup; Spark does it exactly in one
       shuffle.
- convergence readback (4-byte D2H per superstep, enactor:2866-2869)
    -> one driver-side count() per superstep.
- frontier-size threshold switch between two-phase and dynamic kernels
  (enactor:2694-2702, default threshold 10000)
    -> broadcast-join the frontier when small, shuffle-join otherwise
      (plus AQE doing the same from runtime stats).
- ping-pong double buffering (csr_problem.cuh:180-183)
    -> DataFrame immutability; per-superstep localCheckpoint truncates
       lineage (else plans grow exponentially across supersteps).

Two execution modes cover all four reference algorithms:
- "pull": gather over in-edges of the frontier from *all* in-neighbors'
  current state (PageRank: GATHER_IN_EDGES). Next frontier = out-neighbors
  of changed vertices (expand_vertex gating = push-based delta
  computation, enactor:360-389).
- "push": frontier vertices push messages along out-edges; combiner-min
  per dst (BFS/SSSP/CC: expand+contract with atomicMin,
  Algorithms/SSSP/sssp.h:315-402). Next frontier = improved vertices.

Scale design: the edge table is hash-partitioned ONCE per join key (dst
for gather, src for expand — the CSR/CSC dual-index analogue,
csr_problem.cuh:154-158) and persisted, so the big side never re-shuffles
inside the loop; only frontier/message-sized data moves. Combiners
(sum/min/max) get map-side partial aggregation, so a 4M-degree hub
(reference bitcoin, SIGMOD Table 1) contributes at most one partial row
per map task to the reduce side; optional two-level salted aggregation
covers non-partial-friendly combiners and extreme reduce-side skew.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.util import InheritableThread

_RDD_WARN_QUIETED = False


def release_local_checkpoint(spark: SparkSession, df: DataFrame) -> None:
    """Free the executor storage behind a ``localCheckpoint``/``_cut`` frame
    that will never be read again (a superseded loop generation): unpersist
    the underlying checkpointed RDD's blocks. ``DataFrame.unpersist()`` is a
    no-op here — localCheckpoint is not registered with the cache manager —
    so without this, every generation of a long fixpoint loop (GAS
    supersteps, k-core/k-truss peels) accumulates in the block manager.
    Best-effort: a plan-shape change just leaves the blocks to LRU eviction.

    Releasing a locally-checkpointed RDD makes Spark log a WARN that its
    truncated lineage "cannot be recomputed" — intentional here (the state
    is superseded and never read again), so that one logger is quieted to
    ERROR once to keep a 76-superstep run from emitting 76
    scary-but-expected warnings."""
    global _RDD_WARN_QUIETED
    if not _RDD_WARN_QUIETED:
        _RDD_WARN_QUIETED = True
        try:
            jvm = spark._jvm
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                "org.apache.spark.rdd.MapPartitionsRDD",
                jvm.org.apache.logging.log4j.Level.ERROR,
            )
        except Exception:
            pass
    try:
        jplan = df._jdf.queryExecution().analyzed()
        # walk through unary nodes (e.g. the Project from .drop()) to the
        # checkpointed LogicalRDD
        for _ in range(4):
            if jplan.getClass().getName().endswith(".LogicalRDD"):
                jplan.rdd().unpersist(False)
                return
            ch = jplan.children()
            if ch.size() != 1:
                return
            jplan = ch.apply(0)
    except Exception:
        pass


@dataclass
class GASProgram:
    """A vertex program — the analogue of the reference's algorithm struct
    (gather_edge / gather_sum / apply / expand_edge / contract functors,
    e.g. Algorithms/PageRank/PageRank.h, Algorithms/SSSP/sssp.h)."""

    name: str
    #: "pull" (gather over in-edges: PR) or "push" (scatter over out-edges:
    #: BFS/SSSP/CC). Maps the reference's gatherOverEdges/expandOverEdges
    #: policy selectors (GASengine/csr_problem.cuh:68-91).
    mode: str
    #: state columns carried on the vertex frame (besides ``id``).
    state_cols: tuple[str, ...]
    #: per-edge message value. Input frame columns: src, dst, w, plus the
    #: src vertex's state columns. (gather_edge / expand_edge analogue.)
    message: Callable[[DataFrame], Column]
    #: commutative-associative combiner over messages per dst
    #: (gather_sum analogue): e.g. lambda c: F.sum(c) / F.min(c).
    #: May be None when ``aggregate_fn`` (below) is provided instead.
    combiner: Callable[[Column], Column] | None
    #: new-state expressions given vertices ⋈ gathered. Input frame has the
    #: old state cols plus ``_gathered`` (null when no message arrived) and
    #: ``_in_frontier`` (this vertex is in the apply scope this superstep).
    #: Returns {state_col: Column}. (apply functor analogue.)
    apply: Callable[[DataFrame], dict[str, Column]]
    #: changed predicate over old+new state (columns ``<c>`` old and
    #: ``_new_<c>``); drives the next frontier (expand_vertex analogue).
    changed: Callable[[DataFrame], Column]
    #: push mode: optional emit predicate evaluated on the message frame
    #: (expand_edge's conditional emit, sssp.h:342-358).
    message_filter: Callable[[DataFrame], Column] | None = None
    #: pull mode only: which edges a vertex gathers over — "in" (default:
    #: v aggregates its in-neighbors' state, GATHER_IN_EDGES), "out"
    #: (v aggregates its out-neighbors' state, GATHER_OUT_EDGES), or
    #: "all" (both directions of the one table, GATHER_ALL_EDGES — see
    #: GASEngine._oriented; for exact undirected multiset semantics feed
    #: a canonical_undirected table). The reference's gatherOverEdges
    #: policy selector (csr_problem.cuh:68-91).
    gather_dir: str = "in"
    #: pull mode, optional: predicate over the applied frame marking
    #: vertices that HAVE outgoing edges along the gather direction (e.g.
    #: PageRank's out_deg > 0). When set, the all-changed regime test (the
    #: next frontier is provably the constant all-receivers set R, so the
    #: expand + distinct shuffle is skipped) accepts a step when either
    #: - every sender changed (out(changed) ⊇ out(senders) = R), or
    #: - every vertex of K changed, where K = senders that are also
    #:   receivers, provided out(K) == R (a static fact, checked once per
    #:   graph). The step counts changed vertices that satisfy this
    #:   predicate AND received a message — a subset of K — so a count
    #:   >= |K| means K ⊆ changed and out(changed) ⊇ out(K) = R.
    #: Both forms are exact (every frontier ⊆ R). The second one keeps the
    #: fast path on real link graphs whose pure sources (out-edges, no
    #: in-edges) stop changing after step 1; without either, every vertex
    #: would have to change, and dangling vertices never do.
    has_out_edges: Callable[[DataFrame], Column] | None = None
    #: push mode: which edges frontier vertices expand over — "out"
    #: (default), "in" (reversed), or "all" (BOTH directions of the one
    #: edge table; see GASEngine._oriented). The reference's
    #: expandOverEdges policy (csr_problem.cuh:68-91). With "all", each
    #: edge row is traversed in both directions, so reciprocal directed
    #: pairs deliver twice — pass a ``canonical_undirected`` edge table
    #: for exact undirected semantics, or rely on a duplicate-insensitive
    #: combiner (min/max) with raw directed edges.
    expand_dir: str = "out"
    #: whether ``apply``/``changed`` read the ``_in_frontier`` column. Pull
    #: mode derives the marker for free (see GASEngine._apply); push-mode
    #: programs that ignore it (BFS/SSSP/CC key off ``_gathered`` instead)
    #: set this False to skip the per-superstep frontier-marker join.
    uses_in_frontier: bool = True
    #: optional replacement for the combiner-based gather aggregation:
    #: (msgs: DataFrame(src, dst, _msg)) -> DataFrame(dst, _gathered,
    #: _msg_cnt). For gathers that are NOT single-column algebraic
    #: aggregates (e.g. label propagation's per-label count + argmax,
    #: which needs a two-stage groupBy). Both stages should remain
    #: map-side-partial friendly. ``combiner`` is ignored when set.
    aggregate_fn: Callable[[DataFrame], DataFrame] | None = None


@dataclass
class SuperstepMetrics:
    superstep: int
    frontier_size: int
    edges_traversed: int
    changed: int
    wall_ms: float
    #: loop branch the step ran in: "all" (gathered over all vertices or
    #: the constant all-receivers set, no per-step expand unless the test
    #: fails) or "partial" (exact expand + distinct). "" in manifests
    #: written before the field existed.
    regime: str = ""

    def as_dict(self) -> dict:
        return self.__dict__.copy()


@dataclass
class GASResult:
    vertices: DataFrame
    supersteps: int
    metrics: list[SuperstepMetrics] = field(default_factory=list)
    converged: bool = True


class GASEngine:
    """Superstep driver. One instance per (edges, config); run() per program.

    Parameters
    ----------
    broadcast_threshold:
        frontier row count under which the frontier side of joins gets an
        explicit broadcast hint — the analogue of the reference's
        two-phase/dynamic threshold switch (default 10000 there,
        register.h:38-40; ours defaults higher because a Spark broadcast
        comfortably holds millions of 8-byte ids).
    salt_buckets:
        >0 enables two-level salted aggregation in gather for hub-skewed
        dst keys (north-rule skew handling; beyond AQE skew-join, which
        only splits join partitions, not aggregation hot keys).
    checkpoint_every:
        every k supersteps write a durable parquet checkpoint + manifest
        (resume point). 0 disables durable checkpoints; lineage is still
        truncated per superstep via localCheckpoint.
    """

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        *,
        broadcast_threshold: int = 1_000_000,
        salt_buckets: int = 0,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 0,
        collect_metrics: bool = True,
        num_partitions: int | None = None,
        fuse_supersteps: int = 1,
        dual_index: bool = False,
    ) -> None:
        self.spark = spark
        self.broadcast_threshold = broadcast_threshold
        self.salt_buckets = salt_buckets
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every
        self.collect_metrics = collect_metrics
        #: explicit num_partitions pins the loop partitioning; None defers
        #: to _ensure_partitions (edge-count-based auto-sizing).
        self.num_partitions = num_partitions
        #: pull-mode all-changed regime: chain up to this many gather+apply
        #: supersteps into ONE job (see _run_fused_block). 1 disables —
        #: the measured default: each chained superstep references the
        #: previous state subtree twice (gather join + apply join), so the
        #: logical plan doubles per fused step, and in local mode the
        #: planning + stage overhead of the 2^k-node plan exceeds the
        #: per-job fixed cost it amortizes (sf0.1 PageRank: k=3 ran
        #: ~100-109 s vs ~70-87 s sequential; the round-5 k=2 re-measure
        #: after the shuffle-alignment + checkpoint-release fixes was a
        #: wash — min-of-interleaved-reps 46.8 s fused vs 45.2 s
        #: sequential, identical ranks — because the per-step floor is
        #: Catalyst planning (~0.3 s toRdd + ~0.2 s plan build per step,
        #: profiled), which chaining re-plans rather than amortizes). The
        #: option remains for cluster deployments where driver/scheduler
        #: round-trips per job dominate; results are exactly equivalent
        #: either way (validated per-block via observations, tested).
        #: What DID land from that experiment: the partial-frontier job
        #: shape in _run_loop (state+frontier+metrics in ONE job) and the
        #: marker-free pull apply — together -42% jobs per converged run
        #: (584 -> 341 on the 82-step sf0.01 fixture).
        self.fuse_supersteps = fuse_supersteps
        #: "both"-direction traversal: False (default) runs the reverse
        #: pass over the SAME src-partitioned copy (persisted once; the
        #: reverse join rides the frontier broadcast, or shuffles edges on
        #: the rare all-frontier supersteps). True builds a second,
        #: dst-partitioned copy — the reference's CSR+CSC dual device
        #: layout (csr_problem.cuh:154-158), exchange-free both ways at
        #: 2x the persisted bytes.
        self.dual_index = dual_index
        self._edges_raw = edges
        self._edges_by: dict[str, DataFrame] = {}

    def _ensure_partitions(self) -> int:
        """Auto-size the loop's partition count on first use: ~500k edges
        per partition, clamped to [4, spark.sql.shuffle.partitions]. A
        76-superstep loop at 32 partitions on a 0.6M-edge graph spends
        more wall on task scheduling than on data (measured 71.5s -> 55.6s
        at 8 partitions, sf0.1; floor 8 -> 4 re-measured this round as a
        further 13.99 -> 13.17 s interleaved min — the floor only binds
        graphs under 2M edges, where per-step task count IS the wall; at
        cluster scale the size-derived term and the configured
        shuffle-partition ceiling govern). One extra edge-count scan,
        amortized over the whole iterative run; pass ``num_partitions``
        explicitly to skip it."""
        if self.num_partitions is None:
            cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            # Prefer counting an already-persisted copy (columnar cache scan)
            # over re-executing the raw lineage — callers normally reach
            # this through edges_partitioned(), whose bootstrap both
            # materializes and counts in one pass (see there).
            src = (
                next(iter(self._edges_by.values()))
                if self._edges_by
                else self._edges_raw
            )
            m = src.count()
            self.num_partitions = max(4, min(cap, -(-m // 500_000)))
        return self.num_partitions

    # -- lineage + statistics cut (the ping-pong buffer swap) ---------------

    def _cut(self, df: DataFrame, *, eager: bool = True) -> DataFrame:
        """Materialize, truncate lineage, AND reset inherited plan statistics.

        ``localCheckpoint`` alone truncates lineage but copies the optimized
        plan's statistics into the resulting ``LogicalRDD`` (``originStats``).
        Each superstep's plan embeds the previous state several times, and
        Catalyst's ``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` multiplies
        children's ``sizeInBytes``, so the inherited estimate roughly
        *squares* superstep-over-superstep. After ~20 supersteps the estimate
        is a BigInteger with millions of digits and the driver spends minutes
        per superstep inside ``BigInteger.multiplyToomCook3`` — measured
        0.8 s -> 80 s/step by step 21 on a 5-vertex graph (round-1 verdict).

        Fix: rebuild the checkpointed ``LogicalRDD`` via its case-class
        ``copy`` with ``originStats = None``, which resets the estimate to
        ``spark.sql.defaultSizeInBytes`` every superstep while keeping the
        SAME checkpointed RDD, output partitioning, and ordering — zero extra
        jobs, co-partitioned joins stay exchange-free. Falls back to the
        plain checkpoint if the internal plan shape ever changes (correctness
        unaffected, only planning speed).
        """
        ck = df.localCheckpoint(eager=eager)
        try:
            jlr = ck._jdf.queryExecution().analyzed()
            if not jlr.getClass().getName().endswith(".LogicalRDD"):
                return ck
            dflt = lambda i: getattr(jlr, f"copy$default${i}")()  # noqa: E731
            jvm = self.spark._jvm
            none = jvm.scala.Option.empty()
            stripped = jlr.copy(
                dflt(1), dflt(2), dflt(3), dflt(4), dflt(5), dflt(6),
                self.spark._jsparkSession, none, none,
            )
            jds = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                self.spark._jsparkSession, stripped
            )
            out = DataFrame(jds, self.spark)
            # remember the checkpointed JVM RDD so _release_cut is ONE
            # py4j call instead of a per-superstep analyzed-plan walk
            out._momg_ck_rdd = jlr.rdd()  # noqa: SLF001
            return out
        except Exception:
            return ck

    def _release_cut(self, df: DataFrame) -> None:
        rdd = getattr(df, "_momg_ck_rdd", None)
        if rdd is not None:
            global _RDD_WARN_QUIETED
            if not _RDD_WARN_QUIETED:
                release_local_checkpoint(self.spark, df)  # quiets the logger
                return
            try:
                rdd.unpersist(False)
                return
            except Exception:
                pass
        release_local_checkpoint(self.spark, df)

    def _estimate_edge_rows(self) -> int | None:
        """Row-count estimate for the raw edge frame from Catalyst's
        size-only statistics — NO job, just one driver-side analysis of
        the lineage. The size estimate of a parquet scan+project subtree
        is compressed on-disk bytes of the projected columns; dividing by
        2 bytes/row deliberately OVER-estimates rows (edge pairs compress
        to well above 2 bytes), so the derived partition count errs
        toward more partitions — the safe direction at scale, and the
        [4, cap] clamp absorbs it on small graphs. Used only to pick the
        bootstrap partition count in edges_partitioned; the exact count
        from the persisted copy remains the authority."""
        try:
            stats = self._edges_raw._jdf.queryExecution().optimizedPlan().stats()
            b = int(str(stats.sizeInBytes()))
            if b <= 0:
                return None
            return max(1, b // 2)
        except Exception:
            return None

    # -- edge-side pre-partitioning (once, outside the loop) ---------------

    def edges_partitioned(self, key: str) -> DataFrame:
        """Edge table hash-partitioned by ``key`` and persisted, so the big
        side of every superstep join is pre-shuffled (the analogue of the
        reference's one-time CSR/CSC device build, csr_problem.cuh:401-625).

        ``persist`` (SQL columnar cache), NOT ``localCheckpoint``: an A/B
        this round showed the LogicalRDD leaf saves a little Catalyst
        analysis per step but loses the compressed columnar in-memory scan
        (checkpoint blocks are row-serialized) — measured +26% median
        superstep wall at sf0.1 (264 -> 333 ms). The columnar cache wins."""
        if key not in self._edges_by:
            if self.num_partitions is None:
                # Bootstrap: the auto-sizer needs the edge count, but
                # counting the RAW frame re-executes its whole lineage
                # (entry edge tables are scan+distinct subtrees — measured
                # 3.9 s cold at sf0.1) only for the persist materialization
                # to execute it AGAIN. Boot at a NO-JOB Catalyst size
                # estimate of the partition count (divisor 2 bytes/row —
                # deliberately over-partitioning-biased, so a large graph
                # never boots with too few partitions; the [4, cap] clamp
                # absorbs small-graph noise), materialize + count in ONE
                # pass, and align with a cache-to-cache repartition ONLY
                # when the exact count lands on a different clamp value.
                # At the measured SFs the estimate and the count agree on
                # the floor, so the former second materialization
                # (~0.3-0.4 s warm per GAS query) disappears; a mismatch
                # costs exactly the old two-pass bootstrap.
                cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                est = self._estimate_edge_rows()
                p_boot = (
                    cap if est is None
                    else max(4, min(cap, -(-est // 500_000)))
                )
                boot = self._edges_raw.repartition(p_boot, F.col(key)).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                m = boot.count()
                self.num_partitions = max(4, min(cap, -(-m // 500_000)))
                if self.num_partitions == p_boot:
                    self._edges_by[key] = boot
                    return boot
                df = boot.repartition(
                    self.num_partitions, F.col(key)
                ).persist(StorageLevel.MEMORY_AND_DISK)
                df.count()  # materialize from the boot cache before dropping it
                boot.unpersist()
            else:
                # A second copy (dual_index) re-partitions the FIRST
                # persisted copy cache-to-cache — same rows, any
                # partitioning — instead of re-executing the raw lineage
                # (entry edge tables are scan+distinct subtrees).
                src_df = (
                    next(iter(self._edges_by.values()))
                    if self._edges_by
                    else self._edges_raw
                )
                df = src_df.repartition(
                    self._ensure_partitions(), F.col(key)
                ).persist(StorageLevel.MEMORY_AND_DISK)
            self._edges_by[key] = df
        return self._edges_by[key]

    # -- traversal orientation ---------------------------------------------

    @staticmethod
    def _rev(edges: DataFrame) -> DataFrame:
        """Reverse view of an edge frame — a PROJECTION of the same
        persisted data (src/dst swapped), not a second materialization."""
        cols = [F.col("dst").alias("src"), F.col("src").alias("dst")]
        if "w" in edges.columns:
            cols.append(F.col("w"))
        return edges.select(*cols)

    @staticmethod
    def _dir_key(program: GASProgram) -> str:
        """Traversal direction key: messages always flow src -> dst of the
        ORIENTED frames. "fwd" = table orientation, "rev" = reversed,
        "both" = two passes (the reference's CSR+CSC dual traversal,
        enactor_vertex_centric.cuh:574-687 expand, :1288-1487 gather,
        partial aggregates combined by the shared groupBy)."""
        if program.mode == "pull":
            return {"in": "fwd", "out": "rev", "all": "both"}[program.gather_dir]
        return {"out": "fwd", "in": "rev", "all": "both"}[program.expand_dir]

    def _oriented(self, dkey: str) -> list[DataFrame]:
        """Edge frames in traversal orientation for a direction key.

        - "fwd": the src-partitioned copy (CSR analogue);
        - "rev": the dst-partitioned copy reversed (CSC analogue — the
          reversed view is partitioned by its NEW src, so the state join
          stays exchange-free);
        - "both": forward pass + reverse pass. Default: both passes over
          the ONE src-partitioned copy (edge table persisted once — at
          10^12 edges a second copy doubles the biggest table in the
          system); the reverse-pass state join rides the frontier
          broadcast hint, or shuffles edge-sized data on all-frontier
          supersteps. ``dual_index=True`` trades 2x persisted bytes for
          exchange-free joins both ways.
        """
        if dkey == "fwd":
            return [self.edges_partitioned("src")]
        if dkey == "rev":
            return [self._rev(self.edges_partitioned("dst"))]
        if dkey == "both":
            fwd = self.edges_partitioned("src")
            rev = self._rev(self.edges_partitioned("dst") if self.dual_index else fwd)
            return [fwd, rev]
        raise ValueError(f"unknown direction key {dkey!r}")

    def unpersist(self) -> None:
        for df in self._edges_by.values():
            df.unpersist()
        self._edges_by.clear()
        if self._vstats:
            for df in self._vstats.values():
                self._release_cut(df)
        self._vstats = {}
        self._all_recv = {}
        self._all_recv_count = {}
        self._endpoint_counts_cache = {}
        self._relays_cover_cache = {}

    #: constant all-receivers frontiers per aggregation key ("dst" for
    #: GATHER_IN_EDGES, "src" for GATHER_OUT_EDGES), computed once each
    _all_recv: dict = None
    _all_recv_count: dict = None
    #: per-direction endpoint statistics, computed once each (see
    #: vertex_stats)
    _vstats: dict = None

    def vertex_stats(self, dkey: str = "fwd") -> DataFrame:
        """(id, n_src, n_dst[, w_src]) over the oriented frames of ``dkey``,
        materialized once: n_src = rows with this id as src (the
        out-degree of the oriented table), n_dst likewise, w_src = sum of
        outgoing w when the table carries weights.

        ONE aggregation replaces the separate vertex_frame distinct,
        out_degrees groupBy, all-receivers distinct and sender-count
        distinct that setup used to run as independent shuffles over the
        same table (measured ~8 s of pre-loop jobs on the sf0.1 converged
        PageRank). Derived views: vertex set = select(id); receivers =
        filter(n_dst > 0); senders count = filter(n_src > 0).count()."""
        if self._vstats is None:
            self._vstats = {}
        if dkey not in self._vstats:
            frames = self._oriented(dkey)
            has_w = "w" in frames[0].columns
            parts = []
            for fr in frames:
                parts.append(
                    fr.select(
                        F.col("src").alias("id"),
                        F.lit(1).alias("_s"),
                        F.lit(0).alias("_d"),
                        *([F.col("w").alias("_w")] if has_w else []),
                    )
                )
                parts.append(
                    fr.select(
                        F.col("dst").alias("id"),
                        F.lit(0).alias("_s"),
                        F.lit(1).alias("_d"),
                        *([F.lit(0.0).alias("_w")] if has_w else []),
                    )
                )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            aggs = [
                F.sum("_s").cast("long").alias("n_src"),
                F.sum("_d").cast("long").alias("n_dst"),
            ]
            if has_w:
                aggs.append(F.sum("_w").cast("double").alias("w_src"))
            # LAZY cut: the first consumer's action (normally the loop's
            # entry-frontier count, whose lineage reads this frame)
            # materializes the checkpoint as part of its own job — one
            # fewer standalone setup job per GAS run; later consumers
            # (endpoint counts, v0) read the materialized blocks.
            self._vstats[dkey] = self._cut(df.groupBy("id").agg(*aggs), eager=False)
        return self._vstats[dkey]
    #: "all senders changed" regime refinement, set per run() from
    #: program.has_out_edges (see GASProgram)
    _sender_pred = None
    _n_senders: int | None = None
    #: |K| (senders that are also receivers) when out(K) == R holds for
    #: the run's direction, else None — set per run() (see _all_changed)
    _n_relays: int | None = None
    #: (senders, receivers, relays) scalar readbacks per direction key,
    #: ONE job
    _endpoint_counts_cache: dict = None
    #: out(K) == R per direction key, computed once each
    _relays_cover_cache: dict = None

    def _endpoint_counts(self, dkey: str) -> tuple[int, int, int]:
        """(n_senders, n_receivers, n_relays) of the oriented direction —
        one aggregation job over the materialized vertex_stats instead of
        separate filtered counts (each scalar readback is a full job; the
        loop setup pays them serially). Relays are the vertices that both
        send and receive (the set K of _all_changed)."""
        if self._endpoint_counts_cache is None:
            self._endpoint_counts_cache = {}
        if dkey not in self._endpoint_counts_cache:
            r = (
                self.vertex_stats(dkey)
                .agg(
                    F.count_if(F.col("n_src") > 0).alias("s"),
                    F.count_if(F.col("n_dst") > 0).alias("r"),
                    F.count_if(
                        (F.col("n_src") > 0) & (F.col("n_dst") > 0)
                    ).alias("k"),
                )
                .first()
            )
            self._endpoint_counts_cache[dkey] = (
                int(r["s"]), int(r["r"]), int(r["k"])
            )
        return self._endpoint_counts_cache[dkey]

    def _relays_cover(self, dkey: str) -> bool:
        """Whether out(K) == R on the oriented frames of ``dkey``: the
        distinct destinations of the relays' edges are every receiver
        (out(K) ⊆ R always, so comparing counts suffices). A static fact
        about the graph — one join + distinct job per direction key."""
        if self._relays_cover_cache is None:
            self._relays_cover_cache = {}
        if dkey not in self._relays_cover_cache:
            _, n_receivers, n_relays = self._endpoint_counts(dkey)
            relays = self._hint(
                self.vertex_stats(dkey)
                .filter((F.col("n_src") > 0) & (F.col("n_dst") > 0))
                .select(F.col("id").alias("src")),
                n_relays,
            )
            parts = [
                e.join(relays, on="src", how="left_semi").select("dst")
                for e in self._oriented(dkey)
            ]
            out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
            self._relays_cover_cache[dkey] = out.distinct().count() == n_receivers
        return self._relays_cover_cache[dkey]

    def _obs_exprs(self, applied: DataFrame) -> list[Column]:
        """Per-superstep metric aggregates over an applied frame: changed
        count ``ch``, messages ``tr`` and, for the regime test, changed
        senders ``chs`` (when the program declares has_out_edges) and
        changed relays ``chk`` (when out(K) == R; see _all_changed)."""
        exprs = [
            F.sum(F.col("_changed").cast("long")).alias("ch"),
            F.sum("_msg_cnt").alias("tr"),
        ]
        if self._sender_pred is not None:
            changed_sender = F.col("_changed") & self._sender_pred(applied)
            exprs.append(F.sum(changed_sender.cast("long")).alias("chs"))
            if self._n_relays is not None:
                exprs.append(
                    F.sum(
                        (changed_sender & (F.col("_msg_cnt") > 0)).cast("long")
                    ).alias("chk")
                )
        return exprs

    def _observe_applied(self, applied: DataFrame):
        """Attach the per-superstep metric observation (see _obs_exprs)."""
        obs = Observation()
        return applied.observe(obs, *self._obs_exprs(applied)), obs

    def _all_changed(self, row: dict) -> bool:
        """All-changed regime: the next frontier provably equals the
        constant all-receivers set R, so the expand + distinct is skipped.

        With the program's has_out_edges predicate the test is
        ``chs >= n_senders or (covers and chk >= k)``:
        - chs counts changed senders; all of them changing gives
          out(changed) ⊇ out(senders) = R;
        - K = senders that are also receivers, k = |K|, covers = out(K)
          == R. chk counts changed vertices with out-edges that received
          a message this step — a subset of K — so chk >= k means K ⊆
          changed and out(changed) ⊇ out(K) = R.
        Every frontier ⊆ R, so either way the next frontier is exactly R.
        Without the predicate: every vertex changed."""
        if self._n_senders is not None:
            if int(row["chs"] or 0) >= self._n_senders:
                return True
            return self._n_relays is not None and int(row["chk"] or 0) >= self._n_relays
        return int(row["ch"] or 0) >= self._n_vertices

    def _all_receivers(self, dkey: str) -> DataFrame:
        """Constant frontier 'every vertex that can receive a gather
        message' = ids with n_dst > 0 — a cheap filtered view of the one
        materialized vertex_stats aggregation (no extra distinct shuffle).
        Stored once so the regime test's identity check keeps working."""
        if self._all_recv is None:
            self._all_recv, self._all_recv_count = {}, {}
        if dkey not in self._all_recv:
            df = self.vertex_stats(dkey).filter(F.col("n_dst") > 0).select("id")
            self._all_recv[dkey] = df
            self._all_recv_count[dkey] = self._endpoint_counts(dkey)[1]
        return self._all_recv[dkey]

    # -- checkpoint/resume -------------------------------------------------

    def _manifest_path(self, program_name: str) -> str:
        return os.path.join(self.checkpoint_dir, program_name, "manifest.json")

    def write_checkpoint(
        self,
        program_name: str,
        superstep: int,
        vertices: DataFrame,
        frontier: DataFrame,
        metrics: list[SuperstepMetrics],
    ) -> str:
        """Durable parquet checkpoint + JSON manifest with per-partition
        lineage (row counts per partition) — the north rule's resume point."""
        base = os.path.join(self.checkpoint_dir, program_name, f"step={superstep}")
        vpath = os.path.join(base, "vertices")
        fpath = os.path.join(base, "frontier")
        vertices.write.mode("overwrite").parquet(vpath)
        frontier.write.mode("overwrite").parquet(fpath)
        partition_lineage = [
            {"pid": r["pid"], "rows": r["rows"]}
            for r in self.spark.read.parquet(vpath)
            .groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"))
            .collect()
        ]
        manifest = {
            "program": program_name,
            "superstep": superstep,
            "vertices_path": vpath,
            "frontier_path": fpath,
            "partition_lineage": partition_lineage,
            "metrics": [m.as_dict() for m in metrics],
        }
        mpath = self._manifest_path(program_name)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)  # atomic publish
        return mpath

    def load_checkpoint(
        self, program_name: str
    ) -> tuple[int, DataFrame, DataFrame, list[dict]] | None:
        """Returns (superstep, vertices, frontier, metrics) or None."""
        if not self.checkpoint_dir:
            return None
        mpath = self._manifest_path(program_name)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            m = json.load(f)
        vertices = self.spark.read.parquet(m["vertices_path"])
        frontier = self.spark.read.parquet(m["frontier_path"])
        return m["superstep"], vertices, frontier, m["metrics"]

    # -- the superstep loop ------------------------------------------------

    def run(
        self,
        program: GASProgram,
        vertices: DataFrame,
        frontier: DataFrame,
        *,
        max_iter: int = 100,
        resume: bool = False,
    ) -> GASResult:
        """Iterate supersteps until the frontier drains or ``max_iter``.

        ``vertices``: (id, *program.state_cols); ``frontier``: (id).
        INVARIANT (pull mode): ``vertices`` must cover every edge endpoint
        of the gather direction — the marker-free apply equates frontier
        membership with message receipt, which holds for engine-derived
        frontiers over a covering vertex set; a caller-supplied vertices
        frame that omits some edge sources changes apply semantics.

        Shuffle budget per superstep (the 100TB design contract):
        - edges are hash-partitioned by ``src`` ONCE before the loop;
        - vertex state is hash-partitioned by ``id`` (this survives the
          gather ``groupBy(dst)`` because dst becomes the new id, and
          localCheckpoint preserves output partitioning);
        - so edges⋈vertices (src==id) and vertices⋈gathered (id==dst) are
          co-partitioned, no exchange. The only repeating shuffles are the
          gather aggregation (with map-side partial combine) and, in pull
          mode, the expand distinct — 1-2 edge-sized shuffles per
          superstep instead of 6.
        """
        start_step = 0
        metrics: list[SuperstepMetrics] = []
        if resume and self.checkpoint_dir:
            ck = self.load_checkpoint(program.name)
            if ck is not None:
                start_step, vertices, frontier, old_metrics = ck
                metrics = [SuperstepMetrics(**m) for m in old_metrics]

        superstep_fn = (
            self._superstep_pull if program.mode == "pull" else self._superstep_push
        )
        # Pre-partition the big side once, before entering the loop (both
        # copies only when the direction needs them AND dual_index opts in).
        self._oriented(self._dir_key(program))

        # Loop-scoped physical tuning, restored afterwards:
        # - AQE off inside the superstep loop: every superstep is a fresh
        #   plan, so AQE's per-stage re-planning is pure serial driver cost
        #   here (measured ~3x superstep latency at 24M edges), its
        #   partition coalescing would break the loop's co-partitioning
        #   contract, and its skew-join splitting targets shuffle joins the
        #   loop design avoids — in-loop skew is handled by map-side
        #   partial combining + explicit salting (salt_buckets). One-shot
        #   queries outside the loop keep AQE.
        # - shuffled-hash over sort-merge joins: the vertex-state build side
        #   is small per partition, and SMJ would re-sort edge-sized data
        #   every superstep.
        loop_confs = {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.join.preferSortMergeJoin": "false",
            # Align in-loop exchanges (gather groupBy, any residual join
            # shuffle) with the loop's partition count. Without this, new
            # exchanges default to the session's shuffle.partitions (e.g. 32)
            # while edges/state are hash-partitioned at num_partitions (e.g.
            # 8) — EnsureRequirements then re-shuffles the mismatched side
            # EVERY superstep and every stage schedules 4x the tasks the
            # data needs. Session value restored after the loop.
            "spark.sql.shuffle.partitions": str(self._ensure_partitions()),
            # Constraint propagation is pure per-step planning cost here
            # (SPARK-19846: quadratic in plan width, recomputed every
            # superstep because every superstep is a fresh plan); the loop
            # joins are equi-joins on non-null synthetic keys, so the
            # derived IsNotNull/filter constraints never prune anything.
            "spark.sql.constraintPropagation.enabled": "false",
        }
        prev = {k: self.spark.conf.get(k, None) for k in loop_confs}
        for k, v in loop_confs.items():
            self.spark.conf.set(k, v)
        try:
            return self._run_loop(
                program, vertices, frontier, superstep_fn, metrics,
                start_step=start_step, max_iter=max_iter,
            )
        finally:
            for k, v in prev.items():
                if v is not None:
                    self.spark.conf.set(k, v)

    def _run_loop(
        self,
        program: GASProgram,
        vertices: DataFrame,
        frontier: DataFrame,
        superstep_fn,
        metrics: list[SuperstepMetrics],
        *,
        start_step: int,
        max_iter: int,
    ) -> GASResult:
        # LAZY entry cuts: the two scalar readbacks right below double as
        # the materializing actions, so entry state+frontier cost two jobs
        # instead of four (eager checkpoint + separate count each).
        vertices = self._cut(
            vertices.repartition(self._ensure_partitions(), F.col("id")),
            eager=False,
        )
        frontier = self._cut(frontier, eager=False)
        frontier_size = frontier.count()
        self._n_vertices = vertices.count()
        # "all senders changed" refinement of the all-changed regime test
        # (see GASProgram.has_out_edges): count the distinct gather-side
        # senders once per run (cheap: the edge copy is already partitioned
        # by that key)
        self._sender_pred = (
            program.has_out_edges if program.mode == "pull" else None
        )
        self._n_senders = self._n_relays = None
        if self._sender_pred is not None:
            dkey = self._dir_key(program)
            n_senders, _, n_relays = self._endpoint_counts(dkey)
            self._n_senders = n_senders
            # pure sources exist (k < n_senders), so "every sender changed"
            # may never hold; the relay form needs out(K) == R, checked
            # once per graph and direction
            if 0 < n_relays < n_senders and self._relays_cover(dkey):
                self._n_relays = n_relays

        step = start_step
        stale: list[DataFrame] = []  # persisted frames to release (t-2)
        # superseded per-step state checkpoints to release (only frames the
        # loop itself cut — the caller's input is upstream of the entry cut
        # and never touched): without this, every superstep's eager
        # localCheckpoint accumulates in the block manager for the whole
        # run — measured as a per-step wall creep from ~0.7 s to ~2-3 s by
        # step 70 of a 76-superstep converged PageRank.
        prev_state: DataFrame | None = vertices
        # Optional superstep fusion (pull mode, all-changed regime): once a
        # sequential superstep reports all senders changed, chain the next
        # k gather+apply supersteps into ONE job to amortize per-job fixed
        # cost. Exactness: per-step Observations ride the single
        # materialization; a block commits only while every internal step
        # stayed all-changed (identical frontier semantics), otherwise it
        # is discarded and the steps replay sequentially from the
        # committed state. OFF by default — see the fuse_supersteps
        # constructor note for the measured local-mode tradeoff.
        fuse_on = self.fuse_supersteps > 1 and program.mode == "pull"
        # regime predictor for the job shape below (correctness does not
        # depend on it — both shapes are exact): a full entry frontier
        # suggests an all-vertex program whose first steps stay all-changed
        prev_changed_all = (
            program.mode == "pull" and frontier_size >= self._n_vertices
        )
        # Speculative next-superstep PACK (plan -> lazy cut -> observe),
        # fully prebuilt by both regime branches below while the current
        # step materializes on a background thread. Consumed at the loop
        # top iff the building branch confirmed — from the actual
        # observation / frontier count — that sequential execution would
        # have built the identical plan; discarded unexecuted otherwise.
        # Prebuilding the cut+observe too hides the per-step Catalyst
        # planning and localCheckpoint RDD creation behind executor work,
        # not just the py4j DataFrame construction.
        # The all-changed branch prebuilds the FULL pack (execution there
        # is long enough to hide the extra Catalyst/localCheckpoint driver
        # work); the partial branch prebuilds only the plain plan — its
        # materializing job is short (small tail frontiers), and an A/B
        # showed pack-building in that window LENGTHENS cheap steps
        # (cc_converged 1.46 -> 1.68 s) while the plain spec does not.
        spec_pack: tuple | None = None
        spec_plan: DataFrame | None = None

        def _cut_observe(a: DataFrame):
            a = self._cut(a, eager=False)
            a_obs, o = self._observe_applied(a)
            return a, a_obs, o

        while frontier_size > 0 and step < max_iter:
            if fuse_on and prev_changed_all and max_iter - step >= 2:
                spec_pack = None  # fused blocks build their own chain
                spec_plan = None
                k = min(self.fuse_supersteps, max_iter - step)
                block = self._run_fused_block(
                    program, vertices, frontier, frontier_size, k, metrics, step
                )
                if block is None:
                    # left the all-changed regime mid-block: replay
                    # sequentially from the committed state; the regime
                    # never re-enters once convergence begins to localize
                    fuse_on = False
                else:
                    vertices, frontier, frontier_size, done, still_all = block
                    step += done
                    prev_changed_all = still_all
                    fuse_on = fuse_on and still_all
                    # fused-path frontiers join the same stale-release
                    # rotation as sequential ones (unpersist is a no-op on
                    # the shared all-receivers frame, which is
                    # localCheckpointed, not cache-managed)
                    while len(stale) > 1:
                        stale.pop(0).unpersist()
                    stale.append(frontier)
                    if prev_state is not None:
                        self._release_cut(prev_state)
                    prev_state = vertices
                    if (
                        self.checkpoint_dir
                        and self.checkpoint_every
                        and (step // self.checkpoint_every)
                        > ((step - done) // self.checkpoint_every)
                    ):
                        self.write_checkpoint(
                            program.name, step, vertices, frontier, metrics
                        )
                    continue
            t0 = time.monotonic()
            if spec_pack is not None:
                applied, applied_obs, obs = spec_pack  # prebuilt last step
                spec_pack = None
            else:
                if spec_plan is not None:
                    a, spec_plan = spec_plan, None  # prebuilt plan only
                else:
                    a = superstep_fn(program, vertices, frontier, frontier_size)
                applied, applied_obs, obs = _cut_observe(a)
            # Ping-pong buffer swap + lineage cut (the reference's
            # reset_gather/double-buffer analogue, csr_problem.cuh:180-183).
            # The superstep plan embeds the previous state/frontier several
            # times each, so WITHOUT a hard truncation the logical plan
            # grows exponentially across supersteps (measured: 4 supersteps
            # -> 60s of pure planning). The checkpoint is LAZY in both
            # regimes: a background thread runs the ONE materializing job
            # while the DRIVER builds the next superstep's pack
            # (plan -> lazy cut -> observe) speculatively — per-step plan
            # construction is ~85-110 ms of pure py4j/Catalyst work
            # (21% of a converged sf0.1 PageRank wall, measured this
            # round) that was previously SERIAL with the ~110-200 ms
            # execution. Exactness is untouched: the pack is consumed only
            # when the actual observation / frontier count confirms
            # sequential execution would have built the identical plan,
            # else it is discarded unexecuted. Two job shapes by regime:
            vertices = applied.drop("_changed", "_msg_cnt")
            mat_err: list[BaseException] = []
            regime = (
                "all" if program.mode == "pull" and prev_changed_all else "partial"
            )
            if regime == "all":
                # ALL-CHANGED regime: the metrics ride the checkpoint
                # materialization (one count job over the observed
                # checkpoint scan — the same observation trigger the
                # partial branch has always used; zero extra jobs), the
                # expand shuffle is skipped entirely (next frontier = the
                # constant all-receivers set), and the speculative pack
                # assumes the regime holds — the condition the consumer
                # checks below.
                def _materialize(df=applied_obs, err=mat_err):
                    try:
                        df.count()
                    except BaseException as e:  # re-raised after join
                        err.append(e)

                mat = InheritableThread(target=_materialize, daemon=True)
                mat.start()
                # join in a finally: a raising speculative build must not
                # leave the materializing job running behind the caller
                try:
                    dkey = self._dir_key(program)
                    all_recv = self._all_receivers(dkey)
                    cand = None
                    if step + 1 < max_iter:
                        cand = _cut_observe(
                            superstep_fn(
                                program, vertices, all_recv,
                                self._all_recv_count[dkey],
                            )
                        )
                finally:
                    mat.join()
                if mat_err:
                    raise mat_err[0]
                row = self._read_observation(obs, applied)
                if self._all_changed(row):
                    frontier = all_recv
                    frontier_size = self._all_recv_count[dkey]
                    spec_pack = cand
                else:
                    frontier = self._next_frontier(
                        program, applied, frontier_size
                    ).persist(StorageLevel.MEMORY_AND_DISK)
                    frontier_size = frontier.count()  # convergence readback
            else:
                # PARTIAL-FRONTIER regime (push programs, converging tails,
                # graphs with never-changing sink senders): the observation
                # rides the frontier query over the checkpoint scan, so ONE
                # job materializes the new state, the exact next frontier,
                # AND the metrics (the frontier plan reads every applied
                # row anyway for the _changed filter) — halves the
                # per-superstep job count where the all-changed fast path
                # can't engage. The speculative pack is built with the
                # PRE-step size as the estimate: the plan depends on the
                # still-unknown next frontier size only through two
                # discrete predicates (all-frontier? broadcast-size?), so
                # it is consumed iff those predicates agree with the actual
                # count (a threshold-crossing step rebuilds sequentially).
                frontier = self._next_frontier(
                    program, applied_obs, frontier_size
                ).persist(StorageLevel.MEMORY_AND_DISK)
                est_fs = frontier_size
                cnt_out: list[int] = []

                def _count_frontier(df=frontier, out=cnt_out, err=mat_err):
                    try:
                        out.append(df.count())
                    except BaseException as e:  # re-raised after join
                        err.append(e)

                mat = InheritableThread(target=_count_frontier, daemon=True)
                mat.start()
                try:
                    cand = None
                    if step + 1 < max_iter:
                        cand = superstep_fn(program, vertices, frontier, est_fs)
                finally:
                    mat.join()
                if mat_err:
                    raise mat_err[0]
                frontier_size = cnt_out[0]  # one job: state+frontier
                row = self._read_observation(obs, applied)
                if cand is not None and self._plan_preds(
                    est_fs
                ) == self._plan_preds(frontier_size):
                    spec_plan = cand
            changed_n = int(row["ch"] or 0)
            traversed = int(row["tr"] or 0)
            prev_changed_all = self._all_changed(row)
            step += 1
            wall_ms = (time.monotonic() - t0) * 1000.0
            metrics.append(
                SuperstepMetrics(
                    step, frontier_size, traversed, changed_n, wall_ms, regime
                )
            )
            if os.environ.get("MOMG_GAS_DEBUG"):
                print(
                    f"[gas:{program.name}] step={step} regime={regime} "
                    f"frontier={frontier_size} traversed={traversed} "
                    f"changed={changed_n} ms={wall_ms:.0f}",
                    flush=True,
                )
            # release frontier frames two generations back
            while len(stale) > 1:
                stale.pop(0).unpersist()
            stale.append(frontier)
            # the pre-superstep state is now superseded (the new state and
            # frontier are materialized above); free its checkpoint blocks
            if prev_state is not None:
                self._release_cut(prev_state)
            prev_state = applied
            if (
                self.checkpoint_dir
                and self.checkpoint_every
                and step % self.checkpoint_every == 0
            ):
                self.write_checkpoint(program.name, step, vertices, frontier, metrics)

        if self.checkpoint_dir and self.checkpoint_every:
            self.write_checkpoint(program.name, step, vertices, frontier, metrics)
        return GASResult(
            vertices=vertices,
            supersteps=step - start_step,
            metrics=metrics,
            converged=frontier_size == 0,
        )

    def _run_fused_block(
        self,
        program: GASProgram,
        vertices: DataFrame,
        frontier: DataFrame,
        frontier_size: int,
        k: int,
        metrics: list[SuperstepMetrics],
        step0: int,
    ) -> tuple[DataFrame, DataFrame, int, int, bool] | None:
        """Run k pull-mode supersteps as ONE chained plan + materialization.

        Valid only while the all-changed regime holds: step i+1's frontier
        is assumed to be the constant all-receivers set, which sequential
        execution would use iff step i reported changed == |V|. Per-step
        Observations ride the single materialization and are checked after
        the fact:
        - every step all-changed -> commit all k (next frontier =
          all-receivers, fusion continues);
        - only the LAST step partial -> the state is still exact (a step's
          own changed count only affects the frontier AFTER it), so commit
          all k and compute the next frontier from the final _changed
          flags (fusion stops);
        - an EARLIER step partial -> the block diverged; discard it and
          let the caller replay sequentially from the committed state (at
          most one discarded block per run, bounded waste).

        Returns (vertices, frontier, frontier_size, steps_done,
        still_all_changed) or None when discarded.
        """
        t0 = time.monotonic()
        dkey = self._dir_key(program)
        all_recv = self._all_receivers(dkey)
        all_recv_n = self._all_recv_count[dkey]
        cur, f, fs = vertices, frontier, frontier_size
        observations: list[Observation] = []
        for i in range(k):
            applied = self._superstep_pull(program, cur, f, fs)
            applied, obs = self._observe_applied(applied)
            observations.append(obs)
            cur = applied if i == k - 1 else applied.drop("_changed", "_msg_cnt")
            f, fs = all_recv, all_recv_n
        final = self._cut(cur)
        rows = [self._read_observation(o, None) for o in observations]
        if any(r is None for r in rows):
            # metrics did not surface; replay sequentially — free the
            # discarded block's eager checkpoint first
            self._release_cut(final)
            return None
        changed = [int(r["ch"] or 0) for r in rows]
        changed_all = [self._all_changed(r) for r in rows]
        if not all(changed_all[:-1]):
            self._release_cut(final)
            return None  # diverged mid-block
        wall_ms = (time.monotonic() - t0) * 1000.0
        new_vertices = final.drop("_changed", "_msg_cnt")
        last_all = changed_all[-1]
        if last_all:
            next_frontier, next_size = all_recv, all_recv_n
        else:
            next_frontier = self._next_frontier(program, final, all_recv_n).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            next_size = next_frontier.count()
        for i in range(k):
            fsz = (all_recv_n if last_all else next_size) if i == k - 1 else all_recv_n
            metrics.append(
                SuperstepMetrics(
                    step0 + i + 1, fsz, int(rows[i]["tr"] or 0), changed[i],
                    wall_ms / k, "all",
                )
            )
        if os.environ.get("MOMG_GAS_DEBUG"):
            print(
                f"[gas:{program.name}] fused block steps={step0 + 1}..{step0 + k} "
                f"regime=all changed={changed} ms={wall_ms:.0f}",
                flush=True,
            )
        return new_vertices, next_frontier, next_size, k, last_all

    def _read_observation(
        self, obs: Observation, applied_ck: DataFrame | None
    ) -> dict | None:
        """Read the per-superstep metrics with a bounded wait.

        The observation has normally fired by the time the materializing
        job returns, so the completed-future check below passes at once
        and ``obs.get`` returns without blocking; about one step in eight
        waits a few ms more for the asynchronous listener bus (measured
        on the pinned Spark 4.1.2). ``obs.get`` itself blocks with no
        timeout — if a future Spark stopped surfacing the job to
        listeners, every superstep would hang silently. Defensive
        contract: wait on the JVM future for up to 30 s on this thread,
        then fall back to one explicit aggregate over the
        already-checkpointed frame (cheap: the RDD is materialized; same
        values)."""
        fut = obs._jo.future()  # noqa: SLF001
        if not fut.isCompleted():
            jvm = self.spark._jvm
            try:
                jvm.scala.concurrent.Await.ready(
                    fut, jvm.scala.concurrent.duration.Duration.apply(30, "s")
                )
            except Py4JJavaError:  # TimeoutException: it never fired
                pass
        if fut.isCompleted():
            return obs.get
        if applied_ck is None:
            return None  # fused-block caller treats missing metrics as invalid
        return applied_ck.agg(*self._obs_exprs(applied_ck)).collect()[0].asDict()

    # frontier-side hint: broadcast small frontiers (reference two-phase /
    # dynamic strategy switch, enactor_vertex_centric.cuh:2694-2702).
    def _hint(self, frontier: DataFrame, frontier_size: int) -> DataFrame:
        if frontier_size <= self.broadcast_threshold:
            return F.broadcast(frontier)
        return frontier

    def _plan_preds(self, frontier_size: int) -> tuple[bool, bool]:
        """The ONLY two facts a superstep/apply plan reads from the
        frontier size: all-frontier? and broadcast-eligible? Two sizes
        with equal predicates produce byte-identical plans — the
        validity test for the speculative builds in _run_loop."""
        return (
            frontier_size >= self._n_vertices,
            frontier_size <= self.broadcast_threshold,
        )

    def _aggregate(self, msgs: DataFrame, program: GASProgram) -> DataFrame:
        """Gather aggregation: (src, dst, _msg) -> (dst, _gathered,
        _msg_cnt). Default: groupBy(dst).agg(combiner) with optional
        two-level salting; programs with a non-algebraic gather supply
        ``aggregate_fn`` instead."""
        # The output is keyed ``id`` (aliased in the grouping itself), so
        # _apply joins it to the vertex state without a rename op — every
        # saved DataFrame op is one less py4j round trip + subtree
        # re-analysis per superstep (see the _apply note).
        if program.aggregate_fn is not None:
            return program.aggregate_fn(msgs).withColumnRenamed("dst", "id")
        val = F.col("_msg")
        if self.salt_buckets > 1:
            partial = (
                msgs.withColumn(
                    "_salt", F.pmod(F.xxhash64("src"), F.lit(self.salt_buckets))
                )
                .groupBy("dst", "_salt")
                .agg(program.combiner(val).alias("_msg"), F.count("*").alias("_cnt"))
            )
            return partial.groupBy(F.col("dst").alias("id")).agg(
                program.combiner(F.col("_msg")).alias("_gathered"),
                F.sum("_cnt").alias("_msg_cnt"),
            )
        return msgs.groupBy(F.col("dst").alias("id")).agg(
            program.combiner(val).alias("_gathered"),
            F.count("*").alias("_msg_cnt"),
        )

    def _apply(
        self,
        program: GASProgram,
        vertices: DataFrame,
        gathered: DataFrame,
        frontier: DataFrame,
        frontier_size: int,
    ) -> DataFrame:
        """Join gathered values onto vertex state, mark frontier membership,
        and evaluate apply/changed. Returns (id, *state, _msg_cnt, _changed).

        vertices are id-partitioned and gathered is dst-partitioned by
        the same hash — the join is co-partitioned (no exchange). The
        frontier marker join is skipped entirely when frontier == ALL
        (srcVertex ALL programs spend most supersteps there)."""
        joined = vertices.join(gathered, on="id", how="left")
        if frontier_size >= self._n_vertices:
            joined = joined.withColumn("_in_frontier", F.lit(True))
        elif program.mode == "pull":
            # Partial pull regimes gather ONLY the frontier's receivers
            # (the gather is frontier-pruned in regimes 1-2; in the
            # all-receivers regime the frontier IS the receiver set), and
            # every frontier member receives >= 1 message — it is the dst
            # of an oriented edge by construction, and gather runs over ALL
            # its in-neighbors. So membership == message receipt EXACTLY,
            # and the frontier-marker join (one broadcast job per
            # superstep) is replaced by a null test on the gather output.
            joined = joined.withColumn("_in_frontier", F.col("_msg_cnt").isNotNull())
        elif program.uses_in_frontier:
            joined = joined.join(
                self._hint(frontier.withColumn("_f", F.lit(True)), frontier_size),
                on="id",
                how="left",
            ).withColumn("_in_frontier", F.coalesce(F.col("_f"), F.lit(False)))
        else:
            # push program that never reads the marker (declared via
            # uses_in_frontier=False): skip the join entirely
            joined = joined.withColumn("_in_frontier", F.lit(False))
        # ONE withColumns + ONE select, and no .columns readbacks: every
        # DataFrame op here re-analyzes the whole superstep subtree via a
        # py4j round trip, and this method runs once per superstep — the
        # old per-column withColumn chain measured ~120 ms/step of pure
        # driver-side plan construction (on par with executing the step).
        new_cols = program.apply(joined)
        joined = joined.withColumns(
            {f"_new_{c}": expr for c, expr in new_cols.items()}
        )
        # _changed folds into the projection (its expression only reads
        # columns that already exist after the _new_* op) — one select
        # instead of withColumn + select.
        keep = [F.col("id")]
        for c in program.state_cols:
            keep.append(F.col(f"_new_{c}").alias(c) if c in new_cols else F.col(c))
        keep.append(F.coalesce(F.col("_msg_cnt"), F.lit(0)).alias("_msg_cnt"))
        keep.append(
            F.coalesce(program.changed(joined), F.lit(False)).alias("_changed")
        )
        return joined.select(*keep)

    def _superstep_pull(
        self,
        program: GASProgram,
        vertices: DataFrame,
        frontier: DataFrame,
        frontier_size: int,
    ) -> DataFrame:
        # Oriented frames: messages always flow src -> dst (gather_dir
        # "in" = forward table, "out" = reversed view, "all" = both
        # passes over one table, partial aggregates combined by the shared
        # groupBy — the reference gathers CSC then CSR and combines with
        # thrust::transform, enactor:1288-1487).
        dkey = self._dir_key(program)
        frames = self._oriented(dkey)
        # GATHER with a three-regime join order — the Spark analogue of the
        # reference's two-phase/dynamic switch (enactor:2694-2702):
        # 1. small frontier: prune edges by a BROADCAST of the frontier
        #    first (touches only the frontier's gathered edges), then fetch
        #    neighbor state;
        # 2. large-but-partial frontier: edges⋈vertices co-partitioned on
        #    src==id (no exchange), then shuffle-filter by the frontier;
        # 3. frontier == ALL (or the constant all-receivers set, which
        #    every message receiver is in by construction): skip the filter
        #    — apply's _in_frontier gate discards the rest, exact same
        #    result for less work.
        is_all = frontier_size >= self._n_vertices or (
            self._all_recv is not None and frontier is self._all_recv.get(dkey)
        )
        parts = []
        for edges in frames:
            if not is_all and frontier_size <= self.broadcast_threshold:
                touched = edges.join(
                    F.broadcast(frontier.withColumnRenamed("id", "dst")),
                    on="dst",
                    how="inner",
                )
                # no .drop("id"): the parts select below projects only
                # (src, dst, _msg), and every DataFrame op re-analyzes the
                # whole superstep subtree driver-side (see _apply note)
                m = touched.join(
                    vertices, touched["src"] == vertices["id"], "inner"
                )
            else:
                m = edges.join(
                    vertices, edges["src"] == vertices["id"], "inner"
                )
                if not is_all:
                    m = m.join(
                        frontier.withColumnRenamed("id", "dst"), on="dst", how="inner"
                    )
            parts.append(
                m.select("src", "dst", program.message(m).alias("_msg"))
            )
        msgs = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        gathered = self._aggregate(msgs, program)

        # APPLY over the frontier only (APPLY_FRONTIER policy).
        return self._apply(program, vertices, gathered, frontier, frontier_size)

    def _superstep_push(
        self,
        program: GASProgram,
        vertices: DataFrame,
        frontier: DataFrame,
        frontier_size: int,
    ) -> DataFrame:
        # EXPAND: frontier vertices push along their edges in the
        # program's expand direction (expand_edge, sssp.h:315-358); state
        # travels with the frontier. The frontier-state frame is built
        # once and joined into each oriented pass (broadcast when small).
        frames = self._oriented(self._dir_key(program))
        frontier_state = self._hint(
            vertices.join(frontier, on="id", how="inner"), frontier_size
        ).withColumnRenamed("id", "src")
        parts = []
        for edges in frames:
            m = edges.join(frontier_state, on="src", how="inner")
            if program.message_filter is not None:
                m = m.filter(program.message_filter(m))
            parts.append(
                m.select("src", "dst", program.message(m).alias("_msg"))
            )
        msgs = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

        # CONTRACT: exact combiner-per-dst replaces the atomic-min culls
        # (contract_atomic/cta.cuh:200-344).
        gathered = self._aggregate(msgs, program)
        return self._apply(program, vertices, gathered, frontier, frontier_size)

    def _next_frontier(
        self, program: GASProgram, applied: DataFrame, frontier_size: int
    ) -> DataFrame:
        """SCATTER from the *materialized* applied state (so the expand
        join never recomputes the superstep)."""
        if program.mode == "pull":
            # next frontier = vertices whose gather input changed, i.e. the
            # receivers adjacent to changed neighbor-state vertices; exact
            # dedup (the contract culls done exactly: one distinct shuffle).
            frames = self._oriented(self._dir_key(program))
            changed_src = applied.filter(F.col("_changed")).select(
                F.col("id").alias("src")
            )
            hinted = self._hint(changed_src, frontier_size)
            parts = [
                e.join(hinted, on="src", how="inner").select(F.col("dst").alias("id"))
                for e in frames
            ]
            out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
            return out.distinct()
        return applied.filter(F.col("_changed")).select("id")

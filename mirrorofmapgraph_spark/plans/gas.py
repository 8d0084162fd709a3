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
import logging
import os
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.util import InheritableThread

_RDD_WARN_QUIETED = False

#: seconds GASEngine._read_observation waits for a superstep's observation
#: before it aggregates the applied frame itself
OBSERVATION_WAIT_S = 30

#: one DEBUG record per superstep; its ``gas_step`` attribute holds the
#: program name and the step's SuperstepMetrics fields
log = logging.getLogger(__name__)


def cut(df: DataFrame, *, eager: bool) -> DataFrame:
    """Materialize, truncate lineage, AND reset inherited plan statistics:
    the buffer swap of every loop whose next generation joins its last.

    ``localCheckpoint`` alone truncates lineage but copies the optimized
    plan's statistics into the resulting ``LogicalRDD`` (``originStats``).
    A loop's next plan embeds the previous generation, and Catalyst's
    ``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` multiplies children's
    ``sizeInBytes``, so the inherited estimate roughly *squares*
    generation-over-generation. After ~20 supersteps the estimate is a
    BigInteger with millions of digits and the driver spends minutes per
    superstep inside ``BigInteger.multiplyToomCook3`` — measured 0.8 s ->
    80 s/step by step 21 on a 5-vertex graph.

    Fix: rebuild the checkpointed ``LogicalRDD`` via its case-class
    ``copy`` with ``originStats = None``, which resets the estimate to
    ``spark.sql.defaultSizeInBytes`` every generation while keeping the
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
        spark = df.sparkSession
        dflt = lambda i: getattr(jlr, f"copy$default${i}")()  # noqa: E731
        jvm = spark._jvm
        none = jvm.scala.Option.empty()
        stripped = jlr.copy(
            dflt(1), dflt(2), dflt(3), dflt(4), dflt(5), dflt(6),
            spark._jsparkSession, none, none,
        )
        jds = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, stripped
        )
        out = DataFrame(jds, spark)
        # remember the checkpointed JVM RDD so release is ONE py4j call
        # instead of an analyzed-plan lookup
        out._momg_ck_rdd = jlr.rdd()  # noqa: SLF001
        return out
    except Exception:
        return ck


def release(df: DataFrame) -> None:
    """Free the executor storage behind a ``cut``/``localCheckpoint``
    frame that will never be read again (a superseded loop generation):
    unpersist the RDD ``cut`` remembered, or else the ``LogicalRDD`` that
    ``df``'s analyzed plan is. ``DataFrame.unpersist()`` is a no-op here —
    localCheckpoint is not registered with the cache manager — so without
    this, every generation of a long fixpoint loop accumulates in the
    block manager. Best-effort: any other plan is left to LRU eviction.

    Releasing a locally-checkpointed RDD makes Spark log a WARN that its
    truncated lineage "cannot be recomputed" — intentional here (the state
    is superseded and never read again), so that one logger is quieted to
    ERROR once to keep a 76-superstep run from emitting 76
    scary-but-expected warnings."""
    global _RDD_WARN_QUIETED
    if not _RDD_WARN_QUIETED:
        _RDD_WARN_QUIETED = True
        try:
            jvm = df.sparkSession._jvm
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                "org.apache.spark.rdd.MapPartitionsRDD",
                jvm.org.apache.logging.log4j.Level.ERROR,
            )
        except Exception:
            pass
    try:
        rdd = getattr(df, "_momg_ck_rdd", None)
        if rdd is None:
            jplan = df._jdf.queryExecution().analyzed()
            if not jplan.getClass().getName().endswith(".LogicalRDD"):
                return
            rdd = jplan.rdd()
        rdd.unpersist(False)
    except Exception:
        pass


def _fsync(path: str) -> None:
    """Flush a file's data, or a directory's entries, to disk."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


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
    #: old state cols plus ``_gathered`` (null when no message arrived)
    #: and, in pull mode, ``_in_frontier`` (this vertex is in the apply
    #: scope this superstep). Returns {state_col: Column}. (apply functor
    #: analogue.)
    apply: Callable[[DataFrame], dict[str, Column]]
    #: changed predicate over old+new state (columns ``<c>`` old and
    #: ``_new_<c>``); drives the next frontier (expand_vertex analogue).
    changed: Callable[[DataFrame], Column]
    #: which way messages flow over the edge table, also the engine's
    #: layout key (gatherOverEdges/expandOverEdges, csr_problem.cuh:68-91): "fwd"
    #: = src -> dst of the table (pull gathers in-edges, push expands
    #: out-edges); "both" = every row both ways (GATHER/EXPAND_ALL_EDGES,
    #: see GASEngine._oriented), so reciprocal pairs deliver twice — pass
    #: a ``canonical_undirected`` table or use a min/max combiner. To
    #: traverse the other way, pass the reversed table.
    direction: str = "fwd"
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
    #: fails) or "partial" (exact expand + distinct)
    regime: str
    #: speculation outcome: "hit" when the step ran on a plan prebuilt
    #: during the previous step, "miss" when one was built and discarded,
    #: "" when none was built (a run's first step)
    spec: str

    def as_dict(self) -> dict:
        return self.__dict__.copy()


@dataclass
class GASResult:
    vertices: DataFrame
    supersteps: int
    metrics: list[SuperstepMetrics] = field(default_factory=list)
    converged: bool = True


@dataclass(frozen=True)
class RunState:
    """What one ``GASEngine.run`` fixes before its first superstep. Built
    once per run, after the entry cuts, and passed to the superstep
    builders and the regime test, so the engine holds only per-graph
    caches and one engine can run programs one after another."""

    program: GASProgram
    #: rows of the entry vertex frame
    n_vertices: int
    #: program.has_out_edges for pull programs, else None
    sender_pred: Callable[[DataFrame], Column] | None = None
    #: senders of the direction, set with sender_pred
    n_senders: int | None = None
    #: |K| (senders that are also receivers) when out(K) == R holds for
    #: the direction, else None (see GASEngine._all_changed)
    n_relays: int | None = None


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
        every k supersteps, and at the step that ends the loop, publish a
        durable parquet commit + manifest (resume point; see
        write_checkpoint). A run that executes no superstep publishes
        nothing: its state is its input. 0 disables durable checkpoints;
        lineage is still truncated per superstep via localCheckpoint.
    collect_metrics:
        accepted and ignored; kept so existing callers that pass it do not
        break. Per-superstep records are always returned in GASResult.
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
    ) -> None:
        self.spark = spark
        self.broadcast_threshold = broadcast_threshold
        self.salt_buckets = salt_buckets
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every
        #: explicit num_partitions pins the loop partitioning; None sizes
        #: it from the edge count when the first edge copy is persisted
        #: (see edges_partitioned).
        self.num_partitions = num_partitions
        self._edges_raw = edges
        # Per-graph caches, each keyed by direction and computed once
        # (per-run facts live in RunState instead):
        self._edges_by: dict[str, DataFrame] = {}
        #: endpoint statistics (see vertex_stats)
        self._vstats: dict[str, DataFrame] = {}
        #: constant all-receivers frontiers (see _all_receivers)
        self._all_recv: dict[str, DataFrame] = {}
        #: (senders, receivers, relays) scalar readbacks, ONE job each
        self._endpoint_counts_cache: dict[str, tuple[int, int, int]] = {}
        #: out(K) == R (see _relays_cover)
        self._relays_cover_cache: dict[str, bool] = {}

    def _estimate_edge_rows(self) -> int | None:
        """Row-count estimate for the raw edge frame from Catalyst's
        statistics — NO job, just one driver-side analysis of the lineage:
        the exact ``rowCount`` a materialized cached frame reports, else
        the size estimate over 2 bytes/row. A parquet scan+project's size
        is compressed on-disk bytes, so this deliberately OVER-estimates
        rows and the derived partition count errs toward more partitions
        — the safe direction at scale; the [4, cap] clamp absorbs it on
        small graphs. Used only to pick the bootstrap partition count in
        edges_partitioned; the persisted copy's exact count rules."""
        try:
            stats = self._edges_raw._jdf.queryExecution().optimizedPlan().stats()
            rows = stats.rowCount()
            if rows.isDefined():
                return int(str(rows.get()))
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
            if key == "dst":
                # the "both" layout's second copy re-partitions the src copy
                # cache-to-cache — same rows, any partitioning — instead of
                # re-executing the raw lineage (entry edge tables are
                # scan+distinct subtrees)
                df = self.edges_partitioned("src").repartition(
                    self.num_partitions, F.col(key)
                ).persist(StorageLevel.MEMORY_AND_DISK)
            elif self.num_partitions is None:
                # Auto-size the loop's partition count: ~500k edges per
                # partition, clamped to [4, spark.sql.shuffle.partitions];
                # under 2M edges the per-step task count IS the wall (sf0.1:
                # 32 -> 8 partitions took 71.5 -> 55.6 s, and the floor
                # 8 -> 4 a further 13.99 -> 13.17 s). The count comes from
                # the persisting pass itself: boot at a no-job Catalyst row
                # estimate (biased to over-partition, see
                # _estimate_edge_rows), materialize + count once, and
                # re-partition cache-to-cache only when the exact count
                # lands on another clamp value. Counting the raw lineage
                # first ran it twice (3.9 s cold at sf0.1).
                cap = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                est = self._estimate_edge_rows()
                p_boot = (
                    cap if est is None
                    else max(4, min(cap, -(-est // 500_000)))
                )
                df = self._edges_raw.repartition(p_boot, F.col(key)).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                m = df.count()
                self.num_partitions = max(4, min(cap, -(-m // 500_000)))
                setup = {"row_estimate": est, "edges": m, "p_boot": p_boot,
                         "num_partitions": self.num_partitions}
                log.debug("[gas:setup] %s", setup, extra={"gas_setup": setup})
                if self.num_partitions != p_boot:
                    boot = df
                    df = boot.repartition(
                        self.num_partitions, F.col(key)
                    ).persist(StorageLevel.MEMORY_AND_DISK)
                    df.count()  # materialize from the boot cache before dropping it
                    boot.unpersist()
            else:
                df = self._edges_raw.repartition(
                    self.num_partitions, F.col(key)
                ).persist(StorageLevel.MEMORY_AND_DISK)
            self._edges_by[key] = df
        return self._edges_by[key]

    # -- traversal orientation ---------------------------------------------

    def _oriented(self, direction: str) -> list[DataFrame]:
        """Edge frames in traversal orientation (messages flow src -> dst
        of each): "fwd" is the src-partitioned copy (CSR analogue);
        "both" adds the dst-partitioned copy read reversed, a projection
        partitioned by its NEW src (CSC analogue). That is the reference's
        CSR+CSC dual layout (csr_problem.cuh:154-158; dual traversal
        enactor_vertex_centric.cuh:574-687, :1288-1487): both passes'
        state joins are exchange-free, for 2x the persisted edge bytes.
        Against reverse passes over the one src-partitioned copy it
        measured, at sf0.1, cc_converged 1.68 -> 1.54 s and labelprop2
        2.73 -> 2.55 s (min), with far lower variance."""
        if direction not in ("fwd", "both"):
            raise ValueError(f"unknown direction {direction!r}: use 'fwd' or 'both'")
        fwd = [self.edges_partitioned("src")]
        if direction == "fwd":
            return fwd
        dst = self.edges_partitioned("dst")
        w = ["w"] if "w" in dst.columns else []
        return fwd + [
            dst.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *w)
        ]

    def _passes(
        self, direction: str, per_pass: Callable[[DataFrame], DataFrame]
    ) -> DataFrame:
        """``per_pass`` over each oriented frame of ``direction``, unioned
        by name: the "both" passes meet in the consumer's one aggregation
        (as the reference combines its CSC and CSR gathers)."""
        parts = [per_pass(e) for e in self._oriented(direction)]
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def unpersist(self) -> None:
        """Release the persisted edge copies and what was derived from them."""
        for df in self._edges_by.values():
            df.unpersist()
        self._edges_by.clear()
        self.release_derived()

    def release_derived(self) -> None:
        """Release what the engine derived from its edge copies (the
        ``vertex_stats`` cuts and the readbacks cached with them) and keep
        the copies persisted."""
        for df in self._vstats.values():
            release(df)
        self._vstats.clear()
        self._all_recv.clear()
        self._endpoint_counts_cache.clear()
        self._relays_cover_cache.clear()

    def vertex_stats(self, direction: str = "fwd") -> DataFrame:
        """(id, n_src, n_dst[, w_src]) over the oriented frames of
        ``direction``, materialized once: n_src = rows with this id as src
        (the out-degree of the oriented table), n_dst likewise, w_src = sum
        of outgoing w when the table carries weights.

        ONE aggregation replaces the separate vertex_frame distinct,
        out_degrees groupBy, all-receivers distinct and sender-count
        distinct that setup used to run as independent shuffles over the
        same table (measured ~8 s of pre-loop jobs on the sf0.1 converged
        PageRank). Derived views: vertex set = select(id); receivers =
        filter(n_dst > 0); senders count = filter(n_src > 0).count()."""
        if direction not in self._vstats:
            has_w = "w" in self._edges_raw.columns

            def ends(fr: DataFrame) -> DataFrame:
                return fr.select(
                    F.col("src").alias("id"),
                    F.lit(1).alias("_s"),
                    F.lit(0).alias("_d"),
                    *([F.col("w").alias("_w")] if has_w else []),
                ).unionByName(
                    fr.select(
                        F.col("dst").alias("id"),
                        F.lit(0).alias("_s"),
                        F.lit(1).alias("_d"),
                        *([F.lit(0.0).alias("_w")] if has_w else []),
                    )
                )

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
            self._vstats[direction] = cut(
                self._passes(direction, ends).groupBy("id").agg(*aggs),
                eager=False,
            )
        return self._vstats[direction]

    def _endpoint_counts(self, direction: str) -> tuple[int, int, int]:
        """(n_senders, n_receivers, n_relays) of the oriented direction —
        one aggregation job over the materialized vertex_stats instead of
        separate filtered counts (each scalar readback is a full job; the
        loop setup pays them serially). Relays are the vertices that both
        send and receive (the set K of _all_changed)."""
        if direction not in self._endpoint_counts_cache:
            r = (
                self.vertex_stats(direction)
                .agg(
                    F.count_if(F.col("n_src") > 0).alias("s"),
                    F.count_if(F.col("n_dst") > 0).alias("r"),
                    F.count_if(
                        (F.col("n_src") > 0) & (F.col("n_dst") > 0)
                    ).alias("k"),
                )
                .first()
            )
            self._endpoint_counts_cache[direction] = (
                int(r["s"]), int(r["r"]), int(r["k"])
            )
        return self._endpoint_counts_cache[direction]

    def _relays_cover(self, direction: str) -> bool:
        """Whether out(K) == R on the oriented frames of ``direction``: the
        distinct destinations of the relays' edges are every receiver
        (out(K) ⊆ R always, so comparing counts suffices). A static fact
        about the graph — one join + distinct job per direction."""
        if direction not in self._relays_cover_cache:
            _, n_receivers, n_relays = self._endpoint_counts(direction)
            relays = self._hint(
                self.vertex_stats(direction)
                .filter((F.col("n_src") > 0) & (F.col("n_dst") > 0))
                .select(F.col("id").alias("src")),
                n_relays,
            )
            out = self._passes(
                direction,
                lambda e: e.join(relays, on="src", how="left_semi").select("dst"),
            )
            self._relays_cover_cache[direction] = (
                out.distinct().count() == n_receivers
            )
        return self._relays_cover_cache[direction]

    def _run_state(self, program: GASProgram, n_vertices: int) -> RunState:
        """The run's fixed facts. For pull programs with has_out_edges,
        the regime test's sender count and, when pure sources exist (k <
        n_senders, so "every sender changed" may never hold), the relay
        count — only if out(K) == R, checked once per graph and
        direction."""
        if program.mode != "pull" or program.has_out_edges is None:
            return RunState(program, n_vertices)
        n_senders, _, n_relays = self._endpoint_counts(program.direction)
        covers = 0 < n_relays < n_senders and self._relays_cover(program.direction)
        return RunState(
            program, n_vertices, program.has_out_edges, n_senders,
            n_relays if covers else None,
        )

    def _obs_exprs(self, rs: RunState, applied: DataFrame) -> list[Column]:
        """Per-superstep metric aggregates over an applied frame: changed
        count ``ch``, messages ``tr`` and, for the regime test, changed
        senders ``chs`` (when the program declares has_out_edges) and
        changed relays ``chk`` (when out(K) == R; see _all_changed)."""
        exprs = [
            F.sum(F.col("_changed").cast("long")).alias("ch"),
            F.sum("_msg_cnt").alias("tr"),
        ]
        if rs.sender_pred is not None:
            changed_sender = F.col("_changed") & rs.sender_pred(applied)
            exprs.append(F.sum(changed_sender.cast("long")).alias("chs"))
            if rs.n_relays is not None:
                exprs.append(
                    F.sum(
                        (changed_sender & (F.col("_msg_cnt") > 0)).cast("long")
                    ).alias("chk")
                )
        return exprs

    def _cut_observe(
        self, rs: RunState, applied: DataFrame
    ) -> tuple[DataFrame, DataFrame, Observation]:
        """Lazy lineage cut of an applied plan with the per-superstep
        metric observation attached (see _obs_exprs): (cut, observed cut,
        observation). The observed frame's first action materializes the
        cut and fires the observation."""
        ck = cut(applied, eager=False)
        obs = Observation()
        return ck, ck.observe(obs, *self._obs_exprs(rs, ck)), obs

    def _all_changed(self, rs: RunState, row: dict) -> bool:
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
        if rs.n_senders is not None:
            if int(row["chs"] or 0) >= rs.n_senders:
                return True
            return rs.n_relays is not None and int(row["chk"] or 0) >= rs.n_relays
        return int(row["ch"] or 0) >= rs.n_vertices

    def _all_receivers(self, direction: str) -> DataFrame:
        """Constant frontier 'every vertex that can receive a gather
        message' = ids with n_dst > 0 — a cheap filtered view of the one
        materialized vertex_stats aggregation (no extra distinct shuffle);
        its size is ``_endpoint_counts(direction)[1]``. Stored once so the
        regime test's identity check keeps working."""
        if direction not in self._all_recv:
            self._all_recv[direction] = (
                self.vertex_stats(direction).filter(F.col("n_dst") > 0).select("id")
            )
        return self._all_recv[direction]

    # -- checkpoint/resume -------------------------------------------------

    def _manifest_path(self, program_name: str) -> str:
        return os.path.join(self.checkpoint_dir, program_name, "manifest.json")

    def write_checkpoint(
        self,
        program_name: str,
        superstep: int,
        applied: DataFrame,
        metrics: list[SuperstepMetrics],
    ) -> str:
        """Publish one immutable commit, the resume point of the north rule.

        ``applied`` is the step's applied state: ``id``, the state columns
        and the ``_changed`` flag. It is written as ONE parquet dataset to
        ``<program>/step=<superstep>-<uuid>``, a directory no earlier write
        used, and the JSON manifest naming it is published by an atomic
        ``os.replace``. Then every other commit directory of the program is
        deleted: superseded commits and leftovers of crashed writes. The
        frontier is not stored; load_checkpoint re-derives it from the
        flag. ``partition_lineage`` (rows per written file, one file per
        loop partition) is read from the parquet footers on the driver, so
        a commit runs one Spark job: the write. The commit, the manifest
        and then the published rename are fsynced before the sweep, so a
        power loss cannot leave a manifest naming data that never reached
        the disk after the commit it replaced is gone."""
        pdir = os.path.join(self.checkpoint_dir, program_name)
        commit = f"step={superstep}-{uuid.uuid4().hex}"
        path = os.path.join(pdir, commit)
        applied.write.mode("errorifexists").parquet(path)
        partition_lineage = []
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                fp = os.path.join(path, f)
                _fsync(fp)
                partition_lineage.append(
                    {"file": f, "rows": pq.read_metadata(fp).num_rows}
                )
        _fsync(path)
        manifest = {
            "program": program_name,
            "superstep": superstep,
            "vertices_path": path,
            "partition_lineage": partition_lineage,
            "metrics": [m.as_dict() for m in metrics],
        }
        mpath = self._manifest_path(program_name)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, mpath)  # atomic publish
        _fsync(pdir)
        # the commit is durable now; a directory left undeleted here is
        # swept again by the next publish
        for d in os.listdir(pdir):
            if d.startswith("step=") and d != commit:
                shutil.rmtree(os.path.join(pdir, d), ignore_errors=True)
        return mpath

    def load_checkpoint(
        self, program: GASProgram
    ) -> tuple[int, DataFrame, DataFrame, list[dict]] | None:
        """(superstep, vertices, frontier, metrics) of the program's
        published commit, or None when there is none.

        The commit holds the applied state (see write_checkpoint), and the
        frontier is re-derived from its ``_changed`` flag as the loop
        derives it (_next_frontier; the broadcast hint is the last step's
        changed count, so no count job runs). This is exact: every frontier
        the loop produces is either _next_frontier(applied) or the
        all-receivers set R, and _all_changed picks R only when the two are
        equal. A pull frontier is a subset of R, so one as large as R is R,
        taken with no expand (the loop's first "all" step reads |R| anyway)."""
        if not self.checkpoint_dir:
            return None
        mpath = self._manifest_path(program.name)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            m = json.load(f)
        state = self.spark.read.parquet(m["vertices_path"])
        last = m["metrics"][-1]
        if program.mode == "pull" and (
            last["frontier_size"] == self._endpoint_counts(program.direction)[1]
        ):
            frontier = self._all_receivers(program.direction)
        else:
            frontier = self._next_frontier(program, state, last["changed"])
        return m["superstep"], state.drop("_changed"), frontier, m["metrics"]

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
        # Pre-partition the big side once, before entering the loop (both
        # copies only when the direction needs them).
        self._oriented(program.direction)

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
            "spark.sql.shuffle.partitions": str(self.num_partitions),
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
            # loaded under the loop confs, so a resume's receiver count is
            # the same one-job readback the loop's first "all" step runs
            start_step, metrics = 0, []
            ck = self.load_checkpoint(program) if resume else None
            if ck is not None:
                start_step, vertices, frontier, old_metrics = ck
                metrics = [SuperstepMetrics(**m) for m in old_metrics]
            return self._run_loop(
                program, vertices, frontier, metrics,
                start_step=start_step, max_iter=max_iter,
            )
        finally:
            for k, v in prev.items():
                if v is not None:
                    self.spark.conf.set(k, v)

    @staticmethod
    def _overlap(job: Callable[[], object], build: Callable[[], object]) -> tuple:
        """Run ``job`` (a superstep's one materializing Spark job) on a
        background thread while the driver runs ``build`` (the next
        superstep's speculative plan); returns (job result, build result).
        The thread is joined in a finally — a raising build must not
        leave the job running behind the caller — and an error in the job
        is re-raised after the join."""
        out: list = []
        err: list[BaseException] = []

        def _job():
            try:
                out.append(job())
            except BaseException as e:  # re-raised after join
                err.append(e)

        t = InheritableThread(target=_job, daemon=True)
        t.start()
        try:
            built = build()
        finally:
            t.join()
        if err:
            raise err[0]
        return out[0], built

    def _run_loop(
        self,
        program: GASProgram,
        vertices: DataFrame,
        frontier: DataFrame,
        metrics: list[SuperstepMetrics],
        *,
        start_step: int,
        max_iter: int,
    ) -> GASResult:
        # LAZY entry cuts: the two scalar readbacks right below double as
        # the materializing actions, so entry state+frontier cost two jobs
        # instead of four (eager checkpoint + separate count each). They
        # are made here, not in run(), so that nothing outside the loop
        # holds them; the entry frontier's blocks are freed at loop exit.
        vertices = cut(
            vertices.repartition(self.num_partitions, F.col("id")),
            eager=False,
        )
        frontier = entry_frontier = cut(frontier, eager=False)
        frontier_size = frontier.count()
        rs = self._run_state(program, vertices.count())
        superstep_fn = (
            self._superstep_pull if program.mode == "pull" else self._superstep_push
        )
        step = start_step
        stale: list[DataFrame] = []  # persisted frames to release (t-2)
        # superseded per-step state checkpoints to release (only frames the
        # loop itself cut — the caller's input is upstream of the entry cut
        # and never touched): without this, every superstep's eager
        # localCheckpoint accumulates in the block manager for the whole
        # run — measured as a per-step wall creep from ~0.7 s to ~2-3 s by
        # step 70 of a 76-superstep converged PageRank.
        prev_state = vertices
        # regime predictor for the job shape below (correctness does not
        # depend on it — both shapes are exact): a full entry frontier
        # suggests an all-vertex program whose first steps stay all-changed
        all_changed = program.mode == "pull" and frontier_size >= rs.n_vertices
        # Guess and verify: while a background thread runs the step's one
        # materializing job (_overlap), the driver builds the NEXT step on
        # a guessed frontier — the constant all-receivers set in the "all"
        # regime, the exact next frontier (still being counted) at the
        # pre-step size in "partial". A plan reads the frontier size only
        # through _plan_preds, so the prebuilt step is consumed iff the
        # guess became the frontier and the predicates agree; otherwise it
        # is discarded unexecuted. Two speculation depths: "all" prebuilds
        # the full (cut, observed, observation) pack, whose long job hides
        # Catalyst planning and the localCheckpoint RDD creation too;
        # "partial" prebuilds only the plain plan. Building the pack there
        # measured 31 instead of 27 gas.run jobs on repo_pipeline: the
        # pack's lazy localCheckpoint runs the physical plan, which starts
        # the next push step's frontier-broadcast job while that frontier
        # is still being counted.
        spec: tuple | DataFrame | None = None
        spec_outcome = ""  # of the plan the next step runs on (see SuperstepMetrics)

        while frontier_size > 0 and step < max_iter:
            t0 = time.monotonic()
            if spec is None:
                spec = superstep_fn(rs, vertices, frontier, frontier_size)
            if isinstance(spec, DataFrame):
                spec = self._cut_observe(rs, spec)
            (applied, applied_obs, obs), spec = spec, None
            # Ping-pong buffer swap + lineage cut (the reference's
            # double-buffer analogue, csr_problem.cuh:180-183): the step
            # plan embeds the previous state several times, so without a
            # hard truncation the plan grows exponentially (measured: 4
            # supersteps -> 60 s of pure planning). The cut is lazy; its
            # job overlaps the next step's ~85-110 ms of py4j/Catalyst
            # construction (21% of a converged sf0.1 PageRank when serial).
            vertices = applied.drop("_changed", "_msg_cnt")
            more = step + 1 < max_iter
            regime = (
                "all" if program.mode == "pull" and all_changed else "partial"
            )
            if regime == "all":
                # the metrics ride one count over the observed checkpoint
                # scan; the expand shuffle is skipped
                guess, job = self._all_receivers(program.direction), applied_obs.count
            else:
                # ONE job materializes the new state, the exact next
                # frontier AND the metrics (the frontier plan reads every
                # applied row anyway for the _changed filter)
                guess = self._next_frontier(
                    program, applied_obs, frontier_size
                ).persist(StorageLevel.MEMORY_AND_DISK)
                job = guess.count

            def _build():
                # the receiver count is read here so that its one readback
                # job (on a program's first "all" step) overlaps the job
                est = (
                    self._endpoint_counts(program.direction)[1] if regime == "all"
                    else frontier_size
                )
                nxt = superstep_fn(rs, vertices, guess, est) if more else None
                if nxt is not None and regime == "all":
                    nxt = self._cut_observe(rs, nxt)
                return est, nxt

            counted, (est, nxt) = self._overlap(job, _build)
            row = self._read_observation(rs, obs, applied)
            all_changed = self._all_changed(rs, row)
            if regime == "partial":
                frontier, frontier_size = guess, counted
            elif all_changed:
                frontier, frontier_size = guess, est
            else:
                frontier = self._next_frontier(
                    program, applied, frontier_size
                ).persist(StorageLevel.MEMORY_AND_DISK)
                frontier_size = frontier.count()  # convergence readback
            hit = frontier is guess and self._plan_preds(
                rs, est
            ) == self._plan_preds(rs, frontier_size)
            if hit:
                spec = nxt
            elif isinstance(nxt, tuple):
                release(nxt[0])  # the discarded pack's lazy cut
            changed_n = int(row["ch"] or 0)
            traversed = int(row["tr"] or 0)
            step += 1
            m = SuperstepMetrics(
                step, frontier_size, traversed, changed_n,
                (time.monotonic() - t0) * 1000.0, regime, spec_outcome,
            )
            metrics.append(m)
            spec_outcome = "" if nxt is None else "hit" if hit else "miss"
            log.debug(
                "[gas:%s] step=%d regime=%s spec=%s frontier=%d traversed=%d "
                "changed=%d ms=%.0f",
                program.name, step, regime, m.spec, frontier_size, traversed,
                changed_n, m.wall_ms,
                extra={"gas_step": {"program": program.name, **m.as_dict()}},
            )
            # release frontier frames two generations back
            while len(stale) > 1:
                stale.pop(0).unpersist()
            stale.append(frontier)
            # the pre-superstep state is now superseded (the new state and
            # frontier are materialized above); free its checkpoint blocks
            release(prev_state)
            prev_state = applied
            if self.checkpoint_dir and self.checkpoint_every and (
                step % self.checkpoint_every == 0
                or frontier_size == 0
                or step >= max_iter
            ):
                self.write_checkpoint(
                    program.name, step, applied.drop("_msg_cnt"), metrics
                )

        # release what the loop cut or persisted and the result does not
        # read (the result is the last applied cut; the caller's input is
        # upstream of the entry cuts)
        if isinstance(spec, tuple):
            release(spec[0])
        release(entry_frontier)
        for f in stale:
            f.unpersist()
        return GASResult(
            vertices=vertices,
            supersteps=step - start_step,
            metrics=metrics,
            converged=frontier_size == 0,
        )

    def _read_observation(
        self, rs: RunState, obs: Observation, applied_ck: DataFrame
    ) -> dict:
        """Read the per-superstep metrics with a bounded wait.

        The observation has normally fired by the time the materializing
        job returns, so the completed-future check below passes at once
        and ``obs.get`` returns without blocking; about one step in eight
        waits a few ms more for the asynchronous listener bus (measured
        on the pinned Spark 4.1.2). ``obs.get`` itself blocks with no
        timeout — if a future Spark stopped surfacing the job to
        listeners, every superstep would hang silently. Defensive
        contract: wait on the JVM future for up to OBSERVATION_WAIT_S on
        this thread, then fall back to one explicit aggregate over the
        already-checkpointed frame (cheap: the RDD is materialized; same
        values)."""
        fut = obs._jo.future()  # noqa: SLF001
        if not fut.isCompleted():
            jvm = self.spark._jvm
            try:
                jvm.scala.concurrent.Await.ready(
                    fut,
                    jvm.scala.concurrent.duration.Duration.apply(
                        int(OBSERVATION_WAIT_S * 1000), "ms"
                    ),
                )
            except Py4JJavaError:  # TimeoutException: it never fired
                pass
        if fut.isCompleted():
            return obs.get
        return applied_ck.agg(*self._obs_exprs(rs, applied_ck)).collect()[0].asDict()

    # frontier-side hint: broadcast small frontiers (reference two-phase /
    # dynamic strategy switch, enactor_vertex_centric.cuh:2694-2702).
    def _hint(self, frontier: DataFrame, frontier_size: int) -> DataFrame:
        if frontier_size <= self.broadcast_threshold:
            return F.broadcast(frontier)
        return frontier

    def _plan_preds(self, rs: RunState, frontier_size: int) -> tuple[bool, bool]:
        """The ONLY two facts a superstep/apply plan reads from the
        frontier size: all-frontier? and broadcast-eligible? Two sizes
        with equal predicates produce byte-identical plans — the
        validity test for the speculative builds in _run_loop."""
        return (
            frontier_size >= rs.n_vertices,
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
        rs: RunState,
        vertices: DataFrame,
        gathered: DataFrame,
        frontier_size: int,
    ) -> DataFrame:
        """Join gathered values onto vertex state, mark frontier membership
        (pull mode), and evaluate apply/changed. Returns (id, *state,
        _msg_cnt, _changed).

        vertices are id-partitioned and gathered is dst-partitioned by
        the same hash — the join is co-partitioned (no exchange)."""
        program = rs.program
        joined = vertices.join(gathered, on="id", how="left")
        if program.mode == "pull":
            # A partial pull frontier gathers ONLY its receivers (the
            # gather is frontier-pruned; in the all-receivers regime the
            # frontier IS the receiver set), and every member receives >= 1
            # message — it is the dst of an oriented edge by construction,
            # and gather runs over ALL its in-neighbors. So membership ==
            # message receipt EXACTLY: a null test on the gather output
            # replaces a frontier-marker join.
            joined = joined.withColumn(
                "_in_frontier",
                F.lit(True) if frontier_size >= rs.n_vertices
                else F.col("_msg_cnt").isNotNull(),
            )
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
        rs: RunState,
        vertices: DataFrame,
        frontier: DataFrame,
        frontier_size: int,
    ) -> DataFrame:
        # GATHER over each oriented pass (see _passes; "both" gathers both
        # directions of one table, the reference's CSC-then-CSR gather,
        # enactor:1288-1487) with a three-regime join order — the Spark
        # analogue of the reference's two-phase/dynamic switch
        # (enactor:2694-2702):
        # 1. small frontier: prune edges by a BROADCAST of the frontier
        #    first (touches only the frontier's gathered edges), then fetch
        #    neighbor state;
        # 2. large-but-partial frontier: edges⋈vertices co-partitioned on
        #    src==id (no exchange), then shuffle-filter by the frontier;
        # 3. frontier == ALL (or the constant all-receivers set, which
        #    every message receiver is in by construction): skip the filter
        #    — apply's _in_frontier gate discards the rest, exact same
        #    result for less work.
        program = rs.program
        is_all = (
            frontier_size >= rs.n_vertices
            or frontier is self._all_recv.get(program.direction)
        )

        def gather(edges: DataFrame) -> DataFrame:
            if not is_all and frontier_size <= self.broadcast_threshold:
                touched = edges.join(
                    F.broadcast(frontier.withColumnRenamed("id", "dst")),
                    on="dst",
                    how="inner",
                )
                # no .drop("id"): the select below projects only
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
            return m.select("src", "dst", program.message(m).alias("_msg"))

        msgs = self._passes(program.direction, gather)
        gathered = self._aggregate(msgs, program)

        # APPLY over the frontier only (APPLY_FRONTIER policy).
        return self._apply(rs, vertices, gathered, frontier_size)

    def _superstep_push(
        self,
        rs: RunState,
        vertices: DataFrame,
        frontier: DataFrame,
        frontier_size: int,
    ) -> DataFrame:
        # EXPAND: frontier vertices push along their edges in the
        # program's direction (expand_edge, sssp.h:315-358); state travels
        # with the frontier. The frontier-state frame is built once and
        # joined into each oriented pass (broadcast when small).
        program = rs.program
        frontier_state = self._hint(
            vertices.join(frontier, on="id", how="inner"), frontier_size
        ).withColumnRenamed("id", "src")

        def expand(edges: DataFrame) -> DataFrame:
            m = edges.join(frontier_state, on="src", how="inner")
            return m.select("src", "dst", program.message(m).alias("_msg"))

        msgs = self._passes(program.direction, expand)

        # CONTRACT: exact combiner-per-dst replaces the atomic-min culls
        # (contract_atomic/cta.cuh:200-344).
        gathered = self._aggregate(msgs, program)
        return self._apply(rs, vertices, gathered, frontier_size)

    def _next_frontier(
        self, program: GASProgram, applied: DataFrame, frontier_size: int
    ) -> DataFrame:
        """SCATTER from the *materialized* applied state (so the expand
        join never recomputes the superstep): the ids the ``_changed`` flag
        puts in the next frontier. ``frontier_size`` only sizes the
        broadcast hint of the changed side."""
        if program.mode == "pull":
            # next frontier = vertices whose gather input changed, i.e. the
            # receivers adjacent to changed neighbor-state vertices; exact
            # dedup (the contract culls done exactly: one distinct shuffle).
            hinted = self._hint(
                applied.filter(F.col("_changed")).select(F.col("id").alias("src")),
                frontier_size,
            )
            out = self._passes(
                program.direction,
                lambda e: e.join(hinted, on="src", how="inner").select(
                    F.col("dst").alias("id")
                ),
            )
            return out.distinct()
        return applied.filter(F.col("_changed")).select("id")


def run_program(
    spark: SparkSession,
    edges: DataFrame,
    program: GASProgram,
    start: Callable[[DataFrame], tuple[DataFrame, DataFrame]],
    *,
    vertices: DataFrame | None = None,
    engine: GASEngine | None = None,
    max_iter: int,
    resume: bool = False,
    **engine_kwargs,
) -> GASResult:
    """Start a GAS operator and run it: the reference's ``Initialize`` and
    ``srcVertex()``, then its one enactor loop
    (enactor_vertex_centric.cuh:2491-2497).

    ``start(stats)`` returns the entry state and frontier ``(v0, frontier0)``
    from the engine's endpoint stats over ``program.direction`` (see
    GASEngine.vertex_stats). A caller's ``vertices`` frame is left-joined
    onto the stats, so its vertices without edges get zero counts.

    A caller's ``engine`` is left as it is. Otherwise a new engine over
    ``edges`` runs the program and its derived frames are released
    (``release_derived``) on return; the result, a materialized local
    checkpoint, reads none of them. Its persisted edge copies stay in
    Spark's cache, where a later engine over an equal plan finds them (a
    fresh build added 0.4-1.2 s to pagerank3's 1.6-2.0 s at sf0.1 in
    local[4]); ``spark.catalog.clearCache()`` drops them."""
    eng = engine if engine is not None else GASEngine(spark, edges, **engine_kwargs)
    try:
        stats = eng.vertex_stats(program.direction)
        if vertices is not None:
            stats = vertices.select("id").join(stats, on="id", how="left").select(
                "id",
                *(F.coalesce(F.col(c), F.lit(0)).alias(c) for c in stats.columns[1:]),
            )
        v0, frontier0 = start(stats)
        return eng.run(program, v0, frontier0, max_iter=max_iter, resume=resume)
    finally:
        if engine is None:
            eng.release_derived()

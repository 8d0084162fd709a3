"""PageRank vs the numpy oracle — allclose 1e-6 per BASELINE.json.

Mirrors the reference's PR validation (PageRank.cu:180-198 l2-norm vs CPU
Jacobi; regressions/checkPageRank.py tolerance histogram) but stricter:
per-vertex allclose at 1e-6 on the same per-vertex frontier semantics.

Note on damping in tests: convergence to |Δ|<1e-6 takes ~log(tol)/log(d)
supersteps on cyclic graphs (~80 at d=0.85), and each Spark superstep
costs ~1s of fixed local-mode job overhead. DAG fixtures converge in
diameter steps at any damping, so the strict d=0.85 parity tests run on
DAGs; cyclic fixtures use smaller damping. Semantics are identical — the
oracle implements the same frontier rule with the same parameters.
"""

from __future__ import annotations

import logging
import math
import random
import threading
from collections import defaultdict

import pytest

from fixtures import MULTI, MULTI_N, SMALL, SMALL_N, TRIVIAL, TRIVIAL_N, ches_like
from oracles import pagerank_ref

from mirrorofmapgraph_spark.operators.pagerank import pagerank
from mirrorofmapgraph_spark.sources.edges import canonicalize


def random_dag(n=150, m=900, seed=7):
    rng = random.Random(seed)
    seen = set()
    edges = []
    while len(edges) < m:
        s = rng.randrange(n - 1)
        d = rng.randrange(s + 1, n)
        if (s, d) not in seen:
            seen.add((s, d))
            edges.append((s, d, float(rng.randint(1, 5))))
    return edges


def run_and_compare(
    spark, make_edges, make_vertices, edges, n, tol=1e-6, max_iter=100, damping=0.85
):
    e = canonicalize(make_edges(edges))
    dedup = {}
    for s, d, w in edges:
        dedup[(s, d)] = min(w, dedup.get((s, d), w))
    py_edges = [(s, d, w) for (s, d), w in sorted(dedup.items())]
    expected, ref_iters = pagerank_ref(n, py_edges, tol=tol, max_iter=max_iter, damping=damping)
    res = pagerank(
        spark, e, vertices=make_vertices(n), tol=tol, max_iter=max_iter, damping=damping,
        broadcast_threshold=10_000,
    )
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    assert len(got) == n
    for v in range(n):
        assert math.isclose(got[v], expected[v], rel_tol=0, abs_tol=1e-6), (
            f"vertex {v}: got {got[v]}, want {expected[v]}"
        )
    return res, ref_iters


def test_small(spark, make_edges, make_vertices):
    # DAG: full reference damping 0.85 at tol 1e-6
    res, ref_iters = run_and_compare(spark, make_edges, make_vertices, SMALL, SMALL_N)
    assert res.converged
    assert res.supersteps == ref_iters


def test_random_dag_full_damping(spark, make_edges, make_vertices):
    # flagship parity: 150 vertices, 900 edges, damping 0.85, tol 1e-6
    res, _ = run_and_compare(
        spark, make_edges, make_vertices, random_dag(), 150, max_iter=200
    )
    assert res.converged


def test_trivial_cycle(spark, make_edges, make_vertices):
    # 2-cycle mass trap at the tail; dangling-source vertex 0 stays at base
    res, _ = run_and_compare(
        spark, make_edges, make_vertices, TRIVIAL, TRIVIAL_N, max_iter=200, damping=0.6
    )
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    assert math.isclose(got[0], 0.4, abs_tol=1e-9)  # base = 1 - damping


def test_ches_undirected(spark, make_edges, make_vertices):
    edges, n = ches_like()
    run_and_compare(spark, make_edges, make_vertices, edges, n, max_iter=200, damping=0.5)


def test_multi_pathologies(spark, make_edges, make_vertices):
    # self-loop, duplicate edge (deduped at build), isolated vertex
    res, _ = run_and_compare(
        spark, make_edges, make_vertices, MULTI, MULTI_N, max_iter=200, damping=0.5
    )
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    assert math.isclose(got[9], 0.5, abs_tol=1e-9)  # isolated: base rank


def test_superstep_wall_flat(spark, make_edges, make_vertices):
    """Regression for round-1's exponential Catalyst-stats blowup.

    localCheckpoint used to inherit the optimized plan's statistics; joins
    multiply children's sizeInBytes, so the estimate squared every superstep
    and by ~step 20 the driver burned minutes per step in BigInteger
    arithmetic (0.8s -> 80s/step on this exact 5-vertex fixture). With the
    stats-resetting cut (plans/gas.cut, lazy at every engine site) per-step
    wall must stay flat through ~30 partial-frontier supersteps.
    """
    res, _ = run_and_compare(
        spark, make_edges, make_vertices, TRIVIAL, TRIVIAL_N, max_iter=200, damping=0.6
    )
    walls = [m.wall_ms for m in res.metrics]
    assert len(walls) >= 20, f"expected >=20 supersteps, got {len(walls)}"
    early = sorted(walls[2:10])[3]  # median-ish of steps 3..10
    late = max(walls[-5:])
    # pre-fix the late/early ratio was >100x; allow generous CI jitter
    assert late < 5 * early + 1000, f"superstep wall grew: early~{early:.0f}ms late={late:.0f}ms"
    assert late < 5000, f"late superstep took {late:.0f}ms"


def test_metrics_recorded(spark, make_edges, make_vertices):
    res, _ = run_and_compare(spark, make_edges, make_vertices, SMALL, SMALL_N)
    assert len(res.metrics) == res.supersteps
    m0 = res.metrics[0]
    assert m0.edges_traversed > 0 and m0.wall_ms > 0


def test_rerun_on_one_engine_matches(spark, make_edges):
    """bench.py's pattern: a warm-up run() and a timed run() on the SAME
    engine. Per-run state lives in the run, so the second run returns the
    same ranks, superstep count and per-step metrics as the first."""
    from pyspark.sql import functions as F

    from mirrorofmapgraph_spark.operators.pagerank import pagerank_program
    from mirrorofmapgraph_spark.plans.gas import GASEngine
    from mirrorofmapgraph_spark.sources.edges import out_degrees, vertex_frame

    edges = canonicalize(make_edges(SMALL))
    eng = GASEngine(spark, edges, collect_metrics=False)
    verts = vertex_frame(eng.edges_partitioned("src"))
    v0 = (
        verts.join(out_degrees(eng.edges_partitioned("src")), "id", "left")
        .select(
            "id",
            F.lit(0.15).alias("rank"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
        )
        .localCheckpoint(eager=True)
    )
    f0 = verts.select("id").localCheckpoint(eager=True)
    prog = pagerank_program(damping=0.85, tol=1e-6)
    runs = [eng.run(prog, v0, f0, max_iter=100) for _ in range(2)]
    ranks = [{r["id"]: r["rank"] for r in res.vertices.collect()} for res in runs]
    assert runs[0].converged and runs[1].converged
    assert runs[0].supersteps == runs[1].supersteps
    assert ranks[0] == ranks[1]
    steps = [
        [(m.frontier_size, m.edges_traversed, m.changed, m.regime) for m in res.metrics]
        for res in runs
    ]
    assert steps[0] == steps[1]
    want, ref_iters = pagerank_ref(SMALL_N, SMALL)
    assert runs[0].supersteps == ref_iters
    for v in range(SMALL_N):
        assert math.isclose(ranks[0][v], want[v], rel_tol=0, abs_tol=1e-6)


def test_one_debug_record_per_superstep(spark, make_edges, caplog):
    """Each superstep emits one DEBUG record through ``logging`` carrying
    the program name and every SuperstepMetrics field, regime and
    speculation outcome included. The auto-sizing edge bootstrap emits
    one setup record that sets the Catalyst row estimate beside the exact
    edge count, the boot partition count and the chosen one; the estimate
    of a persisted, counted edge frame is its exact row count."""
    caplog.set_level(logging.DEBUG, logger="mirrorofmapgraph_spark.plans.gas")
    cached = make_edges(SMALL).persist()
    cached.count()
    pagerank(spark, cached, damping=0.5, collect_metrics=False)
    cached.unpersist()
    (setup,) = [r.gas_setup for r in caplog.records if hasattr(r, "gas_setup")]
    assert setup["row_estimate"] == setup["edges"] == len(SMALL)
    caplog.clear()
    res = pagerank(spark, make_edges(TRIVIAL), damping=0.5, collect_metrics=False)
    (setup,) = [r.gas_setup for r in caplog.records if hasattr(r, "gas_setup")]
    assert set(setup) == {"row_estimate", "edges", "p_boot", "num_partitions"}
    assert setup["edges"] == len(TRIVIAL)
    recs = [r.gas_step for r in caplog.records if hasattr(r, "gas_step")]
    assert res.supersteps > 1
    assert len(recs) == res.supersteps
    assert recs == [{"program": "pagerank", **m.as_dict()} for m in res.metrics]
    assert all(r["regime"] in ("all", "partial") for r in recs)
    assert recs[0]["spec"] == ""  # nothing was prebuilt for step 1
    assert all(r["spec"] in ("hit", "miss") for r in recs[1:])


def test_all_changed_regime_counts_senders_only(spark, make_edges):
    """A graph with dangling (no-out-edge) vertices: the frozen danglings
    must not disable the all-receivers fast path — PageRank still
    converges with the same values as the numpy oracle."""
    # 0->1->2->0 cycle plus dangling sinks 3,4 fed by the cycle
    edges = make_edges([(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0),
                        (0, 3, 1.0), (1, 4, 1.0)])
    res = pagerank(spark, edges, tol=1e-8, max_iter=100, damping=0.6,
                   collect_metrics=False)
    assert res.converged
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    want, _ = pagerank_ref(5, [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0),
                               (0, 3, 1.0), (1, 4, 1.0)], damping=0.6, tol=1e-8)
    for i in range(5):
        assert math.isclose(got[i], want[i], rel_tol=0, abs_tol=1e-6)


@pytest.mark.parametrize("algo", ["pagerank", "cc"])
def test_speculative_pack_equivalence_across_plan_regimes(spark, make_edges, algo):
    """The loop prebuilds the next superstep speculatively while the
    current one materializes (plans/gas.py _run_loop). The speculative
    plan's only dependence on the not-yet-known frontier size is the pair
    of predicates (all-frontier?, broadcast-eligible?) — so forcing each
    broadcast regime must produce identical answers and superstep counts:
    every speculation hit/miss path (all-changed hits, the regime-break
    discard, tail-step pred hits, the threshold-crossing miss) replays the
    same math.
    """
    from mirrorofmapgraph_spark.operators.cc import connected_components
    from mirrorofmapgraph_spark.plans.gas import GASEngine

    def run(bc):
        e = make_edges(MULTI)
        eng = GASEngine(spark, e, broadcast_threshold=bc, collect_metrics=False)
        if algo == "pagerank":
            res = pagerank(spark, e, tol=1e-8, max_iter=80, damping=0.6, engine=eng)
        else:
            res = connected_components(spark, e, engine=eng)
        col = "rank" if algo == "pagerank" else "label"
        return res, {r["id"]: r[col] for r in res.vertices.collect()}

    base, want = run(1_000_000)  # every frontier is broadcast-eligible
    if algo == "pagerank":
        other, got = run(0)  # no frontier is
    else:
        # CC on MULTI: frontiers 9 (all) -> 7 -> 4 -> 1 -> 0. With the
        # threshold at 4, step 2 (frontier 7) guesses a shuffle plan for
        # step 3, whose frontier of 4 is broadcast-eligible: the prebuilt
        # plan is discarded. Step 2 itself always misses (all-frontier ->
        # partial), and step 4 hits.
        assert [m.frontier_size for m in base.metrics] == [7, 4, 1, 0]
        other, got = run(4)
        assert [m.spec for m in base.metrics] == ["", "miss", "hit", "hit"]
        assert [m.spec for m in other.metrics] == ["", "miss", "miss", "hit"]
    assert other.supersteps == base.supersteps
    assert other.converged == base.converged
    assert got == want
    assert [(m.frontier_size, m.edges_traversed, m.changed) for m in other.metrics] == [
        (m.frontier_size, m.edges_traversed, m.changed) for m in base.metrics
    ]


def frontier_trace(n, edges, tol, damping, max_iter=100):
    """Replay pagerank_ref's frontier rule one superstep at a time.

    Returns one (next frontier size, in-edges of the frontier, changed
    set) tuple per superstep: the size of the frontier the step produces
    (the engine's ``frontier_size``) and the in-edges its frontier gathers
    over (the engine's ``edges_traversed``)."""
    out_nbrs, in_nbrs = defaultdict(list), defaultdict(list)
    for s, d, _w in edges:
        out_nbrs[s].append(d)
        in_nbrs[d].append(s)
    base = 1.0 - damping
    rank = [base] * n
    frontier = set(range(n))
    steps = []
    while frontier and len(steps) < max_iter:
        new_rank = list(rank)
        changed = set()
        for v in frontier:
            nv = base + damping * sum(rank[u] / len(out_nbrs[u]) for u in in_nbrs[v])
            new_rank[v] = nv
            if abs(nv - rank[v]) >= tol:
                changed.add(v)
        traversed = sum(len(in_nbrs[v]) for v in frontier)
        rank = new_rank
        frontier = {d for v in changed for d in out_nbrs[v]}
        steps.append((len(frontier), traversed, changed))
    return steps


def assert_matches_trace(res, trace):
    assert res.supersteps == len(trace)
    assert [m.frontier_size for m in res.metrics] == [t[0] for t in trace]
    assert [m.edges_traversed for m in res.metrics] == [t[1] for t in trace]


def test_pure_sources_take_all_receivers_path(spark, make_edges, make_vertices):
    """Pure sources (out-edges, no in-edges) never change, so "every
    sender changed" never holds. Here K = senders that also receive =
    {2, 3, 4, 5} and out(K) = {2..6} = all receivers, so a step that
    changes all of K provably makes the next frontier every receiver:
    the all-receivers branch must run until the tail, with per-step
    frontiers and traversals identical to the oracle's rule."""
    # pure sources 0, 1 feed the cycle 2->3->4->5->2; sink 6 hangs off 4
    edges = [(0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 5, 1.0),
             (5, 2, 1.0), (4, 6, 1.0)]
    res, ref_iters = run_and_compare(
        spark, make_edges, make_vertices, edges, 7, tol=1e-4, damping=0.5
    )
    trace = frontier_trace(7, edges, tol=1e-4, damping=0.5)
    assert res.converged and res.supersteps == ref_iters
    assert_matches_trace(res, trace)
    relays = {2, 3, 4, 5}
    want = ["all"] + [
        "all" if relays <= changed else "partial" for _f, _t, changed in trace[:-1]
    ]
    assert [m.regime for m in res.metrics] == want
    assert want[:4] == ["all"] * 4  # the fast path holds past step 1


def test_relays_not_covering_receivers_stay_exact(spark, make_edges, make_vertices):
    """Counter-example to dropping the out(K) == R check: p->x, x->a,
    a->b, b->a. K = {x, a, b} all change on step 1, but x's only
    in-neighbor is the pure source p, so the next frontier is {a, b},
    not every receiver."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (3, 2, 1.0)]
    res, ref_iters = run_and_compare(
        spark, make_edges, make_vertices, edges, 4, tol=1e-4, damping=0.5
    )
    trace = frontier_trace(4, edges, tol=1e-4, damping=0.5)
    assert res.converged and res.supersteps == ref_iters
    assert trace[0][0] == 2
    assert_matches_trace(res, trace)
    assert res.metrics[1].regime == "partial"


@pytest.mark.parametrize("algo", ["pagerank", "cc"])
def test_failing_speculative_build_joins_materializer(spark, make_edges, algo):
    """The next superstep is built on the driver while a background thread
    materializes the current one. When that build raises, the thread is
    joined before the error reaches the caller — in the all-changed
    branch (pagerank) and the partial branch (push-mode cc) alike."""
    from pyspark.util import InheritableThread

    from mirrorofmapgraph_spark.operators.cc import connected_components
    from mirrorofmapgraph_spark.plans.gas import GASEngine

    e = make_edges(MULTI)
    eng = GASEngine(spark, e)
    name = "_superstep_pull" if algo == "pagerank" else "_superstep_push"
    build = getattr(eng, name)
    calls = []

    def failing_second_build(*args):
        calls.append(1)
        if len(calls) == 2:  # step 1's speculative build of step 2
            raise RuntimeError("speculative build failed")
        return build(*args)

    setattr(eng, name, failing_second_build)
    with pytest.raises(RuntimeError, match="speculative build failed"):
        if algo == "pagerank":
            pagerank(spark, e, damping=0.5, engine=eng)
        else:
            connected_components(spark, e, engine=eng)
    alive = [
        t for t in threading.enumerate()
        if isinstance(t, InheritableThread) and t.is_alive()
    ]
    assert not alive, alive


def test_observation_that_never_fires_falls_back_to_aggregate(
    spark, make_edges, monkeypatch
):
    """_read_observation waits OBSERVATION_WAIT_S for an observation, then
    aggregates the applied frame itself: an observation attached to a
    frame that no action runs returns the same ch/tr values."""
    import time

    from pyspark.sql import Observation

    from mirrorofmapgraph_spark.operators.cc import cc_program
    from mirrorofmapgraph_spark.plans import gas

    monkeypatch.setattr(gas, "OBSERVATION_WAIT_S", 0.1)
    engine = gas.GASEngine(spark, canonicalize(make_edges(SMALL)))
    rs = gas.RunState(cc_program(), 4)
    applied = spark.createDataFrame(
        [(0, 0, True, 2), (1, 0, True, 3), (2, 2, False, 1), (3, 3, False, 0)],
        "id long, label long, _changed boolean, _msg_cnt long",
    )
    obs = Observation()
    applied.observe(obs, *engine._obs_exprs(rs, applied))  # never run
    t0 = time.monotonic()
    got = engine._read_observation(rs, obs, applied)
    assert time.monotonic() - t0 < 10
    want = applied.agg(*engine._obs_exprs(rs, applied)).collect()[0].asDict()
    assert got == want == {"ch": 2, "tr": 6}

"""HITS / personalized PageRank / k-core vs pure-python oracles.

Same oracle style as tests/oracles.py (independent re-derivations, no
Spark, no DuckDB); these three operators extend the reference's kernel set
(Algorithms/{BFS,CC,PageRank,SSSP}) with the next link-analysis layer.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pytest
from fixtures import MULTI, MULTI_N, SMALL, SMALL_N, random_graph

from mirrorofmapgraph_spark.operators.hits import hits
from mirrorofmapgraph_spark.operators.kcore import kcore
from mirrorofmapgraph_spark.operators.pagerank import personalized_pagerank


# ---- oracles --------------------------------------------------------------

def hits_ref(n, edges, iters):
    """L1-normalized HITS, authority-then-hub per iteration."""
    out_nbrs, in_nbrs = defaultdict(list), defaultdict(list)
    for s, d, _w in edges:
        out_nbrs[s].append(d)
        in_nbrs[d].append(s)
    hub = [1.0] * n
    auth = [0.0] * n
    for _ in range(iters):
        raw = [sum(hub[u] for u in in_nbrs[v]) for v in range(n)]
        tot = sum(raw)
        auth = [r / tot if tot else 0.0 for r in raw]
        raw = [sum(auth[v] for v in out_nbrs[u]) for u in range(n)]
        tot = sum(raw)
        hub = [r / tot if tot else 0.0 for r in raw]
    return hub, auth


def ppr_ref(n, edges, sources, iters, damping=0.85):
    """Unrolled synchronous personalized PageRank (full frontier)."""
    in_nbrs, out_deg = defaultdict(list), [0] * n
    for s, d, _w in edges:
        in_nbrs[d].append(s)
        out_deg[s] += 1
    base = 1.0 - damping
    ind = [1.0 if v in set(sources) else 0.0 for v in range(n)]
    rank = [base * ind[v] for v in range(n)]
    for _ in range(iters):
        rank = [
            base * ind[v]
            + damping * sum(rank[u] / out_deg[u] for u in in_nbrs[v])
            for v in range(n)
        ]
    return rank


def kcore_ref(n, edges, k):
    """Peel to fixpoint; returns {id: within-core degree}."""
    nbrs = defaultdict(set)
    for s, d, _w in edges:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    alive = {v for v in range(n) if nbrs[v]}
    while True:
        deg = {v: len(nbrs[v] & alive) for v in alive}
        nxt = {v for v in alive if deg[v] >= k}
        if nxt == alive:
            return {v: deg[v] for v in alive}
        alive = nxt
        if not alive:
            return {}


# ---- HITS ------------------------------------------------------------------

def check_hits(spark, make_edges, edges, n, iters):
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in hits(spark, make_edges(edges), iters=iters).collect()
    }
    hub, auth = hits_ref(n, edges, iters)
    for v, (gh, ga) in got.items():
        assert math.isclose(gh, hub[v], abs_tol=1.5e-6), (v, gh, hub[v])
        assert math.isclose(ga, auth[v], abs_tol=1.5e-6), (v, ga, auth[v])


def test_hits_small(spark, make_edges):
    check_hits(spark, make_edges, SMALL, SMALL_N, iters=3)


def test_hits_random(spark, make_edges):
    check_hits(spark, make_edges, random_graph(n=120, m=700, seed=5), 120, iters=2)


# ---- personalized PageRank ---------------------------------------------------

def check_ppr(spark, make_edges, make_vertices, edges, n, sources, iters):
    res = personalized_pagerank(
        spark, make_edges(edges), sources,
        vertices=make_vertices(n), tol=0.0, max_iter=iters,
    )
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    expected = ppr_ref(n, edges, sources, iters)
    assert set(got) == set(range(n))
    for v in range(n):
        assert math.isclose(got[v], expected[v], abs_tol=1e-9), (v, got[v], expected[v])


def test_ppr_small(spark, make_edges, make_vertices):
    check_ppr(spark, make_edges, make_vertices, SMALL, SMALL_N, [0], 3)


def test_ppr_multi_source(spark, make_edges, make_vertices):
    check_ppr(
        spark, make_edges, make_vertices,
        random_graph(n=150, m=900, seed=7), 150, [3, 20, 77], 3,
    )


def test_ppr_mass_localizes(spark, make_edges, make_vertices):
    """Teleport restricted to sources: a vertex unreachable from the
    source set must end with rank exactly 0."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (5, 6, 1.0)]  # 5,6 unreachable from 0
    res = personalized_pagerank(
        spark, make_edges(edges), [0], vertices=make_vertices(7),
        tol=0.0, max_iter=4,
    )
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    assert got[5] == 0.0 and got[6] == 0.0
    assert got[0] > 0 and got[1] > 0 and got[2] > 0


def test_source_forms_agree(spark, make_edges, make_vertices):
    """bfs and personalized PageRank read their sources through one marker:
    one id, a list, a tuple, a numpy integer and a one-column DataFrame
    name the same source and give the same answer."""
    from mirrorofmapgraph_spark.operators.bfs import bfs
    from mirrorofmapgraph_spark.plans.gas import GASEngine

    e, v = make_edges(SMALL), make_vertices(SMALL_N)
    eng = GASEngine(spark, e)
    forms = [0, [0], (0,), np.int64(0), spark.createDataFrame([(0,)], "id long")]
    ranks = [
        {r["id"]: r["rank"] for r in personalized_pagerank(
            spark, e, s, vertices=v, tol=0.0, max_iter=1, engine=eng
        ).vertices.collect()}
        for s in forms
    ]
    assert ranks[0][0] > 0 and all(r == ranks[0] for r in ranks[1:])
    depths = [
        {r["id"]: r["depth"] for r in bfs(
            spark, e, s, vertices=v, max_iter=2, engine=eng
        ).vertices.collect()}
        for s in forms
    ]
    assert depths[0][0] == 0 and all(d == depths[0] for d in depths[1:])
    eng.unpersist()


# ---- k-core -----------------------------------------------------------------

def check_kcore(spark, make_edges, edges, n, k):
    got = {r["id"]: r["deg"] for r in kcore(spark, make_edges(edges), k).collect()}
    assert got == kcore_ref(n, edges, k)


def test_kcore_small(spark, make_edges):
    # SMALL's underlying undirected graph: min degree 2, so 2-core = all,
    # 3-core peels to the dense middle
    check_kcore(spark, make_edges, SMALL, SMALL_N, 2)
    check_kcore(spark, make_edges, SMALL, SMALL_N, 3)


def test_kcore_pathologies(spark, make_edges):
    # self-loops, duplicate edges, isolated vertex (MULTI fixture)
    for k in (1, 2, 3):
        check_kcore(spark, make_edges, MULTI, MULTI_N, k)


def test_kcore_random(spark, make_edges):
    edges = random_graph(n=200, m=1600, seed=13)
    for k in (4, 8, 12):
        check_kcore(spark, make_edges, edges, 200, k)


def test_kcore_empty_result(spark, make_edges):
    got = kcore(spark, make_edges(SMALL), 99).collect()
    assert got == []


# ---- k-truss ----------------------------------------------------------------

def ktruss_ref(edges, k):
    """Peel edges to fixpoint; returns {(a,b): within-truss support}."""
    und = {tuple(sorted((s, d))) for s, d, _w in edges if s != d}
    while True:
        nbrs = defaultdict(set)
        for a, b in und:
            nbrs[a].add(b)
            nbrs[b].add(a)
        sup = {(a, b): len(nbrs[a] & nbrs[b]) for a, b in und}
        nxt = {e for e in und if sup[e] >= k - 2}
        if nxt == und:
            return sup
        und = nxt
        if not und:
            return {}


def check_ktruss(spark, make_edges, edges, k):
    from mirrorofmapgraph_spark.operators.ktruss import ktruss

    got = {
        (r["a"], r["b"]): r["support"]
        for r in ktruss(spark, make_edges(edges), k).collect()
    }
    assert got == ktruss_ref(edges, k)


def test_ktruss_small(spark, make_edges):
    for k in (2, 3, 4):
        check_ktruss(spark, make_edges, SMALL, k)


def test_ktruss_pathologies(spark, make_edges):
    for k in (3, 4):
        check_ktruss(spark, make_edges, MULTI, k)


def test_ktruss_random(spark, make_edges):
    edges = random_graph(n=80, m=900, seed=11)
    for k in (3, 4, 5):
        check_ktruss(spark, make_edges, edges, k)


def test_ktruss_ids_near_int64_limit(spark, make_edges):
    """Ids near 2^62, whose three-way sum overflows int64: a K4 plus a
    triangle hanging off one of its vertices peels to the K4's six edges
    at support 2 for k=4 (the destroyed triangle's middle vertex is the
    median of three, not a sum)."""
    b = 2**62
    k4 = [(b + i, b + j, 1.0) for i in range(4) for j in range(i + 1, 4)]
    edges = k4 + [(b + 3, b + 4, 1.0), (b + 4, b + 5, 1.0), (b + 5, b + 3, 1.0)]
    check_ktruss(spark, make_edges, edges, 4)
    assert ktruss_ref(edges, 4) == {(s, d): 2 for s, d, _w in k4}


def test_ktruss_empty_result(spark, make_edges):
    from mirrorofmapgraph_spark.operators.ktruss import ktruss

    assert ktruss(spark, make_edges(SMALL), 99).collect() == []


# ---- link prediction ---------------------------------------------------------

def linkpred_ref(edges, cap=None, minc=1):
    """Exact common-neighbor / Jaccard / Adamic-Adar for non-adjacent
    distance-2 pairs, with the hub-pivot cap applied."""
    nbrs = defaultdict(set)
    for s, d, _w in edges:
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    deg = {v: len(ns) for v, ns in nbrs.items()}
    out = {}
    verts = sorted(nbrs)
    for i, u in enumerate(verts):
        for v in verts[i + 1:]:
            if v in nbrs[u]:
                continue
            common = [
                w for w in nbrs[u] & nbrs[v]
                if cap is None or deg[w] <= cap
            ]
            if len(common) < minc:
                continue
            cn = len(common)
            jac = cn / (deg[u] + deg[v] - cn)
            aa = sum(1.0 / math.log(deg[w]) for w in common)
            out[(u, v)] = (cn, jac, aa)
    return out


def check_linkpred(spark, make_edges, edges, cap=None, minc=1):
    from mirrorofmapgraph_spark.operators.linkpred import link_prediction

    got = {
        (r["u"], r["v"]): (r["cn"], r["jaccard"], r["adamic_adar"])
        for r in link_prediction(
            make_edges(edges), max_pivot_degree=cap, min_common=minc
        ).collect()
    }
    exp = linkpred_ref(edges, cap=cap, minc=minc)
    assert set(got) == set(exp)
    for pair, (cn, jac, aa) in exp.items():
        gcn, gjac, gaa = got[pair]
        assert gcn == cn, (pair, gcn, cn)
        assert math.isclose(gjac, jac, rel_tol=1e-12), (pair, gjac, jac)
        assert math.isclose(gaa, aa, rel_tol=1e-9), (pair, gaa, aa)


def test_linkpred_small(spark, make_edges):
    check_linkpred(spark, make_edges, SMALL)


def test_linkpred_random_with_cap(spark, make_edges):
    edges = random_graph(n=100, m=800, seed=3)
    check_linkpred(spark, make_edges, edges, cap=25, minc=2)


def test_linkpred_excludes_existing_edges(spark, make_edges):
    from mirrorofmapgraph_spark.operators.linkpred import link_prediction

    edges = random_graph(n=60, m=400, seed=9)
    und = {tuple(sorted((s, d))) for s, d, _w in edges if s != d}
    got = link_prediction(make_edges(edges)).collect()
    for r in got:
        assert (r["u"], r["v"]) not in und


# ---- weighted PageRank --------------------------------------------------------

def wpr_ref(n, edges, iters, damping=0.85):
    """Unrolled synchronous weighted PageRank (full frontier, tol=0)."""
    in_nbrs = defaultdict(list)
    wout = defaultdict(float)
    for s, d, w in edges:
        in_nbrs[d].append((s, w))
        wout[s] += w
    base = 1.0 - damping
    rank = [base] * n
    for _ in range(iters):
        rank = [
            base + damping * sum(rank[u] * w / wout[u] for u, w in in_nbrs[v])
            for v in range(n)
        ]
    return rank


def test_weighted_pagerank_matches_ref(spark, make_edges, make_vertices):
    from mirrorofmapgraph_spark.operators.pagerank import weighted_pagerank

    edges = random_graph(n=120, m=700, seed=21)
    res = weighted_pagerank(
        spark, make_edges(edges), vertices=make_vertices(120),
        tol=0.0, max_iter=3,
    )
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    exp = wpr_ref(120, edges, 3)
    for v in range(120):
        assert math.isclose(got[v], exp[v], abs_tol=1e-9), (v, got[v], exp[v])


def test_weighted_pagerank_uniform_weights_equal_plain(spark, make_edges, make_vertices):
    from mirrorofmapgraph_spark.operators.pagerank import pagerank, weighted_pagerank

    edges = [(s, d, 1.0) for s, d, _ in random_graph(n=80, m=400, seed=22)]
    # dedupe parallel edges: with w==1 duplicates change wout but not
    # out_deg, so the equivalence only holds on the simple graph
    edges = list({(s, d): (s, d, 1.0) for s, d, _ in edges}.values())
    kw = dict(vertices=make_vertices(80), tol=0.0, max_iter=3)
    wr = weighted_pagerank(spark, make_edges(edges), **kw)
    pr = pagerank(spark, make_edges(edges), **kw)
    got_w = {r["id"]: r["rank"] for r in wr.vertices.collect()}
    got_p = {r["id"]: r["rank"] for r in pr.vertices.collect()}
    for v in range(80):
        assert math.isclose(got_w[v], got_p[v], abs_tol=1e-9)


# ---- random walks --------------------------------------------------------------

def walks_ref(edges, starts, length, P=2**31 - 1):
    nbrs = defaultdict(set)
    for s, d, _w in edges:
        if s != d:
            nbrs[s].add(d)
    rows = set()
    for wid, v in starts:
        rows.add((wid, 0, v))
        cur = v
        for t in range(1, length + 1):
            ns = sorted(nbrs.get(cur, ()))
            if not ns:
                break
            pick = ((wid % P) * 1103515245 + t * 12345 + (cur % P) * 31) % P % len(ns)
            cur = ns[pick]
            rows.add((wid, t, cur))
    return rows


def test_random_walks_match_ref(spark, make_edges):
    from mirrorofmapgraph_spark.operators.walks import random_walks

    edges = random_graph(n=100, m=600, seed=31)
    starts = [(i, (i * 7 + 3) % 100) for i in range(12)]
    sdf = spark.createDataFrame(starts, "walk_id long, vertex long")
    got = {
        (r["walk_id"], r["step"], r["vertex"])
        for r in random_walks(spark, make_edges(edges), sdf, 5).collect()
    }
    assert got == walks_ref(edges, starts, 5)


def test_random_walks_stop_at_sinks(spark, make_edges):
    from mirrorofmapgraph_spark.operators.walks import random_walks

    edges = [(0, 1, 1.0), (1, 2, 1.0)]  # 2 is a sink
    sdf = spark.createDataFrame([(0, 0)], "walk_id long, vertex long")
    rows = sorted(
        (r["step"], r["vertex"])
        for r in random_walks(spark, make_edges(edges), sdf, 9).collect()
    )
    assert rows == [(0, 0), (1, 1), (2, 2)]


def test_random_walks_same_start_diverge(spark, make_edges):
    """Two walks from the same vertex must take different hash paths."""
    from mirrorofmapgraph_spark.operators.walks import random_walks

    edges = random_graph(n=50, m=500, seed=41)
    sdf = spark.createDataFrame(
        [(i, 7) for i in range(6)], "walk_id long, vertex long"
    )
    got = random_walks(spark, make_edges(edges), sdf, 4).collect()
    paths = defaultdict(list)
    for r in got:
        paths[r["walk_id"]].append((r["step"], r["vertex"]))
    distinct = {tuple(sorted(p)) for p in paths.values()}
    assert len(distinct) > 1


def cylinder(rings):
    """Triangulated cylinder of ``rings`` 5-vertex rings: vertex 5r+j,
    edges (r,j)-(r,j+1 mod 5), (r,j)-(r+1,j) and (r,j)-(r+1,j+1 mod 5).
    Its 4-truss is empty and the k=4 peel drops one ring per round."""
    edges = []
    for r in range(rings):
        for j in range(5):
            v = 5 * r + j
            edges.append((v, 5 * r + (j + 1) % 5, 1.0))
            if r + 1 < rings:
                edges.append((v, 5 * (r + 1) + j, 1.0))
                edges.append((v, 5 * (r + 1) + (j + 1) % 5, 1.0))
    return edges


def test_deep_peel_releases_superseded_checkpoints(spark, make_edges, stored_rdds):
    """A >=20-round k-core peel must not accumulate one checkpointed
    generation per round in the block manager (DataFrame.unpersist is a
    no-op on localCheckpoint frames — the loops must release the
    superseded RDD blocks explicitly through plans/gas.release). Only O(1)
    generations may remain stored after the peel returns; a 10-round
    k-truss peel leaves as many as a 2-round one, and 10 HITS iterations
    as many as 2."""
    from mirrorofmapgraph_spark.operators.ktruss import ktruss

    stored = stored_rdds
    before = stored()
    # k=2 on a 52-vertex path peels two endpoints per round -> ~26 rounds
    edges = [(i, i + 1, 1.0) for i in range(51)]
    res = kcore(spark, make_edges(edges), 2, max_rounds=60)
    assert res.count() == 0  # a path has no 2-core
    leaked = len(stored() - before)
    assert leaked <= 2, f"peel leaked {leaked} stored RDDs"

    left = []
    for rings in (2, 10):
        before = stored()
        assert ktruss(spark, make_edges(cylinder(rings)), 4).count() == 0
        left.append(len(stored() - before))
    assert left[1] == left[0], f"k-truss peel leaked: {left} stored RDDs"

    left = []
    for iters in (2, 10):
        before = stored()
        assert hits(spark, make_edges(SMALL), iters=iters).count() == SMALL_N
        left.append(len(stored() - before))
    assert left[1] == left[0], f"HITS leaked: {left} stored RDDs"


def test_random_walks_release_hop_checkpoints(spark, make_edges, stored_rdds):
    """random_walks cuts the frontier's lineage every CHECKPOINT_EVERY hops;
    once the result is materialized those hop generations are released, so
    a 40-hop walk leaves as many stored RDDs as a 4-hop one (the result)."""
    from mirrorofmapgraph_spark.operators.walks import random_walks

    edges = make_edges(random_graph(n=50, m=500, seed=41))
    sdf = spark.createDataFrame([(i, i % 50) for i in range(20)], "walk_id long, vertex long")
    left = []
    for length in (4, 40):
        before = stored_rdds()
        assert random_walks(spark, edges, sdf, length).count() > 20
        left.append(len(stored_rdds() - before))
    assert left[1] == left[0], f"random walks leaked: {left} stored RDDs"


@pytest.mark.parametrize("algo", ["ktruss", "hits"])
def test_loop_estimate_stays_bounded(spark, make_edges, algo):
    """A loop whose next generation joins its previous one cuts through
    plans/gas.cut: a raw localCheckpoint carries the plan's size estimate
    into the next generation, where Catalyst multiplies it by itself, so
    the estimate squares every round until the driver runs out of heap.
    After 10 k-truss rounds or 8 HITS iterations the result's estimate
    must still fit in a long."""
    from mirrorofmapgraph_spark.operators.ktruss import ktruss

    edges = make_edges(cylinder(10))
    if algo == "ktruss":
        res = ktruss(spark, edges, 4)
        assert res.count() == 0
    else:
        res = hits(spark, edges, iters=8)
        assert res.count() == 50
    size = int(str(res._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert 0 < size < 2**63, f"size estimate has {len(str(size))} digits"


def test_kcore_raises_when_rounds_exhausted(spark, make_edges):
    """A truncated peel is NOT the k-core: its deg values were counted
    against the pre-peel alive set. Refuse to return it silently."""
    from mirrorofmapgraph_spark.operators.kcore import kcore

    edges = [(i, i + 1, 1.0) for i in range(51)]
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore(spark, make_edges(edges), 2, max_rounds=3)


def test_ktruss_incremental_matches_recompute(spark, make_edges):
    """The incrementally-maintained support at the fixpoint must equal a
    from-scratch support count over the surviving subgraph."""
    from mirrorofmapgraph_spark.operators.ktruss import _edge_support, ktruss

    edges = random_graph(n=40, m=420, seed=43)
    res = ktruss(spark, make_edges(edges), 4)
    got = {(r["a"], r["b"]): r["support"] for r in res.collect()}
    assert got, "fixture should have a non-empty 4-truss"
    und = res.select("a", "b")
    fresh = {
        (r["a"], r["b"]): r["support"]
        for r in _edge_support(und).collect()
    }
    assert got == {k: fresh.get(k, 0) for k in got}

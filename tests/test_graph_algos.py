"""CC / BFS / SSSP / LPA / triangles vs pure-python oracles (exact)."""

from __future__ import annotations

import math

import pytest
from fixtures import MULTI, MULTI_N, SMALL, SMALL_N, TRIVIAL, TRIVIAL_N, ches_like, random_graph
from oracles import bfs_ref, cc_ref, lpa_ref, sssp_ref, triangles_ref

from mirrorofmapgraph_spark.operators.bfs import bfs, pred_extract
from mirrorofmapgraph_spark.operators.cc import connected_components
from mirrorofmapgraph_spark.operators.labelprop import label_propagation
from mirrorofmapgraph_spark.operators.pagerank import pagerank
from mirrorofmapgraph_spark.operators.sssp import sssp
from mirrorofmapgraph_spark.operators.triangles import (
    triangle_count,
    triangle_count_per_vertex,
    triangles,
)
from mirrorofmapgraph_spark.plans.gas import GASEngine
from mirrorofmapgraph_spark.sources.edges import canonical_undirected, canonicalize


# ---- connected components (exact; component id = min vertex id) ----------

def check_cc(spark, make_edges, make_vertices, edges, n):
    res = connected_components(
        spark, canonicalize(make_edges(edges)), vertices=make_vertices(n)
    )
    got = {r["id"]: r["label"] for r in res.vertices.collect()}
    expected = cc_ref(n, edges)
    assert got == {v: expected[v] for v in range(n)}
    assert res.converged


def test_cc_small(spark, make_edges, make_vertices):
    check_cc(spark, make_edges, make_vertices, SMALL, SMALL_N)


def test_cc_multi_components(spark, make_edges, make_vertices):
    check_cc(spark, make_edges, make_vertices, MULTI, MULTI_N)


def test_cc_random(spark, make_edges, make_vertices):
    # sparse random graph -> several components
    check_cc(spark, make_edges, make_vertices, random_graph(n=300, m=350, seed=3), 300)


# ---- BFS (exact depths; source at depth 0, unreached -1) -----------------

def check_bfs(spark, make_edges, make_vertices, edges, n, src):
    res = bfs(spark, canonicalize(make_edges(edges)), src, vertices=make_vertices(n))
    got = {r["id"]: r["depth"] for r in res.vertices.collect()}
    expected = bfs_ref(n, edges, src)
    assert got == {v: expected[v] for v in range(n)}
    return res


def test_bfs_small(spark, make_edges, make_vertices):
    check_bfs(spark, make_edges, make_vertices, SMALL, SMALL_N, 0)


def test_bfs_unreachable(spark, make_edges, make_vertices):
    check_bfs(spark, make_edges, make_vertices, MULTI, MULTI_N, 5)


def test_bfs_random(spark, make_edges, make_vertices):
    check_bfs(spark, make_edges, make_vertices, random_graph(n=150, m=900, seed=11), 150, 17)


def test_bfs_pred_extract(spark, make_edges, make_vertices):
    e = canonicalize(make_edges(SMALL))
    res = bfs(spark, e, 0, vertices=make_vertices(SMALL_N))
    preds = {r["id"]: (r["depth"], r["pred"]) for r in pred_extract(res.vertices, e).collect()}
    depth = bfs_ref(SMALL_N, SMALL, 0)
    for v, (d, p) in preds.items():
        if d > 0:
            # predecessor must be an in-neighbor one level up
            assert depth[p] == d - 1
            assert any(s == p and t == v for s, t, _ in SMALL)
        else:
            assert p == -1


# ---- SSSP (exact distances; weighted) ------------------------------------

def check_sssp(spark, make_edges, make_vertices, edges, n, src):
    res = sssp(spark, canonicalize(make_edges(edges)), src, vertices=make_vertices(n))
    got = {r["id"]: r["dist"] for r in res.vertices.collect()}
    expected = sssp_ref(n, edges, src)
    for v in range(n):
        if math.isinf(expected[v]):
            assert math.isinf(got[v])
        else:
            assert math.isclose(got[v], expected[v], abs_tol=1e-9)


def test_sssp_small_weighted(spark, make_edges, make_vertices):
    # edge 0->2 has w=4; path through cheaper edges must win
    check_sssp(spark, make_edges, make_vertices, SMALL, SMALL_N, 0)


def test_sssp_random(spark, make_edges, make_vertices):
    check_sssp(spark, make_edges, make_vertices, random_graph(n=150, m=900, seed=5), 150, 3)


# ---- label propagation (deterministic synchronous semantics) -------------

def check_lpa(spark, make_edges, make_vertices, edges, n, max_iter=20):
    res = label_propagation(
        spark, canonicalize(make_edges(edges)), vertices=make_vertices(n), max_iter=max_iter
    )
    got = {r["id"]: r["label"] for r in res.vertices.collect()}
    expected = lpa_ref(n, edges, max_iter=max_iter)
    assert got == {v: expected[v] for v in range(n)}


def test_lpa_small(spark, make_edges, make_vertices):
    check_lpa(spark, make_edges, make_vertices, SMALL, SMALL_N)


def test_lpa_multi(spark, make_edges, make_vertices):
    check_lpa(spark, make_edges, make_vertices, MULTI, MULTI_N)


# ---- triangles -----------------------------------------------------------

def check_triangles(spark, make_edges, edges, n):
    e = canonicalize(make_edges(edges))
    expected = triangles_ref(n, edges)
    got = {(r["a"], r["b"], r["c"]) for r in triangles(e).collect()}
    assert got == expected
    cnt = triangle_count(e).collect()[0]["n_triangles"]
    assert cnt == len(expected)
    per_v = {r["id"]: r["n_triangles"] for r in triangle_count_per_vertex(e).collect()}
    exp_per_v = {}
    for a, b, c in expected:
        for v in (a, b, c):
            exp_per_v[v] = exp_per_v.get(v, 0) + 1
    assert per_v == exp_per_v


def test_triangles_small(spark, make_edges):
    check_triangles(spark, make_edges, SMALL, SMALL_N)


def test_triangles_ches(spark, make_edges):
    edges, n = ches_like()
    check_triangles(spark, make_edges, edges, n)


def test_triangles_random(spark, make_edges):
    check_triangles(spark, make_edges, random_graph(n=60, m=500, seed=13), 60)


def test_triangles_ids_near_int64_limit(spark, make_edges):
    """Ids near 2^62, whose three-way sum overflows int64, still come out
    as one sorted (a, b, c) row."""
    b = 2**62
    edges = [(b, b + 1, 1.0), (b + 1, b + 2, 1.0), (b + 2, b, 1.0), (b + 2, b + 3, 1.0)]
    tri = triangles(canonicalize(make_edges(edges))).collect()
    assert {(r["a"], r["b"], r["c"]) for r in tri} == {(b, b + 1, b + 2)}


# ---- multi-source + random-source harness (reference bfs.cu:340-397) -------

def test_bfs_random_sources_harness(spark, make_edges, make_vertices):
    """Reference parity: 20 seeded random non-isolated sources, each BFS
    validated against the sequential numpy oracle (bfs.cu:340-397 runs 100
    random sources per graph; 20 keeps CI wall-time sane)."""
    from mirrorofmapgraph_spark.operators.bfs import random_sources
    from mirrorofmapgraph_spark.plans.gas import GASEngine

    n = 60
    edges = random_graph(n=n, m=240, seed=9)
    e = canonicalize(make_edges(edges))
    engine = GASEngine(spark, e, collect_metrics=False)
    srcs = random_sources(e, 20, seed=3)
    assert len(srcs) == 20 and len(set(srcs)) == 20
    py_edges = sorted({(s, d) for s, d, _ in edges})
    for src in srcs:
        want = bfs_ref(n, [(s, d, 1.0) for s, d in py_edges], src)
        res = bfs(spark, e, src, vertices=make_vertices(n), engine=engine)
        got = {r["id"]: r["depth"] for r in res.vertices.collect()}
        for v in range(n):
            assert got[v] == want[v], f"src={src} vertex={v}: {got[v]} != {want[v]}"
    engine.unpersist()


def test_bfs_multi_source(spark, make_edges, make_vertices):
    """Multi-source BFS = min depth over sources; absent ids ignored."""
    edges = random_graph(n=50, m=150, seed=11)
    e = canonicalize(make_edges(edges))
    sources = [0, 7, 23, 9999]  # 9999 not in the graph
    res = bfs(spark, e, sources, vertices=make_vertices(50))
    got = {r["id"]: r["depth"] for r in res.vertices.collect()}
    per_src = [bfs_ref(50, edges, s) for s in [0, 7, 23]]
    for v in range(50):
        reach = [d[v] for d in per_src if d[v] >= 0]
        want = min(reach) if reach else -1
        assert got[v] == want, f"vertex {v}: {got[v]} != {want}"


def test_sssp_multi_source(spark, make_edges, make_vertices):
    edges = random_graph(n=50, m=200, seed=13)
    e = canonicalize(make_edges(edges))
    dedup = {}
    for s, d, w in edges:
        dedup[(s, d)] = min(w, dedup.get((s, d), w))
    py_edges = [(s, d, w) for (s, d), w in sorted(dedup.items())]
    sources = [1, 31]
    res = sssp(spark, e, sources, vertices=make_vertices(50))
    got = {r["id"]: r["dist"] for r in res.vertices.collect()}
    per_src = [sssp_ref(50, py_edges, s) for s in sources]
    for v in range(50):
        want = min(d[v] for d in per_src)
        assert math.isclose(got[v], want) or (got[v] == want), (
            f"vertex {v}: {got[v]} != {want}"
        )


# ---- RMAT skew fixture + salted gather --------------------------------------

def test_rmat_deterministic_across_parallelism(spark):
    from mirrorofmapgraph_spark.sources.rmat import rmat_edges

    a = rmat_edges(spark, scale=8, edge_factor=4, num_partitions=2)
    b = rmat_edges(spark, scale=8, edge_factor=4, num_partitions=16)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_rmat_is_skewed(spark):
    """RMAT(0.45,.15,.15) must produce a hub-heavy degree distribution:
    max out-degree orders of magnitude above the mean."""
    from mirrorofmapgraph_spark.sources.edges import out_degrees
    from mirrorofmapgraph_spark.sources.rmat import rmat_edges
    from pyspark.sql import functions as F

    # Graph500 parameters (a=0.57): the unperturbed reference defaults
    # (a=0.45) only develop strong hubs at much larger scales
    e = rmat_edges(spark, scale=12, edge_factor=8, a=0.57, b=0.19, c=0.19)
    deg = out_degrees(e).agg(
        F.max("out_deg").alias("mx"), F.avg("out_deg").alias("avg")
    ).collect()[0]
    assert deg["mx"] > 20 * deg["avg"], f"max {deg['mx']} vs avg {deg['avg']:.1f}"


def test_salted_gather_correct_on_hub(spark):
    """1-hub star graph (worst-case reduce skew): salted two-level gather
    must produce bit-identical PageRank to the unsalted path."""
    from mirrorofmapgraph_spark.operators.pagerank import pagerank
    from mirrorofmapgraph_spark.sources.edges import hub_vertices
    from mirrorofmapgraph_spark.sources.rmat import star_edges

    e = star_edges(spark, spokes=50_000)
    # hub detection surfaces the salting candidate
    hubs = [(r["id"], r["in_deg"]) for r in hub_vertices(e, min_degree=10_000).collect()]
    assert hubs == [(0, 50_000)]
    plain = pagerank(spark, e, tol=0.0, max_iter=2, salt_buckets=0,
                     collect_metrics=False)
    salted = pagerank(spark, e, tol=0.0, max_iter=2, salt_buckets=8,
                      collect_metrics=False)
    hub_plain = plain.vertices.filter("id = 0").collect()[0]["rank"]
    hub_salted = salted.vertices.filter("id = 0").collect()[0]["rank"]
    # two-level aggregation sums in a different order -> equal within
    # float tolerance (the BASELINE allclose bar is 1e-6)
    assert math.isclose(hub_plain, hub_salted, rel_tol=0, abs_tol=1e-6)
    # hub absorbed all 50k spokes' rank: 0.15 + 0.85 * 50000 * 0.15
    assert math.isclose(hub_plain, 0.15 + 0.85 * 50_000 * 0.15, rel_tol=1e-9)
    diff = (
        plain.vertices.withColumnRenamed("rank", "r1")
        .join(salted.vertices.withColumnRenamed("rank", "r2"), "id")
        .filter("abs(r1 - r2) > 1e-6")
        .count()
    )
    assert diff == 0


def test_unknown_direction_raises(spark, make_edges):
    """A program's direction is one of the engine's two layout keys; any
    other value (the old gather/expand selectors "all" and "in" included)
    raises before a job runs, naming both."""
    import dataclasses

    from pyspark.sql import functions as F

    from mirrorofmapgraph_spark.operators.pagerank import pagerank_program

    e = make_edges(SMALL)
    engine = GASEngine(spark, e)
    v = e.select(F.col("src").alias("id"))
    for direction in ("all", "in"):
        prog = dataclasses.replace(pagerank_program(), direction=direction)
        with pytest.raises(ValueError, match="'fwd' or 'both'"):
            engine.run(prog, v, v)
        with pytest.raises(ValueError, match="'fwd' or 'both'"):
            engine.vertex_stats(direction)
    assert not engine._edges_by  # nothing was persisted


def test_cc_native_all_matches_symmetrized(spark, make_edges, make_vertices):
    """direction='both' over the RAW directed table (edge table persisted
    once, no symmetrize build shuffle) gives the same labels as over the
    symmetrized table: the min combiner ignores the duplicate messages."""
    from mirrorofmapgraph_spark.sources.edges import canonicalize, symmetrize

    n = 200
    edges = random_graph(n=n, m=500, seed=21)
    e = canonicalize(make_edges(edges))
    a = connected_components(spark, e, vertices=make_vertices(n))
    b = connected_components(spark, symmetrize(e), vertices=make_vertices(n))
    ga = {r["id"]: r["label"] for r in a.vertices.collect()}
    gb = {r["id"]: r["label"] for r in b.vertices.collect()}
    expected = cc_ref(n, edges)
    assert ga == gb == {v: expected[v] for v in range(n)}
    assert a.converged and b.converged


def test_labelprop_canonical_matches_symmetrized(spark, make_edges, make_vertices):
    """direction='both' over the canonical (src<dst) table reproduces the
    oracle per superstep (neighbor label MULTISETS matter for the mode
    combiner, not just connectivity) — including on a graph with
    reciprocal directed pairs — and a symmetrized input canonicalizes to
    the same labels."""
    from mirrorofmapgraph_spark.operators.labelprop import label_propagation
    from mirrorofmapgraph_spark.sources.edges import canonicalize, symmetrize

    n = 100
    edges = random_graph(n=n, m=260, seed=23)
    # force reciprocal pairs (the case where naive both-direction traversal
    # over a directed table would double-count)
    edges = edges + [(d, s, w) for s, d, w in edges[:40]]
    e = canonicalize(make_edges(edges))
    for k in (1, 2, 5):
        a = label_propagation(spark, e, vertices=make_vertices(n), max_iter=k)
        b = label_propagation(spark, symmetrize(e), vertices=make_vertices(n), max_iter=k)
        ga = {r["id"]: r["label"] for r in a.vertices.collect()}
        gb = {r["id"]: r["label"] for r in b.vertices.collect()}
        expected = lpa_ref(n, edges, max_iter=k)
        assert ga == {v: expected[v] for v in range(n)}, f"diverged at max_iter={k}"
        assert gb == ga, f"symmetrized input diverged at max_iter={k}"


def test_bfs_duplicate_dataframe_sources(spark, make_edges, make_vertices):
    """A DataFrame source with REPEATED ids must not fan out the init join
    (one row per vertex invariant) — result equals the deduped source set."""
    edges = random_graph(n=50, m=150, seed=11)
    e = canonicalize(make_edges(edges))
    src_df = spark.createDataFrame([(0,), (7,), (7,), (0,), (23,)], "id long")
    res = bfs(spark, e, src_df, vertices=make_vertices(50))
    rows = res.vertices.collect()
    assert len(rows) == 50  # no duplicated vertex rows
    got = {r["id"]: r["depth"] for r in rows}
    per_src = [bfs_ref(50, edges, s) for s in [0, 7, 23]]
    for v in range(50):
        reach = [d[v] for d in per_src if d[v] >= 0]
        want = min(reach) if reach else -1
        assert got[v] == want, f"vertex {v}: {got[v]} != {want}"


# ---- engine storage --------------------------------------------------------

@pytest.mark.parametrize("algo", ["pagerank", "cc", "labelprop"])
def test_run_leaves_only_its_result_persisted(spark, make_edges, make_vertices, algo):
    """After a run and engine.unpersist(), the one RDD the run leaves
    persisted is its returned state: the discarded speculative cuts, the
    entry frontier and the last frontiers are released at loop exit."""
    sc = spark.sparkContext

    def persisted():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}

    n = 200
    e = canonicalize(make_edges(random_graph(n=n, m=600, seed=7)))
    before = persisted()
    if algo == "pagerank":
        engine = GASEngine(spark, e)
        res = pagerank(spark, e, vertices=make_vertices(n), damping=0.5, engine=engine)
    elif algo == "cc":
        engine = GASEngine(spark, e)
        res = connected_components(spark, e, vertices=make_vertices(n), engine=engine)
    else:
        engine = GASEngine(spark, canonical_undirected(e))
        res = label_propagation(spark, e, vertices=make_vertices(n), engine=engine)
    engine.unpersist()
    assert len(persisted() - before) == 1
    assert res.vertices.count() == n


def test_repeated_operator_calls_persist_only_their_results(
    spark, make_edges, make_vertices
):
    """A GAS operator called without ``engine=`` releases the derived
    frames of the engine it builds once the result is cut, and leaves the
    persisted edge copies in Spark's cache for the next call over the same
    edges: a repeated call adds exactly its returned state to the
    persistent RDDs, clearing the cache leaves exactly the two returned
    states, and those still read."""
    from mirrorofmapgraph_spark.operators.pagerank import (
        personalized_pagerank,
        weighted_pagerank,
    )

    sc = spark.sparkContext

    def persisted():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}

    def state_rdd(df):
        """Id of the checkpointed RDD a result frame reads."""
        plan = df._jdf.queryExecution().analyzed()
        while not plan.getClass().getName().endswith(".LogicalRDD"):
            plan = plan.children().apply(0)
        return int(plan.rdd().id())

    n = 120
    e = canonicalize(make_edges(random_graph(n=n, m=400, seed=5)))
    v = make_vertices(n)
    calls = {
        "pagerank": lambda: pagerank(spark, e, vertices=v, damping=0.5, max_iter=4),
        "personalized_pagerank": lambda: personalized_pagerank(
            spark, e, [0, 1], vertices=v, damping=0.5, max_iter=4
        ),
        "weighted_pagerank": lambda: weighted_pagerank(
            spark, e, vertices=v, damping=0.5, max_iter=4
        ),
        "cc": lambda: connected_components(spark, e, vertices=v),
        "labelprop": lambda: label_propagation(spark, e, vertices=v, max_iter=3),
        "bfs": lambda: bfs(spark, e, 0, vertices=v),
        "sssp": lambda: sssp(spark, e, 0, vertices=v),
    }
    for name, call in calls.items():
        spark.catalog.clearCache()
        before = persisted()
        first = call()
        mid = persisted()
        second = call()
        assert persisted() - mid == {state_rdd(second.vertices)}, name
        spark.catalog.clearCache()
        new = persisted() - before
        assert new == {state_rdd(r.vertices) for r in (first, second)}, name
        assert len(new) == 2, name
        assert [r.vertices.count() for r in (first, second)] == [n, n], name


def test_triangle_family_persists_shared_by_plan(spark, make_edges):
    """The triangle family keeps its two edge-sized persists (the
    canonical pairs and their degree orientation) for the caller's
    ``clearCache``, like the GAS edge copies: the first triangle_count
    adds exactly those two persistent RDDs, a repeated call adds none,
    each ktruss call over the same edges reuses them and adds only its
    returned result, and clearing the cache leaves only the ktruss
    results."""
    from mirrorofmapgraph_spark.operators.ktruss import ktruss

    sc = spark.sparkContext

    def persisted():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}

    edges = random_graph(n=60, m=240, seed=13)
    e = canonicalize(make_edges(edges))
    want = len(triangles_ref(60, edges))
    spark.catalog.clearCache()
    before = persisted()
    assert triangle_count(e).first()["n_triangles"] == want
    shared = persisted() - before
    assert len(shared) == 2
    assert triangle_count(e).first()["n_triangles"] == want
    assert persisted() - before == shared
    results = []
    for _ in range(2):
        mid = persisted()
        t = ktruss(spark, e, 3)
        assert t.count() > 0
        (added,) = persisted() - mid  # the returned result only
        results.append(added)
    spark.catalog.clearCache()
    assert persisted() - before == set(results)

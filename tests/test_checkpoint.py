"""Checkpoint/resume equivalence (north rule): interrupt after superstep k,
resume from the manifest, converge to the same result."""

from __future__ import annotations

import json
import os

from fixtures import SMALL, SMALL_N, random_graph
from oracles import cc_ref, pagerank_ref

from mirrorofmapgraph_spark.operators.cc import connected_components
from mirrorofmapgraph_spark.operators.pagerank import pagerank
from mirrorofmapgraph_spark.plans.gas import GASEngine
from mirrorofmapgraph_spark.sources.edges import canonicalize, symmetrize


def test_cc_resume_equivalence(spark, make_edges, make_vertices, tmp_path):
    n = 300
    edges = random_graph(n=n, m=360, seed=3)
    e = symmetrize(canonicalize(make_edges(edges)))
    ckpt = str(tmp_path / "cc_ck")

    # phase 1: run only 2 supersteps ("interrupted"), durable checkpoint each
    eng1 = GASEngine(spark, e, checkpoint_dir=ckpt, checkpoint_every=1)
    partial = connected_components(
        spark, e, vertices=make_vertices(n), max_iter=2, pre_symmetrized=True, engine=eng1
    )
    assert not partial.converged

    manifest = json.load(open(os.path.join(ckpt, "cc", "manifest.json")))
    assert manifest["superstep"] == 2
    assert manifest["partition_lineage"] and sum(
        p["rows"] for p in manifest["partition_lineage"]
    ) == n
    assert len(manifest["metrics"]) == 2

    # phase 2: fresh engine resumes from the manifest and converges
    eng2 = GASEngine(spark, e, checkpoint_dir=ckpt, checkpoint_every=5)
    res = connected_components(
        spark, e, vertices=make_vertices(n), pre_symmetrized=True, engine=eng2, resume=True
    )
    assert res.converged
    got = {r["id"]: r["label"] for r in res.vertices.collect()}
    expected = cc_ref(n, edges)
    assert got == {v: expected[v] for v in range(n)}
    # resumed run continued from step 2, not from scratch
    assert res.metrics[0].superstep == 1  # full metric history preserved
    assert res.metrics[-1].superstep == 2 + res.supersteps


def test_pagerank_resume_matches_uninterrupted(spark, make_edges, make_vertices, tmp_path):
    n = 80
    edges = random_graph(n=n, m=500, seed=9)
    e = canonicalize(make_edges(edges))
    ckpt = str(tmp_path / "pr_ck")

    eng1 = GASEngine(spark, e, checkpoint_dir=ckpt, checkpoint_every=2)
    pagerank(
        spark, e, vertices=make_vertices(n), tol=1e-6, max_iter=3, damping=0.5, engine=eng1
    )

    eng2 = GASEngine(spark, e, checkpoint_dir=ckpt, checkpoint_every=10)
    res = pagerank(
        spark, e, vertices=make_vertices(n), tol=1e-6, max_iter=500, damping=0.5,
        engine=eng2, resume=True,
    )
    assert res.converged
    expected, _ = pagerank_ref(n, edges, tol=1e-6, max_iter=500, damping=0.5)
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    for v in range(n):
        assert abs(got[v] - expected[v]) < 1e-6



def test_resume_from_manifest_without_regime(spark, make_edges, make_vertices, tmp_path):
    """Manifests written before SuperstepMetrics.regime existed carry no
    such key in their metrics; resume still loads them (regime "") and
    records the regime of every step it runs itself."""
    e = canonicalize(make_edges(SMALL))
    ckpt = str(tmp_path / "pr_old_ck")
    eng1 = GASEngine(spark, e, checkpoint_dir=ckpt, checkpoint_every=1)
    pagerank(spark, e, vertices=make_vertices(SMALL_N), max_iter=2, engine=eng1)

    mpath = os.path.join(ckpt, "pagerank", "manifest.json")
    manifest = json.load(open(mpath))
    for m in manifest["metrics"]:
        del m["regime"]
    json.dump(manifest, open(mpath, "w"))

    eng2 = GASEngine(spark, e, checkpoint_dir=ckpt, checkpoint_every=10)
    res = pagerank(
        spark, e, vertices=make_vertices(SMALL_N), engine=eng2, resume=True
    )
    assert res.converged
    assert [m.regime for m in res.metrics[:2]] == ["", ""]
    assert all(m.regime in ("all", "partial") for m in res.metrics[2:])
    assert len(res.metrics) == 2 + res.supersteps
    expected, _ = pagerank_ref(SMALL_N, SMALL)
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    for v in range(SMALL_N):
        assert abs(got[v] - expected[v]) < 1e-6

def test_labelprop_resume_equivalence(spark, make_edges, make_vertices, tmp_path):
    """LPA now runs through the engine (round-2 verdict missing #5):
    interrupt after 1 superstep, resume from the manifest, and match an
    uninterrupted run exactly."""
    from mirrorofmapgraph_spark.operators.labelprop import label_propagation

    n = 120
    edges = random_graph(n=n, m=300, seed=11)
    e = canonicalize(make_edges(edges))
    ckpt = str(tmp_path / "lpa_ck")

    # a caller-supplied engine must hold the same canonical undirected
    # table label_propagation would build itself
    from mirrorofmapgraph_spark.sources.edges import canonical_undirected

    und = canonical_undirected(e)
    eng1 = GASEngine(spark, und, checkpoint_dir=ckpt, checkpoint_every=1)
    partial = label_propagation(
        spark, e, vertices=make_vertices(n), max_iter=1, engine=eng1
    )
    assert not partial.converged
    manifest = json.load(open(os.path.join(ckpt, "labelprop", "manifest.json")))
    assert manifest["superstep"] == 1
    assert sum(p["rows"] for p in manifest["partition_lineage"]) == n

    eng2 = GASEngine(spark, und, checkpoint_dir=ckpt, checkpoint_every=5)
    res = label_propagation(
        spark, e, vertices=make_vertices(n), max_iter=20, engine=eng2, resume=True
    )
    straight = label_propagation(
        spark, e, vertices=make_vertices(n), max_iter=20
    )
    got = {r["id"]: r["label"] for r in res.vertices.collect()}
    want = {r["id"]: r["label"] for r in straight.vertices.collect()}
    assert got == want
    assert res.metrics[0].superstep == 1  # history preserved across resume

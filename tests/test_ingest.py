"""Source-table synthesis -> pandas-UDF link extraction -> dense-id edge
table; sha256 per-row invariant (BASELINE.json input_hint)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from fixtures import SMALL, SMALL_N
from mirrorofmapgraph_spark.sources.codegen import synthesize_repo_table
from mirrorofmapgraph_spark.sources.extract import build_link_graph, extract_edges, with_sha256
from mirrorofmapgraph_spark.sources.ids import assign_dense_ids


def test_extraction_roundtrip_small(spark):
    """Encode the SMALL fixture into source files; extraction must recover
    exactly those edges."""
    src_tbl = synthesize_repo_table(
        spark, edges=[(s, d) for s, d, _ in SMALL], n_repos=SMALL_N, files_per_repo=1
    )
    raw = extract_edges(src_tbl)
    got = {
        (int(r["src_key"][4:8]), int(r["dst_key"][4:8]))
        for r in raw.collect()
    }
    assert got == {(s, d) for s, d, _ in SMALL}


def test_multilang_and_multifile(spark):
    src_tbl = synthesize_repo_table(spark, n_repos=9, files_per_repo=3)
    # all three languages present
    langs = {r["lang"] for r in src_tbl.select("lang").distinct().collect()}
    assert langs == {"python", "c", "java"}
    raw = extract_edges(src_tbl)
    assert raw.count() > 0
    # every dst key refers to an existing module
    keys = {
        f"{r['repo']}/mod{int(r['path'].split('mod')[1].split('.')[0]):03d}"
        for r in src_tbl.collect()
    }
    for r in raw.collect():
        assert r["dst_key"] in keys, r["dst_key"]


def test_sha256_invariant(spark):
    """content sha256 computed by the pipeline == independent python sha256,
    and survives the full build unchanged."""
    src_tbl = synthesize_repo_table(spark, n_repos=7, files_per_repo=2)
    edges, vertices, source_sha = build_link_graph(src_tbl)
    edges.count()  # force the full pipeline
    rows = source_sha.select("repo", "path", "content", "content_sha256").collect()
    assert len(rows) == 14
    for r in rows:
        assert hashlib.sha256(r["content"].encode()).hexdigest() == r["content_sha256"]


def test_dense_ids(spark):
    keys = spark.createDataFrame(
        [(f"k{i:03d}",) for i in (5, 3, 9, 1, 7, 3, 5)], "key string"
    )
    ids = assign_dense_ids(keys)
    rows = sorted((r["key"], r["id"]) for r in ids.collect())
    assert [i for _, i in rows] == [0, 1, 2, 3, 4]  # dense, sorted by key
    assert [k for k, _ in rows] == ["k001", "k003", "k005", "k007", "k009"]


def test_dense_ids_are_key_ranks_across_partitions(spark):
    """5,000 distinct keys, each twice, spread over 7 shuffled input
    partitions with AQE on: the ids are exactly 0..n-1 in sorted-key order,
    whatever range bounds the sort samples."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        # 7919 is prime, so i * 7919 mod 5000 visits every key once per
        # 5,000 rows, out of order
        keys = (
            spark.range(0, 10_000, numPartitions=7)
            .select(F.format_string("k%05d", F.col("id") * 7919 % 5000).alias("key"))
            .repartition(7)
        )
        rows = sorted((r["id"], r["key"]) for r in assign_dense_ids(keys).collect())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert [i for i, _ in rows] == list(range(5000))
    assert [k for _, k in rows] == [f"k{i:05d}" for i in range(5000)]


def test_build_link_graph_leaves_nothing_stored(spark, stored_rdds):
    """Ingest pins nothing of its own: counting an unpersisted edge frame
    leaves no new stored RDD."""
    src_tbl = synthesize_repo_table(spark, n_repos=12, files_per_repo=2)
    before = stored_rdds()
    edges, _vertices, _ = build_link_graph(src_tbl)
    assert edges.count() > 0
    assert stored_rdds() - before == set()


def test_build_link_graph_end_to_end(spark):
    src_tbl = synthesize_repo_table(spark, n_repos=12, files_per_repo=2)
    edges, vertices, _ = build_link_graph(src_tbl)
    n = vertices.count()
    assert n == 24
    e = edges.collect()
    assert all(0 <= r["src"] < n and 0 <= r["dst"] < n for r in e)
    # ids must be dense and deterministic across rebuilds
    edges2, vertices2, _ = build_link_graph(src_tbl)
    assert sorted((r["src"], r["dst"]) for r in edges.collect()) == sorted(
        (r["src"], r["dst"]) for r in edges2.collect()
    )


def test_read_mtx_roundtrip_small(spark):
    """tests/data/small.mtx mirrors the reference's smallRegressionGraphs
    small.mtx (FIXTURES.md F2a); reader must produce exactly the SMALL
    fixture edges, 0-based, with weights (market.cuh:43-167 semantics)."""
    import os

    from mirrorofmapgraph_spark.sources.mtx import read_mtx

    path = os.path.join(os.path.dirname(__file__), "data", "small.mtx")
    got = {(r["src"], r["dst"], r["w"]) for r in read_mtx(spark, path).collect()}
    assert got == set(SMALL)
    assert len(got) == 11


def test_read_mtx_symmetric_pattern(spark):
    """pattern+symmetric banner: weight defaults to 1.0 and the reverse
    edge is materialized (market.cuh:116, 131-139)."""
    import os

    from mirrorofmapgraph_spark.sources.mtx import read_mtx

    path = os.path.join(os.path.dirname(__file__), "data", "trivial_sym.mtx")
    got = {(r["src"], r["dst"]) for r in read_mtx(spark, path).collect()}
    fwd = {(1, 0), (2, 1), (3, 2), (4, 3)}
    assert got == fwd | {(b, a) for a, b in fwd}
    w = {r["w"] for r in read_mtx(spark, path).collect()}
    assert w == {1.0}


def test_read_mtx_feeds_pagerank(spark):
    """End-to-end: .mtx -> GAS PageRank matches the numpy oracle (the
    reference's regression flow over smallRegressionGraphs)."""
    import math
    import os

    from oracles import pagerank_ref

    from mirrorofmapgraph_spark.operators.pagerank import pagerank
    from mirrorofmapgraph_spark.sources.mtx import read_mtx

    path = os.path.join(os.path.dirname(__file__), "data", "small.mtx")
    edges = read_mtx(spark, path)
    res = pagerank(spark, edges, tol=1e-6, max_iter=100)
    expected, _ = pagerank_ref(SMALL_N, sorted(SMALL), tol=1e-6, max_iter=100)
    got = {r["id"]: r["rank"] for r in res.vertices.collect()}
    for v in range(SMALL_N):
        assert math.isclose(got[v], expected[v], rel_tol=0, abs_tol=1e-6)


def test_read_mtx_rejects_sizeless_file(spark, tmp_path):
    """Comment-only / non-MatrixMarket input must fail loudly, not return
    an empty edge set."""
    import pytest as _pytest

    p = tmp_path / "bad.mtx"
    p.write_text("%%MatrixMarket matrix coordinate pattern general\n% only comments\n")
    from mirrorofmapgraph_spark.sources.mtx import read_mtx

    with _pytest.raises(ValueError, match="size line"):
        read_mtx(spark, str(p))


def test_distributed_specs_match_driver_path(spark):
    """The default (edges=None) table is built distributively from
    spark.range; feeding the SAME ring+chord edge list through the
    driver-built fixture path must yield byte-identical rows."""
    n_repos, fpr, K = 6, 2, 3
    n = n_repos * fpr
    ring = sorted(
        {(v, (v + k * k) % n) for v in range(n) for k in range(1, K + 1)}
        - {(v, v) for v in range(n)}
    )
    dist = synthesize_repo_table(
        spark, n_repos=n_repos, files_per_repo=fpr, extra_ring_links=K
    )
    drv = synthesize_repo_table(
        spark, edges=ring, n_repos=n_repos, files_per_repo=fpr
    )
    cols = ["repo", "path", "commit", "lang", "content"]
    a = sorted(tuple(r) for r in dist.select(*cols).collect())
    b = sorted(tuple(r) for r in drv.select(*cols).collect())
    assert a == b

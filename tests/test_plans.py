"""Physical-plan shape assertions — the 100 TB contract, checked.

Correctness tests prove the right ANSWER; these prove the right PLAN:
filters reach the parquet scan, small dimensions broadcast, co-partitioned
loop joins don't degenerate into cartesian products, and the projection is
pruned to the columns actually read. Substring checks over
``explain('formatted')`` output are intentionally loose (Spark renames
operators across minor versions) but each would catch the regression it
names."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_tpch_q6_filters_pushed_to_scan(spark):
    import __spark_entry__ as m

    p = plan(m.q_tpch_q6(spark, SF_DIR))
    assert "PushedFilters" in p
    # the shipdate range + discount bounds must reach the parquet reader
    assert "l_shipdate" in p.split("PushedFilters")[1][:400]
    assert "l_discount" in p.split("PushedFilters")[1][:400]


def test_tpch_q6_reads_only_needed_columns(spark):
    import __spark_entry__ as m

    p = plan(m.q_tpch_q6(spark, SF_DIR))
    schema = p.split("ReadSchema")[1].split("\n")[0]
    # projection pruned: the wide lineitem table contributes only the
    # 4 referenced columns, not l_comment and friends
    assert "l_extendedprice" in schema and "l_discount" in schema
    assert "l_comment" not in schema and "l_shipinstruct" not in schema


def test_tpch_q3_broadcasts_the_filtered_dimension(spark):
    import __spark_entry__ as m

    p = plan(m.q_tpch_q3(spark, SF_DIR))
    assert "BroadcastHashJoin" in p  # customer side is small -> broadcast
    assert "CartesianProduct" not in p


def test_gas_pull_superstep_plan_shape(spark, make_edges):
    """One pull-mode gather plan: equi hash joins only — no cartesian, no
    nested-loop fallback — and a partial aggregation before the exchange
    (map-side combine keeps hub skew off the reduce side)."""
    from fixtures import SMALL
    from mirrorofmapgraph_spark.operators.pagerank import pagerank_program
    from mirrorofmapgraph_spark.plans.gas import GASEngine, RunState
    from mirrorofmapgraph_spark.sources.edges import out_degrees, vertex_frame

    edges = make_edges(SMALL)
    eng = GASEngine(spark, edges, collect_metrics=False)
    verts = vertex_frame(edges)
    v0 = (
        verts.join(out_degrees(edges), "id", "left")
        .select("id", F.lit(0.15).alias("rank"),
                F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"))
    )
    n = v0.count()
    rs = RunState(pagerank_program(), n)
    applied = eng._superstep_pull(rs, v0, verts.select("id"), n)
    p = plan(applied)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "HashAggregate" in p
    assert "partial_sum" in p or "partial" in p.lower()  # map-side combine


def test_knn_brute_force_streams_corpus_once(spark):
    """The corpus must stream ONCE through the Arrow scoring kernel (the
    query batch ships inside the kernel closure as a numpy matrix); no
    per-pair join of corpus x queries, and only (query_id, vec_id, score)
    scalars reach the top-k shuffle."""
    import __spark_entry__ as m

    p = plan(m.q_emb_knn_bruteforce(spark, SF_DIR))
    assert "MapInPandas" in p  # batched numpy scoring kernel
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # exactly one corpus scan feeds the kernel, pruned to id + vector
    scans = [s for s in p.split("ReadSchema")[1:]]
    assert len(scans) == 1
    assert "embedding" in scans[0].split("\n")[0]


def test_ivf_assignment_has_no_window_over_corpus(spark):
    """Corpus-side argmax must be an aggregation with a PARTIAL stage
    below the exchange (map-side combine), not a row_number window that
    sorts corpus x nlist rows per partition key. (max(struct(..)) compiles
    to SortAggregate — structs are not hash-aggregable — but the partial/
    final split is what matters for skew.)"""
    from mirrorofmapgraph_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_centroids(emb, nlist=8)
    p = plan(ivf_assign(emb, cents))
    assert "Window" not in p
    agg = "SortAggregate" if "SortAggregate" in p else "HashAggregate"
    # two aggregate stages around the exchange = partial + final
    assert p.count(agg) >= 2 and "Exchange" in p
    before_exchange = p.split("Exchange")[0]
    assert agg in before_exchange  # final agg above, partial below
    assert "BroadcastExchange" in p  # centroid side broadcast


def test_random_walk_hop_joins_on_both_keys(spark, make_edges):
    """The hop must equi-join on (src, rn) — rn in the hash key, NOT a
    post-join residual that scans the full adjacency of each frontier
    vertex (a 4M-degree hub would cost 4M rows per walk standing on it)."""
    from mirrorofmapgraph_spark.operators.walks import _hop, indexed_adjacency

    edges = make_edges([(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0)])
    base = indexed_adjacency(edges)
    degs = base.select("src", "deg").distinct()
    adj = base.join(
        degs.select(F.col("src").alias("dst"), F.col("deg").alias("next_deg")),
        "dst",
        "left",
    )
    cur = spark.createDataFrame([(7, 0, 2)], "walk_id long, vertex long, deg long")
    p = plan(_hop(cur, adj, 1))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # every hash-join key list that contains src must also contain rn
    key_lines = [
        ln for ln in p.splitlines()
        if ("keys [" in ln.lower()) and "src#" in ln
    ]
    # the hop join itself: src AND rn both in the hash key...
    assert any("rn#" in ln for ln in key_lines), p
    # ...and no single-key src-only join anywhere (the residual shape)
    assert not any("[1]:" in ln for ln in key_lines), "\n".join(key_lines)

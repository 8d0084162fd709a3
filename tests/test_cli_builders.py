"""Graph builders (b40c/graph/builder/*.cuh parity), the CLI driver
(Algorithms/BFS/bfs.cu:261-295 argv surface), and the tolerance-histogram
comparator (regressions/checkPageRank.py:17-57)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mirrorofmapgraph_spark.functions.compare import check_histogram, diff_histogram
from mirrorofmapgraph_spark.sources.builders import (
    grid2d_edges,
    grid3d_edges,
    random_edges,
    read_dimacs,
    rr_edges,
)


# ---- builders -------------------------------------------------------------

def test_random_edges_deterministic_and_bounded(spark):
    e1 = random_edges(spark, n_vertices=100, n_edges=500, seed=7).collect()
    e2 = random_edges(spark, n_vertices=100, n_edges=500, seed=7,
                      num_partitions=3).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e2))  # parallelism-stable
    assert all(0 <= r["src"] < 100 and 0 <= r["dst"] < 100 for r in e1)
    assert all(r["src"] != r["dst"] for r in e1)


def test_rr_edges_out_regular(spark):
    deg = (
        rr_edges(spark, n_vertices=64, degree=5, seed=3)
        .groupBy("src").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in deg] == [5]  # exactly degree out-edges each
    # no self loops (rerouted)
    assert rr_edges(spark, n_vertices=64, degree=5).filter("src = dst").count() == 0


def test_grid2d_structure(spark):
    w = 5
    e = grid2d_edges(spark, width=w).collect()
    # 4-neighborhood lattice: 2*w*(w-1) undirected edges, both directions
    assert len(e) == 2 * 2 * w * (w - 1)
    # symmetric
    s = {(r["src"], r["dst"]) for r in e}
    assert all((d, x) in s for x, d in s)
    # corner 0 has exactly 2 neighbors; center has 4
    from collections import Counter

    deg = Counter(r["src"] for r in e)
    assert deg[0] == 2 and deg[w + 1] == 4


def test_grid3d_structure(spark):
    w = 3
    e = grid3d_edges(spark, width=w).collect()
    assert len(e) == 2 * 3 * w * w * (w - 1)  # 3 axes of w^2*(w-1) edges, doubled
    from collections import Counter

    deg = Counter(r["src"] for r in e)
    assert deg[0] == 3  # corner
    assert deg[w * w + w + 1] == 6  # interior center of 3^3


def test_grid2d_bfs_is_manhattan_distance(spark):
    """BFS depth from the corner of a 4-neighborhood lattice is the
    Manhattan distance — closed-form gate on builder + engine."""
    from mirrorofmapgraph_spark.operators.bfs import bfs

    w = 6
    res = bfs(spark, grid2d_edges(spark, width=w), 0, collect_metrics=False)
    got = {r["id"]: r["depth"] for r in res.vertices.collect()}
    assert got == {y * w + x: x + y for x in range(w) for y in range(w)}


def test_read_dimacs(spark, tmp_path):
    p = tmp_path / "g.gr"
    p.write_text(
        "c tiny DIMACS fixture\np sp 4 5\n"
        "a 1 2 3.5\na 2 3 1.0\na 3 4 2.0\na 4 1 1.5\na 1 3 9.0\n"
    )
    rows = sorted(map(tuple, read_dimacs(spark, str(p)).collect()))
    assert rows == [(0, 1, 3.5), (0, 2, 9.0), (1, 2, 1.0), (2, 3, 2.0), (3, 0, 1.5)]
    bad = tmp_path / "bad.gr"
    bad.write_text("p sp 2 1\na 1 x 1.0\n")
    with pytest.raises(ValueError, match="malformed"):
        read_dimacs(spark, str(bad))


# ---- CLI ------------------------------------------------------------------

def test_cli_pagerank_mtx_to_text(spark, tmp_path):
    from mirrorofmapgraph_spark.cli import run

    mtx = tmp_path / "g.mtx"
    mtx.write_text(
        "%%MatrixMarket matrix coordinate real general\n4 4 4\n"
        "1 2 1.0\n2 3 1.0\n3 4 1.0\n4 1 1.0\n"
    )
    out = tmp_path / "ranks.txt"
    rc = run(["pagerank", "-g", str(mtx), "-o", str(out), "-p", "tol=1e-6 iter_num=60"])
    assert rc == 0
    part = next(out.glob("part-*.csv"))
    lines = [ln.split() for ln in part.read_text().strip().splitlines()]
    assert [int(v) for v, _ in lines] == [0, 1, 2, 3]
    # symmetric ring -> equal ranks, sum preserved at n * 0.15 / (1-d) scale
    ranks = [float(r) for _, r in lines]
    assert max(ranks) - min(ranks) < 1e-9
    assert ranks[0] == pytest.approx(1.0, abs=1e-4)  # 0.15/(1-0.85)


def test_cli_bfs_generator_sources_and_params(spark, tmp_path, capsys):
    from mirrorofmapgraph_spark.cli import run

    out = tmp_path / "depths"
    srcfile = tmp_path / "srcs.txt"
    srcfile.write_text("c comment\n3\n")  # 1-based source 3 -> vertex 2
    rc = run([
        "bfs", "-g", "grid2d:width=4", "-o", str(out), "-s", str(srcfile),
        "-p", "origin=1 iter_num=20",
    ])
    assert rc == 0
    got = {r["id"]: r["depth"] for r in spark.read.parquet(str(out)).collect()}
    # source vertex 2 = (x=2,y=0); depth = manhattan distance to it
    assert got == {y * 4 + x: abs(x - 2) + y for x in range(4) for y in range(4)}
    assert "superstep" not in capsys.readouterr().err  # no stats=1


def test_cli_config_file_and_ignored_params(spark, tmp_path, capsys):
    from mirrorofmapgraph_spark.cli import run

    cfg = tmp_path / "momg.cfg"
    cfg.write_text("# reference-style config\niter_num 3\ndevice 0\nstats=1\n")
    rc = run(["cc", "-g", "rr:n=32,degree=3", "-c", str(cfg)])
    assert rc == 0
    err = capsys.readouterr().err
    assert "ignored" in err and "device" in err
    assert "superstep" in err  # stats=1 printed metrics


def test_cli_directed0_symmetrizes(spark, tmp_path):
    """cc over a directed chain: directed=0 must make it one component in
    the symmetrized traversal — same result the raw-table both-direction
    engine gives, exercising the reference's 'directed' parameter."""
    from mirrorofmapgraph_spark.cli import run

    pq = tmp_path / "chain"
    spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0)], "src long, dst long, w double"
    ).write.parquet(str(pq))
    out = tmp_path / "labels"
    rc = run(["cc", "-g", str(pq), "-o", str(out), "-p", "directed=0"])
    assert rc == 0
    labels = {r["label"] for r in spark.read.parquet(str(out)).collect()}
    assert labels == {0}


# ---- tolerance-histogram comparator --------------------------------------

def _frame(spark, vals):
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, rank double"
    )


def test_histogram_accepts_reference_ladder(spark):
    """10k vertices: all within 1e-4 except a tail the ladder allows —
    the reference's graded acceptance (checkPageRank.py:52-56)."""
    gold = _frame(spark, [1.0] * 10_000)
    vals = [1.0 + 1e-6] * 10_000
    vals[0] = 1.0 + 5e-4   # bucket 1: 1/10000 <= 1e-2
    vals[1] = 1.0 + 5e-3   # bucket 2: 1/10000 <= 5e-3
    chk = check_histogram(_frame(spark, vals), gold)
    assert chk.ok and chk.total == 10_000 and chk.missing_in_gold == 0
    assert chk.fractions[0] == pytest.approx(0.9998)


def test_histogram_rejects_gross_diff_and_missing(spark):
    gold = _frame(spark, [1.0] * 100)
    bad = [1.0] * 100
    bad[7] = 25.0  # beyond the last rung: allowed fraction is 0
    assert not check_histogram(_frame(spark, bad), gold).ok
    # a test id absent from gold is a hard fail (checkPageRank.py:27-29)
    test = _frame(spark, [1.0] * 101)
    chk = check_histogram(test, gold)
    assert not chk.ok and chk.missing_in_gold == 1


def test_diff_histogram_buckets_are_distributed(spark):
    """Plan gate: the histogram is a join + hash aggregate with map-side
    partial aggregation — no window, no driver loop."""
    gold = _frame(spark, range(100))
    test = _frame(spark, range(100))
    plan = diff_histogram(test, gold)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "Window" not in plan

# ---- spark-submit --py-files (north-rule launch path) ---------------------

def test_spark_submit_py_files_end_to_end(tmp_path):
    """The north rule's launch contract: the job runs via ``spark-submit
    --py-files momg.zip`` in a FRESH driver process whose imports resolve
    ONLY from the shipped zip — the checkout is absent from cwd/PYTHONPATH,
    exactly how a multi-executor cluster receives the package. Also pins
    that get_spark defers to spark-submit's --master instead of forcing
    the sandbox local[N] fallback (the parallelism knob a real cluster
    turns). Reference launch parity: README:36-44, bfs.cu:261-295."""
    import os
    import shutil
    import subprocess
    import sys
    import zipfile
    from pathlib import Path

    import pyspark

    repo = Path(__file__).resolve().parent.parent
    zpath = tmp_path / "momg.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in (repo / "mirrorofmapgraph_spark").rglob("*.py"):
            z.write(p, p.relative_to(repo))
    # the entry script is copied OUT of the repo so its local-checkout
    # sys.path fallback points at tmp_path (empty): the engine import can
    # only come from the --py-files zip
    entry = tmp_path / "scripts" / "momg.py"
    entry.parent.mkdir()
    shutil.copy(repo / "scripts" / "momg.py", entry)
    mtx = tmp_path / "ring.mtx"
    mtx.write_text(
        "%%MatrixMarket matrix coordinate real general\n"
        "4 4 4\n1 2 1.0\n2 3 1.0\n3 4 1.0\n4 1 1.0\n"
    )
    out = tmp_path / "ranks.txt"
    submit = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    r = subprocess.run(
        [
            str(submit), "--master", "local[2]", "--py-files", str(zpath),
            str(entry), "pagerank", "-g", str(mtx), "-o", str(out),
            "-p", "tol=1e-6 iter_num=60 partitions=2",
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, (r.stderr or "")[-3000:]
    part = next(out.glob("part-*.csv"))
    lines = [ln.split() for ln in part.read_text().strip().splitlines()]
    assert [int(v) for v, _ in lines] == [0, 1, 2, 3]
    ranks = [float(x) for _, x in lines]
    # symmetric ring: equal ranks at the 0.15/(1-0.85)=1.0 fixed point
    assert max(ranks) - min(ranks) < 1e-9
    assert abs(ranks[0] - 1.0) < 1e-4


def test_cli_extended_algos(spark, tmp_path):
    """The round-4 link-analysis layer through the argv surface: hits on
    a ring (symmetric scores), kcore/ktruss with -p k=, linkpred caps."""
    from mirrorofmapgraph_spark.cli import run

    mtx = tmp_path / "g.mtx"
    mtx.write_text(
        "%%MatrixMarket matrix coordinate real general\n4 4 4\n"
        "1 2 1.0\n2 3 1.0\n3 4 1.0\n4 1 1.0\n"
    )
    out = tmp_path / "hits.parquet"
    assert run(["hits", "-g", str(mtx), "-o", str(out), "-p", "iter_num=2"]) == 0
    rows = {r["id"]: (r["hub"], r["auth"]) for r in spark.read.parquet(str(out)).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert all(h == pytest.approx(0.25, abs=1e-6) for h, _ in rows.values())

    out2 = tmp_path / "core.parquet"
    assert run(["kcore", "-g", str(mtx), "-o", str(out2), "-p", "k=2"]) == 0
    assert spark.read.parquet(str(out2)).count() == 4  # ring = its own 2-core

    out3 = tmp_path / "truss.parquet"
    assert run(["ktruss", "-g", str(mtx), "-o", str(out3), "-p", "k=3"]) == 0
    assert spark.read.parquet(str(out3)).count() == 0  # ring has no triangles

    out4 = tmp_path / "lp.parquet"
    assert run(["linkpred", "-g", str(mtx), "-o", str(out4)]) == 0
    lp = {(r["u"], r["v"]): r["cn"] for r in spark.read.parquet(str(out4)).collect()}
    # ring 0-1-2-3: non-adjacent pairs (0,2) and (1,3), 2 common nbrs each
    assert lp == {(0, 2): 2, (1, 3): 2}


def test_cli_wpr_and_walks(spark, tmp_path):
    """The gate-green wpr and walks operators through the argv surface
    (round-4 verdict #7): weighted PageRank on a uniform-weight ring equals
    uniform PageRank's fixed point; walks emit walks*len(sources) walk ids
    of length+1 steps each (a ring has no sinks), starting at the sources."""
    from mirrorofmapgraph_spark.cli import run

    mtx = tmp_path / "g.mtx"
    mtx.write_text(
        "%%MatrixMarket matrix coordinate real general\n4 4 4\n"
        "1 2 1.0\n2 3 1.0\n3 4 1.0\n4 1 1.0\n"
    )
    out = tmp_path / "wpr.parquet"
    assert run(["wpr", "-g", str(mtx), "-o", str(out),
                "-p", "tol=1e-6 iter_num=60"]) == 0
    ranks = [r["rank"] for r in spark.read.parquet(str(out)).collect()]
    assert len(ranks) == 4
    assert max(ranks) - min(ranks) < 1e-9  # symmetric ring, uniform weights
    assert abs(ranks[0] - 1.0) < 1e-4      # 0.15 / (1 - 0.85)

    out2 = tmp_path / "walks.parquet"
    assert run(["walks", "-g", str(mtx), "-o", str(out2),
                "-p", "src=0,2 walks=3 length=5"]) == 0
    rows = spark.read.parquet(str(out2)).collect()
    by_walk = {}
    for r in rows:
        by_walk.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    assert set(by_walk) == {0, 1, 2, 3, 4, 5}  # 2 sources x 3 walks each
    for wid, steps in by_walk.items():
        assert set(steps) == set(range(6))     # ring: no sinks, full length
        assert steps[0] == (0 if wid < 3 else 2)
        # each hop follows a ring edge (directed cycle: v -> v+1 mod 4)
        for t in range(1, 6):
            assert steps[t] == (steps[t - 1] + 1) % 4


def test_read_metis_unweighted_and_weighted(spark, tmp_path):
    """METIS adjacency reader (b40c/graph/builder/metis.cuh parity):
    line position = vertex id, '%' comments skipped, 1-based -> 0-based
    shift, edge-weight fmt '001', vertex-weight fmts rejected."""
    from mirrorofmapgraph_spark.sources.builders import read_metis

    # the classic 7-vertex METIS manual example graph (unweighted):
    p = tmp_path / "g.graph"
    p.write_text(
        "% comment header\n7 11\n"
        "5 3 2\n1 3 4\n% mid comment\n5 4 2 1\n2 3 6 7\n1 3 6\n5 4 7\n6 4\n"
    )
    rows = {(r["src"], r["dst"]) for r in read_metis(spark, str(p)).collect()}
    assert len(rows) == 22  # 11 undirected edges, both directions listed
    assert (0, 4) in rows and (4, 0) in rows and (3, 6) in rows
    # symmetric (METIS adjacency lists both directions)
    assert all((d, s) in rows for s, d in rows)

    pw = tmp_path / "w.graph"
    pw.write_text("3 2 001\n2 7.5\n1 7.5 3 2.0\n2 2.0\n")
    got = sorted(map(tuple, read_metis(spark, str(pw)).collect()))
    assert got == [(0, 1, 7.5), (1, 0, 7.5), (1, 2, 2.0), (2, 1, 2.0)]

    bad = tmp_path / "vw.graph"
    bad.write_text("2 1 011\n1 1 2\n1 2\n")
    with pytest.raises(NotImplementedError, match="vertex weights"):
        read_metis(spark, str(bad))


def test_cli_metis_bfs(spark, tmp_path):
    """BFS through the METIS path on a 4-ring written as adjacency lists."""
    from mirrorofmapgraph_spark.cli import run

    p = tmp_path / "ring.metis"
    p.write_text("4 4\n2 4\n1 3\n2 4\n3 1\n")
    out = tmp_path / "depths"
    assert run(["bfs", "-g", str(p), "-o", str(out), "-p", "src=0"]) == 0
    got = {r["id"]: r["depth"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1}

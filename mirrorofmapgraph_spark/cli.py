"""Command-line driver — the reference's user entry point, Spark-first.

Parity target: each reference algorithm ships a binary whose argv surface
is ``-g/-graph FILE  -o/-output FILE  -s/-sources FILE  -p/-parameters
"k=v k=v"  -c CONFIG`` (Algorithms/BFS/bfs.cu:261-295) over a registered
parameter DB (src, origin, directed, iter_num, tol, threshold, device,
max_queue_sizing, stats, run_CPU — config.h:70-175, register.h:27-40).
This module reproduces that surface over the Spark engine:

    spark-submit scripts/momg.py pagerank -g graph.mtx -o out -p "tol=1e-6"
    python -m mirrorofmapgraph_spark.cli bfs -g rmat:scale=16,ef=16 \
        -p "src=0 iter_num=50" -o /tmp/depths

Graph specs (``-g``): a ``.mtx`` file (Matrix Market), a ``.gr`` file
(9th-DIMACS), a ``.graph``/``.metis`` file (METIS adjacency), a parquet
path/dir with (src, dst[, w]) columns, or a
generator spec ``rmat:scale=16,ef=16`` / ``random:n=4096,m=65536`` /
``grid2d:width=64`` / ``grid3d:width=16`` / ``rr:n=4096,degree=8``
(b40c/graph/builder/*.cuh parity — see sources/builders.py).

Algorithms: the reference's four kernels (bfs, sssp, pagerank, cc) plus
labelprop and triangles (north rule) and the extended link-analysis layer
(ppr, hits, kcore, ktruss, linkpred, wpr, walks — ``k=``,
``max_pivot_degree=``, ``min_common=``, ``walks=``/``length=`` ride in
``-p``; walk starts come from ``src=``/``-s`` like bfs sources).

Parameter mapping (reference name -> here):
  src           source vertex id(s), comma-separated (bfs/sssp/ppr)
  origin        0 or 1: id base of ``src`` and ``-s`` files (default 0;
                the reference reads 1-based mtx sources, origin=1)
  iter_num      max supersteps (default: per-algorithm)
  tol           PageRank convergence threshold (default 1e-6)
  directed      0 symmetrizes the edge table before running (default 1)
  threshold     frontier broadcast threshold -> GASEngine.broadcast_threshold
  stats         1 prints per-superstep metrics to stderr
  salt          gather salt buckets (two-level skew aggregation)
  partitions    shuffle/loop partition count
  checkpoint    checkpoint dir (resume with resume=1)
  resume        1 resumes from ``checkpoint``
  device, max_queue_sizing, run_CPU, with_value
                accepted for argv compatibility, no-ops here (GPU memory
                sizing and the CPU harness are execution details Spark
                owns; a note is printed once).

Output (``-o``): parquet by default; a path ending in ``.txt``/``.tsv``
writes space-delimited text lines (vid value), the reference's result
format (bfs.cu:506-515).
"""

from __future__ import annotations

import argparse
import sys
from typing import Sequence

ALGOS = (
    "bfs", "sssp", "pagerank", "cc", "labelprop", "triangles",
    "ppr", "hits", "kcore", "ktruss", "linkpred", "wpr", "walks",
)
_IGNORED = {"device", "max_queue_sizing", "run_CPU", "with_value", "run_cpu"}


def _parse_kv(text: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for tok in text.split():
        # a comma separates k=v pairs ("scale=16,ef=16") UNLESS it is part
        # of a value list ("src=0,2"): only split when every segment is
        # itself a k=v pair
        parts = [p for p in tok.split(",") if p]
        if len(parts) <= 1 or not all("=" in p for p in parts):
            parts = [tok]
        for p in parts:
            if "=" not in p:
                raise SystemExit(f"bad parameter '{p}' (want key=value)")
            k, v = p.split("=", 1)
            out[k.strip()] = v.strip()
    return out


def _parse_config_file(path: str) -> dict[str, str]:
    """Reference-style config file: one ``key value`` or ``key=value`` per
    line, '#' comments (config.h parseFile analogue)."""
    out: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.split("#", 1)[0].strip()
            if not line:
                continue
            if "=" in line:
                k, v = line.split("=", 1)
            else:
                k, _, v = line.partition(" ")
            out[k.strip()] = v.strip()
    return out


def load_graph(spark, spec: str):
    """Resolve a ``-g`` graph spec to an edge DataFrame (src, dst, w)."""
    from pyspark.sql import functions as F

    if ":" in spec and not spec.startswith("/") and not spec.startswith("."):
        kind, _, rest = spec.partition(":")
        kv = _parse_kv(rest) if rest else {}
        g = {k: int(v) if v.lstrip("-").isdigit() else float(v) for k, v in kv.items()}
        from .sources import builders, rmat

        if kind == "rmat":
            return rmat.rmat_edges(
                spark, scale=int(g["scale"]), edge_factor=int(g.get("ef", 16)),
                a=g.get("a", 0.45), b=g.get("b", 0.15), c=g.get("c", 0.15),
                seed=int(g.get("seed", 1)),
            )
        if kind == "random":
            return builders.random_edges(
                spark, n_vertices=int(g["n"]), n_edges=int(g["m"]),
                seed=int(g.get("seed", 1)),
            )
        if kind == "grid2d":
            return builders.grid2d_edges(
                spark, width=int(g["width"]), height=int(g["height"]) if "height" in g else None,
            )
        if kind == "grid3d":
            return builders.grid3d_edges(spark, width=int(g["width"]))
        if kind == "rr":
            return builders.rr_edges(
                spark, n_vertices=int(g["n"]), degree=int(g["degree"]),
                seed=int(g.get("seed", 1)),
            )
        raise SystemExit(f"unknown generator '{kind}' (rmat|random|grid2d|grid3d|rr)")
    if spec.endswith(".mtx"):
        from .sources.mtx import read_mtx

        return read_mtx(spark, spec)
    if spec.endswith(".gr"):
        from .sources.builders import read_dimacs

        return read_dimacs(spark, spec)
    if spec.endswith((".graph", ".metis")):
        from .sources.builders import read_metis

        return read_metis(spark, spec)
    df = spark.read.parquet(spec)
    if "w" not in df.columns:
        df = df.withColumn("w", F.lit(1.0))
    return df.select("src", "dst", "w")


def _sources(params: dict[str, str], sources_file: str | None) -> list[int]:
    origin = int(params.get("origin", "0"))
    ids: list[int] = []
    if sources_file:
        with open(sources_file) as f:
            for line in f:
                line = line.strip()
                if line and not line.startswith(("%", "#", "c")):
                    ids.append(int(line.split()[0]))
    if "src" in params:
        ids += [int(s) for s in params["src"].split(",")]
    if not ids:
        ids = [origin]  # reference default: first vertex
    return [i - origin for i in ids]


def run(argv: Sequence[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="momg", description="MirrorOfMapGraph-on-Spark CLI driver"
    )
    p.add_argument("algo", choices=ALGOS)
    p.add_argument("-g", "--graph", required=True, help="graph file or generator spec")
    p.add_argument("-o", "--output", default=None, help="result path (.txt/.tsv = text)")
    p.add_argument("-s", "--sources", default=None, help="file of source vertex ids")
    p.add_argument("-p", "--parameters", default="", help='"k=v k=v" parameter string')
    p.add_argument("-c", "--config", default=None, help="config file of parameters")
    p.add_argument("--master", default=None, help="Spark master (default spark-submit's)")
    args = p.parse_args(argv)

    params: dict[str, str] = {}
    if args.config:
        params.update(_parse_config_file(args.config))
    params.update(_parse_kv(args.parameters))
    ignored = sorted(set(params) & _IGNORED)
    if ignored:
        print(
            f"momg: parameters {ignored} accepted for compatibility but "
            "ignored (Spark owns memory sizing / device placement)",
            file=sys.stderr,
        )

    from .session import get_spark

    sess_kw = {}
    if params.get("partitions"):
        sess_kw["shuffle_partitions"] = int(params["partitions"])
    spark = get_spark(app_name=f"momg-{args.algo}", master=args.master, **sess_kw)

    edges = load_graph(spark, args.graph)
    if int(params.get("directed", "1")) == 0:
        from .sources.edges import symmetrize

        edges = symmetrize(edges)

    eng_kw = {}
    if "threshold" in params:
        eng_kw["broadcast_threshold"] = int(params["threshold"])
    if "salt" in params:
        eng_kw["salt_buckets"] = int(params["salt"])
    if "partitions" in params:
        eng_kw["num_partitions"] = int(params["partitions"])
    if "checkpoint" in params:
        eng_kw["checkpoint_dir"] = params["checkpoint"]
        eng_kw["checkpoint_every"] = int(params.get("checkpoint_every", "3"))
    resume = int(params.get("resume", "0")) == 1
    iter_num = params.get("iter_num")

    result = _dispatch(spark, args.algo, edges, params, eng_kw, resume, iter_num,
                       args.sources)
    df, metrics = result
    if metrics and int(params.get("stats", "0")) == 1:
        for mt in metrics:
            print(f"superstep {mt.superstep}: frontier={mt.frontier_size} "
                  f"edges={mt.edges_traversed} wall_ms={mt.wall_ms:.0f}",
                  file=sys.stderr)
    if args.output:
        _write(df, args.output)
    else:
        df.show(20, truncate=False)
    return 0


def _dispatch(spark, algo, edges, params, eng_kw, resume, iter_num, sources_file):
    from .operators import bfs as bfs_mod
    from .operators import cc as cc_mod
    from .operators import labelprop as lp_mod
    from .operators import pagerank as pr_mod
    from .operators import sssp as sssp_mod
    from .operators import triangles as tri_mod

    if algo == "triangles":
        return tri_mod.triangle_count_per_vertex(edges), None
    if algo == "hits":
        from .operators import hits as hits_mod

        return hits_mod.hits(spark, edges, iters=int(iter_num or 5)), None
    if algo == "kcore":
        from .operators import kcore as kcore_mod

        return kcore_mod.kcore(spark, edges, int(params.get("k", "2"))), None
    if algo == "ktruss":
        from .operators import ktruss as ktruss_mod

        return ktruss_mod.ktruss(spark, edges, int(params.get("k", "3"))), None
    if algo == "linkpred":
        from .operators import linkpred as lp2_mod

        cap = params.get("max_pivot_degree")
        return lp2_mod.link_prediction(
            edges,
            max_pivot_degree=int(cap) if cap is not None else None,
            min_common=int(params.get("min_common", "1")),
        ), None
    if algo == "wpr":
        res = pr_mod.weighted_pagerank(
            spark, edges,
            damping=float(params.get("damping", "0.85")),
            tol=float(params.get("tol", "1e-6")),
            max_iter=int(iter_num or 100), resume=resume, **eng_kw,
        )
        return res.vertices.select("id", "rank"), res.metrics
    if algo == "walks":
        from .operators import walks as walks_mod

        srcs = _sources(params, sources_file)
        per = int(params.get("walks", "1"))  # walks per source vertex
        length = int(params.get("length", "4"))
        starts = spark.createDataFrame(
            [(i * per + j, s) for i, s in enumerate(srcs) for j in range(per)],
            "walk_id long, vertex long",
        )
        return walks_mod.random_walks(spark, edges, starts, length), None
    if algo == "ppr":
        res = pr_mod.personalized_pagerank(
            spark, edges, _sources(params, sources_file),
            damping=float(params.get("damping", "0.85")),
            tol=float(params.get("tol", "1e-6")),
            max_iter=int(iter_num or 100), **eng_kw,
        )
        return res.vertices.select("id", "rank"), res.metrics
    if algo == "pagerank":
        res = pr_mod.pagerank(
            spark, edges,
            damping=float(params.get("damping", "0.85")),
            tol=float(params.get("tol", "1e-6")),
            max_iter=int(iter_num or 100), resume=resume, **eng_kw,
        )
        return res.vertices.select("id", "rank"), res.metrics
    if algo == "cc":
        res = cc_mod.connected_components(
            spark, edges, max_iter=int(iter_num or 200), resume=resume, **eng_kw
        )
        return res.vertices, res.metrics
    if algo == "labelprop":
        res = lp_mod.label_propagation(
            spark, edges, max_iter=int(iter_num or 20), resume=resume, **eng_kw
        )
        return res.vertices, res.metrics
    srcs = _sources(params, sources_file)
    if algo == "bfs":
        res = bfs_mod.bfs(spark, edges, srcs, max_iter=int(iter_num or 10_000), **eng_kw)
        return res.vertices, res.metrics
    res = sssp_mod.sssp(spark, edges, srcs, max_iter=int(iter_num or 10_000), **eng_kw)
    return res.vertices, res.metrics


def _write(df, out: str) -> None:
    if out.endswith((".txt", ".tsv")):
        # reference result format: one "vid value" line per vertex
        # (bfs.cu:506-515). Single text file => coalesce(1); fine for the
        # result sizes this format is for (per-vertex scalars).
        sep = "\t" if out.endswith(".tsv") else " "
        (df.orderBy(df.columns[0]).coalesce(1)
           .write.mode("overwrite").option("delimiter", sep).csv(out))
    else:
        df.write.mode("overwrite").parquet(out)


def main() -> None:
    raise SystemExit(run())


if __name__ == "__main__":
    main()

"""Workload inputs, oracles and timed jobs.

Each workload generates its inputs from the seed during set-up, computes
the expected answers with the Spark-free oracles of ``tests/oracles.py``,
and exposes one timed ``job`` that calls the engine through its public
signatures (never passing ``engine=``). The job receives a ``span``
context-manager factory: a no-op in untraced runs, the tracer's span in
traced runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from oracles import cc_ref, lpa_ref, pagerank_ref, triangles_ref

LINK_V = 4000  # vertex-id modulus of __spark_entry__._edges
# the link pairs __spark_entry__._edges derives from the sf0.01 lineitem
# table (written by data/make_links.py)
SF001_LINKS = Path(__file__).resolve().parent / "data" / "sf0.01_links.npz"
PR_TOL = 1e-6
PR_ATOL = 1e-6


def _edge_list(src, dst) -> list:
    """(src, dst, 1.0) triples, the edge form tests/oracles.py takes."""
    return [(s, d, 1.0) for s, d in zip(src.tolist(), dst.tolist())]


def rmat_pairs(scale, edge_factor, seed, a=0.57, b=0.19, c=0.19):
    """Distinct non-loop (src, dst) pairs of an R-MAT graph with 2^scale
    vertices and edge_factor * 2^scale edge slots (Graph500 quadrant
    probabilities by default)."""
    rng = np.random.default_rng(seed)
    m = edge_factor << scale
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for _ in range(scale):
        u = rng.random(m)
        src = src * 2 + (u >= a + b)
        dst = dst * 2 + (((u >= a) & (u < a + b)) | (u >= a + b + c))
    keep = src != dst
    return np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)


# --------------------------------------------------------------------------
# job outcome
# --------------------------------------------------------------------------

@dataclass
class GasCall:
    """One GAS operator call as the benchmark saw it."""

    program: str
    n_vertices: int
    # changed-vertex count at which a pull program's next superstep takes
    # the engine's all-changed branch (every sender changed, or every
    # vertex when the program declares no sender predicate); None for push
    # programs, which always take the partial-frontier branch
    all_changed_at: int | None
    supersteps: int
    steps: list  # SuperstepMetrics of the steps THIS call ran
    entry_frontier: int  # frontier size the call's first step ran on


@dataclass
class JobOutcome:
    wall_s: float
    gas: list[GasCall] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    resume_s: float = 0.0
    files: int = 0
    edges: int = 0
    checkpoint_bytes: int = 0

    @property
    def supersteps(self) -> int:
        return sum(c.supersteps for c in self.gas)

    @property
    def edges_traversed(self) -> int:
        return sum(m.edges_traversed for c in self.gas for m in c.steps)


def _gas_call(res, program: str, n_vertices: int, all_changed_at, entry_frontier: int) -> GasCall:
    steps = res.metrics[len(res.metrics) - res.supersteps:] if res.supersteps else []
    return GasCall(program, n_vertices, all_changed_at, res.supersteps, steps, entry_frontier)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class PageRankWorkload:
    """PageRank to tol 1e-6 (or ``max_iter`` supersteps) over
    ``__spark_entry__._edges`` of the sf0.01 lineitem table. The links are
    read from ``SF001_LINKS``; the seed applies a bijective relabel of the
    4000 vertex ids, so every seed runs an isomorphic graph whose
    hash-partition placement differs.

    Job times in a fresh process keep falling over the first jobs: the
    first takes two and a half to three times as long as the second, and
    the second is 15-35% slower than the third. So two untimed warm-up
    jobs, the same job as the timed ones and checked the same way, precede
    them, and solve_s is the median of at least three timed jobs."""

    warmup_jobs = 2
    min_timed_jobs = 3

    def __init__(self, name: str, max_iter: int, why: str):
        self.name, self.max_iter, self.why = name, max_iter, why

    def prepare(self, spark, workdir: str, seed: int) -> dict:
        links = np.load(SF001_LINKS)
        perm = np.random.default_rng(seed).permutation(LINK_V)
        src, dst = perm[links["src"]], perm[links["dst"]]
        sf_dir = os.path.join(workdir, f"{self.name}_input")
        os.makedirs(sf_dir, exist_ok=True)
        pq.write_table(
            pa.table({"l_orderkey": src, "l_partkey": dst}),
            os.path.join(sf_dir, "lineitem.parquet"),
        )
        edges = _edge_list(src, dst)
        return {
            "sf_dir": sf_dir,
            "expected": np.array(
                pagerank_ref(LINK_V, edges, tol=PR_TOL, max_iter=self.max_iter)[0]
            ),
            "present": np.unique(np.concatenate([src, dst])),
            "senders": int(len(np.unique(src))),
        }

    def job(self, spark, prep: dict, span, workdir: str) -> JobOutcome:
        import __spark_entry__ as entry
        from mirrorofmapgraph_spark.operators.pagerank import pagerank

        t0 = time.perf_counter()
        with span("job"), span("operators.pagerank"):
            edges = entry._edges(spark, prep["sf_dir"])
            res = pagerank(spark, edges, tol=PR_TOL, max_iter=self.max_iter)
            got = res.vertices.select("id", "rank").toPandas()
        out = JobOutcome(wall_s=time.perf_counter() - t0)
        out.gas.append(
            _gas_call(res, "pagerank", len(prep["present"]), prep["senders"], len(prep["present"]))
        )
        ids = got["id"].to_numpy()
        if not np.array_equal(np.sort(ids), prep["present"]):
            out.failures.append("pagerank: vertex set differs from the input's")
        else:
            err = np.abs(got["rank"].to_numpy() - prep["expected"][ids])
            if not (err <= PR_ATOL).all():
                out.failures.append(
                    f"pagerank: {int((err > PR_ATOL).sum())} ranks off by > "
                    f"{PR_ATOL} (max {err.max():.3g})"
                )
        return out


class RepoPipelineWorkload:
    """R-MAT link structure rendered into the (repo, path, commit, lang,
    content) source table and written to parquet in set-up; the timed job
    ingests it and runs CC, LPA with a durable-checkpoint resume, and
    triangle counting over the extracted link graph.

    The first job in a process takes about twice as long as the next, so
    an untimed warm-up job, the same job as the timed one and checked the
    same way, precedes it.

    The scale (11) and edge factor (16) are chosen so that the superstep
    count barely varies with the seed: LPA never reaches its fixpoint
    within its two steps, and CC converges in four supersteps on 93 of the
    seeds 1 to 100 and in five on the other seven."""

    warmup_jobs = 1
    min_timed_jobs = 1

    FILES_PER_REPO = 16
    LPA_FIRST, LPA_TOTAL = 1, 2  # steps of the first call, total after the resume

    def __init__(self, name: str, scale: int, edge_factor: int, why: str):
        self.name, self.scale, self.edge_factor, self.why = (
            name, scale, edge_factor, why,
        )

    def prepare(self, spark, workdir: str, seed: int) -> dict:
        from mirrorofmapgraph_spark.sources.codegen import synthesize_repo_table

        n = 1 << self.scale
        pairs = rmat_pairs(self.scale, self.edge_factor, seed)
        table_dir = os.path.join(workdir, f"{self.name}_input", "repo_table")
        synthesize_repo_table(
            spark, [tuple(p) for p in pairs.tolist()],
            n_repos=n // self.FILES_PER_REPO, files_per_repo=self.FILES_PER_REPO,
        ).write.mode("overwrite").parquet(table_dir)

        tbl = pq.read_table(table_dir, columns=["repo", "path", "content"])
        sha = {
            (r, p): hashlib.sha256(c.encode("utf-8")).hexdigest()
            for r, p, c in zip(
                tbl.column("repo").to_pylist(),
                tbl.column("path").to_pylist(),
                tbl.column("content").to_pylist(),
            )
        }
        # dense ids are the rank of the zero-padded module key, i.e. of the
        # vertex ordinal, among the vertices that carry a link
        present = np.unique(pairs)
        src = np.searchsorted(present, pairs[:, 0])
        dst = np.searchsorted(present, pairs[:, 1])
        nv = len(present)
        edges = _edge_list(src, dst)
        return {
            "table_dir": table_dir,
            "files": tbl.num_rows,
            "sha": sha,
            "n_edges": int(len(pairs)),
            "cc": cc_ref(nv, edges),
            "lpa": lpa_ref(nv, edges, max_iter=self.LPA_TOTAL),
            "triangles": len(triangles_ref(nv, edges)),
            "n_vertices": nv,
        }

    def job(self, spark, prep: dict, span, workdir: str) -> JobOutcome:
        from pyspark.storagelevel import StorageLevel

        from mirrorofmapgraph_spark.operators.cc import connected_components
        from mirrorofmapgraph_spark.operators.labelprop import label_propagation
        from mirrorofmapgraph_spark.operators.triangles import triangle_count
        from mirrorofmapgraph_spark.sources.extract import build_link_graph

        ck = os.path.join(workdir, "checkpoints")
        shutil.rmtree(ck, ignore_errors=True)  # a stale manifest skips work
        nv = prep["n_vertices"]
        lpa_first, lpa_total = self.LPA_FIRST, self.LPA_TOTAL
        t0 = time.perf_counter()
        with span("job"):
            with span("sources.build_link_graph"):
                edges, _vertices, source_sha = build_link_graph(
                    spark.read.parquet(prep["table_dir"])
                )
                edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
                n_edges = edges.count()
                shas = source_sha.select("repo", "path", "content_sha256").collect()
            with span("operators.cc"):
                cc = connected_components(spark, edges, checkpoint_dir=ck, checkpoint_every=1)
                cc_got = cc.vertices.select("id", "label").toPandas()
            with span("operators.labelprop"):
                lp1 = label_propagation(
                    spark, edges, max_iter=lpa_first,
                    checkpoint_dir=ck, checkpoint_every=1,
                )
            with span("operators.labelprop"):
                t_resume = time.perf_counter()
                lp2 = label_propagation(
                    spark, edges, max_iter=lpa_total,
                    checkpoint_dir=ck, checkpoint_every=1, resume=True,
                )
                resume_wall = time.perf_counter() - t_resume
                lp_got = lp2.vertices.select("id", "label").toPandas()
            with span("operators.triangles"):
                n_tri = int(triangle_count(edges).first()["n_triangles"])
            edges.unpersist()
        out = JobOutcome(wall_s=time.perf_counter() - t0)

        entry = lp1.metrics[-1].frontier_size if lp1.metrics else nv
        out.gas += [
            _gas_call(cc, "cc", nv, None, nv),
            _gas_call(lp1, "labelprop", nv, nv, nv),
            _gas_call(lp2, "labelprop", nv, nv, entry),
        ]
        resumed = out.gas[-1]
        out.resume_s = resume_wall - sum(m.wall_ms for m in resumed.steps) / 1000.0
        out.files, out.edges = prep["files"], n_edges
        out.checkpoint_bytes = _dir_bytes(ck)
        shutil.rmtree(ck, ignore_errors=True)

        # a resume that found no checkpoint reruns every step from scratch
        # and still ends on the right labels
        if lp2.supersteps != lpa_total - lpa_first or len(lp2.metrics) != lpa_total:
            out.failures.append(
                f"labelprop resume: ran {lp2.supersteps} of {len(lp2.metrics)} steps, "
                f"expected {lpa_total - lpa_first} of {lpa_total}"
            )
        if n_edges != prep["n_edges"]:
            out.failures.append(f"ingest: {n_edges} edges, expected {prep['n_edges']}")
        got_sha = {(r["repo"], r["path"]): r["content_sha256"] for r in shas}
        if len(shas) != len(prep["sha"]) or got_sha != prep["sha"]:
            bad = sum(1 for k, v in prep["sha"].items() if got_sha.get(k) != v)
            out.failures.append(f"ingest: {bad} rows with a wrong sha256")
        for what, got, want in (
            ("cc", cc_got, prep["cc"]),
            ("labelprop resume", lp_got, prep["lpa"]),
        ):
            got = got.sort_values("id")
            if not np.array_equal(got["id"].to_numpy(), np.arange(nv)):
                out.failures.append(f"{what}: vertex ids are not 0..{nv - 1}")
            elif not np.array_equal(got["label"].to_numpy(), want):
                bad = int((got["label"].to_numpy() != want).sum())
                out.failures.append(f"{what}: {bad} labels differ from the oracle")
        if n_tri != prep["triangles"]:
            out.failures.append(f"triangles: {n_tri}, expected {prep['triangles']}")
        return out


WORKLOADS = {
    w.name: w
    for w in (
        PageRankWorkload(
            "pagerank_sf0.01", 8,
            "8 supersteps; half the vertices are pure sources, so every step after "
            "the first takes the partial-frontier expand/broadcast path",
        ),
        RepoPipelineWorkload(
            "repo_pipeline", 11, 16,
            "ingest (sha256, pandas-UDF extraction, dense ids), push-mode CC, "
            "custom-aggregate LPA and checkpoint writes/resume on a hub graph",
        ),
    )
}

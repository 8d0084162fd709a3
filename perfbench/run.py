"""Layer-resolved GAS benchmark: time to solution on link-graph workloads.

Usage, from the root of a checkout of this repository::

    python3 perfbench/run.py --workload pagerank_sf0.01 --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload repo_pipeline --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --self-test

One process is one closed-loop client on ``local[<cores>]``: it starts
Spark, builds the workload's inputs and oracle answers from ``--seed``
(several times; set-up time is the median), runs the workload's untimed
warm-up jobs, then runs timed jobs one at a time: at least the workload's
minimum, and more until ``--seconds`` have passed since the first timed
job started. Timings are medians over the timed jobs. Every result,
warm-up included, is checked against the oracle. The human-readable
report goes to stdout; the last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces the
workload's minimum number of timed jobs instead: it records spans around
the benchmark's calls into each layer, wraps ``GASEngine``'s setup and
durability methods in timing shims, tags every Spark job with its span's
job group and reads Spark's event log, then reports the per-layer metrics
of the median job. The tracing overhead is its ``trace.solve_s`` minus
``solve_s`` of an untraced run with the same seed.

All scratch data (inputs, Spark local dirs, checkpoints, event log) lives
in ``.perfbench_work/`` at the checkout root and is removed on exit. The
exit code is 0 when every check passed, 1 when a check failed and 2 when
the engine sources are not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3
DRIVER_MEMORY = "4g"
SHUFFLE_PARTITIONS = 8
CODEGEN_CACHE_ENTRIES = 2000
# a run never starts a timed job beyond the minimum after this many
# seconds of process time, so one run stays well inside three minutes
LAST_JOB_START_S = 90.0
MIB = float(1 << 20)


def _fail_setup(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _start_spark(cores: int, event_dir: Path | None):
    from mirrorofmapgraph_spark.session import get_spark

    confs = {
        "spark.driver.memory": DRIVER_MEMORY,
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # A repo_pipeline job generates about 450 distinct codegen classes,
        # more than the default cache of 100 holds, so with the default
        # every job compiles and loads them all again and the JIT never
        # settles: about 20 s of compiler-thread CPU per 17 s job, and the
        # job after one warm-up ran 15-20% slower than the ones after it.
        # With room for them all, later jobs load 30-75 classes and the job
        # after the warm-up already runs at the later jobs' speed.
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
    if event_dir is not None:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_confs=confs,
    )


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _release_caches(spark) -> None:
    """Drop every cached frame and persisted RDD, so each job starts from
    an empty block manager."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _job(spark, wl, prep, tracer=None):
    """Run one job of ``wl``, traced when a tracer is given, and drop every
    cache it left behind."""
    from contextlib import nullcontext

    from spans import gas_shims

    try:
        if tracer is None:
            return wl.job(spark, prep, lambda _name: nullcontext(), str(WORK))
        with gas_shims(tracer):
            return wl.job(spark, prep, tracer.span, str(WORK))
    finally:
        _release_caches(spark)


def _pct(values, q):
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _regimes(call):
    """(all-changed, partial) step counts by the engine's own branch test:
    a pull program's first step runs all-changed when it starts on every
    vertex, and each later one when the step before it changed at least
    ``all_changed_at`` vertices."""
    allc = part = 0
    all_changed = call.all_changed_at is not None and call.entry_frontier >= call.n_vertices
    for m in call.steps:
        if all_changed:
            allc += 1
        else:
            part += 1
        all_changed = call.all_changed_at is not None and m.changed >= call.all_changed_at
    return allc, part


def _layer_metrics(out, tracer, log, session_s) -> tuple[dict, list[str]]:
    from spans import attribute, span_idle_s

    self_t = tracer.self_times()
    by_name: dict[str, float] = {}
    count: dict[str, int] = {}
    for s in tracer.spans:
        by_name[s.name] = by_name.get(s.name, 0.0) + self_t[s.sid]
        count[s.name] = count.get(s.name, 0) + 1
    root = next(s for s in tracer.spans if s.name == "job")
    att = attribute(tracer, log, root)
    steps = [m for c in out.gas for m in c.steps]
    walls = [m.wall_ms for m in steps] or [0.0]
    regimes = [_regimes(c) for c in out.gas]
    runs = [s for s in tracer.spans if s.name == "gas.run"]
    run_jobs = sum(len(att["per_span"][s.sid]["jobs"]) for s in runs)
    tasks = att["tasks"]
    persisted = [s.info.get("persisted_bytes", 0) for s in tracer.spans]
    extract_s = by_name.get("sources.build_link_graph", 0.0)
    unattributed = self_t[root.sid]
    m = {
        "session.start_s": session_s,
        "sources.extract_s": extract_s,
        "sources.files_per_s": out.files / extract_s if extract_s > 0 else 0.0,
        "sources.edges": out.edges,
        "gas.bootstrap_s": by_name.get("gas.bootstrap", 0.0),
        "gas.vertex_stats_s": by_name.get("gas.vertex_stats", 0.0),
        "gas.persisted_mb": max(persisted) / MIB,
        "gas.supersteps": out.supersteps,
        "gas.step_ms_p50": statistics.median(walls),
        "gas.step_ms_p90": _pct(walls, 0.9),
        "gas.allchanged_steps": sum(a for a, _ in regimes),
        "gas.partial_steps": sum(p for _, p in regimes),
        "gas.edges_traversed": out.edges_traversed,
        "gas.loop_overhead_s": sum(self_t[s.sid] - s.info["step_s"] for s in runs),
        "gas.jobs_per_step": run_jobs / out.supersteps if out.supersteps else 0.0,
        "gas.checkpoint_s": by_name.get("gas.checkpoint", 0.0),
        "gas.checkpoints": count.get("gas.checkpoint", 0),
        "gas.checkpoint_mb": out.checkpoint_bytes / MIB,
        "gas.load_checkpoint_s": by_name.get("gas.load_checkpoint", 0.0),
        "resume_s": out.resume_s,
        "operators.pagerank_s": by_name.get("operators.pagerank", 0.0),
        "operators.cc_s": by_name.get("operators.cc", 0.0),
        "operators.labelprop_s": by_name.get("operators.labelprop", 0.0),
        "operators.triangles_s": by_name.get("operators.triangles", 0.0),
        "spark.jobs": att["n_jobs"],
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "spark.shuffle_write_mb": sum(t["sw"] for t in tasks) / MIB,
        "spark.shuffle_read_mb": sum(t["sr"] for t in tasks) / MIB,
        "spark.driver_idle_s": att["idle_s"],
        "spark.serial_frac": att["serial_s"] / root.wall,
        "trace.solve_s": out.wall_s,
        "trace.bookkeeping_s": tracer.bookkeeping_s,
        "trace.unattributed_s": unattributed,
        "trace.reconcile_frac": (root.wall - unattributed) / out.wall_s,
        "trace.jobs_outside_spans": att["jobs_outside"],
        "trace.unattributed_jobs": att["unattributed_jobs"],
    }

    lines = [f"{'span':28s} {'calls':>5s} {'wall_s':>8s} {'self_s':>8s} "
             f"{'jobs':>5s} {'tasks':>6s} {'exec_s':>7s} {'idle_s':>7s}"]
    agg: dict[str, list] = {}
    for s in tracer.spans:
        ps = att["per_span"][s.sid]
        a = agg.setdefault(s.name, [0, 0.0, 0.0, 0, 0, 0.0, 0.0])
        a[0] += 1
        a[1] += s.wall
        a[2] += self_t[s.sid]
        a[3] += len(ps["jobs"])
        a[4] += len(ps["tasks"])
        a[5] += sum(t["run_ms"] for t in ps["tasks"]) / 1000.0
        # the span's own idle time: not covered by its jobs or its children's
        kids = [(c.t0 * 1000, c.t1 * 1000) for c in tracer.spans if c.parent == s.sid]
        a[6] += span_idle_s(s, ps["jobs"] + kids)
    for name, a in agg.items():
        lines.append(f"{name:28s} {a[0]:5d} {a[1]:8.3f} {a[2]:8.3f} {a[3]:5d} "
                     f"{a[4]:6d} {a[5]:7.2f} {a[6]:7.3f}")
    lines.append(
        f"reconciliation: layer self-times cover {m['trace.reconcile_frac']:.1%} of "
        f"solve_s {out.wall_s:.3f} s; unattributed {unattributed:.3f} s; "
        f"{att['jobs_outside']} jobs outside their span; "
        f"{att['unattributed_jobs']} jobs without a span"
    )
    return m, lines


def run(args) -> int:
    from workloads import WORKLOADS

    import mirrorofmapgraph_spark

    if Path(mirrorofmapgraph_spark.__file__).resolve().parent.parent != ROOT:
        return _fail_setup("mirrorofmapgraph_spark was not imported from this checkout")
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    t_process = time.perf_counter()

    from spans import RssSampler, Tracer, read_event_log

    event_dir = WORK / "events" if args.trace else None
    if event_dir is not None:
        event_dir.mkdir(parents=True)
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = _start_spark(cores, event_dir)
        session_s = time.perf_counter() - t
        try:
            prep_times = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                prep = wl.prepare(spark, str(WORK), args.seed)
                prep_times.append(time.perf_counter() - t)
            _release_caches(spark)
            setup_s = session_s + statistics.median(prep_times)

            # warm-up jobs load and JIT-compile the JVM's code paths and fill
            # Spark's codegen cache: they are checked but not timed
            warm, outcomes, tracers, errors = [], [], [], []
            try:
                for _ in range(wl.warmup_jobs):
                    warm.append(_job(spark, wl, prep))
                t_measure = time.perf_counter()
                rss.reset()
                while len(outcomes) < wl.min_timed_jobs or not (
                    args.trace
                    or time.perf_counter() - t_measure >= args.seconds
                    or time.perf_counter() - t_process > LAST_JOB_START_S
                ):
                    if args.trace:
                        tracers.append(Tracer(spark.sparkContext, len(tracers)))
                    outcomes.append(
                        _job(spark, wl, prep, tracer=tracers[-1] if args.trace else None)
                    )
            except Exception:
                errors.append(traceback.format_exc())
                print(errors[-1], file=sys.stderr)
            peak_rss = rss.peak_bytes
        finally:
            _stop_spark(spark)

    jobs = warm + outcomes
    failed = len(errors) + sum(1 for o in jobs if o.failures)
    attempted = len(jobs) + len(errors)
    print(f"workload {wl.name} (seed {args.seed}): {wl.why}")
    print(f"closed loop, 1 client, local[{cores}], {attempted} job(s) attempted, "
          f"{failed} failed")
    for i, o in enumerate(jobs):
        for f in o.failures:
            print(f"  CHECK FAILED job {i}: {f}")
    if warm:
        print(f"warm-up: {', '.join(f'{o.wall_s:.3f} s' for o in warm)} (checked, not timed)")
    ok = not errors and failed == 0
    metrics: dict[str, tuple[float, str]] = {}
    if outcomes and not args.trace:
        walls = [o.wall_s for o in outcomes]
        solve_s = statistics.median(walls)
        metrics = {
            "solve_s": (solve_s, "s"),
            "teps": (statistics.median(o.edges_traversed / o.wall_s for o in outcomes), "edges/s"),
            "supersteps_per_s": (
                statistics.median(o.supersteps / o.wall_s for o in outcomes), "1/s"),
            "setup_s": (setup_s, "s"),
        }
        print(f"  solve_s          {solve_s:12.4f} s        median of n={len(walls)} "
              f"({', '.join(f'{w:.3f}' for w in walls)} s)")
        for k in ("teps", "supersteps_per_s", "setup_s"):
            v, u = metrics[k]
            print(f"  {k:16s} {v:12.4f} {u}")
        print(f"  peak_rss_mb      {peak_rss / MIB:12.4f} MiB      process tree, sampled")
        print(f"  failed_frac      {failed / attempted:12.4f}        of {attempted} job(s)")
        resumes = [o.resume_s for o in outcomes if o.resume_s]
        if resumes:
            print(f"  resume_s         {statistics.median(resumes):12.4f} s        "
                  f"median of n={len(resumes)}")
        print(f"  setup: session {session_s:.3f} s + median input+oracle of {SETUP_REPS}: "
              f"{', '.join(f'{x:.3f}' for x in prep_times)} s")
    elif outcomes and not errors:
        # the layers of the median traced job; its wall is trace.solve_s, so
        # the tracing overhead is trace.solve_s minus solve_s of a --trace 0
        # run with the same seed, both medians over the same job positions
        order = sorted(range(len(outcomes)), key=lambda i: outcomes[i].wall_s)
        mid = order[(len(order) - 1) // 2]
        log = read_event_log(str(event_dir))
        layer, report = _layer_metrics(outcomes[mid], tracers[mid], log, session_s)
        layer["process.peak_rss_mb"] = peak_rss / MIB
        metrics = {k: (float(v), _unit(k)) for k, v in layer.items()}
        print(f"traced job {mid + 1} of {len(outcomes)} (median wall; walls "
              f"{', '.join(f'{o.wall_s:.3f}' for o in outcomes)} s):")
        for line in report:
            print("  " + line)
        print(f"  tracing overhead: trace.solve_s {outcomes[mid].wall_s:.3f} s minus solve_s "
              f"of a --trace 0 run with seed {args.seed}; the tracer's own bookkeeping took "
              f"{tracers[mid].bookkeeping_s:.4f} s")
        for k, (v, _u) in metrics.items():
            print(f"  {k:28s} {v:14.4f}")
        frac = layer["trace.reconcile_frac"]
        if not (0.9 <= frac <= 1.1) or layer["trace.jobs_outside_spans"]:
            print("  RECONCILIATION FAILED")
            ok = False
    result = {
        "correct": ok,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith("_per_s"):
        return "1/s"
    for suffix, unit in (("_s", "s"), ("_mb", "MiB"), ("_frac", "ratio")):
        if name.endswith(suffix):
            return unit
    return "ms" if "_ms_" in name else "count"


def self_test() -> int:
    """The seeded relabel check: converged PageRank on the sf0.01 graph
    under two seeds takes the same supersteps and traverses the same
    edges."""
    from workloads import PageRankWorkload

    wl = PageRankWorkload("pagerank_sf0.01_converged", 200, "")
    spark = _start_spark(len(os.sched_getaffinity(0)), None)
    try:
        seen = []
        for seed in (1, 2):
            prep = wl.prepare(spark, str(WORK), seed)
            out = _job(spark, wl, prep)
            seen.append((out.supersteps, out.edges_traversed, out.failures))
            print(f"seed {seed}: supersteps {out.supersteps}, edges_traversed "
                  f"{out.edges_traversed}, wall {out.wall_s:.3f} s, failures {out.failures}")
    finally:
        _stop_spark(spark)
    same = seen[0][:2] == seen[1][:2] and not seen[0][2] and not seen[1][2]
    print(f"seeded relabel: {'ok' if same else 'MISMATCH'}")
    return 0 if same else 1


def main(argv=None) -> int:
    if not all((ROOT / f).is_file() for f in (
        "mirrorofmapgraph_spark/__init__.py", "__spark_entry__.py", "tests/oracles.py",
    )):
        return _fail_setup(f"no engine sources found at {ROOT}; run from a checkout")
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)
    if not args.self_test and args.workload is None:
        ap.error("--workload is required")

    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "local"):
        (WORK / sub).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine (pandas UDFs) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    try:
        return self_test() if args.self_test else run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The repository's benchmark: seeded workloads on the CLI's partition
and analytics paths, with every op's outputs checked against oracles.

    python3 perfbench/run.py --workload partition-powerlaw --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. It generates its inputs from the
seed, drives ``sheep_spark`` in this process with
``session.get_spark(cores=nproc // 2)`` and the CLI's other defaults, and prints
one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer span table built from Spark's own event log. A line before it
records the host context. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("partition-powerlaw", "analytics-converge")
SPANS = (
    "session.start", "graph.load", "tree.build", "partitioner.assign", "evaluate.metrics",
    "partitioner.write", "analytics.pagerank", "analytics.cc", "analytics.triangles",
)
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "job_s": "s",
    "edges_per_s": "edges/s",
}
# Set before the interpreter starts (run.py re-executes itself with them).
# This host backs memory a process touches for the first time several
# times slower than memory it reuses, and hands freed memory back to the
# hypervisor within seconds, so how fast a run faults in its pages swings
# with the host's load. These keep each process's memory once touched:
# glibc and Arrow never return freed blocks to the OS, and the driver
# JVM commits and touches its heap at launch.
MEMORY_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "68719476736",
    "MALLOC_TRIM_THRESHOLD_": "68719476736",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    "SPARK_GRAFT_XMS_PRETOUCH": "2g",
}
# An op's nominal warm wall on a 4-CPU host (both workloads' ops take
# 10-13 s). A run times --seconds // WARM_OP_S warm ops, at least one: a
# count fixed by the arguments rather than by how fast the host happens
# to be, so every run of a workload takes its median at the same point
# of the JIT's warm-up.
WARM_OP_S = 12.0
SETUP_SAMPLES = 2  # fresh sessions after the measured ops; setup_s is their median
# Spark task slots: half the CPUs. local[nproc] leaves no CPU for the JIT
# compiler, GC and the driver's Python, which run beside the tasks; on a
# 4-CPU host it made every op slower and its wall spread more.
CORES = max(1, len(os.sched_getaffinity(0)) // 2)


# The session warm-up's shuffles are a few KB fixed by its code and never
# spill; leaving these out keeps the table within 128 metrics.
UNREPORTED = {"session.start.shuffle_write_mb", "session.start.shuffle_read_mb", "session.start.spill_mb"}


def per_layer_units() -> dict:
    from eventlog import SUFFIXES

    unit = {"wall_s": "s", "spark_busy_s": "s", "driver_s": "s", "spark_jobs": "count",
            "spark_tasks": "count", "failed_tasks": "count", "task_run_s": "s", "gc_s": "s",
            "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
            "result_mb": "MB", "python_run_s": "s"}
    units = {f"{span}.{suffix}": unit[suffix] for span in SPANS for suffix in SUFFIXES
             if f"{span}.{suffix}" not in UNREPORTED}
    units.update({
        "graph.load.input_mb": "MB",
        "partitioner.write.output_mb": "MB",
        "analytics.pagerank.superstep_s_first_half": "s",
        "analytics.pagerank.superstep_s_second_half": "s",
        "analytics.pagerank.supersteps": "count",
        "analytics.pagerank.edges_per_s": "edges/s",
        "evaluate.metrics.ecv_down_per_edge": "ratio",
        "evaluate.metrics.balance": "ratio",
        "session.launch.wall_s": "s",
        "session.cold_op.wall_s": "s",
        "process.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
        "trace.span_coverage": "ratio",
    })
    return units


# -- host context ------------------------------------------------------------

def mem_stream_gbps(seconds: float = 0.2) -> float:
    """Single-process memory-stream probe: GB/s summing a pre-touched
    128 MiB array."""
    import numpy as np

    a = np.ones(16 * 1024 * 1024)
    a.sum()
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        a.sum()
        n += 1
    return n * a.nbytes / (time.perf_counter() - t0) / 1e9


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def source_sha256() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sheep_spark")
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def peak_rss(sessions) -> float:
    """Driver Python's ru_maxrss plus the driver JVM's VmHWM, in MB."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    with open(f"/proc/{sessions.jvm_pid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                total += int(line.split()[1]) / 1024
    return total


# -- sessions -----------------------------------------------------------------

class Sessions:
    """Creates and stops SparkSessions the way the CLI does, keeping every
    file Spark writes inside this run's work directory."""

    def __init__(self, work: str):
        self.spark = None
        self.started_at = 0.0  # epoch seconds of the last start's get_spark()
        self.conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file: HotSpot writes it under /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_log_dir = os.path.join(work, "eventlog")

    def start(self, event_log: bool = False) -> float:
        from sheep_spark.session import get_spark

        conf = dict(self.conf)
        if event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        if self.spark is not None:
            self.spark.stop()
        self.started_at = time.time()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
        wall = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("WARN")
        return wall

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def shutdown(self) -> None:
        """Stop the session, then the driver JVM, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# -- the measured loop ---------------------------------------------------------

class Runner:
    """Runs the workload's op again and again on one input file, keeping
    each op's wall, spans and outputs for the checks."""

    def __init__(self, workload: str, path: str, sessions: Sessions, work: str):
        self.workload = workload
        self.path = path
        self.sessions = sessions
        self.work = work
        self.ops: list[dict] = []  # {"index", "phase", "wall"?, "out" | "error"}

    def run_op(self, tracer, phase: str) -> None:
        import ops

        index = len(self.ops)
        tracer.op = index
        rec = {"index": index, "phase": phase}
        n_spans = len(tracer.spans)
        try:
            if self.workload == "analytics-converge":
                out = ops.analytics_op(self.sessions.spark, tracer, self.path)
            else:
                out = ops.partition_op(self.sessions.spark, tracer, self.path, os.path.join(self.work, f"out_{index}"))
            spans = tracer.spans[n_spans:]
            rec["out"] = out
            rec["wall"] = spans[-1]["t1"] - spans[0]["t0"]
        except Exception:  # one failed op is counted, and the run goes on
            traceback.print_exc()
            rec["error"] = traceback.format_exc(limit=3)
        self.ops.append(rec)

    def run_n(self, tracer, phase: str, n: int) -> None:
        for _ in range(n):
            self.run_op(tracer, phase)

    def walls(self, phase: str) -> list[float]:
        walls = [op["wall"] for op in self.ops if op["phase"] == phase and "wall" in op]
        if not walls:
            raise RuntimeError(f"no {phase} op completed")
        return walls


# -- output checks ---------------------------------------------------------------

def check_ops(workload: str, path: str, ops: list[dict]) -> tuple[list[str], dict]:
    """Check every op against the oracles. Returns (one error string per
    failed op, facts about the input such as its undirected edge count)."""
    import oracles

    g = oracles.Graph(path)
    facts = {"edges": g.n_edges}
    errors = []
    for op in ops:
        if "error" in op:
            errors.append(f"op {op['index']}: raised: {op['error'].strip().splitlines()[-1]}")
            continue
        if workload == "analytics-converge":
            problems = _check_analytics(g, op["out"], facts)
        else:
            problems = _check_partition(g, op["out"], facts)
        if problems:
            errors.append(f"op {op['index']}: " + "; ".join(problems))
    return errors, facts


def _by_vid(g, vids, *cols):
    import numpy as np

    order = np.argsort(vids)
    if not np.array_equal(vids[order], g.vid):
        raise ValueError("vertex set differs from the input graph's")
    return [c[order] for c in cols]


def _check_partition(g, out, facts) -> list[str]:
    import numpy as np
    import pyarrow.dataset as ds

    import oracles
    from ops import HEADLINE_METRICS, K

    if "tree" not in facts:  # once per input; the metric oracle once per assignment
        facts["tree"] = oracles.tree_oracle(g)
        facts["metrics_by_assignment"] = {}
    problems = []
    try:
        pos, part = _by_vid(g, out["vid"], out["pos"], out["part"])
    except ValueError as e:
        return [f"vertex meta: {e}"]
    if not np.array_equal(pos, g.pos):
        problems.append("degree sequence differs from the oracle")
    parent, pst = facts["tree"]
    if not (np.array_equal(out["parent"], parent) and np.array_equal(out["pst"], pst)):
        problems.append("elimination tree differs from serial_tree_oracle")
    if part.min() < 0 or part.max() >= K:
        problems.append(f"part outside [0, {K})")
        return problems
    key = hashlib.sha256(part.tobytes()).hexdigest()
    if key not in facts["metrics_by_assignment"]:
        facts["metrics_by_assignment"][key] = oracles.metrics_oracle(g, part)
    ref = facts["metrics_by_assignment"][key]
    for m in ("n_edges", *HEADLINE_METRICS):
        if out["metrics"].get(m) != ref[m]:
            problems.append(f"{m} {out['metrics'].get(m)} != oracle {ref[m]}")
    # the written sink: each undirected edge once, owned by its lower-pos endpoint
    tbl = ds.dataset(out["out_dir"], format="parquet", partitioning="hive").to_table()
    src = tbl.column("src").to_numpy().astype(np.int64)
    dst = tbl.column("dst").to_numpy().astype(np.int64)
    written = tbl.column("part").to_numpy().astype(np.int64)
    order = np.lexsort((dst, src))
    if not (np.array_equal(src[order], g.lo) and np.array_equal(dst[order], g.hi)):
        problems.append("written edges are not each undirected edge exactly once")
    elif not np.array_equal(written[order], oracles.down_parts(g, part)):
        problems.append("written part differs from the lower-pos endpoint's part")
    facts["ecv_down_per_edge"] = ref["ecv_down_per_edge"]
    facts["balance"] = ref["down_balance"] / (ref["n_edges"] / K)
    return problems


def _check_analytics(g, out, facts) -> list[str]:
    import numpy as np

    import oracles
    from ops import PAGERANK_TOL

    if "supersteps" not in facts:  # once per input
        n, delta = 0, float("inf")
        while delta >= PAGERANK_TOL and n < 100:
            n += 1
            rank, delta = oracles.pagerank(g, n)
        facts.update(supersteps=n, rank=rank, labels=oracles.components(g), triangles=oracles.triangles(g))
    problems = []
    if out["supersteps"] != facts["supersteps"]:
        problems.append(f"pagerank took {out['supersteps']} supersteps, oracle {facts['supersteps']}")
    try:
        (rank,) = _by_vid(g, out["rank_vid"], out["rank"])
        if not np.allclose(rank, facts["rank"], rtol=1e-6, atol=0.0):
            problems.append("pagerank not allclose(rtol=1e-6) to the numpy power iteration")
    except ValueError as e:
        problems.append(f"pagerank: {e}")
    try:
        (label,) = _by_vid(g, out["label_vid"], out["label"])
        if not (out["cc_converged"] and np.array_equal(label, facts["labels"])):
            problems.append("connected components differ from union-find")
    except ValueError as e:
        problems.append(f"connected components: {e}")
    if out["triangles"] != facts["triangles"]:
        problems.append(f"triangles {out['triangles']} != oracle {facts['triangles']}")
    return problems


# -- metrics ---------------------------------------------------------------------

def end_to_end(runner: Runner, facts: dict, setup: list[float]) -> dict:
    warm = runner.walls("warm")
    return {
        "setup_s": statistics.median(setup),
        "job_s": statistics.median(warm),
        "edges_per_s": statistics.median(facts["edges"] / w for w in warm),
    }


def per_layer(runner: Runner, facts: dict, spans: list[dict], log_path: str, peak_rss_mb: float,
              launch_s: float) -> dict:
    """The span table: each span's metrics as the median over the traced
    ops (0 for a span this workload does not run)."""
    import eventlog

    table, _ = eventlog.span_table(log_path, spans)
    traced = [op for op in runner.ops if op["phase"] == "traced" and "wall" in op]

    def median_over_ops(name: str, field: str) -> float:
        vals = [table[key].get(field, 0.0) for op in traced if (key := f"{name}#{op['index']}") in table]
        return statistics.median(vals) if vals else 0.0

    metrics = {}
    for name in SPANS:
        for suffix in eventlog.SUFFIXES:
            if name == "session.start":
                metrics[f"{name}.{suffix}"] = table["session.start#-1"].get(suffix, 0.0)
            else:
                metrics[f"{name}.{suffix}"] = median_over_ops(name, suffix)
    metrics["graph.load.input_mb"] = median_over_ops("graph.load", "input_mb")
    metrics["partitioner.write.output_mb"] = median_over_ops("partitioner.write", "output_mb")

    pr = [op["out"] for op in traced if "supersteps" in op["out"]]
    halves = [(statistics.fmean(o["superstep_secs"][: len(o["superstep_secs"]) // 2]),
               statistics.fmean(o["superstep_secs"][len(o["superstep_secs"]) // 2:])) for o in pr]
    metrics["analytics.pagerank.superstep_s_first_half"] = statistics.median(h[0] for h in halves) if pr else 0.0
    metrics["analytics.pagerank.superstep_s_second_half"] = statistics.median(h[1] for h in halves) if pr else 0.0
    metrics["analytics.pagerank.supersteps"] = pr[0]["supersteps"] if pr else 0.0
    metrics["analytics.pagerank.edges_per_s"] = statistics.median(
        2 * facts["edges"] * o["supersteps"] / o["converge_s"] for o in pr) if pr else 0.0
    metrics["evaluate.metrics.ecv_down_per_edge"] = facts.get("ecv_down_per_edge", 0.0)
    metrics["evaluate.metrics.balance"] = facts.get("balance", 0.0)
    metrics["session.launch.wall_s"] = launch_s
    metrics["session.cold_op.wall_s"] = runner.walls("first")[0]
    metrics["process.peak_rss_mb"] = peak_rss_mb
    metrics["trace.overhead_s"] = statistics.median(runner.walls("traced")) - statistics.median(runner.walls("warm"))
    metrics["trace.span_coverage"] = min(
        sum(sp["t1"] - sp["t0"] for sp in spans if sp["op"] == op["index"]) / op["wall"] for op in traced
    )
    return metrics


# -- main -------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description="sheep_spark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="sets how many warm ops run, see WARM_OP_S")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if any(os.environ.get(k) != v for k, v in MEMORY_ENV.items()):
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                  {**os.environ, **MEMORY_ENV})

    # Every file the run writes stays under the checkout: the compiled
    # kernel cache and the package zip shipped to executors go to a
    # shared tmp, the rest to a per-run directory removed at exit.
    tmp = os.path.join(WORK_ROOT, "tmp")
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    bench_env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's launcher JVM, see Sessions
    }
    os.environ.update(bench_env)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    import numpy
    import pyarrow
    import pyspark

    import sheep_spark  # noqa: F401  (fails, before any work, where the program is absent)

    import gen
    import ops

    os.makedirs(tmp, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    sessions = Sessions(work)
    phase_s, phase_t0 = {}, [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phase_s[name] = now - phase_t0[0]
        phase_t0[0] = now

    try:
        manifest = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
        context = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "input": {k: manifest[k] for k in ("pairs", "vertices", "sha256")},
            "nproc": len(os.sched_getaffinity(0)), "cores": CORES, "mem_total_mb": mem_total_mb(),
            "mem_stream_gbps_before": mem_stream_gbps(),
            "versions": {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
                         "pyarrow": pyarrow.__version__, "numpy": numpy.__version__},
            "git_commit": git_commit(), "source_sha256": source_sha256(),
            "env_set": {**MEMORY_ENV, **bench_env, **sessions.conf},
            "env_inherited": {k: os.environ[k] for k in sorted(os.environ)
                              if k.startswith(("MALLOC_", "ARROW_", "SPARK_", "OMP_", "PYSPARK_"))},
        }
        runner = Runner(args.workload, manifest["path"], sessions, work)
        phase("inputs")

        context["launch_s"] = sessions.start()
        context["versions"]["java"] = sessions.spark.sparkContext._jvm.System.getProperty("java.version")
        untagged = ops.Tracer(sessions.spark, tagged=False)
        runner.run_op(untagged, "first")
        n_warm = max(1, int(args.seconds // WARM_OP_S))
        if args.trace:  # warm ops, then traced ops in a fresh session with the event log
            runner.run_n(untagged, "warm", max(1, n_warm // 2))
            start_s = sessions.start(event_log=True)
            t0 = sessions.started_at
            tagged = ops.Tracer(sessions.spark, tagged=True)
            runner.run_n(tagged, "traced", max(1, n_warm - n_warm // 2))
            spans = tagged.spans + [{"key": "session.start#-1", "name": "session.start", "op": -1,
                                     "t0": t0, "t1": t0 + start_s}]
            peak_rss_mb = peak_rss(sessions)
            sessions.spark.stop()  # closes the event log
            sessions.spark = None
        else:
            runner.run_n(untagged, "warm", n_warm)
            peak_rss_mb = peak_rss(sessions)
            setup = [sessions.start() for _ in range(SETUP_SAMPLES)]
            context["setup_samples_s"] = setup
        phase("measure")
        sessions.shutdown()
        phase("shutdown")
        context["mem_stream_gbps_after"] = mem_stream_gbps()

        errors, facts = check_ops(args.workload, manifest["path"], runner.ops)
        phase("checks")
        context.update(phase_s=phase_s, peak_rss_mb=peak_rss_mb, errors=errors,
                       op_walls_s=[[op["phase"], op.get("wall")] for op in runner.ops])
        if args.trace:
            import eventlog

            metrics = per_layer(runner, facts, spans, eventlog.find_log(sessions.event_log_dir), peak_rss_mb,
                                context["launch_s"])
            units = per_layer_units()
        else:
            metrics = end_to_end(runner, facts, setup)
            units = END_TO_END
        print(json.dumps(context, default=str), flush=True)
        print(json.dumps({
            "correct": not errors,
            "attempted": len(runner.ops),
            "failed": len(errors),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }), flush=True)
        return 0
    finally:
        sessions.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        for name in os.listdir(tmp):  # this process's shipped package and warm-up files
            if f"_{os.getpid()}" in name:
                path = os.path.join(tmp, name)
                shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)


if __name__ == "__main__":
    sys.exit(main())

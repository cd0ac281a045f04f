"""Benchmark of term_spark: one workload, one seed, one process.

    python3 perfbench/run.py --workload validate --seed 1 --seconds 15 --trace 0

Run it from the root of a source checkout.  It makes its inputs from
``--seed``, starts Spark through ``term_spark.session.get_spark`` on
``local[nproc]``, loads the inputs, warms up, then runs whole passes of
the workload's ops until ``--seconds`` have passed, checking every op's
output.  After each op of the window it times a fixed host-speed probe
(probe.py), and the end-to-end op times are scaled by it.  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs a
window twice as long whose passes alternate between untraced and
traced, and reports the per-layer metrics; it also writes every span to
``.perfbench/spans-*.json``.
A detail object (per-op-kind latencies with tails, environment,
injected defects) goes to standard error.

Everything the run writes stays under ``.perfbench/`` in the checkout,
and the per-run directory is removed at exit.  See DESIGN.md for what
each metric means and which layer should move it.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from report import END_TO_END, LAYER_METRICS, pass_stats, per_layer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: load repetitions whose median enters setup_s
LOAD_REPS = 3


def pin_environment(run_dir: str) -> dict:
    """Per-run scratch space and a core count that matches the host."""
    cpus = len(os.sched_getaffinity(0))  # what nproc prints
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "TERM_SPARK_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\" "
            "pyspark-shell"),
    })
    os.chdir(run_dir)  # spark-warehouse/ and any stray output land here
    return {"nproc": cpus, "loadavg_start": os.getloadavg(),
            "python": platform.python_version(), "driver_mem": "2g"}


def quantile_tail(values):
    """(value, percentile, samples beyond) for the highest percentile with
    at least ten samples beyond it; None below eleven samples."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    rank = n - 11  # 10 samples above index rank
    return ordered[rank], round(100.0 * (rank + 1) / n, 1), n - rank - 1


def latency_detail(ops):
    """Per phase and op kind: sample count, p50, every wall and the
    probe after it, and tail."""
    groups = {}
    for op in ops:
        if op["phase"] in ("timed", "traced"):
            groups.setdefault(f"{op['phase']}.{op['kind']}", []).append(op)
    out = {}
    for name, group in sorted(groups.items()):
        walls = [op["wall"] for op in group]
        tail = quantile_tail(walls)
        out[name] = {"n": len(walls), "p50_s": statistics.median(walls),
                     "walls_s": [round(w, 4) for w in walls],
                     "probes_s": [round(op["probe"], 4) for op in group],
                     "tail": None if tail is None else {
                         "value_s": tail[0], "percentile": tail[1],
                         "beyond": tail[2]}}
    return out


class Recorder:
    """Times ops, probes the host after each op of the window, checks
    them, and in a traced run reads the status store for each op's job
    range."""

    def __init__(self, status, probe):
        self.status, self.probe = status, probe
        self.ops = []
        self.phase = "warmup"
        self.pass_no = 0

    def __call__(self, workload, kind, fn, check, items):
        tracer = workload.tracer
        op_id = len(self.ops)
        first = self.status.next_job_id() if tracer.enabled else None
        result, problems = None, []
        epoch0 = time.time()
        start = time.perf_counter()
        try:
            with tracer.op(op_id, kind):
                result = fn()
        except Exception:  # an op that raises is a failed op, not a crash
            problems.append(traceback.format_exc(limit=3))
        wall = time.perf_counter() - start
        rec = {"id": op_id, "kind": kind, "phase": self.phase,
               "pass": self.pass_no, "wall": wall,
               "items": items, "traced": tracer.enabled}
        if self.phase in ("timed", "traced"):
            rec["probe"] = self.probe()
        if not problems and check is not None:
            problems = check(result)
        rec["problems"] = problems
        if problems:
            print(f"op {op_id} {kind} failed: {problems[:3]}", file=sys.stderr)
        if tracer.enabled:
            totals, jobs = self.status.profile(first, self.status.next_job_id())
            tracer.add_jobs(op_id, jobs)
            rec["profile"] = totals
            rec["epoch"] = (epoch0, epoch0 + wall)
            rec["job_intervals"] = [(j["start"], j["end"]) for j in jobs]
            rec["storage_bytes"] = self.status.storage_bytes()
        self.ops.append(rec)
        return result


def run_window(workload, record, seconds: float, tracers=None) -> float:
    """Whole passes until ``seconds`` have elapsed; returns the wall.
    With ``tracers`` (untraced, traced), passes alternate between them,
    at least one each, so both see the same warm-up state."""
    do = lambda *a: record(workload, *a)  # noqa: E731
    start = time.perf_counter()
    min_passes = len(tracers) if tracers else 1
    for done in itertools.count():
        if done >= min_passes and time.perf_counter() - start >= seconds:
            break
        record.pass_no += 1
        if tracers:
            workload.tracer = tracers[record.pass_no % 2]
        record.phase = "traced" if workload.tracer.enabled else "timed"
        workload.run_pass(do)
    return time.perf_counter() - start


def peak_rss_mb(jvm_pid) -> float:
    """Driver JVM VmHWM plus this process's max RSS, in MB."""
    jvm_kb = 0
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except OSError:
        pass
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "term_spark", "__init__.py")):
        print(f"no term_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, env, base, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, env, base, run_dir) -> int:
    import pyspark

    from probe import PROBE_REF_S, Probe
    from statusstore import StatusStore
    from spans import NullTracer, Tracer

    env["pyspark"] = pyspark.__version__
    workload = WORKLOADS[args.workload](None, NullTracer(), run_dir, args.seed)
    t0 = time.perf_counter()
    workload.generate()
    generate_s = time.perf_counter() - t0

    from term_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        workload.spark = spark
        loads, input_rows = [], 0
        for rep in range(LOAD_REPS):
            if rep:
                workload.unload()
            t0 = time.perf_counter()
            input_rows = workload.load()
            loads.append(time.perf_counter() - t0)
        load_s = statistics.median(loads)

        record = Recorder(StatusStore(spark),
                          Probe(os.path.join(run_dir, "probe"),
                                spark.sparkContext._jvm))
        t0 = time.perf_counter()
        workload.warm_up(lambda *a: record(workload, *a))
        warmup_s = time.perf_counter() - t0
        setup_s = start_s + load_s + warmup_s

        if args.trace:
            tracer = Tracer()
            window_s = run_window(workload, record, 2 * args.seconds,
                                  (workload.tracer, tracer))
            workload.tracer = tracer
            record.phase = "extras"
            workload.traced_extras(lambda *a: record(workload, *a))
        else:
            window_s = run_window(workload, record, args.seconds)
        rss = peak_rss_mb(jvm_pid)
        layer_counts = dict(workload.layer_counts)
    finally:
        stop_spark(spark)

    ops = record.ops
    failed = sum(1 for op in ops if op["problems"])
    detail = {"workload": args.workload, "seed": args.seed, "env": env,
              "generate_s": generate_s, "loads_s": loads,
              "warmup_s": warmup_s, "window_s": window_s,
              "latency": latency_detail(ops),
              "defects": getattr(workload, "defects", None)}

    op_s, work_per_s = pass_stats(ops, "timed", workload.op_kind, PROBE_REF_S)
    probes = [op["probe"] for op in ops if "probe" in op]
    detail["probe_s"] = statistics.median(probes)
    detail["op_wall_s"] = pass_stats(ops, "timed", workload.op_kind)[0]
    if args.trace == 0:
        metrics = {"setup_s": setup_s, "op_s": op_s, "work_per_s": work_per_s}
        units = {name: spec[0] for name, spec in END_TO_END.items()}
    else:
        tracer = workload.tracer
        metrics = per_layer(ops, tracer, workload.op_kind, env["nproc"])
        metrics.update(layer_counts)
        metrics["session.start_s"] = start_s
        metrics["sources.load_s"] = load_s
        metrics["sources.input_rows"] = input_rows
        metrics["session.peak_rss_mb"] = rss
        metrics["trace.overhead_s"] = (
            pass_stats(ops, "traced", workload.op_kind, PROBE_REF_S)[0] - op_s)
        metrics["host.probe_s"] = detail["probe_s"]
        metrics["bench.op_wall_s"] = detail["op_wall_s"]
        if metrics["plans.suite_jobs"]:
            metrics["plans.jobs_reported_ratio"] = (
                metrics["plans.reported_jobs"] / metrics["plans.suite_jobs"])
        os.makedirs(base, exist_ok=True)
        spans_path = os.path.join(
            base, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.write(spans_path)
        detail["spans"] = {"path": os.path.relpath(spans_path, ROOT),
                           "count": len(tracer.spans)}
        units = {name: spec[0] for name, spec in LAYER_METRICS.items()}
    print(json.dumps(detail, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and len(ops) > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {name: {"value": metrics.get(name, 0), "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

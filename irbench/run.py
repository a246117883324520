#!/usr/bin/env python3
"""Benchmark of the iresearch_spark engine: one workload, one seed, one run.

    python3 irbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine runs on ``local[<cores>]`` with
its own defaults (no ``IRS_*`` variable is set), except a 2 GB driver heap.
Everything the run writes goes under ``.irbench_work/`` and
``.irbench_traces/`` in the checkout.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, measured from spans kept
around the engine's public calls (see ``spans.py``), and the spans are
written to ``.irbench_traces/``. Above that line a table prints every
metric, including the workload-specific ones, with its unit and sample count.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import numpy as np  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive", "batch")
REQUIRED = ("iresearch_spark/__init__.py", "tests/oracle.py", "__spark_entry__.py")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One run's inputs, timers and results, passed to a workload."""

    def __init__(self, args, spark, cores: int, work: str, tracer, groups, session_s: float):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.rng = np.random.default_rng(args.seed)
        self.spark = spark
        self.cores = cores
        self.work = work
        self.tracer = tracer
        self.groups = groups
        self.setup_parts = {"session": session_s}
        self.excluded_s = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.tasks_failed = 0
        self.e2e: dict[str, tuple[float, int]] = {}
        self.details: dict[str, tuple[float, str, int]] = {}
        self.layers: dict[str, tuple[float, int]] = {}

    @contextlib.contextmanager
    def excluded(self):
        """Input generation and expected-answer computation: not set-up."""
        t0 = time.perf_counter()
        yield
        self.excluded_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def setup(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(f"setup.{name}"):
            yield
        self.setup_time(name, time.perf_counter() - t0)

    def setup_time(self, name: str, seconds: float) -> None:
        self.setup_parts[name] = self.setup_parts.get(name, 0.0) + seconds

    def start_measuring(self) -> None:
        self.e2e["setup_s"] = (sum(self.setup_parts.values()), 1)

    def check(self, op: str, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failures.append(f"{op}: {problem}")

    def raised(self, op: str) -> None:
        """Count the exception being handled as one failed op; the run goes on."""
        traceback.print_exc()
        self.check(op, "raised " + traceback.format_exc().strip().splitlines()[-1])

    def op_latency(self, seconds: list[float], ops_per_s: float) -> None:
        self.e2e["op_p50_ms"] = (float(np.median(seconds)) * 1e3, len(seconds))
        self.e2e["work_per_s"] = (ops_per_s, len(seconds))

    def detail(self, name: str, value: float, unit: str, n: int) -> None:
        self.details[name] = (float(value), unit, n)

    def layer(self, name: str, value: float, n: int) -> None:
        self.layers[name] = (float(value), n)

    def overhead(self, untraced: list[float], traced: list[float]) -> None:
        """Tracing overhead measured inside the run: ops alternate between
        untraced and traced, and the two halves are compared."""
        if not untraced or not traced:
            return
        u, t = float(np.median(untraced)), float(np.median(traced))
        self.layer("trace.overhead.op_p50_ms", (t - u) * 1e3, len(traced))
        self.layer("trace.overhead.op_p50_share", (t - u) / u, len(traced))
        # work_per_s is ops over busy time, so its share is the mean's
        self.layer("trace.overhead.work_per_s_share", np.mean(untraced) / np.mean(traced) - 1, len(traced))


# --------------------------------------------------------------------------
# processes
# --------------------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    ppid = _ppid_map()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in ppid.items() if pp == p]
        found += kids
        frontier += kids
    return found


def status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def start_spark(work: str, cores: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the indexes are a few MB; a 2 GB driver heap keeps the JVM small on a
    # shared machine and its lazily-faulted heap growth out of the timings
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp  # the engine zips itself for executors there
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from iresearch_spark.session import get_spark

    spark = get_spark("irbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def start_worker_pool(spark, cores: int) -> None:
    """One trivial Python task per core: starts the reused worker pool."""

    def boot(batches):
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    spark.range(cores).repartition(cores).mapInArrow(boot, "id long").count()


def jvm_process():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = jvm_process()
    kids = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while any(alive(p) for p in kids) and time.time() < deadline:
            time.sleep(0.1)
        for p in kids:
            if alive(p):
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)


def process_memory() -> dict[str, float]:
    proc = jvm_process()
    jvm = proc.pid if proc is not None else None
    workers = descendants(jvm) if jvm else []
    return {
        "driver_hwm": status_kb(os.getpid(), "VmHWM") / 1024,
        "jvm_hwm": status_kb(jvm, "VmHWM") / 1024 if jvm else 0.0,
        "driver_rss": status_kb(os.getpid(), "VmRSS") / 1024,
        "jvm_rss": status_kb(jvm, "VmRSS") / 1024 if jvm else 0.0,
        "workers_rss": sum(status_kb(p, "VmRSS") for p in workers) / 1024,
    }


# --------------------------------------------------------------------------
# output
# --------------------------------------------------------------------------


def metric_table(run: Run, spec: dict) -> tuple[dict, list[str]]:
    """(metrics for the result line, table lines)."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    lines = [f"workload {run.workload}  seed {run.seed}  trace {int(run.trace)}"]

    def row(name, value, unit, n):
        lines.append(f"  {name:<44} {value:>14.4f} {unit:<8} n={n}")

    lines.append("end-to-end:")
    for m in spec["end_to_end"]:
        v, n = run.e2e[m["name"]]
        row(m["name"], v, m["unit"], n)
    frac = len(run.failures) / run.attempted if run.attempted else 1.0
    row("ops_failed_frac", frac, "ratio", run.attempted)
    lines.append(f"{run.workload}:")
    for part, v in run.setup_parts.items():
        row(f"setup_s.{part}", v, "s", 1)
    row("untimed_inputs_and_answers_s", run.excluded_s, "s", 1)
    for name, (v, unit, n) in run.details.items():
        row(name, v, unit, n)
    if run.trace:
        lines.append("per-layer (0 = layer not exercised by this workload):")
        for m in spec["per_layer"]:
            v, n = run.layers.get(m["name"], (0.0, 0))
            row(m["name"], v, m["unit"], n)
        names = [m["name"] for m in spec["per_layer"]]
    else:
        names = [m["name"] for m in spec["end_to_end"]]
    values = run.layers if run.trace else run.e2e
    metrics = {
        name: {"value": values.get(name, (0.0, 0))[0], "unit": units[name]} for name in names
    }
    return metrics, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED + ("BENCHMARK.json",) if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"irbench: not a checkout of the engine, missing {', '.join(missing)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("irbench: --seconds must be positive", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path.insert(0, ROOT)
    # one directory per process, so runs sharing a checkout never clobber
    # each other's index or Spark temp files
    work = os.path.join(ROOT, ".irbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))

    try:
        spark = start_spark(work, cores)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    try:
        from spans import JobGroups, Tracer

        import workloads

        start_worker_pool(spark, cores)
        session_s = time.perf_counter() - T_PROCESS
        tracer = Tracer(bool(args.trace))
        tracer.count_py4j(spark)
        run = Run(args, spark, cores, work, tracer, JobGroups(spark, bool(args.trace)), session_s)
        try:
            workloads.WORKLOADS[args.workload](run)
        except Exception:
            # ops catch their own exceptions; this is a failed set-up step
            run.raised("workload")
        finally:
            tracer.restore()
        mem = process_memory()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if "op_p50_ms" not in run.e2e:
        print("irbench: the workload did not complete a timed op", file=sys.stderr)
        for f in run.failures:
            print("  " + f, file=sys.stderr)
        return 1
    # peak RSS follows the JVM's heap growth, which varies by a third from
    # run to run, so it is reported but not bounded
    peak = mem["driver_hwm"] + mem["jvm_hwm"]
    run.detail("peak_rss_mb", peak, "MB", 1)
    run.layer("proc.peak_rss_mb", peak, 1)
    run.layer("proc.driver_rss_mb", mem["driver_rss"], 1)
    run.layer("proc.jvm_rss_mb", mem["jvm_rss"], 1)
    run.layer("proc.workers_rss_mb", mem["workers_rss"], 1)
    run.layer("spark.tasks_failed", run.tasks_failed, 1)
    if run.trace:
        run.layer("trace.setup_s", run.e2e["setup_s"][0], 1)
        traces = os.path.join(ROOT, ".irbench_traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))

    metrics, lines = metric_table(run, spec)
    for line in lines:
        print(line)
    for f in run.failures[:20]:
        print("FAILED " + f)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

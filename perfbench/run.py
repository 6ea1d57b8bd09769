#!/usr/bin/env python3
"""Benchmark of the crime engine: one workload, one Spark session.

    python3 perfbench/run.py --workload pipeline_weekly --seed 1 --seconds 25 --trace 0

Run from the root of a source checkout. Everything the run writes goes
under ``.perfbench/`` there and is removed at exit. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``); the line before it holds the
per-operation samples, host canaries and workload details. See
``perfbench/README.md`` for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
HEAP = "2g"

# Layers whose self time is reported, in the order of a pipeline run and
# then a query; "client" is measured time outside every span.
LAYERS = ("watermark", "ledger", "ingest", "load_batch", "merge", "publish", "vacuum",
          "reconcile", "table_read", "orchestrate", "build", "action", "client")
EXECUTOR = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "python_stages")
PLAN = ("plan.exchanges", "plan.broadcast_exchanges", "plan.rdd_scans", "plan.local_scans",
        "plan.python_nodes")
# (metric, layer, counter, unit): one layer's counter summed per pass
LAYER_COUNTERS = (
    ("ledger.jobs", "ledger", "jobs", "count"),
    ("ledger.bytes_written", "ledger", "bytes_written", "B"),
    ("ingest.rows", "ingest", "records_written", "count"),
    ("ingest.landing_bytes", "ingest", "landing_bytes", "B"),
    ("ingest.tasks", "ingest", "tasks", "count"),
    ("load_batch.landing_files", "load_batch", "landing_files", "count"),
    ("merge.jobs", "merge", "jobs", "count"),
    ("publish.exchanges", "publish", "plan.exchanges", "count"),
    ("publish.broadcast_exchanges", "publish", "plan.broadcast_exchanges", "count"),
    ("publish.bytes_written", "publish", "bytes_written", "B"),
    ("publish.files_written", "publish", "files_written", "count"),
    ("vacuum.bytes_removed", "vacuum", "bytes_removed", "B"),
    ("table_read.files_scanned", "table_read", "files_scanned", "count"),
    ("build.jobs", "build", "jobs", "count"),
    ("action.jobs", "action", "jobs", "count"),
)
PER_LAYER = {
    "trace.pass_s": "s",
    "trace.pass_cpu_s": "s",
    **{f"{layer}.self_pct": "%" for layer in LAYERS},
    **{m: unit for m, _, _, unit in LAYER_COUNTERS},
    **{k: ("s" if k.endswith("_s") else "B" if k.endswith("_bytes") else "count")
       for k in EXECUTOR},
    **dict.fromkeys(PLAN, "count"),
    "lake.write_bytes_per_row": "B",
    "lake.bytes_per_row": "B",
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# -- host and process probes -------------------------------------------

def _canary_loop(n: int = 2_000_000) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def host_canary(spark) -> dict:
    """Fixed single-core loop and fixed JVM shuffle, timed. Recorded beside
    the metrics to tell host contention from a real change; never gated."""
    t = time.perf_counter()
    _canary_loop()
    loop_s = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(0, 200_000, numPartitions=4).selectExpr("id % 1009 AS k").groupBy("k").count().collect()
    return {"loop_s": loop_s, "shuffle_s": time.perf_counter() - t}


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and every live descendant, including
    children they have reaped (Python workers under the JVM)."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            with contextlib.suppress(OSError, IndexError):
                children[int(_proc_stat(int(name))[1])].append(int(name))
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        with contextlib.suppress(OSError, IndexError):
            st = _proc_stat(pid)
            ticks += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(pids) -> None:
    """Restart each process's resident-memory high-water mark from its
    current resident size."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024


# -- the harness a workload drives --------------------------------------

class Bench:
    """Counts attempts and failures, times operations, owns the measured
    window. Workloads call ``timed``/``check``/``guard`` for operations
    and checks, ``start_measure``/``expired``/``stop_measure`` for the
    window."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tracer, jvm_pid: int):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.tracer, self.jvm_pid = tracer, jvm_pid
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.pass_ops: tuple = ()
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.detail: dict = {}
        self.t_measure = self.t_end = None
        self._cpu0 = self.cpu_s = self.rss_mb = 0.0
        self.t_setup_end = None
        self.canary: dict = {}
        self._instrumented = contextlib.ExitStack()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def _fail(self, name: str, why) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{name}: {why}"[:400])

    def timed(self, name: str, fn, per=None):
        """One operation: its wall time is a sample of ``name`` (divided
        by ``per(result)`` when given). An exception is a failure."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted, the loop goes on
            self._fail(name, repr(e))
            return None
        elapsed = time.perf_counter() - t
        n = per(out) if per else 1
        if n < 1:
            self._fail(name, f"no work done: {out!r}")
        else:
            self.samples[name].append(elapsed / n)
        return out

    def check(self, name: str, ok: bool, detail="") -> None:
        self.attempted += 1
        if not ok:
            self._fail(name, detail)

    def guard(self, name: str, fn) -> None:
        """Run checks; an exception while checking is one failure."""
        try:
            fn()
        except Exception as e:  # noqa: BLE001
            self.attempted += 1
            self._fail(name, repr(e))

    def _cpu(self) -> float:
        return sum(os.times()[:2]) + tree_cpu_s(self.jvm_pid)

    def start_measure(self, instrument=None) -> None:
        self.t_setup_end = time.perf_counter()
        self.canary["before"] = host_canary(self.spark)
        if instrument is not None and self.tracer.enabled:
            instrument(self.tracer, self._instrumented)
        self.samples.clear()  # warm-up operations were checked, not timed
        reset_peak_rss(self._pids)
        self._cpu0 = self._cpu()
        self.t_measure = time.perf_counter()

    def expired(self) -> bool:
        return time.perf_counter() - self.t_measure >= self.seconds

    @property
    def _pids(self) -> tuple:
        return os.getpid(), self.jvm_pid

    def stop_measure(self) -> None:
        self.t_end = time.perf_counter()
        self.cpu_s = self._cpu() - self._cpu0
        self.rss_mb = peak_rss_mb(self._pids)
        self._instrumented.close()
        self.canary["after"] = host_canary(self.spark)

    @property
    def passes(self) -> float:
        """Completed passes, counting a partial pass by its share of operations."""
        return sum(len(self.samples[op]) for op in self.pass_ops) / max(len(self.pass_ops), 1)

    def pass_s(self) -> float:
        """Wall time of one pass over the mix: the sum of each operation's median."""
        return sum(median(self.samples[op]) for op in self.pass_ops)

    def pass_cpu_s(self) -> float:
        """CPU seconds of the driver Python, the JVM and its Python workers
        over the measured window, per pass."""
        return self.cpu_s / max(self.passes, 1e-9)


# -- per-layer numbers from spans and the event log ----------------------

def per_layer(bench: Bench, charges: dict) -> dict:
    """Self-time shares of the measured window, and counters per pass:
    each operation's counters divided by its number of samples, summed
    over the operations of a pass."""
    import spans as trace

    spans = [s for s in bench.tracer.spans if s.start >= bench.t_measure]
    by_id = {s.id: s for s in spans}
    window = bench.t_end - bench.t_measure
    own = trace.self_times(spans)
    self_s = defaultdict(float)
    counters = defaultdict(float)  # (layer, key) and ("", key) for all layers
    for s in spans:
        self_s[s.layer] += own[s.id]
        root = s
        while root.parent is not None:
            root = by_id[root.parent]
        n = len(bench.samples.get(root.name, ())) if root.name in bench.pass_ops else 0
        for k, v in list(s.counts.items()) + list(charges.get(s.id, {}).items()):
            if n:
                counters[s.layer, k] += v / n
                counters["", k] += v / n
    self_s["client"] = window - sum(s.end - s.start for s in spans if s.parent is None)
    out = {"trace.pass_s": bench.pass_s(), "trace.pass_cpu_s": bench.pass_cpu_s()}
    out.update({f"{layer}.self_pct": 100.0 * self_s[layer] / window for layer in LAYERS})
    out.update({m: counters[layer, key] for m, layer, key, _ in LAYER_COUNTERS})
    out.update({k: counters["", k] for k in EXECUTOR + PLAN})
    out["lake.write_bytes_per_row"] = bench.detail.get("write_bytes_per_row", 0.0)
    out["lake.bytes_per_row"] = bench.detail.get("lake_bytes_per_row", 0.0)
    return out


# -- one run -------------------------------------------------------------

def start_spark(work: str, trace_on: bool):
    from open_crime_etl_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{HEAP} -XX:-UsePerfData"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace_on:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace_on: bool, work: str) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns (result, detail)."""
    import spans as trace
    import workloads

    t0 = time.perf_counter()
    spark = start_spark(work, trace_on)
    t_spark = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    run_id = uuid.uuid4().hex[:12]
    tracer = trace.Tracer(spark.sparkContext, run_id) if trace_on else trace.NullTracer()
    bench = Bench(spark, seed, seconds, work, tracer, jvm_pid)
    try:
        t1 = time.perf_counter()
        getattr(workloads, workload)(bench)
        setup_s = t_spark + (bench.t_setup_end - t1)
    finally:
        stop_spark(spark)

    if trace_on:
        charges = trace.charge_events(trace.read_event_log(os.path.join(work, "eventlog")), run_id)
        metrics = per_layer(bench, charges)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": bench.pass_cpu_s(),
            "peak_rss_mb": bench.rss_mb,
        }
        units = END_TO_END
    ops = {op: {"n": len(xs), "median_s": median(xs), "samples_s": xs}
           for op, xs in bench.samples.items() if xs}
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace_on),
        "passes": bench.passes, "measured_s": bench.t_end - bench.t_measure,
        "pass_s": bench.pass_s(),
        "ops": ops, "canary": bench.canary,
        "failures": bench.failures, **bench.detail,
    }
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("pipeline_weekly", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The program under test is the checkout this runs from; without it
    # there is nothing to measure.
    if not os.path.isdir(os.path.join(ROOT, "open_crime_etl_pipeline_spark")):
        print(f"no open_crime_etl_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package from the checkout; temp files stay in it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the JVMs would otherwise write perf-data files outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)
    try:
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark of the batch-processing engine.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer ones (see BENCHMARK.json); the last line of
standard output is one JSON object. Everything the run writes goes under
``.perfbench_work/`` in the current directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
PACKAGE = "connexion2k12_extending_the_axeda_domain_model_simple_batch_processing_framework_spark"

WORKLOADS = ("bulk_ingest", "live_batches", "offline_jobs")
#: every traced layer but the offline jobs (one ``queries.<job>`` layer
#: each), reported (0 when unused) by every workload
LAYERS = (
    "sources.csv_tasks.read_task_file",
    "operators.analyze.analyze_batch",
    "operators.analyze.validate_tasks",
    "operators.process.process_tasks",
    "operators.lifecycle.igniter_pick",
    "operators.lifecycle.mark_in_process",
    "operators.lifecycle.finalize_batches",
    "streaming.batch_stream.batch_lifecycle_stream",
    "operators.lifecycle.batch_status",
    "operators.lifecycle.list_batches",
    "operators.lifecycle.batch_errors",
    "sources.sinks.finalization_notifications",
    "sources.sinks.write_anchor_store",
    "sources.sinks.write_batch_report_csv",
    "sources.sinks.read_anchor_store",
    "sources.catalog.load_table",
)
#: modules whose Spark jobs run on the calling thread, so their job groups
#: (and counters) can be read back; the streaming finalizer's micro-batches
#: run on the stream's own thread
JOB_MODULES = (
    "sources.csv_tasks",
    "operators.analyze",
    "operators.process",
    "operators.lifecycle",
    "sources.sinks",
    "sources.catalog",
    "queries",
)
#: counters reported per traced pass or tick
UNIT_COUNTERS = (
    "sources.csv_tasks.read_task_file.rows",
    "sources.csv_tasks.read_task_file.files",
    "sources.sinks.write_anchor_store.files",
    "sources.sinks.write_anchor_store.bytes",
    "functions.dfcache.build_count",
    "functions.dfcache.build_s",
)
DRIVER_MEM = "2g"


def _process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Result:
    """Samples, operation counts and failures of one run."""

    def __init__(self):
        self.samples: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.setup_s = None
        self.units = 0
        self.counts: dict = {}

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def ops(self, n: int, failed: int, error: str | None = None) -> None:
        self.attempted += n
        self.failed += failed
        if error:
            self.errors.append(error)

    def fail(self, n: int, error: str) -> None:
        self.ops(n, n, error)

    def setup_done(self) -> None:
        self.setup_s = _process_age()

    def pct(self, name: str, q: int) -> float:
        """The q-th percentile (inclusive method) of a sample."""
        values = self.samples.get(name, [])
        if len(values) < 2:
            return values[0] if values else float("nan")
        return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    # Spark's Python workers import the engine from the checkout; scratch
    # files of the JVM and of Spark stay inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/tmp"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    # the Spark driver heap sized to these inputs (the engine defaults to 8g)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)

    from perfbench import bulk, engine, live, offline  # noqa: E402
    from perfbench.trace import UNITS, Tracer  # noqa: E402

    result = Result()
    t0 = time.perf_counter()
    spark = engine.get_spark("perfbench", cpus=str(os.cpu_count()))
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc
    rss = float("nan")
    tr = Tracer(spark, enabled=False)
    try:
        try:
            workload = {"bulk_ingest": bulk, "live_batches": live, "offline_jobs": offline}[args.workload]
            workload.run(spark, tr, args, work, result)
        except Exception:
            result.fail(1, traceback.format_exc())
        rss = _peak_rss_mb(os.getpid()) + _peak_rss_mb(jvm.pid)
    finally:
        spark.stop()
        spark.sparkContext._gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)

    for e in result.errors[:20]:
        print("error:", e, file=sys.stderr)
    c = result.counts
    if args.trace:
        units = max(1, sum(1 for u in tr.units if u[1] and u[0] in UNITS))
        values = {"session.get_spark_s": get_spark_s}
        layers = LAYERS + tuple(f"queries.{job}" for job in offline.JOBS)
        values.update(tr.layer_metrics(layers, JOB_MODULES, units))
        values.update({k: tr.counters[k] / units for k in UNIT_COUNTERS})
        lookups = tr.counters["functions.dfcache.lookups"]
        values["functions.dfcache.hit_ratio"] = 1 - tr.counters["functions.dfcache.build_count"] / lookups if lookups else 0.0
        values["operators.analyze.invalid_ratio"] = c.get("invalid_lines", 0) / max(1, c.get("lines", 0))
        values["operators.process.dup_ratio"] = c.get("dup_errors", 0) / max(1, c.get("processed", 0))
        values["live.backlog_max"] = c.get("backlog_max", 0)
        values["live.generator_lag_s"] = c.get("generator_lag_s", 0)
        values.update(tr.accounting())
        values["failed_ops_ratio"] = result.failed / max(1, result.attempted)
    else:
        values = {
            "setup_s": result.setup_s if result.setup_s is not None else float("nan"),
            "turnaround_p50_s": result.pct("turnaround_s", 50),
            "poll_p50_ms": result.pct("poll_ms", 50),
        }
    # the workload-specific names of the turnaround, tails over too few
    # samples to gate on, and the JVM's heap growth: for reading only
    turnaround = values.get("turnaround_p50_s", result.pct("turnaround_s", 50))
    named = {
        "bulk_ingest": f"ingest_tasks_per_s={c.get('upload_lines', 0) / turnaround:.1f} ",
        "live_batches": f"backlog_max={c.get('backlog_max', 0):.0f} generator_lag_s={c.get('generator_lag_s', 0):.3f} ",
        "offline_jobs": f"offline_wall_s={turnaround:.3f} ",
    }[args.workload]
    n_turn, n_poll = (len(result.samples.get(k, [])) for k in ("turnaround_s", "poll_ms"))
    print(
        f"workload={args.workload} seed={args.seed} units={result.units} {named}"
        f"turnaround_p95_s={result.pct('turnaround_s', 95):.3f} (n={n_turn}) "
        f"poll_p95_ms={result.pct('poll_ms', 95):.1f} (n={n_poll}) peak_rss_mb={rss:.0f} "
        f"failed_ops_ratio={result.failed / max(1, result.attempted):.4f}"
    )
    # a metric a failed run could not measure reads 0, with correct false
    correct = result.failed == 0 and all(v == v for v in values.values())
    metrics = {k: {"value": v if v == v else 0.0, "unit": _unit(k)} for k, v in values.items()}
    print(json.dumps({"correct": correct, "attempted": max(1, result.attempted), "failed": result.failed, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

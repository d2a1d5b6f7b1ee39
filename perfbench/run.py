"""The repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 15 --trace 0

Run from the repository root. The package's public functions run in this
process on ``local[<cores - 1>]``. The run starts a SparkSession, does the
workload's set-up and warms up for a fixed number of operations, after
which latency has settled (all of that is ``setup_s``), then sends one
operation at a time for ``--seconds`` seconds and checks each
operation's output against values computed by the generator. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: it alternates plain and traced operations
(tracing overhead is the difference of their median latencies), runs the
probes that time the lazy layers, writes the spans to
``perfbench/_out/`` and prints self time per layer to stderr.

Everything else the run writes goes under ``perfbench/_work/`` and is
deleted when it ends.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_rows_per_s": "rows/s",
    "throughput_ops_per_s": "1/s",
}

PER_LAYER = {
    "session.get_session_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.scan_s": "s",
    "sources.lines_in": "count",
    "sources.input_bytes": "bytes",
    "validate.annotate_self_s": "s",
    "validate.clean_share": "ratio",
    "validate.error_rows": "count",
    "transform.split_self_s": "s",
    "sinks.write_warehouse_s": "s",
    "sinks.write_dead_letter_s": "s",
    "sinks.read_warehouse_s": "s",
    "sinks.warehouse_bytes_per_input_byte": "ratio",
    "sinks.dead_letter_bytes_per_input_byte": "ratio",
    "sinks.files_written": "count",
    "quality.quality_gate_s": "s",
    "reports.dag_validation_gate_p50_s": "s",
    "reports.dag_summary_report_p50_s": "s",
    "reports.readme_revenue_by_product_p50_s": "s",
    "reports.readme_count_max_sum_p50_s": "s",
    "pipeline.spark_jobs_per_op": "count",
    "pipeline.spark_stages_per_op": "count",
    "pipeline.spark_tasks_per_op": "count",
    "pipeline.failed_tasks": "count",
    "trace.overhead_s": "s",
}

# per-layer metrics read as the median duration of one span
SPAN_METRICS = {
    "sinks.write_warehouse_s": "sinks.write_warehouse",
    "sinks.write_dead_letter_s": "sinks.write_dead_letter",
    "sinks.read_warehouse_s": "sinks.read_warehouse",
    "quality.quality_gate_s": "quality.quality_gate",
    "reports.dag_validation_gate_p50_s": "reports.dag_validation_gate",
    "reports.dag_summary_report_p50_s": "reports.dag_summary_report",
    "reports.readme_revenue_by_product_p50_s": "reports.readme_revenue_by_product",
    "reports.readme_count_max_sum_p50_s": "reports.readme_count_max_sum",
}

WORKLOAD_NAMES = ("etl_bulk", "warehouse_reports")

# Stop early rather than overrun the 180 s a run may take.
DEADLINE_S = 150.0


def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    # Spark gets all cores but one; the Python client and the JVM's driver,
    # JIT and GC threads use the last. With local[cores], one competing busy
    # thread slowed a bulk run on 4 vCPUs by ~19% (a stalled task holds up
    # its stage) and its set-up by ~20%; with local[cores - 1] both moved
    # by 2-3%.
    spark_cores = max(1, cores - 1)
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal:")).split()[1])
    # a fifth of the machine, 1-4 GB: both ETL inputs fit the transform
    # cache with room to spare, and other tenants keep their memory
    driver_gb = max(1, min(4, mem_kb // (5 * 1024 * 1024)))
    return {
        "cores": cores,
        "spark_cores": spark_cores,
        "mem_total_mb": mem_kb // 1024,
        "driver_mem": f"{driver_gb}g",
    }


def pin_environment(host: dict, work: str) -> None:
    """Session settings the package reads from the environment, and every
    temporary path pointed inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["spark_cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def cpu_times() -> list[int]:
    """Machine-wide jiffies: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            line = next(ln for ln in fh if ln.startswith("VmHWM:"))
        return int(line.split()[1]) / 1024
    except (AttributeError, OSError, StopIteration):
        return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """Operation loop and correctness counts."""

    def __init__(self, wl, tracer=None):
        self.wl = wl
        self.tracer = tracer
        self.next_op = 0
        self.attempted = 0
        self.failed = 0
        self.warmup_ops = 0
        self.warmup_latencies: list[float | None] = []  # None: the operation failed
        self.problems: list[str] = []

    def op(self, traced: bool = False):
        """Run and check one operation; None if it failed."""
        i = self.next_op
        self.next_op += 1
        self.attempted += 1
        try:
            res = self.wl.op(i, self.tracer if traced else None)
        except Exception as exc:  # one failed operation must not end the run
            self.failed += 1
            self.problems.append(f"op {i}: {type(exc).__name__}: {exc}")
            return None
        if res.problems:
            self.failed += 1
            self.problems += [f"op {i}: {p}" for p in res.problems]
            return None
        return res

    def warm_up(self, started: float) -> None:
        """The cold first operation (class loading, code generation), then
        the workload's fixed count of warm-up operations; each run prints
        their times so the settling stays visible."""
        self.op()
        for _ in range(self.wl.warm_ops):
            if time.perf_counter() - started > DEADLINE_S / 2:
                break
            res = self.op()
            self.warmup_latencies.append(round(res.latency_s, 4) if res else None)
        self.warmup_ops = self.attempted

    def measure(self, seconds: float, started: float) -> tuple[list, list]:
        """Closed loop for ``seconds``. Returns (plain, traced) results of
        the correct operations; traced ones only in a traced run."""
        plain, traced = [], []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end and time.perf_counter() - started < DEADLINE_S:
            res = self.op()
            if res:
                plain.append(res)
            if self.tracer is not None:
                res = self.op(traced=True)
                if res:
                    traced.append(res)
                self.wl.probe(self.tracer)
        return plain, traced


def end_to_end(setup_s: float, results: list) -> dict:
    """Medians over the operations of the run: a pause of the shared host
    moves a mean over a few operations, not a median."""
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(r.latency_s for r in results),
        "throughput_rows_per_s": statistics.median(r.rows / r.latency_s for r in results),
        "throughput_ops_per_s": statistics.median(1 / r.latency_s for r in results),
    }


def per_layer(tracer, session_s: float, rss_mb: float, plain: list, traced: list) -> dict:
    spans = tracer.span_samples()
    out = {}
    for name in PER_LAYER:
        if name in SPAN_METRICS:
            vals = spans.get(SPAN_METRICS[name])
            out[name] = statistics.median(vals) if vals else 0.0
        else:
            out[name] = tracer.median(name)
    out["session.get_session_s"] = session_s
    out["session.jvm_peak_rss_mb"] = rss_mb
    if plain and traced:
        out["trace.overhead_s"] = statistics.median(
            r.latency_s for r in traced
        ) - statistics.median(r.latency_s for r in plain)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import gcp_serverless_etl_pipeline_lab_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    started = time.perf_counter()
    host = machine()
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        pin_environment(host, work)
        os.chdir(work)  # Spark's default warehouse and logs land here too
        from spans import Tracer
        from workloads import WORKLOADS

        from gcp_serverless_etl_pipeline_lab_spark.session import get_session

        wl = WORKLOADS[args.workload](work, args.seed)
        tracer = Tracer() if args.trace else None

        t0 = time.perf_counter()
        spark = get_session(app_name="perfbench")
        session_s = time.perf_counter() - t0
        wl.setup(spark)
        run = Run(wl, tracer)
        run.warm_up(started)
        setup_s = time.perf_counter() - t0

        t_measure, cpu0 = time.perf_counter(), cpu_times()
        plain, traced = run.measure(args.seconds, started)
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        print(
            f"perfbench: session {session_s:.1f} s, set-up {setup_s:.1f} s "
            f"({run.warmup_ops} warm-up ops), measured {time.perf_counter() - t_measure:.1f} s "
            f"at {100 * (sum(cpu) - cpu[3] - cpu[7]) / sum(cpu):.0f}% busy, "
            f"{100 * cpu[7] / sum(cpu):.0f}% stolen",
            file=sys.stderr,
        )
        if not plain:
            print("perfbench: no operation succeeded", file=sys.stderr)
            for p in run.problems[:20]:
                print(f"perfbench: {p}", file=sys.stderr)
            return 1
        if tracer is not None:
            metrics = per_layer(tracer, session_s, jvm_peak_rss_mb(), plain, traced)
            units = PER_LAYER
            out_dir = os.path.join(HERE, "_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            print("self time per layer (s):", file=sys.stderr)
            for layer, s in sorted(tracer.self_time_by_layer().items(), key=lambda kv: -kv[1]):
                print(f"  {layer:<10} {s:9.3f}", file=sys.stderr)
        else:
            metrics = end_to_end(setup_s, plain)
            units = END_TO_END
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    for p in run.problems[:20]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        **host,
        "warmup_ops": run.warmup_ops,
        "warmup_latencies_s": run.warmup_latencies,
        "latencies_s": [round(r.latency_s, 4) for r in plain],
    }))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

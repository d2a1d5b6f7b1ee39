"""The benchmark's workloads. Each draws its inputs from the seed, runs
operations through the package's public functions, and checks every
operation's output against the generator's expected values.

- ``etl_bulk``: one large messy CSV, one ``run_sales_etl`` with
  warehouse and dead-letter writes per operation. Per-row work (validate
  cascade, dedup shuffle, cache fill, sink encoding) and fixed per-run
  cost (job scheduling, planning, version commit, quality gate job) each
  take about half the time, so a change to either shows.
- ``warehouse_reports``: read-only report SQL over a warehouse committed
  during set-up; one operation opens the warehouse with
  ``sinks.read_warehouse`` and runs the four queries over it. Exercises
  ``sinks`` reads and SQL planning, none of the ingest layers.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import check
import gen
from spans import Tracer, spark_job_stats

from gcp_serverless_etl_pipeline_lab_spark import pipeline
from gcp_serverless_etl_pipeline_lab_spark.operators.transform import split_clean_errors
from gcp_serverless_etl_pipeline_lab_spark.operators.validate import annotate
from gcp_serverless_etl_pipeline_lab_spark.sinks import read_warehouse
from gcp_serverless_etl_pipeline_lab_spark.sources.text_csv import read_raw_lines

BULK_LINES = 150_000
SMALL_LINES = 2_000
WAREHOUSE_LINES = 100_000

# run_sales_etl's calls into each layer, as the pipeline module names them
PIPELINE_CALLS = {
    "read_raw_lines": "sources.read_raw_lines",
    "annotate": "validate.annotate",
    "split_clean_errors": "transform.split_clean_errors",
    "write_warehouse": "sinks.write_warehouse",
    "write_dead_letter": "sinks.write_dead_letter",
    "quality_gate": "quality.quality_gate",
    "summary_report": "reports.summary_report",
}


@dataclass
class OpResult:
    latency_s: float
    rows: int  # input lines or warehouse rows the operation processed
    problems: list[str] = field(default_factory=list)  # empty: output correct


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, data bytes) under ``path``; hidden and ``_`` marker
    files excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class _Workload:
    name = ""
    # Warm-up operations after the cold first one. The JIT compiles by
    # invocation count, so a fixed count settles latency as well as a stop
    # rule on measured latency would, and it keeps setup_s unimodal.
    warm_ops = 5

    def __init__(self, work_dir: str, seed: int):
        """Draw the inputs. Nothing here touches Spark."""
        self.spark = None
        self.work = work_dir

    def setup(self, spark) -> None:
        """Set-up work beyond session start and warm-up."""
        self.spark = spark

    def op(self, i: int, tracer: Tracer | None = None) -> OpResult:
        raise NotImplementedError

    def probe(self, tracer: Tracer) -> None:
        """Traced run only: extra operations that time lazy layers."""

    def _group(self, i: int, tracer: Tracer | None) -> None:
        """Tag the Spark jobs of a traced operation with a job group."""
        if tracer is not None:
            tracer.op = i
            self.spark.sparkContext.setJobGroup(f"perfbench-op-{i}", self.name)

    def _record_jobs(self, i: int, tracer: Tracer | None) -> None:
        if tracer is None:
            return
        sc = self.spark.sparkContext
        stats = spark_job_stats(sc, f"perfbench-op-{i}")
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.record("pipeline.spark_jobs_per_op", stats["jobs"])
        tracer.record("pipeline.spark_stages_per_op", stats["stages"])
        tracer.record("pipeline.spark_tasks_per_op", stats["tasks"])
        tracer.record("pipeline.failed_tasks", stats["failed_tasks"])


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


class EtlBulk(_Workload):
    """One ``run_sales_etl`` with warehouse and dead-letter writes per
    operation, then the summary collect."""

    name = "etl_bulk"

    def __init__(self, work_dir, seed):
        super().__init__(work_dir, seed)
        self.path = os.path.join(work_dir, "bulk.csv")
        self.expected = gen.make_sales(self.path, seed, BULK_LINES)
        # Operation 0 runs a small file of the same shape: it takes the
        # one-time JVM and codegen cost in a fraction of a bulk run's time.
        self.small = os.path.join(work_dir, "small.csv")
        self.small_expected = gen.make_sales(self.small, seed + 1, SMALL_LINES)
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.dead_letter = os.path.join(work_dir, "dead_letter")
        self.commits = 0

    def input(self, i: int) -> tuple[str, gen.SalesExpected]:
        return (self.small, self.small_expected) if i == 0 else (self.path, self.expected)

    def op(self, i, tracer=None):
        path, exp = self.input(i)
        run_id = f"op{i}"
        self._group(i, tracer)
        patched = tracer.patched(pipeline, PIPELINE_CALLS) if tracer else nullcontext()
        with patched, _span(tracer, "pipeline.run_sales_etl"):
            t0 = time.perf_counter()
            res = pipeline.run_sales_etl(
                self.spark, path, self.warehouse, self.dead_letter, run_id=run_id
            )
            with _span(tracer, "reports.summary_collect"):
                summary = [r.asDict() for r in res.summary.collect()]
            latency = time.perf_counter() - t0
        self._record_jobs(i, tracer)
        try:
            counts = {
                r["error"]: r["count"] for r in res.errors.groupBy("error").count().collect()
            }
        finally:
            res.unpersist()
        run_dir = os.path.join(self.dead_letter, f"run={run_id}")
        problems = check.check_committed(self.warehouse, run_dir, self.commits)
        self.commits += 1
        if len(summary) == 1:
            problems += check.check_summary(exp, summary[0])
        else:
            problems.append(f"summary: {len(summary)} rows")
        problems += check.check_error_counts(exp, counts)
        if tracer is not None:
            self._record_sizes(tracer, path, exp, run_dir, sum(counts.values()))
        shutil.rmtree(run_dir, ignore_errors=True)  # bound disk use
        return OpResult(latency, exp.lines_in, problems)

    def _record_sizes(self, tracer, path, exp, run_dir, error_rows) -> None:
        in_bytes = os.path.getsize(path)
        with open(os.path.join(self.warehouse, "_CURRENT")) as fh:
            snapshot = os.path.join(self.warehouse, fh.read().split()[0])
        wh_files, wh_bytes = _dir_stats(snapshot)
        dl_files, dl_bytes = _dir_stats(run_dir)
        tracer.record("sources.lines_in", exp.lines_in)
        tracer.record("sources.input_bytes", in_bytes)
        tracer.record("validate.clean_share", exp.clean / exp.lines_in)
        tracer.record("validate.error_rows", error_rows)
        tracer.record("sinks.warehouse_bytes_per_input_byte", wh_bytes / in_bytes)
        tracer.record("sinks.dead_letter_bytes_per_input_byte", dl_bytes / in_bytes)
        tracer.record("sinks.files_written", wh_files + dl_files)

    def probe(self, tracer):
        """Time the lazy prefixes of the pipeline by materializing each with
        a ``noop`` write: scan, scan + annotate, scan + annotate + split."""
        path = self.path

        def noop(*frames) -> float:
            t0 = time.perf_counter()
            for df in frames:
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        scan = noop(read_raw_lines(self.spark, path))
        annotated = noop(annotate(read_raw_lines(self.spark, path)))
        ann = annotate(read_raw_lines(self.spark, path))
        try:
            split = noop(*split_clean_errors(ann))
        finally:
            ann.unpersist()
        tracer.record("sources.scan_s", scan)
        tracer.record("validate.annotate_self_s", annotated - scan)
        tracer.record("transform.split_self_s", split - annotated)


class WarehouseReports(_Workload):
    """One operation reads the committed snapshot with
    ``sinks.read_warehouse`` and runs the four report queries over it, in
    a seeded order. The queries differ in cost, so the round, not a single
    query, is the operation whose latency is reported."""

    name = "warehouse_reports"
    warm_ops = 25  # planning is most of a round, and its code is slow to compile

    def __init__(self, work_dir, seed):
        super().__init__(work_dir, seed)
        self.source = os.path.join(work_dir, "load.csv")
        self.expected = gen.make_sales(self.source, seed, WAREHOUSE_LINES)
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.rng = random.Random(seed)
        self.order: list[list[str]] = []

    def setup(self, spark):
        super().setup(spark)
        res = pipeline.run_sales_etl(
            spark, self.source, self.warehouse, os.path.join(self.work, "dead_letter"),
            run_id="load",
        )
        res.unpersist()

    def round(self, i: int) -> list[str]:
        """Operation ``i`` runs the four queries in a seeded order."""
        while len(self.order) <= i:
            block = sorted(check.REPORT_SQL)
            self.rng.shuffle(block)
            self.order.append(block)
        return self.order[i]

    def op(self, i, tracer=None):
        self._group(i, tracer)
        problems = []
        t0 = time.perf_counter()
        with _span(tracer, "sinks.read_warehouse"):
            table = read_warehouse(self.spark, self.warehouse)
        table.createOrReplaceTempView("sales_data")
        for q in self.round(i):
            with _span(tracer, f"reports.{q}"):
                rows = [r.asDict() for r in self.spark.sql(check.REPORT_SQL[q]).collect()]
            problems += check.check_report(self.expected, q, rows)
        latency = time.perf_counter() - t0
        self._record_jobs(i, tracer)
        return OpResult(latency, len(check.REPORT_SQL) * self.expected.clean, problems)


WORKLOADS = {w.name: w for w in (EtlBulk, WarehouseReports)}

"""Warehouse time travel (pinned-version reads of retained snapshots) +
partitioned dead-letter sink.

The reference's warehouse history comes from GCS bucket versioning on the
target bucket (`terraform/main.tf:36-54`) — every WRITE_TRUNCATE leaves the
prior generation readable. delta-spark is not installable here (documented
in COVERAGE.md), so sinks.write_warehouse keeps immutable `v=N` parquet
snapshots behind its `_CURRENT` pointer and sinks.read_warehouse(version=)
reads any retained one.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.sinks import (
    read_warehouse,
    write_dead_letter,
    write_warehouse,
)


def _df(spark, values, tag):
    return spark.createDataFrame(
        [(v, tag) for v in values], "id int, tag string"
    )


def test_versioned_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "wh")
    v0 = write_warehouse(_df(spark, [1, 2, 3], "a"), path)
    v1 = write_warehouse(_df(spark, [4, 5], "b"), path)
    assert (v0, v1) == (0, 1)

    # Latest read sees only the newest truncate-overwrite snapshot.
    latest = read_warehouse(spark, path)
    assert sorted(r.id for r in latest.collect()) == [4, 5]
    assert {r.tag for r in latest.collect()} == {"b"}

    # Time travel to the prior version — the reference's bucket-versioning
    # "read the previous generation" analogue.
    prior = read_warehouse(spark, path, version=0)
    assert sorted(r.id for r in prior.collect()) == [1, 2, 3]


def test_versioned_retention_prunes_oldest(spark, tmp_path):
    path = str(tmp_path / "wh")
    for i in range(4):
        write_warehouse(_df(spark, [i], "t"), path, keep_versions=2)
    kept = sorted(d for d in os.listdir(path) if d.startswith("v="))
    assert kept == ["v=2", "v=3"]
    # Latest still reads; a pinned read of a pruned version raises.
    assert read_warehouse(spark, path).collect()[0].id == 3
    with pytest.raises(FileNotFoundError):
        read_warehouse(spark, path, version=0)


def test_incomplete_snapshot_is_invisible_to_reads(spark, tmp_path):
    """A writer has claimed v=1 and created its dir but not finished it
    (no _SUCCESS). The unpinned read stays on committed v=0, and a pinned
    read of v=1 raises instead of failing inside Spark's schema
    inference."""
    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1, 2, 3], "a"), path)
    with open(os.path.join(path, ".claim-v1"), "w"):
        pass
    os.makedirs(os.path.join(path, "v=1", "_temporary"))
    assert sorted(r.id for r in read_warehouse(spark, path).collect()) == [1, 2, 3]
    with pytest.raises(FileNotFoundError, match="v=1"):
        read_warehouse(spark, path, version=1)


def test_versioned_read_missing_path(spark, tmp_path):
    missing = str(tmp_path / "nope")
    with pytest.raises(FileNotFoundError):
        read_warehouse(spark, missing, version=0)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_warehouse(spark, missing)


def test_dead_letter_partitioned_prunes_at_read(spark, tmp_path):
    path = str(tmp_path / "dl")
    errors = spark.createDataFrame(
        [
            ("Invalid price", "r1", "2024-01-01"),
            ("Missing field", "r2", "2024-01-01"),
            ("Invalid price", "r3", "2024-01-02"),
        ],
        "error string, row string, ingest_date string",
    )
    write_dead_letter(errors, path, partition_by=["ingest_date"])

    # Partition directories exist → a day's triage reads one directory.
    assert os.path.isdir(os.path.join(path, "ingest_date=2024-01-01"))
    one_day = spark.read.json(os.path.join(path, "ingest_date=2024-01-01"))
    assert one_day.count() == 2
    assert set(one_day.columns) == {"error", "row"}

    # Full read with partition discovery still sees everything, and a
    # partition filter prunes (no rows from the other day leak in).
    full = spark.read.option("basePath", path).json(path + "/ingest_date=*")
    assert full.count() == 3
    day2 = full.filter(F.col("ingest_date") == "2024-01-02")
    assert [r.row for r in day2.collect()] == ["r3"]


def test_dead_letter_unpartitioned_unchanged(spark, tmp_path):
    path = str(tmp_path / "dl")
    errors = spark.createDataFrame(
        [("Invalid price", "r1")], "error string, row string"
    )
    write_dead_letter(errors, path)
    write_dead_letter(errors, path)  # append mode accumulates
    assert spark.read.json(path).count() == 2


def test_dead_letter_run_scoped_write_is_retry_idempotent(spark, tmp_path):
    """Same run_id written twice (the Q3 retry re-executing after a
    partial first attempt) must converge, not double; a different run_id
    accumulates as a new partition."""
    errors = spark.createDataFrame([("1", "bad"), ("2", "worse")], "id string, error string")
    path = str(tmp_path / "dl")
    write_dead_letter(errors, path, run_id="r1")
    write_dead_letter(errors, path, run_id="r1")  # retry: overwrite, not append
    assert spark.read.json(path).count() == 2
    write_dead_letter(errors, path, run_id="r2")  # next run accumulates
    df = spark.read.json(path)
    assert df.count() == 4
    assert sorted(r["run"] for r in df.select("run").distinct().collect()) == ["r1", "r2"]

"""Deterministic multi-file arrival order: first-wins dedup must follow
(file name, line) order regardless of file sizes — Spark's split packing
is size-descending, so under raw scan order a larger later-named file
would be scanned first. read_raw_lines takes the (file name, line) path
whenever the scan resolves more than one file."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators.transform import (
    finalize_clean,
    finalize_errors,
)
from gcp_serverless_etl_pipeline_lab_spark.operators.validate import annotate
from gcp_serverless_etl_pipeline_lab_spark.pipeline import run_sales_etl
from gcp_serverless_etl_pipeline_lab_spark.sources.text_csv import (
    LINE_ID_COL,
    read_raw_lines,
)


def _write_two_files(tmp_path):
    d = tmp_path / "drop"
    d.mkdir()
    # a.csv is tiny; b.csv is much larger so size-descending packing would
    # scan b first under the naive id assignment
    (d / "a.csv").write_text("100,FromA,10.00,1,2024-01-01\n")
    pad = "".join(f"{200 + i},Pad,1.00,1,2024-01-02\n" for i in range(500))
    (d / "b.csv").write_text("100,FromB,99.00,9,2024-03-03\n" + pad)
    return d


def test_stable_multifile_line_ids_follow_filename_order(spark, tmp_path):
    d = _write_two_files(tmp_path)
    raw = read_raw_lines(spark, str(d))
    # file rank lives in the id's high bits; a.csv (1 line, smaller —
    # size-ordered scans would put it LAST) must still get rank 0
    per_rank = {
        r["rank"]: r["n"]
        for r in raw.groupBy(F.shiftright(LINE_ID_COL, 40).alias("rank"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_rank == {0: 1, 1: 501}
    # and every a.csv id precedes every b.csv id
    a_hi = raw.filter(F.shiftright(LINE_ID_COL, 40) == 0).agg(
        F.max(LINE_ID_COL)
    ).collect()[0][0]
    b_lo = raw.filter(F.shiftright(LINE_ID_COL, 40) == 1).agg(
        F.min(LINE_ID_COL)
    ).collect()[0][0]
    assert a_hi < b_lo


def test_stable_order_survives_multi_split_files(spark, tmp_path):
    """Pin the reader's one Spark-internal assumption: splits of a
    single file keep offset order under the size-descending split sort
    (equal-size splits sort STABLY; a file's smaller tail split sorts after
    its full splits). A single file takes the raw-order path, and the
    multi-file path's within-file positions rest on the same split order.
    Force a multi-split read by shrinking maxPartitionBytes and assert the
    line ids follow true line order — if a future Spark version reorders
    splits, this fails loudly rather than silently corrupting first-wins
    dedup."""
    d = tmp_path / "split"
    d.mkdir()
    n = 2000
    (d / "big.csv").write_text(
        "".join(f"{i:06d},Row,1.00,1,2024-01-02\n" for i in range(n))
    )
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "4096")  # ~33-byte lines -> dozens of splits
        # the scan itself must really split
        assert spark.read.text(str(d)).rdd.getNumPartitions() > 4
        raw = read_raw_lines(spark, str(d))
        rows = raw.orderBy(LINE_ID_COL).collect()
    finally:
        spark.conf.set(key, old)
    assert [r["value"][:6] for r in rows] == [f"{i:06d}" for i in range(n)]


def test_stable_multifile_first_wins_is_filename_deterministic(spark, tmp_path):
    d = _write_two_files(tmp_path)
    raw = read_raw_lines(spark, str(d))
    annotated = annotate(raw)
    clean, errors = finalize_clean(annotated), finalize_errors(annotated)
    winner = clean.filter(F.col("id") == "100").collect()
    assert len(winner) == 1
    assert winner[0]["product"] == "FromA"  # a.csv wins by name, not size
    dup = errors.filter(F.col("error") == "Duplicate id in this bundle").collect()
    assert len(dup) == 1
    assert "FromB" in dup[0]["row"]
    assert clean.count() == 501  # 1 winner + 500 pad rows


def test_run_sales_etl_over_directory_is_filename_deterministic(spark, tmp_path):
    d = _write_two_files(tmp_path)
    res = run_sales_etl(spark, str(d))
    try:
        winner = res.clean.filter(F.col("id") == "100").collect()
    finally:
        res.unpersist()
    assert [r["product"] for r in winner] == ["FromA"]

"""R10–R12 — derived column + single-pass clean/error fan-out.

The reference emits clean rows on the main output and error records on a
tagged side output in one pass (`dataflow/dataflow_transform.py:148`).
Spark batch has no native multi-sink-one-pass, so the idiomatic pattern is:
annotate once, persist the narrow intermediate, filter twice (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from .validate import ERROR_COL
from ..sources.text_csv import LINE_COL, LINE_ID_COL

CLEAN_COLUMNS = ("id", "product", "price", "quantity", "sale_date", "total_sale")


def finalize_clean(annotated: DataFrame) -> DataFrame:
    """Project the clean 6-column schema, deriving ``total_sale`` (R10) and
    keeping ``sale_date`` as DateType (the sink schema declares DATE;
    `terraform/main.tf:95-99`)."""
    return (
        annotated.filter(F.col(ERROR_COL).isNull())
        .select(
            F.col("_id_raw").alias("id"),
            F.col("_product_clean").alias("product"),
            F.col("_price").alias("price"),
            F.col("_quantity").alias("quantity"),
            F.col("_sale_date").alias("sale_date"),
            (F.col("_price") * F.col("_quantity")).alias("total_sale"),
            F.col(LINE_ID_COL),
        )
        .sortWithinPartitions(LINE_ID_COL)
        .drop(LINE_ID_COL)
    )


def finalize_errors(annotated: DataFrame) -> DataFrame:
    """Error-record shape {error, row} (`dataflow_transform.py:55`)."""
    return annotated.filter(F.col(ERROR_COL).isNotNull()).select(
        F.col(ERROR_COL).alias("error"), F.col(LINE_COL).alias("row")
    )


def split_clean_errors(annotated: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One annotated pass → (clean, errors), caching the annotated
    intermediate so the two sinks don't rescan the source. A caller that
    consumes only one side calls ``finalize_clean`` / ``finalize_errors``
    directly and caches nothing.

    For inputs too large to cache, use ``split_clean_errors_staged``: at
    100 TB the MEMORY_AND_DISK cache is itself the dominant cost (and dies
    with executors); a columnar staging write is cheaper than two source
    re-scans and is fault-tolerant."""
    annotated = annotated.persist(StorageLevel.MEMORY_AND_DISK)
    return finalize_clean(annotated), finalize_errors(annotated)


def split_clean_errors_staged(
    annotated: DataFrame, staging_path: str
) -> tuple[DataFrame, DataFrame]:
    """Large-input variant of ``split_clean_errors``: write the annotated
    intermediate ONCE as parquet, then filter clean/errors from the written
    copy. Same results as the persist path (tests assert parity); the two
    downstream filters each read the columnar staging copy with column
    pruning (clean never reads the raw line, errors never read the typed
    columns) instead of re-running the validation cascade or holding the
    corpus in executor memory."""
    annotated.write.mode("overwrite").parquet(staging_path)
    staged = annotated.sparkSession.read.parquet(staging_path)
    return finalize_clean(staged), finalize_errors(staged)

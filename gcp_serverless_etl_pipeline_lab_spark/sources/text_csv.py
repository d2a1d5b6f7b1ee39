"""S1 — raw text-file scan with naive-split CSV semantics.

The reference reads the CSV line-by-line (`dataflow/dataflow_transform.py:147`)
and tokenizes with a plain ``split(',')`` + per-token ``strip()``
(`dataflow_transform.py:53`) — RFC-4180 quoting is deliberately NOT honored
(SURVEY.md §1.3). We therefore use ``spark.read.text`` (NOT
``spark.read.csv``) so quoted commas split the row exactly like the
reference, and attach a file-order line id for deterministic
first-occurrence-wins dedup downstream.

Scale note: ``monotonically_increasing_id`` is assigned per input split in
split order, so ids are monotone in file order for a SINGLE-file text scan
— no shuffle needed to establish arrival order. For MULTI-file globs the
scan packs splits largest-first, so the raw id order would follow file
SIZE, not file name; the reader therefore switches to the deterministic
(lexicographic file name, line offset) order whenever the scan resolved
more than one file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

LINE_COL = "value"
LINE_ID_COL = "_line_id"

# 63-bit id layout: file rank << 40 | within-file position. Positions come
# from row_number(), so the REAL per-file bound is 2^31 - 1 lines (the
# window rank is 32-bit); the 2^40 slot width just keeps rank bits clear of
# position bits with headroom, under 2^23 files.
_FILE_RANK_SHIFT = 40


def read_raw_lines(spark: SparkSession, path: str) -> DataFrame:
    """Scan a text file → DataFrame[value: string, _line_id: long].

    One input file (the reference's contract, one CSV per run): raw scan
    order, which is exact file order. More than one file (a directory or
    glob): ``_line_id`` is a total order of (file name ASC, position in
    file) so first-wins dedup is deterministic across any glob:

    - per-file position is ``row_number`` over (file, split order) — exact
      because Spark's size-descending split sort is STABLE, so equal-size
      splits of one file keep offset order and the smaller tail split of a
      file sorts after its full splits (``tests/test_multifile_order.py``
      pins this with a forced multi-split read that fails loudly if a
      future Spark version reorders splits);
    - file ranks come from ``DataFrame.inputFiles()`` — scan METADATA, no
      extra pass over row data — broadcast back;
    - cost is one shuffle partitioned BY FILE (bounded by the largest
      file, the standard contract for file-granular arrival order).
    """
    raw = spark.read.text(path)
    # inputFiles() returns the resolved file URIs in the same form
    # input_file_name() emits (file source), so the rank join keys align.
    files = sorted(raw.inputFiles())
    if len(files) <= 1:
        return raw.withColumn(LINE_ID_COL, F.monotonically_increasing_id())
    df = raw.select(
        LINE_COL,
        F.input_file_name().alias("_file"),
        F.monotonically_increasing_id().alias("_mono"),
    )
    ranks = spark.createDataFrame(
        [(f, i) for i, f in enumerate(files)], "_file string, _frank long"
    )
    within = F.row_number().over(Window.partitionBy("_file").orderBy("_mono"))
    return (
        df.join(F.broadcast(ranks), "_file")
        .withColumn(
            LINE_ID_COL,
            F.shiftleft(F.col("_frank"), _FILE_RANK_SHIFT)
            + within.cast("long"),
        )
        .select(LINE_COL, LINE_ID_COL)
    )


def lines_from_strings(spark: SparkSession, lines: list[str]) -> DataFrame:
    """Test/ingest helper: build the same shape from in-memory lines,
    preserving list order as file order."""
    rows = [(line, i) for i, line in enumerate(lines)]
    return spark.createDataFrame(rows, f"{LINE_COL} string, {LINE_ID_COL} long")

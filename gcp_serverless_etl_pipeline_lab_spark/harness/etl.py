"""Sales-ETL harness queries: the reference's validation chain (R1-R12)
run end-to-end on deterministically synthesized messy CSV lines, plus the
standalone R6/R7/R8/R9/R10 operator checks on the shared tables.

The sales-ETL queries synthesize CSV lines deterministically from
``lineitem`` (corruption class = key % 23) and push them through the real
validation chain; the oracle re-implements the reference semantics
(`/root/reference/dataflow/dataflow_transform.py:37-125`) independently in
DuckDB SQL — split/trim, ordered short-circuit, first-wins dedup by line
order, lenient casts, two date formats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.local_frames import literal_frame
from ..operators.transform import (
    finalize_clean,
    finalize_errors,
    split_clean_errors,
)
from ..operators.validate import annotate
from ..sources.text_csv import LINE_COL, LINE_ID_COL
from ._registry import _t, register

# ---------------------------------------------------------------------------
# S1 — scan / filter / projection (predicate + column pushdown to parquet)
# ---------------------------------------------------------------------------


@register(
    "s1_scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 45
    """,
)
def s1_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# The sales ETL on synthesized messy CSV lines (R1–R12 end-to-end)
# ---------------------------------------------------------------------------
#
# Line synthesis from lineitem (deterministic, shared with the oracle):
#   k        = l_orderkey * 10 + l_linenumber          (unique; also the line order)
#   price_s  = printf('%.2f', l_extendedprice)
#   qty_s    = cast(cast(l_quantity as int) as string)
#   date_s   = yyyy-MM-dd of l_shipdate
#   product  = word derived from l_returnflag
# Corruption class m = k % 23:
#   0  price 'twenty'            → Invalid price or quantity
#   1  empty product             → Missing required field
#   2  date '2024-18-01'         → Invalid sale_date (semantic month)
#   3  qty 'word'                → Invalid price or quantity
#   4  negative price            → Non-positive price or quantity
#   5  id 'x'||k                 → Non-numeric id
#   6  only 3 fields             → Malformed row, not enough fields
#   7  id := k-7 (dup of the m=0 row, which claims its id then fails cast)
#                                → Duplicate id in this bundle
#   8  date with slashes         → clean (alt format path)
#   9  qty '5.0'                 → Invalid price or quantity (int() parity)
#   10 quoted product w/ comma   → naive split shifts fields → Invalid price
#   11 product '"..."' quoted    → clean, quotes stripped
#   12 padded fields '  x  '     → clean, trimmed
#   else                         → clean

_ETL_SPARK_LINE = """
  concat_ws(',',
    CASE
      WHEN m = 5 THEN concat('x', CAST(k AS STRING))
      WHEN m = 7 THEN CAST(k - 7 AS STRING)
      WHEN m = 12 THEN concat('  ', CAST(k AS STRING), '  ')
      ELSE CAST(k AS STRING) END,
    CASE
      WHEN m = 1 THEN ''
      WHEN m = 10 THEN concat('"', product, ', Deluxe"')
      WHEN m = 11 THEN concat('"', product, '"')
      WHEN m = 12 THEN concat(' ', product, ' ')
      ELSE product END,
    CASE
      WHEN m = 0 THEN 'twenty'
      WHEN m = 4 THEN concat('-', price_s)
      ELSE price_s END,
    CASE
      WHEN m = 3 THEN 'word'
      WHEN m = 9 THEN '5.0'
      ELSE qty_s END,
    CASE
      WHEN m = 2 THEN '2024-18-01'
      WHEN m = 8 THEN replace(date_s, '-', '/')
      ELSE date_s END
  )
"""

# DuckDB spelling of the same line builder (printf/strftime instead of
# format_string/date_format; otherwise identical by construction).
#
# Split into BASE (synthesize lines) + CHAIN (validation semantics over a
# `lines(line_id, value)` CTE) so the roundtrip query can interpose a
# different line-id assignment: the shared tables do NOT have unique
# (l_orderkey, l_linenumber), so k collides (up to 5×). The in-memory
# queries keep line_id = k — tied ids mean neither row is "later", so
# neither is flagged duplicate, identically in engine and oracle. The
# file roundtrip instead materializes a real file order (ORDER BY k,
# value — a total order since equal (k, value) lines are byte-identical)
# and both sides first-wins-dedup on that.
_ETL_ORACLE_BASE = """
  WITH base AS (
    SELECT (l_orderkey * 10 + l_linenumber) AS k,
           (l_orderkey * 10 + l_linenumber) % 23 AS m,
           printf('%.2f', l_extendedprice) AS price_s,
           CAST(CAST(l_quantity AS INTEGER) AS VARCHAR) AS qty_s,
           strftime(l_shipdate, '%Y-%m-%d') AS date_s,
           CASE l_returnflag WHEN 'A' THEN 'Alpha Widget'
                             WHEN 'R' THEN 'Rho Gadget'
                             ELSE 'Nu Gizmo' END AS product
    FROM lineitem
  ),
  lines_raw AS (
    SELECT k AS line_id,
      CASE WHEN m = 6 THEN
        concat_ws(',', CAST(k AS VARCHAR), product, price_s)
      ELSE
        concat_ws(',',
          CASE WHEN m = 5 THEN concat('x', CAST(k AS VARCHAR))
               WHEN m = 7 THEN CAST(k - 7 AS VARCHAR)
               WHEN m = 12 THEN concat('  ', CAST(k AS VARCHAR), '  ')
               ELSE CAST(k AS VARCHAR) END,
          CASE WHEN m = 1 THEN ''
               WHEN m = 10 THEN concat('"', product, ', Deluxe"')
               WHEN m = 11 THEN concat('"', product, '"')
               WHEN m = 12 THEN concat(' ', product, ' ')
               ELSE product END,
          CASE WHEN m = 0 THEN 'twenty'
               WHEN m = 4 THEN concat('-', price_s)
               ELSE price_s END,
          CASE WHEN m = 3 THEN 'word'
               WHEN m = 9 THEN '5.0'
               ELSE qty_s END,
          CASE WHEN m = 2 THEN '2024-18-01'
               WHEN m = 8 THEN replace(date_s, '-', '/')
               ELSE date_s END)
      END AS value
    FROM base
  )"""

_ETL_ORACLE_CHAIN = """,
  toks AS (
    SELECT line_id, value,
           list_transform(string_split(value, ','), x -> trim(x)) AS parts
    FROM lines
    WHERE NOT starts_with(lower(value), 'id,')
  ),
  fields AS (
    SELECT line_id, value, parts,
           len(parts) >= 5 AS arity_ok,
           parts[1] AS id_raw, parts[2] AS product_raw, parts[3] AS price_raw,
           parts[4] AS qty_raw, parts[5] AS date_raw
    FROM toks
  ),
  flags AS (
    SELECT *,
           arity_ok AND id_raw <> '' AND product_raw <> '' AND price_raw <> ''
                    AND qty_raw <> '' AND date_raw <> '' AS eligible
    FROM fields
  ),
  dedup AS (
    SELECT *,
           CASE WHEN eligible THEN
             line_id > min(line_id) OVER (PARTITION BY eligible, id_raw)
           ELSE FALSE END AS is_dup
    FROM flags
  ),
  typed AS (
    SELECT *,
           TRY_CAST(price_raw AS DOUBLE) AS price,
           CASE WHEN regexp_full_match(qty_raw, '[+-]?[0-9]+')
                THEN TRY_CAST(qty_raw AS BIGINT) END AS quantity,
           COALESCE(TRY_CAST(try_strptime(date_raw, '%Y-%m-%d') AS DATE),
                    TRY_CAST(try_strptime(date_raw, '%Y/%m/%d') AS DATE)) AS sale_date,
           regexp_replace(product_raw, '["'']', '', 'g') AS product_clean,
           regexp_full_match(id_raw, '[0-9]+') AS id_ok
    FROM dedup
  ),
  labeled AS (
    SELECT *,
      CASE
        WHEN NOT arity_ok THEN 'Malformed row, not enough fields'
        WHEN NOT eligible THEN 'Missing required field'
        WHEN is_dup THEN 'Duplicate id in this bundle'
        WHEN price IS NULL OR quantity IS NULL THEN 'Invalid price or quantity'
        WHEN price <= 0 OR quantity <= 0 THEN 'Non-positive price or quantity'
        WHEN sale_date IS NULL THEN 'Invalid sale_date'
        WHEN product_clean = '' THEN 'Invalid product name'
        WHEN NOT id_ok THEN 'Non-numeric id'
      END AS error
    FROM typed
  )
"""

# in-memory line order: line_id = k, ties collapse (see note above)
_ETL_ORACLE_SRC = (
    _ETL_ORACLE_BASE
    + ",\n  lines AS (SELECT line_id, value FROM lines_raw)"
    + _ETL_ORACLE_CHAIN
)

# file order: total order (k, value), sequential ids like the text scan's
# monotonically_increasing_id over the single sorted file
_ETL_ORACLE_FILE_SRC = (
    _ETL_ORACLE_BASE
    + ",\n  lines AS (SELECT row_number() OVER (ORDER BY line_id, value)"
    " AS line_id, value FROM lines_raw)"
    + _ETL_ORACLE_CHAIN
)


def _etl_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
        ((F.col("l_orderkey") * 10 + F.col("l_linenumber")) % 23).alias("m"),
        F.format_string("%.2f", F.col("l_extendedprice")).alias("price_s"),
        F.col("l_quantity").cast("int").cast("string").alias("qty_s"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("date_s"),
        F.when(F.col("l_returnflag") == "A", "Alpha Widget")
        .when(F.col("l_returnflag") == "R", "Rho Gadget")
        .otherwise("Nu Gizmo")
        .alias("product"),
    )
    lines = li.select(
        F.col("k").alias(LINE_ID_COL),
        F.when(
            F.col("m") == 6,
            F.concat_ws(
                ",", F.col("k").cast("string"), F.col("product"), F.col("price_s")
            ),
        )
        .otherwise(F.expr(_ETL_SPARK_LINE))
        .alias(LINE_COL),
    )
    return lines


def _etl_annotated(spark: SparkSession, sf_dir: str):
    return annotate(_etl_lines(spark, sf_dir))


@register(
    "etl_clean_summary",
    _ETL_ORACLE_SRC
    + """
    SELECT COUNT(*) AS n_clean,
           COUNT(DISTINCT id_raw) AS n_ids,
           ROUND(SUM(price * quantity), 2) AS sum_total,
           CAST(SUM(quantity) AS BIGINT) AS sum_qty,
           strftime(MAX(sale_date), '%Y-%m-%d') AS latest_date,
           COUNT(DISTINCT product_clean) AS n_products
    FROM labeled WHERE error IS NULL
    """,
)
def etl_clean_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = finalize_clean(_etl_annotated(spark, sf_dir))
    return clean.agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.countDistinct("id").alias("n_ids"),
        F.round(F.sum("total_sale"), 2).alias("sum_total"),
        F.sum("quantity").alias("sum_qty"),
        F.date_format(F.max("sale_date"), "yyyy-MM-dd").alias("latest_date"),
        F.countDistinct("product").alias("n_products"),
    )


@register(
    "etl_error_counts",
    _ETL_ORACLE_SRC
    + """
    SELECT error, COUNT(*) AS n
    FROM labeled WHERE error IS NOT NULL
    GROUP BY error ORDER BY error
    """,
)
def etl_error_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    errors = finalize_errors(_etl_annotated(spark, sf_dir))
    return errors.groupBy("error").agg(F.count(F.lit(1)).alias("n")).orderBy("error")


@register(
    "etl_roundtrip_sinks",
    _ETL_ORACLE_FILE_SRC
    + """
    SELECT c.n_clean, c.sum_total, c.sum_qty, e.n_errors, e.n_error_kinds
    FROM (SELECT COUNT(*) AS n_clean,
                 ROUND(SUM(price * quantity), 2) AS sum_total,
                 CAST(SUM(quantity) AS BIGINT) AS sum_qty
          FROM labeled WHERE error IS NULL) c,
         (SELECT COUNT(*) AS n_errors,
                 COUNT(DISTINCT error) AS n_error_kinds
          FROM labeled WHERE error IS NOT NULL) e
    """,
)
def etl_roundtrip_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S3/Q5 under the oracle gate: materialize the synthesized messy
    CSV to disk, run the FULL pipeline (text scan → validation chain →
    warehouse parquet + dead-letter JSON sinks → quality gate), then
    RE-READ both sinks and aggregate. Matching the oracle — which computes
    the same numbers straight from the validation semantics — proves the
    writers round-trip rows, types, and values end-to-end
    (`dataflow/dataflow_transform.py:152-168`).

    The CSV is written as ONE file in the total order (k, value) — a real
    file order with DISTINCT line ids, unlike the in-memory queries' tied
    line_id = k — and the oracle assigns the identical row_number order
    (see _ETL_ORACLE_FILE_SRC), so first-wins dedup matches even though
    the shared tables carry duplicate (l_orderkey, l_linenumber) keys.

    The temp warehouse/dead-letter copies are deleted before returning and
    the pipeline's annotated cache is unpersisted — repeated bench/
    correctness invocations must not accumulate disk or executor memory —
    so the 1-row aggregate is collected eagerly here (same driver-side
    1-row pattern as the quality gate) and handed back as a literal
    DataFrame with the sink-derived schema."""
    import os
    import shutil
    import tempfile

    from ..pipeline import run_sales_etl
    from ..sinks import read_warehouse

    base = tempfile.mkdtemp(prefix="etl_roundtrip_")
    result = None
    try:
        csv_dir = os.path.join(base, "csv")
        wh_dir = os.path.join(base, "warehouse")
        dl_dir = os.path.join(base, "dead_letter")
        lines = _etl_lines(spark, sf_dir)
        # Round-15 optimization (guide §2.4): the file is ONE text file, so
        # a global orderBy buys nothing over sorting inside the single
        # output partition — but it costs a RangePartitioner SAMPLING job
        # that re-runs the whole line synthesis, plus a range exchange.
        # repartition(1) + sortWithinPartitions writes the byte-identical
        # file (total order over the one partition) with the synthesis run
        # once and no sampling pass.
        (
            lines.repartition(1)
            .sortWithinPartitions(LINE_ID_COL, LINE_COL)
            .select(LINE_COL)
            .write.mode("overwrite")
            .text(csv_dir)
        )
        result = run_sales_etl(
            spark, csv_dir, warehouse_path=wh_dir, dead_letter_path=dl_dir
        )
        c = read_warehouse(spark, wh_dir).agg(
            F.count(F.lit(1)).alias("n_clean"),
            F.round(F.sum("total_sale"), 2).alias("sum_total"),
            F.sum("quantity").alias("sum_qty"),
        )
        # Round-15: explicit schema — schemaless read.json runs a whole
        # extra inference pass over the (error-majority) dead-letter set
        # before the real read (guide §6).
        e = spark.read.schema("error STRING, row STRING").json(dl_dir).agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.countDistinct("error").alias("n_error_kinds"),
        )
        joined = c.crossJoin(e)
        rows = joined.collect()
        return literal_frame(spark, joined.schema, rows)
    finally:
        if result is not None:
            result.unpersist()
        shutil.rmtree(base, ignore_errors=True)


_ETL_SPLIT_ORACLE = (
    _ETL_ORACLE_SRC
    + """
    SELECT c.n_clean, c.sum_total, c.sum_qty, e.n_errors, e.n_error_kinds
    FROM (SELECT COUNT(*) AS n_clean,
                 ROUND(SUM(price * quantity), 2) AS sum_total,
                 CAST(SUM(quantity) AS BIGINT) AS sum_qty
          FROM labeled WHERE error IS NULL) c,
         (SELECT COUNT(*) AS n_errors,
                 COUNT(DISTINCT error) AS n_error_kinds
          FROM labeled WHERE error IS NOT NULL) e
    """
)


def _split_fanout_agg(spark: SparkSession, clean, errors) -> DataFrame:
    """Consume BOTH fan-out sides (the R12 two-consumer shape) into one
    1-row frame — the workload where the persist-vs-stage choice matters."""
    c = clean.agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.round(F.sum("total_sale"), 2).alias("sum_total"),
        F.sum("quantity").alias("sum_qty"),
    )
    e = errors.agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.countDistinct("error").alias("n_error_kinds"),
    )
    return c.crossJoin(e)


@register("etl_split_persist", _ETL_SPLIT_ORACLE)
def etl_split_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 two-consumer fan-out via the persist path (MEMORY_AND_DISK cache
    of the annotated intermediate, two filters). Benchmark twin of
    `etl_split_staged` — BASELINE.md records the measured tradeoff."""
    annotated = _etl_annotated(spark, sf_dir)
    clean, errors = split_clean_errors(annotated)
    try:
        joined = _split_fanout_agg(spark, clean, errors)
        rows = joined.collect()
        return literal_frame(spark, joined.schema, rows)
    finally:
        annotated.unpersist()


@register("etl_split_staged", _ETL_SPLIT_ORACLE)
def etl_split_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 two-consumer fan-out via the staging path
    (`split_clean_errors_staged`): write the annotated intermediate once as
    parquet, then each consumer reads the columnar copy with pruning. The
    100 TB-safe variant — no executor-memory cache to lose. The staging
    directory is deleted after the aggregates are collected."""
    import shutil
    import tempfile

    from ..operators.transform import split_clean_errors_staged

    base = tempfile.mkdtemp(prefix="etl_split_staged_")
    try:
        clean, errors = split_clean_errors_staged(
            _etl_annotated(spark, sf_dir), base + "/staged"
        )
        joined = _split_fanout_agg(spark, clean, errors)
        rows = joined.collect()
        return literal_frame(spark, joined.schema, rows)
    finally:
        shutil.rmtree(base, ignore_errors=True)

# ---------------------------------------------------------------------------
# R6/R7/R8 standalone operator checks on the shared tables
# ---------------------------------------------------------------------------


@register(
    "r6_dedup_first_wins",
    """
    WITH stream AS (
      SELECT o_orderkey AS id, o_totalprice AS price,
             o_orderkey * 2 + 1 AS arrival
      FROM orders
      UNION ALL
      SELECT o_orderkey AS id, o_totalprice + 100000 AS price,
             o_orderkey * 2 AS arrival
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY id ORDER BY arrival) AS rn
      FROM stream
    )
    SELECT COUNT(*) AS n_kept, ROUND(SUM(price), 2) AS sum_price
    FROM ranked WHERE rn = 1
    """,
)
def r6_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global first-occurrence-wins dedup over an arrival-ordered stream:
    duplicates synthesized for every 20th key arrive BEFORE the original,
    so first-wins must keep the modified copy — distinguishes first-wins
    from keep-any (`dropDuplicates`)."""
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    originals = orders.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderkey") * 2 + 1).alias("arrival"),
    )
    early_dups = orders.filter(F.col("o_orderkey") % 20 == 0).select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_totalprice") + 100000).alias("price"),
        (F.col("o_orderkey") * 2).alias("arrival"),
    )
    stream = originals.unionAll(early_dups)
    w = Window.partitionBy("id").orderBy("arrival")
    kept = stream.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"), F.round(F.sum("price"), 2).alias("sum_price")
    )


@register(
    "r7_lenient_cast_json",
    """
    SELECT event_type,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def r7_lenient_cast_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-on-fail cast of a JSON-extracted string field (R7 semantics on a
    semi-structured column)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@register(
    "r8_multiformat_dates",
    """
    WITH formatted AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%d')
                  ELSE strftime(ts, '%Y/%m/%d') END AS ds
      FROM events
    )
    SELECT strftime(COALESCE(TRY_CAST(try_strptime(ds, '%Y-%m-%d') AS DATE),
                             TRY_CAST(try_strptime(ds, '%Y/%m/%d') AS DATE)),
                    '%Y-%m-%d') AS day,
           COUNT(*) AS n
    FROM formatted GROUP BY day ORDER BY day
    """,
)
def r8_multiformat_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 2 == 0, F.date_format("ts", "yyyy-MM-dd"))
        .otherwise(F.date_format("ts", "yyyy/MM/dd"))
        .alias("ds")
    )
    parsed = F.coalesce(F.to_date("ds", "yyyy-M-d"), F.to_date("ds", "yyyy/M/d"))
    return (
        ev.select(F.date_format(parsed, "yyyy-MM-dd").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("day")
    )


@register(
    "r9_string_clean",
    """
    SELECT regexp_replace(trim(concat('  "', p_name, '"  ')), '["'']', '', 'g')
               AS product,
           COUNT(*) AS n
    FROM part GROUP BY product ORDER BY product
    """,
)
def r9_string_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    dirty = F.concat(F.lit('  "'), F.col("p_name"), F.lit('"  '))
    cleaned = F.regexp_replace(F.trim(dirty), "[\"']", "")
    return (
        _t(spark, sf_dir, "part")
        .select(cleaned.alias("product"))
        .groupBy("product")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("product")
    )


@register(
    "r10_derived_column",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * l_quantity, 2) AS total_sale
    FROM lineitem
    """,
)
def r10_derived_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * F.col("l_quantity"), 2).alias("total_sale"),
    )

"""Round-6: the oracled ``spark.sql`` surface (SURVEY §3.3).

The reference's warehouse users speak SQL — the DAG's validation gate and
summary report are literal SQL strings
(`/root/reference/composer/sales_etl_dag.py:74-84,93-101`) and the README
verifies results with a SQL query (`/root/reference/README.md:99-104`).
Every query in this module is therefore a *SQL string executed via
``spark.sql`` over registered temp views* — not a DataFrame builder — so a
user porting the DAG's SQL verbatim has a first-class, oracled path.
Catalyst compiles both surfaces to the same logical plan space, so these
share the optimizations of their DataFrame twins (predicate pushdown,
broadcast joins, AQE); tests/test_sql_surface.py pins SQL-result ==
DataFrame-result equality for the twinned queries.

The ``sales_data`` view is the clean output of the full validation chain
over the synthesized messy CSV lines — the engine's equivalent of the
BigQuery table the DAG's SQL reads. Unlike the in-memory ``etl_*``
queries (where colliding synthesized keys share a line id, so tied rows
are deliberately exempt from first-wins dedup — harness.py note), this
view gives every line a UNIQUE total-order id: byte-identical lines
collapse (DISTINCT), then colliding keys are ranked by line text within
the key (``k*8 + rank - 1`` — collisions are ≤5-way, so ranges stay
disjoint). First-wins dedup then applies exactly as it would to a real
file load, and clean ids are unique the way a loaded warehouse table's
are — which is what the DAG's validation gate asserts. The oracle
mirrors the same DISTINCT + per-key row_number id assignment.

Names are prefixed ``a0c_`` (inside the driver correctness gate's
50-entry alphabetical window — COVERAGE.md "Driver correctness-gate
truncation").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ._registry import register
from .etl import _ETL_ORACLE_BASE, _ETL_ORACLE_CHAIN, _etl_lines
from ..operators.transform import finalize_clean
from ..operators.validate import annotate
from ..sources.tables import register_views

# Oracle chain over the DISTINCT line set with unique total-order ids
# (see module docstring): byte-identical lines collapse, colliding keys
# get disjoint ids k*8 + rank(value) - 1 within the key.
_SQL_ORACLE_SRC = (
    _ETL_ORACLE_BASE
    + """,
  lines AS (
    SELECT line_id * 8
             + row_number() OVER (PARTITION BY line_id ORDER BY value) - 1
             AS line_id,
           value
    FROM (SELECT DISTINCT line_id, value FROM lines_raw)
  )"""
    + _ETL_ORACLE_CHAIN
)


def _sales_view(spark: SparkSession, sf_dir: str) -> None:
    """Register ``sales_data``: the warehouse table the DAG's SQL reads —
    clean rows (id, product, price, quantity, sale_date, total_sale) from
    the full validation chain over the deduplicated synthesized line set
    with unique total-order line ids (the window is partitioned by the
    synthesized key, so no global sort — scale-safe)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..sources.text_csv import LINE_COL, LINE_ID_COL

    # Round-15 optimization (guide §2.4, share one exchange): DISTINCT on
    # (line_id, value) and the per-key row_number window both cluster by
    # line_id. One explicit hash repartition on line_id satisfies BOTH —
    # HashPartitioning(line_id) satisfies ClusteredDistribution(line_id,
    # value) for the aggregate and the window's own requirement — so the
    # plan runs distinct + window in a single post-shuffle stage instead
    # of shuffling the full line set twice (3 exchanges → 2 for the view
    # subtree; plan pinned in plans/r15/a0c_sql_*_after.txt).
    w = Window.partitionBy(LINE_ID_COL).orderBy(LINE_COL)
    lines = (
        _etl_lines(spark, sf_dir)
        .repartition(LINE_ID_COL)
        .dropDuplicates()
        .select(
            (F.col(LINE_ID_COL) * 8 + F.row_number().over(w) - 1).alias(
                LINE_ID_COL
            ),
            LINE_COL,
        )
    )
    clean = finalize_clean(annotate(lines))
    clean.createOrReplaceTempView("sales_data")


@register(
    "a0c_sql_validation_gate",
    _SQL_ORACLE_SRC
    + """
    SELECT * FROM (
      SELECT COUNT(*) AS total_records,
             COUNT(DISTINCT id_raw) AS unique_records,
             CAST(SUM(CASE WHEN price * quantity = price * quantity
                           THEN 1 ELSE 0 END) AS BIGINT)
                 AS correct_calculations
      FROM labeled WHERE error IS NULL
    ) WHERE total_records > 0
      AND unique_records = total_records
      AND correct_calculations = total_records
    """,
)
def a0c_sql_validation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 quality gate as LITERAL SQL — the DAG's BigQueryCheckOperator
    query (`composer/sales_etl_dag.py:74-84`) with the table name swapped
    for the ``sales_data`` view: global aggregate + HAVING over its own
    aliases. Returns the 1-row aggregate when the gate passes, 0 rows when
    it fails (the operator's pass/fail contract). ``total_sale`` is stored
    unrounded as price*quantity (R10), so correct_calculations counts every
    row — same IEEE doubles on both engines."""
    _sales_view(spark, sf_dir)
    return spark.sql(
        """
        SELECT
            COUNT(*) AS total_records,
            COUNT(DISTINCT id) AS unique_records,
            CAST(SUM(CASE WHEN total_sale = price * quantity THEN 1 ELSE 0 END)
                 AS BIGINT) AS correct_calculations
        FROM sales_data
        HAVING
            total_records > 0
            AND unique_records = total_records
            AND correct_calculations = total_records
        """
    )


@register(
    "a0c_sql_summary_report",
    _SQL_ORACLE_SRC
    + """
    SELECT COUNT(*) AS total_sales,
           ROUND(CAST(SUM(price * quantity) AS DOUBLE), 2) AS revenue,
           ROUND(CAST(AVG(price * quantity) AS DOUBLE), 2) AS avg_sale,
           COUNT(DISTINCT product_clean) AS unique_products,
           strftime(MAX(sale_date), '%Y-%m-%d') AS latest_sale_date
    FROM labeled WHERE error IS NULL
    """,
)
def a0c_sql_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 summary report as LITERAL SQL — the DAG's
    BigQueryInsertJobOperator query (`composer/sales_etl_dag.py:93-101`)
    over the ``sales_data`` view; MAX(sale_date) is emitted as a formatted
    string per the engine-wide oracle convention for dates."""
    _sales_view(spark, sf_dir)
    return spark.sql(
        """
        SELECT
            COUNT(*) AS total_sales,
            ROUND(SUM(total_sale), 2) AS revenue,
            ROUND(AVG(total_sale), 2) AS avg_sale,
            COUNT(DISTINCT product) AS unique_products,
            date_format(MAX(sale_date), 'yyyy-MM-dd') AS latest_sale_date
        FROM sales_data
        """
    )


@register(
    "a0c_sql_revenue_by_product",
    _SQL_ORACLE_SRC
    + """
    SELECT product_clean AS product,
           ROUND(CAST(SUM(price * quantity) AS DOUBLE), 2) AS revenue
    FROM labeled WHERE error IS NULL
    GROUP BY product ORDER BY revenue DESC, product
    """,
)
def a0c_sql_revenue_by_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The README's verification query (`README.md:99-104`) as SQL over
    ``sales_data``, with the engine-wide ROUND + total-tiebreak
    determinism convention added to the ORDER BY."""
    _sales_view(spark, sf_dir)
    return spark.sql(
        """
        SELECT product, ROUND(SUM(total_sale), 2) AS revenue
        FROM sales_data
        GROUP BY product ORDER BY revenue DESC, product
        """
    )


@register(
    "a0c_sql_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def a0c_sql_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 as a verbatim SQL string over the registered ``lineitem``
    view — SQL twin of ``q1_pricing_summary`` (result equality pinned in
    tests/test_sql_surface.py). Catalyst produces the same
    partial-agg + final-agg plan as the DataFrame spelling."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 2) AS avg_qty,
               ROUND(AVG(l_extendedprice), 2) AS avg_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )


@register(
    "a0c_sql_q3_top_orders",
    """
    SELECT o_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def a0c_sql_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape as SQL — twin of ``q3_top_unshipped_orders``. The
    DataFrame twin broadcasts the dim side explicitly; here AQE's
    size-based planning makes the same call (customer/orders are far under
    the broadcast threshold at every SF where they fit an executor)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderstatus <> 'F'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey LIMIT 10
        """
    )


@register(
    "a0c_sql_topk_per_nation",
    """
    SELECT c_nationkey, o_orderkey, o_totalprice
    FROM (
      SELECT c_nationkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3 ORDER BY c_nationkey, o_totalprice DESC, o_orderkey
    """,
)
def a0c_sql_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window SQL — twin of ``window_topk_per_group`` (top-3
    orders per customer nation with a total tiebreak)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_nationkey, o_orderkey, o_totalprice
        FROM (
          SELECT c_nationkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY c_nationkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey
        ) WHERE rn <= 3 ORDER BY c_nationkey, o_totalprice DESC, o_orderkey
        """
    )


@register(
    "a0c_sql_semi_anti",
    """
    SELECT c_mktsegment,
           CAST(SUM(CASE WHEN has_order THEN 0 ELSE 1 END) AS BIGINT) AS n_without_orders,
           CAST(SUM(CASE WHEN has_order THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders
    FROM (
      SELECT c_custkey, c_mktsegment,
             EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
      FROM customer
    ) GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def a0c_sql_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS in SQL — twin of ``join_semi_anti``. Catalyst
    rewrites the EXISTS subquery into the same left-semi join the
    DataFrame twin spells explicitly (RewritePredicateSubquery)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(SUM(CASE WHEN has_order THEN 0 ELSE 1 END) AS BIGINT) AS n_without_orders,
               CAST(SUM(CASE WHEN has_order THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders
        FROM (
          SELECT c_custkey, c_mktsegment,
                 EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_order
          FROM customer
        ) GROUP BY c_mktsegment ORDER BY c_mktsegment
        """
    )

"""Relational-breadth harness queries: TPC-H-shaped joins and aggregates,
the window-function family, grouping sets (ROLLUP/CUBE/pivot), set
operations, as-of and range joins, CDC-style merge, ntile bucketing, and
the skew-handling salted join — the engine surface beyond the reference's
GROUP BY + HAVING (SURVEY.md §2.12 gap list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.skew import salted_join
from ._registry import _t, register

# ---------------------------------------------------------------------------
# Joins / windows / top-k (engine capability beyond the reference, §2.4–2.6)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
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
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — the flagship aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_top_unshipped_orders",
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
def q3_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way join + top-k. Customer/orders are small
    relative to lineitem → dimension side broadcast; rounded revenue plus
    key tiebreak keeps the LIMIT cut deterministic vs the oracle."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    joined = li.join(
        F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "o_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@register(
    "join_semi_anti",
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
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    order_keys = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    with_orders = (
        cust.join(order_keys, cust.c_custkey == order_keys.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    without_orders = (
        cust.join(order_keys, cust.c_custkey == order_keys.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    segments = cust.select("c_mktsegment").distinct()
    return (
        segments.join(without_orders, "c_mktsegment", "left")
        .join(with_orders, "c_mktsegment", "left")
        .select(
            "c_mktsegment",
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "window_topk_per_group",
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
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer nation: broadcast dim join + ranking window
    with a total tiebreak."""
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "o_orderkey", "o_totalprice")
        .orderBy("c_nationkey", F.desc("o_totalprice"), "o_orderkey")
    )

# ---------------------------------------------------------------------------
# Pivot — wide conditional aggregation
# ---------------------------------------------------------------------------


@register(
    "pivot_revenue",
    """
    SELECT l_linestatus,
           ROUND(SUM(CASE WHEN l_returnflag = 'A'
                 THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_A,
           ROUND(SUM(CASE WHEN l_returnflag = 'N'
                 THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_N,
           ROUND(SUM(CASE WHEN l_returnflag = 'R'
                 THEN l_extendedprice * (1 - l_discount) END), 2) AS rev_R
    FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with EXPLICIT value list — at 100 TB an implicit
    pivot runs a blocking distinct-scan over the fact table just to learn
    the column set; pinning the values keeps it a single shuffle-free
    partial-agg + one exchange on the group key."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.withColumn(
            "rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("rev"), 2))
    )
    return out.select(
        "l_linestatus",
        F.col("A").alias("rev_A"),
        F.col("N").alias("rev_N"),
        F.col("R").alias("rev_R"),
    ).orderBy("l_linestatus")


# ---------------------------------------------------------------------------
# CUBE — all grouping-set combinations in one pass
# ---------------------------------------------------------------------------


@register(
    "cube_revenue",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(flag, status): one logical Expand node feeding a single hash
    aggregate — Catalyst plans one shuffle for all 4 grouping sets instead
    of a UNION ALL of 4 scans (4× less input read at scale). COALESCE maps
    the roll-up NULLs to 'ALL' (grouping columns are non-null in the data,
    so the sentinel is unambiguous)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rev", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("rev"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


# ---------------------------------------------------------------------------
# Window-function family — running agg, lag/lead, ranks, one window spec
# ---------------------------------------------------------------------------


@register(
    "window_running_analytics",
    """
    WITH src AS (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
             CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT) AS rev_c
      FROM lineitem WHERE l_quantity >= 48
    )
    SELECT l_returnflag, l_orderkey, l_linenumber,
           ROW_NUMBER() OVER w AS rn,
           DENSE_RANK() OVER (PARTITION BY l_returnflag
                              ORDER BY CAST(l_quantity AS BIGINT)) AS qty_rank,
           CAST(SUM(rev_c) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS running_rev_cents,
           COALESCE(LAG(CAST(l_quantity AS BIGINT)) OVER w, -1) AS prev_qty,
           COALESCE(LEAD(CAST(l_quantity AS BIGINT)) OVER w, -1) AS next_qty
    FROM src
    WINDOW w AS (PARTITION BY l_returnflag
                 ORDER BY l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT), rev_c)
    ORDER BY l_returnflag, l_orderkey, l_linenumber
    """,
)
def window_running_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole window family over ONE window spec (single sort-within-
    partition; Spark evaluates all five functions in one Window physical
    node — check .explain: a single Exchange on l_returnflag then one
    Sort). Ordering key (l_orderkey, l_linenumber) is unique, so running
    sums are deterministic and the FP accumulation order matches the
    oracle's. dense_rank uses its own ordering and costs a second Window
    node but reuses the same exchange."""
    li = _t(spark, sf_dir, "lineitem")
    src = li.filter(F.col("l_quantity") >= 48).select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("qty"),
        # Integer-cents accumulator: windowed SUM(double) is association-
        # order-dependent (DuckDB segment-tree vs Spark sequential) and at
        # 1e7 magnitudes the error exceeds cent rounding; ROUND/decimal
        # casts also disagree at half-cent boundaries (JVM string-based
        # BigDecimal.valueOf vs bit-level). FLOOR(x*100) is a pure bit
        # operation — identical everywhere — and BIGINT sums are exact.
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("bigint")
        .alias("rev_c"),
    )
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # qty + rev tiebreakers make the ordering total, so lag/lead/running
    # sums are engine-independent (fully-identical rows remain tied, but
    # then either order yields identical output tuples).
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_orderkey", "l_linenumber", "qty", "rev_c"
    )
    wrank = Window.partitionBy("l_returnflag").orderBy("qty")
    return src.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("rn"),
        F.dense_rank().over(wrank).alias("qty_rank"),
        F.sum("rev_c")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_rev_cents"),
        F.coalesce(F.lag("qty").over(w), F.lit(-1)).alias("prev_qty"),
        F.coalesce(F.lead("qty").over(w), F.lit(-1)).alias("next_qty"),
    ).orderBy("l_returnflag", "l_orderkey", "l_linenumber")

# ---------------------------------------------------------------------------
# Array-function surface — higher-order functions over embeddings
# ---------------------------------------------------------------------------


@register(
    "array_functions_surface",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(list_sum(list_transform(embedding[1:8],
                 x -> CAST(x AS DOUBLE))), 6) AS head_sum,
           ROUND(list_max(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))), 6) AS max_elem,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sq_norm
    FROM embeddings WHERE vec_id % 97 = 0 ORDER BY vec_id
    """,
)
def array_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform / filter / aggregate /
    slice / array_max) — all Catalyst expressions evaluated inside codegen
    over the Arrow-read array column; zero UDFs, zero explode-reassemble
    round trips (an explode+groupBy formulation would shuffle dim× the
    rows)."""
    emb = _t(spark, sf_dir, "embeddings")
    dbl = "transform(embedding, x -> CAST(x AS DOUBLE))"
    return (
        emb.filter(F.col("vec_id") % 97 == 0)
        .select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(
                F.expr(f"aggregate(slice({dbl}, 1, 8), 0D, (a, x) -> a + x)"),
                6,
            ).alias("head_sum"),
            F.round(F.expr(f"array_max({dbl})"), 6).alias("max_elem"),
            F.size(F.expr("filter(embedding, x -> x > 0)")).alias("n_pos"),
            F.round(
                F.expr(f"aggregate({dbl}, 0D, (a, x) -> a + x * x)"), 6
            ).alias("sq_norm"),
        )
        .orderBy("vec_id")
    )

# ---------------------------------------------------------------------------
# Engine breadth beyond the reference (§2.12 gap list): set ops, rollup,
# as-of join
# ---------------------------------------------------------------------------


@register(
    "setop_except_intersect",
    """
    WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         o AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
    SELECT 'building_no_orders' AS tag, c_custkey
    FROM (SELECT * FROM b EXCEPT SELECT * FROM o)
    UNION ALL
    SELECT 'building_with_orders' AS tag, c_custkey
    FROM (SELECT * FROM b INTERSECT SELECT * FROM o)
    ORDER BY tag, c_custkey
    """,
)
def setop_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    no_orders = b.exceptAll(o).select(
        F.lit("building_no_orders").alias("tag"), "c_custkey"
    )
    with_orders = b.intersect(o).select(
        F.lit("building_with_orders").alias("tag"), "c_custkey"
    )
    return no_orders.unionAll(with_orders).orderBy("tag", "c_custkey")


@register(
    "rollup_revenue",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           ROUND(SUM(l_extendedprice * l_quantity), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY flag, status
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP — Catalyst's Expand-based grouping
    sets; one pass over the fact table."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "revenue",
            "n",
        )
        .orderBy("flag", "status")
    )


@register(
    "asof_join_last_order",
    """
    WITH od AS (
      SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS t,
             MAX(o_orderkey) AS last_order
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, od.last_order,
           strftime(od.t, '%Y-%m-%d') AS order_date
    FROM events e ASOF JOIN od ON e.user_id = od.o_custkey AND e.ts >= od.t
    ORDER BY event_id
    """,
)
def asof_join_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, the user's most recent order at or before the event
    time — operators.asof union-and-carry as-of join (DuckDB oracle uses
    its native ASOF JOIN). Orders are pre-deduped to one row per
    (custkey, date) per the operator contract."""
    from ..operators.asof import asof_join_backward

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_order"))
        .withColumn("order_date", F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    out = asof_join_backward(
        events,
        od,
        left_key="user_id",
        right_key="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_values=["last_order", "order_date"],
    )
    return out.select("event_id", "user_id", "last_order", "order_date").orderBy(
        "event_id"
    )

# ---------------------------------------------------------------------------
# Bucketed interval/range join
# ---------------------------------------------------------------------------
#
# Intervals are carved from the event stream itself: every event with
# event_id % 499 == 0 anchors a window [ts, ts + (event_id % 3 + 1) hours).
# The join attributes every event (all types) to the windows containing
# it — the "what happened during each incident/campaign" shape.


@register(
    "range_join_bucketed",
    """
    WITH iv AS (
      SELECT event_id AS interval_id, ts AS start,
             ts + INTERVAL 1 HOUR * (event_id % 3 + 1) AS "end"
      FROM events WHERE event_id % 499 = 0
    )
    SELECT iv.interval_id, COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events e JOIN iv
      ON e.ts >= iv.start AND e.ts < iv."end"
    GROUP BY iv.interval_id
    ORDER BY iv.interval_id
    """,
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import interval_bucket_join

    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_id") % 499 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start"),
        F.expr("ts + make_interval(0, 0, 0, 0, CAST(event_id % 3 + 1 AS INT), 0, 0)").alias("end"),
    )
    joined = interval_bucket_join(ev, iv, ts_col="ts", bucket_unit="hour")
    return (
        joined.groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .orderBy("interval_id")
    )

# ---------------------------------------------------------------------------
# CDC-style merge: last-writer-wins upsert without a table format
# ---------------------------------------------------------------------------
#
# Two synthetic update batches against orders (version 1 touches every
# 13th key, version 2 every 26th — so half the v1 keys CONFLICT and v2
# must win). The merge is the relational core of MERGE INTO: union the
# base with all update batches, keep the highest-version row per key.


@register(
    "merge_upsert_last_wins",
    """
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
             0 AS version
      FROM orders
    ),
    u1 AS (
      SELECT k, 'U1' AS status, price_cents + 10000, 1 FROM base WHERE k % 13 = 0
    ),
    u2 AS (
      SELECT k, 'U2' AS status, price_cents + 20000, 2 FROM base WHERE k % 26 = 0
    ),
    allv AS (
      SELECT * FROM base UNION ALL SELECT * FROM u1 UNION ALL SELECT * FROM u2
    ),
    merged AS (
      SELECT * FROM (
        SELECT k, status, price_cents,
               row_number() OVER (PARTITION BY k ORDER BY version DESC) AS rn
        FROM allv
      ) WHERE rn = 1
    )
    SELECT status, COUNT(*) AS n,
           CAST(SUM(price_cents) AS BIGINT) AS sum_price_cents
    FROM merged GROUP BY status ORDER BY status
    """,
)
def merge_upsert_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (upsert, last writer wins) as a pure
    DataFrame plan: union base + update batches, one window by key
    ordered by version desc, keep rank 1. At 100 TB this is ONE shuffle
    of base+updates by key — the same cost profile a format-native MERGE
    pays in its join — and it needs no table format. The warehouse
    sink's pinned-version reads (sinks.read_warehouse(version=)) provide
    the time-travel half of that story; together they bracket what
    delta-spark would give us (COVERAGE documents the skip)."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.lit(0).alias("version"),
    )
    u1 = base.filter(F.col("k") % 13 == 0).select(
        "k", F.lit("U1").alias("status"),
        (F.col("price_cents") + 10000).alias("price_cents"), F.lit(1).alias("version"),
    )
    u2 = base.filter(F.col("k") % 26 == 0).select(
        "k", F.lit("U2").alias("status"),
        (F.col("price_cents") + 20000).alias("price_cents"), F.lit(2).alias("version"),
    )
    allv = base.unionAll(u1).unionAll(u2)
    w = Window.partitionBy("k").orderBy(F.desc("version"))
    merged = (
        allv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        merged.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("price_cents").alias("sum_price_cents"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Equal-frequency bucketing (ntile) of documents by length
# ---------------------------------------------------------------------------


@register(
    "doc_length_ntile_buckets",
    """
    WITH t AS (
      SELECT doc_id, n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS bucket
      FROM documents
    )
    SELECT bucket, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM t GROUP BY bucket ORDER BY bucket
    """,
)
def doc_length_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile bucketing by document length — the
    curriculum/length-bucketed-batching primitive. ntile needs a TOTAL
    order (doc_id tiebreak) to be engine-deterministic. Note the global
    ORDER BY inside the window: a single-partition sort, fine for
    bucket-count ≪ corpus statistics but the 100 TB path is
    approx-quantile cutpoints (a8_stats_aggregates documents the same
    swap) — this query is the exact-semantics baseline."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "n_chars",
        F.ntile(10).over(Window.orderBy("n_chars", "doc_id")).alias("bucket"),
    )
    return (
        t.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("bucket")
    )

# ---------------------------------------------------------------------------
# TPC-H Q5-shaped six-table join — the join-planning breadth query
# ---------------------------------------------------------------------------


@register(
    "a0b_tpch_q5_region_revenue",
    """
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def a0b_tpch_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue by nation for one region.

    Six-table join chain exercising the planner's mixed strategy: region
    and nation are explicitly broadcast (a few rows — the filter on
    r_name prunes nation to the region's members BEFORE the big join, so
    the fact-side rows for other regions never shuffle), supplier is
    small enough for AQE to broadcast on its own, and
    customer⋈orders⋈lineitem run as shuffle joins on their keys. The
    extra c_nationkey = s_nationkey equi-condition (the "local supplier"
    predicate) rides the supplier join as a post-join filter. The date
    filter is pushed to the orders parquet scan.
    """
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )

# ---------------------------------------------------------------------------
# Salted hot-key join — operators/skew.py as an end-to-end oracled query
# ---------------------------------------------------------------------------


@register(
    "a0b_salted_hot_join",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def a0b_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders⋈customer revenue by market segment THROUGH the salted-join
    utility (operators/skew.py, n_salt=8): the fact side's shuffle key
    becomes (custkey, content-hash salt) so a pathological hot customer
    spreads over 8 reducers; the dimension side replicates once per
    salt. Matching the plain-join oracle proves salting is
    result-invariant — same rows, same aggregate, independent of salt
    fan-out and partition layout."""
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        salted_join(orders, cust, on="c_custkey", n_salt=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape) — Catalyst decorrelation
# ---------------------------------------------------------------------------


@register(
    "a0b_tpch_q17_small_qty",
    """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_small,
           ROUND(SUM(l.l_extendedprice), 2) AS small_qty_revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_quantity < (
      SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = p.p_partkey
    )
    GROUP BY p.p_brand
    ORDER BY p.p_brand
    """,
)
def a0b_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items whose quantity is below
    20% of their part's average — a correlated scalar subquery, exercised
    through the engine's spark.sql surface. Catalyst DECORRELATES it into
    a per-part aggregate joined back to the fact table (asserted in
    tests/test_plans_round5b.py: the plan is aggregates + equi-joins, no
    nested-loop re-execution per outer row — the only plan that survives
    at 100 TB)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("q17_part")
    return spark.sql(
        """
        SELECT p.p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_small,
               ROUND(SUM(l.l_extendedprice), 2) AS small_qty_revenue
        FROM q17_lineitem l JOIN q17_part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity) FROM q17_lineitem l2
          WHERE l2.l_partkey = p.p_partkey
        )
        GROUP BY p.p_brand
        ORDER BY p.p_brand
        """
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape — HAVING-subquery semi-join (large-volume orders)
# ---------------------------------------------------------------------------


@register(
    "a0b_tpch_q18_big_orders",
    """
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 180
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def a0b_tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose orders exceed 180 total units.

    The IN-subquery-with-HAVING becomes an explicit two-phase plan: ONE
    per-order quantity aggregate serves both the gate (HAVING > 180,
    shrinking it to the few large orders) and the final sum_qty column —
    the big lineitem table is scanned and shuffled on l_orderkey exactly
    once, then the small surviving-order set joins orders and the
    customer dim. At 100 TB the survivors are broadcastable by
    construction (HAVING is selective); AQE makes that call from the
    runtime size. Total tiebreak (totalprice desc, orderkey) keeps the
    LIMIT cut deterministic vs the oracle; quantities are integral so
    the BIGINT cast of the double sum is exact on both engines."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("_qty")
    )
    big = per_order.filter(F.col("_qty") > 180)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("_qty").cast("bigint").alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )

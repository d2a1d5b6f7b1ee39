"""Storage/format harness queries: JSONL, ORC, and RFC-4180 CSV
round-trips with dead-lettered corrupt lines, the bucketed co-located
join and year-partitioned pruned read through the warehouse sinks, and
small-file compaction (planning and execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60_duck
from ..functions.local_frames import literal_frame
from ._registry import _t, register

# ---------------------------------------------------------------------------
# Bucketed-table co-located join — sinks.write_bucketed
# ---------------------------------------------------------------------------


@register(
    "a0_bucketed_join_revenue",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def a0_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders⋈lineitem revenue THROUGH the bucketed warehouse layout
    (sinks.write_bucketed / read_bucketed): both tables written bucketed
    by the join key (8 buckets, in-bucket sorted, one file per bucket),
    then joined from the catalog — the equi-join runs with no Exchange
    (asserted in tests/test_bucketed.py; this query proves the VALUES
    survive the layout round-trip). Tables dropped eagerly after the
    1-row-per-group aggregate is collected."""
    from ..sinks import read_bucketed, write_bucketed

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    write_bucketed(o, "h5_orders_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(li, "h5_lineitem_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    try:
        rows = (
            read_bucketed(spark, "h5_orders_b")
            .hint("merge")
            .join(read_bucketed(spark, "h5_lineitem_b"), "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                .cast("bigint")
                .alias("revenue_cents"),
            )
            .orderBy("o_orderpriority")
            .collect()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS h5_orders_b")
        spark.sql("DROP TABLE IF EXISTS h5_lineitem_b")
    return literal_frame(
        spark,
        "o_orderpriority string, n_items bigint, revenue_cents bigint",
        [(r["o_orderpriority"], r["n_items"], r["revenue_cents"]) for r in rows],
    )


# ---------------------------------------------------------------------------
# JSONL source/sink roundtrip — sources/jsonl.py
# ---------------------------------------------------------------------------


@register(
    "a0_jsonl_roundtrip",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clean,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM({h60_duck("text")} % 1000000007) AS BIGINT) AS text_hashsum
    FROM documents
    """,
)
def a0_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL interchange round-trip (sources/jsonl.py): write `documents`
    as sharded newline-delimited JSON, drop three malformed lines into the
    directory, re-read with an explicit schema (PERMISSIVE + corrupt-
    record capture), route corrupt lines aside, and aggregate the clean
    side. Matching the oracle — computed straight from the parquet table —
    proves the writer/reader round-trips rows, types, and text VALUES
    (the 60-bit text hash sum), and that malformed input lands in the
    dead-letter split instead of the corpus. Temp dirs cleaned eagerly,
    1-row result returned as a literal (same discipline as
    etl_roundtrip_sinks)."""
    import os
    import shutil
    import tempfile

    from ..functions.hashing import h60
    from ..sources.jsonl import read_jsonl, split_corrupt, write_jsonl

    docs = _t(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="jsonl_rt_")
    try:
        out_dir = os.path.join(base, "corpus")
        write_jsonl(docs, out_dir, shards=4)
        with open(os.path.join(out_dir, "part-corrupt.json"), "w") as f:
            f.write('{"doc_id": 1, "text": unquoted}\n')
            f.write("not json at all\n")
            f.write('{"doc_id": }\n')
        back = read_jsonl(
            spark,
            out_dir,
            "doc_id bigint, text string, lang string, source string, n_chars int",
        )
        clean, corrupt = split_corrupt(back)  # caches the parse; unpersisted below
        row = (
            clean.agg(
                F.count(F.lit(1)).alias("n_clean"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.count_distinct("lang").alias("n_langs"),
                F.sum(F.pmod(h60(F.col("text")), F.lit(1000000007)))
                .cast("bigint")
                .alias("text_hashsum"),
            )
            .crossJoin(corrupt.agg(F.count(F.lit(1)).alias("n_corrupt")))
            .collect()[0]
        )
        back.unpersist()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(
        spark,
        "n_clean bigint, n_corrupt bigint, sum_chars bigint, n_langs bigint, "
        "text_hashsum bigint",
        [
            (
                row["n_clean"],
                row["n_corrupt"],
                row["sum_chars"],
                row["n_langs"],
                row["text_hashsum"],
            )
        ],
    )

# ---------------------------------------------------------------------------
# Small-file compaction planning
# ---------------------------------------------------------------------------


@register(
    "compact_file_plan",
    """
    WITH files AS (
      SELECT doc_id AS file_id, 1000 + (n_chars % 4000) AS size_b
      FROM documents
    ),
    planned AS (
      SELECT file_id, size_b,
             CAST(COALESCE(SUM(size_b) OVER (ORDER BY file_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 16000 AS BIGINT) AS out_bucket
      FROM files
    )
    SELECT out_bucket, COUNT(*) AS n_files,
           CAST(SUM(size_b) AS BIGINT) AS bytes,
           MIN(file_id) AS first_file, MAX(file_id) AS last_file
    FROM planned GROUP BY out_bucket
    ORDER BY out_bucket
    """,
)
def compact_file_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction PLANNING: assign input files to ~16 KB
    output groups by cumulative-size-before (floor(cumsum_before /
    target)), so each group's bytes land in [target, target + max_file).
    The real 100 TB concern this models: a warehouse partition with
    millions of KB-files needs deterministic group assignment BEFORE the
    copy jobs run; the assignment is one running-sum window over the
    (file, size) listing — metadata-scale, not data-scale. File sizes
    here derive deterministically from documents so the oracle can
    replan them bit-for-bit."""
    from ..sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    files = docs.select(
        F.col("doc_id").alias("file_id"),
        (F.lit(1000) + F.col("n_chars") % 4000).alias("size_b"),
    )
    w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, -1)
    planned = files.select(
        "file_id",
        "size_b",
        (F.coalesce(F.sum("size_b").over(w), F.lit(0)) / F.lit(16000))
        .cast("long")
        .alias("out_bucket"),
    )
    return (
        planned.groupBy("out_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size_b").cast("bigint").alias("bytes"),
            F.min("file_id").alias("first_file"),
            F.max("file_id").alias("last_file"),
        )
        .orderBy("out_bucket")
    )

# ---------------------------------------------------------------------------
# Small-file compaction EXECUTION (round 6 — compact_file_plan only plans)
# ---------------------------------------------------------------------------


@register(
    "compact_execute_verify",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS files_reduced
    FROM documents
    """,
)
def compact_execute_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the compaction the planner only plans: materialize
    `documents` as MANY small parquet files (repartition 64), rewrite
    with operators.compaction.compact_execute (one distributed job, one
    output file per cumulative-size group), then RE-READ the compacted
    copy and aggregate. Matching the oracle — which aggregates the source
    table directly — proves the re-layout moved every row unchanged;
    ``files_reduced`` is computed from the actual before/after file
    counts, so a compaction that failed to reduce files mismatches the
    oracle's TRUE. The 1-row result is collected eagerly and the temp
    fixture deleted (same discipline as etl_roundtrip_sinks)."""
    import shutil
    import tempfile

    from ..operators.compaction import compact_execute, read_compacted
    from ..sources.tables import load_table

    base = tempfile.mkdtemp(prefix="compact_exec_")
    try:
        src = base + "/small_files"
        dst = base + "/compacted"
        load_table(spark, sf_dir, "documents").repartition(64).write.mode(
            "overwrite"
        ).parquet(src)
        stats = compact_execute(spark, src, dst, target_bytes=1 << 20)
        agg = read_compacted(spark, dst).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.lit(stats["files_after"] < stats["files_before"]).alias(
                "files_reduced"
            ),
        )
        rows = agg.collect()
        return literal_frame(spark, agg.schema, rows)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Epoch compaction (streamed micro-batch dirs -> one committed snapshot)
# ---------------------------------------------------------------------------


@register(
    "a0d_epoch_compaction",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events
    """,
)
def a0d_epoch_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end epoch-compaction parity: the events table arrives as
    four ``epoch=K`` micro-batch dirs (the availableNow sink's layout,
    streaming/file_stream.py), epochs 0-2 are folded into a committed
    ``v=N`` snapshot by operators.compaction.compact_epochs, epoch 3
    lands AFTER the compaction, and an absorbed epoch is crash-REPLAYED
    (its dir re-created) before the read. The unified read_warehouse must
    return exactly the original table — snapshot ∪ live epoch, replayed
    epoch ignored — so any double-read, dropped group, or watermark slip
    breaks the hash against the plain-table oracle."""
    import shutil
    import tempfile

    from ..operators.compaction import compact_epochs
    from ..sinks import read_warehouse
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    base = tempfile.mkdtemp(prefix="epoch_wh_")
    try:
        # Round-15 optimization (guide §1.2 / §6): the four epoch dirs
        # used to be four separate filter+write jobs — four scans of the
        # events table, 32 tiny files per epoch. One partitionBy("epoch")
        # write produces the identical epoch=K layout in a single scan,
        # and the repartition by epoch yields a handful of files per dir,
        # which the compaction step then lists and reads far faster. The
        # arrival STORY is unchanged: epoch 3 is deleted and re-lands
        # after the compaction, epoch 1 is crash-replayed, exactly as
        # before.
        (
            ev.withColumn("epoch", F.col("event_id") % 4)
            .repartition(4, F.col("epoch"))
            .write.mode("overwrite")
            .partitionBy("epoch")
            .parquet(base)
        )
        shutil.rmtree(f"{base}/epoch=3")
        compact_epochs(spark, base, target_bytes=1 << 20)
        # post-compaction micro-batch + crash-replay of an absorbed epoch
        ev.filter(F.col("event_id") % 4 == 3).write.parquet(f"{base}/epoch=3")
        ev.filter(F.col("event_id") % 4 == 1).write.parquet(f"{base}/epoch=1")
        agg = read_warehouse(spark, base).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("sum_cents"),
        )
        rows = agg.collect()
        return literal_frame(spark, agg.schema, rows)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# Partition-pruned warehouse read — sinks.write_warehouse(partition_by)
# ---------------------------------------------------------------------------


@register(
    "a0b_partitioned_prune_year",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE CAST(year(o_orderdate) AS INTEGER) = 1997
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def a0b_partitioned_prune_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by priority for one year, read THROUGH a year-partitioned
    warehouse layout: orders is written with
    sinks.write_warehouse(partition_by=['o_year']) and read back with a
    partition filter, so the scan lists exactly one o_year=… directory
    instead of the whole table (pruning asserted on the plan in
    tests/test_plans_round5b.py; this query proves the values survive
    the partitioned round-trip). The 100 TB warehouse pattern: date-
    partition the fact table at write time, prune at read time."""
    import shutil
    import tempfile

    from ..sinks import read_warehouse, write_warehouse

    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    base = tempfile.mkdtemp(prefix="part_wh_")
    try:
        write_warehouse(orders, base, partition_by=["o_year"])
        rows = (
            read_warehouse(spark, base)
            .filter(F.col("o_year") == 1997)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .orderBy("o_orderpriority")
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(
        spark,
        "o_orderpriority string, n_orders bigint, revenue double",
        [(r["o_orderpriority"], r["n_orders"], r["revenue"]) for r in rows],
    )

# ---------------------------------------------------------------------------
# ORC interchange roundtrip — second columnar format through the sinks
# ---------------------------------------------------------------------------


@register(
    "a0b_orc_roundtrip",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           MAX(o_orderdate) AS max_date
    FROM orders
    """,
)
def a0b_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC warehouse roundtrip: write `orders` through
    sinks.write_warehouse(fmt='orc'), read it back with
    read_warehouse(fmt='orc'), and aggregate — matching the parquet-
    derived oracle proves rows, types (timestamp included), and values
    survive the second columnar format. ORC matters for interchange with
    Hive-era warehouses; predicate pushdown and column pruning work the
    same as parquet (Spark native reader)."""
    import shutil
    import tempfile

    from ..sinks import read_warehouse, write_warehouse

    base = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        write_warehouse(_t(spark, sf_dir, "orders"), base, fmt="orc")
        row = (
            read_warehouse(spark, base, fmt="orc")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct("o_orderpriority")
                .cast("bigint")
                .alias("n_priorities"),
                F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
                F.max("o_orderdate").alias("max_date"),
            )
            .collect()[0]
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(
        spark,
        "n_rows bigint, n_priorities bigint, sum_price double, max_date timestamp",
        [(row["n_rows"], row["n_priorities"], row["sum_price"], row["max_date"])],
    )


# ---------------------------------------------------------------------------
# RFC-4180 CSV roundtrip — sources/csv_rfc.py (standards-mode CSV)
# ---------------------------------------------------------------------------


_TRICKY_DUCK = h60_duck("'v,' || chr(34) || text || chr(34) || ',x'")

@register(
    "a0b_csv_rfc_roundtrip",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clean,
           CAST(2 AS BIGINT) AS n_corrupt,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM({_TRICKY_DUCK} % 1000000007)
             AS BIGINT) AS tricky_hashsum
    FROM documents
    """,
)
def a0b_csv_rfc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV roundtrip (sources/csv_rfc.py): every document's text
    is wrapped with embedded commas AND double quotes (`v,"…",x`), written
    as quoted CSV, re-read in standards mode, with two malformed lines
    dead-lettered. Matching the oracle — which recomputes the tricky
    string straight from parquet — proves the writer quotes and the
    reader unquotes EXACTLY (doubled-quote escaping round-trips), the one
    thing the reference's naive-split reader cannot do (SURVEY.md §1.3).
    The engine ships both semantics: text_csv.py for reference parity,
    csv_rfc.py for standards interchange."""
    import os
    import shutil
    import tempfile

    from ..functions.hashing import h60
    from ..sources.csv_rfc import read_csv_rfc, split_corrupt, write_csv_rfc

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit('v,"'), F.col("text"), F.lit('",x')).alias("tricky"),
        F.col("n_chars").cast("int").alias("n_chars"),
    )
    base = tempfile.mkdtemp(prefix="csv_rfc_")
    try:
        out_dir = os.path.join(base, "csv")
        write_csv_rfc(docs, out_dir, shards=4)
        # two malformed lines: unbalanced quote, wrong arity after parse
        with open(os.path.join(out_dir, "part-corrupt.csv"), "w") as fh:
            fh.write('doc_id,tricky,n_chars\n')
            fh.write('9000001,"unterminated quote,12\n')
            fh.write('9000002,"ok",notanint\n')
        back = read_csv_rfc(
            spark, out_dir, "doc_id bigint, tricky string, n_chars int"
        )
        clean, corrupt = split_corrupt(back)
        row = (
            clean.agg(
                F.count(F.lit(1)).alias("n_clean"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.sum(F.pmod(h60(F.col("tricky")), F.lit(1000000007)))
                .cast("bigint")
                .alias("tricky_hashsum"),
            )
            .crossJoin(corrupt.agg(F.count(F.lit(1)).alias("n_corrupt")))
            .collect()[0]
        )
        back.unpersist()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return literal_frame(
        spark,
        "n_clean bigint, n_corrupt bigint, sum_chars bigint, tricky_hashsum bigint",
        [
            (
                row["n_clean"],
                row["n_corrupt"],
                row["sum_chars"],
                row["tricky_hashsum"],
            )
        ],
    )


# ---------------------------------------------------------------------------
# Warehouse time travel — pinned-version reads of retained snapshots
# ---------------------------------------------------------------------------


@register(
    "a0_warehouse_time_travel",
    """
    WITH v0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v0_rows,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v0_sum_cents
      FROM orders
    ),
    v1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v1_rows,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT) + 12345)
               AS BIGINT) AS v1_sum_cents
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT v0_rows, v0_sum_cents, v1_rows, v1_sum_cents, TRUE AS latest_is_v1
    FROM v0, v1
    """,
)
def a0_warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel through the warehouse sink: write
    orders as snapshot v=0, write a mutated half-size snapshot v=1
    (every even key, price +12345 cents), then read BOTH — the pinned
    ``version=0`` read must still see the full original table after v1
    lands (immutable snapshots), and the unpinned read must see v1
    (pointer semantics). Matching the oracle — which computes both
    aggregates straight from the source table — proves pinned reads are
    genuine time travel, not a re-read of the current state.
    ``latest_is_v1`` is computed from the actual unpinned read. Temp
    warehouse deleted eagerly; 1-row result returned as a literal (same
    discipline as etl_roundtrip_sinks)."""
    import shutil
    import tempfile

    from ..sinks import read_warehouse, write_warehouse

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", cents.alias("price_cents")
    )
    base = tempfile.mkdtemp(prefix="wh_tt_")
    try:
        write_warehouse(orders, base)
        mutated = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", (F.col("price_cents") + 12345).alias("price_cents")
        )
        write_warehouse(mutated, base)
        pinned = read_warehouse(spark, base, version=0).agg(
            F.count(F.lit(1)).cast("bigint").alias("v0_rows"),
            F.sum("price_cents").cast("bigint").alias("v0_sum_cents"),
        )
        latest = read_warehouse(spark, base).agg(
            F.count(F.lit(1)).cast("bigint").alias("v1_rows"),
            F.sum("price_cents").cast("bigint").alias("v1_sum_cents"),
        )
        expect_v1 = mutated.agg(
            F.count(F.lit(1)).alias("c"), F.sum("price_cents").alias("s")
        )
        joined = pinned.crossJoin(latest).crossJoin(expect_v1)
        row = joined.select(
            "v0_rows",
            "v0_sum_cents",
            "v1_rows",
            "v1_sum_cents",
            (
                (F.col("v1_rows") == F.col("c"))
                & (F.col("v1_sum_cents") == F.col("s"))
            ).alias("latest_is_v1"),
        ).collect()
        out = literal_frame(
            spark,
            "v0_rows bigint, v0_sum_cents bigint, v1_rows bigint, "
            "v1_sum_cents bigint, latest_is_v1 boolean",
            row,
        )
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)

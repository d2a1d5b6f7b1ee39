"""Streaming deduplication — exactly-once ingestion for a 100 TB stream.

The batch dedup family (`operators/dedup.py`) answers "which documents in
this corpus are duplicates"; the streaming question is different: "this
event/document was RETRANSMITTED (at-least-once delivery, producer
retries) — emit it exactly once". The idiomatic Spark answer is
``dropDuplicatesWithinWatermark``: state is keyed by the dedup key and
EVICTED once the watermark passes, so state size is bounded by
(key cardinality within the watermark window), not by stream history —
the property that makes it run forever at scale. Plain streaming
``dropDuplicates`` without an event-time key would grow state without
bound; that is the trap this module exists to avoid.

The same function works on a batch DataFrame (watermark is a no-op
concept there) via ``dropDuplicates``, so batch==streaming parity is
testable (tests/test_streaming.py).

Reference tie-in: the reference's pipeline dedups ids within a bundle
(`dataflow/dataflow_transform.py:67-74`); retransmission-safe streaming
ingestion is its unbounded-input generalization.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import commit


def dedup_stream_exact(
    records: DataFrame,
    key_cols: Sequence[str] = ("event_id",),
    time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Emit the first arrival per ``key_cols``; suppress re-deliveries that
    arrive within ``watermark`` of the first. Keys older than the watermark
    are forgotten (bounded state); a duplicate arriving later than the
    watermark window is emitted again — that is the documented
    at-most-once-per-window contract of watermarked dedup, and the
    watermark should be sized to the producer's maximum retry horizon.

    On a batch frame this is plain ``dropDuplicates`` over the keys (the
    whole input is one "window").
    """
    keys = list(key_cols)
    if records.isStreaming:
        return records.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return records.dropDuplicates(keys)


def dedup_stream_content(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Content-keyed variant: exactly-once by md5(text) instead of an
    explicit id — the streaming twin of ``operators.dedup.exact_dup_pairs``
    keying. The hash column is computed map-side and dropped after the
    dedup, so only the 32-char key ever sits in the state store (not the
    document body)."""
    keyed = docs.withColumn("_content_k", F.md5(F.col(text_col)))
    out = dedup_stream_exact(
        keyed, key_cols=("_content_k",), time_col=time_col, watermark=watermark
    )
    return out.drop("_content_k")


def run_incremental_classify(
    spark,
    input_dir: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
) -> None:
    """Nightly-increment dedup as a stream: watch ``input_dir`` for parquet
    batch files of (doc_id, text), classify each micro-batch against the
    PERSISTED base index (operators/incremental.build_base_index — the
    base corpus is never re-shingled), and land the per-doc categories
    exactly-once in an ``epoch=<id>`` warehouse readable by
    ``sinks.read_warehouse``.

    This is the composition the 100 TB operating mode actually runs:
    - per-batch cost tracks BATCH size (index probe prunes to the gram
      buckets the batch's own grams occupy), so the stream keeps up no
      matter how large the base grows;
    - the checkpoint makes file pickup incremental (a re-run classifies
      only newly arrived batch files — the sensor loop of the reference's
      daily DAG, `composer/sales_etl_dag.py:36-48`, without re-work);
    - the epoch-overwrite sink makes delivery exactly-once (epoch ids are
      replay-stable, so a crash between write and checkpoint commit
      re-OVERWRITES the same dir instead of appending a second copy —
      same discipline as file_stream.run_available_now);
    - after merging accepted docs into the base, rebuild or extend the
      index (append postings into existing ``gb=`` dirs) and keep
      streaming — the index is immutable per base snapshot.

    ``classify_batch_vs_index``'s driver-side gram-bucket gate (a <=64
    value collect) runs once per micro-batch inside foreachBatch, where
    the batch frame is an ordinary DataFrame.
    """
    from pyspark.sql import types as T

    from ..operators.incremental import classify_batch_vs_index, probe_cache_scope

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # probe_cache_scope bounds the probe's pinned batch-shingle cache
        # to THIS epoch — without it a long-running stream leaks one
        # MEMORY_AND_DISK entry per micro-batch (disk-backed blocks are
        # never evicted). The epoch write materializes inside the scope.
        with probe_cache_scope():
            out = classify_batch_vs_index(spark, batch_df, index_path, threshold)
            out.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")

    stream = spark.readStream.schema(schema).parquet(input_dir)
    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_nightly_loop(
    spark,
    input_dir: str,
    index_path: str,
    merged_dir: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    compact_every: int | None = None,
    vacuum_min_age_seconds: float | None = None,
    max_generations_to_fold: int | None = None,
) -> dict:
    """One iteration of the FULL nightly dedup loop — the composition
    tests/test_nightly_loop.py drives by hand, as one idempotent call:

    1. stream-classify every newly arrived batch file against the
       persisted index (``run_incremental_classify``: checkpointed
       pickup, exactly-once ``epoch=`` category dirs under
       ``out_path``);
    2. for each epoch not yet absorbed: join its 'new' doc_ids back to
       their text, land them in ``merged_dir/epoch=<id>`` (overwrite —
       replay-stable), and ``append_to_index`` keyed ``epoch-<id>``.

    Crash anywhere and re-call: the stream's checkpoint skips classified
    files, the corpus epoch dir re-OVERWRITES identically, and the
    append's increment-id ledger makes the index commit exactly-once.
    Order matters: the corpus write precedes the append commit, so an
    epoch whose id is already in the index ledger is GUARANTEED to have
    its corpus dir complete — the ledger is the loop's progress marker.
    The merged corpus (base table plus ``read_warehouse(merged_dir)``)
    stays equivalent to what a full rebuild would index — pinned by the
    integration test.

    ``compact_every`` closes the loop's maintenance gap (round-10
    verdict task 6): appending forever grows one generation per night,
    and probes union one scan per generation — when the manifest lists
    at least ``compact_every`` generations after this night's merges,
    the loop runs ``compact_index`` before returning. Compaction is
    crash-safe by the same ledger discipline as the appends: applied
    epoch ids move into ``compacted_increments``, so a replay across
    the compact boundary still skips every absorbed epoch, and a crash
    DURING compaction leaves an orphan fold no reader sees (the next
    loop call simply compacts again).

    ``max_generations_to_fold`` bounds the policy's maintenance window
    (round-11 verdict task 5): a full fold rewrites the whole index —
    at 100 TB that grows with INDEX size — while folding only the
    newest K generations (LSM-style; the previous fold is itself the
    newest generation next time, so tiers merge geometrically) costs
    recent-increment volume. Probe parity is exact either way
    (compact_index's contract). None = full fold.

    ``vacuum_min_age_seconds`` completes the hygiene side: after the
    merges (and any compaction), ``vacuum_index`` sweeps generation
    debris older than the horizon — crashed appends' orphans and the
    pre-compaction dirs compact deliberately leaves for in-flight
    readers. Size the horizon beyond the longest probe/append the
    deployment can run (the reader-grace contract in vacuum_index's
    docstring); None (default) skips vacuuming.

    Returns {"classified_epochs": [...], "merged_epochs": [...],
    "new_docs": n, "compacted_generation": gen-or-None,
    "vacuumed": [relpaths]} for observability.

    The text join-back reads the whole inbox (new docs' text lives only
    there) — archive absorbed inbox files on whatever cadence keeps that
    scan bounded; the stream's checkpoint is unaffected by archival.
    """
    import os
    import re

    from ..operators.incremental import (
        append_to_index,
        compact_index,
        exact_dups_vs_index,
    )

    run_incremental_classify(
        spark, input_dir, index_path, out_path, checkpoint_dir, threshold
    )
    man = commit.load_manifest(index_path)
    applied = commit.applied_increments(man)
    epochs = sorted(
        int(m.group(1))
        for m in (
            re.fullmatch(r"epoch=(\d+)", name)
            for name in (
                os.listdir(out_path) if os.path.isdir(out_path) else []
            )
        )
        if m
    )
    merged, n_new = [], 0
    for eid in epochs:
        if f"epoch-{eid}" in applied:
            continue
        cls = spark.read.parquet(os.path.join(out_path, f"epoch={eid}"))
        new_ids = cls.filter(F.col("category") == "new").select("doc_id")
        # the inbox is at-least-once: a doc_id retransmitted into TWO
        # inbox files would otherwise join back twice and the append
        # would index duplicate postings/size rows for that base_id,
        # inflating every later probe's intersection counts — one row
        # per doc_id enters the corpus and the index, ever. The pick is
        # DETERMINISTIC (min_by content hash), not dropDuplicates'
        # arbitrary first-seen: `inc` is lazily re-executed by the count,
        # the corpus write, and the index append below, and a
        # retransmission carrying DIFFERENT text must resolve to the
        # same row in all three jobs or the merged corpus text diverges
        # from the indexed postings (ADVICE round 10).
        inc = (
            spark.read.parquet(input_dir)
            .select("doc_id", "text")
            .join(new_ids, "doc_id")
            .groupBy("doc_id")
            .agg(F.expr("min_by(text, md5(text))").alias("text"))
        )
        # ...and the retransmission can also straddle EPOCHS: both copies
        # classified 'new' in the same stream run (classification all
        # happens before any merge), the first epoch's merge extends the
        # index, and the second epoch would append the same content
        # again. Re-probe the hash column at merge time — it reflects
        # every epoch merged so far, making the whole run exactly-once
        # regardless of how the files split into micro-batches. One
        # narrow parquet-column semi-join per epoch.
        seen = exact_dups_vs_index(spark, inc, index_path)
        inc = inc.join(seen, "doc_id", "left_anti")
        n = inc.count()
        if n > 0:
            # corpus BEFORE index commit: replay-stable overwrite, and
            # the ledger then proves the corpus dir is complete
            inc.write.mode("overwrite").parquet(
                os.path.join(merged_dir, f"epoch={eid}")
            )
        append_to_index(spark, inc, index_path, increment_id=f"epoch-{eid}")
        merged.append(eid)
        n_new += n
    compacted = None
    if (
        compact_every is not None
        and len(commit.load_manifest(index_path)["generations"]) >= compact_every
    ):
        compacted = compact_index(
            spark, index_path, max_generations_to_fold=max_generations_to_fold
        )
    vacuumed: list[str] = []
    if vacuum_min_age_seconds is not None:
        vacuumed = commit.vacuum_index(index_path, vacuum_min_age_seconds)
    return {
        "classified_epochs": epochs,
        "merged_epochs": merged,
        "new_docs": n_new,
        "compacted_generation": compacted,
        "vacuumed": vacuumed,
    }

"""Streaming similarity search — query batches arriving as files probe
the PERSISTED ANN index (operators/annindex.py) and land exactly-once.

The serving shape of embedding search at scale: the index (cell-
partitioned vectors + manifest model) is built/appended offline; query
traffic arrives continuously; each micro-batch's probe reads ONLY the
cell partitions its queries hash into, so per-batch cost tracks batch
size and probed-cell volume, never corpus size — the vector twin of
streaming/dedup_stream.run_incremental_classify, with the same
exactly-once epoch-overwrite sink and checkpointed file pickup."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import commit


def run_ann_search(
    spark,
    input_dir: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    k: int = 5,
    nprobe: int = 3,
    element_type: str = "double",
) -> None:
    """Watch ``input_dir`` for parquet files of (vec_id, embedding),
    rank each micro-batch's top-k against the stored index, write
    ``epoch=<id>`` dirs readable by ``sinks.read_warehouse``. Epoch ids
    are replay-stable: a crash between the write and the checkpoint
    commit re-OVERWRITES the same dir instead of appending a duplicate.
    ``element_type`` declares the embedding element type of the arriving
    files (file-stream sources need a declared schema)."""
    from pyspark.sql import types as T

    from ..operators.annindex import query_ann_index

    elem = {
        "double": T.DoubleType(),
        "float": T.FloatType(),
    }[element_type]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(elem)),
        ]
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = query_ann_index(spark, batch_df, index_path, k=k, nprobe=nprobe)
        out.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")

    stream = spark.readStream.schema(schema).parquet(input_dir)
    (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_nightly_ann_loop(
    spark,
    input_dir: str,
    index_path: str,
    compact_every: int | None = None,
    vacuum_min_age_seconds: float | None = None,
    max_generations_to_fold: int | None = None,
    telemetry_queries: int | None = None,
) -> dict:
    """One iteration of the ANN index's nightly MAINTENANCE loop — the
    vector twin of dedup_stream.run_nightly_loop (round-11 verdict task
    4): ingest newly arrived embedding increments, append each as a
    generation, compact on policy, surface the drift flag.

    Pickup contract: every immediate child of ``input_dir`` (a parquet
    file or an ``epoch=N``-style directory of them, carrying (vec_id,
    embedding)) is ONE increment whose ``increment_id`` is the child's
    name — the manifest's applied-id ledger IS the checkpoint, so a
    crash anywhere and a re-call skips exactly the increments whose
    commits landed, including across a compaction boundary
    (``compacted_increments`` preserves absorbed ids). No separate
    checkpoint state to keep consistent with the index.

    A concurrent retrain between an append's model read and its commit
    raises the model-epoch fence (operators/annindex.append_ann_index);
    the loop retries that increment ONCE against the new model — the
    documented recovery — and re-raises if the epoch moves again
    (retrains are nightly-rare by contract; two mid-append flips means
    something is misconfigured and should be loud).

    ``compact_every``: when the manifest lists at least this many
    generations after the night's appends, fold them to one scan
    (probe cost flat in nights elapsed — the measured g64 justification
    in SCALE_STRESS.json). Drift SURVIVES the fold (carried max).
    ``max_generations_to_fold``: bound each fold to the newest K listed
    generations (LSM-style tiered compaction, round 12) so the nightly
    maintenance window tracks recent-increment volume, not index size.

    ``vacuum_min_age_seconds``: age-horizon sweep of unlisted
    generation debris, same reader-grace contract as the text loop.

    Returns {"appended": [child names], "skipped": [...], "new_vectors":
    n, "compacted_generation": gen-or-None, "rebuild_recommended": bool,
    "max_drift_ratio": float-or-None, "vacuumed": [relpaths]} — the
    drift flag is surfaced, not acted on: retraining re-routes every
    query, an operator decision (rebuild_ann_index is the one call)."""
    import os

    from ..operators.annindex import (
        ModelEpochChangedError,
        ann_drift_report,
        append_ann_index,
        compact_ann_index,
    )

    man = commit.load_manifest(index_path)
    applied = commit.applied_increments(man)
    appended: list[str] = []
    skipped: list[str] = []
    n_new = 0
    children = sorted(
        name
        for name in (os.listdir(input_dir) if os.path.isdir(input_dir) else [])
        if not name.startswith((".", "_"))
    )
    for name in children:
        if name in applied:
            skipped.append(name)
            continue
        inc = spark.read.parquet(os.path.join(input_dir, name)).select(
            "vec_id", "embedding"
        )
        try:
            did = append_ann_index(spark, inc, index_path, increment_id=name)
        except ModelEpochChangedError:
            # retry once: the benign append/retrain race — the retry
            # re-reads the NEW model and re-assigns (typed catch, so a
            # reworded message can't silently disable the recovery)
            did = append_ann_index(spark, inc, index_path, increment_id=name)
        if did:
            appended.append(name)
            n_new += inc.count()
        else:
            skipped.append(name)
    compacted = None
    if (
        compact_every is not None
        and len(commit.load_manifest(index_path)["generations"]) >= compact_every
    ):
        compacted = compact_ann_index(
            spark, index_path, max_generations_to_fold=max_generations_to_fold
        )
    # serve-time telemetry (round-13, same contract as the retrieval
    # loop): observe tonight's served recall and record it before the
    # drift report read, so an observed decay flips the flag tonight
    served_overlap = None
    if telemetry_queries:
        from ..operators.annindex import (
            record_serving_overlap,
            serving_overlap_probe,
        )

        served_overlap = serving_overlap_probe(
            spark, index_path, n_queries=telemetry_queries
        )
        if served_overlap is not None:
            record_serving_overlap(
                index_path, served_overlap,
                n_queries=telemetry_queries, k=10, nprobe=3,
            )
    rep = ann_drift_report(index_path)
    vacuumed: list[str] = []
    if vacuum_min_age_seconds is not None:
        vacuumed = commit.vacuum_index(index_path, vacuum_min_age_seconds)
    return {
        "appended": appended,
        "skipped": skipped,
        "new_vectors": n_new,
        "compacted_generation": compacted,
        "rebuild_recommended": rep["rebuild_recommended"],
        "max_drift_ratio": rep["max_ratio"],
        "served_overlap": served_overlap,
        "vacuumed": vacuumed,
    }

"""Unified warehouse reader (sinks.read_warehouse over batch / streamed /
compacted layouts) + epoch compaction (operators.compaction.compact_epochs):
one reader API, exactly-once across compaction, loud failure on the
ambiguous pointerless-versioned layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.operators.compaction import (
    compact_epochs,
    list_part_files,
)
from gcp_serverless_etl_pipeline_lab_spark.sinks import (
    read_warehouse,
    write_warehouse,
)


def _df(spark, ids, tag="t"):
    return spark.createDataFrame([(i, tag) for i in ids], "id bigint, tag string")


def _write_epoch(spark, path, epoch, ids, tag="t"):
    _df(spark, ids, tag).write.mode("overwrite").parquet(
        os.path.join(path, f"epoch={epoch}")
    )


def test_reader_unifies_batch_and_stream_layouts(spark, tmp_path):
    batch = str(tmp_path / "batch")
    write_warehouse(_df(spark, [1, 2]), batch)
    assert sorted(r.id for r in read_warehouse(spark, batch).collect()) == [1, 2]

    stream = str(tmp_path / "stream")
    _write_epoch(spark, stream, 0, [10, 11])
    _write_epoch(spark, stream, 1, [12])
    got = read_warehouse(spark, stream)
    assert sorted(r.id for r in got.collect()) == [10, 11, 12]
    # epoch is a commit artifact, not a data column — schema matches batch
    assert got.columns == ["id", "tag"]

    flat = str(tmp_path / "flat")
    _df(spark, [7]).write.parquet(flat)
    assert [r.id for r in read_warehouse(spark, flat).collect()] == [7]


def test_reader_refuses_pointerless_versioned_layout(spark, tmp_path):
    """Direct-reading a v=N warehouse without a pointer would union every
    retained snapshot (duplicated/stale rows) — the round-7 ADVICE
    hazard. The unified reader refuses instead."""
    path = str(tmp_path / "wh")
    _df(spark, [1]).write.parquet(os.path.join(path, "v=0"))
    _df(spark, [1, 2]).write.parquet(os.path.join(path, "v=1"))
    with pytest.raises(ValueError, match=r"version=N"):
        read_warehouse(spark, path)
    # explicit time travel still works
    got = read_warehouse(spark, path, version=1)
    assert sorted(r.id for r in got.collect()) == [1, 2]


def test_compact_epochs_parity_and_file_reduction(spark, tmp_path):
    path = str(tmp_path / "wh")
    for e in range(4):
        _write_epoch(spark, path, e, [e * 10, e * 10 + 1], tag=f"e{e}")
    before = sorted(map(tuple, read_warehouse(spark, path).collect()))
    n_files_before = len(list_part_files(path))
    stats = compact_epochs(spark, path, target_bytes=1 << 20)
    assert stats["epochs_compacted"] == 4 and stats["through"] == 3
    assert stats["files_after"] < n_files_before
    # absorbed epoch dirs are gone; pointer + snapshot remain
    assert not [d for d in os.listdir(path) if d.startswith("epoch=")]
    assert sorted(map(tuple, read_warehouse(spark, path).collect())) == before


def test_reader_unions_snapshot_with_live_epochs(spark, tmp_path):
    path = str(tmp_path / "wh")
    _write_epoch(spark, path, 0, [1])
    _write_epoch(spark, path, 1, [2])
    compact_epochs(spark, path, target_bytes=1 << 20)
    # new micro-batches arrive after compaction
    _write_epoch(spark, path, 2, [3])
    got = sorted(r.id for r in read_warehouse(spark, path).collect())
    assert got == [1, 2, 3]
    # and a second compaction folds them in
    stats = compact_epochs(spark, path, target_bytes=1 << 20)
    assert stats["epochs_compacted"] == 1 and stats["through"] == 2
    assert sorted(r.id for r in read_warehouse(spark, path).collect()) == [1, 2, 3]


def test_replayed_absorbed_epoch_is_ignored(spark, tmp_path):
    """Exactly-once across compaction: a crash-replayed micro-batch
    re-creates an epoch dir the snapshot already absorbed — the reader
    must ignore it (no double rows), and the next compaction must sweep
    it without re-reading it."""
    path = str(tmp_path / "wh")
    _write_epoch(spark, path, 0, [1])
    _write_epoch(spark, path, 1, [2])
    compact_epochs(spark, path, target_bytes=1 << 20)
    _write_epoch(spark, path, 1, [2])  # replay of absorbed epoch 1
    assert sorted(r.id for r in read_warehouse(spark, path).collect()) == [1, 2]
    stats = compact_epochs(spark, path, target_bytes=1 << 20)
    assert stats["epochs_compacted"] == 0  # nothing live
    # a later real compaction (with a new live epoch) sweeps the replay
    _write_epoch(spark, path, 2, [3])
    compact_epochs(spark, path, target_bytes=1 << 20)
    assert not [d for d in os.listdir(path) if d.startswith("epoch=")]
    assert sorted(r.id for r in read_warehouse(spark, path).collect()) == [1, 2, 3]


def test_compact_epochs_noop_without_epochs(spark, tmp_path):
    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1]), path)
    stats = compact_epochs(spark, path)
    assert stats["epochs_compacted"] == 0
    assert [r.id for r in read_warehouse(spark, path).collect()] == [1]


def test_through_watermark_survives_later_batch_writes(spark, tmp_path):
    """A plain write_warehouse AFTER an epoch compaction flips the
    pointer to its own snapshot; the through watermark must carry
    forward so stale replayed epochs stay ignored."""
    path = str(tmp_path / "wh")
    _write_epoch(spark, path, 0, [1])
    compact_epochs(spark, path, target_bytes=1 << 20)
    write_warehouse(_df(spark, [5, 6]), path)
    _write_epoch(spark, path, 0, [1])  # stale replay
    assert sorted(r.id for r in read_warehouse(spark, path).collect()) == [5, 6]

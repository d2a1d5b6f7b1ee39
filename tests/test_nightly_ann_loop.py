"""ANN nightly maintenance loop (streaming/ann_stream.run_nightly_ann_loop,
round-11 verdict task 4): ledger-driven inbox pickup, append idempotence
across replays AND across the compact boundary, the compact_every
policy, drift surfaced (and surviving compaction), crash-during-compact
replay, and vacuum hygiene."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark import commit
from gcp_serverless_etl_pipeline_lab_spark.operators import annindex
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table
from gcp_serverless_etl_pipeline_lab_spark.streaming.ann_stream import (
    run_nightly_ann_loop,
)

from conftest import SF_SMOKE


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def _write_epoch(df, inbox: str, name: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(inbox, name))


def test_ann_loop_ingests_idempotently_and_compacts_on_policy(spark, tmp_path):
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 3 == 0)
    idx = str(tmp_path / "ann")
    inbox = str(tmp_path / "inbox")
    annindex.build_ann_index(base, idx, 64, cells=8, iters=2, sample_rate=1.0)

    _write_epoch(emb.filter(F.col("vec_id") % 3 == 1), inbox, "epoch=1")
    r1 = run_nightly_ann_loop(spark, inbox, idx)
    assert r1["appended"] == ["epoch=1"] and r1["compacted_generation"] is None
    assert r1["new_vectors"] > 0

    # replay: the ledger is the checkpoint — nothing re-appends
    r2 = run_nightly_ann_loop(spark, inbox, idx)
    assert r2["appended"] == [] and r2["skipped"] == ["epoch=1"]

    # second night + compact policy: 3 generations listed -> fold;
    # telemetry on — the observed serving recall is measured over a
    # well-fitted full-coverage model, so it clears the floor and the
    # reading lands in the manifest
    _write_epoch(emb.filter(F.col("vec_id") % 3 == 2), inbox, "epoch=2")
    r3 = run_nightly_ann_loop(
        spark, inbox, idx, compact_every=3, telemetry_queries=4
    )
    assert r3["appended"] == ["epoch=2"]
    assert r3["compacted_generation"] is not None
    assert r3["served_overlap"] is not None
    assert r3["rebuild_recommended"] is False
    tel = commit.load_manifest(idx)["telemetry"]
    assert tel[-1]["served_overlap"] == r3["served_overlap"]
    man = commit.load_manifest(idx)
    assert len(man["generations"]) == 1
    assert set(man["compacted_increments"]) == {"epoch=1", "epoch=2"}

    # replay ACROSS the compact boundary: absorbed epochs still skipped
    r4 = run_nightly_ann_loop(spark, inbox, idx)
    assert r4["appended"] == [] and set(r4["skipped"]) == {"epoch=1", "epoch=2"}

    # the maintained index queries identically to a single-writer build
    # over the same vectors under the same pinned model
    queries = emb.filter(F.col("vec_id") < 10)
    _, model = annindex.load_ann_model(idx)
    scratch = str(tmp_path / "scratch")
    annindex.build_ann_index(emb, scratch, 64, model=model)
    got = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    want = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, scratch, 5, 2).collect())
    )
    assert got == want and got


def test_ann_loop_surfaces_drift_through_fold_and_vacuums(spark, tmp_path):
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 2 == 0)
    idx = str(tmp_path / "ann")
    inbox = str(tmp_path / "inbox")
    annindex.build_ann_index(base, idx, 64, cells=8, iters=2, sample_rate=1.0)
    baseline = commit.load_manifest(idx)["baseline_msd"]
    s = (5.0 * baseline / 64.0) ** 0.5
    shifted = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .limit(10)
        .select(
            (F.col("vec_id") + 500_000).alias("vec_id"),
            F.expr(
                f"transform(embedding, x -> CAST(x + {s} AS FLOAT))"
            ).alias("embedding"),
        )
    )
    _write_epoch(shifted, inbox, "epoch=1")
    # the night's fold (compact_every=2) must NOT clear the drift flag,
    # and the vacuum sweeps the pre-fold generation dirs
    r = run_nightly_ann_loop(
        spark, inbox, idx, compact_every=2, vacuum_min_age_seconds=0.0
    )
    assert r["compacted_generation"] is not None
    assert r["rebuild_recommended"] is True
    assert r["max_drift_ratio"] >= annindex.DRIFT_REBUILD_RATIO
    assert r["vacuumed"], "pre-fold generations were not swept"
    live = {g["gen"] for g in commit.load_manifest(idx)["generations"]}
    assert set(os.listdir(os.path.join(idx, "vectors"))) == {
        f"gen={g}" for g in live
    }


def test_ann_loop_crash_during_compact_replays_clean(spark, tmp_path, monkeypatch):
    """A crash between the fold's artifact writes and its manifest flip
    leaves an orphan no reader sees; the replay re-appends nothing,
    compacts cleanly, and vacuum sweeps the dead fold."""
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    inbox = str(tmp_path / "inbox")
    annindex.build_ann_index(
        emb.filter(F.col("vec_id") % 3 == 0), idx, 64,
        cells=8, iters=2, sample_rate=1.0,
    )
    _write_epoch(emb.filter(F.col("vec_id") % 3 == 1), inbox, "epoch=1")
    _write_epoch(emb.filter(F.col("vec_id") % 3 == 2), inbox, "epoch=2")
    run_nightly_ann_loop(spark, inbox, idx)  # appends committed

    real_lock = commit.manifest_lock

    def crash_at_commit(path):
        raise RuntimeError("simulated crash before manifest flip")

    monkeypatch.setattr(commit, "manifest_lock", crash_at_commit)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_nightly_ann_loop(spark, inbox, idx, compact_every=3)
    monkeypatch.setattr(commit, "manifest_lock", real_lock)

    # manifest untouched by the crashed fold; its dir is an orphan
    man = commit.load_manifest(idx)
    assert len(man["generations"]) == 3
    orphans = set(os.listdir(os.path.join(idx, "vectors"))) - {
        f"gen={g['gen']}" for g in man["generations"]
    }
    assert orphans, "crashed fold left no orphan (crash not exercised)"

    queries = emb.filter(F.col("vec_id") < 10)
    before = sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    )
    r = run_nightly_ann_loop(
        spark, inbox, idx, compact_every=3, vacuum_min_age_seconds=0.0
    )
    assert r["appended"] == [] and r["compacted_generation"] is not None
    assert sorted(
        map(tuple, annindex.query_ann_index(spark, queries, idx, 5, 2).collect())
    ) == before
    live = {g["gen"] for g in commit.load_manifest(idx)["generations"]}
    assert set(os.listdir(os.path.join(idx, "vectors"))) == {
        f"gen={g}" for g in live
    }

"""Unified nightly driver (streaming/nightly.run_nightly, round-12
verdict task 5): one inbox scan feeds the lexical, ANN, and text
near-dup indexes under one increment_id per child, per-index manifest
ledgers as the only checkpoint. The crash matrix replays after a kill
between every adjacent pair of per-increment commits (lex→ann,
ann→text) and across the compaction boundary with a pending one-legged
increment (the round-12 advice hazard)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark import commit
from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    incremental,
    lexindex,
    retrieval,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table
from gcp_serverless_etl_pipeline_lab_spark.streaming.nightly import run_nightly

from conftest import SF_SMOKE

TERMS = ["join", "filter", "vector"]


def _corpus(spark):
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id")


def _write_epoch(df, inbox: str, name: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(inbox, name))


def _build_bases(spark, tmp_path, corpus):
    base = corpus.filter(F.col("doc_id") % 3 == 0)
    lex, ann, text = (
        str(tmp_path / "lex"), str(tmp_path / "ann"), str(tmp_path / "text")
    )
    lexindex.build_lexical_index(base, lex)
    annindex.build_ann_index(
        base.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, 64, cells=8, iters=2, sample_rate=1.0,
    )
    incremental.build_base_index(base.select("doc_id", "text"), text)
    return base, lex, ann, text


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _applied(man) -> set:
    return {
        g.get("increment_id") for g in man["generations"]
    } | set(man.get("compacted_increments", []))


def test_one_call_feeds_all_three_and_replay_is_noop(spark, tmp_path):
    corpus = _corpus(spark)
    base, lex, ann, text = _build_bases(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    merged = str(tmp_path / "merged")
    inc = corpus.filter(F.col("doc_id") % 3 == 1)
    _write_epoch(inc, inbox, "epoch=1")

    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged, telemetry_queries=4,
    )
    assert r["appended_lex"] == ["epoch=1"]
    assert r["appended_ann"] == ["epoch=1"]
    assert r["appended_text"] == ["epoch=1"]
    # serve-time telemetry ran and was recorded in the ANN manifest
    assert r["served_overlap"] is not None
    tel = commit.load_manifest(ann)["telemetry"]
    assert tel[-1]["served_overlap"] == r["served_overlap"]
    assert r["new_docs"] == inc.count() and r["duplicate_docs"] == 0
    assert r["ann_docs_missing_from_lex"] == 0
    # merged corpus landed before any commit
    assert spark.read.parquet(os.path.join(merged, "epoch=1")).count() == inc.count()

    # replay: all three ledgers are the checkpoint
    r2 = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, merged_dir=merged,
    )
    assert r2["skipped"] == ["epoch=1"]
    assert not (r2["appended_lex"] or r2["appended_ann"] or r2["appended_text"])

    # probe parity on every index
    joined = corpus.filter(F.col("doc_id") % 3 != 2)
    got = _rows(lexindex.bm25_topk_from_index(spark, lex, TERMS, k=10))
    want = _rows(retrieval.bm25_topk(joined.select("doc_id", "text"), TERMS, k=10))
    assert got == want and got
    # text index knows the appended docs' content
    dups = incremental.exact_dups_vs_index(
        spark, inc.select("doc_id", "text"), text
    )
    assert dups.count() == inc.count()


@pytest.mark.parametrize("crash_leg", ["ann", "text"])
def test_crash_matrix_between_commits(spark, tmp_path, monkeypatch, crash_leg):
    """Kill between adjacent per-increment commits; the replay must fill
    exactly the missing legs with the SAME resolved rows."""
    corpus = _corpus(spark)
    base, lex, ann, text = _build_bases(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    inc = corpus.filter(F.col("doc_id") % 3 == 1)
    _write_epoch(inc, inbox, "epoch=1")

    import gcp_serverless_etl_pipeline_lab_spark.operators.annindex as _ann
    import gcp_serverless_etl_pipeline_lab_spark.operators.incremental as _inc

    def boom(*a, **k):
        raise RuntimeError("simulated crash")

    if crash_leg == "ann":
        real = _ann.append_ann_index
        monkeypatch.setattr(_ann, "append_ann_index", boom)
    else:
        real = _inc.append_to_index
        monkeypatch.setattr(_inc, "append_to_index", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_nightly(
            spark, inbox, lex_index_path=lex, ann_index_path=ann,
            text_index_path=text,
        )
    if crash_leg == "ann":
        monkeypatch.setattr(_ann, "append_ann_index", real)
        # lex committed, ann+text didn't — invariant holds
        assert "epoch=1" in _applied(commit.load_manifest(lex))
        assert "epoch=1" not in _applied(commit.load_manifest(ann))
        assert "epoch=1" not in _applied(commit.load_manifest(text))
    else:
        monkeypatch.setattr(_inc, "append_to_index", real)
        assert "epoch=1" in _applied(commit.load_manifest(lex))
        assert "epoch=1" in _applied(commit.load_manifest(ann))
        assert "epoch=1" not in _applied(commit.load_manifest(text))

    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text,
    )
    assert r["appended_lex"] == []
    assert r["appended_ann"] == ([] if crash_leg == "text" else ["epoch=1"])
    assert r["appended_text"] == ["epoch=1"]
    assert r["ann_docs_missing_from_lex"] == 0

    # the replayed legs hold the FULL increment (not starved empty by
    # the dedup guard seeing the increment's own lex generation)
    ann_ids = {
        row["vec_id"]
        for row in annindex.indexed_vec_ids(
            spark, ann, corpus.select(F.col("doc_id").alias("vec_id"))
        ).collect()
    }
    want_ids = {
        row["doc_id"]
        for row in corpus.filter(F.col("doc_id") % 3 != 2)
        .select("doc_id").collect()
    }
    assert ann_ids == want_ids
    assert incremental.exact_dups_vs_index(
        spark, inc.select("doc_id", "text"), text
    ).count() == inc.count()


def test_compaction_protects_one_legged_increment(spark, tmp_path):
    """A child that arrives WITHOUT its embedding column is a one-legged
    increment by design (lex+text applied, ANN pending). Lex compaction
    on policy must fold around it — its generation stays listed under
    its own increment_id so a later replay's guard exclusion keeps
    matching — and fold the rest."""
    corpus = _corpus(spark)
    base, lex, ann, text = _build_bases(spark, tmp_path, corpus)
    inbox = str(tmp_path / "inbox")
    # epoch=1 carries vectors; epoch=2 is text-only (no embedding col)
    _write_epoch(corpus.filter(F.col("doc_id") % 3 == 1), inbox, "epoch=1")
    _write_epoch(
        corpus.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text"),
        inbox, "epoch=2",
    )
    r = run_nightly(
        spark, inbox, lex_index_path=lex, ann_index_path=ann,
        text_index_path=text, compact_every=3,
    )
    assert set(r["appended_lex"]) == {"epoch=1", "epoch=2"}
    assert r["appended_ann"] == ["epoch=1"]
    assert r["compacted"]["lex"] is not None
    man = commit.load_manifest(lex)
    listed = [g.get("increment_id") for g in man["generations"]]
    # the pending one-legged increment survived the fold under its own id
    assert "epoch=2" in listed
    assert "epoch=2" not in man.get("compacted_increments", [])
    assert "epoch=1" in man.get("compacted_increments", [])
    # probe parity through the protected partial fold
    got = _rows(lexindex.bm25_topk_from_index(spark, lex, TERMS, k=10))
    want = _rows(
        retrieval.bm25_topk(corpus.select("doc_id", "text"), TERMS, k=10)
    )
    assert got == want and got
    # the guard exclusion still matches: a replay of epoch=2's ANN leg
    # (were vectors to arrive) would resolve the same rows, not empty
    own = corpus.filter(F.col("doc_id") % 3 == 2).select("doc_id")
    hit = lexindex.indexed_doc_ids(
        spark, lex, own, exclude_increment_id="epoch=2"
    )
    assert hit.count() == 0


def test_lex_only_and_text_only_modes(spark, tmp_path):
    corpus = _corpus(spark)
    docs = corpus.select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    inbox = str(tmp_path / "inbox")
    _write_epoch(docs.filter(F.col("doc_id") % 3 == 1), inbox, "epoch=1")
    # text-only: the guard is the content-exact probe
    text = str(tmp_path / "text")
    incremental.build_base_index(base, text)
    r = run_nightly(spark, inbox, text_index_path=text)
    assert r["appended_text"] == ["epoch=1"] and r["new_docs"] > 0
    r2 = run_nightly(spark, inbox, text_index_path=text)
    assert r2["skipped"] == ["epoch=1"]
    with pytest.raises(ValueError, match="at least one index"):
        run_nightly(spark, inbox)

"""Tiered (LSM-style) compaction for the lexical and ANN indexes
(round 12) — completing the family: the text dedup index got
``max_generations_to_fold`` in round 11 (measured 6.1/9.0/15.8 s at
K=4/8/16 vs 70 s full rewrite on a g64 sf0.1 index); the other two
compactors were still full-rewrite-only, so THEIR nightly maintenance
window grew with index size. Parity discipline mirrors
tests/test_index_append.py::test_tiered_fold_preserves_probes_and_ledger:
probe-identical after every fold shape, replayed increment_ids stay
committed no-ops, repeated tiered folds geometrically converge, and —
ANN-specific — a drift flag recorded in a KEPT generation survives a
partial fold of OTHER generations (and a folded drifted generation's
flag rides ``carried_max_drift_msd``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark import commit
from gcp_serverless_etl_pipeline_lab_spark.harness._corpora import EMB_DIM
from gcp_serverless_etl_pipeline_lab_spark.operators import (
    annindex,
    lexindex,
    retrieval,
)
from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

from conftest import SF_SMOKE

TERMS = ["join", "filter", "vector"]


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )


def _lex_probe(spark, idx):
    return sorted(
        map(tuple, lexindex.bm25_topk_from_index(spark, idx, TERMS, k=10).collect())
    )


def test_lex_tiered_fold_parity_and_ledger(spark, tmp_path):
    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 4 == 0)
    incs = [docs.filter(F.col("doc_id") % 4 == r) for r in (1, 2, 3)]
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(base, idx)
    for i, inc in enumerate(incs):
        assert lexindex.append_lexical_index(spark, inc, idx, f"inc-{i}") is True
    before = _lex_probe(spark, idx)
    assert before == sorted(map(tuple, retrieval.bm25_topk(docs, TERMS, k=10).collect()))

    # fold newest 2 -> [base, inc-0, fold]; stats stay manifest-exact
    lexindex.compact_lexical_index(spark, idx, max_generations_to_fold=2)
    man = commit.load_manifest(idx)
    assert len(man["generations"]) == 3
    assert [g.get("increment_id") for g in man["generations"][:2]] == [None, "inc-0"]
    assert set(man["compacted_increments"]) == {"inc-1", "inc-2"}
    assert _lex_probe(spark, idx) == before
    # membership artifact folded with the postings — the guard still
    # answers over the whole corpus
    got = lexindex.indexed_doc_ids(
        spark, idx, docs.select("doc_id")
    ).count()
    assert got == docs.count()

    # replayed appends stay committed no-ops across the tiered fold
    for i, inc in enumerate(incs):
        assert lexindex.append_lexical_index(spark, inc, idx, f"inc-{i}") is False

    # geometric convergence, then full fold to one generation
    lexindex.compact_lexical_index(spark, idx, max_generations_to_fold=2)
    assert len(commit.load_manifest(idx)["generations"]) == 2
    assert _lex_probe(spark, idx) == before
    lexindex.compact_lexical_index(spark, idx)
    assert len(commit.load_manifest(idx)["generations"]) == 1
    assert _lex_probe(spark, idx) == before


def test_lex_tiered_fold_rejects_k_below_two(spark, tmp_path):
    docs = _docs(spark)
    idx = str(tmp_path / "lex")
    lexindex.build_lexical_index(docs, idx)
    with pytest.raises(ValueError, match="max_generations_to_fold"):
        lexindex.compact_lexical_index(spark, idx, max_generations_to_fold=1)


def _ann_probe(spark, idx, queries):
    return sorted(
        map(
            tuple,
            annindex.query_ann_index(spark, queries, idx, k=5, nprobe=3).collect(),
        )
    )


def test_ann_tiered_fold_parity_and_drift_survival(spark, tmp_path):
    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 4 == 0)
    incs = [emb.filter(F.col("vec_id") % 4 == r) for r in (1, 2)]
    # a drifted increment: far from every centroid, appended FIRST so
    # its generation is KEPT (not folded) by the newest-2 fold below
    drifted = emb.filter(F.col("vec_id") % 4 == 3).select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"),
        F.expr("transform(embedding, x -> x + 4.0D)").alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 6)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(base, idx, EMB_DIM, cells=4, iters=2, sample_rate=1.0)
    assert annindex.append_ann_index(spark, drifted, idx, increment_id="drift") is True
    assert annindex.ann_drift_report(idx)["rebuild_recommended"] is True
    for i, inc in enumerate(incs):
        assert annindex.append_ann_index(spark, inc, idx, increment_id=f"inc-{i}") is True
    before = _ann_probe(spark, idx, queries)

    # fold newest 2 (inc-0, inc-1) -> [base, drift, fold]; the KEPT
    # drifted generation's flag must survive untouched
    annindex.compact_ann_index(spark, idx, max_generations_to_fold=2)
    man = commit.load_manifest(idx)
    assert len(man["generations"]) == 3
    assert [g.get("increment_id") for g in man["generations"][:2]] == [None, "drift"]
    assert set(man["compacted_increments"]) == {"inc-0", "inc-1"}
    assert _ann_probe(spark, idx, queries) == before
    assert annindex.ann_drift_report(idx)["rebuild_recommended"] is True

    # replays stay no-ops across the partial fold
    for i, inc in enumerate(incs):
        assert annindex.append_ann_index(spark, inc, idx, increment_id=f"inc-{i}") is False

    # next tiered fold absorbs the drifted generation — its flag must
    # ride carried_max_drift_msd through the fold
    annindex.compact_ann_index(spark, idx, max_generations_to_fold=2)
    man = commit.load_manifest(idx)
    assert len(man["generations"]) == 2
    assert man["generations"][-1].get("carried_max_drift_msd") is not None
    assert _ann_probe(spark, idx, queries) == before
    assert annindex.ann_drift_report(idx)["rebuild_recommended"] is True

    # full fold converges to one generation; flag still set
    annindex.compact_ann_index(spark, idx)
    assert len(commit.load_manifest(idx)["generations"]) == 1
    assert _ann_probe(spark, idx, queries) == before
    assert annindex.ann_drift_report(idx)["rebuild_recommended"] is True


def test_ann_tiered_fold_rejects_k_below_two(spark, tmp_path):
    emb = _emb(spark)
    idx = str(tmp_path / "ann")
    annindex.build_ann_index(emb, idx, EMB_DIM, cells=4, iters=2, sample_rate=1.0)
    with pytest.raises(ValueError, match="max_generations_to_fold"):
        annindex.compact_ann_index(spark, idx, max_generations_to_fold=1)


def test_retrieval_loop_tiered_fold_passthrough(spark, tmp_path):
    """The nightly retrieval loop forwards max_generations_to_fold to
    BOTH compactors: after a night with compact_every hit, the manifests
    keep their unfolded prefix (partial fold), and the consistency
    invariant still holds."""
    import os

    from gcp_serverless_etl_pipeline_lab_spark.streaming.retrieval_stream import (
        run_nightly_retrieval_loop,
    )

    docs = _docs(spark)
    emb = _emb(spark)
    joined = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    base = joined.filter(F.col("doc_id") % 4 == 0)
    lex, ann = str(tmp_path / "lex"), str(tmp_path / "ann")
    lexindex.build_lexical_index(base.select("doc_id", "text"), lex)
    annindex.build_ann_index(
        base.select(F.col("doc_id").alias("vec_id"), "embedding"),
        ann, EMB_DIM, cells=4, iters=2, sample_rate=1.0,
    )
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for i, r in enumerate((1, 2, 3)):
        joined.filter(F.col("doc_id") % 4 == r).write.parquet(
            os.path.join(str(inbox), f"night-{i}")
        )
    res = run_nightly_retrieval_loop(
        spark,
        str(inbox),
        lex,
        ann,
        compact_every=3,
        max_generations_to_fold=2,
    )
    assert sorted(res["appended_lex"]) == [f"night-{i}" for i in range(3)]
    assert res["compacted_lex"] is not None
    assert res["compacted_ann"] is not None
    assert res["ann_docs_missing_from_lex"] == 0
    # partial fold: the unfolded prefix survives in both manifests
    assert len(commit.load_manifest(lex)["generations"]) == 3
    assert len(commit.load_manifest(ann)["generations"]) == 3
    # probe over the whole corpus still exact vs the scan spelling
    assert _lex_probe(spark, lex) == sorted(
        map(tuple, retrieval.bm25_topk(docs, TERMS, k=10).collect())
    )

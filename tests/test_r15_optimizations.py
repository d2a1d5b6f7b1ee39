"""Focused tests for round-15 optimization rewrites (OPTIMIZATION_r15.md).

Each optimization that changed an operator's internals gets a direct
equivalence pin here, independent of the oracle-parity suite:

- tokenize_counts_with_stored_model (distinct-word fold + count join-back)
  must agree per row with the per-occurrence tokenize_with_stored_model
  stream it replaced in a0g_bpe_stored_tokenize;
- gram_novelty / ngram_jaccard_pairs with a caller-provided ``shingles``
  frame must equal their self-shingling spellings (the a0d_novelty_survivors
  sharing path);
- connected_components' label-sum convergence check must produce the same
  components as the definitionally-correct closure on a graph that needs
  multiple propagation rounds, and must restore the AQE conf it toggles.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from gcp_serverless_etl_pipeline_lab_spark.harness._corpora import _doc_corpus
from gcp_serverless_etl_pipeline_lab_spark.operators import dedup
from gcp_serverless_etl_pipeline_lab_spark.operators.bpetrain import (
    save_bpe_model,
    tokenize_counts_with_stored_model,
    tokenize_with_stored_model,
    train_bpe_merges,
)
from gcp_serverless_etl_pipeline_lab_spark.operators.cluster import (
    connected_components,
)


def test_bpe_counts_path_matches_stream_path(spark):
    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low"),
            (2, "newer new news"),
            (3, "low new lowest"),
            (4, ""),  # no non-empty words: absent from the counts path
            (5, "xyz"),
        ],
        "doc_id long, text string",
    )
    merges = train_bpe_merges(docs, n_merges=4, min_pair_count=1)
    path = os.path.join(tempfile.mkdtemp(prefix="bpe_r15_"), "model.json")
    save_bpe_model(merges, path, meta={"n_merges": 4, "min_pair_count": 1})

    stream = {
        r["doc_id"]: r["n_tokens"]
        for r in tokenize_with_stored_model(docs, path).collect()
    }
    counts = {
        r["doc_id"]: r["n_tokens"]
        for r in tokenize_counts_with_stored_model(docs, path).collect()
    }
    # every doc with words agrees exactly; the wordless doc is the
    # documented inner-join drop (stream path reports 0 for it)
    assert counts == {k: v for k, v in stream.items() if v > 0}
    assert stream[4] == 0 and 4 not in counts


def test_gram_novelty_accepts_shared_shingles(spark):
    corpus = _doc_corpus(spark, SF_SMOKE)
    default = dedup.gram_novelty(corpus).collect()
    sh = dedup._with_shingles(corpus).localCheckpoint(eager=True)
    shared = dedup.gram_novelty(corpus, shingles=sh).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, shared))


def test_gram_novelty_checks_the_shared_frame_width(spark):
    """The guard reads the width off the ``shingles`` frame itself: a
    4-gram frame with n=4 is consistent and matches the self-shingling
    spelling; the same frame with the default n=3 raises."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "b c d e f"), (3, "x  y z w")],
        "doc_id long, text string",
    )
    sh = dedup._with_shingles(corpus, 4).localCheckpoint(eager=True)
    default = dedup.gram_novelty(corpus, n=4).collect()
    shared = dedup.gram_novelty(corpus, n=4, shingles=sh).collect()
    assert sorted(map(tuple, shared)) == sorted(map(tuple, default))
    with pytest.raises(ValueError, match="4-grams but n=3"):
        dedup.gram_novelty(corpus, shingles=sh)


def test_ngram_jaccard_accepts_shared_shingles(spark):
    corpus = _doc_corpus(spark, SF_SMOKE)
    default = dedup.ngram_jaccard_pairs(
        corpus, threshold=0.8, max_df=100_000, ordered=False
    ).collect()
    sh = dedup._with_shingles(corpus).localCheckpoint(eager=True)
    shared = dedup.ngram_jaccard_pairs(
        corpus, threshold=0.8, max_df=100_000, ordered=False, shingles=sh
    ).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, shared))


def test_jaccard_denominators_stay_full_set_under_cap(spark):
    # doc 1/2 share their grams; with the cap at 1 every shared gram is
    # dropped, so no pair survives — but an uncapped run must divide by
    # the FULL distinct-gram sizes (carried through the explode now).
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "q r s t u v")],
        "doc_id long, text string",
    )
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=None).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in out] == [(1, 2, 1.0)]


def test_connected_components_multi_round_chain_and_conf_restore(spark):
    # a path graph 0-1-2-...-9 needs >1 propagation round even with
    # pointer jumping, exercising the label-sum convergence check
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long"
    )
    before = spark.conf.get("spark.sql.adaptive.enabled")
    cc = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert cc == {i: 0 for i in range(10)}
    assert spark.conf.get("spark.sql.adaptive.enabled") == before

    # two components + conf restored even when the loop raises
    pairs2 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    cc2 = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs2).collect()}
    assert cc2 == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert spark.conf.get("spark.sql.adaptive.enabled") == before

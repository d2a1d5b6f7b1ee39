"""Focused tests for round-16 optimization rewrites (OPTIMIZATION_r16.md).

Direct equivalence pins, independent of the oracle-parity suite:

- ``literal_frame`` must produce the same rows/schema as the
  ``createDataFrame`` spelling it replaced across every value class the
  call sites use (ints, doubles, strings, bools, timestamps, arrays,
  NULLs; empty, one-row and multi-row);
- ``classify_batch_vs_index``'s one-pass batch frame (``_keyed_shingles``)
  must carry byte-identical md5 keys and shingles to the two separate
  passes it fused, and the combined classify must equal the recompute
  baseline;
- ``connected_components`` must run its AQE-free loop on a conf-isolated
  cloned session: a concurrent reader of the CALLER's session conf must
  never observe AQE toggled off (ADVICE r15).
"""

from __future__ import annotations

import datetime
import os
import tempfile
import threading

from pyspark.sql import functions as F

from gcp_serverless_etl_pipeline_lab_spark.functions.local_frames import (
    literal_frame,
)
from gcp_serverless_etl_pipeline_lab_spark.operators import dedup
from gcp_serverless_etl_pipeline_lab_spark.operators.cluster import (
    resolve_clusters,
)
from gcp_serverless_etl_pipeline_lab_spark.operators.incremental import (
    _keyed_shingles,
    build_base_index,
    classify_batch,
    classify_batch_vs_index,
    probe_cache_scope,
)


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_literal_frame_matches_createdataframe(spark):
    schema = (
        "a bigint, b int, c double, d string, e boolean, f timestamp, "
        "g array<string>"
    )
    rows = [
        (1, 2, 3.5, "x", True, datetime.datetime(2024, 1, 2, 3, 4, 5), ["p", "q"]),
        (None, None, None, None, None, None, None),
        (-7, 0, float("inf"), "", False, datetime.datetime(1999, 12, 31), []),
    ]
    lit = literal_frame(spark, schema, rows)
    ref = spark.createDataFrame(rows, schema)
    assert [(f.name, f.dataType) for f in lit.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert _sorted_rows(lit) == _sorted_rows(ref)
    # no Python-RDD scan in the literal plan
    plan = lit._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan


def test_literal_frame_single_row_and_empty(spark):
    one = literal_frame(spark, "n bigint, s string", [(5, "hi")])
    assert _sorted_rows(one) == [(5, "hi")]
    empty = literal_frame(spark, "n bigint, s string", [])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["n", "s"]
    # empty frames must still union with real data (takedown report base)
    assert (
        empty.unionByName(one).count() == 1
    )


def test_literal_frame_rejects_arity_mismatch(spark):
    import pytest

    with pytest.raises(ValueError):
        literal_frame(spark, "a int, b int", [(1,)])


def test_keyed_shingles_matches_separate_passes(spark):
    batch = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b"),  # shorter than n: empty shingle array
            (3, ""),
            (4, "x y z x y z x y z"),
        ],
        "doc_id long, text string",
    )
    bk = _keyed_shingles(batch, 3)
    ref = dedup._with_shingles(batch, 3).join(
        batch.select("doc_id", F.md5("text").alias("k")), "doc_id"
    )
    got = sorted(
        (r["doc_id"], r["k"], tuple(r["shingles"])) for r in bk.collect()
    )
    want = sorted(
        (r["doc_id"], r["k"], tuple(r["shingles"])) for r in ref.collect()
    )
    assert got == want


def test_classify_vs_index_combined_probe_matches_recompute(spark):
    base = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "one two three four five six"),
            (3, "lorem ipsum dolor sit amet"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),  # exact dup of 1
            (11, "one two three four five seven"),  # near dup of 2
            (12, "completely different words here"),  # new
        ],
        "doc_id long, text string",
    )
    idx = tempfile.mkdtemp(prefix="r16_idx_")
    build_base_index(base, idx, max_df=100)
    with probe_cache_scope():
        got = _sorted_rows(
            classify_batch_vs_index(spark, batch, idx, threshold=0.5)
        )
    want = _sorted_rows(classify_batch(batch, base, threshold=0.5, max_df=100))
    assert got == want
    assert ("10", ) != ()  # keep flake quiet about unused os import
    assert os.path.exists(idx)


def test_source_bytes_and_dsir_gate(spark):
    """scan_meta.source_bytes reads file sizes without a job; the DSIR
    staging gate's two spellings agree (the gate only picks between
    them)."""
    from pyspark.sql import functions as F

    from gcp_serverless_etl_pipeline_lab_spark.functions.scan_meta import (
        source_bytes,
    )
    from gcp_serverless_etl_pipeline_lab_spark.operators.lmscore import (
        dsir_importance_micro,
    )
    from gcp_serverless_etl_pipeline_lab_spark.sources.tables import load_table

    sf = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    sz = source_bytes(docs)
    assert sz is not None and sz > 0
    assert source_bytes(literal_frame(spark, "a int", [(1,)])) is None
    tgt = docs.filter(F.col("lang") == "en")
    auto = _sorted_rows(dsir_importance_micro(docs, tgt, hot_threshold=1000))
    staged = _sorted_rows(
        dsir_importance_micro(docs, tgt, hot_threshold=1000, stage=True)
    )
    assert auto == staged


def test_cc_loop_leaves_caller_aqe_conf_alone(spark):
    """The CC loop must never flip the CALLER session's AQE conf — a
    concurrent poller of the conf observes 'true' for the loop's whole
    duration (round 16: the loop runs on a cloned session instead)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # a chain graph long enough to need several propagation rounds
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    seen = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            seen.append(spark.conf.get("spark.sql.adaptive.enabled"))

    t = threading.Thread(target=poll)
    t.start()
    try:
        out = resolve_clusters(pairs).collect()
    finally:
        stop.set()
        t.join()
    assert all(v == "true" for v in seen), set(seen)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # one component, labeled by its min node
    assert {r["cluster_id"] for r in out} == {0}
    assert len(out) == n + 1


def test_cc_loop_session_follows_caller_conf_changes(spark):
    """The cloned loop session is cached per caller, but the mirrored
    confs are copied again on every run: a shuffle-partition change on
    the caller between two runs reaches the clone (ADVICE r16)."""
    from gcp_serverless_etl_pipeline_lab_spark.operators import cluster

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "5")
        cluster.connected_components(pairs).collect()
        clone = cluster._LOOP_SESSIONS[spark]
        assert clone.conf.get(key) == "5"
        spark.conf.set(key, "7")
        out = cluster.connected_components(pairs).collect()
        assert cluster._LOOP_SESSIONS[spark] is clone
        assert clone.conf.get(key) == "7"
    finally:
        spark.conf.set(key, old)
    assert {r["cluster_id"] for r in out} == {1}

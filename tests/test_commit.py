"""The commit module: claims, atomic replaces and manifests run on the
local filesystem only, so a ``scheme://`` URI is refused before any
marker, pointer or manifest can land in a relative directory named after
it (``./file:/...``)."""

from __future__ import annotations

import os

import pytest

from gcp_serverless_etl_pipeline_lab_spark import commit
from gcp_serverless_etl_pipeline_lab_spark.operators import lexindex
from gcp_serverless_etl_pipeline_lab_spark.sinks import write_warehouse


def test_primitives_refuse_uris(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local"):
        commit.claim("gs://bucket/wh", ".claim-v", set)
    with pytest.raises(ValueError, match="local"):
        commit.replace("s3a://bucket/idx/_MANIFEST.json", "{}")
    assert os.listdir(tmp_path) == []


def test_replace_leaves_only_the_target(tmp_path):
    target = str(tmp_path / "d" / "_CURRENT")
    commit.replace(target, "v=0")
    commit.replace(target, "v=1")
    with open(target) as fh:
        assert fh.read() == "v=1"
    assert os.listdir(tmp_path / "d") == ["_CURRENT"]


def test_file_uri_warehouse_and_index_are_refused(spark, tmp_path, monkeypatch):
    """``write_warehouse(df, "file:///x/wh")`` used to have Spark write
    ``v=0`` under ``/x/wh`` while the claim, ``_CURRENT`` and the lock
    landed in ``./file:/x/wh/`` — a split commit no reader could resolve.
    Now the warehouse write fails before any Spark job, and an index
    build fails at its manifest commit."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    df = spark.createDataFrame(
        [(1, "join filter"), (2, "vector join")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="local"):
        write_warehouse(df, f"file://{tmp_path}/wh")
    assert not (tmp_path / "wh").exists()
    with pytest.raises(ValueError, match="local"):
        lexindex.build_lexical_index(df, f"file://{tmp_path}/lex")
    assert not (tmp_path / "lex" / "_MANIFEST.json").exists()
    assert not (cwd / "file:").exists()

"""The commit module: claims, atomic replaces and manifests run on the
local filesystem only, so a ``scheme://`` URI is refused before any
marker, pointer or manifest can land in a relative directory named after
it (``./file:/...``); and the generation transactions the three index
families share — append, delete and fold — with their replay no-ops and
concurrency fences, checked without Spark on manifest files."""

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


# ---- the generation transactions the three index families share
#
# Spark-free: each test commits against a plain manifest dict under
# tmp_path, the way an index's artifact writes would leave it.


def _index(tmp_path, gens, tombstones=(), **extra) -> str:
    path = str(tmp_path / "idx")
    os.makedirs(path)
    commit.write_manifest(
        path,
        {
            "version": commit.MANIFEST_VERSION,
            "generations": [{"gen": g, "increment_id": i} for g, i in gens],
            "tombstones": list(tombstones),
            **extra,
        },
    )
    return path


def _claims(path) -> list[int]:
    return commit.claims(path, commit.GENCLAIM_PREFIX)


def test_append_commits_entry_and_releases_claim(tmp_path):
    path = _index(tmp_path, [(0, None)])
    gen = commit.claim_generation(path)
    assert commit.commit_append(path, gen, "inc-1", {"n_docs": 3}) is True
    assert commit.load_manifest(path)["generations"][-1] == {
        "gen": gen, "increment_id": "inc-1", "n_docs": 3,
    }
    assert _claims(path) == []


@pytest.mark.parametrize("ledger", ["listed", "compacted"])
def test_append_replay_is_a_noop_that_releases_the_claim(tmp_path, ledger):
    path = _index(
        tmp_path,
        [(0, None), (1, "inc-1" if ledger == "listed" else None)],
        compacted_increments=["inc-1"] if ledger == "compacted" else [],
    )
    before = commit.load_manifest(path)
    gen = commit.claim_generation(path)
    assert commit.commit_append(path, gen, "inc-1", {}) is False
    assert commit.load_manifest(path) == before
    assert _claims(path) == []


def test_append_refuses_a_stolen_claim(tmp_path):
    path = _index(tmp_path, [(0, None), (1, "thief")])
    before = commit.load_manifest(path)
    with pytest.raises(RuntimeError, match="already committed"):
        commit.commit_append(path, 1, "inc-2", {})
    assert commit.load_manifest(path) == before


def test_append_fence_runs_on_the_locked_manifest(tmp_path):
    path = _index(tmp_path, [(0, None)], model_epoch=1)
    gen = commit.claim_generation(path)

    def epoch_zero(cur):
        if cur["model_epoch"] != 0:
            raise RuntimeError("model epoch changed")

    with pytest.raises(RuntimeError, match="model epoch changed"):
        commit.commit_append(path, gen, "inc-1", {}, fence=epoch_zero)
    assert len(commit.load_manifest(path)["generations"]) == 1


def test_delete_stamps_cover_and_releases_claim(tmp_path):
    path = _index(tmp_path, [(0, None), (1, "inc-1")])
    seen = commit.load_manifest(path)
    gen = commit.claim_generation(path)
    assert commit.commit_delete(path, seen, gen, "del-1", {"n": 2}, "op") is True
    assert commit.load_manifest(path)["tombstones"] == [
        {"gen": gen, "increment_id": "del-1", "max_gen": 1, "n": 2}
    ]
    assert _claims(path) == []


@pytest.mark.parametrize("ledger", ["active", "absorbed"])
def test_delete_replay_is_a_noop_that_releases_the_claim(tmp_path, ledger):
    active = [{"gen": 1, "increment_id": "del-1", "max_gen": 0}]
    path = _index(
        tmp_path,
        [(0, None)],
        tombstones=active if ledger == "active" else [],
        applied_deletes=["del-1"] if ledger == "absorbed" else [],
    )
    before = commit.load_manifest(path)
    gen = commit.claim_generation(path)
    assert commit.commit_delete(path, before, gen, "del-1", {}, "op") is False
    assert commit.load_manifest(path) == before
    assert _claims(path) == []


def test_delete_refuses_an_append_that_landed_since_the_probe(tmp_path):
    path = _index(tmp_path, [(0, None)])
    seen = commit.load_manifest(path)
    gen = commit.claim_generation(path)
    late = commit.claim_generation(path)
    assert commit.commit_append(path, late, "late", {}) is True
    with pytest.raises(RuntimeError, match="concurrent append.*re-run my_delete"):
        commit.commit_delete(path, seen, gen, "del-1", {}, "my_delete")
    assert commit.load_manifest(path)["tombstones"] == []


def test_fold_refuses_a_concurrent_append(tmp_path):
    path = _index(tmp_path, [(0, None), (1, "inc-1")])
    seen = commit.load_manifest(path)
    gen = commit.claim_generation(path)
    late = commit.claim_generation(path)
    commit.commit_append(path, late, "late", {})
    with pytest.raises(RuntimeError, match="concurrent append.*re-run my_fold"):
        commit.commit_fold(
            path, seen, gen, seen["generations"], [], {}, "my_fold"
        )
    assert [g["gen"] for g in commit.load_manifest(path)["generations"]] == [
        0, 1, late,
    ]


def test_fold_refuses_a_concurrent_delete(tmp_path):
    path = _index(tmp_path, [(0, None), (1, "inc-1")])
    seen = commit.load_manifest(path)
    gen = commit.claim_generation(path)
    tomb = commit.claim_generation(path)
    commit.commit_delete(path, seen, tomb, "del-1", {}, "op")
    with pytest.raises(RuntimeError, match="concurrent delete.*re-run my_fold"):
        commit.commit_fold(
            path, seen, gen, seen["generations"], [], {}, "my_fold"
        )
    man = commit.load_manifest(path)
    assert [g["gen"] for g in man["generations"]] == [0, 1]
    assert [t["gen"] for t in man["tombstones"]] == [tomb]


def test_fold_absorbs_tombstones_whose_cover_it_rewrote(tmp_path):
    # gen 4 is kept listed (a protected increment); the fold rewrites 2
    # and 5. "dB" covers only gen 2, so the fold applied it in full;
    # "dA" also covers the kept gen 4 and stays for the read-side mask.
    d_b = {"gen": 3, "increment_id": "dB", "max_gen": 2}
    d_a = {"gen": 6, "increment_id": "dA", "max_gen": 5}
    path = _index(
        tmp_path,
        [(2, None), (4, "inc-p"), (5, "inc-5")],
        tombstones=[d_b, d_a],
        applied_deletes=["d-old"],
    )
    seen = commit.load_manifest(path)
    fold = [seen["generations"][0], seen["generations"][2]]
    keep = [seen["generations"][1]]
    assert commit.absorbed(seen, keep) == [d_b]
    gen = commit.claim_generation(path)
    commit.commit_fold(path, seen, gen, fold, keep, {"n_docs": 9}, "op")
    man = commit.load_manifest(path)
    assert man["generations"] == [
        {"gen": 4, "increment_id": "inc-p"},
        {"gen": gen, "increment_id": None, "n_docs": 9},
    ]
    assert man["tombstones"] == [d_a]
    assert man["applied_deletes"] == ["d-old", "dB"]
    assert man["compacted_increments"] == ["inc-5"]
    assert _claims(path) == []


def test_full_fold_absorbs_every_tombstone_and_sets_fields(tmp_path):
    d_a = {"gen": 2, "increment_id": "dA", "max_gen": 1}
    path = _index(tmp_path, [(0, None), (1, "inc-1")], tombstones=[d_a])
    seen = commit.load_manifest(path)
    gen = commit.claim_generation(path)
    commit.commit_fold(
        path, seen, gen, seen["generations"], [], {}, "op",
        fields={"model_epoch": 1},
    )
    man = commit.load_manifest(path)
    assert man["generations"] == [{"gen": gen, "increment_id": None}]
    assert man["tombstones"] == []
    assert man["applied_deletes"] == ["dA"]
    assert man["compacted_increments"] == ["inc-1"]
    assert man["model_epoch"] == 1

"""Atomic truncate-overwrite commit protocol (sinks.write_warehouse).

BigQuery's WRITE_TRUNCATE replaces the table atomically; the plain Spark
``mode('overwrite')`` has a delete-then-write window. These tests pin the
version-and-flip protocol: a committed snapshot is immutable, the
``_CURRENT`` pointer flip is the commit point, and a writer that dies
after materializing files but BEFORE the flip leaves every reader on the
previous complete snapshot.
"""

from __future__ import annotations

import os

from gcp_serverless_etl_pipeline_lab_spark.sinks import (
    read_warehouse,
    write_warehouse,
)


def _df(spark, ids, tag):
    return spark.createDataFrame([(i, tag) for i in ids], "id bigint, tag string")


def test_overwrite_replaces_and_reads_latest(spark, tmp_path):
    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1, 2, 3], "a"), path)
    write_warehouse(_df(spark, [7, 8], "b"), path)
    got = read_warehouse(spark, path).collect()
    assert sorted(r["id"] for r in got) == [7, 8]
    assert {r["tag"] for r in got} == {"b"}


def test_killed_writer_leaves_previous_version_readable(spark, tmp_path):
    """Simulate a writer dying mid-overwrite: a partial v=1 snapshot
    exists on disk but the pointer was never flipped. Readers must still
    see the complete v=0 table — the whole point of version-and-flip."""
    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1, 2, 3], "a"), path)
    # partial new version: directory + a garbage half-written file, no flip
    partial = os.path.join(path, "v=1")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00\x01 not a parquet footer")
    got = read_warehouse(spark, path).collect()
    assert sorted(r["id"] for r in got) == [1, 2, 3]
    # recovery: the next successful write supersedes the orphan and commits
    write_warehouse(_df(spark, [9], "c"), path)
    assert [r["id"] for r in read_warehouse(spark, path).collect()] == [9]


def test_version_pruning_keeps_newest(spark, tmp_path):
    path = str(tmp_path / "wh")
    for i in range(4):
        write_warehouse(_df(spark, [i], f"t{i}"), path, keep_versions=2)
    kept = sorted(d for d in os.listdir(path) if d.startswith("v="))
    assert kept == ["v=2", "v=3"]
    assert [r["id"] for r in read_warehouse(spark, path).collect()] == [3]
    # keep_versions=None keeps every snapshot (bucket-versioning default)
    write_warehouse(_df(spark, [4], "t4"), path, keep_versions=None)
    kept = sorted(d for d in os.listdir(path) if d.startswith("v="))
    assert kept == ["v=2", "v=3", "v=4"]
    assert [r["id"] for r in read_warehouse(spark, path, version=2).collect()] == [2]


def test_partitioned_atomic_write_prunes_at_read(spark, tmp_path):
    path = str(tmp_path / "whp")
    df = spark.createDataFrame(
        [(1, 1996), (2, 1997), (3, 1997)], "id bigint, year int"
    )
    write_warehouse(df, path, partition_by=["year"])
    got = read_warehouse(spark, path).filter("year = 1997")
    assert sorted(r["id"] for r in got.collect()) == [2, 3]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan


def test_legacy_flat_layout_still_reads(spark, tmp_path):
    path = str(tmp_path / "flat")
    _df(spark, [5, 6], "x").write.parquet(path)  # written by another tool
    assert sorted(r["id"] for r in read_warehouse(spark, path).collect()) == [5, 6]


def test_racing_writers_distinct_versions_forward_pointer(spark, tmp_path):
    """Two interleaved writers: claims are exclusive (distinct v=N dirs),
    and a writer whose claim is OLDER than the committed pointer skips
    its flip — the table never rolls back, and _CURRENT always names one
    complete snapshot."""
    from gcp_serverless_etl_pipeline_lab_spark import sinks

    path = str(tmp_path / "wh")
    va = sinks._claim_version(path)  # writer A claims first...
    vb = sinks._claim_version(path)
    assert va != vb and vb > va
    # ...but B writes and commits first
    _df(spark, [2], "b").write.parquet(os.path.join(path, f"v={vb}"))
    sinks._flip_pointer(path, vb)
    # A finishes later: its snapshot lands, but the flip must be a no-op
    _df(spark, [1], "a").write.parquet(os.path.join(path, f"v={va}"))
    sinks._flip_pointer(path, va)
    assert sinks._pointer_info(path)[0] == vb
    got = read_warehouse(spark, path).collect()
    assert [r["id"] for r in got] == [2] and got[0]["tag"] == "b"


def test_concurrent_write_warehouse_threads(spark, tmp_path):
    """Full-call race: N threads overwrite the same warehouse at once.
    Whatever the interleaving, the surviving _CURRENT names exactly one
    COMPLETE snapshot — a reader sees one writer's whole dataset, never a
    mix, never a partial."""
    import threading

    path = str(tmp_path / "wh")
    errs: list = []

    def work(tag: int) -> None:
        try:
            write_warehouse(_df(spark, [tag * 10 + i for i in range(3)], f"t{tag}"), path)
        except Exception as exc:  # surfaced below
            errs.append(exc)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = read_warehouse(spark, path).collect()
    tags = {r["tag"] for r in got}
    assert len(tags) == 1, f"mixed snapshot visible: {tags}"
    tag = int(tags.pop()[1:])
    assert sorted(r["id"] for r in got) == [tag * 10 + i for i in range(3)]


def test_prune_never_removes_pointer_target(spark, tmp_path):
    """Crashed pre-flip writers can leave NEWER v=N dirs than the
    committed pointer; pruning by newest-N must still keep the snapshot
    _CURRENT references."""
    from gcp_serverless_etl_pipeline_lab_spark import sinks

    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1], "a"), path)  # commits v=0
    for crashed in (1, 2):  # complete snapshots, never flipped
        _df(spark, [9], "x").write.parquet(os.path.join(path, f"v={crashed}"))
    sinks._prune_versions(path, keep_versions=1)
    assert [r["id"] for r in read_warehouse(spark, path).collect()] == [1]


def test_pointer_flip_is_commit_point(spark, tmp_path):
    """Readers that resolved the pointer before a new commit keep a
    complete snapshot (keep_versions >= 2 retains their files)."""
    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1], "a"), path)
    old = read_warehouse(spark, path)  # plan resolved against v=0
    write_warehouse(_df(spark, [2], "b"), path, keep_versions=2)
    # the pre-commit reader still scans its complete snapshot
    assert [r["id"] for r in old.collect()] == [1]
    assert [r["id"] for r in read_warehouse(spark, path).collect()] == [2]


def test_prune_spares_incomplete_inflight_snapshot(spark, tmp_path):
    """Regression for the flaky 4-thread race: routine pruning must NOT
    delete a claimed-but-incomplete v=N dir — it may belong to a LIVE
    concurrent writer whose tasks are still materializing files (the
    pre-fix behavior failed that writer's Spark job mid-write)."""
    from gcp_serverless_etl_pipeline_lab_spark import sinks

    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1], "a"), path)  # v=0 committed
    write_warehouse(_df(spark, [2], "b"), path)  # v=1 committed
    # a slower writer mid-write: claim marker + partial dir, no _SUCCESS
    inflight = os.path.join(path, "v=2")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-00000.parquet.inprogress"), "w") as fh:
        fh.write("partial")
    with open(os.path.join(path, ".claim-v2"), "w"):
        pass
    sinks._prune_versions(path, keep_versions=1)
    assert os.path.isdir(inflight), "in-flight snapshot was pruned"
    # ...but a COMPLETE old snapshot outside the window is pruned
    assert not os.path.isdir(os.path.join(path, "v=0"))


def test_vacuum_sweeps_only_stale_incomplete_claims(spark, tmp_path):
    """vacuum_versions removes crashed writers' debris (incomplete dir +
    claim marker) once older than the age bound, and never touches the
    committed snapshot, complete snapshots, or FRESH incomplete dirs."""
    from gcp_serverless_etl_pipeline_lab_spark import sinks

    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1], "a"), path)  # v=0 committed
    stale = os.path.join(path, "v=7")
    os.makedirs(stale)
    with open(os.path.join(path, ".claim-v7"), "w"):
        pass
    fresh = os.path.join(path, "v=8")
    os.makedirs(fresh)
    # age the stale pair well past the horizon
    for p in (stale, os.path.join(path, ".claim-v7")):
        os.utime(p, (1, 1))
    swept = sinks.vacuum_versions(path, min_age_seconds=3600)
    assert swept == [7]
    assert not os.path.isdir(stale)
    assert not os.path.exists(os.path.join(path, ".claim-v7"))
    assert os.path.isdir(fresh), "fresh in-flight dir must survive vacuum"
    assert [r["id"] for r in read_warehouse(spark, path).collect()] == [1]


def test_incomplete_dir_does_not_shrink_keep_window(spark, tmp_path):
    """ADVICE r8: an incomplete v=N occupying a newest-N slot must not
    push an extra COMPLETE snapshot out of the retention window — with
    keep_versions=2 the window must hold the two newest COMPLETE
    snapshots, or a reader mid-scan of the prior version loses files."""
    from gcp_serverless_etl_pipeline_lab_spark import sinks

    path = str(tmp_path / "wh")
    write_warehouse(_df(spark, [1], "a"), path)  # v=0 committed
    write_warehouse(_df(spark, [2], "b"), path)  # v=1 committed
    # crashed writer's debris: claimed v=2, no _SUCCESS
    debris = os.path.join(path, "v=2")
    os.makedirs(debris)
    with open(os.path.join(path, ".claim-v2"), "w"):
        pass
    write_warehouse(_df(spark, [3], "c"), path)  # v=3 committed, prunes
    # window counts complete snapshots only: v=1 and v=3 kept, v=0 gone
    assert not os.path.isdir(os.path.join(path, "v=0"))
    assert os.path.isdir(os.path.join(path, "v=1")), (
        "incomplete v=2 consumed a keep slot: prior complete snapshot lost"
    )
    assert os.path.isdir(os.path.join(path, "v=3"))
    assert os.path.isdir(debris)  # vacuum's business, not prune's

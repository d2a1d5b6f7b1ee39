"""S2/S3 — warehouse + dead-letter writers.

S2 mirrors ``WriteToBigQuery(..., WRITE_TRUNCATE, CREATE_IF_NEEDED)``
(`dataflow/dataflow_transform.py:152-160`): the writer owns the schema and
fully replaces the table each run. S3 persists the error records the
reference only logs/sketches (`dataflow_transform.py:162-168`) →
append-mode JSON dead-letter directory.

The warehouse has ONE on-disk layout: immutable ``v=N`` snapshot dirs
behind a ``_CURRENT`` pointer file. The pointer flip is the commit point
for the current read, and the retained snapshots are the time-travel
history — the parquet-native analogue of the reference's GCS bucket
versioning on the warehouse bucket (`terraform/main.tf:36-54`), where
every WRITE_TRUNCATE leaves the prior object generation readable.
``write_warehouse`` and ``compaction.compact_epochs`` both commit through
``_commit``, whose claim, lock and pointer replace are the package's
``commit`` primitives — so the warehouse path must be local: a
``scheme://`` URI raises ``ValueError`` before any Spark job runs.
``read_warehouse`` reads the pointer target, a pinned ``version=``,
streamed ``epoch=K`` dirs, or a flat directory another tool wrote.

Scale note: both writers accept a ``partition_by`` so a 100 TB run can
partition the warehouse by date and prune at read time.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit


def write_warehouse(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
    keep_versions: int | None = 2,
) -> int:
    """S2 truncate-overwrite; returns the committed version N.
    BigQuery's WRITE_TRUNCATE replaces the table ATOMICALLY — a reader
    never sees a missing or partial table. Spark's plain
    ``mode('overwrite')`` has a delete-then-write window, so this writes a
    fresh immutable ``v=N`` snapshot, then atomically flips the
    ``_CURRENT`` pointer file to it (``commit.replace``; on an object
    store the pointer flip is a single-object PUT, equally atomic).
    Readers resolve the pointer (``read_warehouse``), so a writer that
    dies mid-write leaves the pointer — and every concurrent reader — on
    the previous complete snapshot; the orphaned partial ``v=N`` directory
    is ignored by routine pruning (which must not touch incomplete dirs —
    they may be a LIVE concurrent writer's) and swept by
    ``vacuum_versions`` once demonstrably stale. ``keep_versions`` bounds
    disk: the newest N complete snapshots survive each commit (keep >= 2
    so readers mid-scan of the prior version don't lose their files);
    ``None`` keeps every snapshot, the GCS bucket-versioning default.

    CONCURRENT WRITERS are safe: each writer CLAIMS its version number
    via an exclusive-create marker file (atomic on POSIX and on object
    stores with if-none-match puts), so two racing writers land in
    DISTINCT ``v=N`` directories instead of clobbering one; the pointer
    flip is last-writer-wins but only ever FORWARD (a writer whose claim
    is older than the committed pointer skips its flip), so ``_CURRENT``
    always names one complete snapshot (tests/test_sinks_atomic.py pins
    the interleavings)."""

    def write(target: str) -> None:
        writer = df.write.mode("overwrite").format(fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(target)

    return _commit(path, write, keep_versions)


def _commit(
    path: str,
    write: Callable[[str], None],
    keep_versions: int | None,
    through: int | None = None,
) -> int:
    """The warehouse commit protocol, in its one place: claim ``v=N``,
    ``write`` the snapshot into ``path/v=N``, flip ``_CURRENT`` to it
    (recording the ``through`` epoch watermark when given), then prune
    to ``keep_versions`` (None: keep all). Returns N."""
    new_v = _claim_version(path)
    write(os.path.join(path, f"v={new_v}"))
    _flip_pointer(path, new_v, through=through)
    if keep_versions is not None:
        _prune_versions(path, keep_versions)
    return new_v


_POINTER = "_CURRENT"
# dot-prefixed and "="-free: Spark hides ".foo" always, but "_foo" files
# CONTAINING "=" survive its hidden-file filter (partition-dir rule) and
# would break direct flat reads of the warehouse root
_CLAIM_PREFIX = ".claim-v"


def _list_versions(path: str) -> list[int]:
    """Version numbers of every ``v=N`` dir under ``path``, complete or
    not. Discovery is a directory listing; on an object store this is one
    LIST of the table prefix."""
    import re

    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = re.fullmatch(r"v=(\d+)", name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(int(m.group(1)))
    return sorted(out)


def _claim_version(path: str) -> int:
    """Reserve the next version number: a ``.claim-vN`` marker through
    ``commit.claim``, above every ``v=N`` dir and claim already present.
    Two concurrent writers cannot claim the same N; a crashed writer's
    stale marker only costs a skipped number."""
    return commit.claim(path, _CLAIM_PREFIX, lambda: set(_list_versions(path)))


def _pointer_info(path: str) -> tuple[int | None, int | None]:
    """(snapshot version, compacted-through epoch) from ``_CURRENT``.
    Both live in the ONE pointer file (first line ``v=N``, optional
    second line ``through=K``) so a single atomic replace commits the
    snapshot AND the epoch watermark together — a crash can never leave
    a snapshot visible while the epochs it absorbed still count as
    live (that would double-read them)."""
    import re

    try:
        with open(os.path.join(path, _POINTER)) as fh:
            lines = fh.read().strip().splitlines()
    except OSError:
        return None, None
    m = re.fullmatch(r"v=(\d+)", lines[0].strip()) if lines else None
    if not m:
        return None, None
    through = None
    for ln in lines[1:]:
        t = re.fullmatch(r"through=(\d+)", ln.strip())
        if t:
            through = int(t.group(1))
    return int(m.group(1)), through


def _flip_pointer(path: str, version: int, through: int | None = None) -> None:
    """Atomically point ``path/_CURRENT`` at ``v=<version>`` through
    ``commit.replace``. MONOTONIC: if a racing writer already committed a
    NEWER version, skip the flip — our (older-claimed) snapshot stays on
    disk for time travel but never rolls the table back. ``through``
    records the highest streamed epoch folded into this snapshot (epoch
    compaction); it rides the same atomic replace and is carried forward
    when a later plain write omits it.

    The read-check-replace runs under ``commit.locked``: without it two
    racing flips can interleave as A-reads(none), B-reads(none),
    B-replaces(v=3), A-replaces(v=2) — a rollback through the unguarded
    TOCTOU window."""
    with commit.locked(path, f".{_POINTER}.lock"):
        cur, cur_through = _pointer_info(path)
        if cur is not None and cur > version:
            return
        if through is None:
            through = cur_through  # never forget absorbed epochs
        text = f"v={version}"
        if through is not None:
            text += f"\nthrough={through}"
        commit.replace(os.path.join(path, _POINTER), text)


def _list_epochs(path: str) -> list[tuple[int, str]]:
    """(epoch id, directory) for every ``epoch=K`` micro-batch dir the
    streaming sink wrote under ``path``, ascending."""
    import re

    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = re.fullmatch(r"epoch=(\d+)", name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append((int(m.group(1)), os.path.join(path, name)))
    return sorted(out)


def _is_complete(path: str, version: int) -> bool:
    return os.path.exists(os.path.join(path, f"v={version}", "_SUCCESS"))


def _snapshot_dir(path: str, version: int) -> str:
    """Directory of the complete snapshot ``v=<version>`` — the target of
    ``_CURRENT`` or of a pinned time-travel read. A pruned, deleted or
    never-finished (no ``_SUCCESS``) snapshot raises ``FileNotFoundError``
    here, for every caller."""
    if not _is_complete(path, version):
        raise FileNotFoundError(
            f"no complete snapshot v={version} under {path}: it was pruned, "
            "deleted, or its writer never finished"
        )
    return os.path.join(path, f"v={version}")


def _prune_versions(path: str, keep_versions: int) -> None:
    """Remove all but the newest ``keep_versions`` snapshots (and their
    claim markers) — but NEVER the snapshot ``_CURRENT`` references, even
    if a racing writer's commits pushed it outside the newest-N window,
    and NEVER an INCOMPLETE snapshot (no ``_SUCCESS`` marker yet): that
    directory may belong to a concurrent writer mid-write, and deleting
    it fails the writer's tasks out from under it (observed as a flaky
    FileFormatWriter crash in the 4-thread race test before this guard).
    A crashed writer's partial dir therefore survives routine pruning —
    it is swept by ``vacuum_versions`` once it is demonstrably stale.

    The newest-N window is computed over COMPLETE snapshots only: an
    incomplete dir (crashed or in-flight writer) occupying a newest-N
    slot must not push an extra complete snapshot out of the window —
    with ``keep_versions=2`` that would leave ONE readable snapshot, and
    a reader mid-scan of the prior complete version could lose its files
    before ``vacuum_versions`` ever ran."""
    import shutil

    cur, _ = _pointer_info(path)
    complete = [v for v in _list_versions(path) if _is_complete(path, v)]
    for old in complete[:-keep_versions]:
        if old == cur:
            continue
        d = os.path.join(path, f"v={old}")
        shutil.rmtree(d, ignore_errors=True)
        commit.release(path, _CLAIM_PREFIX, old)


def vacuum_versions(path: str, min_age_seconds: float = 86400.0) -> list[int]:
    """Sweep CRASHED writers' debris: claimed-but-incomplete ``v=N`` dirs
    (and orphaned claim markers) whose last modification is older than
    ``min_age_seconds``. Routine pruning deliberately spares incomplete
    dirs — it cannot tell a concurrent writer mid-write from a crash —
    so the age bound is what disambiguates: nothing legitimately writes
    a snapshot for longer than the vacuum horizon. Never touches the
    committed pointer target or any complete snapshot (those are
    ``_prune_versions``'s business). Returns the version numbers swept."""
    import shutil

    cur, _ = _pointer_info(path)
    swept: list[int] = []
    claimed = set(commit.claims(path, _CLAIM_PREFIX)) | set(_list_versions(path))
    for v in sorted(claimed):
        if v == cur or _is_complete(path, v):
            continue  # complete snapshot: time-travel asset, not debris
        d = os.path.join(path, f"v={v}")
        if not commit.is_stale(
            [d, commit.marker(path, _CLAIM_PREFIX, v)], min_age_seconds
        ):
            continue
        shutil.rmtree(d, ignore_errors=True)
        commit.release(path, _CLAIM_PREFIX, v)
        swept.append(v)
    return swept


def write_dead_letter(
    errors: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    run_id: str | None = None,
) -> None:
    """S3 dead-letter append. ``partition_by`` (typically a date column the
    caller derives, e.g. ``ingest_date``) makes the 100 TB error stream
    prunable at read time — triage of "yesterday's failures" reads one
    partition instead of scanning the whole history.

    ``run_id`` makes the append RETRY-IDEMPOTENT: the run writes to its
    own ``run=<id>`` directory with overwrite semantics, so a re-attempt
    of the same run (the pipeline's Q3 retry policy re-executes the whole
    job, possibly after a partial first write) replaces its own output
    instead of appending a second copy. Without it, plain append is
    at-least-once under retry. History still accumulates — across runs —
    and readers see ``run`` as a partition column."""
    if run_id is not None:
        writer = errors.write.mode("overwrite")
        target = f"{path}/run={run_id}"
    else:
        writer = errors.write.mode("append")
        target = path
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(target)


_LAYOUT_COLS = ("_compact_group",)  # compaction.GROUP_COL (no import cycle)


def read_warehouse(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    version: int | None = None,
) -> DataFrame:
    """ONE reader over every warehouse layout — callers never need to
    know whether a table was batch-written, streamed, or compacted:

    - ``version=N`` pins a time-travel read of retained snapshot
      ``v=N`` alone (a pruned or incomplete one raises
      ``FileNotFoundError``). Streamed epochs are not part of a pinned
      snapshot;
    - pointer layout (``_CURRENT`` + ``v=N``): read the committed
      snapshot, unioned with any ``epoch=K`` dirs NEWER than the
      pointer's compacted-through watermark — epochs at or below it were
      folded into the snapshot, and a crash-replayed micro-batch that
      re-creates such a dir is correctly ignored (exactly-once survives
      compaction);
    - streamed layout (``epoch=K`` micro-batch dirs from
      streaming/file_stream.py): union the epoch dirs (the epoch id is a
      commit artifact like ``v=``, so it is NOT a data column here; read
      the path directly with Spark partition discovery if you want it);
    - flat layout written by another tool: plain directory read.

    A pointerless directory that DOES contain ``v=N`` snapshots is
    REFUSED: a flat read would union every retained snapshot and
    silently return duplicated/stale rows (the round-7 ADVICE hazard).

    Internal layout columns (compaction's ``_compact_group``) are
    dropped; user partition columns pass through."""
    import functools

    def _read_dir(d: str) -> DataFrame:
        df = spark.read.format(fmt).load(d)
        return df.drop(*[c for c in _LAYOUT_COLS if c in df.columns])

    if version is not None:
        return _read_dir(_snapshot_dir(path, version))
    ver, through = _pointer_info(path)
    dirs = [] if ver is None else [_snapshot_dir(path, ver)]
    dirs += [d for k, d in _list_epochs(path) if through is None or k > through]
    if dirs:
        return functools.reduce(
            lambda a, b: a.unionByName(b), [_read_dir(d) for d in dirs]
        )
    if _list_versions(path):
        raise ValueError(
            f"{path} holds v=N snapshot dirs but no _CURRENT pointer — a "
            "flat read would union every retained snapshot and return "
            "duplicated/stale rows. Use read_warehouse(spark, path, "
            "version=N) to pick a snapshot explicitly."
        )
    return spark.read.format(fmt).load(path)


# ---------------------------------------------------------------------------
# Bucketed warehouse tables (shuffle-free co-located joins)
# ---------------------------------------------------------------------------
#
# THE 100 TB join technique: write both fact tables bucketed (and sorted)
# by the join key once at ingest, and every subsequent equi-join on that
# key runs with NO Exchange and NO Sort — each task zips bucket i of one
# table with bucket i of the other. Bucketing metadata lives in the
# session catalog (saveAsTable), so these writers speak table names, not
# paths; `spark.sql.warehouse.dir` owns the storage.


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    single_file_buckets: bool = True,
) -> None:
    """Overwrite ``table`` bucketed by ``bucket_cols``, optionally sorted
    within each bucket. Joins between tables bucketed on the same keys
    with the SAME bucket count need no shuffle (asserted in
    tests/test_bucketed.py).

    Dropping the SortMergeJoin's per-task Sort as well needs two more
    things: exactly ONE file per bucket (``single_file_buckets``
    repartitions by the bucket key before writing — otherwise each
    writing task emits its own file per bucket and the reader can't
    trust the merged order) and the reader session setting
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` (the scan
    only advertises its sort order under that conf; leave it off for
    multi-file-bucket tables, where it reduces scan parallelism to one
    task per bucket).

    Bucket count is a layout contract: pick it from target bucket FILE
    size (~128-256 MB) at the table's full scale and keep it stable
    across tables that join — a mismatch silently reintroduces the
    shuffle on one side."""
    import shutil

    if single_file_buckets:
        df = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a managed-table location orphaned by a previous session (catalog
    # entry gone, files left) blocks saveAsTable with
    # LOCATION_ALREADY_EXISTS — remove it before overwriting
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(wh.removeprefix("file:"), table.split(".")[-1])
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table WITH its bucketing metadata (a plain
    path-read of the same files would lose the layout and re-shuffle)."""
    return spark.table(table)

"""Small-file compaction: plan AND execute.

The planning query (`compact_file_plan` in harness.storage) models the
metadata-scale group assignment; this module executes it against a real
parquet directory: list part files with sizes, assign each to a
cumulative-size output group, rewrite the dataset in ONE distributed job
so each group lands as one output file.

Scale design (the 100 TB warehouse-partition case):
- The LISTING is metadata-scale (one file-system/object-store list, no
  data read) and the group plan is a driver-side running sum over it —
  millions of entries, never rows.
- The REWRITE is one Spark job: read all inputs, tag each row with its
  source file (``input_file_name()``), broadcast-join the slim
  file→group map, ``repartition(n_groups, group)`` so every group's rows
  co-locate in one task, and write ``partitionBy(group)`` — exactly one
  file per group directory. Bytes move once; no driver loop over groups,
  no per-group job.
- ``target_bytes`` should be the cluster's preferred scan unit
  (~128-256 MB); the default here is tiny because tests compact
  kilobyte-scale fixtures.
- Row-level content is untouched — compaction is a pure re-layout, and
  ``compact_execute`` returns before/after file counts so callers can
  assert the reduction (oracled in the `compact_execute_verify` harness
  query; parity pinned in tests/test_compaction.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.local_frames import literal_frame

GROUP_COL = "_compact_group"


def _file_uri(p: str) -> str:
    """``input_file_name()``-compatible file URI for a local path.

    Hadoop's Path encodes with java.net.URI's path rules: RFC-3986 pchar
    — unreserved chars plus sub-delims ``!$&'()*+,;=`` and ``:@`` — stay
    RAW, everything else (space, ...) is percent-encoded. Python's
    ``Path.as_uri()`` is NOT that encoding (it quotes ``=``, which every
    hive-partition dir like ``epoch=0`` contains), so spell the safe set
    out; the left-join guard in ``_rewrite_planned`` turns any residual
    mismatch into a loud error rather than a silent row drop."""
    from urllib.parse import quote

    return "file://" + quote(p, safe="/!$&'()*+,;=:@-._~")


def list_part_files(path: str, suffix: str = ".parquet") -> list[tuple[str, int]]:
    """(absolute file path, size bytes) for every data file under
    ``path``, in deterministic name order — the metadata listing the plan
    runs over. On an object store this is the inventory/LIST call."""
    out = []
    for root, _dirs, names in os.walk(path):
        for name in sorted(names):
            if name.endswith(suffix) and not name.startswith(("_", ".")):
                p = os.path.join(root, name)
                out.append((p, os.path.getsize(p)))
    out.sort()
    return out


def plan_groups(
    files: list[tuple[str, int]], target_bytes: int
) -> dict[str, int]:
    """file → output-group id by cumulative-size-before
    (floor(cumsum_before / target)), the same rule as the oracled
    planning query: each group's bytes land in [target, target + max
    input file), except the last. Pure metadata arithmetic."""
    plan: dict[str, int] = {}
    cum = 0
    for path, size in files:
        plan[path] = cum // target_bytes
        cum += size
    return plan


def compact_execute(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_bytes: int = 16_000,
) -> dict:
    """Rewrite the parquet dataset at ``src_path`` into ``dst_path`` with
    one file per planned size group (hive-partitioned by ``_compact_group``
    so the group structure is inspectable; read back with
    ``read_compacted``). Returns
    ``{"files_before", "files_after", "groups"}``."""
    files = list_part_files(src_path)
    if not files:
        raise FileNotFoundError(f"no parquet part files under {src_path}")
    plan = plan_groups(files, target_bytes)
    df = spark.read.parquet(src_path).withColumn("_f", F.input_file_name())
    _rewrite_planned(spark, df, plan, dst_path)
    return {
        "files_before": len(files),
        "files_after": len(list_part_files(dst_path)),
        "groups": max(plan.values()) + 1,
    }


def _rewrite_planned(
    spark: SparkSession, df: DataFrame, plan: dict[str, int], dst_path: str
) -> None:
    """The one distributed rewrite job shared by ``compact_execute`` and
    ``compact_epochs``: broadcast-join the slim file→group map onto rows
    tagged with their source file, co-locate each group in one task, and
    write one file per group directory. ``df`` must carry the source file
    URI in ``_f`` (``input_file_name()``). Map keys use ``_file_uri`` —
    the encoding that matches ``input_file_name()`` byte-for-byte; the
    old plain ``file://`` concat joined to nothing for any path with an
    encodable character and silently dropped those files' rows
    (regression pinned in tests/test_compaction.py)."""
    n_groups = max(plan.values()) + 1
    map_rows = [(_file_uri(p), b) for p, b in plan.items()]
    fmap = literal_frame(spark, f"_f string, {GROUP_COL} int", map_rows)
    joined = df.join(F.broadcast(fmap), "_f", "left")
    # Belt-and-braces: compaction must move EVERY row, so an input file
    # the plan somehow doesn't cover is a hard error, never a silent drop.
    guarded = joined.withColumn(
        GROUP_COL,
        F.when(F.col(GROUP_COL).isNotNull(), F.col(GROUP_COL)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("compaction: input file missing from plan: "),
                    F.col("_f"),
                )
            ).cast("int")
        ),
    )
    (
        guarded.drop("_f")
        .repartition(n_groups, F.col(GROUP_COL))
        .write.mode("overwrite")
        .partitionBy(GROUP_COL)
        .parquet(dst_path)
    )


def read_compacted(spark: SparkSession, dst_path: str) -> DataFrame:
    """Read a compacted dataset, dropping the layout-only group column."""
    return spark.read.parquet(dst_path).drop(GROUP_COL)


def compact_epochs(
    spark: SparkSession,
    path: str,
    target_bytes: int = 16_000,
    keep_versions: int = 2,
) -> dict:
    """Fold the streaming sink's ``epoch=K`` micro-batch dirs (plus any
    previously-compacted snapshot) into ONE fresh ``v=N`` snapshot and
    commit it through the warehouse's own commit protocol
    (``sinks._commit``) — the small-file answer for the
    availableNow sink, which otherwise leaves one file set per
    micro-batch forever.

    Crash-safe by commit ordering: the new snapshot is written into a
    CLAIMED ``v=N`` dir (invisible — no pointer yet), then the pointer
    and the ``through=<max absorbed epoch>`` watermark flip in ONE atomic
    replace, then absorbed epoch dirs are deleted (pure cleanup —
    ``read_warehouse`` already ignores epochs at or below the watermark,
    so a crash between flip and delete never double-reads, and a
    crash-REPLAYED micro-batch that re-creates an absorbed ``epoch=K``
    dir is likewise ignored: exactly-once survives compaction; pinned in
    tests/test_epoch_compaction.py).

    Scale shape: identical to ``compact_execute`` — metadata-scale
    listing, driver-side cumulative-size plan, one distributed rewrite
    with a broadcast file→group map; the 100 TB deployment runs this on
    a schedule with ``target_bytes`` at the cluster scan unit."""
    import functools
    import shutil

    from .. import sinks

    ver, through = sinks._pointer_info(path)
    epochs = sinks._list_epochs(path)
    live = [(k, d) for k, d in epochs if through is None or k > through]
    if not live:
        return {"epochs_compacted": 0, "version": ver, "through": through}

    roots = [] if ver is None else [sinks._snapshot_dir(path, ver)]
    roots.extend(d for _, d in live)

    files: list[tuple[str, int]] = []
    for r in roots:
        files.extend(list_part_files(r))
    if not files:
        raise FileNotFoundError(f"no parquet part files under {roots}")
    plan = plan_groups(files, target_bytes)

    # Read each root as its OWN dataset (no shared basePath, so Spark
    # never resurrects epoch=K / _compact_group=G as data columns), drop
    # the layout-only group column a prior compaction left, and tag rows
    # with their source file for the plan join.
    def _read_root(r: str) -> DataFrame:
        df = spark.read.parquet(r)
        if GROUP_COL in df.columns:
            df = df.drop(GROUP_COL)
        return df.withColumn("_f", F.input_file_name())

    df = functools.reduce(
        lambda a, b: a.unionByName(b), [_read_root(r) for r in roots]
    )
    new_through = max(k for k, _ in live)
    new_v = sinks._commit(
        path,
        lambda target: _rewrite_planned(spark, df, plan, target),
        keep_versions,
        through=new_through,
    )
    # cleanup: absorbed epochs (including stale pre-watermark replays)
    for k, d in epochs:
        if k <= new_through:
            shutil.rmtree(d, ignore_errors=True)
    return {
        "epochs_compacted": len(live),
        "version": new_v,
        "through": new_through,
        "files_before": len(files),
        "files_after": len(list_part_files(os.path.join(path, f"v={new_v}"))),
    }

"""User-facing takedown verification (round-15 verdict task 4).

The artifact-level proof that a taken-down document is really gone
lived only in tests (tests/test_text_index_deletes.py greps the index
artifacts); compliance users need it as an OPERATOR: given doc_ids,
report any residue per artifact family across every index the pipeline
maintains — the evidence a right-to-be-forgotten audit files.

Spark-first shape: each artifact check is one delete-sized semi-join
against the artifact's id column (narrow-column parquet scans, nothing
corpus-sized materializes on the driver), unioned into a single residue
report. Each index family names its id-keyed artifacts
(``ID_KEYED_ARTIFACTS``); the audit reads them and masks tombstones
through the shared generation reader (``operators/generations``), the
same code every probe uses. ``scope`` picks the contract being audited:

- ``"served"`` (default): what probes can SEE — tombstone masks
  applied. Must be empty immediately after a committed takedown; any
  row is a serving bug.
- ``"physical"``: raw artifact rows on disk. Tombstone-masked rows are
  physically present BY DESIGN until compaction folds them, so this
  scope is the post-compaction audit ("has the fingerprint left the
  disk"), not a delete-correctness check.

Every audited artifact is id-keyed (the text index's hash rows carry the
doc_id), so the asked ids alone cover every family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import commit
from ..functions.local_frames import literal_frame
from . import annindex, generations, incremental, lexindex

_REPORT_SCHEMA = "artifact string, doc_id bigint, n_rows bigint"


def _residue(df: DataFrame, key: str, want: DataFrame, label: str) -> DataFrame:
    return (
        df.select(F.col(key).cast("long").alias("doc_id"))
        .join(want, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(label).alias("artifact"), "doc_id", "n_rows")
    )


def verify_forgotten(
    spark,
    ids: DataFrame,
    lex_index_path: str | None = None,
    ann_index_path: str | None = None,
    text_index_path: str | None = None,
    merged_dir: str | None = None,
    scope: str = "served",
    id_col: str = "doc_id",
) -> DataFrame:
    """Residue report for a takedown: one row per (artifact, doc_id)
    still holding rows for an asked id — EMPTY means fully forgotten at
    the chosen ``scope``. Families audited (each present only when its
    path is configured): lex ``postings`` / ``positions`` (when the
    index stores them) / ``doclist``; ann ``vectors`` / ``veclist``;
    text ``grams`` / ``sizes`` / ``hashes``; ``merged`` corpus rows.
    A listed generation without one of its artifact dirs raises
    ``FileNotFoundError`` rather than dropping it from the audit.

    Cost: delete-sized semi-joins on narrow id columns — the same probe
    class as the deletes themselves; the merged check prunes children
    via the purge's `_child_stats.json` id statistics, so a no-overlap
    child costs nothing. Wired into ``run_nightly(verify_deletes=True)``
    as a per-night audit of that night's takedowns."""
    if scope not in ("served", "physical"):
        raise ValueError(f"scope must be 'served' or 'physical', got {scope!r}")
    served = scope == "served"
    want = ids.select(
        F.col(id_col).cast("long").alias("doc_id")
    ).distinct()
    parts: list[DataFrame] = []
    for family, path, key, artifacts in (
        ("lex", lex_index_path, "doc_id", lexindex.ID_KEYED_ARTIFACTS),
        ("ann", ann_index_path, "vec_id", annindex.ID_KEYED_ARTIFACTS),
        ("text", text_index_path, "doc_id", incremental.ID_KEYED_ARTIFACTS),
    ):
        if path is None:
            continue
        man = commit.load_manifest(path)
        tomb = generations.tombstones(spark, path, man, key) if served else None
        for artifact, schema, col in artifacts:
            # positions exist only in an index built or backfilled with them
            if artifact == "positions" and not man.get("positions"):
                continue
            rows = generations.read(
                spark, path, artifact, man["generations"], schema
            )
            parts.append(
                _residue(
                    generations.mask(rows, tomb, col),
                    col,
                    want,
                    f"{family}:{artifact}",
                )
            )
    if merged_dir is not None:
        import os

        from ..streaming.nightly import (
            _id_stats_of,
            _load_child_stats,
            _merged_children,
            _stats_disjoint,
        )

        del_stats = _id_stats_of(want, "doc_id")
        stats = _load_child_stats(merged_dir)
        out = None
        for name in _merged_children(merged_dir):
            if _stats_disjoint(stats.get(name), del_stats):
                continue
            part = spark.read.parquet(os.path.join(merged_dir, name)).select(
                F.col(id_col).cast("long").alias("doc_id")
            )
            out = part if out is None else out.unionByName(part)
        if out is not None:
            parts.append(_residue(out, "doc_id", want, "merged"))
    report = literal_frame(spark, _REPORT_SCHEMA, [])
    for p in parts:
        report = report.unionByName(p)
    return report.orderBy("artifact", "doc_id")

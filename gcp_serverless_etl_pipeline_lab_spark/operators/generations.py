"""The Spark side of the generational index layout, shared by the text
near-dup index (``incremental``), the lexical index (``lexindex``) and
the ANN index (``annindex``). The manifest side — claims, the locked
append/delete/fold commits, vacuum — lives in ``commit``.

Every artifact of an index is a set of immutable ``<artifact>/gen=N``
dirs; only the generations the manifest lists are read. A delete writes
``tombstones/gen=N`` rows keyed by the family's id column and records in
the manifest the highest generation it covers (``max_gen``): rows of
generations ``<= max_gen`` are dead, rows appended later (a re-added id)
are live. Until compaction drops the covered rows physically, every
reader masks them.

- ``read`` unions the listed generations of one artifact, each tagged
  with its number as the ``_gen`` literal;
- ``tombstones`` reads the active tombstones as ``(key, max_gen)``, one
  row per id (the widest cover wins);
- ``mask`` drops the rows a tombstone covers (``left_anti``), or keeps
  only those (``left_semi``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def read(
    spark, path: str, artifact: str, entries: list[dict], schema: str | None = None
) -> DataFrame:
    """Union of ``artifact``'s generations listed in ``entries``, each
    tagged with ``_gen`` (a literal — free). An orphaned dir from a
    crashed writer is never read. The explicit ``schema`` makes an empty
    generation read as zero rows instead of failing schema inference;
    partition columns resolve from the dir names. Writers that persist a
    read artifact back select ``_gen`` away.

    Every writer lists a generation only after all its artifacts landed,
    so a listed generation without its dir is a damaged index:
    ``FileNotFoundError`` names it."""
    out = None
    for g in entries:
        gen = int(g["gen"])
        d = os.path.join(path, artifact, f"gen={gen}")
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"index at {path} lists generation {gen} but has no "
                f"{artifact}/gen={gen} dir; rebuild the index"
            )
        reader = spark.read if schema is None else spark.read.schema(schema)
        part = (
            reader.option("basePath", d).parquet(d).withColumn("_gen", F.lit(gen))
        )
        out = part if out is None else out.unionByName(part)
    return out


def tombstones(spark, path: str, man: dict, key: str) -> DataFrame | None:
    """``(key, max_gen)`` over the manifest's active tombstones, or None
    when there are none. An id deleted, re-added and deleted again has
    two tombstone rows; the one aggregate keeps the widest cover. The
    frame is delete-sized (deletes are rare events), so every mask join
    rides a small frame AQE broadcasts."""
    out = None
    for t in man.get("tombstones", []):
        d = os.path.join(path, "tombstones", f"gen={t['gen']}")
        part = (
            spark.read.schema(f"{key} bigint")
            .option("basePath", d)
            .parquet(d)
            .select(key, F.lit(int(t["max_gen"])).alias("max_gen"))
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        return None
    return out.groupBy(key).agg(F.max("max_gen").alias("max_gen"))


def mask(
    df: DataFrame, tomb: DataFrame | None, key: str, how: str = "left_anti"
) -> DataFrame:
    """Drop the rows of ``df`` whose (``key``, ``_gen``) a tombstone
    covers — the read-side view of a delete until compaction applies it.
    ``how="left_semi"`` keeps exactly those rows instead. ``key`` names
    ``df``'s id column (the text index's postings and sizes call theirs
    ``base_id``). ``tomb=None`` (no active tombstones) returns ``df``
    unchanged, so a ``left_semi`` caller checks for None first."""
    if tomb is None:
        return df
    t = tomb.select(
        F.col(tomb.columns[0]).alias("_tomb_id"),
        F.col("max_gen").alias("_tomb_gen"),
    )
    return df.join(
        t,
        (F.col(key) == F.col("_tomb_id")) & (F.col("_gen") <= F.col("_tomb_gen")),
        how,
    )

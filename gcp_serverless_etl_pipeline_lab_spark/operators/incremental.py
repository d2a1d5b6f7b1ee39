"""Incremental-batch deduplication: a NEW batch against an EXISTING base.

The daily shape of a 100 TB corpus: the base is already deduped; each
increment must answer "which of these new documents are (exact or near)
duplicates OF THE BASE" without re-running corpus×corpus detection.

- exact: one left-semi join of the batch's md5 against the base's md5 —
  at scale the base side is a pre-materialized hash column (store it at
  ingest; it never changes), so the increment pays one shuffle of the
  BATCH plus a scan of base hashes.
- near: CROSS n-gram Jaccard — gram lists built per side, equi-joined on
  the gram, pair-counted, verified against both sides' set sizes. Only
  new×base pairs exist by construction (no base×base re-detection). The
  document-frequency cap applies to the BASE gram table (the side whose
  boilerplate would otherwise fan out); error mode is false-negative
  only, same contract as dedup.ngram_jaccard_pairs.

At 100 TB the base gram table is the big side: bucket/partition it by
gram at ingest and the increment's join co-locates; the batch side is
small enough that AQE usually broadcasts it.

PERSISTED BASE INDEX (the actual 100 TB operating mode): the functions
above re-shingle the ENTIRE base corpus on every increment — correct,
but the per-batch cost is proportional to base size, which at warehouse
scale means every nightly increment rescans 100 TB of text.
``build_base_index`` pays that cost ONCE: it persists the base's md5
hashes, its (df-capped) gram postings partitioned by a gram-hash bucket,
and its full shingle-set sizes; ``*_vs_index`` then probe the stored
artifacts — the increment never touches base TEXT again, only the
compact index:

- the exact probe scans one narrow hash column;
- the near probe reads ONLY the gram-bucket partitions the batch's own
  grams hash into (static partition pruning from a <=64-value driver
  list), so a small nightly batch reads a small slice of the postings —
  per-batch cost tracks BATCH size, not base size;
- output is bit-identical to the recompute path by construction (same
  shingler, same df-cap rule, sizes from the same full shingle sets) —
  pinned by the ``a0d_incremental_index`` oracle query and
  tests/test_incremental_index.py.

The index is extended, not rebuilt, after an increment is merged into
the base: ``append_to_index`` writes the increment's hashes / postings /
sizes as a new immutable GENERATION directory per artifact — append
cost tracks INCREMENT size, never base size — and the df-cap contract
is re-enforced across old+new (a gram whose cumulative document
frequency crosses the cap at append time is added to a capped-grams
ledger the probes anti-join, so probe-after-append is bit-identical to
probe-against-rebuilt-index — pinned by tests/test_incremental_index.py
and the ``a0e_index_append`` oracle query). ``delete_from_index`` and
``compact_index`` complete the lifecycle. The generation layout and its
commits are the ones all three index families share: readers and the
tombstone mask in ``operators/generations``, the append / delete / fold
transactions and ``vacuum_index`` in ``commit``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import commit
from . import generations
from .dedup import _with_shingles, cap_document_frequency


def exact_dups_vs_base(batch: DataFrame, base: DataFrame) -> DataFrame:
    """Batch rows whose full text already exists in base (by md5)."""
    b = batch.select("doc_id", F.md5("text").alias("k"))
    base_k = base.select(F.md5("text").alias("k"))
    return b.join(base_k, "k", "left_semi").select("doc_id")


def near_dups_vs_base(
    batch: DataFrame,
    base: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """(doc_id, base_id, jaccard) for batch docs whose word-3-gram
    Jaccard vs some base doc clears ``threshold``.

    Round-15 optimization (guide §2.3/§2.4, same restructure as
    dedup.ngram_jaccard_pairs): the full shingle-set sizes ride the two
    gram streams as one extra int per row instead of re-running the
    ngram projection per side for a separate size frame and joining both
    back after the intersection count. Removes one full shingle
    projection per side and both size joins; the denominators come out
    of the intersection aggregate via ``first()`` (exact — constant per
    (new_id, base_id) group)."""
    g_new = _with_shingles(batch).select(
        F.col("doc_id").alias("new_id"),
        F.size("shingles").alias("sz_n"),
        F.explode("shingles").alias("g"),
    )
    g_base = _with_shingles(base).select(
        F.col("doc_id").alias("base_id"),
        F.size("shingles").alias("sz_b"),
        F.explode("shingles").alias("g"),
    )
    if max_df is not None:
        g_base = cap_document_frequency(
            g_base.withColumnRenamed("base_id", "doc_id"), max_df
        ).withColumnRenamed("doc_id", "base_id")
    inter = (
        g_new.join(g_base, "g")
        .groupBy("new_id", "base_id")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("sz_n").alias("sz_n"),
            F.first("sz_b").alias("sz_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double")
                / (F.col("sz_n") + F.col("sz_b") - F.col("i")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("new_id").alias("doc_id"), "base_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# Persisted base index
# ---------------------------------------------------------------------------

INDEX_GRAM_BUCKETS = 64

# Active probe-cache registry (see probe_cache_scope). A contextvar, not a
# module global, so concurrent probe scopes (e.g. two streaming queries in
# one driver) each release exactly their own frames.
import contextvars as _contextvars

_PROBE_CACHES: _contextvars.ContextVar[list | None] = _contextvars.ContextVar(
    "incremental_probe_caches", default=None
)


def probe_cache_scope():
    """Context manager bounding the lifetime of probe-side caches.

    ``near_dups_vs_index`` persists the batch-shingle frame (it has three
    consumers — the bucket gate, the intersection join, the size
    denominator). Without a scope that cache lives until session eviction
    — fine for a one-shot probe, but a long-lived driver running hundreds
    of probes (the nightly stream: one probe per micro-batch) accumulates
    one pinned MEMORY_AND_DISK entry per epoch, and disk-backed blocks
    are never evicted. Wrap each probe in this scope and every frame the
    probe pinned is unpersisted on exit::

        with probe_cache_scope():
            out = classify_batch_vs_index(spark, batch, idx)
            out.write.parquet(...)   # materialize INSIDE the scope

    Materialize inside the scope (the caches exist to be reused across
    the probe's consumers); a plan executed after exit stays CORRECT —
    unpersist only drops the cache, Spark recomputes — it just re-shingles
    the batch. Scopes nest; each releases only its own frames.
    """
    import contextlib

    @contextlib.contextmanager
    def _scope():
        reg: list = []
        token = _PROBE_CACHES.set(reg)
        try:
            yield reg
        finally:
            _PROBE_CACHES.reset(token)
            for frame in reg:
                try:
                    frame.unpersist()
                except Exception:
                    pass  # session already stopped: nothing left to release

    return _scope()


def _register_probe_cache(frame: DataFrame) -> None:
    reg = _PROBE_CACHES.get()
    if reg is not None:
        reg.append(frame)


# hash rows carry the doc_id next to the content hash so an id-only
# takedown can resolve the k it must stop matching
_HASHES_SCHEMA = "k string, doc_id bigint"
_GRAMS_SCHEMA = "base_id bigint, g string, gb int"
_SIZES_SCHEMA = "base_id bigint, sz_b int"
_GRAMDF_SCHEMA = "g string, df bigint, gb int"
_CAPPED_SCHEMA = "g string"
# the id-keyed artifacts as (name, read schema, id column), audited by
# takedown.verify_forgotten
ID_KEYED_ARTIFACTS = (
    ("grams", _GRAMS_SCHEMA, "base_id"),
    ("sizes", _SIZES_SCHEMA, "base_id"),
    ("hashes", _HASHES_SCHEMA, "doc_id"),
)


def _gb(col: str):
    return F.pmod(F.xxhash64(col), F.lit(INDEX_GRAM_BUCKETS)).cast("int")


def build_base_index(
    base: DataFrame,
    path: str,
    max_df: int | None = 10_000,
    n: int = 3,
) -> None:
    """Shingle and sign ``base`` ONCE; persist the probe artifacts under
    ``path`` as GENERATION 0 of an appendable index (v2 layout —
    ``append_to_index`` adds later generations without touching these):

    - ``hashes/gen=0``  — md5(text) of every base doc (exact-dup probe);
    - ``grams/gen=0``   — (base_id, g) postings, df-capped at build time
      with the same rule as ``near_dups_vs_base`` and hive-partitioned by
      ``gb = pmod(xxhash64(g), INDEX_GRAM_BUCKETS)`` so probes prune to
      the buckets their own grams occupy;
    - ``sizes/gen=0``   — full (uncapped) shingle-set size per base doc,
      the union-size denominator;
    - ``gramdf/gen=0``  — TRUE document frequency of every gram,
      including over-cap grams (gb-partitioned) — what lets an append
      decide whether old+new df crosses the cap without rescanning base
      text;
    - ``capped/gen=0``  — grams whose cumulative df exceeds ``max_df``
      (small by construction: at most total_occurrences/max_df entries,
      the same bound as cap_document_frequency's hot list). Probes
      anti-join it; at build time it is redundant (those postings were
      never written) but appends extend it when a gram CROSSES the cap,
      excluding the physically-present older postings.

    ``max_df``/``n`` land in ``_MANIFEST.json`` so probes and appends
    replay the exact build contract; at 100 TB raise INDEX_GRAM_BUCKETS
    and let each bucket hold many files — the partition count, not the
    file count, is the pruning unit.

    The shingle frame is persisted (MEMORY_AND_DISK) across its
    consumers — the postings/gramdf writes and the sizes write — so the
    build tokenizes and n-grams the corpus ONCE, not once per artifact.
    For a one-off build job that is the right trade even at warehouse
    scale (the spill is bounded by the shingle frame, comparable to the
    text itself); a build that cannot afford the spill can drop the
    persist and pay the second pass."""
    from pyspark.storagelevel import StorageLevel

    sh = _with_shingles(base, n).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        grams = sh.select(
            F.col("doc_id").cast("long").alias("base_id"),
            F.explode("shingles").alias("g"),
        )
        df_tab = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        if max_df is not None:
            hot = df_tab.filter(F.col("df") > max_df).select("g")
            grams = grams.join(F.broadcast(hot), "g", "left_anti")
        else:
            hot = df_tab.filter(F.lit(False)).select("g")
        _write_generation(
            path,
            0,
            hashes=base.select(
                F.md5("text").alias("k"),
                F.col("doc_id").cast("long").alias("doc_id"),
            ),
            grams=grams.select("base_id", "g", _gb("g").alias("gb")),
            sizes=sh.select(
                F.col("doc_id").cast("long").alias("base_id"),
                F.size("shingles").alias("sz_b"),
            ),
            gramdf=df_tab.select("g", "df", _gb("g").alias("gb")),
            capped=hot,
        )
        commit.write_manifest(
            path,
            {
                "version": commit.MANIFEST_VERSION,
                "max_df": max_df,
                "ngram": n,
                "gram_buckets": INDEX_GRAM_BUCKETS,
                "generations": [{"gen": 0, "increment_id": None}],
            },
        )
        # the manifest replace is the commit point; a crash before it
        # leaves no manifest, and a retried build writes into the same
        # path cleanly (gen-0 overwrite).
    finally:
        sh.unpersist()


def _write_generation(
    path: str,
    gen: int,
    hashes: DataFrame,
    grams: DataFrame,
    sizes: DataFrame,
    gramdf: DataFrame,
    capped: DataFrame,
) -> None:
    """Write one immutable generation of every artifact. mode=overwrite
    so a CRASHED prior attempt at the same generation number is replaced
    wholesale on retry (generations become visible only via the manifest
    commit, so a half-written gen dir is never read)."""
    import os

    hashes.write.mode("overwrite").parquet(
        os.path.join(path, "hashes", f"gen={gen}")
    )
    (
        grams.repartition(INDEX_GRAM_BUCKETS, F.col("gb"))
        .write.mode("overwrite")
        .partitionBy("gb")
        .parquet(os.path.join(path, "grams", f"gen={gen}"))
    )
    sizes.write.mode("overwrite").parquet(
        os.path.join(path, "sizes", f"gen={gen}")
    )
    (
        gramdf.repartition(INDEX_GRAM_BUCKETS, F.col("gb"))
        .write.mode("overwrite")
        .partitionBy("gb")
        .parquet(os.path.join(path, "gramdf", f"gen={gen}"))
    )
    capped.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "capped", f"gen={gen}")
    )


def _keyed_shingles(batch: DataFrame, n: int) -> DataFrame:
    """(doc_id, k, shingles) in ONE pass over the batch (round 16, guide
    §1.2/§2.3): the md5 exact-probe key rides the token barrier next to
    the shingle array, so ``classify_batch_vs_index`` synthesizes and
    scans the batch once instead of three times (exact key pass, shingle
    pass, classification spine). The shingle expression is byte-identical
    to ``dedup._with_shingles``; ``k`` is byte-identical to the exact
    probe's ``md5(text)`` — parity pinned in
    tests/test_r16_optimizations.py."""
    from .dedup import _barrier

    toks = _barrier(
        batch.select(
            "doc_id",
            F.md5("text").alias("k"),
            F.expr("split(text, ' ', -1)").alias("t"),
        )
    )
    from ..functions.text import word_ngrams_sql

    return toks.select(
        "doc_id", "k", F.expr(word_ngrams_sql("t", n)).alias("shingles")
    )


def exact_dups_vs_index(
    spark, batch: DataFrame, path: str, keyed: DataFrame | None = None
) -> DataFrame:
    """``exact_dups_vs_base`` against the stored hash column — the base's
    md5s were materialized at build/append time; the probe shuffles only
    the batch and scans one narrow parquet column. Deleted docs (round
    14) are masked out: a taken-down doc must stop matching future
    ingests as "already seen", or its takedown silently suppresses the
    legitimate re-ingest forever.

    ``keyed`` (round 16): optional pre-computed (doc_id, k=md5(text))
    frame — ``classify_batch_vs_index`` passes a slice of its persisted
    one-pass batch frame so the batch is not re-synthesized here."""
    man = commit.load_manifest(path)
    b = (
        keyed.select("doc_id", "k")
        if keyed is not None
        else batch.select("doc_id", F.md5("text").alias("k"))
    )
    base_k = generations.mask(
        generations.read(spark, path, "hashes", man["generations"], _HASHES_SCHEMA),
        generations.tombstones(spark, path, man, "doc_id"),
        "doc_id",
    )
    return b.join(base_k, "k", "left_semi").select("doc_id")


def near_dups_vs_index(
    spark,
    batch: DataFrame,
    path: str,
    threshold: float = 0.8,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """``near_dups_vs_base`` against the stored postings: the batch is
    shingled fresh; the base side is READ, never recomputed, and only the
    gram-bucket partitions the batch's grams hash into are scanned (the
    <=``gram_buckets``-value bucket list is collected driver-side — a
    bounded gate, same class as the 1-row gates). The df-cap is enforced
    physically at build/append time plus the capped-grams anti-join (a
    gram that CROSSED the cap in a later generation still has its older
    postings on disk — the ledger excludes them), so results match
    ``near_dups_vs_base(batch, merged_base, threshold, max_df)`` for the
    build's ``max_df`` exactly, however many appends have landed.

    ``shingled`` (round 16): optional pre-computed (doc_id, shingles)
    frame — ``classify_batch_vs_index`` passes a slice of its persisted
    one-pass batch frame (md5 + shingles in one synthesis); the caller
    then owns persistence and lifetime."""
    man = commit.load_manifest(path)
    nb = int(man["gram_buckets"])
    if shingled is not None:
        sh_new = shingled.select("doc_id", "shingles")
    else:
        # The batch-shingle frame has three consumers — the eager bucket-
        # gate collect below, the intersection join, and the union-size
        # denominator — so persist it; the collect materializes the
        # cache, so the join and sizes reuse it instead of re-tokenizing
        # the batch (measured 2x on the sf0.1 probe). Lifetime:
        # registered with the active probe_cache_scope() when one is
        # open (the nightly stream wraps each micro-batch probe, so
        # per-epoch caches are released); without a scope the cache
        # lives until session eviction — bounded for a one-shot probe,
        # but long-lived drivers running many probes should use the
        # scope.
        from pyspark.storagelevel import StorageLevel

        sh_new = _with_shingles(batch, int(man["ngram"])).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        _register_probe_cache(sh_new)
    g_new = sh_new.select(
        F.col("doc_id").alias("new_id"), F.explode("shingles").alias("g")
    )
    gbs = [
        r["gb"]
        for r in g_new.select(
            F.pmod(F.xxhash64("g"), F.lit(nb)).cast("int").alias("gb")
        )
        .distinct()
        .collect()
    ]
    g_base = generations.read(spark, path, "grams", man["generations"], _GRAMS_SCHEMA)
    if len(gbs) < nb:
        g_base = g_base.filter(F.col("gb").isin(gbs))
    # mask deleted docs' postings and sizes (round 14) — a taken-down
    # doc must stop near-matching future ingests; the mask is
    # generation-scoped so a re-appended doc's new rows stay live
    tomb = generations.tombstones(spark, path, man, "doc_id")
    g_base = generations.mask(g_base, tomb, "base_id")
    # exclude grams that crossed the df-cap in a later generation (their
    # pre-crossing postings are physically present). The ledger is small
    # by construction — broadcast anti-join, no extra shuffle of the
    # postings.
    capped = generations.read(spark, path, "capped", man["generations"], _CAPPED_SCHEMA)
    g_base = g_base.join(F.broadcast(capped), "g", "left_anti")
    inter = (
        g_new.join(g_base.select("base_id", "g"), "g")
        .groupBy("new_id", "base_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sz_new = sh_new.select(
        F.col("doc_id").alias("new_id"), F.size("shingles").alias("sz_n")
    )
    sz_base = generations.mask(
        generations.read(spark, path, "sizes", man["generations"], _SIZES_SCHEMA),
        tomb,
        "base_id",
    )
    return (
        inter.join(sz_new, "new_id")
        .join(sz_base, "base_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double")
                / (F.col("sz_n") + F.col("sz_b") - F.col("i")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("new_id").alias("doc_id"), "base_id", "jaccard")
    )


def append_to_index(
    spark,
    increment: DataFrame,
    path: str,
    increment_id: str | None = None,
) -> bool:
    """Extend a persisted base index with an increment that has been
    MERGED into the base — the nightly-loop step that keeps the index in
    lockstep with the warehouse without ever rebuilding it. Probing the
    appended index is bit-identical to probing an index rebuilt from the
    merged corpus (same ``max_df``); cost tracks INCREMENT size:

    - the increment is shingled once (its text; base text untouched);
    - its per-gram document frequencies join against the stored
      ``gramdf`` slices PRUNED to the increment's own gram buckets, so
      the old-df lookup reads a bounded fraction of the gram table;
    - postings/hashes/sizes/gramdf land as a new immutable generation
      directory per artifact; nothing existing is rewritten;
    - the df-cap contract is re-enforced across old+new: a gram whose
      CUMULATIVE df crosses ``max_df`` at this append gets no new
      postings and is added to the ``capped`` ledger, which probes
      anti-join — excluding its physically-present older postings
      exactly as a rebuild would have dropped them. (The dead postings
      stay on disk until a rebuild; they are never read past the
      anti-join. Grams already over the cap stay capped — df only
      grows.)

    CRASH SAFETY / IDEMPOTENCE: the atomic manifest replace is the one
    commit point. A crash mid-append leaves orphaned ``gen=K`` dirs no
    reader ever sees; the replay overwrites them and commits. Pass
    ``increment_id`` (e.g. the stream's epoch id) and a replay of an
    ALREADY-COMMITTED append is detected and skipped — returns False;
    a performed append returns True. Without an id, callers own
    exactly-once delivery.

    CONCURRENT APPENDERS are safe: each claims a distinct generation
    number via an exclusive-create marker (racing appends land in
    distinct dirs) and the manifest commit re-reads under an exclusive
    flock, so no committed generation is ever dropped and a same-
    increment-id race commits exactly once (the loser's orphaned dir is
    vacuum_index's business). One documented relaxation: each
    concurrent appender enforces the df-cap against ITS manifest
    snapshot, so a gram pushed over the cap only by two IN-FLIGHT
    increments together keeps its postings until the next
    ``compact_index``, which recomputes the ledger from the summed true
    dfs and restores exact cap semantics. Serial appends (the nightly
    loop) are always exact.
    """
    from pyspark.storagelevel import StorageLevel

    man = commit.load_manifest(path)
    applied = commit.applied_increments(man)
    if increment_id is not None and increment_id in applied:
        return False
    max_df = man["max_df"]
    gen = commit.claim_generation(path)

    sh = _with_shingles(increment, int(man["ngram"])).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    inc_grams = sh.select(
        F.col("doc_id").cast("long").alias("base_id"),
        F.explode("shingles").alias("g"),
    )
    # per-gram df of the increment, joined with the CUMULATIVE stored df
    # (pruned to the increment's buckets — the same static-pruning lever
    # as the probe; an increment with few distinct grams touches few
    # partitions of the gram table). Persisted: it feeds the capped
    # ledger, the postings filter, and the gramdf write.
    inc_df = (
        inc_grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("gb", _gb("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        nb = int(man["gram_buckets"])
        gbs = [r["gb"] for r in inc_df.select("gb").distinct().collect()]
        old_df = generations.read(
            spark, path, "gramdf", man["generations"], _GRAMDF_SCHEMA
        )
        if len(gbs) < nb:
            old_df = old_df.filter(F.col("gb").isin(gbs))
        # semi-join against the increment's gram set BEFORE the sum:
        # within the pruned buckets only the grams this increment
        # actually touches need their cumulative df — the aggregate's
        # input drops from bucket-sized to increment-sized. No forced
        # broadcast: a nightly-sized increment broadcasts via AQE, a
        # bulk backfill shuffles safely.
        old_sum = (
            old_df.join(inc_df.select("g"), "g", "left_semi")
            .groupBy("g")
            .agg(F.sum("df").alias("old_df"))
        )
        merged = (
            inc_df.join(old_sum, "g", "left")
            .select(
                "g",
                "gb",
                "df",
                F.coalesce(F.col("old_df"), F.lit(0)).alias("old_df"),
                (F.col("df") + F.coalesce(F.col("old_df"), F.lit(0))).alias(
                    "total_df"
                ),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            if max_df is not None:
                # grams over the cap AFTER this increment: no new postings
                over = merged.filter(F.col("total_df") > max_df)
                # ...and the ones CROSSING it now enter the ledger (the
                # already-capped ones are in an earlier generation's)
                newly_capped = over.filter(F.col("old_df") <= max_df).select("g")
                # No broadcast hint on the anti-join: for a nightly-sized
                # increment AQE broadcasts the tiny over-cap set anyway,
                # but a bulk backfill against a boilerplate-heavy base can
                # put a large fraction of its gram vocabulary over a low
                # cap — a forced broadcast would bypass AQE's size check
                # and pressure the driver exactly when the set is biggest.
                post_inc = inc_grams.join(over.select("g"), "g", "left_anti")
            else:
                newly_capped = merged.filter(F.lit(False)).select("g")
                post_inc = inc_grams
            _write_generation(
                path,
                gen,
                hashes=increment.select(
                    F.md5("text").alias("k"),
                    F.col("doc_id").cast("long").alias("doc_id"),
                ),
                grams=post_inc.select("base_id", "g", _gb("g").alias("gb")),
                sizes=sh.select(
                    F.col("doc_id").cast("long").alias("base_id"),
                    F.size("shingles").alias("sz_b"),
                ),
                gramdf=inc_df.select("g", "df", "gb"),
                capped=newly_capped,
            )
            return commit.commit_append(path, gen, increment_id, {})
        finally:
            merged.unpersist()
    finally:
        inc_df.unpersist()
        sh.unpersist()


def delete_from_index(
    spark,
    docs: DataFrame,
    path: str,
    increment_id: str | None = None,
) -> bool:
    """Remove documents from the text near-dup index WITHOUT rewriting
    its artifacts (round-14 verdict task 2 — the missing leg of takedown
    / right-to-be-forgotten: the serving indexes could forget since
    round 13, but a taken-down doc kept matching future ingests here as
    "already seen", silently suppressing legitimate re-ingest, and its
    fingerprints persisted forever). Generation-scoped tombstones, as in
    every index family:

    - ``docs`` carries a ``doc_id`` column (other columns are ignored).
      The asked ids resolve against current membership (live ``sizes``
      rows); the content hash each member stops matching is read from
      the stored ``hashes`` rows, which carry the doc_id.
    - one ``tombstones/gen=N`` artifact (doc_id, k) plus an atomic
      manifest append commits the delete; every probe masks covered rows
      by (id, generation).
    - generation-scoped ``max_gen`` cover: re-appending a deleted doc_id
      later works — the new generation is above the cover and matches
      normally. ``increment_id`` replays are committed no-ops (False);
      deleting non-members is a no-op that does NOT consume the id.
    - compaction applies tombstones physically and retires the fully
      absorbed ones; the stored per-gram df of a deleted doc's
      UNDER-CAP grams is subtracted from its physically-present
      postings at fold time, while its contribution to an already-
      over-cap gram's df is unrecoverable (those postings were never
      written) — the folded df is a documented UPPER bound, which can
      only cap a gram the rebuild would have left uncapped: a
      performance heuristic erring conservative, never a membership
      error.

    Cost: delete-sized membership/hash-resolution probes + one
    delete-sized write — never an artifact rewrite. Concurrent appends
    are fenced exactly as in the lexical/ANN deletes (round-14 advice):
    an append committing between membership resolution and the manifest
    commit aborts the delete loudly for a re-run."""
    import os

    man = commit.load_manifest(path)
    applied = commit.applied_deletes(man)
    if increment_id is not None and increment_id in applied:
        return False
    want = docs.select(F.col("doc_id").cast("long").alias("doc_id")).distinct()
    tomb_now = generations.tombstones(spark, path, man, "doc_id")
    member = (
        generations.mask(
            generations.read(spark, path, "sizes", man["generations"], _SIZES_SCHEMA),
            tomb_now,
            "base_id",
        )
        .select(F.col("base_id").alias("doc_id"))
        .distinct()
        .join(want, "doc_id", "left_semi")
    )
    # one tombstone row per (member, stored content hash): a doc whose
    # generations hold different texts stops matching under every hash
    stored_k = (
        generations.mask(
            generations.read(spark, path, "hashes", man["generations"], _HASHES_SCHEMA),
            tomb_now,
            "doc_id",
        )
        .select("doc_id", "k")
        .join(member, "doc_id", "left_semi")
        .distinct()
    )
    tomb_rows = member.join(stored_k, "doc_id", "left").localCheckpoint(
        eager=True
    )
    if tomb_rows.limit(1).count() == 0:
        return False
    gen = commit.claim_generation(path)
    tomb_rows.select("doc_id", "k").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "tombstones", f"gen={gen}"))
    return commit.commit_delete(
        path, man, gen, increment_id, {}, "delete_from_index"
    )


def compact_index(
    spark, path: str, max_generations_to_fold: int | None = None
) -> int:
    """Fold committed generations — the maintenance step that completes
    the index lifecycle (build -> append* -> compact). Nightly appends
    accumulate one generation per increment; probes union every
    generation's artifacts, so a year of appends means ~365 scans per
    probe plus dead postings (grams that crossed the df-cap keep their
    pre-crossing postings on disk, excluded only by the ledger
    anti-join). Compaction rewrites the index FROM THE INDEX — no base
    text is ever re-shingled.

    **Full fold** (``max_generations_to_fold=None``, the default):

    - hashes / sizes: unions of the generations;
    - gramdf: per-gram SUM across generations (the true cumulative df);
    - capped: recomputed from the summed df (supersedes the ledger);
    - grams: union of postings with capped grams' dead postings
      PHYSICALLY dropped.

    **Tiered fold** (``max_generations_to_fold=K``, round-11 verdict
    task 5): a full fold rewrites the WHOLE index — measured 97.5 s at
    g64/sf0.1 vs the ANN fold's 6.3 s (SCALE_STRESS.json) — so at 100 TB
    the nightly maintenance window would grow with INDEX size. Folding
    only the NEWEST ``K`` listed generations (the small nightly
    increments, LSM-style) bounds the fold by recent-increment volume;
    repeated nightly folds geometrically merge older tiers because the
    previous fold is itself the newest listed generation next time.
    The partial fold is a pure rewrite of the folded slice:

    - hashes / sizes / gramdf: unions/sums of the FOLDED generations
      only (per-generation partial dfs stay partial — their total is
      unchanged, which is all appends' cumulative-df lookup reads);
    - capped: the folded generations' ledger entries are PRESERVED
      verbatim (a crossing recorded there still excludes older,
      unfolded generations' physically-present postings — recomputing
      from the folded slice alone would lose that);
    - grams: folded postings minus the GLOBAL capped set (physically
      dropping rows every probe anti-joins away is free parity-wise).

    Probe-parity is exact in both modes: the folded index answers
    identically to the pre-fold one (and the full fold to a rebuild).
    Commit discipline matches append: the folded artifacts land in a
    FRESH generation number and the atomic manifest replace flips the
    folded entries to just that one (unfolded entries keep their place,
    order preserved). The OLD generation dirs are deliberately left on
    disk — an in-flight reader that loaded the pre-flip manifest (e.g.
    a stream probe mid-scan) is still reading them, so deleting here
    would fail it with FileNotFound mid-query. They are now unlisted
    (no new reader opens them) and ``vacuum_index``'s age-based sweep
    removes them once older than the vacuum horizon — the same
    reader-grace discipline as sinks.vacuum_versions. Returns the new
    generation number. Applied increment_ids are preserved in the
    manifest under ``compacted_increments`` so append idempotence
    survives compaction."""
    man = commit.load_manifest(path)
    max_df = man["max_df"]
    fold_entries, keep_entries = commit.split_fold_slice(
        man["generations"], max_generations_to_fold
    )
    full = not keep_entries
    # tombstones (round-14 deletes) apply PHYSICALLY at fold time: the
    # folded slice lands under a NEW generation number above every
    # cover, so a covered row carried through would un-mask — covered
    # rows are dropped from the rewrite instead (commit_fold retires the
    # tombstones the fold absorbs). The deleted docs' per-gram df is
    # subtracted from their physically-present (under-cap) postings; an
    # already-over-cap gram's contribution is unrecoverable, leaving
    # that df a documented upper bound (see delete_from_index).
    tomb = generations.tombstones(spark, path, man, "doc_id")
    gen = commit.claim_generation(path)

    def folded(artifact: str, schema: str) -> DataFrame:
        return generations.read(spark, path, artifact, fold_entries, schema)

    hashes = generations.mask(
        folded("hashes", _HASHES_SCHEMA), tomb, "doc_id"
    ).select("k", "doc_id")
    sizes = generations.mask(
        folded("sizes", _SIZES_SCHEMA), tomb, "base_id"
    ).select("base_id", "sz_b")
    grams_raw = folded("grams", _GRAMS_SCHEMA)
    grams = generations.mask(grams_raw, tomb, "base_id")
    gramdf = (
        folded("gramdf", _GRAMDF_SCHEMA)
        .groupBy("g", "gb")
        .agg(F.sum("df").alias("df"))
        .select("g", "df", "gb")
    )
    if tomb is not None:
        # subtract the deleted docs' recoverable gram occurrences (their
        # physically-present postings in the folded slice) from the
        # folded df sums; rows hitting zero drop out entirely
        removed = (
            generations.mask(grams_raw, tomb, "base_id", how="left_semi")
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("rm"))
        )
        gramdf = (
            gramdf.join(removed, "g", "left")
            .select(
                "g",
                (F.col("df") - F.coalesce(F.col("rm"), F.lit(0))).alias("df"),
                "gb",
            )
            .filter(F.col("df") > 0)
        )
    # The capped (over-df-cap) gram set grows with corpus VOCABULARY —
    # heavy hitters accumulate forever — so a forced broadcast of it is
    # an unbounded driver/executor-memory object at 100 TB (the same
    # round-10 fix append_to_index got; round-12 verdict task 4 removes
    # the last two). No hint: AQE picks broadcast while the set is
    # actually small and degrades to a shuffled anti-join when it isn't.
    if full:
        if max_df is not None:
            capped = gramdf.filter(F.col("df") > max_df).select("g")
            grams = grams.join(capped, "g", "left_anti")
        else:
            capped = gramdf.filter(F.lit(False)).select("g")
    else:
        # preserve the folded slice's ledger; drop postings dead under
        # the GLOBAL ledger (safe: probes anti-join the global union)
        capped = folded("capped", _CAPPED_SCHEMA).select("g").distinct()
        global_capped = generations.read(
            spark, path, "capped", man["generations"], _CAPPED_SCHEMA
        ).select("g")
        grams = grams.join(global_capped, "g", "left_anti")
    _write_generation(
        path,
        gen,
        hashes=hashes,
        grams=grams.select("base_id", "g", "gb"),
        sizes=sizes,
        gramdf=gramdf,
        capped=capped,
    )
    commit.commit_fold(
        path, man, gen, fold_entries, keep_entries, {}, "compact_index"
    )
    return gen


def classify_batch_vs_index(
    spark,
    batch: DataFrame,
    path: str,
    threshold: float = 0.8,
) -> DataFrame:
    """``classify_batch`` probing the persisted index instead of
    re-shingling the base — identical output for the index's build-time
    ``max_df`` (parity pinned in tests/test_incremental_index.py and the
    ``a0d_incremental_index`` oracle query).

    Round 16 (guide §1.2/§2.3): ONE persisted batch pass — (doc_id,
    md5, shingles) via ``_keyed_shingles`` — feeds the exact probe, the
    near probe, and the classification spine; previously each of the
    three re-synthesized/re-scanned the batch. Registered with the
    active ``probe_cache_scope`` like the probe-side caches it
    replaces."""
    from pyspark.storagelevel import StorageLevel

    man = commit.load_manifest(path)
    bk = _keyed_shingles(batch, int(man["ngram"])).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _register_probe_cache(bk)
    exact = exact_dups_vs_index(
        spark, batch, path, keyed=bk.select("doc_id", "k")
    ).withColumn("_e", F.lit(1))
    near = (
        near_dups_vs_index(
            spark, batch, path, threshold, shingled=bk.select("doc_id", "shingles")
        )
        .select("doc_id")
        .distinct()
        .withColumn("_n", F.lit(1))
    )
    return (
        bk.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("category"),
        )
    )


def classify_batch(
    batch: DataFrame,
    base: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Every batch row tagged: 'exact_dup' | 'near_dup' | 'new'.

    ``max_df`` defaults ON (10_000) like dedup.ngram_jaccard_pairs — pass
    ``None`` only for an uncapped exact baseline on bounded corpora.

    Exact wins over near (an exact dup is trivially also a near dup);
    near means "no byte-identical base doc, but a Jaccard match".
    """
    exact = exact_dups_vs_base(batch, base).withColumn("_e", F.lit(1))
    near = (
        near_dups_vs_base(batch, base, threshold, max_df)
        .select("doc_id")
        .distinct()
        .withColumn("_n", F.lit(1))
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_e").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_n").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("category"),
        )
    )

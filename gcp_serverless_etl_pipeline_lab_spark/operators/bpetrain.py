"""Distributed BPE merge training — learn a byte-pair-encoding merge
table FROM the corpus (the training counterpart of the BPE-style
pre-tokenizer accounting in harness/text.py, which only counts with a
fixed regex).

Classic BPE (Sennrich et al., arXiv:1508.07909) alternates: count
adjacent symbol-pair frequencies over the corpus, merge the most
frequent pair everywhere, repeat. The Spark shape keeps every heavy step
distributed and bounded:

- the corpus collapses ONCE to a (word, count) table — one shuffle over
  words, after which training cost is independent of corpus size (the
  standard trick: pair counts are word-count-weighted, so a 100 TB
  corpus trains on its distinct-word table, usually a few million rows);
- each round: adjacent pairs explode map-side from the symbol arrays,
  one partially-aggregated groupBy(pair) shuffle, and a SINGLE-ROW
  collect of the argmax pair (deterministic tie-break: highest count,
  then lexicographic (a, b)) — the same bounded driver-gate class as the
  quality gates;
- the winning merge applies map-side via one array fold per word
  (greedy leftmost, merged tokens immediately eligible for the next
  fold step — exactly reference BPE's apply order), and the word table
  is lineage-truncated per round (localCheckpoint) so n rounds cost n
  bounded plans, not one exponentially-nested one.

Determinism: no RNG anywhere, ties broken lexicographically — the
DuckDB oracle (harness/text.py a0f_bpe_train_merges) unrolls the same
rounds in SQL (string-accumulator list_reduce fold) and must produce
the identical merge table, counts included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import commit
from ..functions.local_frames import literal_frame

# split a word into characters (unicode-aware on both engines)
_CHARS = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"

# adjacent symbol pairs; sequence(1, 0) is DESCENDING in Spark, hence the
# size guard (same trap as functions/text.word_ngrams_sql)
_PAIRS = (
    "IF(size(syms) >= 2,"
    " transform(sequence(1, size(syms) - 1),"
    "           j -> struct(element_at(syms, j) AS a, element_at(syms, j + 1) AS b)),"
    " CAST(array() AS array<struct<a: string, b: string>>))"
)

# greedy leftmost merge of (ma, mb) -> ma||mb over the symbol array; the
# merged token becomes the fold's new tail immediately, so 'a a a' under
# merge (a, a) yields ['aa', 'a'] — reference BPE's apply order. ma/mb
# are OUTER columns (from a broadcast 1-row frame), not string literals,
# so corpus text can contain quotes/backslashes without escaping games.
_APPLY = (
    "aggregate(syms, CAST(array() AS array<string>),"
    " (acc, s) -> IF(size(acc) > 0 AND element_at(acc, -1) = ma AND s = mb,"
    "                concat(slice(acc, 1, size(acc) - 1), array(concat(ma, mb))),"
    "                concat(acc, array(s))))"
)

# does the symbol array contain (ma, mb) ADJACENT? — the touched-word
# predicate of the delta rounds. Guarded: sequence(1, 0) is DESCENDING in
# Spark, so single-symbol words must short-circuit before the sequence.
_HAS_PAIR = (
    "size(syms) >= 2 AND exists(sequence(1, size(syms) - 1),"
    " j -> element_at(syms, j) = ma AND element_at(syms, j + 1) = mb)"
)


def _checkpointed_rdd_id(df: DataFrame) -> int | None:
    """Persisted-block id of an eager ``localCheckpoint`` result,
    captured from the frame ITSELF: the checkpointed Dataset's analyzed
    plan is the LogicalRDD wrapping exactly the RDD that
    ``localCheckpoint`` pinned, so its ``rdd().id()`` is the block
    store handle. Direct capture (round-11 advice) — the previous
    getPersistentRDDs set-diff could claim an RDD persisted by a
    CONCURRENT thread/stream between snapshot and diff, and unpersisting
    a localCheckpoint someone else still references destroys it
    (lineage is truncated; the victim job fails). Returns None if the
    internal shape ever changes — callers then skip freeing (a bounded
    leak, never a kill)."""
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None


def _unpersist_rdd_ids(sc, ids: set[int]) -> None:
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        jrdd = jmap.get(i)
        if jrdd is not None:
            jrdd.unpersist(False)


def word_symbol_table(corpus: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, syms array<string>, cnt) — the distinct-word training table
    BPE rounds iterate on. One corpus shuffle, ever."""
    return (
        corpus.select(
            F.explode(F.split(F.col(text_col), " ", -1)).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", F.expr(_CHARS).alias("syms"), "cnt")
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, w): corpus-weighted adjacent-pair counts of a word table —
    partially aggregated map-side before the one pair shuffle."""
    return (
        words.select("cnt", F.explode(F.expr(_PAIRS)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("w"))
    )


def train_bpe_merges(
    corpus: DataFrame,
    n_merges: int = 16,
    min_pair_count: int = 2,
    text_col: str = "text",
    incremental: bool | None = None,
    round_stats: list | None = None,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` merges; returns [(left, right,
    pair_count)] in merge order. Stops early when the best remaining
    pair's corpus count drops below ``min_pair_count`` (merging noise
    pairs buys nothing).

    ``incremental=True`` (round-10 verdict task 3) is the classic delta
    update: between rounds only words whose symbol arrays contain the
    merged pair change, so the pair-count table is maintained by
    SUBTRACTING the touched words' old pairs and ADDING their re-folded
    ones — the per-round explode/shuffle tracks TOUCHED-WORD mass (a
    shrinking fraction as merges specialize; only a cheap map-side
    predicate still scans every word), where the full recount
    re-explodes every word every round. The argmax is still one
    single-row collect per round, off the maintained table. Counts are
    integers, so delta maintenance is EXACT — both spellings return the
    identical merge table (pinned by tests and by the unchanged
    a0f_bpe_train_merges oracle). Default ``None`` auto-routes: delta
    for deep trainings (n_merges >= 32, real vocabularies), recount for
    shallow ones where the delta's extra per-round bookkeeping costs
    more than the recount saves (measured ~2.4 s vs ~0.6 s fixed
    per-round overhead on a trivial corpus).

    ``round_stats`` (instrumentation, off by default — it adds a count
    job per round): appends one dict per merge round with the round's
    wall seconds, winning pair count, and touched-word count (delta
    mode) — the evidence that per-round cost follows touched mass."""
    import time as _time

    if incremental is None:
        incremental = n_merges >= 32
    spark = corpus.sparkSession
    sc = spark.sparkContext

    # Superseded checkpoint housekeeping (round-11 verdict task 6): every
    # round eager-localCheckpoints fresh frames and each round's inputs
    # derive ONLY from the latest checkpoints, but localCheckpoint pins
    # its blocks until session end — across 256 delta rounds the
    # accumulated storage was measured as the 0.84->3.3 s late-round
    # creep in the x10 bpe_delta_merges256 stress. Each checkpoint's own
    # persisted-RDD id is captured directly off the frame
    # (_checkpointed_rdd_id — never a global set-diff, so concurrent
    # persists in the same session are untouchable) and the previous
    # round's batch is freed once the new one is materialized.
    def _free(ids: set[int]) -> None:
        _unpersist_rdd_ids(sc, ids)

    words = word_symbol_table(corpus, text_col).localCheckpoint(eager=True)
    # the delta rounds rebuild words as union(untouched, folded) with no
    # shuffle in between, which would DOUBLE the partition count every
    # round (2^n tasks by round n) — pin it to the table's own width
    n_part = max(words.rdd.getNumPartitions(), 1)
    merges: list[tuple[str, str, int]] = []
    pc = _pair_counts(words).localCheckpoint(eager=True) if incremental else None
    _live = {_checkpointed_rdd_id(words)}
    if pc is not None:
        _live.add(_checkpointed_rdd_id(pc))
    _live.discard(None)
    for _ in range(n_merges):
        _t0 = _time.perf_counter()
        top = (
            (pc if incremental else _pair_counts(words))
            .orderBy(F.desc("w"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["w"] < min_pair_count:
            break
        a, b, w = top[0]["a"], top[0]["b"], int(top[0]["w"])
        merges.append((a, b, w))
        merge_row = literal_frame(spark, "ma string, mb string", [(a, b)])
        if incremental:
            # ONE V-sized pass per round: evaluate the touched predicate
            # and the guarded fold together and checkpoint old+new syms
            # side by side; `words` is then a NARROW projection of the
            # checkpointed frame (no second scan, no union — a union
            # spelling also doubled the partition count every round, and
            # a lazy checkpoint here let the thrice-referenced RDD DAG
            # grow exponentially: measured 437 s vs 8 s for 16 rounds).
            # old_syms kept ONLY for touched rows (the delta subtraction
            # needs them; untouched rows would double the checkpointed
            # array bytes for nothing — the early rounds' dominant cost)
            combined = (
                words.crossJoin(F.broadcast(merge_row))
                .withColumn("touched", F.expr(_HAS_PAIR))
                .select(
                    "word",
                    F.expr("IF(touched, syms, NULL)").alias("old_syms"),
                    F.expr(f"IF(touched, {_APPLY}, syms)").alias("syms"),
                    "cnt",
                    "touched",
                )
                .coalesce(n_part)
                .localCheckpoint(eager=True)
            )
            touched = combined.filter("touched")
            # delta: -old pairs of touched words, +their re-folded pairs;
            # integer arithmetic, so the maintained table equals a fresh
            # recount exactly. Zero-count rows are dropped to keep the
            # argmax input tight (the merged pair itself always hits 0:
            # greedy leftmost removes every (a,b) adjacency it walks).
            delta = _pair_counts(
                touched.select(
                    "word",
                    F.col("old_syms").alias("syms"),
                    (-F.col("cnt")).alias("cnt"),
                )
            ).unionByName(_pair_counts(touched.select("word", "syms", "cnt")))
            pc = (
                pc.unionByName(delta)
                .groupBy("a", "b")
                .agg(F.sum("w").alias("w"))
                .filter(F.col("w") > 0)
                .localCheckpoint(eager=True)
            )
            words = combined.select("word", "syms", "cnt")
            _new = {
                _checkpointed_rdd_id(combined),
                _checkpointed_rdd_id(pc),
            }
        else:
            words = (
                words.crossJoin(F.broadcast(merge_row))
                .select("word", F.expr(_APPLY).alias("syms"), "cnt")
                .localCheckpoint(eager=True)
            )
            _new = {_checkpointed_rdd_id(words)}
        # this round's checkpoints are materialized (eager) and every
        # later round derives only from them — the previous batch's
        # blocks are dead weight from here on
        _new.discard(None)
        _free(_live)
        _live = _new
        if round_stats is not None:
            entry = {
                "round": len(merges),
                "pair_count": w,
                "sec": round(_time.perf_counter() - _t0, 3),
            }
            if incremental:
                # instrumentation-only extra job, run AFTER the timed
                # round body (touched's input is already checkpointed,
                # so this is one cheap predicate scan)
                entry["touched_words"] = touched.count()
            round_stats.append(entry)
    _free(_live)  # the final round's tables — nothing reads them again
    return merges


def save_bpe_model(
    merges: list[tuple[str, str, int]],
    path: str,
    meta: dict | None = None,
) -> None:
    """Persist a trained merge table as a JSON artifact — the tokenizer
    twin of the index manifests (atomic replace commit; readers load
    either the old or the new model, never a torn one). ``meta`` rides
    along for provenance (corpus snapshot id, n_merges, min_pair_count)."""
    import json

    commit.replace(
        path,
        json.dumps(
            {
                "version": 1,
                "merges": [[a, b, w] for a, b, w in merges],
                "meta": meta or {},
            }
        ),
    )


def load_bpe_model(path: str) -> list[tuple[str, str, int]]:
    """Merge table back from a ``save_bpe_model`` artifact, in training
    order (apply order is part of BPE's contract)."""
    import json

    with open(path) as fh:
        blob = json.load(fh)
    return [(a, b, int(w)) for a, b, w in blob["merges"]]


def tokenize_counts_with_stored_model(
    corpus: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-row BPE token COUNTS from a stored model — the counts-only
    serving twin of ``tokenize_with_stored_model`` (round-15
    optimization, guide §1.2: don't compute what you throw away). A word
    tokenizes identically wherever it occurs, so the DISTINCT-word table
    is folded once (V × merges interpreted-HOF work instead of
    occurrences × merges) and per-word token counts broadcast-join back
    to the exploded occurrences; each row's count is the sum over its
    words. Rows whose text has no non-empty word have no occurrence rows
    and drop out — the same inner-join semantics the count consumers
    (and their oracles) already use. Output: (``id_col``,
    ``n_tokens`` bigint). Callers that need the token STREAM itself keep
    ``tokenize_with_stored_model``."""
    merges = load_bpe_model(path)
    spark = corpus.sparkSession
    # explicit width: AQE would coalesce the byte-small distinct-word
    # shuffle to ~1 partition, serializing the CPU-bound fold (same
    # rationale as _apply_bpe_join_back)
    words = (
        corpus.select(
            F.explode(F.split(F.col(text_col), " ", -1)).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
        .select("word", F.expr(_CHARS).alias("syms"))
    )
    counts = apply_merges_to_word_table(words, merges).select(
        "word", F.size("syms").alias("_n_tok")
    )
    occ = corpus.select(
        id_col, F.explode(F.split(F.col(text_col), " ", -1)).alias("word")
    ).filter(F.col("word") != "")
    # Broadcast hint gated on source size (ADVICE r15): the per-word
    # count table is vocabulary-sized, which is unbounded in principle —
    # a forced broadcast of a billion-word vocabulary would OOM where a
    # plain shuffle join succeeds. The corpus's on-disk footprint
    # upper-bounds the vocabulary's, so hint only when the whole source
    # is comfortably broadcastable; otherwise let AQE pick the strategy
    # from the aggregate's real size.
    from ..functions.scan_meta import source_bytes

    src_bytes = source_bytes(corpus)
    if src_bytes is not None and src_bytes < 256 << 20:
        counts = F.broadcast(counts)
    return occ.join(counts, "word").groupBy(id_col).agg(
        F.sum("_n_tok").cast("bigint").alias("n_tokens")
    )


def tokenize_with_stored_model(
    corpus: DataFrame, path: str, text_col: str = "text"
) -> DataFrame:
    """Train-once-tokenize-many: apply a persisted merge table to a
    corpus (``apply_bpe_merges`` semantics — greedy leftmost per word,
    merges in training order, map-side only). The artifact is tiny
    driver-side state; nothing about the corpus is read to load it, so
    tokenization cost is one map-side pass regardless of where or when
    the model was trained."""
    return apply_bpe_merges(corpus, load_bpe_model(path), text_col)


# fold the WHOLE merge table over one word's syms inside a single
# expression: the outer aggregate walks the merges (column `mt`, an
# array<struct<a,b>> from a broadcast 1-row frame — no literal escaping
# games), the inner aggregate is _APPLY's greedy-leftmost fold with the
# pair taken from the outer lambda's struct. Constant plan size at ANY
# merge depth — the alternative chained spelling adds one join+HOF node
# per merge and sinks in Catalyst analysis long before data cost.
_APPLY_ALL = (
    "aggregate(mt, syms, (cur, mm) -> aggregate(cur,"
    " CAST(array() AS array<string>),"
    " (acc, s) -> IF(size(acc) > 0 AND element_at(acc, -1) = mm.a AND s = mm.b,"
    "                concat(slice(acc, 1, size(acc) - 1), array(concat(mm.a, mm.b))),"
    "                concat(acc, array(s)))))"
)


def apply_merges_to_word_table(
    words: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    checkpoint_every: int | None = 64,
    single_pass: bool | None = None,
) -> DataFrame:
    """Fold a merge table into a (word, syms, ...) table — one greedy
    fold per DISTINCT word per merge. This is the cheap spelling for
    anything that doesn't need per-occurrence token STREAMS: tokenizing
    a corpus occurrence-by-occurrence (apply_bpe_merges) folds every
    word occurrence, which is interpreted-HOF-bound and ~L× more work
    than folding the distinct-word table and joining counts back
    (measured 12.4 s vs 4.5 s for the sf0.1 compression report).

    Two spellings, identical output (parity pinned in
    tests/test_bpe_train.py):

    - **single-pass** (default, round-12 verdict task 3): the ENTIRE
      merge table rides one broadcast array<struct> column and a nested
      ``aggregate`` HOF folds it per word — ONE job, constant plan size
      at any depth, zero checkpoints, zero per-merge driver round-trips.
      The per-element work is the same interpreted fold the chained
      spelling runs; what disappears is everything around it. Measured
      (SCALE_STRESS.json ``bpe_deep_apply``, 1024 merges, warm
      min-of-2): **3.9 / 9.6 / 27.4 s at 20k/60k/200k distinct words**
      — linear in vocabulary — vs the chunked per-merge loop's
      299.6/311.5/530.7 s on the same corpora (77x at x1). Cold-start
      (round-13 re-measurement, retracting round 12's ambient-inflated
      "~80 s" reading): a fresh session's first run pays ~5 s of
      compile/codegen, DEPTH-INDEPENDENT (4.9 s at 64 merges vs 5.1 s
      at 1024 on the same table — the merge table is broadcast DATA,
      not plan nodes, so plan size is constant and a segmented fold has
      nothing to bound; a chained 4x256-segment spelling measured
      warm-identical, 3.9 vs 3.4 s). SCALE_STRESS.json bpe_deep_apply
      records ``cold_first_run_sec`` each round.
    - **chunked-chained** (``single_pass=False``): one join+HOF plan
      node per merge, TRUNCATED with an eager localCheckpoint every
      ``checkpoint_every`` merges (round-11 task 2) so Catalyst analysis
      stays bounded however deep the table; superseded chunk
      checkpoints are freed as the fold advances. Kept as the
      measurement baseline and for callers that want bounded-size plans
      WITHOUT a broadcast merge table in flight."""
    if single_pass is None:
        single_pass = True
    spark = words.sparkSession
    if single_pass:
        # JVM literal struct-array (functions.local_frames discipline): a
        # Python-backed 1-row frame would pay a Python-worker round trip
        # on every broadcast build of the merge table
        mt = (
            F.array(
                *[
                    F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                    for a, b, *_ in merges
                ]
            )
            if merges
            else F.expr("CAST(array() AS array<struct<a: string, b: string>>)")
        )
        mframe = spark.range(1).select(mt.alias("mt"))
        return (
            words.crossJoin(F.broadcast(mframe))
            .withColumn("syms", F.expr(_APPLY_ALL))
            .drop("mt")
        )
    sc = spark.sparkContext
    out = words
    live: set[int] = set()
    for i, (a, b, *_) in enumerate(merges):
        mrow = literal_frame(spark, "ma string, mb string", [(a, b)])
        out = (
            out.crossJoin(F.broadcast(mrow))
            .withColumn("syms", F.expr(_APPLY))
            .drop("ma", "mb")
        )
        if (
            checkpoint_every
            and (i + 1) % checkpoint_every == 0
            and (i + 1) < len(merges)
        ):
            out = out.localCheckpoint(eager=True)
            new = {_checkpointed_rdd_id(out)} - {None}
            _unpersist_rdd_ids(sc, live)
            live = new
    return out


DEEP_APPLY_THRESHOLD = 64


def apply_bpe_merges(
    corpus: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    via_word_table: bool | None = None,
    row_id_col: str | None = None,
) -> DataFrame:
    """Tokenize ``corpus`` with a learned merge table: every word splits
    to characters, then each merge applies in training order (greedy
    leftmost per word — the standard BPE apply). Returns one row per
    input row: (original columns..., tokens array<string>, n_tokens).

    Two spellings, auto-routed on merge depth (round-11 verdict task 2):

    - **chained** (``via_word_table=False``; default below
      ``DEEP_APPLY_THRESHOLD`` merges): merges fold into ``len(merges)``
      chained map-side array expressions — no shuffle, no Python, the
      right shape for shallow tables and for STREAMING tokenization
      (plan pinned shuffle-free in tests/test_plans_round10.py). But the
      plan grows one join+HOF node per merge and the fold work is
      occurrences × merges: at a real 10k-50k-merge vocabulary the
      expression tree alone sinks it (analysis/codegen cost grows with
      plan size; measured unusable ≥1024 merges — scripts/scale_stress
      bpe_deep_apply).
    - **join-back** (``via_word_table=True``; default at or above the
      threshold): a word always tokenizes identically, so fold the
      DISTINCT-word table (depth-bounded via apply_merges_to_word_table's
      chunked checkpoints), then join token arrays back to occurrences
      and reassemble each row's stream as the in-order flatten of its
      words' arrays. Work: V × merges folds + one occurrence-sized
      join/regroup — vs occurrences × merges folds. Row-identical to the
      chained spelling (parity pinned by tests/test_bpe_train.py).

    ``row_id_col``: the join-back regroup needs a unique per-row key —
    pass one if the corpus has it (e.g. doc_id); otherwise one is
    derived and PINNED with an eager localCheckpoint
    (monotonically_increasing_id alone is not stable across stage
    retries, and the id frame is referenced by two plan branches)."""
    if via_word_table is None:
        via_word_table = len(merges) >= DEEP_APPLY_THRESHOLD
    if via_word_table:
        return _apply_bpe_join_back(corpus, merges, text_col, row_id_col)
    spark = corpus.sparkSession
    # apply per-WORD, not across a flattened stream (merges must not
    # bridge word boundaries) — fold at word granularity, flatten last
    out = corpus.withColumn(
        "_words", F.expr(f"filter(split({text_col}, ' ', -1), w -> w != '')")
    ).withColumn("_syms", F.expr(f"transform(_words, word -> {_CHARS})"))
    for a, b, *_ in merges:
        mrow = literal_frame(spark, "ma string, mb string", [(a, b)])
        out = out.crossJoin(F.broadcast(mrow)).withColumn(
            "_syms",
            F.expr("transform(_syms, syms -> " + _APPLY + ")"),
        ).drop("ma", "mb")
    return (
        out.withColumn("tokens", F.expr("flatten(_syms)"))
        .withColumn("n_tokens", F.size("tokens"))
        .drop("_words", "_syms")
    )


def _apply_bpe_join_back(
    corpus: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str,
    row_id_col: str | None,
) -> DataFrame:
    """The deep-table tokenization path (see apply_bpe_merges): fold
    distinct words, join arrays back, flatten in word order."""
    orig_cols = list(corpus.columns)
    rid = row_id_col
    base = corpus
    if rid is None:
        rid = "_bpe_rid"
        # pin the generated ids: the frame is consumed by BOTH the
        # occurrence explode and the final join-back, and a stage retry
        # could otherwise hand the two branches different ids
        base = corpus.withColumn(
            rid, F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
    base = base.withColumn(
        "_words", F.expr(f"filter(split({text_col}, ' ', -1), w -> w != '')")
    )
    # pin the fold's width to the session's core count: the distinct's
    # shuffle output is BYTE-small (short words), so AQE coalesces it to
    # ~1 partition — but the per-merge HOF folds are CPU-per-ROW bound,
    # and a single-partition word table serializes the whole fold onto
    # one core (measured 40 s/chunk single-task vs seconds wide)
    spark = corpus.sparkSession
    words = (
        base.select(F.explode("_words").alias("word"))
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
        .select("word", F.expr(_CHARS).alias("syms"))
    )
    folded = apply_merges_to_word_table(words, merges).select(
        "word", F.col("syms").alias("_toks")
    )
    occ = base.select(rid, F.posexplode("_words").alias("_pos", "word"))
    # struct sort key: _pos leads, so the collected arrays flatten back
    # in document order; _pos is unique per row, so the sort is total
    per_row = (
        occ.join(folded, "word")
        .groupBy(rid)
        .agg(
            F.flatten(
                F.expr(
                    "transform(array_sort(collect_list(struct(_pos, _toks))),"
                    " s -> s._toks)"
                )
            ).alias("tokens")
        )
    )
    out = (
        base.drop("_words")
        .join(per_row, rid, "left")
        .withColumn(
            "tokens",
            F.coalesce("tokens", F.expr("CAST(array() AS array<string>)")),
        )
        .withColumn("n_tokens", F.size("tokens"))
    )
    return out.select(*orig_cols, "tokens", "n_tokens")

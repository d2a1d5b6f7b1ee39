"""Deduplication operators for large-scale training-data pipelines.

Five detectors, all declarative DataFrame plans (no Python UDFs anywhere):

- exact          : content-hash groupBy (md5 of full text)
- ngram_jaccard  : exact word-n-gram Jaccard via explode + equi-join
- minhash_lsh    : MinHash signatures + banded LSH candidate generation,
                   then exact-Jaccard verification of candidates only
- simhash        : 60-bit SimHash + pigeonhole chunk blocking, then exact
                   Hamming verification of candidates only
- embedding      : cosine near-dup over an embedding column, blocked by a
                   coarse partition (label) so the pair space stays bounded

Scale design (100 TB):
- Signatures (minhash/simhash/fingerprints) are computed map-side as array
  expressions over each row — no shuffle until candidates are generated.
- Candidate generation shuffles only (band_key) / (chunk_key) pairs — tiny
  compared to the corpus — and verification touches candidate pairs only.
  This is the standard sub-quadratic LSH layout; the all-pairs joins in
  `ngram_jaccard` exist as the exact baseline and are documented as
  corpus-bounded.
- The 60-bit hash primitive is MD5-based ONLY so the DuckDB oracle can
  reproduce it bit-for-bit (functions.hashing); swap h60_sql for xxhash64
  in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60_sql
from ..functions.text import word_ngrams_sql


def _barrier(df: DataFrame) -> DataFrame:
    """Exchange barrier that stops Catalyst's CollapseProject from inlining
    an expensive column expression into a downstream higher-order-function
    lambda, where it would be RE-EVALUATED ON EVERY LAMBDA ITERATION.

    Concretely: computing a 60-bit SimHash over a materialized token-hash
    column takes ~4 s at sf0.1; letting CollapseProject inline the token
    hashing into the per-bit vote lambda recomputes ~95 MD5s × 60 bits per
    row and takes 154 s (measured). The repartition is a tiny shuffle of
    signature-width rows and also rebalances the corpus for the candidate
    join that follows."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _nn(col: F.Column) -> F.Column:
    """Mark a derived, never-actually-null JOIN KEY as non-nullable.

    An equi-join adds an implicit ``isnotnull(key)`` predicate, and
    PushDownPredicates rewrites it through every exchange/alias down to the
    scan — re-materializing the key's ENTIRE defining expression (here: the
    full signature pipeline, with the HOF-inlining blowup re-introduced) as
    a per-row scan filter. ``coalesce(expr, sentinel)`` has
    ``nullable=false``, so Catalyst folds the isnotnull away and nothing is
    pushed. Measured on dedup_simhash at sf0.1: 174 s → seconds. All 60-bit
    hash keys are >= 0, so -1 is a safe sentinel."""
    return F.coalesce(col, F.lit(-1))


def exact_dup_pairs(corpus: DataFrame, ordered: bool = True) -> DataFrame:
    """Exact dedup: rows whose full text is byte-identical. First-wins by
    doc_id; returns (kept_id, dropped_id) pairs.

    At scale this is one hash-partitioned shuffle on md5(text) — the
    cheapest possible dedup; run it before any near-dup pass.

    ``ordered=False`` skips the final global sort — for consumers that
    re-shuffle anyway (e.g. cluster resolution), the sort's range-partition
    sampling pass would recompute the upstream subtree for nothing."""
    keyed = corpus.select("doc_id", F.md5("text").alias("k"))
    kept = keyed.groupBy("k").agg(F.min("doc_id").alias("kept_id"))
    out = (
        keyed.join(kept, "k")
        .filter(F.col("doc_id") != F.col("kept_id"))
        .select("kept_id", F.col("doc_id").alias("dropped_id"))
    )
    return out.orderBy("kept_id", "dropped_id") if ordered else out


MINHASH_PRIME = 2_147_483_647  # 2^31 - 1; (a*h + b) stays in signed 64-bit


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_s, b_s) for the MinHash
    family h_s(x) = (a_s * (h60(x) % P) + b_s) % P. Derived from MD5 in
    Python so the DuckDB oracle can embed the identical literals. One real
    MD5 per shingle + 15 affine transforms beats 16 MD5s per shingle ~10×
    (MessageDigest.getInstance per call dominates Spark's md5())."""
    import hashlib

    out = []
    for s in range(num_hashes):
        a = int(hashlib.md5(f"mh-a|{s}".encode()).hexdigest()[:15], 16)
        b = int(hashlib.md5(f"mh-b|{s}".encode()).hexdigest()[:15], 16)
        out.append((a % (MINHASH_PRIME - 1) + 1, b % MINHASH_PRIME))
    return out


def _with_tokens(corpus: DataFrame) -> DataFrame:
    """doc_id + materialized token array BEHIND A BARRIER, so downstream
    n-gram lambdas reference a column attribute instead of inlining
    split(text) and re-splitting on every lambda iteration (measured: the
    redundant splits were ~60 core-seconds at sf0.1, the single biggest
    cost of the whole shingle pipeline)."""
    return _barrier(
        corpus.select("doc_id", F.expr("split(text, ' ', -1)").alias("t"))
    )


def _with_shingles(corpus: DataFrame, n: int = 3) -> DataFrame:
    return _with_tokens(corpus).select(
        "doc_id", F.expr(word_ngrams_sql("t", n)).alias("shingles")
    )


def cap_document_frequency(grams: DataFrame, max_df: int) -> DataFrame:
    """Drop (doc_id, g) rows whose gram appears in more than ``max_df``
    documents — the standard heavy-hitter guard before a shingle self-join
    (an ultra-common shingle shared by 1 M docs is a 10¹²-row join).

    The hot-gram list is aggregated with map-side partial counts (one
    (g, count) row per gram reaches the shuffle) and is small by
    construction — at most total_gram_occurrences / max_df entries — so it
    broadcasts, and the anti-join adds NO extra shuffle of the gram table.
    Expects one row per (doc, gram), i.e. per-doc-distinct grams.

    Kept as the standalone guard for callers that need a capped gram
    STREAM; ``ngram_jaccard_pairs`` itself no longer uses it — its single
    groupBy(g) plan gets the cap for free as a filter on the aggregated
    per-gram doc list."""
    hot = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("g")
    )
    return grams.join(F.broadcast(hot), "g", "left_anti")


def ngram_jaccard_pairs(
    corpus: DataFrame,
    threshold: float = 0.8,
    max_df: int | None = 10_000,
    ordered: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (the ground-truth baseline
    MinHash approximates). One groupBy(gram) builds the sorted per-gram doc
    list; ordered pairs are then STREAMED out of each list with two chained
    generators (posexplode → slice-explode) and counted per pair — no
    self-join, so the tokenize→shingle→explode subtree is computed exactly
    once for the pair side (plus once for the union sizes), not once per
    join alias. (Round 2 shipped a self-join spelling whose df-cap subtree
    was recomputed per alias — 4.4× slower; this plan replaces it.)

    Cost is Σ_gram docs(gram)²; ``max_df`` bounds it by dropping grams
    shared by more than ``max_df`` docs — here a free ``size(ds) <=
    max_df`` filter on the very aggregate that builds the doc lists (no
    second aggregation, no anti-join), capping pair fan-out at
    max_df²/2 · |grams| rows. Union sizes stay computed on the FULL shingle
    sets, so the cap's only error mode is FALSE NEGATIVES — and for pairs
    that still pass the threshold, the reported ``jaccard`` is a LOWER
    BOUND (the capped intersection count divides full-set union sizes);
    recompute exact Jaccard on survivors if the value itself matters.
    At 100 TB run `minhash_lsh_pairs` for discovery and keep this (with a
    cap) for candidate verification. The cap DEFAULTS ON (``max_df=10_000``
    — a gram shared by 10k+ docs carries no near-dup signal, only cost);
    pass ``max_df=None`` explicitly to get the uncapped exact baseline,
    which is Σ_gram df² and must never ship as a scale default.

    Skew note: a gram at the cap explodes to ≤ max_df ordered-pair rows per
    list element via the chained generators — each output row is built by
    streaming, never a single max_df²-element array in one row.

    Round-15 optimization (guide §2.3/§2.4): the full shingle-set size
    rides the gram stream as one extra int per (doc, gram) row instead of
    being computed in a second shingle pass and joined back twice. That
    removes ONE whole corpus tokenize+n-gram projection (the `sizes`
    branch used to re-evaluate the ngram transform above the shared token
    exchange) and BOTH post-aggregation size joins (each an exchange of
    the pair table plus an exchange of the size table) — the union-size
    denominators now come out of the pair aggregation itself via
    ``first()``, which is exact because sza/szb are constant per pair
    group. Plan: 5 exchanges → 3; measured 7.0 s → (see
    OPTIMIZATION_r15.md) on dedup_ngram_jaccard at sf0.1.

    ``shingles``: callers composing several shingle consumers over the
    same corpus (a0d_novelty_survivors: edge detection + novelty scoring)
    pass one materialized (doc_id, shingles) frame so the corpus is
    tokenized/n-grammed once for all of them."""
    sh = shingles if shingles is not None else _with_shingles(corpus)
    grams = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("g")
    )
    per_gram = grams.groupBy("g").agg(
        F.sort_array(F.collect_set(F.struct("doc_id", "sz"))).alias("ds")
    )
    if max_df is not None:
        per_gram = per_gram.filter(F.size("ds") <= max_df)
    # Ordered pairs (ds[i], ds[j]) with i < j: posexplode yields doc_a with
    # its position, the second generator explodes the tail slice — both are
    # streaming generators, so a hot gram never materializes its full
    # quadratic pair array in a single row. sort_array orders the structs
    # by doc_id (unique within a gram), so pair orientation doc_a < doc_b
    # is preserved exactly as with the bare-id spelling.
    heads = per_gram.filter(F.size("ds") >= 2).select(
        "ds", F.posexplode("ds").alias("p", "a")
    )
    pairs = heads.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.sz").alias("sza"),
        F.explode(F.expr("slice(ds, p + 2, size(ds) - p - 1)")).alias("b"),
    ).select(
        "doc_a", "sza", F.col("b.doc_id").alias("doc_b"), F.col("b.sz").alias("szb")
    )
    inter = pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("i"),
        F.first("sza").alias("sza"),
        F.first("szb").alias("szb"),
    )
    out = (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out.orderBy("doc_a", "doc_b") if ordered else out


def minhash_lsh_pairs(
    corpus: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs with exact verification.

    1. signature: one 60-bit base hash per shingle, h = h60(shingle) % P,
       then a universal affine family mh[s] = min over shingles of
       (a_s * h + b_s) % P with per-slot coefficients from
       ``minhash_params`` (one real MD5 per shingle + cheap affine
       transforms, ~10× cheaper than num_hashes MD5s per shingle). The
       mins come from a map-side partial aggregation, so only one
       signature row per doc reaches the shuffle;
    2. banding: rows = num_hashes/bands consecutive minhashes hash to one
       band key; docs sharing any (band, key) bucket become candidates —
       the only corpus-wide shuffle, on tiny (band, key) tuples;
    3. verification: exact Jaccard on the candidates' shingle sets.
    """
    rows_per_band = num_hashes // bands
    sh = _barrier(_with_shingles(corpus))
    # Signature via explode + codegen'd hash columns + ONE aggregation that
    # yields both the 16 minhashes AND the doc's hashed shingle set (for
    # verification) — no second pass over the corpus. (The array-expression
    # spelling — transform(sequence, s -> array_min(transform(...))) — is
    # shuffle-free but runs INTERPRETED and measured several times slower;
    # min()/collect_set partial-aggregate map-side, so the shuffle carries
    # one signature row per doc — scale-safe.)
    grams = sh.select("doc_id", F.explode("shingles").alias("g"))
    params = minhash_params(num_hashes)
    hashed = grams.select(
        "doc_id", F.expr(h60_sql("g")).alias("hraw")
    ).select(
        "doc_id",
        "hraw",
        *[
            F.expr(
                f"({a}L * (hraw % {MINHASH_PRIME}) + {b}L) % {MINHASH_PRIME}"
            ).alias(f"h{s}")
            for s, (a, b) in enumerate(params)
        ],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{s}").alias(f"m{s}") for s in range(num_hashes)],
        F.collect_set("hraw").alias("hset"),
    )
    band_keys = [
        _nn(
            F.expr(
                h60_sql(
                    "concat_ws(',', "
                    + ", ".join(
                        f"cast(m{b * rows_per_band + j} AS string)"
                        for j in range(rows_per_band)
                    )
                    + ")"
                )
            )
        ).alias(f"bk{b}")
        for b in range(bands)
    ]
    stack = ", ".join(f"{b}, bk{b}" for b in range(bands))
    keyed = sig.select("doc_id", *band_keys).select(
        "doc_id", F.expr(f"stack({bands}, {stack}) AS (b, bk)")
    )
    a, k2 = keyed.alias("a"), keyed.alias("b2")
    cand = (
        a.join(
            k2,
            (F.col("a.b") == F.col("b2.b"))
            & (F.col("a.bk") == F.col("b2.bk"))
            & (F.col("a.doc_id") < F.col("b2.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b"))
        .distinct()
    )
    # Verification on the 60-bit hashed sets: integer intersection (cheap)
    # with the same cardinalities as the string sets unless two distinct
    # shingles collide in 60 bits (odds ~|grams|^2 / 2^61 — negligible; the
    # string-based oracle would surface it as a mismatch).
    x = sig.select(F.col("doc_id").alias("doc_a"), F.col("hset").alias("sh_a"))
    y = sig.select(F.col("doc_id").alias("doc_b"), F.col("hset").alias("sh_b"))
    verified = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("i"),
            F.size("sh_a").alias("sza"),
            F.size("sh_b").alias("szb"),
        )
        .withColumn(
            "jaccard",
            F.round(F.col("i").cast("double") / (F.col("sza") + F.col("szb") - F.col("i")), 4),
        )
    )
    return (
        verified.filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def simhash_pairs(
    corpus: DataFrame, sig_bits: int = 60, max_hamming: int = 5, chunks: int = 6
) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signature over distinct word bigrams,
    pigeonhole chunk blocking (hamming <= chunks-1 is guaranteed to share a
    chunk), exact Hamming verification.

    The signature is again a per-row array expression (token hashes are
    computed once, then 60 majority votes over bit lanes); only the
    (chunk_idx, chunk_value) keys shuffle."""
    chunk_bits = sig_bits // chunks
    # `t` is a materialized column (see _with_tokens), so the lambda's
    # element_at calls are cheap attribute lookups, not re-splits.
    bigrams = (
        "IF(size(t) >= 2, "
        "array_distinct(transform(sequence(1, size(t) - 1), "
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))), "
        "CAST(array() AS array<string>))"
    )
    # Signature via explode + 60 per-bit vote aggregates, all whole-stage
    # codegen with map-side partial sums (same rationale as minhash above:
    # the nested-aggregate array expression is interpreted and was the #1
    # hot spot in the whole suite). Docs with zero bigrams (<2 tokens) drop
    # out at the explode — they can't meaningfully pair; the oracle filters
    # them explicitly (len(grams) > 0) because its per-bit list_sum([])
    # would otherwise collapse every empty doc to signature 0 and pair them
    # all at hamming 0.
    th = _with_tokens(corpus).select("doc_id", F.explode(F.expr(bigrams)).alias("g"))
    hashed = th.select("doc_id", F.expr(h60_sql("g")).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(sig_bits)
        ]
    )
    sig_expr = " + ".join(
        f"IF(v{b} >= 0, {1 << b}L, 0L)" for b in range(sig_bits)
    )
    sig = votes.select("doc_id", _nn(F.expr(sig_expr)).alias("sh"))
    keyed = sig.select(
        "doc_id",
        "sh",
        F.explode(F.expr(f"sequence(0, {chunks - 1})")).alias("j"),
    ).withColumn("ck", F.expr(f"shiftright(sh, j * {chunk_bits}) & {2 ** chunk_bits - 1}"))
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.sh").alias("sha"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.sh").alias("shb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sha ^ shb)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def cosine_candidate_pairs(
    vectors: DataFrame,
    dim: int,
    tables: int = 1,
    planes_per_table: int | None = None,
    probe_hamming: int = 1,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for cosine near-dup detection: same
    `label` block AND sign-LSH buckets within Hamming distance 1.

    The default (``tables=1``, 8 planes, ``probe_hamming=1``) is the
    oracle-mirrored near-dup configuration documented below. The three
    knobs escalate RECALL for retrieval-shaped workloads where true
    neighbors are far (θ/π ≈ 0.4 — the regime where the near-dup config's
    recall collapses by design):

    - ``tables`` > 1 switches to L independent narrow hash tables
      (`mlsh` plane family, shared with similarity.lsh_topk_multitable);
      a pair is a candidate on a bucket-or-adjacent match in ANY table.
      Per-pair recall is 1 - (1 - p)^L for per-table probe mass p, so
      narrow tables multiply recall where a single wide table prunes
      everything (the far regime).
    - ``planes_per_table`` sets table width P (probe mass per table
      ~(1 + P + ...)/2^P of the block).
    - ``probe_hamming`` extends the multiprobe radius (masks with up to
      that many bits; radius 1 = the classic adjacent-bucket probe).

    Multi-table configs dedup candidate pairs across tables
    (``.distinct()``); the single-table path keeps its dedup-free plan at
    EVERY probe radius (each pair matches exactly one XOR mask — m =
    b_a XOR b_b is unique — so widening the radius only widens the mask
    list, never duplicates a pair) and keeps the oracle-reproducible
    ``lsh`` plane family, so the DuckDB twin of any single-table radius
    is just ``bit_count(xor(bkt_a, bkt_b)) <= h``. Only ``tables > 1``
    or a non-default table width switches to the independent ``mlsh``
    family.

    The bucket is the deterministic 8-plane sign projection shared with
    similarity.lsh_topk (hashlib-seeded hyperplanes, reproducible in the
    DuckDB oracle). Multiprobe: the probe side explodes each row to its
    bucket XOR {masks with <= probe_hamming bits} — 9 slim (id, label,
    bucket) rows at the default radius 1, 93 at radius 3 — so the join
    finds exactly the pairs with hamming(bucket_a, bucket_b) <=
    probe_hamming. Embeddings never ride through the explode.

    Exposed separately so tests can assert the candidate count stays far
    below |block|² on a skewed block: unrelated vectors collide with
    probability ~(1+8)/256 ≈ 3.5% per pair, which is what defuses a hot
    label."""
    from .similarity import NUM_PLANES, _bucket_expr

    if planes_per_table is None:
        planes_per_table = NUM_PLANES
    if tables != 1 or planes_per_table != NUM_PLANES:
        return _multitable_candidate_pairs(
            vectors, dim, tables, planes_per_table, probe_hamming
        )

    # Coalesce sentinels: see _nn — keep the implicit isnotnull(join key)
    # from re-materializing the 8-plane projection as a pushed-down scan
    # filter. Sentinels differ per SIDE (-1 vs -2^20, chosen so no XOR mask
    # can make them collide with each other or with a real 0..255 bucket),
    # so a null bucket — null or shorter-than-dim embedding — never pairs,
    # matching the oracle's NULL-never-matches semantics.
    cells = vectors.select(
        "vec_id",
        "label",
        F.expr(_bucket_expr("embedding", dim)).alias("bkt_raw"),
    )
    a = cells.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.coalesce("bkt_raw", F.lit(-1)).alias("bkt"),
    )
    import itertools

    masks = [0]
    for h in range(1, probe_hamming + 1):
        for bits in itertools.combinations(range(NUM_PLANES), h):
            masks.append(sum(1 << b for b in bits))
    probe = cells.select(
        F.col("vec_id").alias("id_b"),
        "label",
        F.explode(F.array(*[F.lit(m) for m in masks])).alias("m"),
        F.coalesce("bkt_raw", F.lit(-(1 << 20))).alias("bkt0"),
    ).select(
        "id_b", "label", F.expr("CAST(bkt0 ^ m AS BIGINT)").alias("bkt")
    )
    return (
        a.join(probe, ["label", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def _multitable_candidate_pairs(
    vectors: DataFrame,
    dim: int,
    tables: int,
    planes_per_table: int,
    probe_hamming: int,
) -> DataFrame:
    """Escalated candidate generation (see cosine_candidate_pairs): L
    independent P-plane sign-LSH tables, multiprobe radius h within each;
    a pair is a candidate iff some table's buckets are within Hamming h.
    Same scale shape as the default path — only slim
    (id, label, table, bucket) rows shuffle, embeddings never ride the
    explode — plus one dedup shuffle on the (usually small) pair set."""
    import itertools

    from .similarity import _bucket_expr_table

    masks = [0]
    for h in range(1, probe_hamming + 1):
        for bits in itertools.combinations(range(planes_per_table), h):
            masks.append(sum(1 << b for b in bits))

    bucket_cols = [
        F.expr(_bucket_expr_table("embedding", dim, t, planes_per_table)).alias(
            f"_b{t}"
        )
        for t in range(tables)
    ]
    cells = vectors.select("vec_id", "label", *bucket_cols)
    # per-side null sentinels as in the default path: a null bucket (null
    # or short embedding) must never pair, and coalesce keeps the join key
    # non-nullable so the isnotnull predicate isn't pushed down as a
    # re-materialized projection scan filter (see _nn).
    stack_a = ", ".join(f"{t}, coalesce(_b{t}, -1)" for t in range(tables))
    a = cells.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.expr(f"stack({tables}, {stack_a}) AS (t, bkt)"),
    )
    stack_b = ", ".join(f"{t}, coalesce(_b{t}, {-(1 << 20)})" for t in range(tables))
    probe = (
        cells.select(
            F.col("vec_id").alias("id_b"),
            "label",
            F.expr(f"stack({tables}, {stack_b}) AS (t, bkt0)"),
        )
        .select(
            "id_b",
            "label",
            "t",
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("m"),
            "bkt0",
        )
        .select(
            "id_b", "label", "t", F.expr("CAST(bkt0 ^ m AS BIGINT)").alias("bkt")
        )
    )
    return (
        a.join(probe, ["label", "t", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def embedding_cosine_pairs(
    vectors: DataFrame, dim: int, threshold: float = 0.99
) -> DataFrame:
    """Embedding cosine near-dup pairs, blocked by the coarse `label`
    partition (IVF-cell analogue) AND sub-bucketed within each block by
    deterministic sign-LSH (see cosine_candidate_pairs), so one hot label
    cannot recreate the corpus-quadratic all-pairs join. Candidates are
    verified with the exact dot product; input (vec_id, embedding, label)
    must be unit-norm so cosine == dot.

    Like minhash_lsh_pairs' banding, candidate generation is deterministic
    and mirrored bit-for-bit by the oracle, so engine and oracle agree
    value-for-value even though the blocking is approximate. Recall: a pair
    at angle θ is separated by each plane with probability θ/π; at the
    threshold boundary (cos = 0.99 → θ ≈ 0.1415, θ/π ≈ 0.045) the
    hamming ≤ 1 probe keeps P(candidate) = (1-q)^8 + 8q(1-q)^7 ≈ 0.95,
    rising to ~1 for true duplicates (θ → 0). A hot bucket now requires
    vectors that are genuinely mutually near-parallel — an irreducible
    output, not a skew artifact.

    A 2-D quantized-projection grid (exact, Lipschitz cells) was measured
    first and rejected: unit-vector projections concentrate as 1/sqrt(dim),
    so at embedding dims every vector lands within ±1 cell of every other
    and the "guard" prunes nothing. Sign bits are scale-free in dim.

    At 100 TB blocks come from a trained coarse quantizer (k-means
    centroids); here `label` stands in as that assignment."""
    v = vectors.select("vec_id", "label", "embedding")
    cand = cosine_candidate_pairs(v, dim)
    ea = v.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    eb = v.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    # reduce(zip_with(...)) — fastest measured dot spelling, bit-identical
    # fold order (see similarity._dot)
    dot = F.expr(
        "reduce(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .withColumn("cos", F.round(dot, 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    )


def gram_novelty(
    corpus: DataFrame, n: int = 3, shingles: DataFrame | None = None
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word n-grams whose FIRST occurrence in corpus order (minimum doc_id
    over the whole corpus) is the doc itself. 1.0 = every gram is new to
    the corpus at this doc; 0.0 = pure recombination of earlier text.
    The gram-level counterpart of near-dup detection — boilerplate and
    template families score near 0 without any pairwise comparison — and
    a standard curriculum/quality signal for training-data selection
    (prefer high-novelty docs when deduplicating by cluster, downweight
    low-novelty tails).

    Returns (doc_id, n_grams, n_novel, novelty) for every doc with at
    least one gram (docs shorter than ``n`` tokens have no grams and no
    row — they carry no signal either way).

    Shape chosen for scale: ONE corpus-wide shuffle — groupBy(gram) with
    map-side partial MIN (no per-pair fan-out, so no df-cap is needed;
    a gram shared by 1M docs still reduces to one row) — then the novel
    counts are a tiny aggregate over the one-row-per-gram frame, joined
    back to per-doc sizes on doc_id. No gram-level join-back: novelty
    never touches the exploded frame twice.

    Round-15 optimization: the shingle frame is localCheckpoint-ed before
    its two consumers. Without the truncation, PushDownPredicates drives
    the `n_grams > 0` filter through the projection and exchange down to
    the scan, re-materializing the whole n-gram pipeline (split inlined
    per element) as a per-row scan filter, and the `first` branch
    re-evaluates the ngram transform a second time — measured 5.3 s vs
    1.5 s at sf0.1 for the same results (a second exchange instead of the
    checkpoint did NOT dedupe the branches: 5.4 s, exchange reuse never
    fired). The checkpoint is a shingle-frame-sized materialization —
    the same bound as build_base_index's persist; callers that already
    hold a materialized (doc_id, shingles) frame pass it via
    ``shingles`` and skip the extra copy (a0d_novelty_survivors shares
    one across edge detection and scoring). A shared frame fixes the
    gram width at ITS build-time n, so the frame is checked against
    ``n``: one gram is read back and its token count compared (a
    mismatch raises — silently wrong novelty otherwise, ADVICE r15).
    Grams join their ``n`` tokens with single spaces, so the count is
    exact even for empty tokens."""
    if shingles is not None:
        one = (
            shingles.select(F.explode("shingles").alias("g")).limit(1).collect()
        )
        if one and len(one[0]["g"].split(" ")) != n:
            raise ValueError(
                "gram_novelty: the `shingles` frame holds "
                f"{len(one[0]['g'].split(' '))}-grams but n={n}; pass the n "
                "the frame was built with"
            )
    sh = (
        shingles
        if shingles is not None
        else _with_shingles(corpus, n).localCheckpoint(eager=True)
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("n_grams")).filter(
        F.col("n_grams") > 0
    )
    first = (
        sh.select("doc_id", F.explode("shingles").alias("g"))
        .groupBy("g")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        sizes.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)).cast("double") / F.col("n_grams"), 4
            ).alias("novelty"),
        )
    )

"""Deduplication operators (LLM-data-pipeline extensions).

Four families, each with its 100 TB story:

- **Exact** (`dedup_exact`): hash-groupBy on content. One shuffle on
  the md5 fingerprint (not the full text — 32-byte keys, not KB-size),
  min-id as survivor. Linear scale-out.
- **N-gram Jaccard** (`jaccard_pairs`, `jaccard_pairs_prefix`): exact
  pairwise similarity. Both ride the PREFIX-FILTER candidate
  generator (round-10): candidates form only in the inverted index of
  each doc's rarest few shingles, so cost is candidate-bound, not
  all-pairs — near-linear at high thresholds on realistic dup rates.
  The historical all-pairs inverted-index form survives privately as
  `_jaccard_pairs_allpairs` for pytest parity only.
- **MinHash + LSH** (`minhash_signatures`, `minhash_lsh_pairs`):
  64-perm signatures via seeded xxhash64 min-aggregation, banded
  (default 8 bands × 8 rows) — candidate pairs only where a band collides. This
  is the scale path: cost ~ O(docs × shingles) + O(collisions), no
  all-pairs term.
- **SimHash** (`simhash_pairs`): 64-bit sign-sum sketch in 4×16-bit
  chunks; pigeonhole banding (hamming ≤ 3 ⟹ ≥ 1 equal chunk) finds
  candidates, exact hamming via bit_count(xor) filters.

Embedding near-dup (`embedding_dup_pairs`) lives here too: brute-force
all-pairs cosine (exact, verifiable) with the LSH-bucketed variant in
``operators/similarity.py`` as the approximate scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.functions.text import (
    fingerprint,
    shingle_expr,
    tokens,
)
from realtime_analytics_pipeline_spark.functions.vectors import as_double, dot, unit


def _pair_join_partitions(df: DataFrame) -> int:
    """Parallelism pin for compute-bound pair joins (ADVICE r08).

    Derived from ``spark.sql.shuffle.partitions`` so cluster sizing
    flows through (a 1000-executor cluster sets it in the thousands),
    with a floor of 64 so small local configs still spread the
    per-row fan-out. The EXPLICIT numPartitions is the point: an
    exchange with user-specified numPartitions is exempt from AQE's
    byte-based partition coalescing, which would otherwise squash a
    join whose shuffled rows are tiny but whose per-row compute is
    huge (levenshtein / array_intersect per candidate) onto 1-2 tasks
    — measured 58 s single-threaded at sf0.3 before the pin.
    """
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = 64
    return max(n, 64)


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup: group identical texts, keep the smallest doc_id.

    Shuffles on the md5 fingerprint; carrying the fingerprint rather
    than the text through the exchange keeps shuffle volume flat even
    for multi-KB documents.
    """
    return (
        documents.select(
            F.col("doc_id"), fingerprint("text").alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("doc_id", "fp", "dup_count")
    )


def _salted_pairs(
    buckets: DataFrame,
    key_cols: list[str],
    id_col: str = "doc_id",
    splits: int = 32,
) -> DataFrame:
    """Skew-proof self-join: all (a < b) pairs sharing the key columns.

    A naive self-join on a hot key (one LSH bucket holding most docs —
    exactly what boilerplate-heavy corpora produce) lands every pair in
    ONE task. Salting: b-side gets chunk = hash(id) % splits; a-side
    replicates once per partner-chunk; the join key grows by the chunk
    column, spreading the hot bucket over ``splits`` tasks. Output rows
    are identical to the naive join.
    """
    a = buckets.select(
        *key_cols,
        F.col(id_col).alias("doc_a"),
        F.explode(
            F.sequence(F.lit(0), F.lit(splits - 1)).cast("array<int>")
        ).alias("partner_chunk"),
    )
    b = buckets.select(
        *[F.col(k).alias(f"_b_{k}") for k in key_cols],
        F.col(id_col).alias("doc_b"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(splits))
        .cast("int")
        .alias("chunk"),
    )
    cond = (F.col("partner_chunk") == F.col("chunk")) & (
        F.col("doc_a") < F.col("doc_b")
    )
    for k in key_cols:
        cond = cond & (F.col(k) == F.col(f"_b_{k}"))
    return a.join(b, cond).select("doc_a", "doc_b")


def _doc_shingles(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) distinct pairs + per-doc set size.

    Measured r13 note: a spread() scan floor here was tried and
    REVERTED — the shingle pass is cheap per row (one split + slice
    per shingle), every consumer references this frame twice (df-freq
    agg + join back), and the added Exchange deepened the already
    exchange-heavy prefix-filter plans for a net LOSS (jaccard family
    ×1.45 at sf0.1, A/B in OPTIMIZATION_r13.md). The heavy per-row
    passes that DO profit from the floor (duplicate_spans window
    hashes, simhash bit-sums, md5 signature derivation) spread at
    their own call sites."""
    toks = documents.select(
        "doc_id", tokens("text").alias("toks")
    ).select("doc_id", shingle_expr("toks", n).alias("shingles"))
    exploded = toks.select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("shingle")
    )
    return exploded


def _per_doc_shingle_arrays(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, sz, shingles) with shingles in the global canonical
    (document-frequency ASC, shingle) order the prefix filter needs.
    Shuffles: shingle-df agg + join back + per-doc array build."""
    sh = _doc_shingles(documents, n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("ord_fs"),
            F.count(F.lit(1)).alias("sz"),
        )
        .select(
            "doc_id",
            "sz",
            F.expr("transform(ord_fs, x -> x.shingle)").alias("shingles"),
        )
    )


def _prefix_candidate_pairs(
    per_doc: DataFrame, num: int, den: int
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs (a < b) containing EVERY pair
    with Jaccard ≥ num/den, via prefix filtering over ``per_doc`` from
    :func:`_per_doc_shingle_arrays`.

    Prefix-filter principle (public all-pairs similarity-join
    literature — the SSJoin/PPJoin family): if J(a,b) ≥ t then
    |a∩b| ≥ ⌈t·|a|⌉, so the intersection cannot avoid a's first
    |a| − ⌈t·|a|⌉ + 1 shingles in the canonical order — any qualifying
    pair shares a shingle between the two PREFIXES. Frequency-
    ascending ordering makes prefix shingles the rarest ones, so
    inverted lists stay short even on boilerplate-heavy corpora. A
    size filter (t·max ≤ min, integer cross-multiplied) prunes
    further. ``num == 0`` degrades gracefully to the full inverted
    index (prefix = whole doc, size filter never binds).
    """
    prefix_len = f"sz - ((sz * {num} + {den - 1}) div {den}) + 1"
    prefix = per_doc.select(
        "doc_id",
        "sz",
        F.explode(F.expr(f"slice(shingles, 1, {prefix_len})")).alias(
            "shingle"
        ),
        # pin the candidate-join parallelism: prefix rows are tiny but
        # each shared shingle fans out into candidate pairs — AQE's
        # byte-based coalescing would serialize the join (same trap as
        # edit_distance_banded; an explicit numPartitions exchange is
        # exempt from coalescing)
    ).repartition(_pair_join_partitions(per_doc), "shingle")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "shingle"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "shingle"
    )
    return (
        a.join(b, "shingle")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.greatest("sz_a", "sz_b") * num
                <= F.least("sz_a", "sz_b") * den
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
        # the verify join downstream does an array_intersect per
        # candidate — compute-bound again; keep it spread
        .repartition(_pair_join_partitions(per_doc), "doc_a")
    )


def jaccard_pairs(
    documents: DataFrame, n: int = 1, threshold: float = 0.9
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity for all pairs ≥ threshold.

    Round-10: candidates now come from the PREFIX FILTER
    (:func:`_prefix_candidate_pairs`) instead of the full inverted
    shingle self-join — the O(docs-per-shingle²) term is gone from
    the library's default path, and the sweep alpha matches
    ``jaccard_pairs_prefix``. Output is UNCHANGED (doc_a, doc_b,
    jaccard rounded 6; pair set identical to the historical all-pairs
    form, which survives as ``_jaccard_pairs_allpairs`` for pytest
    parity):

    - the emitted pass test is the same float expression
      ``round(inter/union, 6) >= threshold``;
    - because rounding can promote a pair whose TRUE Jaccard is up to
      5e-7 below the threshold, candidate generation runs at the
      RELAXED exact fraction ``threshold − 1e-6`` — every pair the
      float test can accept satisfies J ≥ t − 5e-7 > t − 1e-6, so the
      relaxed prefix filter provably loses none of them.
    """
    from fractions import Fraction

    relaxed = Fraction(str(threshold)) - Fraction(1, 1_000_000)
    if relaxed < 0:
        relaxed = Fraction(0)
    per_doc = _per_doc_shingle_arrays(documents, n)
    cands = _prefix_candidate_pairs(
        per_doc, relaxed.numerator, relaxed.denominator
    )
    fa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    fb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard_pairs_allpairs(
    documents: DataFrame, n: int = 1, threshold: float = 0.9
) -> DataFrame:
    """Historical all-pairs inverted-index form of :func:`jaccard_pairs`
    — kept PRIVATE as the pytest parity reference (the public function
    now routes through the prefix filter; tests assert the two emit
    identical rows). Not on any gated or swept path.
    """
    sh = _doc_shingles(documents, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # plain self-join: with a vocabulary of many shingles the join key
    # distributes on its own (measured: salting this join is ~1.8x
    # SLOWER — the replication tax without a single dominant bucket;
    # salting pays off only for the LSH/simhash bucket joins where one
    # bucket can hold most docs)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs_prefix(
    documents: DataFrame, n: int = 1, threshold: float = 0.9
) -> DataFrame:
    """Exact n-gram-set Jaccard ≥ threshold via PREFIX FILTERING — the
    scale-exact form of ``jaccard_pairs``: identical pair set, but
    candidates form only in the inverted index of each doc's RAREST
    few shingles instead of all of them.

    Prefix-filter principle (public all-pairs similarity-join
    literature — the SSJoin/PPJoin family): fix one global canonical
    shingle order (ascending document frequency, ties by shingle). If
    J(a,b) ≥ t then |a∩b| ≥ ⌈t·|a|⌉, so the intersection cannot avoid
    a's first |a| − ⌈t·|a|⌉ + 1 shingles in that order — any
    qualifying pair shares a shingle between the two PREFIXES. At
    t = 0.9 the prefix is ~10% of each doc, and frequency-ascending
    ordering makes prefix shingles the rarest ones, so inverted lists
    stay short even on boilerplate-heavy corpora (the hot common
    shingles never enter the index). A size filter (t·max ≤ min of
    the two set sizes, integer cross-multiplied) prunes further.
    Verification computes the exact intersection from the two full
    sorted shingle arrays.

    All arithmetic is integer end-to-end: the threshold test is
    ``inter·den ≥ union·num`` (threshold as an exact Fraction), and
    the emitted score is ``jaccard_ppm = (inter·1e6) div union`` — no
    float rounding anywhere, so the DuckDB oracle replays bit-for-bit.

    Scale shape: shuffles are (shingle-df agg) + (df join back) +
    (per-doc array build) + (prefix inverted join) + (verify join on
    candidate ids) — every one keyed, none quadratic; total work is
    near-linear in corpus size at high thresholds. This is the exact
    verifier to run at 100 TB; round-10, ``jaccard_pairs`` (the float
    form) rides the same candidate generator, so the library has no
    all-pairs Jaccard path left.

    Output: doc_a, doc_b (a < b), jaccard_ppm (BIGINT).
    """
    from fractions import Fraction

    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator
    per_doc = _per_doc_shingle_arrays(documents, n)
    cands = _prefix_candidate_pairs(per_doc, num, den)
    fa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    fb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .where(F.col("inter") * den >= F.col("uni") * num)
        .select(
            "doc_a",
            "doc_b",
            F.expr("(CAST(inter AS BIGINT) * 1000000) div uni").alias(
                "jaccard_ppm"
            ),
        )
    )


def overlap_pairs(
    documents: DataFrame, n: int = 1, threshold: float = 0.9
) -> DataFrame:
    """Exact overlap-coefficient pairs: |A∩B| / min(|A|,|B|) ≥ threshold.

    The CONTAINMENT signal Jaccard misses: a short document fully
    quoted inside a much longer one has low Jaccard (union is large)
    but overlap ≈ 1 — the subset-duplicate case in web corpora
    (boilerplate inclusion, quoted articles). Same inverted-index
    self-join plan shape as jaccard_pairs — pairs materialize only for
    docs sharing a shingle, sizes broadcast — so the same scale
    posture applies (gated form md5-capped; MinHash-LSH remains the
    100 TB candidate-generation path).
    Output: doc_a, doc_b (a < b), overlap (rounded 6).
    """
    sh = _doc_shingles(documents, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "overlap",
            F.round(
                F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")), 6
            ),
        )
        .where(F.col("overlap") >= threshold)
        .select("doc_a", "doc_b", "overlap")
    )


def minhash_signatures(
    documents: DataFrame, n: int = 1, num_perm: int = 64
) -> DataFrame:
    """MinHash signatures: sig[i] = min over shingles of
    xxhash64(i, shingle). One explode + one groupBy; the i-th
    permutation is the i-th seed column, all JVM-side."""
    from realtime_analytics_pipeline_spark.functions.scale import spread

    # r13: the 64-seed xxhash64 partial min-agg is the heavy map pass
    # of the LSH family, and one-row-group parquet leaves its scan
    # stage single-task. spread() HERE — at the heavy call site, not
    # inside the shared _doc_shingles (the batch-1 revert) — floors
    # its parallelism. Interleaved A/B at sf0.1: the unigram path
    # (hot buckets ⇒ the signature pass dominates) 15.6-18.4 s →
    # 5.9-6.8 s (×0.38) across two rounds; the 3gram headliner
    # unchanged within noise. min() is reduction-order-insensitive:
    # rows bit-identical.
    sh = spread(_doc_shingles(documents, n), "doc_id")
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    sigs = sh.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id", F.array(*[f"h{i}" for i in range(num_perm)]).alias("sig")
    )


def minhash_band_buckets(
    sigs: DataFrame, num_perm: int = 64, bands: int = 8
) -> DataFrame:
    """(doc_id, band, bucket) LSH band assignment over minhash
    signatures — the pair-forming key of minhash_lsh_pairs, exposed so
    its bucket-size distribution can be AUDITED before any pair join
    (the degenerate-block doctrine: a hot bucket hides a cross join
    inside a clean equi-join plan)."""
    rows_per_band = num_perm // bands
    band_cols = []
    for j in range(bands):
        slots = [
            F.col("sig").getItem(j * rows_per_band + k)
            for k in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(F.lit(j).alias("band"), F.xxhash64(*slots).alias("bucket"))
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 1,
    num_perm: int = 64,
    bands: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """LSH candidate generation + signature-estimated Jaccard.

    Bands of rows_per_band signature slots hash to a bucket; docs
    sharing any (band, bucket) become candidates; the estimate is the
    fraction of equal signature components. Output:
    doc_a, doc_b, est_jaccard.

    Band geometry: 8 bands × 8 rows puts the s-curve midpoint at
    (1/8)^(1/8) ≈ 0.77 — high recall at the 0.9 default threshold with
    half the candidate volume of 16×4 banding. Tune bands up (shorter
    rows) only when hunting lower-similarity pairs.
    """
    # r13: THREE consumers (band buckets + both broadcast join sides)
    # re-derived the 64-min xxhash64 aggregation — the expensive half
    # of the pipeline — and the formatted plan shows no exchange
    # reuse across the differing projections. Materialize the
    # num_docs×64-long signature table once (the shape a production
    # run persists anyway); rows bit-identical.
    sigs = minhash_signatures(documents, n, num_perm).localCheckpoint(
        eager=True
    )
    buckets = minhash_band_buckets(sigs, num_perm, bands)
    cands = _salted_pairs(buckets, ["band", "bucket"]).distinct()
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) "
        f"/ cast({num_perm} as double)"
    )
    # broadcast the signature table (num_docs × 64 longs — small next to
    # the candidate set): the wide candidate stream never shuffles.
    # At true 100 TB doc counts, flip to a shuffle join — candidates are
    # then sparse, so the economics invert.
    return (
        cands.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def minhash_incremental_candidates(
    corpus_buckets: DataFrame, batch_buckets: DataFrame
) -> DataFrame:
    """Incremental (daily-increment) LSH candidate generation: join
    the NEW batch's band buckets against the EXISTING corpus's
    PERSISTED band buckets (minhash_band_buckets output) on the
    (band, bucket) key only — no corpus text or signature is touched
    until a candidate forms. Output: distinct
    (batch_doc_id, corpus_doc_id).

    This is the production daily-increment shape at 100 TB: the
    corpus side is a bucket-keyed store maintained across increments
    (append the increment's buckets after dedup), the batch side is a
    map-only banding pass over the day's data, and the join is
    broadcast-able whenever the increment is small next to the corpus
    — the full-corpus re-LSH (minhash_lsh_pairs over old+new) never
    runs again after bootstrap."""
    cb = corpus_buckets.select(
        F.col("doc_id").alias("corpus_doc_id"), "band", "bucket"
    )
    bb = batch_buckets.select(
        F.col("doc_id").alias("batch_doc_id"), "band", "bucket"
    )
    return (
        bb.join(cb, ["band", "bucket"])
        .select("batch_doc_id", "corpus_doc_id")
        .distinct()
    )


def simhash_pairs(
    documents: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup: 64-bit sketch as 4×16-bit chunks.

    bit_b = sign of Σ_tokens (±1 by bit b of xxhash64(token));
    candidates via equal-chunk pigeonhole (hamming ≤ 3 ⟹ some chunk
    of 4 equal); exact hamming via bit_count(xor).
    """
    from realtime_analytics_pipeline_spark.functions.scale import spread

    # r13: spread the scan (one-row-group input ⇒ single-task scan
    # stage) so tokenize+hash+64 partial bit-sums run on every core;
    # integer sums are reduction-order-insensitive.
    tok = spread(documents, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(64)
        ]
    )
    chunk_exprs = []
    for c in range(4):
        terms = " + ".join(
            f"(CASE WHEN s{16 * c + k} > 0 THEN {1 << k} ELSE 0 END)"
            for k in range(16)
        )
        chunk_exprs.append(F.expr(terms).cast("long").alias(f"c{c}"))
    # r13: three consumers (pigeonhole chunks + both join sides) each
    # re-derived the full 64-sum sketch aggregation; materialize the
    # num_docs×4-long sketch table once (the shape a 100 TB run would
    # persist anyway) — localCheckpoint, the repo's standard
    # multi-consumer materialization.
    sketches = bit_sums.select("doc_id", *chunk_exprs).localCheckpoint(
        eager=True
    )

    chunks = sketches.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("idx"), F.col(f"c{c}").alias("val")
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "ch.idx", "ch.val")
    cands = _salted_pairs(chunks, ["idx", "val"]).distinct()
    ska = sketches.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"c{c}").alias(f"a{c}") for c in range(4)],
    )
    skb = sketches.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"c{c}").alias(f"b{c}") for c in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}"))) for c in range(4)
    )
    return (
        cands.join(F.broadcast(ska), "doc_a")
        .join(F.broadcast(skb), "doc_b")
        .withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine ≥ threshold.

    Exact all-pairs (broadcast one side) — the verifiable baseline.
    At 100 TB use the LSH-bucketed ANN in operators/similarity.py to
    generate candidates and this formula only on candidates.
    """
    # unit-normalize per vector (one-time) so each of the O(n²) pairs
    # costs a single dot product instead of dot + two norms
    e = embeddings.select(
        F.col("vec_id"), unit(as_double("embedding")).alias("v")
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(dot(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def decontaminate(
    documents: DataFrame,
    n: int = 3,
    eval_rate: float = 0.1,
    threshold: float = 0.5,
    salt: str = "decon",
) -> DataFrame:
    """Benchmark decontamination: per EVAL document, the max n-gram
    containment |eval ∩ train| / |eval| against any TRAIN document,
    and a contaminated flag (public technique — the n-gram-overlap
    decontamination used for LLM training corpora, e.g. GPT-3
    appendix C / The Pile).

    The eval split is the deterministic md5-bucket sample (same
    hash-fate machinery as the sampling operators), so the partition
    is reproducible across runs and engines. Overlap is mined with
    the same inverted-index join as jaccard_pairs: candidate pairs
    materialize ONLY for docs sharing a shingle, so cost scales with
    shared-shingle density, not |eval| × |train|. Eval docs with zero
    overlap are kept via left join (containment 0.0). Ties on max
    containment break to the smallest train doc id (deterministic)."""
    from pyspark.sql import Window

    from realtime_analytics_pipeline_spark.operators.sampling import (
        hash_bucket,
        threshold as bucket_threshold,
    )

    is_eval = hash_bucket("doc_id", salt) < F.lit(bucket_threshold(eval_rate))
    sh = _doc_shingles(documents, n)
    flagged = sh.withColumn("is_eval", is_eval)
    ev = flagged.where("is_eval").select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    tr = flagged.where(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    ev_sizes = ev.groupBy("eval_doc").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        ev.join(tr, "shingle")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    w = Window.partitionBy("eval_doc").orderBy(
        F.col("containment").desc(), F.col("train_doc").asc()
    )
    # ev_sizes/best scale with the eval split (no hard broadcast —
    # at 100 TB the eval set is not a dim table; AQE decides)
    best = (
        inter.join(ev_sizes, "eval_doc")
        .withColumn("containment", F.round(F.col("inter") / F.col("sz"), 6))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("eval_doc", "train_doc", "containment")
    )
    all_eval = documents.where(is_eval).select(
        F.col("doc_id").alias("eval_doc")
    )
    return (
        all_eval.join(best, "eval_doc", "left")
        .select(
            "eval_doc",
            "train_doc",
            F.coalesce("containment", F.lit(0.0)).alias("max_containment"),
            (F.coalesce("containment", F.lit(0.0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


def decontaminated_corpus_stats(
    documents: DataFrame,
    n: int = 3,
    eval_rate: float = 0.1,
    min_shared: int = 3,
    salt: str = "decon",
) -> DataFrame:
    """The decontamination REMOVAL pipeline, end to end: split the
    corpus (md5-bucket eval holdout), flag every TRAIN document that
    shares ≥ ``min_shared`` distinct n-gram shingles with ANY eval
    document, anti-join the dirty set away, and roll up what remains
    per source (kept/dropped doc counts + kept char mass).

    Same inverted-index core as ``decontaminate`` (pairs materialize
    only for shared shingles); the dirty-doc set is produced by an
    aggregation and removed with a LEFT ANTI join — no driver-side
    set, no broadcast of anything corpus-sized."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        hash_bucket,
        threshold as bucket_threshold,
    )

    is_eval = hash_bucket("doc_id", salt) < F.lit(bucket_threshold(eval_rate))
    sh = _doc_shingles(documents, n)
    flagged = sh.withColumn("is_eval", is_eval)
    ev = flagged.where("is_eval").select("shingle").distinct()
    tr = flagged.where(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    dirty = (
        tr.join(ev, "shingle")
        .groupBy("train_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
        .select("train_doc")
    )
    train = documents.where(~is_eval)
    kept = train.join(
        dirty, train["doc_id"] == dirty["train_doc"], "left_anti"
    )
    dropped = train.join(
        dirty, train["doc_id"] == dirty["train_doc"], "left_semi"
    )
    k = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("kept_chars"),
    )
    d = dropped.groupBy("source").agg(
        F.count(F.lit(1)).alias("dropped_docs")
    )
    return (
        k.join(d, "source", "full_outer")
        .select(
            "source",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.coalesce("kept_chars", F.lit(0)).alias("kept_chars"),
            F.coalesce("dropped_docs", F.lit(0)).alias("dropped_docs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Bloom-filter prescreen, banded edit-distance, MinHash calibration
# (round-6 additions — engine-portable md5 hashing so each ships a
# DuckDB oracle, unlike the xxhash64 sketches above)
# --------------------------------------------------------------------------

BLOOM_BITS = 4096
BLOOM_HASHES = 4


def _bloom_positions(col, prefix: str = ""):
    """The k=4 bit positions of a value: 16-bit md5 slices mod m.
    Pure expression — portable to the DuckDB oracle verbatim."""
    out = []
    for i in range(BLOOM_HASHES):
        h = F.md5(F.concat(F.lit(f"{prefix}{i}#"), col))
        out.append(
            (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
             % BLOOM_BITS).alias(f"pos{i}")
        )
    return out


def bloom_prescreen(
    index_docs: DataFrame, probe_docs: DataFrame
) -> DataFrame:
    """Broadcast-Bloom dedup prescreen: build a Bloom filter over the
    *index* corpus's exact-content keys, probe each candidate doc, and
    report both the Bloom verdict and ground truth.

    The 100 TB shape this models: the filter is ≤ BLOOM_BITS distinct
    bit rows (here 4096 — a real deployment sizes m to the key count),
    BROADCAST to every probe partition; probe docs never shuffle, the
    petabyte never moves, and only Bloom-positive survivors proceed to
    the (expensive, shuffling) exact join. False positives are the
    designed cost: `bloom_candidate` ⊇ `exact_dup`, never ⊂ — the
    output carries both flags so the FP rate is measurable.
    """
    bits = (
        index_docs.select(
            F.explode(F.array(*_bloom_positions(F.col("text")))).alias("pos")
        )
        .distinct()
    )
    probe_pos = probe_docs.select(
        "doc_id", *_bloom_positions(F.col("text"))
    )
    stacked = probe_pos.select(
        "doc_id",
        F.explode(
            F.array(*[F.col(f"pos{i}") for i in range(BLOOM_HASHES)])
        ).alias("pos"),
    )
    hits = (
        stacked.join(F.broadcast(bits), "pos")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    # ground truth: exact content match against the index (semi-join on
    # the 32-byte fingerprint, not the raw text)
    idx_keys = index_docs.select(F.md5("text").alias("k")).distinct()
    exact = (
        probe_docs.select("doc_id", F.md5("text").alias("k"))
        .join(F.broadcast(idx_keys), "k", "left_semi")
        .select("doc_id", F.lit(True).alias("exact_dup"))
    )
    return (
        probe_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .join(exact, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce("n_hit", F.lit(0)) == BLOOM_HASHES).alias(
                "bloom_candidate"
            ),
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
        )
    )


def edit_distance_banded(
    documents: DataFrame,
    prefix_chars: int = 64,
    max_distance: int = 12,
    band_chars: int = 16,
    band_cap: int | None = None,
) -> DataFrame:
    """Fuzzy near-dup verification by Levenshtein distance on banded
    candidate pairs.

    Bands on (lang, n_chars // band_chars): only docs of the same
    language in the same length bucket pair up — near-identical docs
    land in the same or adjacent buckets (adjacent-bucket misses are
    the documented recall cost of single-key banding; MinHash-LSH is
    the recall path, this is the cheap precise verifier). Distance is
    computed on the first ``prefix_chars`` chars, bounding per-pair
    cost at O(prefix²) regardless of doc size.

    Salt cap (the 100 TB guard, OPT-IN): with ``band_cap`` set, a band
    holding n docs is split into ``(n + band_cap - 1) // band_cap``
    sub-bands by an md5 hash of doc_id (engine-portable — the DuckDB
    oracle replays the split bit-for-bit). Pairs form only WITHIN a
    sub-band, so per-key work is O(band_cap²) and total work is
    O(corpus × band_cap) — linear in the corpus, never quadratic, and
    a hot band (boilerplate-heavy length bucket) is spread
    structurally instead of landing in one task. Documented recall
    cost: a true near-dup pair inside a band split s ways survives
    with probability 1/s — acceptable for a VERIFIER whose recall
    path is MinHash-LSH.

    The DEFAULT is ``band_cap=None`` — uncapped, lossless: the
    library function keeps exact verifier semantics for every caller
    (ADVICE r08: a capped default silently costs recall repo-wide).
    The gated query / production path opts into ``band_cap=128``
    (sweep-tuned r08: binds from sf0.1 with zero recall loss on this
    corpus, α 0.89 over the top decade) at the registry call site.
    """
    banded = documents.select(
        F.col("doc_id"),
        "lang",
        (F.col("n_chars") / band_chars).cast("long").alias("len_band"),
        F.substring(F.lower("text"), 1, prefix_chars).alias("prefix"),
    )
    # band populations are tiny next to the corpus (one row per
    # (lang, len_band)) — broadcast them back; the corpus shuffles once
    # on the sub-band key in the self-join below, same as before.
    if band_cap is None:
        # uncapped: one (trivial) sub-band per band — exact semantics
        sub = banded.withColumn("sub", F.lit(0))
    else:
        sizes = banded.groupBy("lang", "len_band").agg(
            F.count(F.lit(1)).alias("_n")
        )
        from realtime_analytics_pipeline_spark.operators.sampling import (
            hash_bucket,
        )

        sub = (
            banded.join(F.broadcast(sizes), ["lang", "len_band"])
            .withColumn(
                "sub",
                F.pmod(
                    hash_bucket("doc_id", "edb"),
                    F.expr(f"(_n + {band_cap - 1}) div {band_cap}"),
                ),
            )
            .drop("_n")
        )
    # pin the pair-join parallelism: each (lang, len_band, sub) key
    # fans out into O(band_cap²) levenshtein calls, so the join is
    # COMPUTE-bound while its shuffled bytes are tiny — AQE's
    # byte-based coalescing would squash it onto 1-2 tasks and
    # serialize the work (measured: 58 s single-threaded at sf0.3
    # vs seconds when spread). An explicit numPartitions exchange
    # is exempt from AQE coalescing.
    sub = sub.repartition(
        _pair_join_partitions(documents), "lang", "len_band", "sub"
    )
    a, b = sub.alias("a"), sub.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.len_band") == F.col("b.len_band"))
        & (F.col("a.sub") == F.col("b.sub"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # r13: bounded-threshold levenshtein — the banded DP computes
    # O(max_distance·prefix) cells instead of O(prefix²) and returns
    # -1 past the bound, so the filter becomes `>= 0`; surviving rows
    # carry the identical distance value
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(
                F.col("a.prefix"), F.col("b.prefix"), int(max_distance)
            ).alias("edit_distance"),
        )
        .where(F.col("edit_distance") >= 0)
    )


def duplicate_spans(
    documents: DataFrame, window_tokens: int = 8
) -> DataFrame:
    """Cross-document exact-substring duplicated SPANS — the positional
    form of the Lee-et-al-2022 ExactSubstr dedup signal (the fraction
    form is text_analysis.dup_ngram_stats; this one emits the merged
    token ranges a curation pass would actually cut).

    Every ``window_tokens``-token rolling window is md5-fingerprinted;
    a window is duplicated when its fingerprint occurs in ≥2 DISTINCT
    documents; per doc, overlapping/adjacent duplicated windows merge
    into maximal spans (gaps-and-islands on the 1-based start
    positions — two windows merge iff the later start is ≤ earlier
    start + W).

    Scale shape: one explode (×windows/doc), one groupBy on the window
    hash (vocabulary-sized), one semi-join back, one per-doc window
    function (partitioned by doc_id — never global). Linear in corpus
    token count. All positions integer; md5 keeps the fingerprint
    engine-portable for the oracle.

    Output: doc_id, span_start, span_end (1-based inclusive token
    positions), span_tokens — one row per merged span.
    """
    from pyspark.sql import Window as Wnd

    from realtime_analytics_pipeline_spark.functions.scale import spread

    W = window_tokens
    # r13 (guide §4): the token split used to live inside the transform
    # lambda (re-split per window, O(words²)/doc) and the whole
    # window-hash pass sat in a single-task scan stage. Hoist the token
    # array into a child projection and spread the scan; fingerprints
    # unchanged.
    toks = F.col("_tk")
    win_structs = F.when(
        F.size(toks) >= W,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - W + 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(toks, i, W))).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:string>>"))
    wins = (
        spread(documents, "doc_id")
        .select("doc_id", F.split("text", " ").alias("_tk"))
        .select("doc_id", F.explode(win_structs).alias("w"))
        .select("doc_id", "w.pos", "w.h")
    )
    dup_hashes = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    dup = wins.join(dup_hashes, "h", "left_semi")
    w_ord = Wnd.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "new_span",
        F.when(
            F.lag("pos").over(w_ord).isNull()
            | (F.col("pos") > F.lag("pos").over(w_ord) + W),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_span").over(w_ord.rowsBetween(Wnd.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + W - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def span_removal(
    documents: DataFrame, window_tokens: int = 8
) -> DataFrame:
    """Apply ExactSubstr span removal: rewrite each document with its
    cross-corpus duplicated spans (``duplicate_spans``) cut out, and
    report the per-doc accounting a curation pipeline needs.

    The cleaned text is emitted as an md5 digest (the full rewritten
    string would bloat the gate; the digest pins it bit-for-bit — the
    oracle rebuilds the same string with an ORDER BY position
    string_agg). Token keep/cut is decided by an anti-join of token
    positions against span ranges — equi-keyed on doc_id with the
    BETWEEN as residual, so it shuffles once on doc_id and never goes
    quadratic.

    Output: doc_id, n_tokens, dup_tokens, n_spans, dup_ppm
    (⌊dup/total·1e6⌋), clean_md5.
    """
    W = window_tokens
    spans = duplicate_spans(documents, W)
    # disambiguate the self-joined lineage (spans derives from the same
    # `documents` plan as the token explode)
    sp = spans.select(
        F.col("doc_id").alias("s_doc"),
        F.col("span_start").alias("s_lo"),
        F.col("span_end").alias("s_hi"),
    )
    toks_pos = documents.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    kept = toks_pos.join(
        sp,
        (F.col("doc_id") == F.col("s_doc"))
        & (F.col("p") >= F.col("s_lo"))
        & (F.col("p") <= F.col("s_hi")),
        "left_anti",
    )
    clean = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list(struct(p, tok))),"
                    " x -> x.tok)"
                ),
            )
        ).alias("clean_md5"),
    )
    span_stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    base = documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    empty_md5 = F.md5(F.lit(""))
    return (
        base.join(clean, "doc_id", "left")
        .join(span_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce("kept_tokens", F.lit(0))
            ).alias("dup_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.expr(
                "(CAST(n_tokens - coalesce(kept_tokens, 0) AS BIGINT)"
                " * 1000000) div n_tokens"
            ).alias("dup_ppm"),
            F.coalesce("clean_md5", empty_md5).alias("clean_md5"),
        )
    )


def all_pairs_equi(
    df: DataFrame, id_col: str = "doc_id", buckets: int = 16
) -> DataFrame:
    """All unordered pairs (a.id < b.id) via a bucketed EQUI-join —
    never a cartesian/BroadcastNestedLoopJoin.

    The left side explodes ×``buckets`` with a target-bucket column;
    the join key is ``b``'s content-stable bucket (id % buckets), so
    Catalyst plans a shuffled hash/sort-merge join with the inequality
    as a residual filter. Semantically identical to the naive
    ``a.join(b, a.id < b.id)`` but with a real partitioning key —
    ``buckets`` bounds the parallelism (and the ×buckets duplication of
    the left side), which is the right trade for the bounded/sampled
    diagnostics that call this.
    """
    a = df.select(
        *[F.col(c).alias(f"a_{c}") for c in df.columns],
        F.explode(
            F.sequence(F.lit(0), F.lit(buckets - 1))
        ).alias("_tb"),
    )
    b = df.select(
        *[F.col(c).alias(f"b_{c}") for c in df.columns],
        (F.col(id_col).cast("long") % buckets).alias("_bb"),
    )
    return (
        a.join(b, F.col("_tb") == F.col("_bb"))
        .where(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
        .drop("_tb", "_bb")
    )


MINHASH_CAL_PERMS = 16


def md5_trigrams(documents: DataFrame) -> DataFrame:
    """Distinct word-trigram shingles per doc — the oracle-replayable
    shingle base shared by minhash_calibration and the LSH
    blocking-quality audit (DuckDB twin: _TRIGRAM_LIST)."""
    # Optimization round 13 (guide §4): ``split(text, ' ')`` used to sit
    # INSIDE the transform lambda, so interpreted HOF evaluation re-split
    # the document per trigram (O(words²)/doc). Hoisting the token array
    # into a child projection (multi-referenced → CollapseProject keeps
    # it) makes the lambda read an attribute instead; identical grams.
    return (
        documents.select("doc_id", F.split("text", " ").alias("_tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(_tk) >= 3 THEN "
                    "transform(sequence(1, size(_tk) - 2), "
                    "i -> concat_ws(' ', slice(_tk, i, 3))) "
                    "ELSE slice(_tk, 1, 0) END"
                )
            ).alias("gram"),
        )
        .distinct()
    )


def minhash_md5_signatures(
    documents: DataFrame,
    num_perm: int = MINHASH_CAL_PERMS,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig) with sig = array of ``num_perm`` MinHash values
    ordered by permutation index. md5-derived permutations (48-bit so
    min() never ties by overflow) — engine-portable, so a DuckDB
    oracle replays the sketch bit-for-bit. The production sketches
    (minhash_signatures above) use Spark-native xxhash64 instead —
    faster, but rows-only at the gate. Pass a precomputed
    ``grams`` (md5_trigrams output) to share the shingle scan with a
    caller that also needs it (ADVICE r11: minhash_calibration was
    paying the explode+distinct twice after the helper extraction)."""
    if grams is None:
        # min() per permutation is duplicate-insensitive, so the
        # signature path can skip md5_trigrams' distinct (one whole
        # Exchange of the gram stream removed — guide §2.4); spread()
        # first so the split/md5 map work isn't serialized by the
        # one-row-group scan (functions/scale.py), and hash-partition
        # by doc_id so the groupBy below reuses the partitioning
        # (no second Exchange).
        from realtime_analytics_pipeline_spark.functions.scale import (
            spread,
        )

        grams = (
            spread(documents, "doc_id")
            .select("doc_id", F.split("text", " ").alias("_tk"))
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        "CASE WHEN size(_tk) >= 3 THEN "
                        "transform(sequence(1, size(_tk) - 2), "
                        "i -> concat_ws(' ', slice(_tk, i, 3))) "
                        "ELSE slice(_tk, 1, 0) END"
                    )
                ).alias("gram"),
            )
        )
    # One groupBy with num_perm min-aggregates (the production
    # minhash_signatures shape) instead of exploding num_perm struct
    # rows per gram: the per-permutation mins combine MAP-SIDE, so the
    # shuffle carries num_perm longs per doc per partition rather than
    # num_perm rows per gram — a 16x shuffle-volume cut at this
    # num_perm (round-12; sig values bit-identical, oracle unchanged).
    aggs = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}#"), F.col("gram"))), 1, 12
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"m{i}")
        for i in range(num_perm)
    ]
    return (
        grams.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id",
            F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"),
        )
    )


def minhash_calibration(
    documents: DataFrame,
    sample_bucket_max: int = 6553,
    doc_cap: int = 1000,
) -> DataFrame:
    """MinHash accuracy audit: per exact-Jaccard decile, how often the
    16-perm md5 MinHash estimate lands within 2/16 of truth.

    The production sketches above use Spark-native xxhash64 (fast,
    engine-specific ⇒ rows-only gate); this audit uses md5-derived
    permutations so a DuckDB oracle can replay it bit-for-bit, and
    keeps every compared quantity INTEGER: a pair is "within
    tolerance" iff |eq·U − 16·I| ≤ 2·U (eq = matching perms, I/U =
    intersection/union sizes) — no float summation anywhere, so the
    cross-engine hash cannot flake. Pairs are md5-sampled (~10% via
    16-bit bucket < sample_bucket_max) to bound the all-pairs term;
    the audit is a *calibration tool* run on a sample by construction,
    not a corpus-scale dedup path. The doc set is first capped to a
    FIXED md5-ordered ``doc_cap`` slice (round-13, the
    dedup_tokenset_jaccard convention; does not bind at the driver
    gate SFs' <= 500 docs): a calibration needs fixed sample
    precision, and a fraction-of-pairs sample grows quadratically.
    """
    documents = documents.join(
        F.broadcast(
            documents.select("doc_id")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
            .limit(doc_cap)
        ),
        "doc_id",
        "left_semi",
    )
    grams = md5_trigrams(documents)
    sigs = minhash_md5_signatures(documents, grams=grams)
    sets_ = grams.groupBy("doc_id").agg(
        F.collect_set("gram").alias("gset")
    )
    docs = sigs.join(sets_, "doc_id")
    sampled = all_pairs_equi(docs, "doc_id").where(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("pair#"),
                        F.col("a_doc_id").cast("string"),
                        F.lit("|"),
                        F.col("b_doc_id").cast("string"),
                    )
                ), 1, 4,
            ), 16, 10,
        ).cast("long")
        < sample_bucket_max
    )
    scored = sampled.select(
        F.aggregate(
            F.zip_with(
                "a_sig", "b_sig",
                lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).alias("eq"),
        F.size(F.array_intersect("a_gset", "b_gset")).cast("long").alias("i_"),
        (
            F.size("a_gset") + F.size("b_gset")
            - F.size(F.array_intersect("a_gset", "b_gset"))
        ).cast("long").alias("u_"),
    )
    return (
        scored.where(F.col("u_") > 0)
        .select(
            F.least(
                F.lit(9), F.floor(F.col("i_") * 10 / F.col("u_"))
            ).cast("long").alias("jaccard_decile"),
            "eq", "i_", "u_",
        )
        .groupBy("jaccard_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(
                    F.abs(
                        F.col("eq") * F.col("u_") - 16 * F.col("i_")
                    ) <= 2 * F.col("u_"),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).cast("long").alias("n_within_tol"),
            F.sum(
                F.when(
                    F.col("eq") * F.col("u_") >= 16 * F.col("i_"), F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("long").alias("n_overestimates"),
        )
    )

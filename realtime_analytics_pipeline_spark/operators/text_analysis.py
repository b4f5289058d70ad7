"""Text analysis operators (language-ID heuristic, quality scoring,
token statistics, fingerprinting) — all Column-expression only."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.functions.text import (
    distinct_token_count,
    fingerprint,
    stopword_count,
    token_count,
    tokens,
)


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-doc token statistics.

    avg_token_len uses the single-space-joined identity
    (chars - (n-1)) / n — pure arithmetic, no per-token loop.
    """
    n = token_count("text")
    return documents.select(
        "doc_id",
        n.alias("n_tokens"),
        distinct_token_count("text").alias("n_distinct"),
        F.round(
            (F.length("text") - (n - F.lit(1))) / n.cast("double"), 6
        ).alias("avg_token_len"),
        F.round(
            stopword_count(tokens("text")) / n.cast("double"), 6
        ).alias("stopword_ratio"),
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Composite quality score in [0,1]:
    0.4·min(1, n/100) + 0.3·(1 - stopword_ratio) + 0.3·type_token_ratio.
    The standard cheap-heuristic family (length/stopword/diversity)
    used to pre-filter LLM training corpora."""
    n = token_count("text").cast("double")
    sw = stopword_count(tokens("text")).cast("double")
    nd = distinct_token_count("text").cast("double")
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - sw / n)
        + F.lit(0.3) * (nd / n)
    )
    return documents.select(
        "doc_id", F.round(score, 6).alias("quality_score")
    )


def language_id(documents: DataFrame, en_threshold: float = 0.02) -> DataFrame:
    """Stopword-ratio language heuristic: predict 'en' when English
    stopword density ≥ threshold, else 'und'. (The real corpus carries
    a `lang` column; this demonstrates the n-gram-heuristic operator
    shape with a deterministic, oracle-expressible rule.)"""
    n = token_count("text").cast("double")
    ratio = stopword_count(tokens("text")).cast("double") / n
    return documents.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(ratio >= en_threshold, "en").otherwise("und").alias("pred_lang"),
        F.round(ratio, 6).alias("en_stopword_ratio"),
    )


def fingerprints(documents: DataFrame) -> DataFrame:
    """Content fingerprints: md5 of raw text + md5 of the normalized
    (sorted distinct tokens) form — the bag-of-words fingerprint that
    catches reorder-only duplicates."""
    normalized = F.concat_ws(
        " ", F.array_sort(F.array_distinct(tokens("text")))
    )
    return documents.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        F.md5(normalized).alias("fp_normalized"),
    )


def source_token_rollup(documents: DataFrame) -> DataFrame:
    """Corpus accounting per source: docs, tokens, distinct langs,
    mean quality proxy (token count)."""
    return (
        documents.select(
            "source", "lang", token_count("text").alias("n_tokens")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.count_distinct("lang").alias("n_langs"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )
    )


def gopher_quality_flags(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition/shape heuristics (Rae et al. 2021,
    public): mean word length, most-frequent-token mass, duplicate
    word-bigram mass, and the composite keep flag. All pure Column
    expressions over the token array — no explode, no shuffle: the
    scan is the whole plan, so it runs map-only at any corpus size.

    - mean_word_len: chars-excluding-separators / token count
    - top_token_ratio: occurrences of the modal token / token count
      (array-HOF max over distinct tokens; per-row cost O(n·d) on
      ~100-token docs is cheaper than an explode shuffle at scale)
    - dup_bigram_ratio: 1 − distinct bigrams / total bigrams
    - keep: 3 ≤ mean_word_len ≤ 10 AND top_token_ratio ≤ 0.20
      AND dup_bigram_ratio ≤ 0.50
    """
    # r13 (guide §4): the token split used to be re-evaluated inside
    # the nested per-distinct-token filter lambda (O(n²) splits/doc);
    # hoist the token and bigram arrays into child projections
    # (multi-referenced aliases, so CollapseProject keeps them) and
    # spread the single-task scan. Same expressions over the same
    # arrays — values bit-identical.
    from realtime_analytics_pipeline_spark.functions.scale import spread

    toks = F.col("_tk")
    n = F.size(toks).cast("double")
    mean_wl = F.length(F.regexp_replace("text", " ", "")).cast("double") / n
    top_cnt = F.aggregate(
        F.array_distinct(toks),
        F.lit(0),
        lambda acc, d: F.greatest(
            acc, F.size(F.filter(toks, lambda t: t == d))
        ),
    ).cast("double")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    staged = (
        spread(documents, "doc_id")
        .select("doc_id", "text", tokens("text").alias("_tk"))
        .select(
            "doc_id",
            mean_wl.alias("_mean_wl"),
            n.alias("_n"),
            top_cnt.alias("_top_cnt"),
            bigrams.alias("_bg"),
        )
    )
    nb = F.size("_bg").cast("double")
    dup_ratio = F.when(
        nb > 0, F.lit(1.0) - F.size(F.array_distinct("_bg")) / nb
    ).otherwise(F.lit(0.0))
    mean_r = F.round("_mean_wl", 6)
    top_r = F.round(F.col("_top_cnt") / F.col("_n"), 6)
    dup_r = F.round(dup_ratio, 6)
    keep = (
        (mean_r >= 3.0)
        & (mean_r <= 10.0)
        & (top_r <= 0.20)
        & (dup_r <= 0.50)
    )
    return staged.select(
        "doc_id",
        mean_r.alias("mean_word_len"),
        top_r.alias("top_token_ratio"),
        dup_r.alias("dup_bigram_ratio"),
        keep.alias("keep"),
    )


def dup_ngram_stats(documents: DataFrame, n: int = 4) -> DataFrame:
    """Per-document cross-corpus duplicated-n-gram fraction.

    The substring-level dedup signal from "Deduplicating Training Data
    Makes Language Models Better" (Lee et al. 2022), at n-gram
    granularity: for each document, the fraction of its overlapping
    word n-grams that also occur in at least one OTHER document.

    Plan shape (scale path): per-doc n-gram counts are aggregated
    BEFORE the corpus-wide document-frequency join, so the inverted
    index holds (gram, df) — vocabulary-sized — and the join back is
    AQE-sized, never an all-pairs term. Two shuffles total, both keyed
    on the gram hash.
    """
    # r13 (guide §4 HOF trap): `toks` referenced inside the transform
    # lambda re-evaluated split(text) once PER GRAM (O(words²)/doc).
    # Hoist the token array into a child projection — the lambda then
    # slices a materialized array; values bit-identical.
    toks = F.col("_tk")
    grams_expr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # spread: the gram construction + explode + partial agg are the
    # heavy map-side work and the one-row-group scan is single-task
    from realtime_analytics_pipeline_spark.functions.scale import spread

    exploded = spread(documents.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("_tk")
    ).select("doc_id", F.explode(grams_expr).alias("gram"))
    # per-(doc, gram) occurrence counts — the map-side reduction
    per_doc = exploded.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).alias("occ")
    )
    # inverted index: gram -> number of distinct docs containing it
    df_counts = per_doc.groupBy("gram").agg(
        F.count(F.lit(1)).alias("df")
    )
    stats = (
        per_doc.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_grams"),
            F.sum(F.when(F.col("df") >= 2, F.col("occ")).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
    )
    # left join keeps short documents (fewer than n tokens) in the output
    return (
        documents.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.when(
                    F.coalesce("n_grams", F.lit(0)) > 0,
                    F.col("n_dup_grams") / F.col("n_grams").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_fraction"),
        )
    )


def boilerplate_chunks(
    documents: DataFrame, chunk: int = 2, doc_frac: float = 0.2
) -> DataFrame:
    """Cross-document boilerplate removal at fixed-chunk granularity
    (the C4 boilerplate-line filter re-expressed for the line-less
    synthetic corpus: non-overlapping ``chunk``-token windows stand in
    for lines).

    A chunk is boilerplate when it appears in ≥ ``doc_frac`` of all
    documents — a RELATIVE threshold, so the same code is meaningful at
    sf0.001 and at 100 TB. Returns per doc: total chunks, kept chunks,
    and the reassembled cleaned text (order-preserving).

    Scale: the chunk→df index is vocabulary-sized; the boiler set is
    hard-broadcast because its size is bounded by
    avg_chunks_per_doc / doc_frac — independent of corpus size;
    reassembly groups on doc_id only (one shuffle keyed the same as
    the explode).
    """
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk)).cast("int")
    chunks_expr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * chunk + 1, chunk)),
    )
    pos = documents.select(
        "doc_id",
        F.posexplode(chunks_expr).alias("pos", "chunk_text"),
    )
    df_counts = pos.groupBy("chunk_text").agg(
        F.count_distinct("doc_id").alias("df")
    )
    n_docs = documents.select(
        F.count_distinct("doc_id").alias("n_docs")
    )
    boiler = (
        df_counts.crossJoin(F.broadcast(n_docs))
        .where(F.col("df") >= F.col("n_docs") * F.lit(doc_frac))
        .select("chunk_text")
    )
    flagged = pos.join(
        F.broadcast(boiler.withColumn("is_boiler", F.lit(True))),
        "chunk_text",
        "left",
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(
                F.when(F.col("is_boiler").isNull(), 1).otherwise(0)
            ).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("is_boiler").isNull(),
                                F.struct("pos", "chunk_text"),
                            )
                        )
                    ),
                    lambda s: s.chunk_text,
                ),
            ).alias("text_clean"),
        )
        .select("doc_id", "n_chunks", "n_kept", "text_clean")
    )


def winnowing_fingerprints(
    documents: DataFrame,
    k: int = 5,
    window: int = 4,
    base: int = 257,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm) as pure Column expressions:

    1. polynomial ROLLING HASH over every k-char gram:
       h_i = (Σ_j c_{i+j}·B^{k-1-j}) mod M — exact integer arithmetic,
       identical in any engine (intermediates < 2^63);
    2. WINNOWING: slide a w-hash window over the hash sequence and
       select the RIGHTMOST minimum of each window; dedupe (pos, hash).

    Guarantee: every window of w consecutive grams contributes ≥1
    selected fingerprint, so any match of length ≥ w+k-1 chars between
    two documents shares a fingerprint — the property that makes the
    inverted-index overlap join complete for long matches.

    Scale shape: map-only per document (O(n·k) hash work, O(n·w)
    winnow scan as higher-order folds, no explode until the caller
    unnests), then one shuffle on the 8-byte fingerprint hash for the
    overlap join — the same index-bucket bound as the shingle family.

    BENCH NOTE: this is the READABLE SPEC TWIN — linear (α 0.96) but
    with a ~4 ms/doc constant, ~10x the Arrow kernel's. Since r09 it
    is PYTEST-ONLY: every gated query routes through
    ``winnowing_fingerprints_kernel`` (fingerprint-for-fingerprint
    identical, pinned by the parity test); this form exists to pin
    the algorithm's semantics readably at fixed n. Never promote it
    into a gated query or the bench headline set.
    """
    # substr(text, i, 1) re-scans UTF-8 byte boundaries from the
    # string head, so the hash pass is O(n^2 k) in CHARACTERS — but n
    # is bounded by the doc length, so corpus cost stays LINEAR with a
    # measured ~4 ms/doc constant. The tempting rewrites are slower in
    # practice: hoisting split(text,'') into an array and using
    # element_at inside the nested lambdas measured 10x WORSE (the
    # projection collapses and the array expression re-evaluates
    # inside the HOF; 273 s vs 28 s at sf0.1) — if the constant ever
    # matters, the sanctioned fast path is an Arrow-batched kernel
    # twin, not a bigger expression tree.
    # docs shorter than k yield NO grams. Guarded by the where()
    # below rather than inside the expression: Spark's sequence(1, 0)
    # is DESCENDING ([1, 0]), so an unguarded sequence over a
    # non-positive gram count would fabricate out-of-bounds "grams"
    # (ascii('') = 0) — caught by the kernel parity test.
    n_hash = f"(length(text) - {k} + 1)"
    gram_hash = (
        f"transform(sequence(1, {n_hash}), i -> "
        f"aggregate(sequence(0, {k - 1}), 0L, "
        f"(acc, j) -> (acc * {base} + ascii(substr(text, i + j, 1))) % {mod}))"
    )
    # rightmost-min winnow: scan each w-window left->right, <= keeps
    # the later (rightmost) equal hash
    win = (
        f"transform(sequence(1, greatest(size(H) - {window} + 1, 1)), p -> "
        f"aggregate(sequence(p, least(p + {window} - 1, size(H))), "
        f"named_struct('pos', -1, 'h', 9223372036854775807L), "
        f"(acc, q) -> if(element_at(H, q) <= acc.h, "
        f"named_struct('pos', q, 'h', element_at(H, q)), acc)))"
    )
    return (
        documents.where(F.length("text") >= k)
        .select("doc_id", F.expr(gram_hash).alias("H"))
        .where(F.expr("size(H) > 0"))
        .select("doc_id", F.explode(F.expr(win)).alias("fp"))
        .select(
            "doc_id",
            F.col("fp.pos").alias("pos"),
            F.col("fp.h").alias("fp_hash"),
        )
        .distinct()
    )


def winnowing_fingerprints_kernel(
    documents: DataFrame,
    k: int = 5,
    window: int = 4,
    base: int = 257,
    mod: int = 1_000_000_007,
) -> DataFrame:
    """Arrow-batched kernel twin of ``winnowing_fingerprints`` — the
    100 TB path. The expression-tree form is the SPEC (oracle-gated,
    engine-portable) but pays ~4 ms/doc in interpreter constants; this
    mapInPandas kernel computes the identical (pos, hash) set with
    vectorized numpy (~30 µs/doc): codepoints via utf-32 decode (so
    non-ASCII matches the Column form's ascii()/codepoint semantics),
    the polynomial hash as an exact int64 window sum (< 2^63, then one
    mod — congruent to the fold's per-step mods), and rightmost-min
    winnowing via argmin over reversed sliding windows. Map-only:
    the downstream distinct/overlap shuffles are unchanged.
    Exact row-set parity with the spec form is pytest-pinned."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("pos", LongType()),
            StructField("fp_hash", LongType()),
        ]
    )
    powers = np.array(
        [pow(base, k - 1 - j, mod) for j in range(k)], dtype=np.int64
    )

    def winnow_batch(batches):
        for pdf in batches:
            doc_ids, poss, hs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                c = np.frombuffer(
                    str(text).encode("utf-32-le"), dtype="<u4"
                ).astype(np.int64)
                n = len(c) - k + 1
                if n <= 0:
                    continue
                H = np.zeros(n, dtype=np.int64)
                for j in range(k):
                    H += (c[j : j + n] % mod) * powers[j] % mod
                H %= mod
                if n <= window:
                    wins = H[None, :]
                    starts = np.array([0])
                else:
                    wins = np.lib.stride_tricks.sliding_window_view(
                        H, window
                    )
                    starts = np.arange(n - window + 1)
                rev_arg = np.argmin(wins[:, ::-1], axis=1)
                sel_idx = starts + (wins.shape[1] - 1 - rev_arg)
                sel = {(int(q) + 1, int(H[q])) for q in sel_idx}
                for pos, h in sel:
                    doc_ids.append(doc_id)
                    poss.append(pos)
                    hs.append(h)
            yield pd.DataFrame(
                {"doc_id": doc_ids, "pos": poss, "fp_hash": hs}
            )

    return documents.select("doc_id", "text").mapInPandas(
        winnow_batch, schema=out_schema
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-doc corpus-level n-gram novelty: what fraction of a doc's
    DISTINCT word n-grams appear in no other document.

    The complement of boilerplate_chunks: that flags text *shared*
    across docs; this scores how much of each doc is *unique* corpus
    contribution — a selection signal for training-data value (memorized
    / templated docs score near 0). Two hash aggregates over exploded
    distinct n-grams, linear in corpus tokens; the gram→doc_count
    aggregate partial-aggregates map-side. Docs shorter than n tokens
    have no grams → novelty null.
    """
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0] — short docs
    # must route to an empty array, not an empty sequence.
    # r13 (guide §4 HOF trap): split(text) inside the transform lambda
    # was re-evaluated once PER GRAM (O(words²)/doc) — hoist the token
    # array into a child projection (3+ references keep it
    # materialized) and spread the single-task scan. Same expressions
    # over the same array — values bit-identical.
    from realtime_analytics_pipeline_spark.functions.scale import spread

    gram_expr = (
        f"CASE WHEN size(_tk) >= {n} THEN "
        f"transform(sequence(1, size(_tk) - {n - 1}), "
        f"i -> concat_ws(' ', slice(_tk, i, {n}))) "
        "ELSE slice(_tk, 1, 0) END"  # typed empty array<string>
    )
    grams = spread(documents.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.split(F.col("text"), " ").alias("_tk")
    ).select(
        "doc_id",
        F.explode(F.expr(gram_expr)).alias("gram"),
    )
    from pyspark.sql import Window

    # gram doc-frequency as a window count over the deduped gram rows:
    # one shuffle on gram (the window) instead of groupBy-then-join-back
    # (which costs the same gram shuffle PLUS a join). distinct() and
    # the window share no partitioning, so the plan is distinct-shuffle,
    # gram-shuffle, doc-shuffle — three exchanges total.
    per_doc = grams.distinct()
    with_df = per_doc.withColumn(
        "gram_doc_count", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    joined = with_df.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
        F.sum(
            F.when(F.col("gram_doc_count") == 1, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_novel_grams"),
    )
    return documents.select("doc_id").join(joined, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_distinct_grams", F.lit(0)).alias("n_distinct_grams"),
        F.coalesce("n_novel_grams", F.lit(0)).alias("n_novel_grams"),
        F.when(
            F.col("n_distinct_grams") > 0,
            F.round(
                F.col("n_novel_grams")
                / F.col("n_distinct_grams").cast("double"),
                6,
            ),
        ).alias("novelty"),
    )


def hashed_linear_quality(documents: DataFrame) -> DataFrame:
    """fastText-style linear text classifier over hashed bag-of-words,
    with a deterministic md5-derived weight table (stand-in for trained
    weights — the *plumbing* is the operator: hash → lookup-free weight
    → integer-sum → one normalization).

    w(token) = (md5('lw'||token)[0:4] as int) mod 2001 - 1000, an
    integer in [-1000, 1000]; the doc score sums those BIGINTs (float
    addition order never enters) and normalizes once:
    score = sum_w / (1000 * n_tokens). Linear scan, no shuffle beyond
    one groupBy doc_id; at 100 TB the weight "table" costs nothing —
    it is a hash expression, not a broadcast dictionary.
    """
    toks = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    w = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("lw"), F.col("term"))), 1, 4),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    agg = toks.groupBy("doc_id").agg(
        F.sum(w).cast("long").alias("score_raw"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    # score in parts-per-million as a BIGINT, not a rounded double: the
    # normalized score is a small-denominator rational, so round(x, 6)
    # ties at the 6th decimal constantly — and Spark (BigDecimal
    # HALF_UP on the shortest repr) and DuckDB (binary-value rounding)
    # break those ties differently. floor() of the exact-to-ulp double
    # quotient is tie-free.
    return agg.select(
        "doc_id",
        "n_tokens",
        "score_raw",
        F.floor(
            F.col("score_raw") * F.lit(1000.0) / F.col("n_tokens")
        ).cast("long").alias("score_ppm"),
        (F.col("score_raw") > 0).alias("is_positive"),
    )

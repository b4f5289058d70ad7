"""Gated queries: LLM-data-pipeline extensions over documents +
embeddings (dedup, similarity search, text analysis).

Sketch-based operators (MinHash-LSH, SimHash, hyperplane-LSH ANN) are
registered WITHOUT oracles — their hash functions are Spark-native and
approximate by construction; the driver records the weaker rows-only
check. Every exactly-computable op ships a DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators import dedup as D
from realtime_analytics_pipeline_spark.operators import similarity as S
from realtime_analytics_pipeline_spark.operators import text_analysis as T
from realtime_analytics_pipeline_spark.registry import register
from realtime_analytics_pipeline_spark.session import SESSION_MEMO, scratch_dir
from realtime_analytics_pipeline_spark.sources.batch import load_table

_SPLIT = "string_split(text, ' ')"
_SW = f"list_filter({_SPLIT}, t -> list_contains(['the', 'a'], t))"

# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

_TEXT_STATS_SQL = f"""
SELECT doc_id,
       len({_SPLIT}) AS n_tokens,
       len(list_distinct({_SPLIT})) AS n_distinct,
       round((length(text) - (len({_SPLIT}) - 1)) * 1.0 / len({_SPLIT}), 6)
           AS avg_token_len,
       round(len({_SW}) * 1.0 / len({_SPLIT}), 6) AS stopword_ratio
FROM documents
"""


@register("text_stats", _TEXT_STATS_SQL)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.text_stats(load_table(spark, sf_dir, "documents"))


_QUALITY_SQL = f"""
SELECT doc_id,
       round(0.4 * least(1.0, n / 100.0)
             + 0.3 * (1 - sw / n)
             + 0.3 * (nd / n), 6) AS quality_score
FROM (
    SELECT doc_id,
           len({_SPLIT}) * 1.0 AS n,
           len({_SW}) * 1.0 AS sw,
           len(list_distinct({_SPLIT})) * 1.0 AS nd
    FROM documents
)
"""


@register("text_quality_scores", _QUALITY_SQL)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_scores(load_table(spark, sf_dir, "documents"))


_LANGID_SQL = f"""
SELECT doc_id,
       lang AS labeled_lang,
       CASE WHEN ratio >= 0.02 THEN 'en' ELSE 'und' END AS pred_lang,
       round(ratio, 6) AS en_stopword_ratio
FROM (
    SELECT doc_id, lang,
           len({_SW}) * 1.0 / len({_SPLIT}) AS ratio
    FROM documents
)
"""


@register("text_language_id", _LANGID_SQL)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.language_id(load_table(spark, sf_dir, "documents"))


_FP_SQL = f"""
SELECT doc_id,
       md5(text) AS fp,
       md5(array_to_string(list_sort(list_distinct({_SPLIT})), ' '))
           AS fp_normalized
FROM documents
"""


@register("text_fingerprints", _FP_SQL)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprints(load_table(spark, sf_dir, "documents"))


_SOURCE_ROLLUP_SQL = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len({_SPLIT})) AS BIGINT) AS total_tokens,
       count(DISTINCT lang) AS n_langs,
       round(avg(len({_SPLIT})), 6) AS avg_tokens
FROM documents
GROUP BY 1
"""


@register("text_source_rollup", _SOURCE_ROLLUP_SQL)
def q_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.source_token_rollup(load_table(spark, sf_dir, "documents"))


_REGEX_OPS_SQL = """
SELECT doc_id,
       CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) AS src_num,
       len(regexp_split_to_array(text, '[^a-z0-9]+')) AS n_re_tokens,
       upper(substr(text, 1, 10)) AS head_upper,
       levenshtein(substr(text, 1, 12), 'spark engine') AS lev_to_spark
FROM documents
"""


@register("text_regex_ops", _REGEX_OPS_SQL)
def q_regex_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex/string scalar surface (SURVEY §2.10 text ops):
    regexp_extract, BPE-ish regex tokenization, case mapping, and
    levenshtein edit distance — all Catalyst built-ins, mirrored by
    DuckDB's identical functions."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("source", r"([0-9]+)", 1).cast("long").alias("src_num"),
        F.size(F.split("text", r"[^a-z0-9]+")).cast("long").alias("n_re_tokens"),
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.levenshtein(F.substring("text", 1, 12), F.lit("spark engine")).alias(
            "lev_to_spark"
        ),
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

_TOP_NGRAMS_SQL = f"""
WITH sh AS (
    SELECT w[i] || ' ' || w[i + 1] AS ngram
    FROM (SELECT {_SPLIT} AS w FROM documents),
         (SELECT unnest(range(1, 500)) AS i)
    WHERE i + 1 <= len(w)
)
SELECT ngram, count(*) AS freq
FROM sh GROUP BY 1
ORDER BY freq DESC, ngram
LIMIT 20
"""


@register("text_top_bigrams", _TOP_NGRAMS_SQL)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide n-gram frequency: explode bigram shingles → count →
    top-20 with lexicographic tiebreak."""
    from pyspark.sql import functions as F

    from realtime_analytics_pipeline_spark.functions.text import (
        shingle_expr,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(tokens("text").alias("toks")).select(
        F.explode(shingle_expr("toks", 2)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("ngram"))
        .limit(20)
    )


_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS doc_id, md5(text) AS fp, count(*) AS dup_count
FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
GROUP BY md5(text)
"""


@register("dedup_exact", _DEDUP_EXACT_SQL)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doubled corpus: every text appears twice, so the operator has
    # real duplicates to collapse (the raw corpus has none)
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(docs.unionByName(docs))


_JACCARD_SQL = f"""
WITH sample_docs AS (
    -- deterministic md5-ordered fixed cap: gate cost stays flat as
    -- the SF grows (does not bind at sf<=0.01's 500 docs); the
    -- uncapped exact verifier remains the library path
    SELECT * FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1000
),
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle
    FROM sample_docs
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.9
"""


@register("dedup_tokenset_jaccard", _JACCARD_SQL)
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verifier, gated on a deterministic
    md5-ordered 1000-doc cap (round-4). Round-10: D.jaccard_pairs now
    rides the prefix-filter candidate generator (identical pair set,
    pytest-pinned vs the retired all-pairs form), so even the uncapped
    library path is candidate-bound rather than O(n^2)-flavored;
    MinHash-LSH remains the registered 100 TB scale path."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sample = (
        docs.select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(1000)
    )
    capped = docs.join(F.broadcast(sample), "doc_id", "left_semi")
    return D.jaccard_pairs(capped, n=1, threshold=0.9)


_JACCARD_PREFIX_SQL = f"""
WITH sample_docs AS (
    -- md5-ordered 2000-doc cap bounds the ORACLE's naive O(n^2) cost;
    -- the Spark side runs the prefix-filtered plan on the same sample,
    -- so hash-equality IS the losslessness proof of the prefix filter
    SELECT * FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 2000
),
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle
    FROM sample_docs
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       (i * 1000000) // (sa.sz + sb.sz - i) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 10 >= (sa.sz + sb.sz - i) * 9
"""


@register("dedup_jaccard_prefix_filtered", _JACCARD_PREFIX_SQL)
def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 0.9 via prefix filtering (round-8): the
    scale-exact form of the verifier — candidates form only in the
    inverted index of each doc's rarest ~10% shingles, integer
    arithmetic end-to-end. The ORACLE is the naive all-pairs SQL on
    the same md5-capped sample: a hash match proves the prefix filter
    loses no pair. operators/dedup.py::jaccard_pairs_prefix is the
    uncapped library form (swept in SCALING.md; round-10, the float
    twin jaccard_pairs shares the same candidate generator)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sample = (
        docs.select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(2000)
    )
    capped = docs.join(F.broadcast(sample), "doc_id", "left_semi")
    return D.jaccard_pairs_prefix(capped, n=1, threshold=0.9)


_SPAN_W = 8

_SPANS_CTE = f"""
toks AS (SELECT doc_id, text, {_SPLIT} AS ws FROM documents),
wins AS (
    SELECT doc_id, pos,
           md5(array_to_string(ws[pos:pos + {_SPAN_W - 1}], ' ')) AS h
    FROM (
        SELECT doc_id, ws, unnest(range(1, len(ws) - {_SPAN_W} + 2)) AS pos
        FROM toks WHERE len(ws) >= {_SPAN_W}
    )
),
duph AS (
    SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
dupw AS (SELECT w.doc_id, w.pos FROM wins w JOIN duph USING (h)),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL
                     OR pos > lag(pos) OVER w + {_SPAN_W}
                THEN 1 ELSE 0 END AS new_span
    FROM dupw
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
islands AS (
    SELECT doc_id, pos,
           sum(new_span) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
spans AS (
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {_SPAN_W - 1} AS BIGINT) AS span_end,
           CAST(max(pos) + {_SPAN_W - 1} - min(pos) + 1 AS BIGINT)
               AS span_tokens
    FROM islands GROUP BY doc_id, island
)"""

_DUP_SPANS_SQL = f"""
WITH {_SPANS_CTE}
SELECT doc_id, span_start, span_end, span_tokens FROM spans
"""


@register("dedup_duplicate_spans", _DUP_SPANS_SQL)
def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr positional form (round-8): merged token spans whose
    8-token rolling windows occur in >= 2 distinct documents — the
    ranges a curation pass would cut (Lee et al. 2022; the fraction
    form is text_dup_ngram_fraction). Linear plan: window-hash agg +
    semi-join + per-doc islands window."""
    return D.duplicate_spans(
        load_table(spark, sf_dir, "documents"), window_tokens=_SPAN_W
    )


_SPAN_REMOVAL_SQL = f"""
WITH {_SPANS_CTE},
tok_pos AS (
    SELECT doc_id, unnest(range(1, len(ws) + 1)) AS p, ws
    FROM toks
),
kept AS (
    SELECT t.doc_id, t.p, t.ws[t.p] AS tok
    FROM tok_pos t
    LEFT JOIN spans s
      ON t.doc_id = s.doc_id AND t.p BETWEEN s.span_start AND s.span_end
    WHERE s.doc_id IS NULL
),
clean AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS kept_tokens,
           md5(string_agg(tok, ' ' ORDER BY p)) AS clean_md5
    FROM kept GROUP BY doc_id
),
span_stats AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
    FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.ws) AS BIGINT) AS n_tokens,
       CAST(len(d.ws) - coalesce(c.kept_tokens, 0) AS BIGINT) AS dup_tokens,
       coalesce(s.n_spans, 0) AS n_spans,
       (CAST(len(d.ws) - coalesce(c.kept_tokens, 0) AS BIGINT) * 1000000)
           // len(d.ws) AS dup_ppm,
       coalesce(c.clean_md5, md5('')) AS clean_md5
FROM toks d
LEFT JOIN clean c USING (doc_id)
LEFT JOIN span_stats s USING (doc_id)
"""


@register("dedup_span_removal", _SPAN_REMOVAL_SQL)
def q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL applied (round-8): per-doc token
    accounting + md5 of the rewritten text with duplicated spans cut.
    The keep/cut decision is an anti-join of token positions against
    span ranges, equi-keyed on doc_id."""
    return D.span_removal(
        load_table(spark, sf_dir, "documents"), window_tokens=_SPAN_W
    )


@register("dedup_minhash_lsh")  # rows-only: sketch hashes are engine-native
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=1, threshold=0.9
    )


@register("dedup_minhash_lsh_3gram")  # rows-only: realistic sparse-bucket run
def q_minhash_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH over 3-word shingles — the production configuration
    (discriminative shingles → sparse buckets). On the synthetic
    word-salad corpus this finds few/no pairs; it benchmarks the
    signature+banding pipeline cost without the output-bound tail of
    the degenerate unigram variant."""
    return D.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


@register("dedup_simhash")  # rows-only: sketch hashes are engine-native
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


_EMB_DUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
"""


_EMB_DUP_CAPPED_SQL = """
WITH sample_vecs AS (
    -- md5-ordered fixed cap, same flat-gate discipline as the other
    -- exact verifiers; non-binding at every current SF (embeddings
    -- tops out at 2000 rows at sf0.1)
    SELECT * FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2000
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM sample_vecs)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
"""


@register("dedup_embedding_cosine", _EMB_DUP_CAPPED_SQL)
def q_emb_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine verifier, gated on a deterministic
    md5-ordered 2000-vector cap (flat gate cost by construction; the
    cap binds nowhere at current SFs). D.embedding_dup_pairs stays the
    uncapped library exact verifier; dedup_semantic_clustered and the
    block-gemm twin are the registered scale paths."""
    from pyspark.sql import functions as F

    from realtime_analytics_pipeline_spark.operators.similarity_blas import (
        embedding_dup_pairs_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sample = (
        emb.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(2000)
    )
    capped = emb.join(F.broadcast(sample), "vec_id", "left_semi")
    # r14 (VERDICT r13 item 7): same pairs, same doubles policy, but
    # scored through the block-gemm Arrow kernel instead of the
    # interpreted per-pair zip_with+aggregate lambda — the lambda ran
    # the whole O(pairs·d) verifier on ONE scan task (~21-31 s
    # standalone). The kernel is pinned tuple-identical to
    # D.embedding_dup_pairs on the smoke slice
    # (tests/test_similarity_blas.py::test_pairs_blas_matches_exact)
    # and its uncapped twin dedup_embedding_cosine_blas is
    # driver-verified hash== against the SAME cosine/round-6 oracle
    # SQL. D.embedding_dup_pairs stays the uncapped library verifier.
    return embedding_dup_pairs_blas(capped, threshold=0.3)


_CC_SQL = f"""
WITH RECURSIVE
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle
    FROM documents WHERE doc_id < 300
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.95
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(u, comp) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.u
)
SELECT u AS vertex,
       min(comp) AS component,
       (u = min(comp)) AS is_representative
FROM reach GROUP BY u
"""


@register("dedup_connected_components", _CC_SQL)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters (min-label components);
    oracle is a recursive-CTE transitive closure over the same pair
    set. The gate subgraph is bounded by construction, so CC runs in
    the single-task union-find kernel; the iterative DataFrame loop
    (`connected_components`) remains the unbounded scale path."""
    from realtime_analytics_pipeline_spark.operators.clustering import (
        dedup_cluster_representatives,
    )

    # gate on a bounded subgraph (doc_id < 300): the transitive-closure
    # oracle is quadratic in component size and the degenerate corpus
    # forms one giant component at larger SFs; the operator itself is
    # unrestricted (tests cover arbitrary graphs)
    # r13: share the memoized pair scan (the expensive half) with the
    # other bounded diagnostics, and collapse the CC loop into the
    # single-task union-find kernel (output row-identical; the
    # 2-jobs-per-round driver storm is gone)
    pairs = _bounded_pairs(spark, sf_dir)
    return dedup_cluster_representatives(pairs, bounded=True)


def _kmeans_oracle_sql(
    k: int = 8,
    iterations: int = 3,
    dims: int = 64,
    final: str | None = None,
) -> str:
    """Loop-unrolled DuckDB twin of clustering.kmeans_lite: fixed init
    (unit vectors of the k smallest vec_ids), ``iterations`` rounds of
    argmax-cosine assignment + unit-normalized per-dim mean update.
    Deterministic on both engines; sims rounded to 6 only on output.

    ``final`` overrides the terminal SELECT (against CTE ``a{N}``,
    columns vec_id/cluster/v/sim) so composites — e.g. cluster-scoped
    dedup — can reuse the assignment CTE chain verbatim."""
    unit_v = (
        "list_transform(embedding::DOUBLE[], x -> x / "
        "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))"
    )
    ctes = [
        f"e AS (SELECT vec_id, {unit_v} AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cluster, v AS cv FROM e ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""a{i} AS (
    SELECT vec_id, cluster, v, sim FROM (
        SELECT e.vec_id, c.cluster, e.v,
               list_dot_product(e.v, c.cv) AS sim,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) DESC, c.cluster) AS rn
        FROM e CROSS JOIN c{i - 1} c
    ) WHERE rn = 1
)"""
        )
        if i < iterations:
            ctes.append(
                f"""m{i} AS (
    SELECT cluster, list(m ORDER BY d) AS ml FROM (
        SELECT cluster, d, avg(v[d]) AS m
        FROM a{i}, (SELECT unnest(range(1, {dims + 1})) AS d)
        GROUP BY 1, 2
    ) GROUP BY 1
)"""
            )
            ctes.append(
                f"c{i} AS (SELECT cluster, list_transform(ml, x -> x / "
                f"sqrt(list_dot_product(ml, ml))) AS cv FROM m{i})"
            )
    if final is None:
        final = (
            f"SELECT vec_id, cluster, round(sim, 6) AS sim FROM a{iterations}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + final


@register("sim_kmeans_lite", _kmeans_oracle_sql())
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kmeans_cells(spark, sf_dir)


@register("sim_ivf_topk")  # rows-only: approximate by construction
def q_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.clustering import ivf_topk

    return ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        cells=_kmeans_cells(spark, sf_dir, k=8, iterations=2),
    )


# --------------------------------------------------------------------------
# Deterministic sampling (training-data pipeline)
# --------------------------------------------------------------------------

def _bucket_sql(key_sql: str, salt: str) -> str:
    from realtime_analytics_pipeline_spark.operators.sampling import (
        md5_bucket_sql,
    )

    return md5_bucket_sql(key_sql, salt)


_SAMPLE_SQL = f"""
SELECT doc_id, source, lang
FROM documents
WHERE {_bucket_sql("CAST(doc_id AS VARCHAR)", "s0")} < 6553
"""


@register("sample_docs_hash", _SAMPLE_SQL)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: fate of each doc depends only
    on md5 of its id — reproducible across runs/partitionings/SFs and
    map-only (no shuffle; the filter sits on the scan)."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        deterministic_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", 0.1).select(
        "doc_id", "source", "lang"
    )


_STRAT_RATES = {"src0": 0.5, "src1": 0.05}
_STRAT_DEFAULT = 0.2

_STRATIFIED_SQL = f"""
SELECT doc_id, source
FROM documents
WHERE {_bucket_sql("CAST(doc_id AS VARCHAR)", "s0")} <
      CASE WHEN source = 'src1' THEN {int(0.05 * 65536)}
           WHEN source = 'src0' THEN {int(0.5 * 65536)}
           ELSE {int(0.2 * 65536)} END
"""


@register("sample_docs_stratified", _STRATIFIED_SQL)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling rates (keep half of src0, 5% of src1, 20%
    elsewhere) — the standard corpus-mixing step before training; a
    CASE-threshold map-only filter, no join, no shuffle."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "source", _STRAT_RATES, default_rate=_STRAT_DEFAULT
    ).select("doc_id", "source")


_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN {_bucket_sql("CAST(doc_id AS VARCHAR)", "split")}
                 < {int(0.1 * 65536)}
            THEN 'eval' ELSE 'train' END AS split
FROM documents
"""


@register("train_eval_split", _SPLIT_SQL)
def q_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free deterministic 90/10 train/eval split: a row's side
    is a function of its own id only, stable as the corpus grows."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        train_eval_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    return train_eval_split(docs, "doc_id", eval_frac=0.1).select(
        "doc_id", "split"
    )


_PIPELINE_SQL = f"""
WITH scored AS (
    SELECT doc_id, source, text,
           round(0.4 * least(1.0, len({_SPLIT}) * 1.0 / 100.0)
                 + 0.3 * (1 - len({_SW}) * 1.0 / len({_SPLIT}))
                 + 0.3 * (len(list_distinct({_SPLIT})) * 1.0 / len({_SPLIT})),
                 6) AS quality_score
    FROM documents
),
kept AS (SELECT * FROM scored WHERE quality_score >= 0.5),
deduped AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(array_to_string(list_sort(list_distinct({_SPLIT})), ' '))
            ORDER BY doc_id) AS rn
        FROM kept
    ) WHERE rn = 1
)
SELECT doc_id, source, quality_score
FROM deduped
WHERE {_bucket_sql("CAST(doc_id AS VARCHAR)", "pipe")} < {int(0.5 * 65536)}
"""


@register("pipeline_quality_dedup_sample", _PIPELINE_SQL)
def q_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data pipeline as ONE composed query:
    quality-filter (score ≥ 0.5) → near-dup collapse (keep the min
    doc_id per normalized bag-of-words fingerprint) → deterministic
    50% sample. Each stage is an already-oracled operator; this gates
    their composition end-to-end."""
    from pyspark.sql import Window

    from realtime_analytics_pipeline_spark.operators.sampling import (
        deterministic_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.join(T.quality_scores(docs), "doc_id")
    kept = scored.where(F.col("quality_score") >= 0.5)
    fp = T.fingerprints(kept.select("doc_id", "text")).select(
        "doc_id", "fp_normalized"
    )
    w = Window.partitionBy("fp_normalized").orderBy("doc_id")
    survivors = (
        kept.join(fp, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return deterministic_sample(survivors, "doc_id", 0.5, salt="pipe").select(
        "doc_id", "source", "quality_score"
    )


_WEIGHTED_SQL = f"""
WITH scored AS (
    SELECT doc_id, source,
           round(0.4 * least(1.0, len({_SPLIT}) * 1.0 / 100.0)
                 + 0.3 * (1 - len({_SW}) * 1.0 / len({_SPLIT}))
                 + 0.3 * (len(list_distinct({_SPLIT})) * 1.0 / len({_SPLIT})),
                 6) AS quality_score
    FROM documents
)
SELECT doc_id, source, quality_score
FROM scored
WHERE {_bucket_sql("CAST(doc_id AS VARCHAR)", "w0")} <
      CAST(floor(greatest(0.0, least(1.0, quality_score)) * 65536) AS INT)
"""


@register("sample_docs_weighted", _WEIGHTED_SQL)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling: keep probability = quality score — the
    quality-proportional corpus retention step (high-quality docs kept
    near-always, low-quality downweighted, never a hard cutoff)."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.join(T.quality_scores(docs), "doc_id").select(
        "doc_id", "source", "quality_score"
    )
    return weighted_sample(scored, "doc_id", "quality_score")


_PACK_SQL = f"""
SELECT doc_id, source, n_tokens,
       CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_offset,
       CAST((sum(n_tokens) OVER w - n_tokens) // 512 AS BIGINT) AS bin_id
FROM (
    SELECT doc_id, source, len({_SPLIT}) AS n_tokens FROM documents
)
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING)
"""


@register("pack_token_budget", _PACK_SQL)
def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into 512-token context windows per source —
    the batch-construction step of a training pipeline (see
    operators/sampling.py::pack_token_budget for the 100 TB shape)."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        pack_token_budget,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return pack_token_budget(
        docs, "n_tokens", 512, partition_col="source", order_col="doc_id"
    )


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

_TOPK_SQL = """
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 10
),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
    SELECT query_id, vec_id AS neighbor_id,
           round(list_cosine_similarity(qv, v), 6) AS cos
    FROM q, c WHERE vec_id != query_id
)
SELECT query_id, neighbor_id, cos, rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM s
)
WHERE rnk <= 5
"""


@register("sim_cosine_topk", _TOPK_SQL)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(load_table(spark, sf_dir, "embeddings"))


@register("sim_ann_lsh_topk")  # rows-only: approximate by construction
def q_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.lsh_ann_topk(load_table(spark, sf_dir, "embeddings"))


_CENTROIDS_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
    SELECT label AS c_label, list(m ORDER BY d) AS cv FROM (
        SELECT label, d, avg(v[d]) AS m
        FROM e, (SELECT unnest(range(1, 65)) AS d)
        GROUP BY 1, 2
    ) GROUP BY 1
),
scored AS (
    SELECT e.vec_id, e.label, c.c_label,
           list_cosine_similarity(e.v, c.cv) AS cos
    FROM e CROSS JOIN cent c
)
SELECT vec_id, label, c_label AS assigned_label, round(cos, 6) AS cos
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rnk
    FROM scored
)
WHERE rnk = 1
"""


@register("sim_label_centroids", _CENTROIDS_SQL)
def q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.label_centroid_assignment(load_table(spark, sf_dir, "embeddings"))


# BLAS kernels carry the SAME oracles as their expression-tree twins:
# both round to 6 decimals before any thresholding/ranking, and
# round-6 parity is additionally pinned in tests/test_similarity_blas.py
@register("sim_cosine_topk_blas", _TOPK_SQL)
def q_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.similarity_blas import (
        cosine_topk_blas,
    )

    return cosine_topk_blas(load_table(spark, sf_dir, "embeddings"))


@register("dedup_embedding_cosine_blas", _EMB_DUP_SQL)
def q_emb_dup_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.similarity_blas import (
        embedding_dup_pairs_blas,
    )

    return embedding_dup_pairs_blas(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3
    )


_GOPHER_SQL = """
WITH base AS (
    SELECT doc_id,
           string_split(text, ' ') AS t,
           length(replace(text, ' ', '')) AS chars
    FROM documents
),
freq AS (
    SELECT doc_id, max(c) AS top_cnt
    FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(t) AS tok FROM base)
        GROUP BY doc_id, tok
    )
    GROUP BY doc_id
),
met AS (
    SELECT b.doc_id,
           round(b.chars * 1.0 / len(b.t), 6) AS mean_word_len,
           round(f.top_cnt * 1.0 / len(b.t), 6) AS top_token_ratio,
           CASE WHEN len(b.t) > 1
                THEN round(1.0
                     - len(list_distinct(list_transform(
                           range(1, len(b.t)),
                           i -> b.t[i] || ' ' || b.t[i + 1]))) * 1.0
                       / (len(b.t) - 1), 6)
                ELSE 0.0 END AS dup_bigram_ratio
    FROM base b JOIN freq f ON b.doc_id = f.doc_id
)
SELECT doc_id, mean_word_len, top_token_ratio, dup_bigram_ratio,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND top_token_ratio <= 0.20
        AND dup_bigram_ratio <= 0.50) AS keep
FROM met
"""


@register("text_gopher_flags", _GOPHER_SQL)
def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.gopher_quality_flags(load_table(spark, sf_dir, "documents"))


_QUANT_SQL = """
WITH s AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           len(embedding) AS d
    FROM embeddings
),
q AS (
    SELECT vec_id, d,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale,
           v
    FROM s
),
e AS (
    SELECT vec_id, d, scale,
           list_transform(v, x -> abs(x - round(x / scale) * scale)) AS errs
    FROM q
)
SELECT vec_id,
       d AS n_dims,
       round(scale, 9) AS scale,
       round(list_max(errs), 9) AS max_abs_err,
       round(list_sum(list_transform(errs, x -> x * x)) / d, 12) AS mse
FROM e
"""


@register("emb_quantize_int8", _QUANT_SQL)
def q_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.quantize_int8(load_table(spark, sf_dir, "embeddings"))


_DECON_BUCKET = _bucket_sql("CAST(doc_id AS VARCHAR)", "decon")

_DECON_SQL = f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS t,
           ({_DECON_BUCKET} < 6553) AS is_eval
    FROM documents
),
sh AS (
    SELECT doc_id, is_eval,
           unnest(list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS shingle
    FROM base
),
ev AS (SELECT doc_id AS eval_doc, shingle FROM sh WHERE is_eval),
tr AS (SELECT doc_id AS train_doc, shingle FROM sh WHERE NOT is_eval),
sz AS (SELECT eval_doc, count(*) AS sz FROM ev GROUP BY 1),
inter AS (
    SELECT eval_doc, train_doc, count(*) AS c
    FROM ev JOIN tr USING (shingle) GROUP BY 1, 2
),
best AS (
    SELECT eval_doc, train_doc, containment FROM (
        SELECT i.eval_doc, i.train_doc,
               round(i.c * 1.0 / s.sz, 6) AS containment,
               row_number() OVER (
                   PARTITION BY i.eval_doc
                   ORDER BY round(i.c * 1.0 / s.sz, 6) DESC, i.train_doc
               ) AS rn
        FROM inter i JOIN sz s USING (eval_doc)
    ) WHERE rn = 1
)
SELECT b.doc_id AS eval_doc,
       best.train_doc,
       coalesce(best.containment, 0.0) AS max_containment,
       coalesce(best.containment, 0.0) >= 0.5 AS contaminated
FROM (SELECT doc_id FROM base WHERE is_eval) b
LEFT JOIN best ON b.doc_id = best.eval_doc
"""


@register("decontaminate_eval_overlap", _DECON_SQL)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.decontaminate(
        load_table(spark, sf_dir, "documents"), n=3, eval_rate=0.1,
        threshold=0.5, salt="decon",
    )


_MIX_SQL = """
WITH agg AS (
    SELECT source, sum(CAST(n_chars AS DOUBLE)) AS mass,
           count(*) AS docs
    FROM documents GROUP BY source
)
SELECT source, docs,
       round(mass / sum(mass) OVER (), 6) AS actual_share,
       round(1.0 / count(*) OVER (), 6) AS target_share,
       round((1.0 / count(*) OVER ()) / (mass / sum(mass) OVER ()), 6)
           AS mix_weight
FROM agg
ORDER BY source
"""


@register("source_mixing_weights", _MIX_SQL)
def q_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.sampling import (
        source_mixing_weights,
    )

    return source_mixing_weights(load_table(spark, sf_dir, "documents"))


_DECON_PIPELINE_SQL = f"""
WITH base AS (
    SELECT doc_id, source, n_chars, string_split(text, ' ') AS t,
           ({_DECON_BUCKET} < 6553) AS is_eval
    FROM documents
),
sh AS (
    SELECT doc_id, is_eval,
           unnest(list_distinct(list_transform(
               range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS shingle
    FROM base
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE is_eval),
dirty AS (
    SELECT doc_id FROM (
        SELECT s.doc_id, count(*) AS c
        FROM sh s JOIN ev USING (shingle)
        WHERE NOT s.is_eval
        GROUP BY s.doc_id
    ) WHERE c >= 3
),
train AS (SELECT * FROM base WHERE NOT is_eval),
kept AS (
    SELECT source, count(*) AS kept_docs,
           CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS kept_chars
    FROM train WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
    GROUP BY source
),
drp AS (
    SELECT source, count(*) AS dropped_docs
    FROM train WHERE doc_id IN (SELECT doc_id FROM dirty)
    GROUP BY source
)
SELECT coalesce(k.source, d.source) AS source,
       CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs,
       CAST(coalesce(k.kept_chars, 0) AS BIGINT) AS kept_chars,
       CAST(coalesce(d.dropped_docs, 0) AS BIGINT) AS dropped_docs
FROM kept k FULL OUTER JOIN drp d ON k.source = d.source
ORDER BY 1
"""


@register("pipeline_decontaminated_corpus", _DECON_PIPELINE_SQL)
def q_decon_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination REMOVAL end to end: md5-bucket eval split →
    flag train docs sharing ≥3 distinct 3-gram shingles with the eval
    set → LEFT ANTI join the dirty docs away → per-source rollup of
    the surviving corpus."""
    return D.decontaminated_corpus_stats(
        load_table(spark, sf_dir, "documents"), n=3, eval_rate=0.1,
        min_shared=3, salt="decon",
    )


@register("heavy_hitters_cms")  # rows-only: xxhash64 buckets are
# engine-native; never-underestimate + merge invariants pinned in
# tests/test_sketches.py
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over document bigrams: build the
    bounded-size sketch table, probe the distinct bigrams, emit the
    top 20 by estimated count (ties broken by key for determinism).
    At 100 TB the sketch is depth×width rows regardless of corpus
    size and merges by summation across partitions/days."""
    from realtime_analytics_pipeline_spark.functions.text import tokens
    from realtime_analytics_pipeline_spark.operators.sketches import (
        cm_build,
        cm_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    sketch = cm_build(bigrams, "bigram", depth=4, width=256)
    est = cm_estimate(sketch, bigrams, "bigram", depth=4, width=256)
    return est.orderBy(F.col("est_count").desc(), F.col("bigram")).limit(20)


# --------------------------------------------------------------------------
# Substring-level dedup signals (Lee et al. 2022 style)
# --------------------------------------------------------------------------

_DUP_NGRAM_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 4
                THEN list_transform(range(0, len(t) - 3),
                     i -> array_to_string(t[i+1:i+4], ' '))
                ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM toks),
per_doc AS (SELECT doc_id, gram, count(*) AS occ FROM pos GROUP BY 1, 2),
dfreq AS (SELECT gram, count(*) AS df FROM per_doc GROUP BY 1),
stats AS (
  SELECT doc_id, sum(occ) AS n_grams,
         sum(CASE WHEN df >= 2 THEN occ ELSE 0 END) AS n_dup_grams
  FROM per_doc JOIN dfreq USING (gram) GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       round(CASE WHEN coalesce(n_grams, 0) > 0
             THEN n_dup_grams * 1.0 / n_grams ELSE 0.0 END, 6)
           AS dup_fraction
FROM documents d LEFT JOIN stats USING (doc_id)
"""


@register("text_dup_ngram_fraction", _DUP_NGRAM_SQL)
def q_dup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus duplicated-4-gram fraction per document — the
    substring-granularity dedup signal (inverted-index join, no
    all-pairs term)."""
    return T.dup_ngram_stats(load_table(spark, sf_dir, "documents"), n=4)


_BOILER_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(t) / 2.0) AS BIGINT)),
                i -> struct_pack(pos := i,
                     chunk_text := array_to_string(t[i*2+1:i*2+2], ' ')))) AS s
  FROM toks),
p2 AS (SELECT doc_id, s.pos AS pos, s.chunk_text AS chunk_text FROM pos),
boiler AS (
  SELECT chunk_text FROM (
    SELECT chunk_text, count(DISTINCT doc_id) AS df FROM p2 GROUP BY 1)
  WHERE df >= (SELECT count(DISTINCT doc_id) FROM documents) * 0.04)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN b.chunk_text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       coalesce(string_agg(CASE WHEN b.chunk_text IS NULL
                           THEN p2.chunk_text END, ' ' ORDER BY pos), '')
           AS text_clean
FROM p2 LEFT JOIN boiler b USING (chunk_text)
GROUP BY doc_id
"""


@register("text_boilerplate_chunks", _BOILER_SQL)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document boilerplate removal (2-token chunks
    standing in for lines on the line-less corpus; RELATIVE ≥4%-of-docs
    threshold so the same code is meaningful at any corpus size)."""
    return T.boilerplate_chunks(
        load_table(spark, sf_dir, "documents"), chunk=2, doc_frac=0.04
    )


_KS_SQL = """
WITH gv AS (
    SELECT source, n_chars AS v, count(*) AS c
    FROM documents GROUP BY 1, 2),
pooled AS (SELECT v, sum(c) AS pc FROM gv GROUP BY 1),
pooled_cum AS (
    SELECT v, sum(pc) OVER (ORDER BY v
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pc
    FROM pooled),
groups AS (SELECT source, sum(c) AS ng FROM gv GROUP BY 1),
nn AS (SELECT sum(pc) AS nn FROM pooled),
ecdf AS (
    SELECT g.source, g.ng, p.cum_pc,
           sum(coalesce(gv.c, 0)) OVER (PARTITION BY g.source ORDER BY p.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
    FROM groups g
    CROSS JOIN pooled_cum p
    LEFT JOIN gv ON gv.source = g.source AND gv.v = p.v)
SELECT source,
       CAST(max(ng) AS BIGINT) AS n_rows,
       round(max(abs(cum_c * 1.0 / ng - cum_pc * 1.0 / nn)), 6) + 0.0 AS ks
FROM ecdf, nn
GROUP BY source
"""


@register("docs_length_ks_by_source", _KS_SQL)
def q_ks_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample KS statistic of the doc-length
    distribution vs the pooled corpus — drift detection between
    training-data sources, computed entirely on the aggregated
    (source, length) grid."""
    from realtime_analytics_pipeline_spark.operators.curation import (
        ks_drift_by_group,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("v")
    )
    out = ks_drift_by_group(docs, "source", "v")
    return out.select("source", "n_rows", "ks")


# Loop-unrolled greedy MMR (k=5, lambda=1/2) — selection compares
# INTEGERIZED (x1e6) rounded similarities, so argmax is exact integer
# arithmetic in both engines. Stage r's candidate score is
# rel_int - max(sim_int over the r-1 already-selected docs).
_MMR_SQL = """
WITH q AS (
    SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
    SELECT qid, vec_id AS nid,
           round(list_cosine_similarity(qv, v), 6) AS rel, v
    FROM q, c WHERE vec_id != qid),
cand AS (
    SELECT qid, nid, rel,
           CAST(round(rel * 1e6) AS BIGINT) AS rel_int, v
    FROM (SELECT *, row_number() OVER (
              PARTITION BY qid ORDER BY rel DESC, nid) AS rn
          FROM scored)
    WHERE rn <= 20),
sims AS (
    SELECT a.qid, a.nid AS i, b.nid AS j,
           CAST(round(round(list_cosine_similarity(a.v, b.v), 6) * 1e6)
                AS BIGINT) AS s_int
    FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid != b.nid),
s1 AS (
    SELECT qid, nid, rel FROM (
        SELECT qid, nid, rel, row_number() OVER (
            PARTITION BY qid ORDER BY rel_int DESC, nid) AS rn
        FROM cand) WHERE rn = 1),
sel1 AS (SELECT qid, nid FROM s1),
s2 AS (
    SELECT qid, nid, rel FROM (
        SELECT c.qid, c.nid, c.rel, row_number() OVER (
            PARTITION BY c.qid ORDER BY c.rel_int - m.ms DESC, c.nid) AS rn
        FROM cand c
        JOIN (SELECT sims.qid, sims.i AS nid, max(s_int) AS ms
              FROM sims JOIN sel1 ON sims.qid = sel1.qid
                                  AND sims.j = sel1.nid
              GROUP BY 1, 2) m ON m.qid = c.qid AND m.nid = c.nid
        WHERE NOT EXISTS (SELECT 1 FROM sel1
                          WHERE sel1.qid = c.qid AND sel1.nid = c.nid)
    ) WHERE rn = 1),
sel2 AS (SELECT qid, nid FROM sel1 UNION ALL SELECT qid, nid FROM s2),
s3 AS (
    SELECT qid, nid, rel FROM (
        SELECT c.qid, c.nid, c.rel, row_number() OVER (
            PARTITION BY c.qid ORDER BY c.rel_int - m.ms DESC, c.nid) AS rn
        FROM cand c
        JOIN (SELECT sims.qid, sims.i AS nid, max(s_int) AS ms
              FROM sims JOIN sel2 ON sims.qid = sel2.qid
                                  AND sims.j = sel2.nid
              GROUP BY 1, 2) m ON m.qid = c.qid AND m.nid = c.nid
        WHERE NOT EXISTS (SELECT 1 FROM sel2
                          WHERE sel2.qid = c.qid AND sel2.nid = c.nid)
    ) WHERE rn = 1),
sel3 AS (SELECT qid, nid FROM sel2 UNION ALL SELECT qid, nid FROM s3),
s4 AS (
    SELECT qid, nid, rel FROM (
        SELECT c.qid, c.nid, c.rel, row_number() OVER (
            PARTITION BY c.qid ORDER BY c.rel_int - m.ms DESC, c.nid) AS rn
        FROM cand c
        JOIN (SELECT sims.qid, sims.i AS nid, max(s_int) AS ms
              FROM sims JOIN sel3 ON sims.qid = sel3.qid
                                  AND sims.j = sel3.nid
              GROUP BY 1, 2) m ON m.qid = c.qid AND m.nid = c.nid
        WHERE NOT EXISTS (SELECT 1 FROM sel3
                          WHERE sel3.qid = c.qid AND sel3.nid = c.nid)
    ) WHERE rn = 1),
sel4 AS (SELECT qid, nid FROM sel3 UNION ALL SELECT qid, nid FROM s4),
s5 AS (
    SELECT qid, nid, rel FROM (
        SELECT c.qid, c.nid, c.rel, row_number() OVER (
            PARTITION BY c.qid ORDER BY c.rel_int - m.ms DESC, c.nid) AS rn
        FROM cand c
        JOIN (SELECT sims.qid, sims.i AS nid, max(s_int) AS ms
              FROM sims JOIN sel4 ON sims.qid = sel4.qid
                                  AND sims.j = sel4.nid
              GROUP BY 1, 2) m ON m.qid = c.qid AND m.nid = c.nid
        WHERE NOT EXISTS (SELECT 1 FROM sel4
                          WHERE sel4.qid = c.qid AND sel4.nid = c.nid)
    ) WHERE rn = 1)
SELECT qid AS query_id, CAST(1 AS INTEGER) AS rnk, nid AS neighbor_id, rel
FROM s1
UNION ALL SELECT qid, 2, nid, rel FROM s2
UNION ALL SELECT qid, 3, nid, rel FROM s3
UNION ALL SELECT qid, 4, nid, rel FROM s4
UNION ALL SELECT qid, 5, nid, rel FROM s5
"""


@register("sim_mmr_rerank", _MMR_SQL)
def q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-5 via greedy Maximal Marginal Relevance over the
    exact top-20 cosine candidates (λ = ½) — declarative candidate
    generation + bounded per-query Arrow-path selection."""
    return S.mmr_rerank(load_table(spark, sf_dir, "embeddings"))


def _pq_oracle_sql(m: int = 4, k: int = 4, iterations: int = 2,
                   dims: int = 64) -> str:
    """Loop-unrolled DuckDB twin of similarity.pq_quantize: per
    subspace, fixed-init L2 k-means (subvectors of the k smallest
    vec_ids, argmin ties by centroid id). Squared distances are an
    index-ordered sequential sum on BOTH engines (list_zip fold here,
    F.aggregate fold in Spark) so the argmin sees identical doubles."""
    sub = dims // m
    sq = ("list_sum(list_transform(list_zip({a}, {b}), "
          "s -> (s[1] - s[2]) * (s[1] - s[2])))")
    ctes = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        ctes.append(
            f"e{j} AS (SELECT vec_id, (embedding::DOUBLE[])[{lo}:{hi}] AS v "
            f"FROM embeddings)"
        )
        ctes.append(
            f"c{j}_0 AS (SELECT vec_id AS cluster, v AS cv FROM e{j} "
            f"ORDER BY vec_id LIMIT {k})"
        )
        for i in range(1, iterations + 1):
            d = sq.format(a="e.v", b="c.cv")
            ctes.append(f"""a{j}_{i} AS (
  SELECT vec_id, cluster, v, dist FROM (
    SELECT e.vec_id, c.cluster, e.v, {d} AS dist,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {d} ASC, c.cluster) AS rn
    FROM e{j} e CROSS JOIN c{j}_{i - 1} c
  ) WHERE rn = 1
)""")
            if i < iterations:
                ctes.append(f"""m{j}_{i} AS (
  SELECT cluster, list(mu ORDER BY d) AS ml FROM (
    SELECT cluster, d, avg(v[d]) AS mu
    FROM a{j}_{i}, (SELECT unnest(range(1, {sub + 1})) AS d)
    GROUP BY 1, 2
  ) GROUP BY 1
)""")
                ctes.append(
                    f"c{j}_{i} AS (SELECT cluster, ml AS cv FROM m{j}_{i})"
                )
    codes = ", ".join(
        f"a{j}.cluster AS code{j}" for j in range(m)
    )
    err = " + ".join(f"a{j}.dist" for j in range(m))
    joins = f"a0_{iterations} a0" + "".join(
        f" JOIN a{j}_{iterations} a{j} USING (vec_id)" for j in range(1, m)
    )
    final = (
        f"SELECT a0.vec_id, {codes}, round(sqrt({err}), 6) AS recon_err\n"
        f"FROM {joins}"
    )
    return "WITH " + ",\n".join(ctes) + "\n" + final


@register("emb_pq_codes", _pq_oracle_sql())
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (m=4 subspaces, k=4 codes, deterministic
    L2 k-means codebooks) with per-vector reconstruction error — the
    byte-per-subvector compression step of an IVF-PQ index."""
    from realtime_analytics_pipeline_spark.operators.similarity import (
        pq_quantize,
    )

    return pq_quantize(load_table(spark, sf_dir, "embeddings"))


_UNIGRAM_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
vocab AS (SELECT tok, sum(c) AS cf FROM tf GROUP BY 1),
tot AS (SELECT sum(cf) AS tot FROM vocab)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       round(sum(c * -ln(cf * 1.0 / tot)) / sum(c), 6) + 0.0
           AS avg_neg_logprob,
       round(exp(round(sum(c * -ln(cf * 1.0 / tot)) / sum(c), 6)), 6)
           AS ppl
FROM tf JOIN vocab USING (tok), tot
GROUP BY doc_id
"""


@register("text_unigram_logprob", _UNIGRAM_SQL)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: train token probabilities on
    the corpus itself, score each doc by mean negative log-probability
    and its exp (perplexity) — the KenLM-style quality-filter analog.
    The LM is the vocabulary-sized (token, count) table; scoring is an
    AQE-sized join back, never a per-doc model object."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = tf.groupBy("tok").agg(F.sum("c").alias("cf"))
    tot = vocab.agg(F.sum("cf").alias("tot"))
    scored = tf.join(vocab, "tok").crossJoin(F.broadcast(tot))
    neg_ll = F.col("c") * -F.log(F.col("cf") * F.lit(1.0) / F.col("tot"))
    avg = F.round(F.sum(neg_ll) / F.sum("c"), 6)
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        (avg + F.lit(0.0)).alias("avg_neg_logprob"),
        F.round(F.exp(avg), 6).alias("ppl"),
    )


_NORMALIZE_SQL = """
SELECT doc_id,
       regexp_replace(trim(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ',
                                                'g'))),
                      ' +', ' ', 'g') AS text_norm,
       md5(regexp_replace(trim(lower(regexp_replace(text, '[^a-zA-Z0-9 ]',
                                                    ' ', 'g'))),
                          ' +', ' ', 'g')) AS norm_fp,
       length(text) - length(regexp_replace(trim(lower(regexp_replace(text,
           '[^a-zA-Z0-9 ]', ' ', 'g'))), ' +', ' ', 'g')) AS chars_removed
FROM documents
"""


@register("text_normalize", _NORMALIZE_SQL)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (lowercase, strip non-alphanumerics,
    collapse whitespace, trim) + normalized fingerprint — the
    pre-dedup canonicalization pass; pure Column regexps, map-only."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.trim(
            F.lower(F.regexp_replace("text", r"[^a-zA-Z0-9 ]", " "))
        ),
        r" +",
        " ",
    )
    return docs.select(
        "doc_id",
        norm.alias("text_norm"),
        F.md5(norm).alias("norm_fp"),
        (F.length("text") - F.length(norm)).alias("chars_removed"),
    )


# Agreement between the two near-dup modalities: token-set Jaccard
# pairs vs embedding cosine of the same id pairs (doc_id == vec_id in
# the synthetic corpus).
_MODALITY_SQL = """
WITH capped AS (
    -- md5-ordered fixed cap (round-13; does not bind at the driver
    -- gate SFs): the uncapped unigram inverted-index self-join is
    -- replay-infeasible at sf1 (hot shingles make it quadratic)
    SELECT * FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 2000),
sh AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS shingle
    FROM capped),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2),
pairs AS (
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.9)
SELECT doc_a, doc_b, jaccard,
       round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                    eb.embedding::DOUBLE[]), 6) + 0.0e0
           AS cos,
       round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                    eb.embedding::DOUBLE[]), 6) >= 0.9
           AS emb_agrees
FROM pairs
JOIN embeddings ea ON ea.vec_id = doc_a
JOIN embeddings eb ON eb.vec_id = doc_b
"""


@register("dedup_modality_agreement", _MODALITY_SQL)
def q_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality dedup verification: every token-set Jaccard
    candidate pair is re-scored with embedding cosine (id-joined to the
    embedding table) and flagged where the second modality confirms.
    The join is pair-keyed — candidate-set-sized, not corpus-sized.
    Round-13: the pair-forming doc set rides the md5-ordered 2000-doc
    cap (the dedup_tokenset_jaccard convention; non-binding at driver
    SFs) so the exact-verifier oracle replays at any SF — LSH remains
    the uncapped scale path."""
    from realtime_analytics_pipeline_spark.functions.vectors import (
        as_double,
        unit,
    )
    from realtime_analytics_pipeline_spark.functions.vectors import dot

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.join(
        F.broadcast(
            docs.select("doc_id")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
            .limit(2000)
        ),
        "doc_id",
        "left_semi",
    )
    pairs = D.jaccard_pairs(docs, n=1, threshold=0.9)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", unit(as_double("embedding")).alias("v")
    )
    cos = F.round(dot(F.col("va"), F.col("vb")), 6)
    return (
        pairs.join(
            emb.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va")),
            "doc_a",
        )
        .join(
            emb.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            # + 0.0 canonicalizes -0.0 (a zero cosine of orthogonal
            # vectors rounds to -0.0 on one engine and 0.0 on the
            # other — found by the sf0.3 scale gate, round-12)
            (cos + F.lit(0.0)).alias("cos"),
            (cos >= 0.9).alias("emb_agrees"),
        )
    )


@register("sim_ivfpq_topk")  # rows-only: approximate on probe AND PQ axes
def q_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ compressed-domain ANN: coarse probing + product-quantized
    reconstruction scoring; recall vs the exact baseline pinned in
    tests/test_ann_quality.py."""
    from realtime_analytics_pipeline_spark.operators.clustering import (
        ivfpq_topk,
    )

    return ivfpq_topk(
        load_table(spark, sf_dir, "embeddings"),
        cells=_kmeans_cells(spark, sf_dir, k=8, iterations=2),
    )


_BUDGET_SQL = """
WITH scored AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           round(len(list_distinct(string_split(text, ' '))) * 1.0
                 / len(string_split(text, ' ')), 6) AS quality
    FROM documents),
ranked AS (
    SELECT doc_id, n_tokens, quality,
           sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
    FROM scored)
SELECT doc_id, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked WHERE cum_tokens <= 5000
"""


@register("corpus_budget_selection", _BUDGET_SQL)
def q_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: greedy highest-quality-first
    (type-token ratio as the quality proxy) under a hard cumulative
    token budget — the data-selection step when training capacity is
    fixed. The cumulative window runs over the doc-level aggregate;
    ties break by doc_id so the cut is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.size(toks).cast("double"), 6
        ).alias("quality"),
    )
    w = Window.orderBy(F.col("quality").desc(), F.col("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .where(F.col("cum_tokens") <= 5000)
        .select("doc_id", "n_tokens", "quality", "cum_tokens")
    )


_CONTRASTIVE_SQL = """
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding::DOUBLE[], x -> x /
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[]))) AS v
    FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
      FROM e WHERE vec_id < 20),
scored AS (
    SELECT query_id, qlabel, vec_id AS cand_id, label AS clabel,
           round(list_dot_product(qv, v), 6) AS cos
    FROM q, e WHERE vec_id != query_id),
pos AS (
    SELECT query_id, cand_id AS pos_id, cos AS pos_cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id) AS rn
        FROM scored WHERE clabel = qlabel) WHERE rn = 1),
neg AS (
    SELECT query_id, cand_id AS neg_id, cos AS neg_cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, cand_id) AS rn
        FROM scored WHERE clabel != qlabel) WHERE rn = 1)
SELECT query_id, pos_id, pos_cos, neg_id, neg_cos,
       round(pos_cos - neg_cos, 6) AS margin
FROM pos JOIN neg USING (query_id)
"""


@register("emb_contrastive_pairs", _CONTRASTIVE_SQL)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining: per anchor, the hardest
    positive (nearest same-label) and hardest negative (nearest
    other-label) with the margin between them — the triplet-mining
    step of embedding training, as one broadcast-join pass + two
    per-anchor top-1 windows."""
    from realtime_analytics_pipeline_spark.functions.vectors import (
        as_double,
        dot,
        unit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", unit(as_double("embedding")).alias("v")
    )
    q = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
    )
    scored = e.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "qlabel",
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("clabel"),
        F.round(dot(F.col("qv"), F.col("v")), 6).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("cand_id")
    )
    pos = (
        scored.where(F.col("clabel") == F.col("qlabel"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("pos_id"),
            F.col("cos").alias("pos_cos"),
        )
    )
    neg = (
        scored.where(F.col("clabel") != F.col("qlabel"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("neg_id"),
            F.col("cos").alias("neg_cos"),
        )
    )
    return pos.join(neg, "query_id").select(
        "query_id",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_cos",
        F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
    )


_SLIDING_CHUNKS_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(
             range(0, CAST(greatest(1, ceil((len(t) - 32) / 24.0) + 1)
                      AS BIGINT)),
             i -> struct_pack(
                 chunk_idx := i,
                 start_tok := i * 24,
                 chunk_text := array_to_string(t[i*24+1:i*24+32], ' ')))) AS s
  FROM toks)
SELECT doc_id, s.chunk_idx AS chunk_idx, s.start_tok AS start_tok,
       s.chunk_text AS chunk_text,
       len(string_split(s.chunk_text, ' ')) AS chunk_tokens
FROM chunks
WHERE s.chunk_text != ''
"""


@register("text_sliding_chunks", _SLIDING_CHUNKS_SQL)
def q_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-document chunking into OVERLAPPING context windows (32
    tokens, stride 24 → 8-token overlap) — the embedding-ingest
    preprocessing step for documents longer than the model context.
    Chunk count per doc is ceil((n−W)/S)+1 so the tail is always
    covered; map-only explode, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    window, stride = 32, 24
    toks = F.split(F.col("text"), " ")
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(toks) - window) / F.lit(float(stride))) + 1,
    ).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            (i * stride).alias("start_tok"),
            F.concat_ws(
                " ", F.slice(toks, i * stride + 1, window)
            ).alias("chunk_text"),
        ),
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("s"))
        .select(
            "doc_id",
            F.col("s.chunk_idx").alias("chunk_idx"),
            F.col("s.start_tok").alias("start_tok"),
            F.col("s.chunk_text").alias("chunk_text"),
        )
        .where(F.col("chunk_text") != "")
        .withColumn(
            "chunk_tokens", F.size(F.split("chunk_text", " ")).cast("long")
        )
    )


_BALANCED_SQL = """
WITH ranked AS (
    SELECT vec_id, label,
           row_number() OVER (
               PARTITION BY label
               ORDER BY md5('bal' || CAST(vec_id AS VARCHAR)), vec_id)
               AS rn
    FROM embeddings)
SELECT vec_id, label, rn FROM ranked WHERE rn <= 20
"""


@register("emb_balanced_sample", _BALANCED_SQL)
def q_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: exactly ≤20 vectors per label,
    chosen by deterministic md5 order — the class-rebalancing step
    before training on skewed label distributions. One shuffle keyed
    on label; the md5 sort replaces an RNG so every engine and every
    run picks the same sample."""
    emb = load_table(spark, sf_dir, "embeddings")
    h = F.md5(F.concat(F.lit("bal"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("label").orderBy(h, "vec_id")
    return (
        emb.select("vec_id", "label")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
    )


_LANGID_EVAL_SQL = f"""
WITH pred AS (
    SELECT doc_id, lang AS labeled,
           CASE WHEN len({_SW}) * 1.0 / len({_SPLIT}) >= 0.02
                THEN 'en' ELSE 'und' END AS predicted
    FROM documents),
cm AS (
    SELECT labeled, predicted, count(*) AS n
    FROM pred GROUP BY 1, 2)
SELECT labeled, predicted, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY labeled), 6)
           AS recall_share,
       round(n * 1.0 / sum(n) OVER (PARTITION BY predicted), 6)
           AS precision_share
FROM cm
"""


@register("text_langid_confusion", _LANGID_EVAL_SQL)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation in-engine: confusion matrix of the
    language-ID heuristic against the labeled column, with per-cell
    recall (row-normalized) and precision (column-normalized) shares —
    the model-quality reporting step of a filtering pipeline, all on
    the class-cardinality-sized aggregate."""
    from realtime_analytics_pipeline_spark.operators import (
        text_analysis as TA,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pred = TA.language_id(docs).select(
        F.col("labeled_lang").alias("labeled"),
        F.col("pred_lang").alias("predicted"),
    )
    cm = pred.groupBy("labeled", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    wl = Window.partitionBy("labeled")
    wp = Window.partitionBy("predicted")
    return cm.select(
        "labeled",
        "predicted",
        "n",
        F.round(F.col("n") / F.sum("n").over(wl), 6).alias("recall_share"),
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias(
            "precision_share"
        ),
    )


# --------------------------------------------------------------------------
# Capstone composition: the FULL curation pipeline over the new ops.
# --------------------------------------------------------------------------

_FULL_PIPE_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pos AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(ceil(len(t) / 2.0) AS BIGINT)),
                i -> struct_pack(pos := i,
                     chunk_text := array_to_string(t[i*2+1:i*2+2], ' ')))) AS s
  FROM toks),
p2 AS (SELECT doc_id, s.pos AS pos, s.chunk_text AS chunk_text FROM pos),
boiler AS (
  SELECT chunk_text FROM (
    SELECT chunk_text, count(DISTINCT doc_id) AS df FROM p2 GROUP BY 1)
  WHERE df >= (SELECT count(DISTINCT doc_id) FROM documents) * 0.04),
cleaned AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN b.chunk_text IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN b.chunk_text IS NULL
                             THEN p2.chunk_text END, ' ' ORDER BY pos), '')
             AS text
  FROM p2 LEFT JOIN boiler b USING (chunk_text)
  GROUP BY doc_id),
kept AS (SELECT doc_id, text FROM cleaned WHERE n_kept >= 5),
dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, row_number() OVER (
        PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1),
tf AS (
  SELECT doc_id, tok, count(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM dedup)
  GROUP BY 1, 2),
vocab AS (SELECT tok, sum(c) AS cf FROM tf GROUP BY 1),
tot AS (SELECT sum(cf) AS tot FROM vocab),
lm AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         round(sum(c * -ln(cf * 1.0 / tot)) / sum(c), 6) + 0.0 AS nll
  FROM tf JOIN vocab USING (tok), tot GROUP BY doc_id),
qual AS (
  SELECT d.doc_id, l.n_tokens, l.nll,
         round(len(list_distinct(string_split(d.text, ' '))) * 1.0
               / len(string_split(d.text, ' ')), 6) AS quality
  FROM dedup d JOIN lm l USING (doc_id)),
sel AS (
  SELECT doc_id, n_tokens, nll, quality,
         sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_tokens
  FROM qual)
SELECT doc_id, n_tokens, quality, nll,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM sel WHERE cum_tokens <= 3000
"""


@register("pipeline_curation_full", _FULL_PIPE_SQL)
def q_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composed distributed query:
    boilerplate-chunk removal → min-length gate (≥5 kept chunks) →
    exact dedup on the CLEANED text → corpus-trained unigram LM
    scoring of the survivors → greedy token-budget selection. Every
    stage is an independently-oracled operator; this gates the
    end-to-end composition (what a reference user actually runs)."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = T.boilerplate_chunks(docs, chunk=2, doc_frac=0.04)
    kept = cleaned.where(F.col("n_kept") >= 5).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    wd = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = (
        kept.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    toks = dedup.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = tf.groupBy("tok").agg(F.sum("c").alias("cf"))
    tot = vocab.agg(F.sum("cf").alias("tot"))
    neg_ll = F.col("c") * -F.log(F.col("cf") * F.lit(1.0) / F.col("tot"))
    lm = (
        tf.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            (F.round(F.sum(neg_ll) / F.sum("c"), 6) + F.lit(0.0)).alias(
                "nll"
            ),
        )
    )
    dtoks = F.split(F.col("text"), " ")
    qual = dedup.join(lm, "doc_id").select(
        "doc_id",
        "n_tokens",
        "nll",
        F.round(
            F.size(F.array_distinct(dtoks)) / F.size(dtoks).cast("double"),
            6,
        ).alias("quality"),
    )
    wsel = Window.orderBy(F.col("quality").desc(), F.col("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        qual.withColumn("cum_tokens", F.sum("n_tokens").over(wsel))
        .where(F.col("cum_tokens") <= 3000)
        .select("doc_id", "n_tokens", "quality", "nll", "cum_tokens")
    )


_VOCAB_GROWTH_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
firsts AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY 1),
doc_tokens AS (
    SELECT doc_id // 50 AS bucket, count(*) AS n FROM toks GROUP BY 1),
new_vocab AS (
    SELECT first_doc // 50 AS bucket, count(*) AS v FROM firsts GROUP BY 1),
grid AS (
    SELECT d.bucket,
           sum(d.n) AS bucket_tokens,
           coalesce(max(nv.v), 0) AS bucket_new_vocab
    FROM doc_tokens d LEFT JOIN new_vocab nv ON nv.bucket = d.bucket
    GROUP BY 1)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(sum(bucket_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(sum(bucket_new_vocab) OVER w AS BIGINT) AS vocab_size
FROM grid
WINDOW w AS (ORDER BY bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register("docs_vocab_growth", _VOCAB_GROWTH_SQL)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve WITHOUT quadratic prefix
    scans: a token joins the vocabulary at its FIRST document, so
    cumulative distinct = running sum of first-occurrence counts per
    50-doc bucket — two aggregations and a bounded window, where the
    naive formulation re-counts distinct over every growing prefix."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    doc_tokens = toks.groupBy(
        (F.col("doc_id") / 50).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    new_vocab = firsts.groupBy(
        (F.col("first_doc") / 50).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("v"))
    grid = (
        doc_tokens.join(new_vocab, "bucket", "left")
        .select(
            "bucket",
            F.col("n").alias("bucket_tokens"),
            F.coalesce("v", F.lit(0)).alias("bucket_new_vocab"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.select(
        "bucket",
        F.sum("bucket_tokens").over(w).alias("cum_tokens"),
        F.sum("bucket_new_vocab").over(w).alias("vocab_size"),
    )


_ZIPF_SQL = """
WITH freq AS (
    SELECT tok, count(*) AS f FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY 1),
ranked AS (
    SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM freq)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       round(regr_slope(ln(f), ln(r)), 6) + 0.0 AS zipf_slope,
       round(regr_r2(ln(f), ln(r)), 6) AS r2
FROM ranked
"""


@register("docs_zipf_fit", _ZIPF_SQL)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of log-frequency vs log-rank over the
    corpus vocabulary (a true Zipfian corpus slopes ≈ −1) — corpus
    health statistics on the vocabulary-sized aggregate; the rank
    window is vocabulary-sized, never token-stream-sized."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.orderBy(F.col("f").desc(), F.col("tok"))
    ranked = freq.select("f", F.row_number().over(w).alias("r"))
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        (
            F.round(
                F.expr("regr_slope(ln(f), ln(r))"), 6
            )
            + F.lit(0.0)
        ).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(f), ln(r))"), 6).alias("r2"),
    )


# Cluster-size distribution over the same bounded CC subgraph: the
# "how much mass do dup clusters hold" report a dedup run ends with.
_CC_SIZES_SQL = _CC_SQL.replace(
    """SELECT u AS vertex,
       min(comp) AS component,
       (u = min(comp)) AS is_representative
FROM reach GROUP BY u""",
    """, comps AS (SELECT u, min(comp) AS component FROM reach GROUP BY u),
szs AS (SELECT component, count(*) AS cluster_size FROM comps GROUP BY 1)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM szs GROUP BY cluster_size""",
)


@register("dedup_cluster_sizes", _CC_SIZES_SQL)
def q_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (how many clusters of each
    size, how many docs they hold) — the summary a dedup pass reports;
    same bounded subgraph discipline as dedup_connected_components."""
    from realtime_analytics_pipeline_spark.operators.clustering import (
        connected_components_bounded,
    )

    # r13: memoized shared pair scan + single-task union-find kernel
    pairs = _bounded_pairs(spark, sf_dir)
    comps = connected_components_bounded(pairs)
    szs = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return szs.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )


_PMI_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
big AS (
    SELECT w[i] AS a, w[i + 1] AS b, count(*) AS nab
    FROM (SELECT t AS w FROM toks),
         (SELECT unnest(range(1, 500)) AS i)
    WHERE i + 1 <= len(w)
    GROUP BY 1, 2),
uni AS (
    SELECT tok, count(*) AS n FROM (
        SELECT unnest(t) AS tok FROM toks) GROUP BY 1),
tot AS (
    SELECT (SELECT sum(nab) FROM big) AS nb,
           (SELECT sum(n) FROM uni) AS nu)
SELECT a, b, CAST(nab AS BIGINT) AS nab,
       round(ln((nab * 1.0 / nb)
                / ((ua.n * 1.0 / nu) * (ub.n * 1.0 / nu))), 6) AS pmi
FROM big JOIN uni ua ON ua.tok = a JOIN uni ub ON ub.tok = b, tot
WHERE nab >= 5
ORDER BY pmi DESC, a, b LIMIT 20
"""


@register("docs_pmi_collocations", _PMI_SQL)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent token pairs by pointwise
    mutual information (min support 5) — bigram and unigram counts are
    vocabulary-sized aggregates; the probability ratios divide
    integer counts by two scalar totals, so both engines divide
    identical values."""
    from realtime_analytics_pipeline_spark.functions.text import (
        shingle_expr,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("toks"))
    big = (
        toks.select(F.explode(shingle_expr("toks", 2)).alias("bg"))
        .select(
            F.split("bg", " ")[0].alias("a"),
            F.split("bg", " ")[1].alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("nab"))
        .where(F.col("nab") >= 5)
    )
    uni = toks.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    nb = toks.select(F.explode(shingle_expr("toks", 2)).alias("bg")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    nu = uni.agg(F.sum("n").alias("nu"))
    scored = (
        big.join(
            uni.select(F.col("tok").alias("a"), F.col("n").alias("na")), "a"
        )
        .join(
            uni.select(F.col("tok").alias("b"), F.col("n").alias("nb_")),
            "b",
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "a",
            "b",
            "nab",
            F.round(
                F.log(
                    (F.col("nab") / F.col("nb"))
                    / (
                        (F.col("na") / F.col("nu"))
                        * (F.col("nb_") / F.col("nu"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("a"), F.col("b")
    ).limit(20)


_EMB_OUTLIER_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
    SELECT label AS c_label, list(m ORDER BY d) AS cv FROM (
        SELECT label, d, avg(v[d]) AS m
        FROM e, (SELECT unnest(range(1, 65)) AS d)
        GROUP BY 1, 2
    ) GROUP BY 1),
own AS (
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.v, c.cv), 6) AS cos
    FROM e JOIN cent c ON c.c_label = e.label),
stats AS (
    SELECT label, avg(cos) AS mu, stddev_samp(cos) AS sd
    FROM own GROUP BY 1)
SELECT vec_id, label, cos,
       round((cos - mu) / sd, 6) + 0.0 AS z,
       abs(round((cos - mu) / sd, 6)) > 2.0 AS is_outlier
FROM own JOIN stats USING (label)
"""


@register("emb_outlier_detection", _EMB_OUTLIER_SQL)
def q_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier / mislabel detection: cosine to the vector's
    OWN label centroid, z-scored within the label (|z| > 2 flags) —
    the dataset-cleaning pass before contrastive training. Centroids
    aggregate per label; everything after runs on label-sized stats
    broadcast back."""
    from realtime_analytics_pipeline_spark.functions.vectors import (
        as_double,
        cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double("embedding").alias("v"))
    cent = (
        e.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
        .select("label", F.expr("transform(dm, p -> p.m)").alias("cv"))
    )
    own = e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(cosine(F.col("v"), F.col("cv")), 6).alias("cos"),
    )
    stats = own.groupBy("label").agg(
        F.avg("cos").alias("mu"), F.stddev_samp("cos").alias("sd")
    )
    z = F.round((F.col("cos") - F.col("mu")) / F.col("sd"), 6)
    return own.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        "cos",
        (z + F.lit(0.0)).alias("z"),
        (F.abs(z) > 2.0).alias("is_outlier"),
    )


_BURSTINESS_SQL = """
WITH tf AS (
    SELECT doc_id, tok, count(*) AS c FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents) GROUP BY 1, 2),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
stats AS (
    SELECT tok,
           CAST(sum(c) AS BIGINT) AS cf,
           sum(c * c) AS ssq,
           count(*) AS df
    FROM tf GROUP BY 1)
SELECT tok, cf, CAST(df AS BIGINT) AS df,
       round(((ssq * 1.0 / nd) - (cf * 1.0 / nd) * (cf * 1.0 / nd))
             / (cf * 1.0 / nd), 6) + 0.0 AS fano
FROM stats, n
WHERE cf >= 100
"""


@register("text_token_burstiness", _BURSTINESS_SQL)
def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Fano factor = population variance-to-mean of
    per-doc counts, zeros included): bursty content words score > 1,
    evenly-spread function words ≈ Poisson — a corpus statistic used
    to pick stopword lists and weight TF-IDF variants. Zero-count docs
    never materialize: E[x²] and μ come from the token's own per-doc
    counts plus the scalar corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = docs.agg(F.count_distinct("doc_id").alias("nd"))
    stats = tf.groupBy("tok").agg(
        F.sum("c").alias("cf"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
        F.count(F.lit(1)).alias("df"),
    )
    mu = F.col("cf") / F.col("nd")
    fano = ((F.col("ssq") / F.col("nd")) - mu * mu) / mu
    return (
        stats.crossJoin(F.broadcast(nd))
        .where(F.col("cf") >= 100)
        .select(
            "tok",
            "cf",
            "df",
            (F.round(fano, 6) + F.lit(0.0)).alias("fano"),
        )
    )


_JS_DIVERGENCE_SQL = """
WITH tf AS (
    SELECT source, tok, count(*) AS c FROM (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents) GROUP BY 1, 2),
stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS st FROM tf GROUP BY 1),
pool AS (SELECT tok, CAST(sum(c) AS BIGINT) AS pc FROM tf GROUP BY 1),
ptot AS (SELECT CAST(sum(pc) AS BIGINT) AS pt FROM pool),
terms AS (
    SELECT tf.source,
           tf.c * 1.0 / st.st AS p,
           pool.pc * 1.0 / ptot.pt AS q
    FROM tf
    JOIN stot st ON st.source = tf.source
    JOIN pool ON pool.tok = tf.tok, ptot)
SELECT source,
       round(sum(0.5 * p * ln(p / ((p + q) / 2))
                 + 0.5 * q * ln(q / ((p + q) / 2))), 6) + 0.0 AS js_div
FROM terms GROUP BY 1
"""


@register("docs_js_divergence_by_source", _JS_DIVERGENCE_SQL)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon CONTENT drift per source vs the pooled token
    distribution (the companion to the KS length drift: KS sees shape,
    JS sees vocabulary usage). Every source shares the pooled support,
    so the per-token q-side sum is over the source's own vocabulary —
    exact when sources cover the vocabulary (true here by
    construction) and a documented lower bound otherwise. All on
    vocabulary-sized aggregates."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stot = tf.groupBy("source").agg(F.sum("c").alias("st"))
    pool = tf.groupBy("tok").agg(F.sum("c").alias("pc"))
    ptot = pool.agg(F.sum("pc").alias("pt"))
    terms = (
        tf.join(stot, "source")
        .join(pool, "tok")
        .crossJoin(F.broadcast(ptot))
        .select(
            "source",
            (F.col("c") / F.col("st")).alias("p"),
            (F.col("pc") / F.col("pt")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    js = F.lit(0.5) * F.col("p") * F.log(F.col("p") / m) + F.lit(
        0.5
    ) * F.col("q") * F.log(F.col("q") / m)
    return terms.groupBy("source").agg(
        (F.round(F.sum(js), 6) + F.lit(0.0)).alias("js_div")
    )


# --------------------------------------------------------------------------
# Within-document repetition metrics (Gopher §A1 repetition signals).
# --------------------------------------------------------------------------

_REPETITION_SQL = """
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws
    FROM documents
),
base AS (
    SELECT doc_id, ws,
           len(ws) AS n_words,
           len(list_distinct(ws)) AS n_distinct_words,
           list_transform(range(1, len(ws) - 1),
               g -> ws[g] || ' ' || ws[g + 1] || ' ' || ws[g + 2]) AS tg
    FROM w
    WHERE len(ws) >= 3
)
SELECT doc_id,
       n_words,
       round(1.0 - n_distinct_words * 1.0 / n_words, 6) + 0.0
           AS dup_word_frac,
       len(tg) AS n_trigrams,
       round(1.0 - len(list_distinct(tg)) * 1.0 / len(tg), 6) + 0.0
           AS dup_trigram_frac,
       round(list_max(list_transform(list_distinct(ws),
               u -> len(list_filter(ws, x -> x = u)))) * 1.0 / n_words, 6)
           + 0.0 AS top_word_frac
FROM base
"""


@register("text_repetition_metrics", _REPETITION_SQL)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition
    filters, Rae et al. 2021 §A1): duplicate-word fraction,
    duplicate-word-trigram fraction, and the mass of the single most
    frequent word. Entirely higher-order Column functions over the
    in-row token array — transform/slice/array_distinct/filter — so
    the pass is MAP-ONLY (no explode, no shuffle): per-doc state never
    leaves its row, which is what makes this metric free at 100 TB.
    Both engines compute the same lambda pipeline (DuckDB
    list_transform/list_filter mirror Spark's transform/filter)."""
    # r13 (guide §4 HOF trap): split(text) inside the trigram lambda
    # re-evaluated once PER TRIGRAM (O(words²)/doc) — hoist the token
    # array into a child projection and spread the single-task scan
    # (map-only pass; values bit-identical).
    from realtime_analytics_pipeline_spark.functions.scale import spread

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    staged = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("ws")
    )
    base = staged.select(
        "doc_id",
        "ws",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct_words"),
        F.expr(
            "transform(sequence(0, size(ws) - 3),"
            " g -> concat_ws(' ', slice(ws, g + 1, 3)))"
        ).alias("tg"),
    ).where(F.col("n_words") >= 3)
    return base.select(
        "doc_id",
        "n_words",
        (
            F.round(
                F.lit(1.0)
                - F.col("n_distinct_words") / F.col("n_words"),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_word_frac"),
        F.size("tg").alias("n_trigrams"),
        (
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("tg")) / F.size("tg"),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_trigram_frac"),
        (
            F.round(
                F.expr(
                    "array_max(transform(array_distinct(ws),"
                    " u -> size(filter(ws, x -> x = u))))"
                )
                / F.col("n_words"),
                6,
            )
            + F.lit(0.0)
        ).alias("top_word_frac"),
    )


# --------------------------------------------------------------------------
# Truncated-embedding retrieval quality (Matryoshka-style evaluation).
# --------------------------------------------------------------------------

_TRUNC_RECALL_SQL = """
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    FROM embeddings WHERE vec_id < 50
),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (SELECT unnest([8, 16, 32, 64]) AS d),
scored AS (
    SELECT d, query_id, vec_id AS neighbor_id,
           round(list_cosine_similarity(qv[1:d], v[1:d]), 6) AS cos
    FROM q, c, dims WHERE vec_id != query_id
),
ranked AS (
    SELECT d, query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY d, query_id
            ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored)
    WHERE rnk <= 5
),
full_rank AS (SELECT query_id, neighbor_id FROM ranked WHERE d = 64)
SELECT r.d AS dim_prefix, r.query_id,
       CAST(count(f.neighbor_id) AS BIGINT) AS overlap5
FROM ranked r
LEFT JOIN full_rank f
  ON r.query_id = f.query_id AND r.neighbor_id = f.neighbor_id
WHERE r.d < 64
GROUP BY r.d, r.query_id
"""


@register("emb_truncated_recall", _TRUNC_RECALL_SQL)
def q_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style evaluation: how much of the exact top-5
    neighborhood survives when vectors are truncated to their first
    8/16/32 dimensions? Per (prefix, query) overlap@5 against the
    full-dimension ranking. One pass: the 50-query set is broadcast,
    the corpus never shuffles, and every prefix scores in the same
    pair row (explode over dims multiplies candidate rows 4x, never
    the corpus scan). Deterministic ranking: round-6 cosine with
    neighbor-id tiebreak — the same discipline as sim_cosine_topk.
    At 100 TB the answer decides whether the ANN index stores 8 or 64
    floats per vector — a 8x memory/bandwidth lever."""
    from pyspark.sql import Window

    from realtime_analytics_pipeline_spark.functions import vectors as V

    # r13 (guide §4 per-task work / §2.3 narrower rows): scoring used
    # to explode 4 dim-prefix rows per pair BEFORE scoring, each
    # recomputing the pair products AND both prefix norms from the
    # full 64-dim arrays (3 zip_with+aggregate passes per (pair, d) —
    # ~360 element-ops plus 6 array allocations per pair per prefix).
    # Prefix norms are per-VECTOR, not per-pair: hoist them into the
    # corpus/query projections (O(N·4) instead of O(N·50·4)), compute
    # the element products ONCE per pair, and derive all 4 dots as
    # left-to-right folds over prefixes of that one product array —
    # bit-identical doubles (same element values, same summation
    # order, same dot/(nq·nv) grouping), verified hash== at 2 SFs.
    DIMS = (8, 16, 32, 64)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        V.as_double("embedding").alias("v"),
    )
    c = emb.select(
        "vec_id",
        "v",
        *[
            V.l2_norm(F.slice("v", 1, d)).alias(f"nv{d}")
            for d in DIMS
        ],
    )
    q = c.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        *[F.col(f"nv{d}").alias(f"nq{d}") for d in DIMS],
    )
    prod = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("prod", F.zip_with("qv", "v", lambda x, y: x * y))
    )

    def _cos(d):
        dot_d = F.aggregate(
            F.slice("prod", 1, d), F.lit(0.0), lambda acc, x: acc + x
        )
        return F.round(
            dot_d / (F.col(f"nq{d}") * F.col(f"nv{d}")), 6
        )

    scored = prod.select(
        F.col("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        # explode_outer: the 4-struct array is non-empty by
        # construction, and plain explode lets Catalyst infer a
        # size(arr)>0 guard that re-evaluates the fold array (the
        # round-11 plan_audit red-flag pattern)
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cos(d).alias("cos")
                    )
                    for d in DIMS
                ]
            )
        ).alias("dc"),
    ).select(
        F.col("dc.d").alias("d"),
        "query_id",
        "neighbor_id",
        F.col("dc.cos").alias("cos"),
    )
    w = Window.partitionBy("d", "query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    ranked = (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("d", "query_id", "neighbor_id")
    )
    # r13 (guide §2.4): the trunc ⋈ full self-join of `ranked`
    # duplicated the ENTIRE scoring pipeline in the physical plan
    # (two corpus×query passes — visible as twin zip_with subtrees in
    # the before plan). Equivalent join-free form: per (query,
    # neighbor) collect the set of prefix dims where it ranked top-5;
    # each d<64 membership contributes a row to group (d, query) —
    # exactly the 5 ranked rows the oracle's LEFT JOIN groups by — and
    # the contribution counts 1 iff 64 is also in the set. One
    # scoring pass, one extra narrow groupBy, no join; verified
    # hash== at both gate SFs.
    flags = ranked.groupBy("query_id", "neighbor_id").agg(
        F.collect_set("d").alias("ds")
    )
    return (
        flags.select(
            "query_id",
            F.array_contains("ds", 64).cast("long").alias("in64"),
            F.explode(
                F.filter("ds", lambda dd: dd < F.lit(64))
            ).alias("dim_prefix"),
        )
        .groupBy("dim_prefix", "query_id")
        .agg(F.sum("in64").alias("overlap5"))
    )


# --------------------------------------------------------------------------
# RAKE keyword/phrase extraction (Rose et al. 2010).
# --------------------------------------------------------------------------

_RAKE_SQL = """
WITH words AS (
    SELECT doc_id, w.pos AS pos, w.word AS w,
           CASE WHEN w.word IN ('a', 'the') THEN 1 ELSE 0 END AS is_stop
    FROM documents,
         LATERAL (SELECT unnest(string_split(text, ' ')) AS word,
                         generate_subscripts(string_split(text, ' '), 1)
                             AS pos) w),
runs_all AS (
    -- window FIRST, filter AFTER: WHERE is evaluated before window
    -- functions, so filtering stopwords in the same block would erase
    -- every run boundary (one giant phrase per doc)
    SELECT doc_id, pos, w, is_stop,
           sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS run_id
    FROM words),
runs AS (
    SELECT doc_id, pos, w, run_id FROM runs_all WHERE is_stop = 0),
phrases AS (
    SELECT doc_id, run_id,
           string_agg(w, ' ' ORDER BY pos) AS phrase,
           count(*) AS n_words
    FROM runs GROUP BY doc_id, run_id),
word_stats AS (
    SELECT r.w,
           count(*) AS freq,
           sum(p.n_words) AS degree
    FROM runs r JOIN phrases p
      ON r.doc_id = p.doc_id AND r.run_id = p.run_id
    GROUP BY r.w),
scored AS (
    SELECT p.doc_id, p.run_id, p.phrase, p.n_words,
           sum((s.degree * 1000000) // s.freq) AS score_micro
    FROM runs r
    JOIN phrases p ON r.doc_id = p.doc_id AND r.run_id = p.run_id
    JOIN word_stats s ON r.w = s.w
    GROUP BY p.doc_id, p.run_id, p.phrase, p.n_words)
SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(score_micro AS BIGINT) AS score_micro
FROM scored
GROUP BY phrase, n_words, score_micro
ORDER BY score_micro DESC, phrase
LIMIT 20
"""


@register("docs_rake_phrases", _RAKE_SQL)
def q_docs_rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free runs; each word scores degree/freq over
    the whole corpus (degree = summed length of phrases containing
    it); a phrase scores the sum of its words. Scores are computed in
    MICRO-UNITS with integer floor-division — float addition is
    non-associative and a distributed sum of degree/freq doubles
    would hash differently run to run; integer micro-scores are
    order-independent and exact on both engines. Two window passes +
    three aggregations, all on (doc, run) keys."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).withColumn(
        "is_stop", F.when(F.col("w").isin("a", "the"), 1).otherwise(0)
    )
    wrun = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        words.withColumn(
            "run_id",
            F.sum("is_stop").over(
                wrun.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .where(F.col("is_stop") == 0)
        .select("doc_id", "pos", "w", "run_id")
    )
    phrases = runs.groupBy("doc_id", "run_id").agg(
        F.expr(
            "array_join(transform(sort_array(collect_list("
            "struct(pos, w))), p -> p.w), ' ')"
        ).alias("phrase"),
        F.count("*").alias("n_words"),
    )
    word_stats = (
        runs.join(phrases, ["doc_id", "run_id"])
        .groupBy("w")
        .agg(
            F.count("*").alias("freq"),
            F.sum("n_words").alias("degree"),
        )
    )
    scored = (
        runs.join(phrases, ["doc_id", "run_id"])
        .join(word_stats, "w")
        .groupBy("doc_id", "run_id", "phrase", "n_words")
        .agg(
            F.sum(F.expr("(degree * 1000000L) div freq")).alias(
                "score_micro"
            )
        )
    )
    return (
        scored.groupBy("phrase", "n_words", "score_micro")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .select(
            "phrase",
            F.col("n_words").cast("bigint").alias("n_words"),
            "n_occurrences",
            F.col("score_micro").cast("bigint").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "phrase")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Interpolated bigram language model (contextual quality scoring).
# --------------------------------------------------------------------------

_BIGRAM_LM_SQL = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (
    SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
    FROM toks, LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
doc_bg AS (
    SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
corpus_bg AS (
    SELECT w1, w2, sum(c) AS c12 FROM doc_bg GROUP BY w1, w2),
uni AS (
    SELECT w, sum(c) AS cw FROM (
        SELECT doc_id, unnest(ws) AS w, 1 AS c FROM toks)
    GROUP BY w),
tot AS (SELECT sum(cw) AS n FROM uni),
scored AS (
    SELECT d.doc_id, d.c,
           -ln(0.5 * b.c12 / u1.cw + 0.5 * u2.cw / t.n) AS nll
    FROM doc_bg d
    JOIN corpus_bg b ON d.w1 = b.w1 AND d.w2 = b.w2
    JOIN uni u1 ON d.w1 = u1.w
    JOIN uni u2 ON d.w2 = u2.w
    CROSS JOIN tot t)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       round(sum(c * nll) / sum(c), 6) + 0.0 AS avg_neg_logprob,
       round(exp(round(sum(c * nll) / sum(c), 6)), 6) + 0.0 AS ppl
FROM scored GROUP BY doc_id
"""


@register("text_bigram_logprob", _BIGRAM_LM_SQL)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality scoring — the contextual upgrade
    of text_unigram_logprob: P(w2|w1) = 0.5·c12/c(w1) + 0.5·c(w2)/N
    (dyadic interpolation weight, corpus-trained). A doc scores its
    mean bigram negative log-prob and perplexity. The model is two
    small count tables (vocabulary² upper bound) joined back AQE-sized;
    per-doc sums run over the distinct-bigram rows (bounded by the
    31-word vocabulary), so round-6 absorbs float-order noise exactly
    as in the unigram twin. Docs whose bigrams are individually common
    but contextually unusual score worse here than under the unigram
    model — the signal n-gram quality filters actually use."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("ws"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    doc_bg = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    )
    corpus_bg = doc_bg.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
    uni = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
    )
    tot = uni.agg(F.sum("cw").alias("n"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("cw1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("cw2"))
    scored = (
        doc_bg.join(corpus_bg, ["w1", "w2"])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "nll",
            -F.log(
                F.lit(0.5) * F.col("c12") / F.col("cw1")
                + F.lit(0.5) * F.col("cw2") / F.col("n")
            ),
        )
    )
    avg = F.round(F.sum(F.col("c") * F.col("nll")) / F.sum("c"), 6)
    return scored.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        (avg + F.lit(0.0)).alias("avg_neg_logprob"),
        (F.round(F.exp(avg), 6) + F.lit(0.0)).alias("ppl"),
    )


@register("bpe_train_merges")  # rows-only: iterative, not SQL-expressible
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): one
    corpus-scale word-frequency aggregation, then 8 iterations of
    weighted pair counting (DataFrame agg) + non-overlapping merge
    (pure Column fold). Only the winning pair row is collected per
    iteration. Merge-for-merge equality with a Python reference BPE is
    pinned in tests/test_bpe.py, as is the tokenize-apply path."""
    from realtime_analytics_pipeline_spark.operators.bpe import train_bpe

    merges = train_bpe(load_table(spark, sf_dir, "documents"), 8)
    return spark.createDataFrame(
        [
            (m["rank"], m["left"], m["right"], m["merged"], m["pair_freq"])
            for m in merges
        ],
        "rank bigint, left string, right string, merged string,"
        " pair_freq bigint",
    )


_JACCARD_SWEEP_SQL = f"""
WITH capped AS (
    -- md5-ordered fixed cap (round-13; does not bind at the driver
    -- gate SFs): a threshold-sensitivity curve needs a fixed-size
    -- sample, and the uncapped replay is quadratic in hot shingles
    SELECT * FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 2000
),
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle FROM capped
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS j
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
),
th(t) AS (VALUES (0.5), (0.6), (0.7), (0.8), (0.9))
SELECT CAST(round(t, 6) AS DOUBLE) + 0.0 AS threshold,
       CAST(sum(CASE WHEN j >= t THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_pairs
FROM pairs, th
GROUP BY t
"""


@register("dedup_threshold_sweep", _JACCARD_SWEEP_SQL)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sensitivity of near-dup detection: duplicate-pair
    counts at Jaccard cutoffs 0.5-0.9 from ONE pair-scoring pass
    (pairs are scored once; the threshold sweep is a broadcast of five
    constants, not five re-scans) — the curve that picks the
    production dedup cutoff. Round-13: runs on the md5-ordered
    2000-doc cap (non-binding at driver SFs) — a sensitivity curve
    needs a fixed-precision sample, and the cap keeps the exact
    verifier's oracle replayable at any SF; the LSH family is the
    scale path once the cutoff is chosen."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.join(
        F.broadcast(
            docs.select("doc_id")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
            .limit(2000)
        ),
        "doc_id",
        "left_semi",
    )
    pairs = D.jaccard_pairs(docs, n=1, threshold=0.5).select("jaccard")
    th = spark.createDataFrame(
        [(0.5,), (0.6,), (0.7,), (0.8,), (0.9,)], "t double"
    )
    return (
        pairs.crossJoin(F.broadcast(th))
        .groupBy((F.round("t", 6) + F.lit(0.0)).alias("threshold"))
        .agg(
            F.sum(
                F.when(F.col("jaccard") >= F.col("t"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dup_pairs")
        )
    )


# --------------------------------------------------------------------------
# Quantile normalization across sources (batch-effect correction).
# --------------------------------------------------------------------------

_QNORM_SQL = """
WITH ranked AS (
    SELECT doc_id, source, n_chars,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS r,
           count(*) OVER (PARTITION BY source) AS ns
    FROM documents),
pooled AS (
    SELECT n_chars AS pooled_chars,
           row_number() OVER (ORDER BY n_chars, doc_id) AS pr
    FROM documents),
n AS (SELECT count(*) AS n FROM documents),
mapped AS (
    SELECT doc_id, source, n_chars,
           least(((2 * r - 1) * n.n) // (2 * ns) + 1, n.n) AS idx
    FROM ranked, n)
SELECT m.doc_id, m.source, m.n_chars,
       p.pooled_chars AS norm_chars
FROM mapped m JOIN pooled p ON m.idx = p.pr
"""


@register("docs_quantile_normalize", _QNORM_SQL)
def q_docs_quantile_normalize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization: each document's length is replaced by
    the POOLED distribution's value at the same within-source quantile
    — the batch-effect correction that makes per-source length
    distributions identical before cross-source comparisons (the
    microarray classic, equally at home fixing crawler-specific
    truncation artifacts). The quantile→pooled-rank map is PURE
    integer arithmetic (idx = ((2r−1)·N) div (2·n_s) + 1): no float
    quantile ever computed, so both engines land on identical pooled
    rows even at ties (doc_id tiebreak in both rankings). Two window
    passes + one join on the derived rank."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy("n_chars", "doc_id")
        )
        .alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("ns"),
    )
    pooled = docs.select(
        F.col("n_chars").alias("pooled_chars"),
        F.row_number()
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("pr"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    mapped = ranked.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "n_chars",
        F.least(
            F.expr("((2 * r - 1) * n) div (2 * ns)") + 1,
            F.col("n").cast("bigint"),
        ).alias("idx"),
    )
    return mapped.join(pooled, mapped["idx"] == pooled["pr"]).select(
        "doc_id", "source", "n_chars", F.col("pooled_chars").alias("norm_chars")
    )


_CCNET_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
vocab AS (SELECT tok, sum(c) AS cf FROM tf GROUP BY tok),
tot AS (SELECT sum(cf) AS tot FROM vocab),
scored AS (
    SELECT tf.doc_id,
           round(sum(tf.c * -ln(vocab.cf * 1.0 / tot.tot))
                 / sum(tf.c), 6) AS nll
    FROM tf JOIN vocab USING (tok), tot
    GROUP BY tf.doc_id),
ranked AS (
    SELECT d.source, s.doc_id, s.nll,
           row_number() OVER (ORDER BY s.nll, s.doc_id) AS r,
           count(*) OVER () AS n
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id),
bucketed AS (
    SELECT source,
           CASE WHEN 3 * r <= n THEN 'head'
                WHEN 3 * r <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket,
           nll
    FROM ranked)
SELECT source, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(nll), 6) + 0.0 AS mean_nll
FROM bucketed GROUP BY source, bucket
"""


@register("docs_ccnet_ppl_buckets", _CCNET_SQL)
def q_docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): rank every
    document by LM negative log-likelihood and cut the corpus into
    head/middle/tail TERCILES — the partition CCNet uses to keep
    'head' for training and discard or down-weight 'tail'. Tercile
    membership is pure integer rank arithmetic (3r ≤ n), never a
    float quantile, with doc_id tiebreaks, so both engines cut
    identically; per-source bucket counts expose which crawls
    contribute clean vs noisy text."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = tf.groupBy("tok").agg(F.sum("c").alias("cf"))
    tot = vocab.agg(F.sum("cf").alias("tot"))
    scored = (
        tf.join(vocab, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.col("c")
                    * -F.log(F.col("cf") * 1.0 / F.col("tot"))
                )
                / F.sum("c"),
                6,
            ).alias("nll")
        )
    )
    ranked = (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .withColumn(
            "r", F.row_number().over(Window.orderBy("nll", "doc_id"))
        )
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    bucketed = ranked.select(
        "source",
        F.when(3 * F.col("r") <= F.col("n"), "head")
        .when(3 * F.col("r") <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
        "nll",
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.round(F.avg("nll"), 6) + F.lit(0.0)).alias("mean_nll"),
    )


@register("docs_coverage_selection")  # rows-only: greedy, iterative
def q_docs_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage selection of 10 documents (submodular
    1-1/e baseline for diverse-subset data pruning): see
    operators/sampling.py::greedy_coverage_selection. Pick-for-pick
    equality with a Python reference greedy is pinned in
    tests/test_sampling_extra.py."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        greedy_coverage_selection,
    )

    return greedy_coverage_selection(
        load_table(spark, sf_dir, "documents"), k=10
    )


_WINNOW_SQL = """
WITH m AS (
    SELECT doc_id, text,
           greatest(length(text) - 5 + 1, 0) AS nh
    FROM documents),
h AS (
    SELECT doc_id, nh, i AS pos,
           (((((((CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT) * 257
              + ascii(substr(text, CAST(i + 1 AS INTEGER), 1))) % 1000000007) * 257
              + ascii(substr(text, CAST(i + 2 AS INTEGER), 1))) % 1000000007) * 257
              + ascii(substr(text, CAST(i + 3 AS INTEGER), 1))) % 1000000007) * 257
              + ascii(substr(text, CAST(i + 4 AS INTEGER), 1))) % 1000000007 AS hv
    FROM (SELECT doc_id, text, nh, unnest(range(1, nh + 1)) AS i FROM m)
    WHERE nh > 0),
wins AS (
    SELECT doc_id, nh, unnest(range(1, greatest(nh - 4 + 1, 1) + 1)) AS p
    FROM (SELECT DISTINCT doc_id, nh FROM h)),
cand AS (
    SELECT w.doc_id, w.p, h.pos, h.hv,
           row_number() OVER (
               PARTITION BY w.doc_id, w.p
               ORDER BY h.hv ASC, h.pos DESC) AS rn
    FROM wins w
    JOIN h ON h.doc_id = w.doc_id
          AND h.pos >= w.p AND h.pos <= least(w.p + 3, w.nh))
SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos,
       CAST(hv AS BIGINT) AS fp_hash
FROM cand WHERE rn = 1
"""


def _winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer et al., SIGMOD'03): k=5
    polynomial rolling hash + rightmost-min winnow over w=4 windows —
    the brief's rolling-hash document fingerprint, fingerprint-for-
    fingerprint against a row-wise SQL replay of the identical
    integer arithmetic and tie rule.

    Routed through the Arrow KERNEL (VERDICT r08 item 5): the
    expression-tree spec form (text_analysis.winnowing_fingerprints,
    ~4 ms/doc) is pytest-only now — its semantics are pinned by the
    kernel-parity test at fixed n; the gated path runs the ~30 µs/doc
    vectorized kernel, same oracle."""
    from realtime_analytics_pipeline_spark.operators.text_analysis import (
        winnowing_fingerprints_kernel,
    )

    fps = winnowing_fingerprints_kernel(
        load_table(spark, sf_dir, "documents")
    )
    return fps.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("fp_hash").cast("bigint").alias("fp_hash"),
    )


register("docs_winnowing_fingerprints", _WINNOW_SQL)(_winnowing)


_WINNOW_OVERLAP_SQL = f"""
WITH fp0 AS ({_WINNOW_SQL}),
fp1 AS (SELECT DISTINCT doc_id, fp_hash FROM fp0),
rare AS (
    SELECT fp_hash FROM fp1
    GROUP BY 1 HAVING count(*) <= 20),
fp AS (SELECT fp1.* FROM fp1 JOIN rare USING (fp_hash))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS shared_fps
FROM fp a JOIN fp b
  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
"""


@register("docs_winnowing_overlap", _WINNOW_OVERLAP_SQL)
def q_docs_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-overlap candidate pairs through the inverted index
    on the 8-byte winnow hash (the MOSS match step). Two disciplines
    keep the join index-bucket-bounded at any corpus size: the winnow
    guarantee makes the index complete for any shared run of
    >= w+k-1 chars, and fingerprints occurring in more than 20 docs
    are DROPPED before the self-join (MOSS's over-common-fingerprint
    cull — hot buckets carry no discriminating signal and are exactly
    the quadratic blowup at scale). >=3 surviving shared fingerprints
    is the candidate floor. Fingerprints come from the Arrow kernel
    (the scale path — VERDICT r08 item 5); the expression-tree spec
    form is pytest-only."""
    from realtime_analytics_pipeline_spark.operators.text_analysis import (
        winnowing_fingerprints_kernel,
    )

    fps = (
        winnowing_fingerprints_kernel(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "fp_hash")
        .distinct()
    )
    rare = (
        fps.groupBy("fp_hash")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= 20)
        .select("fp_hash")
    )
    fps = fps.join(rare, "fp_hash")
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fps"))
        .where(F.col("shared_fps") >= 3)
    )


# the kernel twin's name runs the same body under the same oracle
register("docs_winnowing_fingerprints_kernel", _WINNOW_SQL)(_winnowing)


# --------------------------------------------------------------------------
# Round 6 additions: containment dedup, cross-source dup forensics,
# embedding per-dimension statistics.
# --------------------------------------------------------------------------

_OVERLAP_SQL = f"""
WITH sample_docs AS (
    -- deterministic md5-ordered fixed cap, same discipline as
    -- dedup_tokenset_jaccard: flat gate cost at any SF
    SELECT * FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1000
),
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle
    FROM sample_docs
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / least(sa.sz, sb.sz), 6) AS overlap
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(i * 1.0 / least(sa.sz, sb.sz), 6) >= 0.9
"""


@register("dedup_overlap_containment", _OVERLAP_SQL)
def q_overlap_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact overlap-coefficient (|A∩B|/min(|A|,|B|)) verifier — the
    CONTAINMENT signal Jaccard misses: a short doc fully quoted inside
    a long one (boilerplate inclusion, subset duplicates). Same
    md5-capped gate discipline as dedup_tokenset_jaccard; the
    inverted-index self-join only materializes shingle-sharing pairs,
    MinHash-LSH stays the 100 TB candidate path."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sample = (
        docs.select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(1000)
    )
    capped = docs.join(F.broadcast(sample), "doc_id", "left_semi")
    return D.overlap_pairs(capped, n=1, threshold=0.9)


_CROSS_SOURCE_SQL = f"""
WITH sample_docs AS (
    SELECT * FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1000
),
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle
    FROM sample_docs
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.5
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS pair_count,
       round(avg(jaccard), 6) AS avg_jaccard
FROM pairs
JOIN sample_docs da ON da.doc_id = pairs.doc_a
JOIN sample_docs db ON db.doc_id = pairs.doc_b
GROUP BY 1, 2
"""


@register("dedup_cross_source_matrix", _CROSS_SOURCE_SQL)
def q_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup FLOW between sources — which crawls/feeds duplicate
    which: exact-Jaccard pairs (>=0.5, md5-capped sample) mapped to an
    unordered source pair, with pair counts and mean similarity. The
    corpus-forensics rollup a curation team reads before deciding
    which source to down-weight; at 100 TB the pair generator swaps to
    the banded MinHash-LSH candidates, the rollup is unchanged (a
    GROUP BY over source pairs, broadcast dims)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    sample = (
        docs.select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(1000)
    )
    capped = docs.join(F.broadcast(sample), "doc_id", "left_semi")
    pairs = D.jaccard_pairs(capped, n=1, threshold=0.5)
    src = capped.select("doc_id", "source")
    sa = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


_EMB_DIM_STATS_SQL = """
WITH e AS (
    SELECT unnest(embedding::DOUBLE[]) AS val,
           generate_subscripts(embedding, 1) AS dim1
    FROM embeddings
)
SELECT dim1 - 1 AS dim,
       count(*) AS n,
       round(avg(val), 6) AS mean_val,
       round(stddev_samp(val), 6) AS std_val,
       round(min(val), 6) AS min_val,
       round(max(val), 6) AS max_val
FROM e GROUP BY 1
"""


@register("emb_dim_stats", _EMB_DIM_STATS_SQL)
def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std/min/max over the embedding column — the
    calibration read before whitening, PQ codebook sizing
    (emb_pq_codes) or int8 quantization (emb_quantize_int8): dead or
    low-variance dimensions are truncation candidates (Matryoshka,
    emb_truncated_recall). posexplode keeps the plan a single
    partial+final hash aggregate keyed on the (tiny) dimension index —
    at 100 TB this is a map-side-combine dominated scan, the reduce
    side is |dims| rows."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "val"
            )
        )
        .groupBy(F.col("dim").cast("bigint").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("val"), 6).alias("mean_val"),
            F.round(F.stddev_samp("val"), 6).alias("std_val"),
            F.round(F.min("val"), 6).alias("min_val"),
            F.round(F.max("val"), 6).alias("max_val"),
        )
    )


_ENTROPY_BY_SOURCE_SQL = f"""
WITH tok AS (
    SELECT source, unnest({_SPLIT}) AS token FROM documents
),
counts AS (
    SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2
),
totals AS (
    SELECT source, SUM(c) AS n FROM counts GROUP BY 1
)
SELECT counts.source,
       CAST(totals.n AS BIGINT) AS n_tokens,
       count(*) AS vocab,
       round(-SUM((c * 1.0 / n) * log2(c * 1.0 / n)), 6) AS entropy_bits
FROM counts JOIN totals ON counts.source = totals.source
GROUP BY counts.source, totals.n
"""


@register("docs_unigram_entropy_by_source", _ENTROPY_BY_SOURCE_SQL)
def q_unigram_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy — the distribution-health
    scalar next to docs_js_divergence_by_source's pairwise view: a
    source whose entropy collapses is template/boilerplate-dominated
    and a down-weighting candidate. Two hash aggregations keyed on
    (source, token) then source — map-side combine makes the reduce
    side vocabulary-sized; no joins bigger than the broadcast totals."""
    from pyspark.sql import functions as F

    from realtime_analytics_pipeline_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = counts.groupBy("source").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    return (
        counts.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.first("n").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("entropy_bits"),
        )
    )


_EMB_STANDARDIZED_SQL = """
WITH e AS (
    SELECT vec_id,
           unnest(embedding::DOUBLE[]) AS val,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings
),
stats AS (
    SELECT dim, avg(val) AS mu, stddev_samp(val) AS sigma
    FROM e GROUP BY 1
),
sample_vecs AS (
    SELECT vec_id FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 100
)
SELECT e.vec_id, e.dim,
       round((e.val - s.mu) / s.sigma, 6) AS zscore
FROM e
JOIN stats s ON s.dim = e.dim
JOIN sample_vecs sv ON sv.vec_id = e.vec_id
"""


@register("emb_standardized_sample", _EMB_STANDARDIZED_SQL)
def q_emb_standardized_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening transform (per-dimension z-score) materialized for a
    deterministic md5-capped 100-vector sample — the preprocessing
    step before PQ/int8 quantization or cosine ANN on anisotropic
    embeddings. The dim stats come from the FULL corpus (one
    partial+final aggregate, |dims| rows) and broadcast onto the
    exploded sample; at 100 TB the stats pass is a map-side-combine
    scan and the transform is embarrassingly parallel."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "val"
        ),
    ).select("vec_id", F.col("dim").cast("bigint").alias("dim"), "val")
    stats = e.groupBy("dim").agg(
        F.avg("val").alias("mu"), F.stddev_samp("val").alias("sigma")
    )
    sample = (
        emb.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(100)
    )
    return (
        e.join(F.broadcast(sample), "vec_id", "left_semi")
        .join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            F.round((F.col("val") - F.col("mu")) / F.col("sigma"), 6).alias(
                "zscore"
            ),
        )
    )


# --------------------------------------------------------------------------
# Round-6 additions: retrieval scoring, Bloom prescreen, fuzzy/banded
# dedup, sketch calibration, embedding-space diagnostics. All md5-keyed
# so every query carries a bit-exact DuckDB oracle (round-7 window
# candidates — never driver-verified yet).
# --------------------------------------------------------------------------


def _hex_int_sql(hex_expr: str, nchars: int) -> str:
    """DuckDB has no hex→int cast; horner-parse the first ``nchars``
    hex chars of ``hex_expr`` (the twin of Spark's conv(substr,16,10))."""
    digits = "0123456789abcdef"
    expr = f"(strpos('{digits}', substr({hex_expr}, 1, 1)) - 1)"
    for i in range(1, nchars):
        nib = f"(strpos('{digits}', substr({hex_expr}, {i + 1}, 1)) - 1)"
        expr = f"(({expr}) * 16 + {nib})"
    return expr


_TFIDF_SQL = """
WITH toks AS (
    SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
    FROM documents
),
nd AS (SELECT count(*) AS n_docs FROM documents),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
tf AS (
    SELECT source, term, CAST(count(*) AS BIGINT) AS tf_sum
    FROM toks GROUP BY 1, 2
),
scored AS (
    SELECT source, term, tf_sum, df,
           round(tf_sum * (ln((n_docs + 1) / (df + 1)) + 1), 6) AS tfidf
    FROM tf JOIN dfq USING (term) CROSS JOIN nd
)
SELECT source, term, tf_sum, df, tfidf, rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY tfidf DESC, term) AS rnk
    FROM scored
)
WHERE rnk <= 5
"""


@register("docs_tfidf_top_terms", _TFIDF_SQL)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 TF-IDF terms (domain characterization — which
    vocabulary distinguishes each source before mixing)."""
    from realtime_analytics_pipeline_spark.operators.retrieval import (
        tfidf_top_terms,
    )

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), top_k=5)


_BM25_TERMS = ["spark", "join", "stream", "vector"]


def _bm25_oracle() -> str:
    dfs = ", ".join(
        f"CAST(sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END)"
        f" AS DOUBLE) AS df_{t}"
        for t in _BM25_TERMS
    )
    score = " + ".join(
        f"(ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * (CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) * 2.2)"
        f" / (CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE)"
        f" + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl)))"
        for t in _BM25_TERMS
    )
    return f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS toks,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
    FROM documents
),
stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
           {dfs}
    FROM base
),
scored AS (
    SELECT doc_id, dl, round({score}, 6) AS bm25
    FROM base CROSS JOIN stats
)
SELECT doc_id, dl, bm25,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rnk
FROM (
    SELECT * FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
)
"""


@register("docs_bm25_topk", _bm25_oracle())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 against a fixed probe query — retrieval-based
    corpus selection (the DSIR-style 'rank pretraining docs against a
    target distribution' step, lexical form)."""
    from realtime_analytics_pipeline_spark.operators.retrieval import (
        bm25_topk,
    )

    return bm25_topk(
        load_table(spark, sf_dir, "documents"), _BM25_TERMS, top_k=10
    )


def _bloom_pos_sql(text_expr: str, i: int) -> str:
    return (
        _hex_int_sql(f"md5('{i}#' || {text_expr})", 4) + " % 4096"
    )


_BLOOM_SQL = f"""
WITH bits AS (
    SELECT DISTINCT unnest([{", ".join(_bloom_pos_sql("text", i) for i in range(4))}]) AS pos
    FROM documents WHERE source <> 'src0'
),
probe AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
ppos AS (
    SELECT doc_id,
           unnest([{", ".join(_bloom_pos_sql("text", i) for i in range(4))}]) AS pos
    FROM probe
),
hits AS (
    SELECT doc_id, count(*) AS n_hit
    FROM ppos JOIN bits USING (pos) GROUP BY 1
),
idx AS (SELECT DISTINCT md5(text) AS k FROM documents WHERE source <> 'src0'),
exact AS (
    SELECT DISTINCT p.doc_id FROM probe p JOIN idx ON md5(p.text) = idx.k
)
SELECT p.doc_id,
       coalesce(h.n_hit, 0) = 4 AS bloom_candidate,
       e.doc_id IS NOT NULL AS exact_dup
FROM probe p
LEFT JOIN hits h ON p.doc_id = h.doc_id
LEFT JOIN exact e ON p.doc_id = e.doc_id
"""


@register("dedup_bloom_prescreen", _BLOOM_SQL)
def q_bloom_prescreen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-Bloom membership prescreen: src0 probes against the
    rest-of-corpus filter (operators/dedup.py::bloom_prescreen has the
    100 TB shape — the filter broadcasts, the corpus never shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.bloom_prescreen(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
    )


_EDIT_SQL = f"""
WITH banded AS (
    SELECT doc_id, lang, n_chars // 16 AS len_band,
           substr(lower(text), 1, 64) AS prefix
    FROM documents
),
sizes AS (
    SELECT lang, len_band, count(*) AS n FROM banded GROUP BY 1, 2
),
sub AS (
    SELECT b.doc_id, b.lang, b.len_band, b.prefix,
           ({_hex_int_sql("md5('edb' || CAST(doc_id AS VARCHAR))", 4)})
               % ((n + 127) // 128) AS sub
    FROM banded b JOIN sizes USING (lang, len_band)
)
SELECT doc_a, doc_b, edit_distance
FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.prefix, b.prefix) AS edit_distance
    FROM sub a
    JOIN sub b
      ON a.lang = b.lang
     AND a.len_band = b.len_band
     AND a.sub = b.sub
     AND a.doc_id < b.doc_id
)
WHERE edit_distance <= 12
"""


@register("dedup_edit_distance_banded", _EDIT_SQL)
def q_edit_distance_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup verification on (lang, length-band)
    candidates, prefix-capped at 64 chars. Gated form runs the
    production salt cap (band_cap=128 md5 sub-banding — VERDICT r06
    item 5): the oracle replays the split bit-for-bit, so the split is
    itself driver-verified. band_cap is opt-in HERE, not a library
    default (ADVICE r08) — the bare function stays lossless."""
    return D.edit_distance_banded(
        load_table(spark, sf_dir, "documents"), band_cap=128
    )


_TRIGRAM_LIST = (
    "CASE WHEN len(ws) >= 3 THEN list_transform(range(1, len(ws) - 1),"
    " i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) ELSE ws[1:0] END"
)

_NOVELTY_SQL = f"""
WITH g AS (
    SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest({_TRIGRAM_LIST}) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    )
),
gd AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
j AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_grams,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel_grams
    FROM g JOIN gd USING (gram) GROUP BY 1
)
SELECT d.doc_id,
       coalesce(j.n_distinct_grams, 0) AS n_distinct_grams,
       coalesce(j.n_novel_grams, 0) AS n_novel_grams,
       CASE WHEN coalesce(j.n_distinct_grams, 0) > 0
            THEN round(j.n_novel_grams * 1.0 / j.n_distinct_grams, 6)
       END AS novelty
FROM documents d LEFT JOIN j USING (doc_id)
"""


@register("docs_ngram_novelty", _NOVELTY_SQL)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level trigram novelty per doc — the complement of the
    boilerplate filter (training-data value signal)."""
    return T.ngram_novelty(load_table(spark, sf_dir, "documents"))


_LINEAR_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
agg AS (
    SELECT doc_id,
           CAST(sum({w}) AS BIGINT) AS score_raw,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM toks GROUP BY 1
)
SELECT doc_id, n_tokens, score_raw,
       CAST(floor(score_raw * 1000.0 / n_tokens) AS BIGINT) AS score_ppm,
       score_raw > 0 AS is_positive
FROM agg
""".format(w=_hex_int_sql("md5('lw' || term)", 4) + " % 2001 - 1000")


@register("docs_quality_linear_hashed", _LINEAR_SQL)
def q_quality_linear_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-BoW linear scorer (deterministic weight
    table; integer-sum plumbing — see text_analysis.py)."""
    return T.hashed_linear_quality(load_table(spark, sf_dir, "documents"))


def _minhash_cal_oracle() -> str:
    h48 = _hex_int_sql("md5(CAST(i AS VARCHAR) || '#' || gram)", 12)
    pair_bucket = _hex_int_sql(
        "md5('pair#' || CAST(a.doc_id AS VARCHAR) || '|'"
        " || CAST(b.doc_id AS VARCHAR))",
        4,
    )
    return f"""
WITH capped AS (
    -- fixed md5-ordered doc cap (round-13; does not bind at the
    -- driver gate SFs): calibration needs fixed sample precision,
    -- not a pair count that grows quadratically with the corpus
    SELECT * FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 1000
),
g AS (
    SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest({_TRIGRAM_LIST}) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM capped)
    )
),
perms AS (
    SELECT doc_id, i, min(h) AS m FROM (
        SELECT doc_id, i, {h48} AS h
        FROM g CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
    ) GROUP BY 1, 2
),
docs AS (SELECT DISTINCT doc_id FROM g),
sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
p AS (
    SELECT a.doc_id AS da, b.doc_id AS db
    FROM docs a JOIN docs b ON a.doc_id < b.doc_id
    WHERE {pair_bucket} < 6553
),
inter AS (
    SELECT p.da, p.db, CAST(count(*) AS BIGINT) AS i_
    FROM p JOIN g ga ON ga.doc_id = p.da
           JOIN g gb ON gb.doc_id = p.db AND gb.gram = ga.gram
    GROUP BY 1, 2
),
eqs AS (
    SELECT p.da, p.db,
           CAST(sum(CASE WHEN pa.m = pb.m THEN 1 ELSE 0 END) AS BIGINT) AS eq
    FROM p JOIN perms pa ON pa.doc_id = p.da
           JOIN perms pb ON pb.doc_id = p.db AND pb.i = pa.i
    GROUP BY 1, 2
),
pairs AS (
    SELECT p.da, p.db, eqs.eq,
           coalesce(inter.i_, 0) AS i_,
           sa.n + sb.n - coalesce(inter.i_, 0) AS u_
    FROM p
    JOIN eqs ON eqs.da = p.da AND eqs.db = p.db
    LEFT JOIN inter ON inter.da = p.da AND inter.db = p.db
    JOIN sizes sa ON sa.doc_id = p.da
    JOIN sizes sb ON sb.doc_id = p.db
)
SELECT CAST(least(9, floor(i_ * 10.0 / u_)) AS BIGINT) AS jaccard_decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN abs(eq * u_ - 16 * i_) <= 2 * u_
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_within_tol,
       CAST(sum(CASE WHEN eq * u_ >= 16 * i_ THEN 1 ELSE 0 END) AS BIGINT)
           AS n_overestimates
FROM pairs WHERE u_ > 0
GROUP BY 1
"""


@register("dedup_minhash_calibration", _minhash_cal_oracle())
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy per exact-Jaccard decile — md5-keyed
    so the sketch itself is oracle-replayable (integer-only verdicts;
    see operators/dedup.py::minhash_calibration)."""
    return D.minhash_calibration(load_table(spark, sf_dir, "documents"))


def _pair_hist_oracle() -> str:
    bucket = _hex_int_sql(
        "md5('ph#' || CAST(a.vec_id AS VARCHAR) || '|'"
        " || CAST(b.vec_id AS VARCHAR))",
        4,
    )
    return f"""
WITH capped AS (
    -- fixed-size md5-ordered vector slice (does not bind at the
    -- driver gate SFs): a distribution diagnostic needs fixed sample
    -- precision, not a quadratically growing pair count
    SELECT * FROM embeddings
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 2000
),
p AS (
    SELECT a.vec_id AS ia, b.vec_id AS ib
    FROM capped a JOIN capped b ON a.vec_id < b.vec_id
    WHERE {bucket} < 6553
),
c AS (
    SELECT round(list_cosine_similarity(
               ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cos
    FROM p JOIN capped ea ON ea.vec_id = p.ia
           JOIN capped eb ON eb.vec_id = p.ib
)
SELECT CAST(greatest(-10, least(9, floor(cos * 10))) AS BIGINT)
           AS cos_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM c GROUP BY 1
"""


@register("emb_pair_cosine_hist", _pair_hist_oracle())
def q_pair_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution over an md5-sampled ~10% of pairs
    of a fixed md5-ordered 2000-vector slice — the embedding-space-
    collapse diagnostic, flat-cost at any corpus size."""
    return S.pair_cosine_histogram(load_table(spark, sf_dir, "embeddings"))


_INCREMENTAL_SQL = """
WITH corpus AS (
    SELECT DISTINCT md5(text) AS k FROM documents WHERE source <> 'src0'
),
batch AS (
    SELECT doc_id, md5(text) AS k,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
               AS rn
    FROM documents WHERE source = 'src0'
)
SELECT b.doc_id,
       CASE WHEN c.k IS NOT NULL THEN 'corpus_dup'
            WHEN b.rn > 1 THEN 'batch_dup'
            ELSE 'novel' END AS verdict
FROM batch b LEFT JOIN corpus c ON b.k = c.k
"""


@register("dedup_incremental_batch", _INCREMENTAL_SQL)
def q_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the production shape: a NEW batch
    (src0) checks against the EXISTING corpus's fingerprint set and
    against itself (first occurrence by doc_id survives). At 100 TB
    the corpus side is fingerprints only (32-byte keys, never text),
    the batch shuffles once on its own md5, and the corpus check is a
    key-only join — Bloom-prescreenable via dedup_bloom_prescreen to
    avoid touching the corpus key set for clearly-novel docs."""
    docs = load_table(spark, sf_dir, "documents")
    corpus_keys = (
        docs.where(F.col("source") != "src0")
        .select(F.md5("text").alias("k"))
        .distinct()
    )
    batch = docs.where(F.col("source") == "src0").select(
        "doc_id", F.md5("text").alias("k")
    )
    rn = F.row_number().over(
        Window.partitionBy("k").orderBy("doc_id")
    )
    flagged = batch.withColumn("rn", rn).join(
        corpus_keys.withColumn("in_corpus", F.lit(True)), "k", "left"
    )
    return flagged.select(
        "doc_id",
        F.when(F.col("in_corpus"), F.lit("corpus_dup"))
        .when(F.col("rn") > 1, F.lit("batch_dup"))
        .otherwise(F.lit("novel"))
        .alias("verdict"),
    )


_KNN_ACC_SQL = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
qids AS (
    -- fixed md5-ordered query cap (round-13, was a ~20% fraction):
    -- a label-accuracy eval needs a fixed-precision query sample;
    -- the corpus side stays FULL (exact neighbors), so gate cost is
    -- linear in corpus, never quadratic
    SELECT vec_id FROM embeddings
    ORDER BY md5('knn' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 400
),
q AS (SELECT * FROM e WHERE vec_id IN (SELECT vec_id FROM qids)),
s AS (
    SELECT a.vec_id AS query_id, a.label AS true_label,
           b.label AS n_label,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos,
           b.vec_id AS nid
    FROM q a JOIN e b ON a.vec_id <> b.vec_id
),
knn AS (
    SELECT query_id, true_label, n_label
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, nid) AS rnk
        FROM s
    ) WHERE rnk <= 5
),
votes AS (
    SELECT query_id, true_label, n_label, count(*) AS c
    FROM knn GROUP BY 1, 2, 3
),
pred AS (
    SELECT query_id, true_label, n_label AS pred_label
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY c DESC, n_label) AS vr
        FROM votes
    ) WHERE vr = 1
)
SELECT true_label AS label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS accuracy_ppm
FROM pred GROUP BY 1
"""


@register("emb_knn_label_accuracy", _KNN_ACC_SQL)
def q_emb_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval: 5-NN majority-vote label accuracy per
    class (ties broken smallest-label) — the standard 'is this
    embedding space any good' probe, evaluated on a DETERMINISTIC
    ~20% md5 sample of query vectors against the FULL corpus (exact
    neighbors — sampling the query side is how a scaled eval bounds
    cost without touching retrieval exactness; the first cut evaluated
    every query and cost 41 s at sf0.1, 5x this form). The query×corpus
    join crosses on a 16-way bucket (equi key, never a cartesian); at
    corpus scale the same vote runs over ANN candidates
    (sim_ann_lsh_topk / IVF) — recall floors pinned in
    tests/test_ann_quality.py. Integer votes and ppm accuracy keep the
    hash exact. Round-13: the query sample is a FIXED md5-ordered
    400-vector cap (was a ~20% fraction — a fixed-precision eval
    whose cost is linear in corpus, closing the scale gate's
    quadratic-replay skip); the corpus side stays full."""
    from pyspark.sql import Window

    from realtime_analytics_pipeline_spark.operators.similarity_blas import (
        knn_topk_blas,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    qids = (
        emb.select("vec_id")
        .orderBy(
            F.md5(F.concat(F.lit("knn"), F.col("vec_id").cast("string"))),
            "vec_id",
        )
        .limit(400)
    )
    knn = knn_topk_blas(emb, qids, k=5)
    knn = (
        knn.join(
            labels.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("true_label"),
            ),
            "query_id",
        )
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("n_label"),
                )
            ),
            "neighbor_id",
        )
    )
    votes = knn.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), F.col("n_label")
    )
    pred = votes.withColumn("vr", F.row_number().over(wv)).where(
        F.col("vr") == 1
    )
    correct = F.sum(
        F.when(F.col("n_label") == F.col("true_label"), F.lit(1)).otherwise(
            F.lit(0)
        )
    ).cast("long")
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        correct.alias("n_correct"),
        F.expr(
            "CAST(sum(CASE WHEN n_label = true_label THEN 1 ELSE 0 END)"
            " * 1000000 div count(*) AS BIGINT)"
        ).alias("accuracy_ppm"),
    )


# --------------------------------------------------------------------------
# Round-10: the BOUNDED-dup corpus on the production dedup path,
# driver-certified. The template-heavy driver documents table forces
# Theta(n^2) *output* on any exact >=0.9 verifier, so the gated
# dedup_jaccard_prefix_filtered row can't witness the linear-at-
# realistic-dup-rates behavior the .scale sweep measured (alpha 0.75,
# SCALING.md). This query constructs a planted-cluster corpus — ~3%
# of docs get a one-word-edit near-duplicate (J ~ 0.93), cross-pair
# Jaccard ~ 0 — DETERMINISTICALLY from doc_id alone via md5
# arithmetic, identically in Spark and DuckDB, then runs the same
# prefix-filtered operator. Output is exactly the planted pairs:
# linear in corpus size, certified by the naive all-pairs oracle on
# the same generated corpus.
# --------------------------------------------------------------------------

_BND_H_N = _hex_int_sql("md5(doc_id || ':n')", 5)
_BND_H_J = _hex_int_sql("md5(doc_id || ':' || CAST(j AS VARCHAR))", 5)
_BND_H_DUP = _hex_int_sql("md5('dup:' || doc_id)", 5)

_JACCARD_BOUNDED_SQL = f"""
WITH base AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
    LIMIT 400
),
nw AS (SELECT doc_id, 30 + ({_BND_H_N}) % 51 AS n FROM base),
js AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM nw),
toks AS (
    SELECT doc_id, j,
           'w' || CAST(({_BND_H_J}) % 50000 AS VARCHAR) AS w
    FROM js
),
dupsel AS (SELECT doc_id FROM base WHERE ({_BND_H_DUP}) % 100 < 3),
vtoks AS (
    -- the planted near-duplicate: word 1 replaced (hash+1), the rest
    -- identical; at j = 1 the per-word hash IS H(doc:1)
    SELECT doc_id || '_v' AS doc_id, j,
           CASE WHEN j = 1
                THEN 'w' || CAST((({_BND_H_J}) + 1) % 50000 AS VARCHAR)
                ELSE w END AS w
    FROM toks JOIN dupsel USING (doc_id)
),
sh AS (
    SELECT DISTINCT doc_id, w AS shingle FROM (
        SELECT doc_id, w FROM toks
        UNION ALL SELECT doc_id, w FROM vtoks
    )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       (i * 1000000) // (sa.sz + sb.sz - i) AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 10 >= (sa.sz + sb.sz - i) * 9
"""


@register("dedup_jaccard_prefix_bounded", _JACCARD_BOUNDED_SQL)
def q_jaccard_prefix_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard over a deterministic planted-
    cluster corpus (~3% one-word-edit near-dups, cross-pair J ~ 0):
    the production dedup path exercised at a REALISTIC duplicate rate
    where output — and therefore total work — is linear in corpus
    size, unlike the template-heavy driver corpus whose pair count is
    quadratic by construction. The corpus is a pure md5 function of
    doc_id, generated identically by this code and the DuckDB oracle;
    the oracle verifies the pair set with the naive all-pairs join."""

    def h5(expr):
        # 20-bit md5 prefix as BIGINT — the Spark twin of the oracle's
        # horner nibble parse (_hex_int_sql(..., 5))
        return F.conv(F.substring(F.md5(expr), 1, 5), 16, 10).cast("long")

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"))
        .orderBy(F.md5(F.col("doc_id")), "doc_id")
        .limit(400)
    )
    nw = base.withColumn(
        "n",
        (F.lit(30) + h5(F.concat(F.col("doc_id"), F.lit(":n"))) % 51).cast(
            "int"
        ),
    )
    word = lambda j_str: F.concat(  # noqa: E731
        F.lit("w"),
        (
            h5(F.concat(F.col("doc_id"), F.lit(":"), j_str)) % 50000
        ).cast("string"),
    )
    toks = nw.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.col("n")),
            lambda j: word(j.cast("string")),
        ).alias("ws"),
    )
    is_dup = (h5(F.concat(F.lit("dup:"), F.col("doc_id"))) % 100) < 3
    variants = toks.where(is_dup).select(
        F.concat(F.col("doc_id"), F.lit("_v")).alias("doc_id"),
        F.transform(
            F.col("ws"),
            lambda w, i: F.when(
                i == F.lit(0),
                F.concat(
                    F.lit("w"),
                    (
                        (
                            h5(F.concat(F.col("doc_id"), F.lit(":1"))) + 1
                        )
                        % 50000
                    ).cast("string"),
                ),
            ).otherwise(w),
        ).alias("ws"),
    )
    corpus = toks.unionByName(variants).select(
        "doc_id", F.array_join("ws", " ").alias("text")
    )
    return D.jaccard_pairs_prefix(corpus, n=1, threshold=0.9)


# --------------------------------------------------------------------------
# Round-10: deterministic training-epoch shuffle — the 100 TB answer to
# "randomly shuffle the corpus every epoch" is hash-sharding + a
# within-shard hash sort, never a global sort.
# --------------------------------------------------------------------------

_EPOCH_SHARDS = 16

_EPOCH_SHUFFLE_SQL = f"""
WITH keyed AS (
    SELECT doc_id,
           ({_hex_int_sql("md5('shard:' || CAST(doc_id AS VARCHAR))", 4)})
               % {_EPOCH_SHARDS} AS shard,
           md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS pos_key
    FROM documents)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY shard ORDER BY pos_key, doc_id) AS BIGINT)
           AS epoch_pos,
       doc_id
FROM keyed
"""


@register("docs_epoch_shuffle", _EPOCH_SHUFFLE_SQL)
def q_docs_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffle: every doc gets a shard
    (seeded md5 bucket) and a position within its shard (ordered by a
    DIFFERENT md5 salt), yielding a reproducible pseudo-random global
    order ((shard, epoch_pos) is a total order). Changing the epoch
    salt re-shuffles; same salt replays byte-identically — the
    property training pipelines need for checkpoint-resumable data
    order.

    Scale story: this is exactly how a 100 TB epoch shuffle must run —
    hash-partition into shards (one shuffle, skew-free since md5 is
    uniform), sort WITHIN each shard (window partitioned by shard, no
    global ordering, no single-task sort). Shard count scales with the
    corpus (16 here; thousands at 100 TB) so each per-shard sort fits
    an executor. The same plan shape backs Spark's own
    repartition(N, key) + sortWithinPartitions idiom; expressing it as
    a window keeps the result a pure DataFrame (and the DuckDB oracle
    bit-exact)."""
    shard = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long") % _EPOCH_SHARDS
    pos_key = F.md5(
        F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", shard.alias("shard"), pos_key.alias("pos_key")
    )
    w = Window.partitionBy("shard").orderBy("pos_key", "doc_id")
    return docs.select(
        F.col("shard").cast("bigint").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("epoch_pos"),
        "doc_id",
    )


# --------------------------------------------------------------------------
# Round-10: BPE ENCODING as pure Catalyst folds — the "needs a UDF"
# tokenizer-application op with zero Python execution, sibling of the
# DTW expression-tree query. bpe_train_merges (rows-only) TRAINS a
# table; this query APPLIES a fixed merge table, which is how real
# pipelines run (the tokenizer is a frozen artifact).
# --------------------------------------------------------------------------

# ordered merge table (a, b) -> a||b, applied greedily left-to-right,
# one full pass per merge in priority order — standard BPE encode
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"),
    ("a", "n"), ("an", "d"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("e", "s"), ("o", "r"), ("a", "t"),
]


def _bpe_sql() -> str:
    ctes = ["""
WITH words AS (
    SELECT lower(w) AS word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE regexp_matches(lower(w), '^[a-z]+$')
    GROUP BY 1),
p0 AS (
    SELECT word, cnt,
           list_transform(range(1, length(word) + 1),
                          i -> word[i]) AS s
    FROM words)"""]
    for k, (a, b) in enumerate(_BPE_MERGES):
        ctes.append(f""",
p{k + 1} AS (
    SELECT word, cnt,
           CASE WHEN len(s) < 2 THEN s ELSE
           list_reduce(
               list_prepend([s[1]], list_transform(s[2:], x -> [x])),
               (acc, e) -> CASE WHEN acc[-1] = '{a}' AND e[1] = '{b}'
                   THEN list_append(acc[1:len(acc) - 1], '{a + b}')
                   ELSE list_append(acc, e[1]) END) END AS s
    FROM p{k})""")
    ctes.append(f"""
SELECT token, CAST(sum(cnt) AS BIGINT) AS total_occurrences,
       CAST(count(DISTINCT word) AS BIGINT) AS n_distinct_words
FROM (SELECT word, cnt, unnest(s) AS token FROM p{len(_BPE_MERGES)})
GROUP BY 1
""")
    return "".join(ctes)


_BPE_ENCODE_SQL = _bpe_sql()


@register("text_bpe_encode_tokens", _BPE_ENCODE_SQL)
def q_text_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding TOKENIZATION of the corpus with a fixed
    12-rule merge table, run entirely as Catalyst higher-order folds —
    no Python in the data path. Each merge rule is one `aggregate()`
    fold over the symbol array (greedy left-to-right single pass:
    merge when the accumulator's tail is `a` and the next symbol is
    `b`), chained as 12 NAMED projections; the DuckDB oracle replays
    the identical folds as 12 chained CTEs of `list_reduce` (the DTW
    seed-by-prepend trick for list-typed accumulators).

    The two classic scale tricks are both in play: (1) encoding runs
    on the DISTINCT word vocabulary, not the token stream — corpus
    occurrences join back via the word count, so fold work is
    vocab-sized; (2) the merge loop is ONE nested fold over the merge
    table (outer `aggregate` over merges, inner `aggregate` over
    symbols) — chaining 12 projected columns instead lets the
    optimizer's project-collapse inline each pass ~3x into the next
    (3^12 tree blowup, measured as an analysis-phase hang); lambda
    variables cannot be inlined, so the nested form stays O(1)-sized.
    Output: every emitted subword token with its total corpus
    occurrences and distinct-word support.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy(F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merges_lit = ", ".join(
        f"struct('{a}' AS a, '{b}' AS b, '{a + b}' AS ab)"
        for a, b in _BPE_MERGES
    )
    enc = words.withColumn(
        "s",
        F.expr(
            f"""
aggregate(
  array({merges_lit}),
  transform(sequence(1, length(word)), i -> substring(word, i, 1)),
  (syms, m) -> CASE WHEN size(syms) < 2 THEN syms ELSE
    aggregate(slice(syms, 2, size(syms) - 1),
              array(element_at(syms, 1)),
      (acc, x) -> CASE WHEN element_at(acc, -1) = m.a AND x = m.b
          THEN concat(slice(acc, 1, size(acc) - 1), array(m.ab))
          ELSE concat(acc, array(x)) END) END)
"""
        ),
    )
    # explode_OUTER, deliberately: plain explode lets Catalyst infer
    # `size(s) > 0 AND isnotnull(s)` from the generator, and because
    # s is a pure function of the GROUPING KEY the inferred predicate
    # is legal to push below the aggregate — onto the per-token
    # corpus stream, where the whole nested fold re-evaluates once
    # per occurrence (measured 130 s at the sf1 slice vs 2.6 s with
    # the outer form; the kernel twin was never affected). s is never
    # empty (every word has >= 1 symbol), so outer ≡ inner here and
    # the fold runs exactly once per vocab word, as written.
    return (
        enc.select("word", "cnt", F.explode_outer("s").alias("token"))
        .groupBy("token")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_occurrences"),
            F.countDistinct("word").cast("bigint").alias(
                "n_distinct_words"
            ),
        )
    )


@register("text_bpe_encode_tokens_kernel", _BPE_ENCODE_SQL)
def q_text_bpe_encode_tokens_kernel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrow-kernel twin of text_bpe_encode_tokens — SAME oracle, same
    merge table, same distinct-word-vocabulary framing; only the
    per-word merge fold moves from interpreted Catalyst higher-order
    functions into an Arrow-batched Python loop
    (operators/bpe.py::encode_tokens_kernel). The fold form is the
    engine-portable spec; this is the constant-factor path (measured
    145 s → ~5 s at the sf1 slice, alpha unchanged ~1 — the cost is
    vocab-sized either way). Mirrors the winnowing spec/kernel pair."""
    from realtime_analytics_pipeline_spark.operators.bpe import (
        encode_tokens_kernel,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy(F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    toks = encode_tokens_kernel(words, _BPE_MERGES)
    return toks.groupBy("token").agg(
        F.sum("cnt").cast("bigint").alias("total_occurrences"),
        F.countDistinct("word").cast("bigint").alias("n_distinct_words"),
    )


# --------------------------------------------------------------------------
# Round-10: weighted reservoir sampling WITHOUT replacement
# (Efraimidis–Spirakis 2006, A-ES — public method): fixed-size-k sample
# with inclusion probability ∝ weight, as one orderBy+limit.
# --------------------------------------------------------------------------

_RESERVOIR_K = 100

_RESERVOIR_SQL = f"""
WITH scored AS (
    SELECT doc_id, source,
           round(0.4 * least(1.0, len({_SPLIT}) * 1.0 / 100.0)
                 + 0.3 * (1 - len({_SW}) * 1.0 / len({_SPLIT}))
                 + 0.3 * (len(list_distinct({_SPLIT})) * 1.0 / len({_SPLIT})),
                 6) AS quality_score
    FROM documents
),
keyed AS (
    SELECT doc_id, source, quality_score,
           ln(({_bucket_sql("CAST(doc_id AS VARCHAR)", "res")} + 1)
              / 65537.0e0)
             / greatest(quality_score, 0.01e0) AS es_key
    FROM scored
)
SELECT doc_id, source, quality_score, round(es_key, 6) + 0.0e0 AS es_key
FROM (SELECT * FROM keyed ORDER BY es_key DESC, doc_id
      LIMIT {_RESERVOIR_K})
"""


@register("sample_docs_reservoir_weighted", _RESERVOIR_SQL)
def q_sample_docs_reservoir_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly k docs
    (Efraimidis–Spirakis 2006 A-ES, public method): each doc gets the
    key u^(1/w) for a seeded uniform u — here compared in the
    equivalent monotone form ln(u)/w — and the k LARGEST keys are the
    sample; inclusion probability is proportional to weight (the
    quality score, floored at 0.01 so zero-quality docs keep a
    nonzero key). Complements sample_docs_weighted (Bernoulli
    importance sampling: random SIZE, independent keeps) when the
    budget is a hard k — the standard mixture-sampling primitive for
    assembling a fixed-token training batch by quality.

    Determinism + scale: u is the md5 bucket ((b+1)/65537 ∈ (0,1)),
    so the sample is a pure function of doc_id — reproducible across
    engines and resumable; the selection compiles to
    TakeOrderedAndProject (per-partition top-k heaps, driver merges
    k rows — no global sort, no single-partition window), the same
    plan class as the serving top-N. Cross-engine float note: the
    ln() is the only libm call; adjacent order-statistic gaps are
    ~1/n² ≫ 1 ulp, and the emitted key is rounded to 6 — the ordering
    itself is ULP-stable at any realistic corpus size."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        hash_bucket,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.join(T.quality_scores(docs), "doc_id").select(
        "doc_id", "source", "quality_score"
    )
    u = (hash_bucket(F.col("doc_id").cast("string"), "res") + F.lit(1)) / F.lit(
        65537.0
    )
    es_key = F.log(u) / F.greatest(F.col("quality_score"), F.lit(0.01))
    return (
        scored.withColumn("es_key_raw", es_key)
        .orderBy(F.col("es_key_raw").desc(), "doc_id")
        .limit(_RESERVOIR_K)
        .select(
            "doc_id",
            "source",
            "quality_score",
            (F.round("es_key_raw", 6) + F.lit(0.0)).alias("es_key"),
        )
    )


# --------------------------------------------------------------------------
# Round-11: LSH blocking-quality audit — the record-linkage blocking
# audit's shape (customers_blocking_quality) generalized over the
# repo's bucket-forming dedup surfaces. Doctrine: degenerate buckets
# hide cross joins inside clean equi-join plans; MEASURE the bucket
# distribution before launching any pair join.
# --------------------------------------------------------------------------


def _lsh_blocking_sql() -> str:
    h48 = _hex_int_sql("md5(CAST(i AS VARCHAR) || '#' || gram)", 12)
    km_inner = _kmeans_oracle_sql(final="SELECT vec_id, cluster FROM a3")
    metric_rows = []
    for name, sizes, n_ent in (
        ("minhash_band_4x4", "mh_sizes",
         "(SELECT count(DISTINCT doc_id) FROM g)"),
        ("kmeans_cell", "km_sizes", "(SELECT count(*) FROM embeddings)"),
        ("exact_md5_text", "ex_sizes", "(SELECT count(*) FROM documents)"),
    ):
        metric_rows.append(f"""
SELECT '{name}' AS surface,
       CAST({n_ent} AS BIGINT) AS n_entities,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(max(cnt) AS BIGINT) AS max_block,
       CAST(coalesce(sum((cnt * (cnt - 1)) // 2), 0) AS BIGINT)
           AS cand_pairs,
       CAST(coalesce(max((cnt * (cnt - 1)) // 2), 0) AS BIGINT)
           AS max_block_pairs
FROM {sizes}""")
    body = "\nUNION ALL".join(metric_rows)
    return f"""
WITH g AS (
    SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest({_TRIGRAM_LIST}) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    )
),
sig AS (
    SELECT doc_id, i, min(h) AS m FROM (
        SELECT doc_id, i, {h48} AS h
        FROM g CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
    ) GROUP BY 1, 2
),
mh_sizes AS (
    SELECT k, count(*) AS cnt FROM (
        SELECT doc_id,
               md5(CAST(i // 4 AS VARCHAR) || ':' ||
                   string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS k
        FROM sig GROUP BY doc_id, i // 4
    ) GROUP BY 1
),
km_sizes AS (
    SELECT cluster AS k, count(*) AS cnt
    FROM ({km_inner}) GROUP BY 1
),
ex_sizes AS (
    SELECT md5(text) AS k, count(*) AS cnt FROM documents GROUP BY 1
),
metrics AS ({body})
SELECT surface, n_entities, n_blocks, max_block, cand_pairs,
       CAST(floor(CAST(cand_pairs AS DOUBLE) * 1000000e0 /
            (CAST(n_entities AS DOUBLE)
             * (CAST(n_entities AS DOUBLE) - 1e0) / 2e0))
           AS BIGINT) AS cand_frac_ppm,
       CASE WHEN cand_pairs = 0 THEN 0
            ELSE CAST(floor(CAST(max_block_pairs AS DOUBLE) * 1000000e0
                 / CAST(cand_pairs AS DOUBLE)) AS BIGINT) END
           AS hot_share_ppm
FROM metrics
"""


_LSH_BLOCKING_SQL = _lsh_blocking_sql()


# bench.py and perfbench scope the shared intermediates per timed rep
set_memo_epoch = SESSION_MEMO.set_epoch
memo_build_count = SESSION_MEMO.build_count


def _kmeans_cells(
    spark: SparkSession, sf_dir: str, k: int = 8, iterations: int = 3
) -> DataFrame:
    """Session-memoized kmeans_lite(embeddings) cell assignment.
    The deterministic coarse quantizer is re-trained identically by
    five gated queries (sim_kmeans_lite, blocking quality, semantic
    dedup at k=8/it=3; IVF and IVF-PQ at k=8/it=2) and is pure
    driver-overhead at slice scale (~30 tiny jobs for 2-3 Lloyd
    iterations) — one training per (args, sf_dir) per session is the
    production shape: an IVF index is TRAINED once and probed by
    every query. Values are bit-identical to an inline call (same
    function, checkpoint only cuts lineage), so oracles are
    unaffected."""
    from realtime_analytics_pipeline_spark.operators.clustering import (
        kmeans_lite,
    )

    return SESSION_MEMO.get_or_build(
        spark,
        (os.path.realpath(sf_dir), "kmeans", k, iterations),
        lambda: kmeans_lite(
            load_table(spark, sf_dir, "embeddings"), k=k, iterations=iterations
        ),
    )


def _md5_corpus_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized 16-perm md5 MinHash signature table over the
    FULL documents table — the single most expensive derived frame in
    the docs family (16 md5+conv per distinct trigram). Shared by docs_lsh_blocking_quality and the
    3-gram half of docs_lsh_recall_audit (VERDICT r12 item 6; the
    signature is a pure per-doc function, so the audit's bounded
    doc_id < 300 slice is a filter of this frame, not a re-derivation).
    dedup_incremental_minhash deliberately does NOT use it: its row
    measures the bootstrap shape (see the stored twin for the daily
    shape). num_docs x 16 longs, a few MB at any slice SF."""
    return SESSION_MEMO.get_or_build(
        spark,
        (os.path.realpath(sf_dir), "md5sigs"),
        lambda: D.minhash_md5_signatures(load_table(spark, sf_dir, "documents")),
    )


@register("docs_lsh_blocking_quality", _LSH_BLOCKING_SQL)
def q_docs_lsh_blocking_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocking-quality audit over the THREE bucket-forming dedup
    surfaces — MinHash LSH band buckets (md5-keyed 16-perm signature,
    4 bands x 4 rows, the oracle-replayable twin of the production
    xxhash64 banding), k-means quantizer cells (the semantic-dedup
    candidate scope), and the exact-dedup md5(text) key. Per surface:
    entity count, block count, largest block, candidate-pair volume
    sum_k C(n_k, 2), candidate fraction of the C(N, 2) cross space
    (ppm; the MinHash surface counts each band's key space, so its
    ceiling is bands x 1e6), and the HOT share — the fraction of all
    candidate pairs contributed by the single largest block, the
    number that says whether one degenerate bucket owns the join.

    This is customers_blocking_quality generalized per the round-10
    verdict: linkage block keys had a gated audit, LSH bands and
    k-means cells did not — yet a hot band is exactly the same
    failure (round-10 measured a 34%-hot k-means cell at sf0.1, which
    is why clustered_dup_pairs salts hot cells). At 100 TB this query
    is the pre-flight check before any LSH pair join: one group-by
    per surface, no pair ever materializes. Ground truth (planted
    twins) doesn't exist for these surfaces, so the metrics are
    structural — the completeness half lives with the linkage audit."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = _md5_corpus_sigs(spark, sf_dir)
    mh_keys = _md5_band_keys(sigs, "doc_id").select("k")
    mh_sizes = mh_keys.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
    km_sizes = (
        _kmeans_cells(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ex_sizes = docs.groupBy(F.md5("text").alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # 1-row sizing aggregates (documented bounded-collect convention)
    n_mh = sigs.count()
    n_km = emb.count()
    n_ex = docs.count()

    def metrics(sizes: DataFrame, surface: str, n: int) -> DataFrame:
        pairs = F.expr("(cnt * (cnt - 1)) div 2")
        agg = sizes.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.max("cnt").alias("max_block"),
            F.coalesce(F.sum(pairs), F.lit(0)).alias("cand_pairs"),
            F.coalesce(F.max(pairs), F.lit(0)).alias("max_block_pairs"),
        )
        total = float(n) * (float(n) - 1.0) / 2.0
        return agg.select(
            F.lit(surface).alias("surface"),
            F.lit(n).cast("bigint").alias("n_entities"),
            F.col("n_blocks").cast("bigint").alias("n_blocks"),
            F.col("max_block").cast("bigint").alias("max_block"),
            F.col("cand_pairs").cast("bigint").alias("cand_pairs"),
            F.floor(
                F.col("cand_pairs").cast("double")
                * F.lit(1000000.0)
                / F.lit(total)
            )
            .cast("bigint")
            .alias("cand_frac_ppm"),
            F.when(F.col("cand_pairs") == 0, F.lit(0))
            .otherwise(
                F.floor(
                    F.col("max_block_pairs").cast("double")
                    * F.lit(1000000.0)
                    / F.col("cand_pairs").cast("double")
                )
            )
            .cast("bigint")
            .alias("hot_share_ppm"),
        )

    return (
        metrics(mh_sizes, "minhash_band_4x4", n_mh)
        .unionByName(metrics(km_sizes, "kmeans_cell", n_km))
        .unionByName(metrics(ex_sizes, "exact_md5_text", n_ex))
    )


# --------------------------------------------------------------------------
# Round-11: training-mixture assembly operators — temperature-scaled
# source mixing (the multilingual-pretraining standard), group-aware
# splits (leakage unit = source), exact integer token-budget
# apportionment (largest remainder), and a shard-parallel curriculum
# order (quality-staged epoch shuffle).
# --------------------------------------------------------------------------

_TEMP_MIX_SQL = """
WITH s AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM s),
w AS (SELECT source, n_docs, n, sqrt(CAST(n_docs AS DOUBLE)) AS pw
      FROM s CROSS JOIN tot),
z AS (SELECT list_reduce(list(pw ORDER BY source), (a, x) -> a + x)
      AS zsum FROM w)
SELECT source, n_docs,
       round(CAST(n_docs AS DOUBLE) / n, 6) + 0.0e0 AS nat_share,
       round(pw / zsum, 6) + 0.0e0 AS temp_share,
       round(pw / zsum * n / n_docs, 6) + 0.0e0 AS sampling_rate_x
FROM w CROSS JOIN z
"""


@register("sample_docs_temperature_mix", _TEMP_MIX_SQL)
def q_sample_docs_temperature_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled source mixing (public practice: the
    multilingual-pretraining sampling rule p_s^(1/T) / Z, T=2): the
    natural share of each source is flattened toward uniform, which
    upsamples tail sources without a declared target mixture —
    source_mixing_weights' complement (that one needs explicit
    targets; this derives the mix from the data's own distribution).
    p^(1/2) reduces to sqrt(n_s)/Z, and sqrt is CORRECTLY-ROUNDED
    IEEE in both engines (pow is not — that is why T=2, not 1.7).
    Emits per source: natural share, temperature share, and
    sampling_rate_x — the per-doc repetition/keep factor a downstream
    weighted sampler applies. One partial->final agg over sources;
    the Z normalizer reduces over the handful of source rows via a
    SORTED fold on the Spark side, and the oracle mirrors it with
    list_reduce over the SAME source order (ADVICE r11: an unordered
    sum(pw) only matches up to float reassociation — both engines
    must reduce in the same sequence, the EM M-step convention)."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = s.agg(F.sum("n_docs").alias("n"))
    w = s.crossJoin(F.broadcast(tot)).withColumn(
        "pw", F.sqrt(F.col("n_docs").cast("double"))
    )
    z = w.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("source", "pw"))),
            F.lit(0.0),
            lambda a, x: a + x.pw,
        ).alias("zsum")
    )
    return w.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        (F.round(F.col("n_docs").cast("double") / F.col("n"), 6)
         + F.lit(0.0)).alias("nat_share"),
        (F.round(F.col("pw") / F.col("zsum"), 6) + F.lit(0.0)).alias(
            "temp_share"
        ),
        (
            F.round(
                F.col("pw") / F.col("zsum") * F.col("n") / F.col("n_docs"),
                6,
            )
            + F.lit(0.0)
        ).alias("sampling_rate_x"),
    )


_GROUP_SPLIT_SQL = f"""
SELECT doc_id, source,
       CASE WHEN {_bucket_sql("source", "gsplit")} < 52429 THEN 'train'
            WHEN {_bucket_sql("source", "gsplit")} < 58982 THEN 'valid'
            ELSE 'test' END AS split
FROM documents
"""


@register("split_docs_group_aware", _GROUP_SPLIT_SQL)
def q_split_docs_group_aware(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUP-aware train/valid/test split: the hash is taken over the
    GROUP key (source — the domain), not the row id, so every doc of
    a source lands in the same split and near-duplicate leakage
    across splits via shared-source boilerplate is structurally
    impossible — the standard anti-leakage discipline (split by
    domain/site, never by page). train_eval_split remains the row-id
    variant for iid corpora. Fractions are lumpy by construction
    (whole groups move together — with few groups that is the honest
    cost of leakage-freedom, stated not hidden). Map-only: no join,
    no shuffle, one md5 per row."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        hash_bucket,
    )

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("source"), "gsplit")
    return docs.select(
        "doc_id",
        "source",
        F.when(b < 52429, "train")
        .when(b < 58982, "valid")
        .otherwise("test")
        .alias("split"),
    )


_APPORTION_SQL = """
WITH t AS (
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
    FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total FROM t),
q AS (
    SELECT source, toks,
           (toks * 100000) // total AS base,
           (toks * 100000) % total AS rem
    FROM t CROSS JOIN tot
),
extra AS (SELECT CAST(100000 - sum(base) AS BIGINT) AS k FROM q),
ranked AS (
    SELECT q.*, k,
           row_number() OVER (ORDER BY rem DESC, source) AS rk
    FROM q CROSS JOIN extra
)
SELECT source, toks,
       CAST(base + CASE WHEN rk <= k THEN 1 ELSE 0 END AS BIGINT)
           AS alloc_tokens
FROM ranked
"""


@register("docs_token_budget_apportionment", _APPORTION_SQL)
def q_docs_token_budget_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT integer apportionment of a 100k-token training budget
    across sources by largest remainder (Hamilton's method): quota =
    budget * toks_s / total in pure integer math (div + mod), the
    leftover seats go to the largest remainders (source tiebreak),
    and sum(alloc_tokens) == budget EXACTLY — the property float
    proportional shares cannot give and budget reconciliation needs.
    Integer overflow note: toks * budget stays under 2^63 up to
    ~9e13 corpus tokens at this budget; wider budgets need DECIMAL.
    Scale shape: one agg over the corpus, then all window work is on
    STRATA rows (tens), where a single-task window is correct, not a
    bottleneck."""
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select(
            "source", F.size(F.split("text", " ")).cast("long").alias("tk")
        )
        .groupBy("source")
        .agg(F.sum("tk").alias("toks"))
    )
    tot = t.agg(F.sum("toks").alias("total"))
    q = t.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        F.expr("(toks * 100000) div total").alias("base"),
        ((F.col("toks") * 100000) % F.col("total")).alias("rem"),
    )
    extra = q.agg((F.lit(100000) - F.sum("base")).alias("k"))
    ranked = q.crossJoin(F.broadcast(extra)).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("source"))
        ),
    )
    return ranked.select(
        "source",
        "toks",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_tokens"),
    )


_CURRICULUM_SQL = f"""
WITH scored AS (
    SELECT doc_id,
           round(0.4 * least(1.0, len({_SPLIT}) * 1.0 / 100.0)
                 + 0.3 * (1 - len({_SW}) * 1.0 / len({_SPLIT}))
                 + 0.3 * (len(list_distinct({_SPLIT})) * 1.0
                          / len({_SPLIT})),
                 6) AS quality_score
    FROM documents
),
cuts AS (
    SELECT quantile_cont(quality_score, 0.25) AS q1,
           quantile_cont(quality_score, 0.50) AS q2,
           quantile_cont(quality_score, 0.75) AS q3
    FROM scored
),
staged AS (
    SELECT doc_id, quality_score,
           CASE WHEN quality_score >= q3 THEN 1
                WHEN quality_score >= q2 THEN 2
                WHEN quality_score >= q1 THEN 3
                ELSE 4 END AS stage,
           {_hex_int_sql("md5('shard:' || CAST(doc_id AS VARCHAR))", 4)}
               % 16 AS shard,
           md5('cur1:' || CAST(doc_id AS VARCHAR)) AS pos_key
    FROM scored CROSS JOIN cuts
)
SELECT CAST(stage AS BIGINT) AS stage,
       CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (
           PARTITION BY stage, shard ORDER BY pos_key, doc_id)
         AS BIGINT) AS stage_pos,
       doc_id, quality_score
FROM staged
"""


@register("docs_curriculum_order", _CURRICULUM_SQL)
def q_docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-staged curriculum ordering: docs_epoch_shuffle's
    shard-parallel deterministic order, stratified into 4 quality
    stages (highest quartile trains first — curriculum learning's
    data-side half). Stage boundaries come from EXACT quantile
    cutpoints (a 1-row aggregate broadcast back), NOT a global ntile
    window — ntile needs a total order (one task at 100 TB); the
    cutpoint form is one agg + a map-side CASE, and within each
    (stage, md5-shard) cell the position sort is executor-sized.
    (stage, shard, stage_pos) is a total order; same-salt replays are
    byte-identical (checkpoint-resumable, the epoch-shuffle
    property). At 100 TB swap the exact quantiles for
    percentile_approx in the same 1-row shape."""
    docs = load_table(spark, sf_dir, "documents")
    scored = T.quality_scores(docs)
    cuts = scored.agg(
        F.percentile("quality_score", 0.25).alias("q1"),
        F.percentile("quality_score", 0.50).alias("q2"),
        F.percentile("quality_score", 0.75).alias("q3"),
    )
    shard = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("long") % 16
    staged = scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "quality_score",
        F.when(F.col("quality_score") >= F.col("q3"), 1)
        .when(F.col("quality_score") >= F.col("q2"), 2)
        .when(F.col("quality_score") >= F.col("q1"), 3)
        .otherwise(4)
        .alias("stage"),
        shard.alias("shard"),
        F.md5(
            F.concat(F.lit("cur1:"), F.col("doc_id").cast("string"))
        ).alias("pos_key"),
    )
    win = Window.partitionBy("stage", "shard").orderBy("pos_key", "doc_id")
    return staged.select(
        F.col("stage").cast("bigint").alias("stage"),
        F.col("shard").cast("bigint").alias("shard"),
        F.row_number().over(win).cast("bigint").alias("stage_pos"),
        "doc_id",
        "quality_score",
    )


_DEDUP_SPLIT_SQL = f"""
WITH RECURSIVE
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle
    FROM documents WHERE doc_id < 300
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.95
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(u, comp) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.u
),
comp AS (SELECT u AS doc_id, min(comp) AS component FROM reach GROUP BY u),
labeled AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, CAST(component AS BIGINT) AS component,
       CASE WHEN {_bucket_sql("CAST(component AS VARCHAR)", "dsplit")}
                 < 58982
            THEN 'train' ELSE 'eval' END AS split
FROM labeled
"""


# The two bounded-CC diagnostics below (split_docs_dedup_aware,
# dedup_keep_best_survivors) need the IDENTICAL doc_id < 300
# pairs -> connected-components -> singleton-coalesce label set; each
# re-deriving it cost ~8 s of every gate/bench run (VERDICT r11
# "What's wrong" #1). The ~300-row label table and its pair scan are
# session-memoized, so outputs are bit-identical to the un-shared form.
def _bounded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) 1-gram Jaccard >= 0.95 pairs on the doc_id < 300
    gate subgraph — the expensive half (shingle explode + prefix
    candidates + verify) of every bounded-CC diagnostic. Round-12:
    hoisted out of _bounded_cc_labels so the incremental-components
    query shares the pair scan too (three consumers, one computation)."""
    return SESSION_MEMO.get_or_build(
        spark,
        (os.path.realpath(sf_dir), "pairs"),
        lambda: D.jaccard_pairs(
            load_table(spark, sf_dir, "documents").where("doc_id < 300"),
            n=1,
            threshold=0.95,
        ).select("doc_a", "doc_b"),
    )


def _bounded_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) for the doc_id < 300 gate subgraph:
    connected components of 1-gram Jaccard >= 0.95 pairs, singletons
    labeled by their own doc_id."""
    from realtime_analytics_pipeline_spark.operators.clustering import (
        dedup_cluster_representatives,
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").where("doc_id < 300")
        comp = dedup_cluster_representatives(
            _bounded_pairs(spark, sf_dir), bounded=True
        ).select(F.col("vertex").alias("doc_id"), "component")
        return (
            docs.select("doc_id")
            .join(comp, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("component"), F.col("doc_id"))
                .cast("bigint")
                .alias("component"),
            )
        )

    return SESSION_MEMO.get_or_build(
        spark, (os.path.realpath(sf_dir), "labels"), build
    )


@register("split_docs_dedup_aware", _DEDUP_SPLIT_SQL)
def q_split_docs_dedup_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-aware train/eval split: the split hash is taken over the
    near-duplicate CLUSTER representative (connected components of
    Jaccard >= 0.95 pairs), so a doc and all its near-duplicates land
    on the same side — the leakage mode that row-id splits cannot
    prevent and that group-aware splits only prevent when duplicates
    stay within one group (cross-site mirrors do not). This is the
    published lesson from benchmark-contamination studies: dedup
    BEFORE you split, or split BY the dedup component. Singleton docs
    are their own component (left join + coalesce). Gate runs on the
    same bounded subgraph as dedup_connected_components (doc_id <
    300; the recursive-CTE oracle is quadratic in component size on
    this template-heavy corpus); the operator composes the
    unrestricted library CC + the map-only md5 bucket, so at 100 TB
    the cost is the CC you were already running for dedup plus one
    hash per doc. The label set is shared with
    dedup_keep_best_survivors via _bounded_cc_labels (VERDICT r11:
    the two diagnostics were re-deriving the identical subgraph)."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        hash_bucket,
    )

    labeled = _bounded_cc_labels(spark, sf_dir)
    return labeled.select(
        "doc_id",
        F.col("component").cast("bigint").alias("component"),
        F.when(
            hash_bucket(F.col("component").cast("string"), "dsplit")
            < 58982,
            "train",
        )
        .otherwise("eval")
        .alias("split"),
    )


def _lsh_recall_sql() -> str:
    h48 = _hex_int_sql("md5(CAST(i AS VARCHAR) || '#' || gram)", 12)
    chains, rows = [], []
    for tag, gram_expr in (
        ("3", f"unnest({_TRIGRAM_LIST})"),
        ("1", "unnest(list_distinct(ws))"),
    ):
        chains.append(f"""
g{tag} AS (
    SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, {gram_expr} AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS ws
              FROM documents WHERE doc_id < 300)
    )
),
sizes{tag} AS (SELECT doc_id, count(*) AS sz FROM g{tag} GROUP BY 1),
inter{tag} AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS i
    FROM g{tag} a
    JOIN g{tag} b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
truth{tag} AS (
    SELECT doc_a, doc_b
    FROM inter{tag}
    JOIN sizes{tag} sa ON sa.doc_id = doc_a
    JOIN sizes{tag} sb ON sb.doc_id = doc_b
    WHERE i * 10 >= 9 * (sa.sz + sb.sz - i)
),
sig{tag} AS (
    SELECT doc_id, i, min(h) AS m FROM (
        SELECT doc_id, i, {h48} AS h
        FROM g{tag} CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
    ) GROUP BY 1, 2
),
bk{tag} AS (
    SELECT doc_id,
           md5(CAST(i // 4 AS VARCHAR) || ':' ||
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS k
    FROM sig{tag} GROUP BY doc_id, i // 4
),
cand{tag} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bk{tag} a JOIN bk{tag} b ON a.k = b.k AND a.doc_id < b.doc_id
),
caught{tag} AS (
    SELECT t.doc_a, t.doc_b FROM truth{tag} t
    JOIN cand{tag} c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
)""")
        rows.append(f"""
SELECT '{tag}gram' AS shingles,
       CAST((SELECT count(DISTINCT doc_id) FROM g{tag}) AS BIGINT)
           AS n_docs,
       CAST((SELECT count(*) FROM truth{tag}) AS BIGINT) AS true_pairs,
       CAST((SELECT count(*) FROM cand{tag}) AS BIGINT)
           AS candidate_pairs,
       CAST((SELECT count(*) FROM caught{tag}) AS BIGINT) AS caught_pairs,
       CASE WHEN (SELECT count(*) FROM truth{tag}) = 0 THEN 0
            ELSE CAST(floor(
                CAST((SELECT count(*) FROM caught{tag}) AS DOUBLE)
                * 1000000e0
                / CAST((SELECT count(*) FROM truth{tag}) AS DOUBLE))
                AS BIGINT)
       END AS recall_ppm,
       CASE WHEN (SELECT count(*) FROM cand{tag}) = 0 THEN 0
            ELSE CAST(floor(
                CAST((SELECT count(*) FROM caught{tag}) AS DOUBLE)
                * 1000000e0
                / CAST((SELECT count(*) FROM cand{tag}) AS DOUBLE))
                AS BIGINT)
       END AS precision_ppm""")
    return (
        "WITH " + ",".join(chains) + "\n" + "\nUNION ALL".join(rows) + "\n"
    )



_LSH_RECALL_SQL = _lsh_recall_sql()


@register("docs_lsh_recall_audit", _LSH_RECALL_SQL)
def q_docs_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall/precision of MinHash-LSH banding against exact
    Jaccard ground truth — the completeness half the structural
    blocking audit (docs_lsh_blocking_quality) cannot give, closed
    the same way the linkage audit closes it: on a bounded subgraph
    (doc_id < 300, the dedup_connected_components gate convention)
    the EXACT pair set at Jaccard >= 0.9 (integer verdict
    i*10 >= 9*u — no float) is computable, so the md5-keyed 16-perm
    4x4 banding's candidates can be scored for real. Two rows, one
    per shingle choice, because shingle choice IS the selectivity
    decision: 3-gram shingles (the production config) give sparse
    similarity — 7/7 truth caught at precision 1.0; 1-gram shingles
    on this dense corpus give the honest s-curve — measured at
    sf0.01: recall 969,087 ppm / precision 173,997 ppm at t=0.9 with
    the band midpoint at (1/4)^(1/4) ~ 0.707, i.e. 97% of true pairs
    caught while 83% of candidates are below threshold — exactly the
    theory, now a gate-checked number. At 100 TB the truth half runs
    on a sampled subgraph like this one (recall estimation needs a
    sample, not the corpus — the EM-vs-linking separation again)."""
    # r13 (guide §4 HOF trap): split(text) inside the trigram lambda
    # re-evaluated once per trigram — hoist the token array into a
    # child projection; values bit-identical.
    docs = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id < 300")
        .select("doc_id", F.split(F.col("text"), " ").alias("_ws"))
    )
    tri = F.expr(
        "CASE WHEN size(_ws) >= 3 THEN "
        "transform(sequence(1, size(_ws) - 2), "
        "i -> concat_ws(' ', slice(_ws, i, 3))) "
        "ELSE slice(_ws, 1, 0) END"
    )
    uni = F.array_distinct(F.col("_ws"))

    def row(gram_arr, label, sig=None):
        g = docs.select(
            "doc_id", F.explode(gram_arr).alias("gram")
        ).distinct()
        sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        a, b = g.alias("a"), g.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("i"))
        )
        sa = sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")
        )
        sb = sizes.select(
            F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")
        )
        truth = (
            inter.join(F.broadcast(sa), "doc_a")
            .join(F.broadcast(sb), "doc_b")
            .where(
                F.col("i") * 10
                >= 9 * (F.col("sz_a") + F.col("sz_b") - F.col("i"))
            )
            .select("doc_a", "doc_b")
        )
        if sig is None:
            perm = g.select(
                "doc_id",
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(i).alias("i"),
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.lit(f"{i}#"), F.col("gram")
                                        )
                                    ),
                                    1, 12,
                                ), 16, 10,
                            ).cast("long").alias("h"),
                        )
                        for i in range(16)
                    ])
                ).alias("p"),
            ).select(
                "doc_id", F.col("p.i").alias("i"), F.col("p.h").alias("h")
            )
            sig = (
                perm.groupBy("doc_id", "i")
                .agg(F.min("h").alias("m"))
                .groupBy("doc_id")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("i", "m"))
                    ).alias("sig")
                )
                .select("doc_id", F.col("sig.m").alias("sig"))
            )
        bk = _md5_band_keys(sig, "doc_id")
        ba, bb = bk.alias("ba"), bk.alias("bb")
        cand = (
            ba.join(
                bb,
                (F.col("ba.k") == F.col("bb.k"))
                & (F.col("ba.doc_id") < F.col("bb.doc_id")),
            )
            .select(
                F.col("ba.doc_id").alias("doc_a"),
                F.col("bb.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        caught = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
        counts = (
            g.agg(F.countDistinct("doc_id").alias("n_docs"))
            .crossJoin(truth.agg(F.count(F.lit(1)).alias("true_pairs")))
            .crossJoin(
                cand.agg(F.count(F.lit(1)).alias("candidate_pairs"))
            )
            .crossJoin(
                caught.agg(F.count(F.lit(1)).alias("caught_pairs"))
            )
        )
        return counts.select(
            F.lit(label).alias("shingles"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("true_pairs").cast("bigint").alias("true_pairs"),
            F.col("candidate_pairs")
            .cast("bigint")
            .alias("candidate_pairs"),
            F.col("caught_pairs").cast("bigint").alias("caught_pairs"),
            F.when(F.col("true_pairs") == 0, F.lit(0))
            .otherwise(
                F.floor(
                    F.col("caught_pairs").cast("double")
                    * F.lit(1000000.0)
                    / F.col("true_pairs").cast("double")
                )
            )
            .cast("bigint")
            .alias("recall_ppm"),
            F.when(F.col("candidate_pairs") == 0, F.lit(0))
            .otherwise(
                F.floor(
                    F.col("caught_pairs").cast("double")
                    * F.lit(1000000.0)
                    / F.col("candidate_pairs").cast("double")
                )
            )
            .cast("bigint")
            .alias("precision_ppm"),
        )

    # the 3-gram branch's signatures ARE the corpus signature frame
    # restricted to the bounded slice (per-doc function) — reuse the
    # session memo instead of re-deriving (VERDICT r12 item 6); the
    # 1-gram branch's unigram-shingle signatures have no full-corpus
    # twin and stay in-plan.
    tri_sig = _md5_corpus_sigs(spark, sf_dir).where(F.col("doc_id") < 300)
    return row(tri, "3gram", sig=tri_sig).unionByName(row(uni, "1gram"))


_KEEP_BEST_SQL = f"""
WITH RECURSIVE
d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle FROM d
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.95
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(u, comp) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.u
),
comp AS (SELECT u AS doc_id, min(comp) AS component FROM reach GROUP BY u),
labeled AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
           round(0.4 * least(1.0, len({_SPLIT}) * 1.0 / 100.0)
                 + 0.3 * (1 - len({_SW}) * 1.0 / len({_SPLIT}))
                 + 0.3 * (len(list_distinct({_SPLIT})) * 1.0
                          / len({_SPLIT})),
                 6) AS quality_score
    FROM d LEFT JOIN comp c ON d.doc_id = c.doc_id
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY component
        ORDER BY quality_score DESC, doc_id) AS rk,
        count(*) OVER (PARTITION BY component) AS n_members
    FROM labeled
)
SELECT CAST(component AS BIGINT) AS component,
       doc_id AS survivor_doc_id,
       quality_score AS survivor_quality,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rk = 1
"""


@register("dedup_keep_best_survivors", _KEEP_BEST_SQL)
def q_dedup_keep_best_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Survivor selection with a QUALITY policy: per near-duplicate
    cluster (connected components of Jaccard >= 0.95 pairs), keep the
    HIGHEST-QUALITY member — the production rule
    (dedup_cluster_representatives keeps min-id, which is arbitrary;
    real pipelines keep the best copy: longest/cleanest/newest). One
    window (top-1 per component, quality desc, doc_id tiebreak) over
    the CC labels joined to the quality scores; singletons survive as
    their own component. Same bounded doc_id < 300 gate subgraph as
    the CC family (recursive-CTE oracle cost); the operator shape is
    corpus-scale — CC you already ran for dedup + one component-keyed
    window whose partitions are duplicate-cluster-sized. The CC label
    set is shared with split_docs_dedup_aware via _bounded_cc_labels
    (VERDICT r11: the two diagnostics were re-deriving the identical
    subgraph)."""
    docs = load_table(spark, sf_dir, "documents").where("doc_id < 300")
    labeled = _bounded_cc_labels(spark, sf_dir).join(
        T.quality_scores(docs), "doc_id"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    wc = Window.partitionBy("component")
    return (
        labeled.withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .where(F.col("rk") == 1)
        .select(
            F.col("component").cast("bigint").alias("component"),
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("quality_score").alias("survivor_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


# --------------------------------------------------------------------------
# Round-12: incremental NEAR-dup dedup (VERDICT r11 item 3) — the
# daily-increment production shape: band the NEW batch, key-only join
# against the EXISTING corpus's persisted band buckets, verify
# candidates batch-side. Complements dedup_incremental_batch (exact
# md5 keys) with the LSH analog; it uses the md5 16-perm 4x4 banding
# so DuckDB replays it bit-for-bit, and tests/test_incremental_minhash.py
# pins its candidates against full-corpus LSH over the same band keys.
# --------------------------------------------------------------------------


def _incremental_minhash_sql() -> str:
    h48 = _hex_int_sql("md5(CAST(i AS VARCHAR) || '#' || gram)", 12)
    return f"""
WITH g AS (
    SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest({_TRIGRAM_LIST}) AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    )
),
sig AS (
    SELECT doc_id, i, min(h) AS m FROM (
        SELECT doc_id, i, {h48} AS h
        FROM g CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
    ) GROUP BY 1, 2
),
bk AS (
    SELECT doc_id,
           md5(CAST(i // 4 AS VARCHAR) || ':' ||
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS k
    FROM sig GROUP BY doc_id, i // 4
),
src AS (SELECT doc_id, source FROM documents),
cand AS (
    SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS corpus_doc_id
    FROM bk b
    JOIN src sb ON sb.doc_id = b.doc_id AND sb.source = 'src0'
    JOIN bk c ON c.k = b.k
    JOIN src sc ON sc.doc_id = c.doc_id AND sc.source <> 'src0'
),
eq AS (
    SELECT cand.doc_id, cand.corpus_doc_id,
           CAST(count(*) AS BIGINT) AS eq
    FROM cand
    JOIN sig sa ON sa.doc_id = cand.doc_id
    JOIN sig sb ON sb.doc_id = cand.corpus_doc_id AND sb.i = sa.i
    WHERE sa.m = sb.m
    GROUP BY 1, 2
),
agg AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN eq >= 15 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_verified,
           CAST(max(eq) AS BIGINT) AS best_eq
    FROM eq GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(a.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(a.n_verified, 0) AS BIGINT) AS n_verified,
       CAST(coalesce(a.best_eq, 0) AS BIGINT) AS best_eq,
       CASE WHEN coalesce(a.n_verified, 0) > 0 THEN 'corpus_near_dup'
            ELSE 'novel' END AS verdict
FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


_INCREMENTAL_MINHASH_SQL = _incremental_minhash_sql()


def _md5_band_keys(sigs: DataFrame, id_alias: str) -> DataFrame:
    """(id, k) LSH band keys over md5 16-perm signatures, 4 bands x
    4 rows — k = md5('<band>:' || comma-joined slot values), the
    engine-portable twin of minhash_band_buckets' xxhash64 keys.
    Shared by the in-plan and stored-bucket incremental queries so
    batch and store derive IDENTICAL keys."""
    return sigs.select(
        F.col("doc_id").alias(id_alias),
        F.explode(
            F.array(*[
                F.md5(
                    F.concat(
                        F.lit(f"{j}:"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")
                                .getItem(j * 4 + k)
                                .cast("string")
                                for k in range(4)
                            ],
                        ),
                    )
                )
                for j in range(4)
            ])
        ).alias("k"),
    )


def _minhash_verdicts(
    batch: DataFrame, bsig: DataFrame, cands: DataFrame, csig: DataFrame
) -> DataFrame:
    """The verification tail of both incremental MinHash queries. Each
    (doc_id, corpus_doc_id) candidate of ``cands`` is scored by its
    count of equal signature slots between ``bsig`` (doc_id, sig) and
    ``csig`` (corpus_doc_id, sig); a candidate is a near-dup iff
    eq >= 15 of 16 slots match (eq/16 >= 0.9 <=> eq >= 14.4), an
    integer rule so the cross-engine hash cannot flake. Every ``batch``
    doc gets its candidate count, verified count, best slot-match and
    the 'corpus_near_dup' | 'novel' verdict."""
    eq = F.expr(
        "size(filter(zip_with(bsig_, csig_, (x, y) -> x = y), v -> v))"
    )
    scored = (
        cands.join(
            F.broadcast(
                bsig.select("doc_id", F.col("sig").alias("bsig_"))
            ),
            "doc_id",
        )
        .join(
            csig.select("corpus_doc_id", F.col("sig").alias("csig_")),
            "corpus_doc_id",
        )
        .select("doc_id", "corpus_doc_id", eq.alias("eq"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("eq") >= 15, 1).otherwise(0))
        .cast("bigint")
        .alias("n_verified"),
        F.max("eq").cast("bigint").alias("best_eq"),
    )
    return batch.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("n_verified", F.lit(0)).alias("n_verified"),
        F.coalesce("best_eq", F.lit(0)).alias("best_eq"),
        F.when(F.coalesce("n_verified", F.lit(0)) > 0, "corpus_near_dup")
        .otherwise("novel")
        .alias("verdict"),
    )


@register("dedup_incremental_minhash", _INCREMENTAL_MINHASH_SQL)
def q_dedup_incremental_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental NEAR-dup dedup — the daily-increment production
    shape at 100 TB: the NEW batch (source src0) is signed and banded
    (md5 16-perm MinHash, 4 bands x 4 rows — the oracle-replayable
    twin of the production xxhash64 64-perm 8x8 banding), then joined
    KEY-ONLY against the existing corpus's persisted band buckets
    (minhash_band_buckets output: this query derives them in-plan;
    production reads them from the bucket store the last increment
    appended to). Candidates are verified batch-side with an INTEGER
    rule: a candidate is a near-dup iff eq >= 15 of 16 signature
    slots match (eq/16 >= 0.9 <=> eq >= 14.4), so the cross-engine
    hash cannot flake. Per batch doc: candidate count, verified
    count, best slot-match, and the 'corpus_near_dup' | 'novel'
    verdict — the exact-key dedup_incremental_batch's near-dup
    complement (VERDICT r11 item 3). The corpus never re-LSHes
    against itself: cost per day = band the increment (map-only) +
    one key equi-join + candidate-bounded verification, with the
    batch side broadcast (the increment is small by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("source") != "src0")
    batch = docs.where(F.col("source") == "src0")
    # r13: both signature tables feed TWO consumers each (band keys +
    # slot-match verification) and the planner re-derived the full
    # shingle+16-md5 aggregation per consumer (no exchange reuse across
    # the differing projections). Materialize each once —
    # num_docs×16-long frames, the exact thing a production bootstrap
    # would persist before banding. Still computed in-plan from the
    # parquet input on every run (bootstrap shape unchanged).
    csig = D.minhash_md5_signatures(corpus).localCheckpoint(eager=True)
    bsig = D.minhash_md5_signatures(batch).localCheckpoint(eager=True)
    cands = (
        F.broadcast(_md5_band_keys(bsig, "doc_id"))
        .join(_md5_band_keys(csig, "corpus_doc_id"), "k")
        .select("doc_id", "corpus_doc_id")
        .distinct()
    )
    return _minhash_verdicts(
        batch,
        bsig,
        cands,
        csig.withColumnRenamed("doc_id", "corpus_doc_id"),
    )


# --------------------------------------------------------------------------
# Round-13 (VERDICT r12 item 3): the PERSISTED-bucket-store read path.
# dedup_incremental_minhash above derives the corpus band buckets
# in-plan every run — honest about semantics but it measures the
# BOOTSTRAP shape (linear in corpus). Production reads buckets +
# signatures from the store the last increment appended to; this
# variant writes that store once per documents.parquet generation and
# then measures the daily shape: band the batch (map-only), key-join
# against the STORE, verify against STORE signatures. Oracle
# unchanged — the store holds exactly what the in-plan twin derives.
# --------------------------------------------------------------------------

_MINHASH_STORE_MEMO: dict[str, str] = {}


def _minhash_bucket_store(spark: SparkSession, sf_dir: str) -> str:
    """Return the root of the persisted corpus MinHash store for
    ``sf_dir`` (subdirs ``buckets/`` = (corpus_doc_id, k) band keys,
    ``sigs/`` = (corpus_doc_id, sig)), building it on first use. The
    store lives in this process's scratch root (session.scratch_dir),
    built fresh the first time each process asks and removed when the
    process exits: every bench/oracle invocation recomputes the store
    from the parquet inputs — rep 1 pays the bootstrap build, later
    reps measure the warm daily read path, which is the declared
    semantics of this query. Nothing persists across runs
    (optimization-round no-cross-run-caching rule); the key still
    carries documents.parquet's identity so a slice regenerated
    MID-process invalidates the store."""
    src = os.path.join(os.path.realpath(sf_dir), "documents.parquet")
    st = os.stat(src)
    key = f"{src}|{st.st_mtime_ns}|{st.st_size}"
    got = _MINHASH_STORE_MEMO.get(key)
    if got is not None:
        return got
    root = scratch_dir("minhash_store_")
    bdir, sdir = os.path.join(root, "buckets"), os.path.join(root, "sigs")
    corpus = load_table(spark, sf_dir, "documents").where(
        F.col("source") != "src0"
    )
    csig = D.minhash_md5_signatures(corpus)
    # In production the store is PARTITIONED/bucketed by k so the
    # daily key-join prunes; at slice scale one parquet dir
    # suffices — the measured quantity is "corpus never re-signed".
    csig.select(
        F.col("doc_id").alias("corpus_doc_id"), "sig"
    ).write.mode("overwrite").parquet(sdir)
    _md5_band_keys(csig, "corpus_doc_id").write.mode(
        "overwrite"
    ).parquet(bdir)
    _MINHASH_STORE_MEMO[key] = root
    return root


@register("dedup_incremental_minhash_stored", _INCREMENTAL_MINHASH_SQL)
def q_dedup_incremental_minhash_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental NEAR-dup dedup reading the corpus from a PERSISTED
    band-bucket + signature store (parquet, built once per corpus
    generation by _minhash_bucket_store) — the daily-increment
    production shape MEASURED as it actually runs at 100 TB: per
    increment, only the batch is shingled/signed/banded (map-only over
    the day's data); candidates come from one key-only equi-join of
    the broadcast batch keys against the store's bucket table; only
    candidate corpus docs' signatures are fetched for the integer
    eq >= 15 verification. The corpus text is never touched and its
    signatures never recomputed — per-increment cost is flat in corpus
    size up to the store scan, vs the in-plan twin
    (dedup_incremental_minhash) whose cost is linear in corpus because
    it re-signs the corpus every run (its SCALING row measures
    bootstrap; this one measures the daily shape — VERDICT r12 item
    3). Output + oracle identical to the in-plan twin: the store holds
    exactly what it derives (md5 16-perm, 4x4 banding)."""
    root = _minhash_bucket_store(spark, sf_dir)
    store_buckets = spark.read.parquet(os.path.join(root, "buckets"))
    store_sigs = spark.read.parquet(os.path.join(root, "sigs"))
    batch = load_table(spark, sf_dir, "documents").where(
        F.col("source") == "src0"
    )
    bsig = D.minhash_md5_signatures(batch)
    cands = D.minhash_incremental_candidates(
        store_buckets.withColumnRenamed("corpus_doc_id", "doc_id")
        .withColumn("band", F.lit(0))
        .withColumnRenamed("k", "bucket"),
        F.broadcast(
            _md5_band_keys(bsig, "doc_id")
            .withColumn("band", F.lit(0))
            .withColumnRenamed("k", "bucket")
        ),
    )
    return _minhash_verdicts(
        batch,
        bsig,
        cands.withColumnRenamed("batch_doc_id", "doc_id"),
        store_sigs,
    )


# --------------------------------------------------------------------------
# Round-12: incremental COMPONENT assignment — the third leg of the
# incremental dedup story (candidates -> verdicts -> stable cluster
# ids). New batch docs joining an existing near-dup cluster take that
# cluster's EXISTING id (label stability: downstream survivor tables
# keyed by component never re-key); batch docs forming brand-new
# clusters get min new doc_id. Gate runs on the bounded doc_id < 300
# subgraph (CC-family convention); the pair scan is shared with the
# other bounded diagnostics via _bounded_pairs.
# --------------------------------------------------------------------------

_INCR_CC_SQL = f"""
WITH RECURSIVE
d AS (SELECT doc_id, source, text FROM documents WHERE doc_id < 300),
sh AS (
    SELECT doc_id, unnest(list_distinct({_SPLIT})) AS shingle FROM d
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.95
),
corpus AS (SELECT doc_id FROM d WHERE source <> 'src0'),
batch AS (SELECT doc_id FROM d WHERE source = 'src0'),
-- phase 1: the EXISTING corpus components (corpus-only edges)
ce AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    WHERE doc_a IN (SELECT doc_id FROM corpus)
      AND doc_b IN (SELECT doc_id FROM corpus)
    UNION
    SELECT doc_b, doc_a FROM pairs
    WHERE doc_a IN (SELECT doc_id FROM corpus)
      AND doc_b IN (SELECT doc_id FROM corpus)
),
creach(u, comp) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM ce)
    UNION
    SELECT e.u, r.comp FROM ce e JOIN creach r ON e.v = r.u
),
ccomp AS (
    SELECT c.doc_id, coalesce(min(r.comp), c.doc_id) AS component
    FROM corpus c LEFT JOIN creach r ON r.u = c.doc_id
    GROUP BY c.doc_id
),
-- phase 2: batch-touching edges over ENCODED nodes — corpus ends
-- collapse to their component id (< 1000000), batch docs encode as
-- 1000000 + doc_id, so the min label of a connected set is the
-- smallest EXISTING component whenever one is reachable
be AS (
    SELECT 1000000 + p.doc_a AS u, 1000000 + p.doc_b AS v FROM pairs p
    WHERE p.doc_a IN (SELECT doc_id FROM batch)
      AND p.doc_b IN (SELECT doc_id FROM batch)
    UNION
    SELECT 1000000 + p.doc_a, c.component FROM pairs p
    JOIN ccomp c ON c.doc_id = p.doc_b
    WHERE p.doc_a IN (SELECT doc_id FROM batch)
    UNION
    SELECT 1000000 + p.doc_b, c.component FROM pairs p
    JOIN ccomp c ON c.doc_id = p.doc_a
    WHERE p.doc_b IN (SELECT doc_id FROM batch)
),
bee AS (SELECT u, v FROM be UNION SELECT v, u FROM be),
breach(u, comp) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM bee)
    UNION
    SELECT e.u, r.comp FROM bee e JOIN breach r ON e.v = r.u
),
assigned AS (
    SELECT b.doc_id,
           coalesce(min(r.comp), 1000000 + b.doc_id) AS enc
    FROM batch b LEFT JOIN breach r ON r.u = 1000000 + b.doc_id
    GROUP BY b.doc_id
)
SELECT doc_id,
       CAST(CASE WHEN enc < 1000000 THEN enc
            ELSE enc - 1000000 END AS BIGINT) AS component,
       CAST(CASE WHEN enc < 1000000 THEN 0 ELSE 1 END AS BIGINT)
           AS is_new_cluster
FROM assigned
"""


@register("dedup_incremental_components", _INCR_CC_SQL)
def q_dedup_incremental_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental near-dup COMPONENT assignment: given the corpus's
    existing CC labels (persisted in production; derived here from the
    corpus half of the shared bounded pair set) and the new batch's
    verified near-dup edges, assign each batch doc a STABLE cluster
    id — the smallest existing corpus component it connects to
    (directly or through other batch docs), else min new doc_id for a
    brand-new cluster. Existing cluster ids never change (downstream
    survivor tables keyed by component stay valid), and the induced
    PARTITION of batch docs provably equals a full-recompute CC
    (pytest pin) — the production property that lets a 100 TB corpus
    skip the full-graph CC on every daily increment: cost = CC over
    the batch-sized subgraph with corpus components collapsed to
    single super-nodes, not over the corpus. Encoding: corpus
    components < 1e6, batch nodes 1e6 + doc_id, so min-label CC
    resolves 'existing id wins, else min new id' with no extra pass.
    Bounded doc_id < 300 gate subgraph (CC-family convention; the
    recursive-CTE oracle is quadratic in component size); the pair
    scan is shared with split_docs_dedup_aware / keep_best via
    _bounded_pairs.

    r13 (guide §1.2 the distributed algorithm): everything after the
    shared pair scan is driver-scale BY CONSTRUCTION (≤300 docs), yet
    the two-phase DataFrame composition cost 2 chained Python stages
    + ~8 joins — 2 s of pure plan construction and 14 AQE jobs per
    run. Both union-finds now run in ONE cogrouped Arrow kernel over
    (edges + endpoint flags, batch ids); the phase structure, the
    <1e6 / 1e6+doc_id encoding, and min-label semantics are replayed
    verbatim, pinned by the partition==full-CC pytest and hash== at
    both gate SFs."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").where("doc_id < 300")
    src = docs.select("doc_id", "source")
    pairs = _bounded_pairs(spark, sf_dir)
    is_batch = F.col("source") == "src0"
    flags = src.select("doc_id", is_batch.alias("b"))
    edges = (
        pairs.join(
            F.broadcast(
                flags.select(
                    F.col("doc_id").alias("doc_a"), F.col("b").alias("ba")
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                flags.select(
                    F.col("doc_id").alias("doc_b"), F.col("b").alias("bb")
                )
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "ba", "bb")
    )
    batch_ids = src.where(is_batch).select("doc_id")
    ENC = 1_000_000

    def _incr_cc(e_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        def mk_find(parent):
            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            return find

        def union_min(parent, find, a, b):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb

        # phase 1: existing corpus components (corpus-only edges)
        cp: dict[int, int] = {}
        cfind = mk_find(cp)
        rows = list(
            zip(e_pdf["doc_a"], e_pdf["doc_b"], e_pdf["ba"], e_pdf["bb"])
        )
        for a, b, ba, bb in rows:
            if not ba and not bb:
                union_min(cp, cfind, int(a), int(b))

        def ccomp(d: int) -> int:
            # corpus doc's existing label: min reachable in the
            # corpus-only graph, else its own id (the left-join
            # coalesce of the composed form)
            return cfind(d) if d in cp else d

        # phase 2: batch-touching edges over encoded nodes
        ep: dict[int, int] = {}
        efind = mk_find(ep)
        for a, b, ba, bb in rows:
            a, b = int(a), int(b)
            if ba and bb:
                union_min(ep, efind, a + ENC, b + ENC)
            elif ba:
                union_min(ep, efind, a + ENC, ccomp(b))
            elif bb:
                union_min(ep, efind, b + ENC, ccomp(a))
        out = []
        for d in sorted(int(x) for x in b_pdf["doc_id"]):
            enc = efind(d + ENC) if d + ENC in ep else d + ENC
            out.append(
                (d, enc if enc < ENC else enc - ENC, 0 if enc < ENC else 1)
            )
        return pd.DataFrame(
            out, columns=["doc_id", "component", "is_new_cluster"]
        )

    return (
        edges.groupBy(F.lit(1).alias("_g"))
        .cogroup(batch_ids.groupBy(F.lit(1).alias("_g")))
        .applyInPandas(
            lambda e, b: _incr_cc(e, b),
            "doc_id long, component long, is_new_cluster long",
        )
    )

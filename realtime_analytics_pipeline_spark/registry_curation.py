"""Gated queries: corpus-curation + monitoring extensions
(PII redaction, TF-IDF profiling, canonical-doc selection, cohort
retention, robust MAD outlier fences).

Regex patterns are restricted to the Java-regex ∩ RE2 common subset so
Spark and the DuckDB oracle match byte-for-byte; every float is
rounded to 6 on both sides; counts that DuckDB would widen to HUGEINT
are cast back to BIGINT (the CORRECTNESS_r01 text_source_rollup
lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators import curation as C
from realtime_analytics_pipeline_spark.operators import dedup as D
from realtime_analytics_pipeline_spark.operators.clustering import (
    connected_components_bounded,
)
from realtime_analytics_pipeline_spark.registry import register
from realtime_analytics_pipeline_spark.registry_relational import _SLIDING_SQL
from realtime_analytics_pipeline_spark.sources.batch import load_events, load_table

# --------------------------------------------------------------------------
# PII redaction (map-only scrub pass)
#
# The synthetic corpus carries no PII, so the gated query INJECTS
# deterministic doc_id-derived spans (an email, an IPv4, a phone) into
# every document on BOTH engines, then redacts — exercising match
# counting and replacement against known-true positives while the
# surrounding real text provides the negatives.
# --------------------------------------------------------------------------

_INJECT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
    "'@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
    "'.7 tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || "
    "'-1234'"
)

_REDACT_SQL = f"""
WITH injected AS (
    SELECT doc_id, {_INJECT_SQL} AS t FROM documents
),
s1 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{C.PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           regexp_replace(t, '{C.PII_EMAIL}', '<EMAIL>', 'g') AS t1
    FROM injected
),
s2 AS (
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t1, '{C.PII_IPV4}')) AS BIGINT)
               AS n_ips,
           regexp_replace(t1, '{C.PII_IPV4}', '<IP>', 'g') AS t2
    FROM s1
),
s3 AS (
    SELECT doc_id, n_emails, n_ips,
           CAST(len(regexp_extract_all(t2, '{C.PII_PHONE}')) AS BIGINT)
               AS n_phones,
           regexp_replace(t2, '{C.PII_PHONE}', '<PHONE>', 'g') AS t3
    FROM s2
)
SELECT doc_id, n_emails, n_ips, n_phones, t3 AS clean_text FROM s3
"""




@register("text_pii_redaction", _REDACT_SQL)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-1234"),
        ).alias("text"),
    )
    return C.redact_pii(injected, "text").select(
        "doc_id", "n_emails", "n_ips", "n_phones", "clean_text"
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------

_TFIDF_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM toks WHERE term <> '' GROUP BY 1, 2
),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
           round(tf.tf * ln(n_docs * 1.0 / dfq.df), 6) AS tfidf
    FROM tf JOIN dfq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
    FROM scored
) WHERE rank <= 3
"""


@register("text_tfidf_top_terms", _TFIDF_SQL)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = C.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------------------
# Canonical-document selection over near-dup clusters
#
# Same bounded subgraph as dedup_connected_components (doc_id < 300 —
# the transitive-closure oracle is quadratic in component size on this
# degenerate corpus); the operator itself is unrestricted.
# --------------------------------------------------------------------------

_CANONICAL_SQL = """
WITH RECURSIVE
sh AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS shingle
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
cc AS (SELECT u AS vertex, min(comp) AS component FROM reach GROUP BY u),
base AS (
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS cluster_id,
           d.n_chars AS quality
    FROM (SELECT * FROM documents WHERE doc_id < 300) d
    LEFT JOIN cc c ON d.doc_id = c.vertex
)
SELECT doc_id, cluster_id,
       (row_number() OVER (
            PARTITION BY cluster_id ORDER BY quality DESC, doc_id) = 1)
           AS is_canonical,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM base
"""


@register("dedup_canonical_docs", _CANONICAL_SQL)
def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: memoized shared pair scan (registry_docs._bounded_pairs —
    # same composition, hoisted) + single-task union-find kernel
    from realtime_analytics_pipeline_spark.registry_docs import (
        _bounded_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").where("doc_id < 300")
    pairs = _bounded_pairs(spark, sf_dir)
    cc = connected_components_bounded(pairs)
    return C.canonical_docs(docs, cc, quality_col="n_chars")


# --------------------------------------------------------------------------
# Cohort retention matrix (event-time days)
# --------------------------------------------------------------------------

_COHORT_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id,
           (epoch_ms(ts) // 86400000) * 86400000 AS day_ms
    FROM events
),
coh AS (SELECT user_id, min(day_ms) AS cohort_ms FROM ud GROUP BY 1),
cells AS (
    SELECT cohort_ms,
           (day_ms - cohort_ms) // 86400000 AS offset_days,
           count(DISTINCT ud.user_id) AS active_users
    FROM ud JOIN coh USING (user_id)
    GROUP BY 1, 2
),
d0 AS (
    SELECT cohort_ms AS c0_ms, active_users AS cohort_size
    FROM cells WHERE offset_days = 0
)
SELECT cohort_ms, offset_days, active_users, cohort_size,
       round(active_users * 1.0 / cohort_size, 6) AS retention_rate
FROM cells JOIN d0 ON cells.cohort_ms = d0.c0_ms
"""


@register("events_cohort_retention", _COHORT_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.cohort_retention(load_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Robust MAD outlier fences per event_type
# --------------------------------------------------------------------------

_MAD_SQL = """
WITH vals AS (
    SELECT event_type, value FROM events WHERE value IS NOT NULL
),
med AS (SELECT event_type, median(value) AS med FROM vals GROUP BY 1),
fen AS (
    SELECT v.event_type, max(m.med) AS med,
           median(abs(v.value - m.med)) AS mad
    FROM vals v JOIN med m USING (event_type)
    GROUP BY 1
),
fl AS (
    SELECT v.event_type, f.med, f.mad,
           (v.value > f.med + 3 * 1.4826 * f.mad
            OR v.value < f.med - 3 * 1.4826 * f.mad) AS is_outlier
    FROM vals v JOIN fen f USING (event_type)
)
SELECT event_type,
       round(max(med), 6) AS med,
       round(max(mad), 6) AS mad,
       count(*) AS n,
       CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers,
       round(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
           AS outlier_rate
FROM fl
GROUP BY event_type
"""


@register("events_value_mad_outliers", _MAD_SQL)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return C.value_mad_outliers(load_events(spark, sf_dir), k=3.0)


# --------------------------------------------------------------------------
# Token counting: whitespace + BPE-ish regex pieces + chars/4 estimate
# (SURVEY's token-counting slot; text_stats covers whitespace only)
# --------------------------------------------------------------------------

# letter runs | digit runs | any single non-space symbol — the
# pre-tokenizer shape BPE vocabularies start from, in the Java∩RE2
# regex subset
_BPE_PAT = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

_TOKENS_SQL = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT)
           AS n_bpe_pieces,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens_char4
FROM documents
"""


@register("text_token_counts", _TOKENS_SQL)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-count triple: whitespace tokens, BPE-style
    pre-tokenizer pieces (letter runs / digit runs / single symbols),
    and the chars/4 rule-of-thumb estimate. Map-only — at 100 TB this
    is a scan-stage pass used for packing budgets and corpus sizing."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), F.lit(0))
        ).cast("long").alias("n_bpe_pieces"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_tokens_char4"),
    )


# --------------------------------------------------------------------------
# Semantic dedup, cluster-scoped (the scale path): k-means quantizer
# cells bound the candidate set; exact cosine only within a cell.
# Oracle reuses the loop-unrolled deterministic k-means CTE chain.
# --------------------------------------------------------------------------

def _semantic_sql() -> str:
    from realtime_analytics_pipeline_spark.registry_docs import (
        _kmeans_oracle_sql,
    )

    return _kmeans_oracle_sql(
        final="""
SELECT x.cluster, x.vec_id AS id_a, y.vec_id AS id_b,
       round(list_dot_product(x.v, y.v), 6) AS cos
FROM a3 x JOIN a3 y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
WHERE round(list_dot_product(x.v, y.v), 6) >= 0.3"""
    )


@register("dedup_semantic_clustered", _semantic_sql())
def q_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.clustering import (
        clustered_dup_pairs,
    )
    from realtime_analytics_pipeline_spark.registry_docs import (
        _kmeans_cells,
    )

    return clustered_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.3,
        cells=_kmeans_cells(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Trailing-window drift monitor: each (type, day) vs its OWN trailing
# 7-observed-day baseline (value_drift_daily compares against the
# whole-history mean — this is the production shape: the baseline
# moves with the data, so a slow ramp alarms once, not forever).
# ROWS frame, not RANGE: "previous 7 observed days" is gap-immune and
# identical in both engines.
# --------------------------------------------------------------------------

_DRIFT7_SQL = """
WITH daily AS (
    SELECT event_type,
           (epoch_ms(ts) // 86400000) * 86400000 AS day_ms,
           avg(value) AS day_avg
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
trailed AS (
    SELECT event_type, day_ms, day_avg,
           avg(day_avg) OVER w AS base_avg,
           stddev_samp(day_avg) OVER w AS base_std
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day_ms
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day_ms,
       round(day_avg, 6) AS day_avg,
       round(base_avg, 6) AS base_avg,
       round(base_std, 6) AS base_std,
       round((day_avg - base_avg) / base_std, 6) AS z,
       (abs((day_avg - base_avg) / base_std) > 3.0) AS is_drift
FROM trailed
WHERE base_std > 0.000000000001
"""


@register("value_drift_trailing7", _DRIFT7_SQL)
def q_value_drift_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle for the daily agg, one window pass per type —
    the frame is 8 rows regardless of history length, so state per
    key is O(1) and the plan scales linearly in days."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).where(F.col("value").isNotNull())
    daily = (
        ev.select(
            "event_type",
            F.expr(
                "(unix_millis(event_time) DIV 86400000) * 86400000"
            ).alias("day_ms"),
            "value",
        )
        .groupBy("event_type", "day_ms")
        .agg(F.avg("value").alias("day_avg"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_ms")
        .rowsBetween(-7, -1)
    )
    trailed = daily.withColumns(
        {
            "base_avg": F.avg("day_avg").over(w),
            "base_std": F.stddev_samp("day_avg").over(w),
        }
    )
    z = (F.col("day_avg") - F.col("base_avg")) / F.col("base_std")
    return trailed.where(F.col("base_std") > F.lit(1e-12)).select(
        "event_type",
        "day_ms",
        F.round("day_avg", 6).alias("day_avg"),
        F.round("base_avg", 6).alias("base_avg"),
        F.round("base_std", 6).alias("base_std"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > 3.0).alias("is_drift"),
    )


# --------------------------------------------------------------------------
# Per-source quota sampling: a deterministic N-doc cap per source —
# the balanced-corpus complement to rate-based stratified sampling
# (rates keep proportions; quotas equalize them).
# --------------------------------------------------------------------------

_QUOTA_N = 20

_QUOTA_SQL = f"""
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5('q0' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rk
    FROM documents
) WHERE rk <= {_QUOTA_N}
"""


@register("sample_docs_quota", _QUOTA_SQL)
def q_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep exactly min(N, |source|) docs per source, chosen by md5
    order — reproducible across runs/partitionings, unbiased within a
    source, and growth-stable (adding docs only displaces at the hash
    boundary). One shuffle on source; a pathologically hot source
    serializes its own partition — for that shape, pre-filter with the
    rate-based sampler (operators/sampling.py) to cut the hot key
    before the exact quota pass."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("q0"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _QUOTA_N)
        .select("doc_id", "source", "rk")
    )


# --------------------------------------------------------------------------
# Winsorized (clipped) robust stats — the feature-engineering
# complement to the MAD fences: instead of FLAGGING outliers, clamp
# them to the p05/p95 band and report how much the mean moves.
# --------------------------------------------------------------------------

_WINSOR_SQL = """
WITH vals AS (
    SELECT event_type, value FROM events WHERE value IS NOT NULL
),
bands AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS p05,
           quantile_cont(value, 0.95) AS p95
    FROM vals GROUP BY 1
)
SELECT v.event_type,
       round(max(b.p05), 6) AS p05,
       round(max(b.p95), 6) AS p95,
       round(avg(v.value), 6) AS avg_raw,
       round(avg(greatest(b.p05, least(b.p95, v.value))), 6)
           AS avg_winsorized,
       CAST(sum(CASE WHEN v.value < b.p05 OR v.value > b.p95
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM vals v JOIN bands b USING (event_type)
GROUP BY v.event_type
"""


@register("events_value_winsorized", _WINSOR_SQL)
def q_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two order-statistic passes like the MAD fences: bands are one
    row per type (broadcast back), the clamp is a Column expression
    inside the final aggregation — no extra shuffle beyond the two
    per-type aggregations."""
    ev = load_events(spark, sf_dir).where(F.col("value").isNotNull())
    vals = ev.select("event_type", "value")
    bands = vals.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    clamped = F.greatest(
        F.col("p05"), F.least(F.col("p95"), F.col("value"))
    )
    clipped = (
        (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))
    ).cast("long")
    return (
        vals.join(bands, "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("p05"), 6).alias("p05"),
            F.round(F.max("p95"), 6).alias("p95"),
            F.round(F.avg("value"), 6).alias("avg_raw"),
            F.round(F.avg(clamped), 6).alias("avg_winsorized"),
            F.sum(clipped).alias("n_clipped"),
        )
    )


# --------------------------------------------------------------------------
# Pane-optimized hopping windows: SAME oracle as the naive
# events_sliding_window_5m1m — the optimization must be invisible in
# the results (5x event replication traded for pane replication).
# --------------------------------------------------------------------------


@register("events_sliding_window_paned", _SLIDING_SQL)
def q_sliding_paned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.relational import (
        sliding_event_counts_paned,
    )

    out = sliding_event_counts_paned(load_events(spark, sf_dir))
    return out.select(
        "window_start_ms", "window_end_ms", "event_type", "event_count"
    )


# --------------------------------------------------------------------------
# Right-to-be-forgotten: propagate a deletion-request set through the
# fact table with a distributed anti join + an audit rollup (no
# driver-side membership set). The request set here is deterministic
# (user_id % 97 == 0) so both engines derive it identically.
# --------------------------------------------------------------------------

_FORGET_SQL = """
WITH requests AS (
    SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0
),
kept AS (
    SELECT e.* FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM requests r WHERE r.user_id = e.user_id)
)
SELECT event_type,
       count(*) AS kept_events,
       (SELECT count(*) FROM events) - (SELECT count(*) FROM kept)
           AS purged_events,
       (SELECT count(*) FROM requests) AS forgotten_users
FROM kept
GROUP BY event_type
"""


@register("events_forget_users", _FORGET_SQL)
def q_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion propagation: LEFT ANTI join removes every event of the
    requested users (requests stay distributed — broadcast if small,
    shuffle join if millions), then an audit rollup records kept vs
    purged so the erasure is provable. The rewrite path would write
    the anti-joined frame back over the table's files."""
    ev = load_events(spark, sf_dir)
    requests = ev.where(F.col("user_id").cast("long") % 97 == 0).select(
        "user_id"
    ).distinct()
    kept = ev.join(requests, "user_id", "left_anti")
    # audit scalars as one-row broadcast aggregates — no driver counts
    totals = ev.agg(F.count(F.lit(1)).alias("__total"))
    kept_totals = kept.agg(F.count(F.lit(1)).alias("__kept"))
    reqs = requests.agg(F.count(F.lit(1)).alias("__reqs"))
    return (
        kept.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("kept_events"))
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(kept_totals))
        .crossJoin(F.broadcast(reqs))
        .select(
            "event_type",
            "kept_events",
            (F.col("__total") - F.col("__kept")).alias("purged_events"),
            F.col("__reqs").alias("forgotten_users"),
        )
    )


# --------------------------------------------------------------------------
# JL random projection (dimensionality reduction, map-only)
# --------------------------------------------------------------------------

def _projection_sql(in_dim: int = 64, out_dim: int = 8) -> str:
    from realtime_analytics_pipeline_spark.operators.similarity import (
        projection_coeffs,
    )

    cols = ",\n       ".join(
        "round(list_dot_product(embedding::DOUBLE[], ["
        + ", ".join(repr(c) for c in row)
        + f"]), 6) AS p{k}"
        for k, row in enumerate(projection_coeffs(in_dim, out_dim))
    )
    return f"SELECT vec_id,\n       {cols}\nFROM embeddings"


@register("emb_random_projection", _projection_sql())
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.similarity import (
        random_projection,
    )

    return random_projection(load_table(spark, sf_dir, "embeddings"))


@register("events_sliding_users_hll")  # rows-only: HLL estimates are
# engine-native; accuracy vs exact sliding distinct pinned in pytest
def q_sliding_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.sketches import (
        sliding_users_paned_hll,
    )

    return sliding_users_paned_hll(load_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Forward as-of join (mirror of asof_purchase_attribution)
# --------------------------------------------------------------------------

_ASOF_FWD_SQL = """
SELECT CAST(p.user_id AS VARCHAR) AS user_id,
       CAST(p.event_id AS VARCHAR) AS hit_id,
       epoch_ms(p.ts) AS hit_ms,
       (SELECT epoch_ms(min(e.ts)) FROM events e
        WHERE e.event_type = 'error'
          AND e.user_id = p.user_id
          AND e.ts >= p.ts) AS next_error_ms
FROM events p
WHERE p.event_type = 'purchase'
"""


@register("asof_forward_next_error", _ASOF_FWD_SQL)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_analytics_pipeline_spark.operators.relational import (
        asof_forward,
    )

    return asof_forward(load_events(spark, sf_dir))


# --------------------------------------------------------------------------
# Point-in-time (temporal) join against the SCD-2 dimension: each
# lineitem enriched with the customer's cumulative spend AS OF its
# ship date — the version whose validity interval contains the fact
# time. Versions are non-overlapping, so the interval condition on
# top of the custkey equi-join matches exactly one version per fact.
# --------------------------------------------------------------------------

_PIT_SQL = """
WITH daily AS (
    SELECT o_custkey, o_orderdate,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_spend
    FROM orders
    GROUP BY 1, 2
),
scd AS (
    SELECT o_custkey AS custkey,
           epoch_ms(o_orderdate) AS valid_from_ms,
           epoch_ms(lead(o_orderdate) OVER w) AS valid_to_ms,
           CAST(sum(day_spend) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend
    FROM daily
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
),
facts AS (
    SELECT l_orderkey, l_linenumber, o_custkey,
           epoch_ms(l_shipdate) AS ship_ms
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT f.l_orderkey, f.l_linenumber, f.o_custkey AS custkey, f.ship_ms,
       round(s.cum_spend, 2) AS spend_at_ship
FROM facts f
JOIN scd s
  ON f.o_custkey = s.custkey
 AND s.valid_from_ms <= f.ship_ms
 AND (s.valid_to_ms IS NULL OR f.ship_ms < s.valid_to_ms)
"""


@register("lineitem_spend_point_in_time", _PIT_SQL)
def q_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join on custkey carries the shuffle; the validity-interval
    predicate rides as a join condition (never a post-filter over an
    exploded range join). SCD versions per customer are few, so the
    per-key interval scan is tiny at any scale."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    daily = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("day_spend")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scd = daily.select(
        F.col("o_custkey").alias("custkey"),
        F.unix_millis("o_orderdate").alias("valid_from_ms"),
        F.unix_millis(F.lead("o_orderdate").over(w)).alias("valid_to_ms"),
        F.sum("day_spend").over(wc).cast("double").alias("cum_spend"),
    )
    facts = (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(
            "l_orderkey",
            "l_linenumber",
            "o_custkey",
            F.unix_millis("l_shipdate").alias("ship_ms"),
        )
    )
    return (
        facts.join(
            scd,
            (facts["o_custkey"] == scd["custkey"])
            & (scd["valid_from_ms"] <= facts["ship_ms"])
            & (
                scd["valid_to_ms"].isNull()
                | (facts["ship_ms"] < scd["valid_to_ms"])
            ),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "custkey",
            "ship_ms",
            F.round("cum_spend", 2).alias("spend_at_ship"),
        )
    )


# --------------------------------------------------------------------------
# Histogram binning (width_bucket) per event type
# --------------------------------------------------------------------------

_HISTOGRAM_SQL = """
SELECT event_type,
       CAST(CASE WHEN value < 0.0 THEN 0
                 WHEN value >= 100.0 THEN 21
                 ELSE floor(value / 5.0) + 1 END AS BIGINT) AS bucket,
       count(*) AS n
FROM events
WHERE value IS NOT NULL
GROUP BY 1, 2
"""
# (DuckDB has no width_bucket; with bounds 0..100 and 20 buckets the
# bin width is exactly 5.0, so floor(value/5)+1 [0 below, 21 above]
# reproduces Spark's width_bucket bit-for-bit)


@register("events_value_histogram", _HISTOGRAM_SQL)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram via width_bucket — one map-side-combined
    aggregation (types × 22 buckets output), the monitoring-dashboard
    shape for value distributions at any scale."""
    ev = load_events(spark, sf_dir).where(F.col("value").isNotNull())
    return (
        ev.select(
            "event_type",
            F.width_bucket("value", F.lit(0.0), F.lit(100.0), F.lit(20))
            .cast("long")
            .alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# PageRank-lite over the near-dup graph, loop-unrolled oracle
# --------------------------------------------------------------------------

def _pagerank_sql(damping: float = 0.85, iterations: int = 3) -> str:
    ctes = [
        """sh AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS shingle
    FROM documents WHERE doc_id < 300
)""",
        "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1)",
        """inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)""",
        """prs AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.95
)""",
        """edges AS (
    SELECT doc_a AS u, doc_b AS v FROM prs
    UNION ALL SELECT doc_b, doc_a FROM prs
)""",
        "nodes AS (SELECT DISTINCT u FROM edges)",
        "deg AS (SELECT u, count(*) AS d FROM edges GROUP BY 1)",
        "n AS (SELECT count(*) AS cnt FROM nodes)",
        "p0 AS (SELECT u, 1.0 / cnt AS pr FROM nodes, n)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""p{i} AS (
    SELECT e.v AS u,
           {1.0 - damping} / max(n.cnt) + {damping} * sum(p.pr / d.d) AS pr
    FROM edges e
    JOIN p{i - 1} p ON e.u = p.u
    JOIN deg d ON d.u = e.u, n
    GROUP BY e.v
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT u AS vertex, round(pr, 6) AS pagerank FROM p{iterations}"
    )


@register("dedup_graph_pagerank", _pagerank_sql())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality inside duplicate neighborhoods (bounded subgraph,
    same doc_id < 300 gate as the other transitive-closure oracles);
    the operator itself is unrestricted."""
    from realtime_analytics_pipeline_spark.operators.clustering import (
        pagerank_lite,
    )

    docs = load_table(spark, sf_dir, "documents").where("doc_id < 300")
    pairs = D.jaccard_pairs(docs, n=1, threshold=0.95)
    return pagerank_lite(pairs)


def _kmv_overlap_oracle() -> str:
    from realtime_analytics_pipeline_spark.registry_docs import _hex_int_sql

    h48 = _hex_int_sql("md5(CAST(key AS VARCHAR))", 12)

    def pair(sa: str, sb: str) -> str:
        return f"""
SELECT '{sa}' AS segment_a, '{sb}' AS segment_b,
       round(CASE WHEN m < 256 THEN CAST(nb AS DOUBLE)
                  ELSE (nb / m) * (255.0 / tau) END, 6) AS est_overlap
FROM (
    SELECT count(*) AS m, max(h) AS tau,
           CAST(sum(in_a * in_b) AS BIGINT) AS nb
    FROM (
        SELECT h, max(in_a) AS in_a, max(in_b) AS in_b,
               row_number() OVER (ORDER BY h) AS rk
        FROM (
            SELECT h, CASE WHEN segment = '{sa}' THEN 1 ELSE 0 END AS in_a,
                   CASE WHEN segment = '{sb}' THEN 1 ELSE 0 END AS in_b
            FROM sk WHERE segment IN ('{sa}', '{sb}')
        ) GROUP BY h
        QUALIFY rk <= 256
    )
)"""

    return f"""
WITH keys AS (
    SELECT DISTINCT event_type AS segment, CAST(user_id AS VARCHAR) AS key
    FROM events
),
hs AS (
    SELECT segment, {h48} / 281474976710656.0 AS h FROM keys
),
sk AS (
    SELECT segment, h FROM (
        SELECT segment, h,
               row_number() OVER (PARTITION BY segment ORDER BY h) AS rk
        FROM hs
    ) WHERE rk <= 256
)
{pair("view", "purchase")}
UNION ALL
{pair("view", "click")}
"""


# Upgraded rows-only -> oracled in round 6: the KMV hash is md5-based
# (sketches._hash_frac — 48-bit md5 fraction, exact in a double), so
# DuckDB can replay the whole sketch + intersection estimate
# bit-for-bit. Accuracy vs exact intersections additionally pinned in
# tests/test_sketches.py.
@register("segment_overlap_kmv", _kmv_overlap_oracle())
def q_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation from KMV sketches alone: distinct
    users per event_type AND pairwise view∩purchase / view∩click
    overlaps, all from O(k)-sized sketches — at 100 TB the overlap
    query reads KB of sketch rows, not the fact table. The global
    top-k window in the merge runs over ≤2k pre-shrunk rows."""
    from realtime_analytics_pipeline_spark.operators.sketches import (
        kmv_intersection_estimate,
        kmv_sketches,
    )

    sk = kmv_sketches(load_events(spark, sf_dir)).localCheckpoint()
    vp = kmv_intersection_estimate(sk, "view", "purchase")
    vc = kmv_intersection_estimate(sk, "view", "click")
    return vp.unionByName(vc).select(
        "segment_a", "segment_b", F.round("est_overlap", 6).alias("est_overlap")
    )


# --------------------------------------------------------------------------
# Dedup impact report: the full near-dedup pipeline (pairs → clusters
# → canonical selection) rolled up per source — what a curation run
# reports: how many docs and bytes each source loses to deduplication.
# --------------------------------------------------------------------------

_DEDUP_IMPACT_SQL = """
WITH RECURSIVE
sh AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS shingle
    FROM documents WHERE doc_id < 300
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(i * 1.0 / (sa.sz + sb.sz - i), 6) >= 0.95
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
reach(u, comp) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.u
),
cc AS (SELECT u AS vertex, min(comp) AS component FROM reach GROUP BY u),
base AS (
    SELECT d.doc_id, d.source, d.n_chars,
           coalesce(c.component, d.doc_id) AS cluster_id
    FROM (SELECT * FROM documents WHERE doc_id < 300) d
    LEFT JOIN cc c ON d.doc_id = c.vertex
),
flagged AS (
    SELECT *,
           (row_number() OVER (
                PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) = 1)
               AS keep
    FROM base
)
SELECT source,
       count(*) AS total_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
           AS removed_docs,
       CAST(sum(CASE WHEN keep THEN 0 ELSE n_chars END) AS BIGINT)
           AS removed_chars,
       round(sum(CASE WHEN keep THEN 0 ELSE 1 END) * 1.0 / count(*), 6)
           AS removal_rate
FROM flagged
GROUP BY source
"""


@register("dedup_impact_report", _DEDUP_IMPACT_SQL)
def q_dedup_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup pipeline composition: Jaccard pair mining
    → connected components → best-quality canonical per cluster →
    per-source removal accounting (same bounded subgraph as the other
    transitive-closure oracles; the operators are unrestricted)."""
    # r13: memoized shared pair scan + single-task union-find kernel
    from realtime_analytics_pipeline_spark.registry_docs import (
        _bounded_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").where("doc_id < 300")
    pairs = _bounded_pairs(spark, sf_dir)
    cc = connected_components_bounded(pairs)
    flags = C.canonical_docs(docs, cc, quality_col="n_chars")
    joined = docs.select("doc_id", "source", "n_chars").join(
        flags.select("doc_id", "is_canonical"), "doc_id"
    )
    keep = F.col("is_canonical").cast("long")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum(keep).alias("kept_docs"),
        F.sum(F.lit(1) - keep).alias("removed_docs"),
        F.sum(F.when(F.col("is_canonical"), 0).otherwise(F.col("n_chars")))
        .cast("long")
        .alias("removed_chars"),
        F.round(F.sum(F.lit(1) - keep) / F.count(F.lit(1)), 6).alias(
            "removal_rate"
        ),
    )


# --------------------------------------------------------------------------
# Market-basket pair mining: parts that co-occur in the same order.
# The self-join is keyed on the order — pair enumeration is bounded by
# order size (≤7 lineitems in this schema), never corpus-quadratic.
# --------------------------------------------------------------------------

_BASKET_SQL = """
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(*) AS support
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def _copurchase_pair_counts(li: DataFrame) -> DataFrame:
    """(part_a, part_b, support) co-purchase pair counts (part_a <
    part_b) — the frame every basket-graph query derives its edges
    from.

    r13 (guide §2.4 remove shuffles outright): the historical shape
    self-joined the distinct (order, part) items frame on the order
    key — two sorted exchanges of the same rows plus an SMJ whose
    output is exactly the per-order pair expansion. Baskets are
    order-bounded (the oracle's per-order self-join is O(basket²)
    anyway), so collect each order's DISTINCT sorted part array once
    and expand the a<b pairs IN-ROW: one exchange on the order key,
    one on the pair key, no join. Pair multiset identical — C(n,2)
    ordered combinations of the same distinct sets."""
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        # size >= 2 keeps the expanded array provably non-empty, so
        # explode_outer == explode and no inferred size(arr)>0 guard
        # re-evaluates the expansion (the round-11 plan_audit pattern)
        .where(F.size("ps") >= 2)
    )
    pairs = baskets.select(
        F.explode_outer(
            F.expr(
                "flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps)),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("support")
    )


@register("orders_market_basket", _BASKET_SQL)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return _copurchase_pair_counts(li).where(F.col("support") >= 2)


# --------------------------------------------------------------------------
# User path transitions: event_type -> next event_type bigrams with
# per-source transition probabilities (sequence mining over sessions).
# --------------------------------------------------------------------------

_PATHS_SQL = """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
),
pairs AS (
    SELECT event_type, next_type, count(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
),
totals AS (
    SELECT event_type, sum(n) AS total FROM pairs GROUP BY 1
)
SELECT p.event_type, p.next_type, p.n,
       round(p.n * 1.0 / t.total, 6) AS transition_prob
FROM pairs p JOIN totals t USING (event_type)
"""


@register("events_user_paths", _PATHS_SQL)
def q_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: one
    window pass per user (deterministic (ts, event_id) order), then a
    types×types aggregation — the totals join is a 25-row dimension."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_time", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    pairs = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = pairs.groupBy("event_type").agg(F.sum("n").alias("total"))
    return pairs.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("transition_prob"),
    )


# --------------------------------------------------------------------------
# RFM segmentation: customers quartiled on recency / frequency /
# monetary value (deterministic ntile tiebreaks on custkey).
# --------------------------------------------------------------------------

_RFM_SQL = """
WITH rfm AS (
    SELECT o_custkey,
           max(epoch_ms(o_orderdate)) AS last_ms,
           count(*) AS frequency,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
    FROM orders GROUP BY 1
),
scored AS (
    SELECT o_custkey, last_ms, frequency, round(monetary, 2) AS monetary,
           ntile(4) OVER (ORDER BY last_ms DESC, o_custkey) AS r_score,
           ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
           ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
    FROM rfm
)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       count(*) AS n_customers,
       round(avg(monetary), 6) AS avg_monetary
FROM scored
GROUP BY 1, 2, 3
"""


@register("customers_rfm_segments", _RFM_SQL)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM: one agg per customer, three global ntile windows
    over the CUSTOMER dimension (not the fact table — cardinality =
    customers, so the single-partition window is dimension-sized; at
    true scale swap ntile for approx quantile fences), then a 64-cell
    rollup."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.max(F.unix_millis("o_orderdate")).alias("last_ms"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    ).withColumn("monetary", F.round("monetary", 2))
    scored = (
        rfm.withColumn(
            "r_score",
            F.ntile(4).over(
                Window.orderBy(F.desc("last_ms"), F.asc("o_custkey"))
            ),
        )
        .withColumn(
            "f_score",
            F.ntile(4).over(
                Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
            ),
        )
        .withColumn(
            "m_score",
            F.ntile(4).over(
                Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
            ),
        )
    )
    return (
        scored.groupBy(
            F.col("r_score").cast("long").alias("r_score"),
            F.col("f_score").cast("long").alias("f_score"),
            F.col("m_score").cast("long").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("monetary"), 6).alias("avg_monetary"),
        )
    )


# --------------------------------------------------------------------------
# DAU / WAU / MAU: rolling distinct actives per day + stickiness.
# --------------------------------------------------------------------------

_DAU_SQL = """
WITH ud AS (
    SELECT DISTINCT user_id,
           (epoch_ms(ts) // 86400000) * 86400000 AS day_ms
    FROM events
),
days AS (SELECT DISTINCT day_ms FROM ud),
dau AS (
    SELECT day_ms, count(*) AS dau FROM ud GROUP BY 1
),
wau AS (
    SELECT d.day_ms, count(DISTINCT u.user_id) AS wau
    FROM days d JOIN ud u
      ON u.day_ms <= d.day_ms AND u.day_ms > d.day_ms - 7::BIGINT * 86400000
    GROUP BY 1
),
mau AS (
    SELECT d.day_ms, count(DISTINCT u.user_id) AS mau
    FROM days d JOIN ud u
      ON u.day_ms <= d.day_ms AND u.day_ms > d.day_ms - 30::BIGINT * 86400000
    GROUP BY 1
)
SELECT dau.day_ms, dau.dau, wau.wau, mau.mau,
       round(dau.dau * 1.0 / mau.mau, 6) AS stickiness
FROM dau JOIN wau USING (day_ms) JOIN mau USING (day_ms)
"""


@register("events_dau_wau_mau", _DAU_SQL)
def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct actives: facts collapse to distinct
    (user, day) once; the rolling joins then range-join DAYS×user-days
    (bounded ×7/×30 fan-out of the already-tiny user-day set, never
    the fact table). DISTINCT inside a sliding range can't use a
    window frame, so the bounded range join IS the exact formulation —
    the KMV/HLL sketches are the approximate scale path."""
    ev = load_events(spark, sf_dir)
    day = 86400000
    ud = ev.select(
        "user_id",
        F.expr("(unix_millis(event_time) DIV 86400000) * 86400000").alias(
            "day_ms"
        ),
    ).distinct()
    days = ud.select("day_ms").distinct()
    dau = ud.groupBy("day_ms").agg(F.count(F.lit(1)).alias("dau"))

    def rolling(n: int, name: str):
        u = ud.select(
            F.col("user_id").alias("u"), F.col("day_ms").alias("u_day")
        )
        return (
            days.join(
                u,
                (F.col("u_day") <= F.col("day_ms"))
                & (F.col("u_day") > F.col("day_ms") - n * day),
            )
            .groupBy("day_ms")
            .agg(F.count_distinct("u").alias(name))
        )

    return (
        dau.join(rolling(7, "wau"), "day_ms")
        .join(rolling(30, "mau"), "day_ms")
        .select(
            "day_ms",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau") / F.col("mau"), 6).alias("stickiness"),
        )
    )


# --------------------------------------------------------------------------
# Inter-arrival gap distribution per event type (latency analytics)
# --------------------------------------------------------------------------

# CAST(... AS DOUBLE) in the oracle is load-bearing: BIGINT * 1.0 is
# DECIMAL in DuckDB, and DECIMAL median/quantile_cont take a different
# (non-interpolating) code path whose result diverges from the sorted
# multiset's true median — observed empirically on this data.
_INTERARRIVAL_SQL = """
WITH gaps AS (
    SELECT event_type,
           (epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id))) // 1000
               AS gap_ms
    FROM events
)
SELECT event_type,
       count(*) AS n_gaps,
       round(median(CAST(gap_ms AS DOUBLE)), 6) AS median_gap_ms,
       round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.95), 6) AS p95_gap_ms,
       round(avg(CAST(gap_ms AS DOUBLE)), 6) AS avg_gap_ms
FROM gaps WHERE gap_ms IS NOT NULL
GROUP BY 1
"""


@register("events_interarrival_stats", _INTERARRIVAL_SQL)
def q_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gaps (one window pass, deterministic
    (ts, event_id) order) rolled up to per-type latency stats — the
    arrival-process profile behind session-gap and watermark tuning."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    # numeric tiebreak: canonical event_id is a string; '10' < '2'
    # lexically would pair same-timestamp gaps differently than the
    # oracle's BIGINT ordering
    w = Window.partitionBy("user_id").orderBy(
        "event_time", F.col("event_id").cast("long")
    )
    gaps = ev.select(
        "event_type",
        (
            (
                F.unix_micros("event_time")
                - F.unix_micros(F.lag("event_time").over(w))
            )
            / F.lit(1000)
        ).cast("long").alias("gap_ms"),
    ).where(F.col("gap_ms").isNotNull())
    g = F.col("gap_ms").cast("double")
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.median(g), 6).alias("median_gap_ms"),
        F.round(F.percentile(g, 0.95), 6).alias("p95_gap_ms"),
        F.round(F.avg(g), 6).alias("avg_gap_ms"),
    )


# --------------------------------------------------------------------------
# Dynamic-gap session windows: the gap depends on the EVENT (errors
# close their session after 5 min; everything else keeps the 30 min
# gap). Exercises F.session_window's per-row gap expression — beyond
# the reference's fixed 1800 s sessions.
# --------------------------------------------------------------------------

_DYN_SESSION_SQL = """
WITH g AS (
    SELECT user_id, event_id, ts,
           CASE WHEN event_type = 'error'
                THEN 300000000 ELSE 1800000000 END AS gap_us
    FROM events
),
flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN max(epoch_us(ts) + gap_us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR epoch_us(ts) > max(epoch_us(ts) + gap_us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS is_new
    FROM g
),
islands AS (
    SELECT user_id, ts,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
)
SELECT CAST(user_id AS VARCHAR) AS user_id,
       epoch_ms(min(ts)) AS start_ms,
       epoch_ms(max(ts)) AS end_ms,
       count(*) AS page_count
FROM islands
GROUP BY user_id, island
"""


@register("session_metrics_dynamic_gap", _DYN_SESSION_SQL)
def q_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event gap expression into the native session_window; the
    oracle is the running-max gaps-and-islands generalization (a
    session stays open while any prior event's ts+gap still covers
    the next event — for a constant gap this degenerates to the
    plain lag formulation)."""
    ev = load_events(spark, sf_dir)
    # closed boundary on both sides: native session_window merges an
    # event landing exactly at a prior window's end, and the oracle's
    # running-max rule splits only on the STRICT inequality
    gap = F.when(
        F.col("event_type") == "error", F.lit("5 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        ev.groupBy(
            F.session_window("event_time", gap), F.col("user_id")
        )
        .agg(
            F.min("event_time").alias("start_time"),
            F.max("event_time").alias("end_time"),
            F.count(F.lit(1)).alias("page_count"),
        )
        .select(
            F.col("user_id").cast("string").alias("user_id"),
            F.unix_millis("start_time").alias("start_ms"),
            F.unix_millis("end_time").alias("end_ms"),
            "page_count",
        )
    )


# --------------------------------------------------------------------------
# Pareto (cumulative-share) analysis over customer revenue
# --------------------------------------------------------------------------

_PARETO_SQL = """
WITH rev AS (
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT o_custkey, round(revenue, 2) AS revenue,
           sum(revenue) OVER (ORDER BY revenue DESC, o_custkey
               ROWS UNBOUNDED PRECEDING) AS cum_rev,
           sum(revenue) OVER () AS total_rev,
           row_number() OVER (ORDER BY revenue DESC, o_custkey) AS rnk
    FROM rev
)
SELECT o_custkey, revenue,
       CAST(rnk AS BIGINT) AS rnk,
       round(cum_rev / total_rev, 6) AS cum_share,
       (round(cum_rev / total_rev, 6) <= 0.8) AS in_top80
FROM ranked
"""


@register("customers_revenue_pareto", _PARETO_SQL)
def q_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/20 concentration: global running revenue share over the
    CUSTOMER dimension (single-partition window over dim-sized data;
    at web scale swap for repartitionByRange + per-range offsets)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("o_custkey"))
    ranked = rev.select(
        "o_custkey",
        F.round("revenue", 2).alias("revenue"),
        F.sum("revenue")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_rev"),
        F.sum("revenue").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total_rev"),
        F.row_number().over(w).cast("long").alias("rnk"),
    )
    share = F.round(F.col("cum_rev") / F.col("total_rev"), 6)
    return ranked.select(
        "o_custkey",
        "revenue",
        "rnk",
        share.alias("cum_share"),
        (share <= 0.8).alias("in_top80"),
    )


# --------------------------------------------------------------------------
# Session-outcome analysis: conversion rate by session depth bucket
# --------------------------------------------------------------------------

_SESSION_OUTCOME_SQL = """
WITH flagged AS (
    SELECT user_id, event_id, ts, event_type,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
    SELECT user_id, event_type,
           sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
sess AS (
    SELECT user_id, island,
           count(*) AS page_count,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM islands
    GROUP BY 1, 2
)
SELECT CASE WHEN page_count = 1 THEN '1'
            WHEN page_count <= 3 THEN '2-3'
            WHEN page_count <= 7 THEN '4-7'
            ELSE '8+' END AS depth_bucket,
       count(*) AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(sum(converted) * 1.0 / count(*), 6) AS conversion_rate
FROM sess
GROUP BY 1
"""


@register("sessions_conversion_by_depth", _SESSION_OUTCOME_SQL)
def q_session_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session outcome labeling INSIDE the native session_window
    aggregation (the converted flag is one more agg column — no second
    pass over events), then a 4-bucket rollup."""
    ev = load_events(spark, sf_dir)
    sess = (
        ev.groupBy(
            F.session_window("event_time", "30 minutes"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.max(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("converted"),
        )
    )
    bucket = (
        F.when(F.col("page_count") == 1, "1")
        .when(F.col("page_count") <= 3, "2-3")
        .when(F.col("page_count") <= 7, "4-7")
        .otherwise("8+")
    )
    return (
        sess.groupBy(bucket.alias("depth_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").alias("n_converted"),
            F.round(
                F.sum("converted") / F.count(F.lit(1)), 6
            ).alias("conversion_rate"),
        )
    )


# --------------------------------------------------------------------------
# Association rules on the co-occurrence pairs: confidence + lift.
# --------------------------------------------------------------------------

_BASKET_LIFT_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
isup AS (SELECT l_partkey, count(*) AS s FROM items GROUP BY 1),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2)
SELECT part_a, part_b, support,
       CAST(sa.s AS BIGINT) AS supp_a,
       CAST(sb.s AS BIGINT) AS supp_b,
       round(support * 1.0 / sa.s, 6) AS conf_a_to_b,
       round(support * 1.0 / sb.s, 6) AS conf_b_to_a,
       round(support * 1.0 * n_orders / (sa.s * sb.s), 6) AS lift
FROM pairs
JOIN isup sa ON sa.l_partkey = part_a
JOIN isup sb ON sb.l_partkey = part_b, n
"""


@register("basket_rules_lift", _BASKET_LIFT_SQL)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule strength over the co-occurrence pairs:
    confidence in both directions plus lift. The item-support side is
    part-cardinality-sized (AQE decides broadcast vs shuffle); the
    basket count is a 1-row broadcast; integer ratios divide once at
    the end so both engines divide identical values."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    isup = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    # r13: in-row pair expansion replaces the items self-join
    pairs = _copurchase_pair_counts(li).where(F.col("support") >= 2)
    return (
        pairs.join(
            isup.select(
                F.col("l_partkey").alias("part_a"), F.col("s").alias("supp_a")
            ),
            "part_a",
        )
        .join(
            isup.select(
                F.col("l_partkey").alias("part_b"), F.col("s").alias("supp_b")
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            "supp_a",
            "supp_b",
            F.round(F.col("support") / F.col("supp_a"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("support") / F.col("supp_b"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                F.col("support") * F.col("n_orders")
                / (F.col("supp_a") * F.col("supp_b")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement: Efraimidis–Spirakis A-ES keys.
# --------------------------------------------------------------------------

_AES_U = "(" + __import__(
    "realtime_analytics_pipeline_spark.operators.sampling",
    fromlist=["md5_bucket_sql"],
).md5_bucket_sql("CAST(doc_id AS VARCHAR)", "aes") + " + 0.5) / 65536.0"

_AES_SQL = f"""
WITH keyed AS (
    SELECT doc_id, n_chars,
           round(ln({_AES_U}) / n_chars, 12) AS k
    FROM documents)
SELECT doc_id, n_chars, k, rnk FROM (
    SELECT doc_id, n_chars, k,
           row_number() OVER (ORDER BY k DESC, doc_id) AS rnk
    FROM keyed)
WHERE rnk <= 100
"""


@register("sample_docs_aes_weighted", _AES_SQL)
def q_aes_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    exponential keys: key = ln(u)/w with a deterministic md5-derived
    u, take the global top-k by key. One pass + a top-k — the
    distributed-systems classic for weighted reservoir sampling
    (heavier docs win proportionally more often); keys are rounded to
    12 decimals with doc_id tiebreak so the cross-engine ranking is
    ULP-proof."""
    from realtime_analytics_pipeline_spark.operators.sampling import (
        hash_bucket,
    )

    docs = load_table(spark, sf_dir, "documents")
    u = (hash_bucket(F.col("doc_id"), "aes") + F.lit(0.5)) / F.lit(65536.0)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 12).alias("k"),
    )
    w = Window.orderBy(F.col("k").desc(), F.col("doc_id"))
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 100)
        .select("doc_id", "n_chars", "k", "rnk")
    )


# --------------------------------------------------------------------------
# CDC / MERGE: apply an upsert+delete+insert changelog to a snapshot.
# --------------------------------------------------------------------------

_CDC_SQL = """
WITH latest AS (
    SELECT o_custkey, round(CAST(o_totalprice AS DOUBLE), 2) AS new_bal
    FROM (
        SELECT o_custkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1),
changelog AS (
    SELECT o_custkey AS key,
           CASE WHEN o_custkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
           new_bal
    FROM latest
    UNION ALL
    SELECT o_custkey + 1000000 AS key, 'I' AS op, new_bal
    FROM latest WHERE o_custkey % 89 = 0),
merged AS (
    SELECT coalesce(c.c_custkey, g.key) AS c_custkey,
           coalesce(c.c_name, 'NEW') AS c_name,
           CASE WHEN g.op = 'U' THEN g.new_bal
                WHEN g.op = 'I' THEN g.new_bal
                ELSE round(CAST(c.c_acctbal AS DOUBLE), 2) END AS acctbal,
           CASE WHEN g.key IS NULL THEN 'kept'
                WHEN g.op = 'U' THEN 'updated'
                WHEN g.op = 'I' THEN 'inserted' END AS change_type,
           g.op AS op
    FROM customer c FULL OUTER JOIN changelog g ON c.c_custkey = g.key)
SELECT c_custkey, c_name, acctbal, change_type
FROM merged WHERE op IS NULL OR op != 'D'
"""


@register("customers_cdc_merge", _CDC_SQL)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE semantics as a full-outer join: a derived
    changelog (update per customer's latest order, deletes for
    custkey%97, inserts for synthesized new keys) applied to the
    customer snapshot — unmatched-left kept, matched updated or
    deleted, unmatched-right inserted. The join is key-equi, AQE
    decides broadcast vs shuffle; at table scale this is the
    foreachBatch-upsert pattern the sinks already exercise."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    wl = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        orders.withColumn("rn", F.row_number().over(wl))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice").cast("double"), 2).alias(
                "new_bal"
            ),
        )
    )
    changelog = (
        latest.select(
            F.col("o_custkey").alias("key"),
            F.when(F.col("o_custkey") % 97 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "new_bal",
        )
    ).unionByName(
        latest.where(F.col("o_custkey") % 89 == 0).select(
            (F.col("o_custkey") + 1000000).alias("key"),
            F.lit("I").alias("op"),
            "new_bal",
        )
    )
    merged = customer.join(
        changelog, customer["c_custkey"] == changelog["key"], "full_outer"
    ).select(
        F.coalesce("c_custkey", "key").alias("c_custkey"),
        F.coalesce("c_name", F.lit("NEW")).alias("c_name"),
        F.when(F.col("op").isin("U", "I"), F.col("new_bal"))
        .otherwise(F.round(F.col("c_acctbal").cast("double"), 2))
        .alias("acctbal"),
        F.when(F.col("key").isNull(), "kept")
        .when(F.col("op") == "U", "updated")
        .when(F.col("op") == "I", "inserted")
        .alias("change_type"),
        "op",
    )
    return merged.where(
        F.col("op").isNull() | (F.col("op") != "D")
    ).select("c_custkey", "c_name", "acctbal", "change_type")


_NULLSAFE_SQL = """
WITH bucketed AS (
    SELECT event_id,
           CASE WHEN value IS NULL THEN NULL
                ELSE CAST(floor(value / 100) AS BIGINT) END AS bucket
    FROM events),
dim AS (
    SELECT DISTINCT bucket,
           CASE WHEN bucket IS NULL THEN 'unmeasured'
                ELSE 'band_' || CAST(bucket AS VARCHAR) END AS label
    FROM bucketed)
SELECT label, count(*) AS n
FROM bucketed b JOIN dim d ON b.bucket IS NOT DISTINCT FROM d.bucket
GROUP BY 1
"""


@register("events_nullsafe_bucket_join", _NULLSAFE_SQL)
def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL
    bucket rows match the dimension's NULL row instead of dropping —
    the semantics regular equi-joins silently lose."""
    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.select(
        "event_id",
        F.when(
            F.col("value").isNull(), F.lit(None).cast("long")
        )
        .otherwise(F.floor(F.col("value") / 100).cast("long"))
        .alias("bucket"),
    )
    dim = bucketed.select("bucket").distinct().select(
        "bucket",
        F.when(F.col("bucket").isNull(), "unmeasured")
        .otherwise(F.concat(F.lit("band_"), F.col("bucket").cast("string")))
        .alias("label"),
    )
    return (
        bucketed.alias("b")
        .join(
            dim.alias("d"),
            F.col("b.bucket").eqNullSafe(F.col("d.bucket")),
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Triangle counting on the co-purchase graph.
# --------------------------------------------------------------------------

_TRIANGLES_SQL = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2),
wedges AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1 JOIN edges e2 ON e1.v = e2.u)
SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_triangles
FROM wedges w JOIN edges e3 ON w.a = e3.u AND w.c = e3.v
"""


@register("basket_graph_triangles", _TRIANGLES_SQL)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the co-purchase graph
    (edges = part pairs with support ≥ 2): the canonical
    wedge-generation + closing-edge hash-join algorithm — every
    triangle (a<b<c) is produced exactly once because edges are
    ordered pairs. Wedge volume is Σ deg², the standard cost model;
    at web scale the mitigation is degree-ordered orientation (always
    extend from the lower-degree endpoint), which this ordering
    already approximates."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13: in-row pair expansion replaces the items self-join
    edges = (
        _copurchase_pair_counts(li)
        .where(F.col("support") >= 2)
        .select(
            F.col("part_a").alias("u"), F.col("part_b").alias("v")
        )
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    wedges = e1.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    e3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        F.broadcast(n_edges)
    ).select("n_edges", "n_triangles")


# --------------------------------------------------------------------------
# CDC generation: diff two point-in-time states into a changelog.
# The inverse of customers_cdc_merge (which APPLIES a changelog).
# --------------------------------------------------------------------------

_SNAPDIFF_SQL = """
WITH old_state AS (
    SELECT o_custkey,
           count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01'
    GROUP BY o_custkey),
new_state AS (
    SELECT o_custkey,
           count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01'
    GROUP BY o_custkey)
SELECT coalesce(o.o_custkey, n.o_custkey) AS custkey,
       CASE WHEN o.o_custkey IS NULL THEN 'I'
            WHEN n.o_custkey IS NULL THEN 'D'
            ELSE 'U' END AS op,
       o.n_orders AS old_orders,
       n.n_orders AS new_orders,
       o.spend_cents AS old_spend_cents,
       n.spend_cents AS new_spend_cents
FROM old_state o FULL OUTER JOIN new_state n ON o.o_custkey = n.o_custkey
WHERE o.o_custkey IS NULL OR n.o_custkey IS NULL
   OR o.n_orders != n.n_orders OR o.spend_cents != n.spend_cents
"""


@register("orders_snapshot_diff", _SNAPDIFF_SQL)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC GENERATION: diff two deterministic per-customer states (order
    count + integer-cents spend before vs after a cutoff date) into an
    insert/update/delete changelog — the feed a downstream MERGE
    (customers_cdc_merge) consumes. Shape: two pushed-filter scans of
    the same fact table, partial-aggregated map-side, one full-outer
    join on the aggregate key (AQE sizes it); unchanged keys are
    filtered so the changelog carries only real changes. Cents are
    derived per-row as CAST(round(price*100) AS BIGINT) BEFORE summing
    — float-sum divergence across engines was observed in this repo
    (orders_rolling_aov_28d), integer sums are exact."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-06-01").cast("timestamp")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def state(pred):
        return (
            orders.where(pred)
            .groupBy("o_custkey")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(cents).alias("spend_cents"),
            )
        )

    old = state(F.col("o_orderdate") < cutoff).alias("o")
    new = state(F.col("o_orderdate") >= cutoff).alias("n")
    joined = old.join(
        new, F.col("o.o_custkey") == F.col("n.o_custkey"), "full_outer"
    )
    return joined.select(
        F.coalesce("o.o_custkey", "n.o_custkey").alias("custkey"),
        F.when(F.col("o.o_custkey").isNull(), "I")
        .when(F.col("n.o_custkey").isNull(), "D")
        .otherwise("U")
        .alias("op"),
        F.col("o.n_orders").alias("old_orders"),
        F.col("n.n_orders").alias("new_orders"),
        F.col("o.spend_cents").alias("old_spend_cents"),
        F.col("n.spend_cents").alias("new_spend_cents"),
    ).where(
        F.col("o.o_custkey").isNull()
        | F.col("n.o_custkey").isNull()
        | (F.col("o.n_orders") != F.col("n.n_orders"))
        | (F.col("o.spend_cents") != F.col("n.spend_cents"))
    )


# --------------------------------------------------------------------------
# Safety blocklist filtering (substring match against a phrase list).
# --------------------------------------------------------------------------

_BLOCKLIST_SQL = """
WITH bl(phrase) AS (
    VALUES ('slow scan'), ('dup line'), ('big spark table'),
           ('merge the row'), ('fast hash join')),
hits AS (
    SELECT d.doc_id, d.source, count(*) AS n_hits
    FROM documents d JOIN bl ON d.text LIKE '%' || bl.phrase || '%'
    GROUP BY d.doc_id, d.source)
SELECT s.source,
       count(*) AS n_docs,
       CAST(count(h.doc_id) AS BIGINT) AS n_flagged,
       round(count(h.doc_id) * 1.0 / count(*), 6) + 0.0 AS flag_rate,
       CAST(coalesce(sum(h.n_hits), 0) AS BIGINT) AS total_hits
FROM documents s LEFT JOIN hits h ON s.doc_id = h.doc_id
GROUP BY s.source
"""


def _blocklist_phrases(spark: SparkSession) -> DataFrame:
    """The banned-phrase list of both blocklist queries (the oracle's
    ``bl`` VALUES)."""
    return spark.createDataFrame(
        [
            ("slow scan",),
            ("dup line",),
            ("big spark table",),
            ("merge the row",),
            ("fast hash join",),
        ],
        "phrase string",
    )


def _blocklist_rollup(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-source blocklist rates from (doc_id, text, phrase) candidate
    pairs: a pair is a hit iff the text contains the phrase exactly,
    hits are counted per doc, and every doc of ``docs`` rolls up into
    its source, hit or not."""
    hits = (
        pairs.where(F.col("text").contains(F.col("phrase")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        docs.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_hits").cast("bigint").alias("n_flagged"),
            (
                F.round(F.count("n_hits") / F.count(F.lit(1)), 6)
                + F.lit(0.0)
            ).alias("flag_rate"),
            F.coalesce(F.sum("n_hits"), F.lit(0))
            .cast("bigint")
            .alias("total_hits"),
        )
    )


@register("docs_blocklist_filter", _BLOCKLIST_SQL)
def q_docs_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety/blocklist screening: per-source rate of documents
    containing any banned phrase (exact substring). The phrase list is
    broadcast and each (doc, phrase) test is a JVM `contains` — fine
    for list sizes in the thousands; at blocklists of 10^5+ the scale
    move is a token-indexed prefilter (join docs' token sets to
    phrases' first tokens, verify contains only on candidates — the
    same inverted-index bound as the n-gram dedup family). Counted per
    (doc, phrase) so multi-phrase hits are visible, rolled up per
    source."""
    docs = load_table(spark, sf_dir, "documents")
    return _blocklist_rollup(
        docs, docs.crossJoin(F.broadcast(_blocklist_phrases(spark)))
    )


_KCORE_SQL = """
WITH RECURSIVE base AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
sym0 AS (
    SELECT src, dst FROM base
    UNION
    SELECT dst, src FROM base),
peel AS (
    SELECT 0 AS iter, src, dst FROM sym0
    UNION ALL
    SELECT * FROM (
        WITH cur AS (SELECT * FROM peel),
        deg AS (SELECT src AS node, count(*) AS d FROM cur GROUP BY 1)
        SELECT c.iter + 1, c.src, c.dst
        FROM cur c
        JOIN deg ds ON c.src = ds.node AND ds.d >= 3
        JOIN deg dd ON c.dst = dd.node AND dd.d >= 3
        WHERE c.iter < 30)
)
SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
FROM peel WHERE iter = 30
GROUP BY 1
"""


@register("basket_graph_kcore", _KCORE_SQL)
def q_basket_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (parts co-occurring in an
    order): the dense backbone that survives after iteratively peeling
    low-degree parts — the community-detection preprocessing step that
    removes noise edges PageRank and triangle counts are sensitive to.
    operators/clustering.py::k_core runs the peeling loop
    (semi-join-induced subgraphs, localCheckpoint per round).
    ORACLED since round 4: the same simultaneous peel replays in a
    DuckDB recursive CTE (30 bounded iterations, matching the
    operator's max_iter; fixpoint rows carry forward so iteration 30
    IS the converged core) — the former rows-only check is now a full
    value-hash gate. Peel equality with a Python reference remains
    pinned in tests/test_clustering_extra.py."""
    from realtime_analytics_pipeline_spark.operators.clustering import (
        k_core,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r13: in-row pair expansion replaces the raw self-join; the
    # helper's groupBy already yields the DISTINCT pair set
    edges = _copurchase_pair_counts(li).select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    out = k_core(edges, k=3)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("deg").cast("bigint").alias("deg"),
    ).orderBy("node")


@register("docs_blocklist_indexed", _BLOCKLIST_SQL)
def q_docs_blocklist_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE PATH for docs_blocklist_filter (same oracle, identical
    result): instead of crossing every doc with every phrase, docs are
    indexed by their distinct character 4-grams and phrases join on
    their FIRST 4-gram — a guaranteed candidate superset (any
    substring match must contain the phrase's first 4 chars as a
    4-gram), then the exact `contains` verifies candidates only. Pair
    work is bounded by index-bucket co-occurrence, so a 10^5-phrase
    blocklist costs |docs' grams| + |candidates|, never
    |docs| x |phrases|. Equality with the broadcast-cross form is
    additionally pytest-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    phrases = _blocklist_phrases(spark)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(text) - 3, 1)),"
                    " i -> substr(text, i, 4))"
                )
            )
        ).alias("gram"),
    )
    keyed = phrases.select("phrase", F.substring("phrase", 1, 4).alias("gram"))
    cand = grams.join(keyed, "gram").select("doc_id", "phrase").distinct()
    return _blocklist_rollup(
        docs, cand.join(docs.select("doc_id", "text"), "doc_id")
    )


# --------------------------------------------------------------------------
# Round-10: label-propagation community detection on the co-purchase
# graph (Raghavan et al. 2007, public method) — deterministic
# synchronous variant, 4 unrolled iterations.
# --------------------------------------------------------------------------


def _lpa_sql() -> str:
    head = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges0 AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2),
sym AS (SELECT u, v FROM edges0 UNION ALL SELECT v, u FROM edges0),
l0 AS (SELECT DISTINCT u AS node, u AS lab FROM sym)"""
    steps = []
    for i in range(4):
        steps.append(f""",
s{i + 1} AS (
    SELECT e.v AS node, l.lab, count(*) AS cnt
    FROM sym e JOIN l{i} l ON e.u = l.node
    GROUP BY 1, 2),
l{i + 1} AS (
    SELECT node, lab FROM (
        SELECT node, lab, row_number() OVER (
            PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM s{i + 1}) WHERE rn = 1)""")
    tail = """
SELECT CAST(node AS BIGINT) AS node, CAST(lab AS BIGINT) AS community,
       CAST(count(*) OVER (PARTITION BY lab) AS BIGINT) AS community_size
FROM l4
"""
    return head + "".join(steps) + tail


_LPA_SQL = _lpa_sql()


@register("basket_graph_communities_lpa", _LPA_SQL)
def q_basket_graph_communities_lpa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community detection on the co-purchase graph via LABEL
    PROPAGATION (Raghavan et al. 2007 — public method), in its
    deterministic synchronous form: every node starts as its own
    label; each round, a node adopts the most frequent label among
    its NEIGHBORS, ties broken by smallest label; 4 fixed rounds.
    Unlike the repo's other graph gates — connected components (pure
    reachability), k-core (density peel), PageRank (centrality) —
    LPA yields modularity-style communities: dense co-purchase
    cliques converge onto one label while bridge edges get outvoted.

    Determinism: the classic algorithm breaks ties randomly and
    iterates to fluctuating fixpoints; pinning ties to min-label and
    the round count to 4 makes the result a pure function of the
    edge set, so the loop UNROLLS into 4 SQL CTE stages and the
    DuckDB oracle replays it exactly.

    Scale shape: one iteration = one shuffle join (edges ⋈ labels on
    the src key) + a (node, lab) count agg + a per-node top-1 window
    PARTITIONED BY node — nothing global, nothing quadratic; cost is
    O(|E|) per round with fixed rounds. A celebrity node's vote agg
    is two-phase (partial map-side count on (node, lab)), the same
    skew posture the salted-agg suite proves structurally. Edges
    need support >= 2 (same contract as basket_graph_triangles), so
    the graph is the denoised backbone, not the raw bipartite blowup.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # r13: in-row pair expansion replaces the items self-join
    edges = (
        _copurchase_pair_counts(li)
        .where(F.col("support") >= 2)
        .select(
            F.col("part_a").alias("u"), F.col("part_b").alias("v")
        )
        .localCheckpoint(eager=True)
    )
    # r13 note (guide §3.3): under the OLD self-join pair shape a
    # localCheckpoint of `sym` was tried and REVERTED (exchange reuse
    # already deduped the subtree; eager materialization serialized
    # overlapped work — A/B at sf0.1: min 3.98 s → 4.67 s). Under the
    # in-row expansion the tradeoff FLIPS: without a checkpoint the 4
    # unrolled rounds regressed LPA ×1.3 (min 3.2 → 4.3/4.5 s,
    # interleaved A/B), and checkpointing the small support>=2 edge
    # list restores it (min 2.94 s). Measured both ways; the
    # expansion now runs exactly once per invocation.
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    top1 = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("lab")
    )
    for _ in range(4):
        votes = (
            sym.join(labels, sym["u"] == labels["node"])
            .groupBy(F.col("v").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(top1))
            .where(F.col("rn") == 1)
            .select("node", "lab")
        )
    size_w = Window.partitionBy("lab")
    return labels.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("lab").cast("bigint").alias("community"),
        F.count(F.lit(1)).over(size_w).cast("bigint").alias(
            "community_size"
        ),
    )

"""Unit tests for substring-level dedup signals (dup-ngram fraction,
boilerplate chunk removal) and distribution analytics (entropy, decay
weighting, Gini, incremental merge) on crafted inputs where the
expected output is hand-checkable."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators import text_analysis as T


# --------------------------------------------------------------------------
# dup_ngram_stats
# --------------------------------------------------------------------------


def test_dup_ngram_fraction_crafted(spark):
    # doc 1 and 2 share the 3-gram "a b c"; doc 3 is unique; doc 4 too
    # short for any 3-gram.
    df = spark.createDataFrame(
        [
            (1, "a b c d"),  # grams: "a b c", "b c d"
            (2, "x a b c"),  # grams: "x a b", "a b c"
            (3, "p q r s"),  # grams: "p q r", "q r s"
            (4, "u v"),  # no 3-grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in T.dup_ngram_stats(df, n=3).collect()
    }
    assert out[1]["n_grams"] == 2 and out[1]["n_dup_grams"] == 1
    assert out[1]["dup_fraction"] == 0.5
    assert out[2]["n_dup_grams"] == 1
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0
    assert out[4]["n_grams"] == 0 and out[4]["dup_fraction"] == 0.0


def test_dup_ngram_within_doc_repeat_not_cross_doc(spark):
    # A gram repeated only WITHIN one doc is not a cross-corpus dup.
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "c d e f")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.dup_ngram_stats(df, n=2).collect()}
    # doc 1 bigrams: "a b","b a","a b","b a","a b" — none in doc 2
    assert out[1]["n_dup_grams"] == 0


# --------------------------------------------------------------------------
# boilerplate_chunks
# --------------------------------------------------------------------------


def test_boilerplate_removal_crafted(spark):
    # chunk "na na" appears in 3/4 docs -> boilerplate at doc_frac=0.5.
    df = spark.createDataFrame(
        [
            (1, "na na x y"),
            (2, "na na p q"),
            (3, "z w na na"),
            (4, "k l m n"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in T.boilerplate_chunks(df, chunk=2, doc_frac=0.5).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text_clean"] == "x y"
    assert out[3]["text_clean"] == "z w"
    assert out[4]["n_kept"] == 2 and out[4]["text_clean"] == "k l m n"


def test_boilerplate_order_preserved_and_odd_tail(spark):
    # Odd token count -> 1-token tail chunk; kept chunks re-join in
    # original order.
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b z z z")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in T.boilerplate_chunks(df, chunk=2, doc_frac=1.0).collect()
    }
    # "a b" is in 2/2 docs -> boilerplate; everything else kept.
    assert out[1]["n_chunks"] == 3
    assert out[1]["text_clean"] == "c d e"
    assert out[2]["text_clean"] == "z z z"


def test_boilerplate_all_removed_yields_empty_text(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in T.boilerplate_chunks(df, chunk=2, doc_frac=0.5).collect()
    }
    assert out[1]["n_kept"] == 0 and out[1]["text_clean"] == ""


# --------------------------------------------------------------------------
# entropy / decayed engagement / gini / incremental merge (registry fns)
# --------------------------------------------------------------------------


def test_user_entropy_uniform_and_degenerate(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    # build a tiny parquet dir shaped like the testdata
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        rows = []
        # user 1: 2 types x 2 events each -> H = ln(2)
        for i, et in enumerate(["view", "click", "view", "click"]):
            rows.append((i, "2024-01-01 00:00:%02d" % i, 1, et, 1.0, "{}"))
        # user 2: single type -> H = 0 exactly (and not -0.0)
        for i, et in enumerate(["view"] * 3):
            rows.append(
                (10 + i, "2024-01-01 01:00:%02d" % i, 2, et, 1.0, "{}")
            )
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = {
            r["user_id"]: r
            for r in QUERIES["events_user_entropy"](spark, d).collect()
        }
    assert abs(out["1"]["entropy"] - round(math.log(2), 6)) < 1e-9
    assert out["2"]["entropy"] == 0.0
    assert math.copysign(1.0, out["2"]["entropy"]) == 1.0  # +0.0, not -0.0
    assert out["1"]["n_events"] == 4 and out["1"]["n_types"] == 2


def test_decayed_engagement_closed_form(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        rows = [
            # user 1: one event at ref time (weight 1), one 7 days
            # earlier (weight e^-1)
            (1, "2024-01-08 00:00:00", 1, "view", 10.0, "{}"),
            (2, "2024-01-01 00:00:00", 1, "view", 10.0, "{}"),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["events_decayed_engagement"](spark, d).collect()[0]
    expect = 10.0 * (1.0 + math.exp(-1.0))
    assert abs(out["decayed_value"] - round(expect, 6)) < 1e-9
    assert abs(out["decayed_count"] - round(1.0 + math.exp(-1.0), 6)) < 1e-9


def test_gini_extremes(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        # perfectly equal revenues -> gini 0
        rows = [(i, i, 100.0, "1995-01-01") for i in range(1, 9)]
        df = spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double,"
            " o_orderdate string",
        ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        df.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
        out = QUERIES["customers_gini_revenue"](spark, d).collect()[0]
        assert out["gini"] == 0.0
        assert out["n_customers"] == 8
        # one customer holds everything -> gini -> (n-1)/n
        rows = [(1, 1, 800.0, "1995-01-01")] + [
            (i, i, 0.0, "1995-01-01") for i in range(2, 9)
        ]
        df = spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_totalprice double,"
            " o_orderdate string",
        ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
        df.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
        out = QUERIES["customers_gini_revenue"](spark, d).collect()[0]
        assert abs(out["gini"] - round(7.0 / 8.0, 6)) < 1e-9


# --------------------------------------------------------------------------
# ks_drift_by_group
# --------------------------------------------------------------------------


def test_ks_disjoint_supports(spark):
    from realtime_analytics_pipeline_spark.operators.curation import (
        ks_drift_by_group,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "g string, v long"
    )
    out = {r["g"]: r for r in ks_drift_by_group(df, "g", "v").collect()}
    # pooled ECDF at v=2 is 0.5; A's is 1.0, B's is 0.0 -> KS = 0.5 each
    assert out["a"]["ks"] == 0.5 and out["b"]["ks"] == 0.5
    assert out["a"]["n_rows"] == 2


def test_ks_identical_distribution_is_zero(spark):
    from realtime_analytics_pipeline_spark.operators.curation import (
        ks_drift_by_group,
    )

    rows = [(g, v) for g in ("a", "b") for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r["g"]: r for r in ks_drift_by_group(df, "g", "v").collect()}
    assert out["a"]["ks"] == 0.0 and out["b"]["ks"] == 0.0


# --------------------------------------------------------------------------
# mmr_rerank
# --------------------------------------------------------------------------


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_mmr_first_pick_is_top1_and_shape(spark):
    from realtime_analytics_pipeline_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    mmr = mmr_rerank(emb, query_max_id=3, n_candidates=10, k=4).collect()
    top = {
        (r["query_id"], r["rnk"]): r["neighbor_id"]
        for r in cosine_topk(emb, query_max_id=3, k=1).collect()
    }
    by_q = {}
    for r in mmr:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == [1, 2, 3, 4]
        # greedy MMR's first pick is the plain argmax relevance
        assert rows[0]["neighbor_id"] == top[(qid, 1)]
        ids = [r["neighbor_id"] for r in rows]
        assert len(set(ids)) == 4 and qid not in ids


def test_mmr_prefers_diversity_over_near_duplicate(spark):
    from realtime_analytics_pipeline_spark.operators.similarity import (
        mmr_rerank,
    )

    # vec 0 = query. 1 and 2 are near-duplicates slightly above the
    # query's axis; 3 sits on the OPPOSITE side, so it is closer to
    # the query than to the already-picked near-dup. Plain top-2 =
    # {1, 2}; MMR's second pick must skip the near-dup and take 3.
    vecs = [
        [1.0, 0.0],
        [0.999, 0.01],
        [0.998, 0.012],
        [0.8, -0.6],
    ]
    out = sorted(
        mmr_rerank(
            _emb_df(spark, vecs), query_max_id=1, n_candidates=3, k=2
        ).collect(),
        key=lambda r: r["rnk"],
    )
    assert out[0]["neighbor_id"] == 1
    assert out[1]["neighbor_id"] == 3


# --------------------------------------------------------------------------
# pq_quantize
# --------------------------------------------------------------------------


def test_pq_codes_shape_and_error_bound(spark):
    from realtime_analytics_pipeline_spark.operators.similarity import (
        pq_quantize,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = pq_quantize(emb, m=4, k=4, iterations=2).collect()
    assert len(out) == 500
    rows = {r["vec_id"]: r for r in out}
    codebook_ids = {0, 1, 2, 3}  # init = the 4 smallest vec_ids
    for r in out:
        assert {r["code0"], r["code1"], r["code2"], r["code3"]} <= codebook_ids
        assert r["recon_err"] >= 0.0
    # a vector that seeded the codebooks reconstructs itself at
    # iteration 1; after the mean update its error is still small
    # relative to the corpus mean
    import statistics

    mean_err = statistics.mean(r["recon_err"] for r in out)
    assert mean_err > 0.0


def test_pq_error_zero_on_degenerate_corpus(spark):
    from realtime_analytics_pipeline_spark.operators.similarity import (
        pq_quantize,
    )

    # 8 identical vectors -> every centroid equals the vector ->
    # reconstruction error exactly 0
    v = [float(i % 3) for i in range(8)]
    df = spark.createDataFrame(
        [(i, v, 0) for i in range(8)],
        "vec_id long, embedding array<float>, label int",
    )
    out = pq_quantize(df, m=2, k=2, iterations=2).collect()
    assert all(r["recon_err"] == 0.0 for r in out)


# --------------------------------------------------------------------------
# observe_event_quality
# --------------------------------------------------------------------------


def test_observation_counters_match_direct_agg(spark):
    from realtime_analytics_pipeline_spark.operators.observability import (
        observe_event_quality,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    observed, obs = observe_event_quality(ev)
    n = observed.count()  # the action that materializes the metrics
    got = obs.get
    assert got["n_rows"] == n
    direct = ev.agg(
        F.sum(F.col("value").isNull().cast("long")).alias("nulls"),
        F.sum((F.col("value") < 0).cast("long")).alias("negs"),
    ).collect()[0]
    assert got["n_null_value"] == direct["nulls"]
    assert got["n_neg_value"] == direct["negs"]
    assert got["min_ms"] <= got["max_ms"]


# --------------------------------------------------------------------------
# unigram LM scoring / grouping sets / growth / seasonality
# --------------------------------------------------------------------------


def test_unigram_logprob_uniform_corpus(spark):
    """On a corpus where every token is equally frequent, every doc's
    avg negative log-prob is ln(V) and ppl is V (V = vocab size)."""
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            [(1, "a b", "en", "s0", 3), (2, "c d", "en", "s0", 3)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        df.write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {
            r["doc_id"]: r
            for r in QUERIES["text_unigram_logprob"](spark, d).collect()
        }
    expect = round(math.log(4), 6)
    assert out[1]["avg_neg_logprob"] == expect
    assert out[2]["avg_neg_logprob"] == expect
    assert abs(out[1]["ppl"] - 4.0) < 1e-4


def test_grouping_sets_totals_consistent(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_grouping_sets"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    # gid 0 = (type, day); 1 = type only; 2 = day only; 3 = grand total
    assert set(by_gid) == {0, 1, 2, 3}
    grand = by_gid[3][0]["n"]
    assert sum(r["n"] for r in by_gid[0]) == grand
    assert sum(r["n"] for r in by_gid[1]) == grand
    assert sum(r["n"] for r in by_gid[2]) == grand
    # subtotal rows null out the collapsed dimension
    assert all(r["day_ms"] is None for r in by_gid[1])
    assert all(r["event_type"] is None for r in by_gid[2])


def test_monthly_growth_lag_edges(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = sorted(
        QUERIES["orders_monthly_growth"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: (r["y"], r["m"]),
    )
    assert rows[0]["mom_pct"] is None  # no prior month
    assert all(r["yoy_pct"] is None for r in rows[:12])  # no prior year
    assert all(r["mom_pct"] is not None for r in rows[1:])


def test_hourly_seasonality_shares_sum_to_one(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_hourly_seasonality"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], 0.0)
        by_type[r["event_type"]] += r["share"]
        assert 0 <= r["hour_of_day"] <= 23
    for t, s in by_type.items():
        assert abs(s - 1.0) < 1e-4, t


# --------------------------------------------------------------------------
# bitmap distinct / concurrency sweep / basket lift
# --------------------------------------------------------------------------


def test_bitmap_distinct_matches_exact(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    got = {
        r["day_ms"]: r
        for r in QUERIES["events_distinct_users_bitmap"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {
        r["day_ms"]: r
        for r in ev.groupBy(
            (
                (F.unix_millis("ts") / F.lit(86400000)).cast("long")
                * F.lit(86400000)
            ).alias("day_ms")
        )
        .agg(F.count_distinct("user_id").alias("d"))
        .collect()
    }
    assert set(got) == set(exact)
    for k in got:
        assert got[k]["distinct_users"] == exact[k]["d"]


def test_concurrency_sweep_crafted(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    # Three users on one day:
    #   u1 session 00:00-01:00, u2 session 00:30-01:30 (overlap -> 2),
    #   u3 session 05:00-05:00 (single event; start counts before end)
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 01:00:00", 1, "view", 1.0, "{}"),
        (3, "2024-01-01 00:30:00", 2, "view", 1.0, "{}"),
        (4, "2024-01-01 01:30:00", 2, "view", 1.0, "{}"),
        (5, "2024-01-01 05:00:00", 3, "view", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["sessions_max_concurrency_daily"](spark, d).collect()
    assert len(out) == 1
    # u1's hour-long span splits at the >=30min gap into two sessions
    # (events at 00:00 and 01:00 are 60min apart) — so starts:
    # u1x2, u2x2, u3x1 = 5; peak: 00:30 has u1(00:00 session already
    # closed? no — closed interval: endpoint 00:00 session is [00:00,
    # 00:00]) ... u2 [00:30,00:30]+[01:30,01:30], single-event
    # sessions everywhere since every gap >= 30min. Peak = 1.
    r = out[0]
    assert r["n_sessions_started"] == 5
    assert r["peak_concurrency"] == 1


def test_concurrency_sweep_overlap(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    # u1 events 00:00 + 00:20 -> ONE session [00:00, 00:20];
    # u2 event 00:10 -> session [00:10, 00:10] inside u1's span.
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 00:20:00", 1, "view", 1.0, "{}"),
        (3, "2024-01-01 00:10:00", 2, "view", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["sessions_max_concurrency_daily"](spark, d).collect()
    assert out[0]["n_sessions_started"] == 2
    assert out[0]["peak_concurrency"] == 2


def test_basket_lift_identities(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["basket_rules_lift"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows[:200]:
        assert 0.0 < r["conf_a_to_b"] <= 1.0
        assert 0.0 < r["conf_b_to_a"] <= 1.0
        assert r["support"] <= min(r["supp_a"], r["supp_b"])
        assert r["lift"] > 0.0


# --------------------------------------------------------------------------
# A-ES weighted sampling / CDC merge / null-safe join
# --------------------------------------------------------------------------


def test_aes_heavy_weight_dominates(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    with tempfile.TemporaryDirectory() as d:
        rows = [(i, "x", "en", "s0", 1) for i in range(10)]
        rows.append((99, "x", "en", "s0", 10_000_000))
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        out = sorted(
            QUERIES["sample_docs_aes_weighted"](spark, d).collect(),
            key=lambda r: r["rnk"],
        )
    # key = ln(u)/w -> the near-infinite weight pushes the key to ~0,
    # the maximum possible; the heavy doc must rank first
    assert out[0]["doc_id"] == 99
    assert len(out) == 11  # min(100, corpus)


def test_cdc_merge_semantics(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["customers_cdc_merge"](spark, sf).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["change_type"], []).append(r)
    orders = spark.read.parquet(sf + "/orders.parquet")
    customer = spark.read.parquet(sf + "/customer.parquet")
    with_orders = {
        r["o_custkey"] for r in orders.select("o_custkey").distinct().collect()
    }
    deleted = {k for k in with_orders if k % 97 == 0}
    inserted = {k + 1000000 for k in with_orders if k % 89 == 0}
    n_cust = customer.count()
    got_keys = {r["c_custkey"] for r in out}
    assert deleted.isdisjoint(got_keys)
    assert inserted <= got_keys
    assert all(r["c_name"] == "NEW" for r in by_type.get("inserted", []))
    assert len(by_type["updated"]) == len(with_orders) - len(deleted)
    # at sf0.001 every customer has orders, so "kept" may be empty
    assert len(by_type.get("kept", [])) == n_cust - len(with_orders)


def test_nullsafe_join_keeps_null_bucket(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    out = {
        r["label"]: r["n"]
        for r in QUERIES["events_nullsafe_bucket_join"](spark, sf).collect()
    }
    ev = spark.read.parquet(sf + "/events.parquet")
    n_null = ev.where(F.col("value").isNull()).count()
    if n_null:
        assert out.get("unmeasured") == n_null
    assert sum(out.values()) == ev.count()


# --------------------------------------------------------------------------
# fuzzy blocking join / time-weighted average / bounce rate
# --------------------------------------------------------------------------


def test_fuzzy_pairs_within_block_only(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["customers_fuzzy_name_pairs"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows[:100]:
        assert r["lev"] <= 2
        assert r["key_a"] < r["key_b"]
        # blocking key: names agree on everything but the last 2 chars
        assert r["name_a"][:-2] == r["name_b"][:-2]


def test_time_weighted_avg_crafted(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    # value 100 held for 6h, then 0 held until day end (18h):
    # TWA = (100*6 + 0*18)/24 = 25; plain AVG would say 50.
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 100.0, "{}"),
        (2, "2024-01-01 06:00:00", 1, "view", 0.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["events_time_weighted_avg_daily"](spark, d).collect()
    assert len(out) == 1
    assert out[0]["time_weighted_avg"] == 25.0
    assert out[0]["n_points"] == 2


def test_bounce_rate_crafted(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    # u1: two events 10 min apart -> one 2-page session (no bounce);
    # u2: one event -> bounce. Rate = 1/2.
    rows = [
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, "{}"),
        (2, "2024-01-01 00:10:00", 1, "view", 1.0, "{}"),
        (3, "2024-01-01 02:00:00", 2, "view", 1.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["sessions_bounce_rate_daily"](spark, d).collect()
    assert len(out) == 1
    assert out[0]["n_sessions"] == 2
    assert out[0]["n_bounces"] == 1
    assert out[0]["bounce_rate"] == 0.5


# --------------------------------------------------------------------------
# budget selection / contrastive pairs / approx-percentile accuracy
# --------------------------------------------------------------------------


def test_budget_selection_respects_budget_and_order(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = sorted(
        QUERIES["corpus_budget_selection"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r["cum_tokens"],
    )
    assert rows
    assert rows[-1]["cum_tokens"] <= 5000
    # quality non-increasing along the greedy order
    quals = [r["quality"] for r in rows]
    assert all(a >= b for a, b in zip(quals, quals[1:]))
    # cumulative sum consistent
    total = 0
    for r in rows:
        total += r["n_tokens"]
        assert r["cum_tokens"] == total


def test_contrastive_pairs_labels_and_margin(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["emb_contrastive_pairs"](spark, sf).collect()
    assert len(out) == 20
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(sf + "/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    for r in out:
        assert labels[r["pos_id"]] == labels[r["query_id"]]
        assert labels[r["neg_id"]] != labels[r["query_id"]]
        assert abs(r["margin"] - round(r["pos_cos"] - r["neg_cos"], 6)) < 1e-9


def test_percentile_approx_accuracy_vs_exact(spark):
    """approx_percentile with accuracy=10000 must land within 1% rank
    error of the exact continuous percentile on the events values —
    the sketch operators' serving-layer accuracy contract."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").where(
        F.col("value").isNotNull()
    )
    got = ev.agg(
        F.percentile_approx("value", 0.95, 10000).alias("approx"),
        F.expr("percentile(value, 0.95)").alias("exact"),
    ).collect()[0]
    vals = sorted(r["value"] for r in ev.select("value").collect())
    import bisect

    rank_approx = bisect.bisect_left(vals, got["approx"]) / len(vals)
    assert abs(rank_approx - 0.95) < 0.01


# --------------------------------------------------------------------------
# balanced sampling / OHLC / sliding chunks
# --------------------------------------------------------------------------


def test_balanced_sample_per_class_quota(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["emb_balanced_sample"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    per = {}
    for r in rows:
        per.setdefault(r["label"], set()).add(r["vec_id"])
    assert all(len(v) <= 20 for v in per.values())
    # determinism across invocations
    again = {
        (r["label"], r["vec_id"])
        for r in QUERIES["emb_balanced_sample"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert again == {(r["label"], r["vec_id"]) for r in rows}


def test_ohlc_crafted(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = [
        (1, "2024-01-01 00:05:00", 1, "view", 10.0, "{}"),
        (2, "2024-01-01 00:10:00", 1, "view", 99.0, "{}"),
        (3, "2024-01-01 00:20:00", 1, "view", 5.0, "{}"),
        (4, "2024-01-01 00:40:00", 1, "view", 42.0, "{}"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "events.parquet"))
        out = QUERIES["events_ohlc_hourly"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["open"], r["high"], r["low"], r["close"]) == (
        10.0,
        99.0,
        5.0,
        42.0,
    )


def test_sliding_chunks_cover_and_overlap(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["text_sliding_chunks"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        toks = docs[doc_id].split(" ")
        chunks.sort(key=lambda r: r["chunk_idx"])
        # every chunk is the exact token slice it claims to be
        for c in chunks:
            lo = c["start_tok"]
            assert c["chunk_text"] == " ".join(toks[lo : lo + 32])
        # full coverage: last chunk reaches the final token
        last = chunks[-1]
        assert last["start_tok"] + last["chunk_tokens"] >= len(toks)


# --------------------------------------------------------------------------
# triangle counting / shipping delay
# --------------------------------------------------------------------------


def test_triangles_crafted_graph(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    # orders as baskets: {1,2,3} x2 -> edges (1,2),(1,3),(2,3) each
    # support 2 => one triangle; basket {4,5} x2 -> one edge, no tri.
    rows = []
    oid = 0
    for _ in range(2):
        oid += 1
        for p in (1, 2, 3):
            rows.append((oid, p))
    for _ in range(2):
        oid += 1
        for p in (4, 5):
            rows.append((oid, p))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        out = QUERIES["basket_graph_triangles"](spark, d).collect()
    assert out[0]["n_edges"] == 4
    assert out[0]["n_triangles"] == 1


def test_shipping_delay_nonnegative_and_total(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["orders_shipping_delay_stats"](spark, sf).collect()
    li = spark.read.parquet(sf + "/lineitem.parquet")
    assert sum(r["n_lineitems"] for r in rows) == li.count()
    for r in rows:
        assert r["avg_delay_days"] >= 0
        assert r["median_delay_days"] <= r["max_delay_days"]


def test_equidepth_buckets_balanced_and_ordered(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_value_equidepth"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, bs in by_type.items():
        bs.sort(key=lambda r: r["bucket"])
        assert [r["bucket"] for r in bs] == list(range(len(bs)))
        total = sum(r["n"] for r in bs)
        # equi-depth: every bucket within 2x of the ideal share
        for r in bs:
            assert r["n"] <= 2 * total / len(bs) + 1
        # bucket ranges strictly ordered
        for a, b in zip(bs, bs[1:]):
            assert a["hi"] <= b["lo"]


def test_cohort_ltv_monotone_cumulative(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["orders_cohort_ltv"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_p"], []).append(r)
    for c, rs in by_cohort.items():
        rs.sort(key=lambda r: r["period_offset"])
        assert rs[0]["period_offset"] == 0  # cohort defined by first order
        vals = [r["cum_revenue"] for r in rs]
        assert all(a <= b for a, b in zip(vals, vals[1:]))


# --------------------------------------------------------------------------
# SLO monitor / new-vs-returning / mix drift / full pipeline
# --------------------------------------------------------------------------


def test_error_slo_flag_consistent(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_error_slo_5m"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    for r in rows:
        assert r["slo_breach"] == (r["n_errors"] / r["n_events"] > 0.05)
        assert 0.0 <= r["error_rate"] <= 1.0


def test_new_vs_returning_conservation(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        QUERIES["events_new_vs_returning"](spark, sf).collect(),
        key=lambda r: r["day_ms"],
    )
    ev = spark.read.parquet(sf + "/events.parquet")
    total_users = ev.select("user_id").distinct().count()
    # every user is new exactly once
    assert sum(r["new_users"] for r in rows) == total_users
    # day 1 has no returning users
    assert rows[0]["returning_users"] == 0


def test_priority_mix_drift_bounds(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["orders_priority_mix_drift"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["l1_shift"] <= 2.0  # L1 between distributions


def test_full_pipeline_composition_consistent(spark):
    """The capstone pipeline's budget stage must agree with its own
    components: every selected doc survived dedup (unique cleaned
    text), is under budget, and quality is the TTR of the CLEANED
    text."""
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["pipeline_curation_full"](spark, sf).collect()
    assert rows
    assert max(r["cum_tokens"] for r in rows) <= 3000
    quals = sorted((r["quality"], -r["doc_id"]) for r in rows)
    # greedy order: qualities non-increasing along cum_tokens order
    by_cum = sorted(rows, key=lambda r: r["cum_tokens"])
    qs = [r["quality"] for r in by_cum]
    assert all(a >= b for a, b in zip(qs, qs[1:]))


def test_user_streaks_crafted(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    # user 1: days 1,2,3 then 7 -> streaks [3, 1]; user 2: day 5 only.
    rows, eid = [], 0
    for day in (1, 2, 3, 7):
        eid += 1
        rows.append((eid, f"2024-01-0{day} 10:00:00", 1, "view", 1.0, "{}"))
    rows.append((99, "2024-01-05 10:00:00", 2, "view", 1.0, "{}"))
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "events.parquet"))
        out = {
            r["user_id"]: r
            for r in QUERIES["events_user_streaks"](spark, d).collect()
        }
    assert out["1"]["longest_streak"] == 3
    assert out["1"]["n_streaks"] == 2
    assert out["1"]["n_active_days"] == 4
    assert out["2"]["longest_streak"] == 1


def test_zipf_fit_negative_slope(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    out = QUERIES["docs_zipf_fit"](spark, "/root/testdata/sf0.001").collect()
    r = out[0]
    assert r["zipf_slope"] < 0  # frequency decreases with rank
    assert 0.0 <= r["r2"] <= 1.0
    assert r["vocab_size"] > 0


def test_cluster_sizes_consistent_with_components(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    sizes = QUERIES["dedup_cluster_sizes"](spark, sf).collect()
    comps = QUERIES["dedup_connected_components"](spark, sf).collect()
    assert sum(r["n_docs"] for r in sizes) == len(comps)
    assert sum(r["n_clusters"] for r in sizes) == len(
        {r["component"] for r in comps}
    )


def test_weekly_engagement_bounds(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_weekly_engagement_histogram"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    for r in rows:
        assert 1 <= r["days_active"] <= 7


def test_interpurchase_gap_sanity(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["orders_interpurchase_time"](spark, sf).collect()
    orders = spark.read.parquet(sf + "/orders.parquet")
    n_orders = orders.count()
    n_cust = orders.select("o_custkey").distinct().count()
    # gaps = orders - customers (one fewer gap than orders per customer)
    assert sum(r["n_gaps"] for r in rows) == n_orders - n_cust
    for r in rows[:100]:
        assert r["avg_gap_days"] >= 0 and r["median_gap_days"] >= 0


def test_multimodal_dedup_counts(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["multimodal_dedup_digest"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    # doubled corpus of unique texts: every digest has exactly 2 copies
    assert all(r["n_copies"] == 2 for r in rows)
    assert len(rows) == 500


def test_survival_curve_monotone(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = sorted(
        QUERIES["events_survival_curve"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r["day_n"],
    )
    assert rows[0]["survival_rate"] == 1.0  # everyone survives day 0
    rates = [r["survival_rate"] for r in rows]
    assert all(a >= b for a, b in zip(rates, rates[1:]))


def test_pmi_top_pairs_support(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["docs_pmi_collocations"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20
    assert all(r["nab"] >= 5 for r in rows)
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_emb_outliers_rate_and_zscores(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["emb_outlier_detection"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 500
    n_out = sum(1 for r in rows if r["is_outlier"])
    # z-flag at |z|>2: a small minority flags, never the majority
    assert 0 < n_out < len(rows) * 0.2
    for r in rows[:200]:
        assert r["is_outlier"] == (abs(r["z"]) > 2.0)


def test_seasonal_index_weighted_mean_one(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["orders_seasonal_index"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 12
    # n_years-weighted mean of the index is exactly 1 by construction
    num = sum(r["seasonal_index"] * r["n_years"] for r in rows)
    den = sum(r["n_years"] for r in rows)
    assert abs(num / den - 1.0) < 1e-4


def test_hhi_bounds(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["suppliers_nation_hhi"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    for r in rows:
        assert 1.0 / r["n_suppliers"] - 1e-9 <= r["hhi"] <= 1.0


def test_abc_partition_and_shares(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = {r["abc"]: r for r in QUERIES[
        "customers_abc_classification"](spark, sf).collect()}
    assert set(rows) == {"A", "B", "C"}
    n_cust = (
        spark.read.parquet(sf + "/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows.values()) == n_cust
    assert abs(sum(r["revenue_share"] for r in rows.values()) - 1.0) < 1e-4
    # A holds the most revenue with the fewest-or-equal customers
    assert rows["A"]["revenue_share"] >= rows["B"]["revenue_share"]


def test_burstiness_uniform_token_low_fano(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    # "u" appears exactly 10x in every doc -> zero variance -> fano 0;
    # "b" is bursty: 100x in half the docs, absent elsewhere.
    rows = []
    for d in range(20):
        text = " ".join(["u"] * 10 + (["b"] * 100 if d % 2 == 0 else []))
        rows.append((d, text, "en", "s0", len(text)))
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(
            os.path.join(tmp, "documents.parquet")
        )
        out = {
            r["tok"]: r
            for r in QUERIES["text_token_burstiness"](spark, tmp).collect()
        }
    assert out["u"]["fano"] == 0.0
    assert out["b"]["fano"] > 10.0


def test_js_divergence_bounds_and_identity(spark):
    import os
    import tempfile

    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["docs_js_divergence_by_source"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    for r in rows:
        assert 0.0 <= r["js_div"] <= math.log(2) + 1e-9
    # identical sources -> zero divergence
    with tempfile.TemporaryDirectory() as d:
        data = [
            (i, "a b c", "en", f"s{i % 2}", 5) for i in range(10)
        ]
        spark.createDataFrame(
            data,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        out = QUERIES["docs_js_divergence_by_source"](spark, d).collect()
        assert all(r["js_div"] == 0.0 for r in out)


def test_type_correlation_bounds_and_pairs(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["events_type_correlation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    types = set()
    for r in rows:
        assert -1.0 - 1e-9 <= r["pearson_r"] <= 1.0 + 1e-9
        assert r["type_a"] < r["type_b"]
        types.update((r["type_a"], r["type_b"]))
    n = len(types)
    assert len(rows) == n * (n - 1) // 2


def test_price_elasticity_r2_bounds(spark):
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["parts_price_elasticity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["r2"] <= 1.0
        assert r["n_lineitems"] > 0

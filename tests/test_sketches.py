"""Mergeable HLL sketch rollups: accuracy + union losslessness."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators.sketches import (
    hll_minute_sketches,
    hll_rollup_hour,
)
from realtime_analytics_pipeline_spark.sources.batch import load_events

from tests.conftest import SF_SMOKE


def test_hourly_estimates_close_to_exact(spark):
    ev = load_events(spark, SF_SMOKE)
    got = {
        (r.hour_ms, r.event_type): (r.event_count, r.approx_users)
        for r in hll_rollup_hour(hll_minute_sketches(ev)).collect()
    }
    hour_ms = (
        (F.unix_millis("event_time") / F.lit(3600000)).cast("long")
        * F.lit(3600000)
    ).alias("hour_ms")
    exact = {
        (r.hour_ms, r.event_type): (r.cnt, r.users)
        for r in ev.select(hour_ms, "event_type", "user_id")
        .groupBy("hour_ms", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("user_id").alias("users"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for k, (cnt, approx) in got.items():
        exact_cnt, exact_users = exact[k]
        assert cnt == exact_cnt  # counts are exact (plain sum)
        # lgConfigK=12 → relative standard error ~1.6%; generous 10%
        # bound still catches a broken sketch outright
        assert abs(approx - exact_users) <= max(1, 0.10 * exact_users)


def test_union_is_lossless_vs_direct_sketch(spark):
    """Unioning per-minute sketches must estimate IDENTICALLY to one
    sketch built directly over the hour — HLL union is lossless at
    equal lgConfigK (this is what makes pre-aggregated sketch cells
    trustworthy for serving)."""
    ev = load_events(spark, SF_SMOKE)
    unioned = hll_rollup_hour(hll_minute_sketches(ev)).select(
        "hour_ms", "event_type", "approx_users"
    )
    hour_ms = (
        (F.unix_millis("event_time") / F.lit(3600000)).cast("long")
        * F.lit(3600000)
    ).alias("hour_ms")
    direct = (
        ev.select(hour_ms, "event_type", "user_id")
        .groupBy("hour_ms", "event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("approx_users")
        )
    )
    assert unioned.exceptAll(direct).count() == 0
    assert direct.exceptAll(unioned).count() == 0


def test_count_min_overestimates_and_bounds(spark):
    """CM sketch invariants over the bigram stream: every estimate
    >= the true count (never under), and the overestimate is bounded
    by the structural guarantee est <= true + N/width (expectation;
    depth=4 makes the per-key bound overwhelmingly safe at this N)."""
    from realtime_analytics_pipeline_spark.operators.sketches import (
        cm_build,
        cm_estimate,
    )
    from realtime_analytics_pipeline_spark.sources.batch import load_table
    from realtime_analytics_pipeline_spark.functions.text import tokens

    docs = load_table(spark, SF_SMOKE, "documents")
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(tokens("text"), 1, F.size(tokens("text")) - 1),
                F.slice(tokens("text"), 2, F.size(tokens("text")) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bg")
    )
    W = 256
    sketch = cm_build(bigrams, "bg", depth=4, width=W)
    est = {
        r.bg: r.est_count
        for r in cm_estimate(sketch, bigrams, "bg", depth=4, width=W).collect()
    }
    true = {
        r.bg: r.c
        for r in bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_total = sum(true.values())
    assert set(est) == set(true)
    over = 0
    for k, t in true.items():
        assert est[k] >= t, f"CM must never underestimate ({k})"
        assert est[k] <= t + 8 * n_total // W, "overestimate out of bound"
        over += est[k] - t
    # sketch must be non-trivial: some collisions expected at this width
    assert len(true) > W, "test corpus must stress the sketch"


def test_count_min_sketches_merge_by_summing(spark):
    """Mergeability: sketch(A) + sketch(B) bucket-wise equals
    sketch(A ∪ B) exactly — the property that makes per-day sketch
    cells roll up without raw re-scans."""
    from realtime_analytics_pipeline_spark.operators.sketches import cm_build
    from realtime_analytics_pipeline_spark.sources.batch import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    a = docs.where("doc_id % 2 = 0").select(F.col("source").alias("s"))
    b = docs.where("doc_id % 2 = 1").select(F.col("source").alias("s"))
    u = docs.select(F.col("source").alias("s"))
    merged = (
        cm_build(a, "s").union(cm_build(b, "s"))
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = cm_build(u, "s")
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_sliding_users_hll_accuracy_and_coverage(spark):
    """Pane-union HLL sliding estimates: same window set as the exact
    sliding distinct, every estimate within 5% of truth at this
    cardinality (HLL lgk=12 rse ~1.6%)."""
    from realtime_analytics_pipeline_spark.operators.sketches import (
        sliding_users_paned_hll,
    )
    from realtime_analytics_pipeline_spark.sources.batch import load_events

    ev = load_events(spark, SF_SMOKE)
    exact = {
        (r["window_start_ms"], r["event_type"]): r["users"]
        for r in ev.groupBy(
            F.window("event_time", "300 seconds", "60 seconds").alias("w"),
            "event_type",
        )
        .agg(F.count_distinct("user_id").alias("users"))
        .select(
            F.unix_millis("w.start").alias("window_start_ms"),
            "event_type",
            "users",
        )
        .collect()
    }
    approx = {
        (r["window_start_ms"], r["event_type"]): r["approx_users"]
        for r in sliding_users_paned_hll(ev).collect()
    }
    assert set(approx) == set(exact)
    for key, est in approx.items():
        truth = exact[key]
        assert abs(est - truth) <= max(1, 0.05 * truth), (key, est, truth)


def test_kmv_estimates_and_intersection(spark):
    """KMV sketches: the intersection estimate is within 20% of truth
    at k=256 (or exact when the union fits in the sketch)."""
    from realtime_analytics_pipeline_spark.operators.sketches import (
        kmv_intersection_estimate,
        kmv_sketches,
    )

    ev = load_events(spark, SF_SMOKE)
    sk = kmv_sketches(ev, k=256).localCheckpoint()
    both_exact = (
        ev.where("event_type = 'view'")
        .select("user_id")
        .distinct()
        .intersect(
            ev.where("event_type = 'purchase'").select("user_id").distinct()
        )
        .count()
    )
    est = kmv_intersection_estimate(sk, "view", "purchase", k=256).collect()[
        0
    ]["est_overlap"]
    assert abs(est - both_exact) <= max(3, 0.2 * both_exact), (
        est,
        both_exact,
    )


def test_p95_histogram_sketch_bounds_exact_percentile(spark):
    """The histogram-sketch p95 upper edge must sit at most one bin
    width (0.5) above the exact hourly p95 and never below it."""
    from realtime_analytics_pipeline_spark.registry import QUERIES

    sketch = {
        (r.event_type, r.hour_ms): (r.n_events, r.p95_upper)
        for r in QUERIES["value_p95_sketch_rollup_1h"](
            spark, SF_SMOKE
        ).collect()
    }
    ev = load_events(spark, SF_SMOKE)
    hour_ms = (
        (F.unix_millis("event_time") / F.lit(3600000)).cast("long")
        * F.lit(3600000)
    ).alias("hour_ms")
    exact = {
        (r.event_type, r.hour_ms): (r.n, r.p95)
        for r in ev.select("event_type", hour_ms, "value")
        .groupBy("event_type", "hour_ms")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(sketch) == set(exact)
    for k, (n, upper) in sketch.items():
        exact_n, exact_p95 = exact[k]
        assert n == exact_n  # counts ride along exactly
        # nearest-rank p95 lands inside the chosen bin; the continuous
        # interpolated percentile can only be <= that bin's upper edge
        # and > upper - 0.5 - (interpolation within one sample gap)
        assert upper >= exact_p95 - 1e-9
        assert upper - exact_p95 <= 0.5 + 1e-9 or n < 20

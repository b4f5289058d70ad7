"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE SHORT JSON line (~200 bytes — the driver tail-captures
stdout and anything KB-sized gets truncated; see VERDICT r03/r04):
{"metric": "total_query_wall_sec", "value": N, "unit": "sec",
 "n_queries": K, "reps": 3, "contended": C,
 "streaming_events_per_sec": R, "calib_sec": S,
 "stream_calib_sec": T, "sf": 0.1, "detail": "BENCH_LOCAL.json"}

`calib_sec` is a fixed-work pure-CPU probe (64M-row hash-agg over
spark.range, no data dependence) — compare it across BENCH_r{N}.json
FIRST: if calib drifted, the query medians drifted with the machine,
not the code. `stream_calib_sec` is the micro-batch-machinery twin
(fixed 8-batch watermarked replay, round-10): compare it before
reading streaming-query trends — the CPU probe cannot see scheduler/
commit-log drift. Streaming queries run 5 reps and all temp state
(checkpoints, handoffs, spill) lives on tmpfs, so the medians measure
the engine rather than the VM's disk queue.

The FULL payload — per-query medians, min/max spread, contended-query
names — is written to BENCH_LOCAL.json (committed) on every run.

Each query materializes fully through the noop sink (no driver
collect, no result truncation — times the whole distributed plan).
Every query runs $SPARK_GRAFT_BENCH_REPS times (default 3); queries
whose run spread exceeds 3x AND 0.5 s get 2 extra reps (median over
5 — machine-contention defense). This VM has documented 2-4x
run-to-run wall-clock noise, so single-shot numbers are not
comparable across rounds.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from realtime_analytics_pipeline_spark.operators.observability import (  # noqa: E402
    run_query,
    warm_up,
)
from realtime_analytics_pipeline_spark.session import (  # noqa: E402
    SESSION_MEMO,
    get_spark,
)

# Headline set: every operator family, excluding the O(n²)-by-design
# exact-pair verifiers (jaccard/embedding all-pairs run in the
# correctness gate at sf0.01; the LSH variants are the scale path
# benchmarked here).
HEADLINE = [
    "event_metrics_1m",
    "streaming_event_metrics",  # full streaming pipeline, append mode
    "streaming_session_metrics",  # streaming session windows, append mode
    "performance_metrics_5m",
    "session_metrics",
    "serving_event_pivot",
    "events_sliding_window_5m1m",
    "events_sliding_window_paned",  # same results, pane-sized shuffle
    "asof_purchase_attribution",
    "event_type_daily_rollup",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q12_shipmode_priority",
    "tpch_q17_small_quantity",
    "top_customers_per_nation",
    "dedup_exact",
    "dedup_minhash_lsh_3gram",
    "dedup_simhash",
    "dedup_jaccard_prefix_filtered",  # round-8: prefix-filtered exact
    "dedup_duplicate_spans",  # round-8: ExactSubstr positional spans
    "users_activity_similarity_blas",  # round-8: uncapped gemm top-10
    "sim_cosine_topk",
    "sim_cosine_topk_blas",
    "dedup_embedding_cosine_blas",
    "sim_ann_lsh_topk",
    "text_stats",
    "text_quality_scores",
    "text_source_rollup",
    "multimodal_metadata",
    "sample_docs_stratified",
    "pipeline_quality_dedup_sample",
    # round-3 late additions
    "streaming_stateful_sessions",  # custom stateful op vs native above
    "streaming_exact_dedup",  # at-least-once dedup, 2x delivery
    "tpch_q13_order_distribution",
    "tpch_q18_large_volume",
    "text_gopher_flags",
    "emb_quantize_int8",
    "decontaminate_eval_overlap",
    "heavy_hitters_cms",
    "funnel_view_click_purchase",
    "customer_spend_scd2",
    "value_drift_daily",
    # round-3 continuation
    "text_pii_redaction",  # map-only regex scrub
    "text_tfidf_top_terms",
    "dedup_semantic_clustered",  # k-means-cell-bounded candidates
    "events_cohort_retention",
    "events_value_mad_outliers",
    "sample_docs_quota",
    # round-3 second continuation
    "text_dup_ngram_fraction",  # inverted-index substring dedup signal
    "text_unigram_logprob",  # corpus-trained LM quality scoring
    "sim_mmr_rerank",  # Arrow-path diversity selection
    "events_distinct_users_bitmap",  # mergeable exact distinct
    "streaming_daily_users_bitmap",  # same, as a streaming job
    "sessions_max_concurrency_daily",  # interval sweep
    "basket_rules_lift",
    "attribution_linear_credit",
    "events_decayed_engagement",
    "docs_length_ks_by_source",
    # this session: completed TPC-H matrix + mergeable quantiles
    "tpch_q2_min_cost_supplier",
    "tpch_q21_sole_blamed_supplier",
    "value_p95_sketch_rollup_1h",
    # custom Python Data Source: pushed-filter scan through the
    # Arrow-batched Python reader (connector-boundary cost made visible)
    "pyds_feed_scan",
    # fifth-continuation analytics
    "text_repetition_metrics",  # map-only higher-order repetition pass
    "users_activity_similarity",  # day-bucket inverted-index TS cosine
    "emb_truncated_recall",  # Matryoshka overlap@5, broadcast queries
    "orders_holt_forecast",  # sequential fold per series
    "events_cep_pattern",  # sequence-regex CEP
    "text_bigram_logprob",  # contextual LM scoring
    "docs_rake_phrases",  # phrase extraction, integer scoring
    "events_ab_cuped",  # experimentation: variance-reduced readout
    # round-4 connector path (real JDBC hop; the streaming upsert and
    # keyed feed roundtrips share the same boundary costs and are
    # covered by the gate + their contract tests)
    "jdbc_metrics_roundtrip",  # parallel JDBC write + partitioned read
    # round-4 fingerprinting scale path (MOSS winnowing, Arrow kernel)
    "docs_winnowing_fingerprints_kernel",
    # round-6 additions: retrieval scoring, broadcast-Bloom prescreen,
    # corpus novelty, distributed CUSUM
    "docs_tfidf_top_terms",
    "docs_bm25_topk",
    "dedup_bloom_prescreen",
    "docs_ngram_novelty",
    "events_cusum_drift",
    "streaming_cusum_drift",  # stateful online twin, full replay
    "events_seasonal_anomaly",
    "emb_knn_label_accuracy",
    # round-9: two-phase skew-resilient sessionization (hot session_id
    # spreads over time buckets; exact twin of session_metrics)
    "session_metrics_bucketed",
    # round-10: the production dedup path on a realistic (~3% planted
    # dups) corpus — linear output, unlike the template-heavy driver
    # corpus the capped verifiers run on
    "dedup_jaccard_prefix_bounded",
    # round-10 second block: record linkage (composite-key blocking),
    # LPA communities, epoch shuffle, BPE Arrow-kernel tokenization
    "customers_record_linkage_multipass",
    "customers_record_linkage_em",
    "customers_blocking_quality",
    "basket_graph_communities_lpa",
    "docs_epoch_shuffle",
    "text_bpe_encode_tokens_kernel",
    "sample_docs_reservoir_weighted",
    # round-11: the fold spec joins the headliners now that the
    # inferred-generator-guard pushdown is fixed (130 s -> 1.3 s at
    # the sf1 slice — at parity with its kernel twin); plus the
    # training-mixture family and the generalized blocking audit
    "text_bpe_encode_tokens",
    "docs_lsh_blocking_quality",
    "sample_docs_temperature_mix",
    "split_docs_group_aware",
    "docs_token_budget_apportionment",
    "docs_curriculum_order",
    "split_docs_dedup_aware",
    "tpch_q22_recent_idle_customers",
    "multimodal_image_channel_stats",
    "docs_lsh_recall_audit",
    "dedup_keep_best_survivors",
    # round-12: incremental near-dup dedup (band the new batch,
    # key-join the persisted corpus band buckets, verify batch-side),
    # incremental component assignment (shares the bounded-CC memo
    # with split_docs_dedup_aware / keep_best — the pair scan is paid
    # once for the trio), and the real audio/video decode paths
    "dedup_incremental_minhash",
    "dedup_incremental_components",
    "multimodal_audio_channel_stats",
    "multimodal_video_frame_stats",
    # round-13: the persisted-bucket-store incremental path — rep 1
    # builds the store, min-of-reps reports the warm daily shape (the
    # production per-increment cost; the in-plan row above is the
    # bootstrap shape)
    "dedup_incremental_minhash_stored",
]


def open_session(app_name: str):
    """``get_spark`` with every temp file of the run on tmpfs.

    Streaming-jitter defense (VERDICT r09 "what's wrong" #2): the
    streaming replays are micro-batch-machinery-bound, and every
    trigger cycle fsyncs offset/commit logs to the checkpoint dir. On
    a contended ext4 /tmp, fsync latency produced 28% same-HEAD swings
    in streaming_events_per_sec. All temp state (streaming
    checkpoints, parquet handoffs, shuffle spill dirs) goes to tmpfs,
    so the run measures the engine, not the disk queue. A real cluster
    checkpoints to fast local disks / object-store writers; sf0.1
    state is MBs.
    """
    shm_tmp = None
    if os.path.isdir("/dev/shm"):
        import atexit
        import shutil
        import tempfile

        shm_tmp = f"/dev/shm/{app_name}_tmp"
        shutil.rmtree(shm_tmp, ignore_errors=True)
        os.makedirs(shm_tmp, exist_ok=True)
        # tmpfs is RAM: the run's temp state goes when the process does
        atexit.register(shutil.rmtree, shm_tmp, ignore_errors=True)
        os.environ["TMPDIR"] = shm_tmp
        os.environ.setdefault("SPARK_LOCAL_DIRS", shm_tmp)
        tempfile.tempdir = None  # drop the cached tempdir choice
    spark = get_spark(app_name)
    if shm_tmp is not None:
        # queries without an explicit checkpointLocation (memory-sink
        # replays) otherwise checkpoint under java.io.tmpdir on disk
        spark.conf.set(
            "spark.sql.streaming.checkpointLocation",
            os.path.join(shm_tmp, "ckpt"),
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = open_session("rtap-spark-bench")
    warm_up(spark)

    # Machine-drift calibration (VERDICT r06 item 4): this VM shows
    # 2-4x wall-clock noise round-to-round, and r06's uniform +28%
    # cost a worktree bisect to exonerate. A fixed-work, data-free,
    # pure-CPU probe — 64M-row hash-agg over spark.range, identical
    # every round — turns "is the machine slow today?" into a
    # one-line read: compare calib_sec across BENCH_r{N}.json before
    # comparing query medians. Runs AFTER warmup so it measures
    # steady-state JVM throughput, not bring-up.
    def calib_run() -> float:
        t0 = time.time()
        # pmod bounds each summed value to <2^20, so the per-group sum
        # stays <2^46 — summing raw xxhash64 overflowed BIGINT under
        # Spark 4's ANSI default and crashed BENCH_r07 before any query
        # was timed (VERDICT r07 item 1). Hash work per row is unchanged.
        spark.range(0, 64_000_000, 1, 32).selectExpr(
            "id % 1048576 AS k", "pmod(xxhash64(id), 1048576) AS h"
        ).groupBy("k").agg({"h": "sum", "k": "count"}).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    calib_sec = round(statistics.median(calib_run() for _ in range(3)), 3)
    print(f"  calibration probe: {calib_sec:.2f}s", file=sys.stderr)

    # Streaming-machinery calibration (VERDICT r09 item 2): the CPU
    # probe above cannot see micro-batch scheduling/commit-log costs,
    # which dominate the streaming replays. This probe replays a FIXED
    # synthetic 400k-row / 8-file source (written fresh each run, so
    # the batch count is pinned at 8 by maxFilesPerTrigger=1) through
    # a watermarked tumbling count into a noop sink. The 7-day
    # watermark delay makes the work identical regardless of the
    # file-mtime batch order. Compare stream_calib_sec across
    # BENCH_r{N}.json before reading streaming-query trends.
    import tempfile as _tf

    calib_src = os.path.join(_tf.mkdtemp(prefix="stream_calib_"), "src")
    spark.range(0, 400_000, 1, 8).selectExpr(
        "CAST(id AS STRING) AS event_id",
        "timestamp_micros(1704067200000000 + id * 100000) AS event_time",
        "CAST(id % 997 AS STRING) AS user_id",
    ).write.mode("overwrite").parquet(calib_src)
    calib_schema = spark.read.parquet(calib_src).schema

    def stream_calib_run() -> float:
        t0 = time.time()
        src = (
            spark.readStream.schema(calib_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(calib_src)
            .withWatermark("event_time", "7 days")
        )
        agg = src.groupBy(
            F.window("event_time", "60 seconds"), "user_id"
        ).count()
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", _tf.mkdtemp(prefix="sc_ck_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return time.time() - t0

    stream_calib_sec = round(
        statistics.median(stream_calib_run() for _ in range(3)), 3
    )
    print(f"  stream calibration probe: {stream_calib_sec:.2f}s", file=sys.stderr)

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    contended: list[str] = []
    # Cold-vs-warm honesty (VERDICT r13 item 1): a few queries share
    # session-memoized intermediates (bounded-CC pairs, md5 corpus
    # signatures, k-means cells). Each timed rep runs in its own memo
    # epoch (run_query), so it rebuilds everything it consumes inside
    # its own timed region: the reported median is the honest COLD
    # per-query cost. Queries that did build a memo get ONE warm
    # (memo-hit) rep, reported separately in BENCH_LOCAL's
    # queries_warm — the shared-index production shape, measured
    # instead of silently blended in.
    warm: dict[str, float] = {}
    rep_seq = 0
    for name in HEADLINE:
        builds_before = SESSION_MEMO.build_count()

        def one_run(cold: bool = True) -> float:
            nonlocal rep_seq
            rep_seq += 1
            epoch = f"bench:{rep_seq}" if cold else ""
            run = run_query(spark, name, sf_dir, epoch)
            return run.build_s + run.exec_s

        # streaming replays are micro-batch-machinery-bound (higher
        # variance class than CPU-bound queries, VERDICT r09): give
        # their medians a 5-sample base instead of 3
        n_reps = max(reps, 5) if name.startswith("streaming_") else reps
        runs = [one_run() for _ in range(n_reps)]
        # contention defense (VERDICT r04: driver bench ran on a busy
        # machine and 3 medians drifted out of envelope): a >3x run
        # spread that is also >0.5 s absolute means at least one rep
        # hit machine noise — take 2 extra reps so the median has a
        # majority of clean samples
        if max(runs) / max(min(runs), 1e-9) > 3.0 and max(runs) - min(runs) > 0.5:
            runs += [one_run(), one_run()]
            contended.append(name)
        # sub-second queries are contention-noise dominated (VERDICT
        # r05: session_metrics 0.37→0.66 s on a contended run never
        # trips the absolute-spread gate) — 2 extra cheap reps give the
        # median a majority of clean samples at ~1 s total cost
        elif min(runs) < 1.0 and max(runs) > 1.5 * min(runs):
            runs += [one_run(), one_run()]
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = [round(min(runs), 3), round(max(runs), 3)]
        warm_note = ""
        if SESSION_MEMO.build_count() > builds_before:
            # this query built at least one shared intermediate during
            # its cold reps: fill the default epoch's memo, then time
            # one rep that reads it
            one_run(cold=False)
            warm[name] = round(one_run(cold=False), 3)
            warm_note = f" warm {warm[name]:.2f}s"
        print(
            f"  {name}: median {timings[name]:.2f}s "
            f"[{spread[name][0]:.2f}, {spread[name][1]:.2f}] "
            f"x{len(runs)}{warm_note}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # noise-floor total: VM noise is strictly ADDITIVE, so the sum of
    # per-query minima is the robust cross-round code-regression
    # signal — a sustained steal burst (observed 2x on streaming
    # medians with calib_sec flat) inflates medians but rarely all
    # reps of all queries (round-10)
    total_min = round(sum(v[0] for v in spread.values()), 3)
    # calib-normalized trend line (VERDICT r11 item 7): scale the
    # min-sum by the CPU probe's drift against the pinned r11 clean
    # anchor (calib_sec 1.915), so cross-round comparisons stop
    # requiring hand arithmetic. Machine slower => calib up => the
    # normalized sum credits it back; code regressions survive the
    # normalization because calib is code-independent.
    CALIB_REF_SEC = 1.915
    calib_normalized_min_sum = (
        round(total_min * CALIB_REF_SEC / calib_sec, 3)
        if calib_sec
        else None
    )
    # reference envelope is RPS-denominated (1000 events/s design,
    # BASELINE.md): express the full streaming replay as events/s too
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    stream_sec = timings.get("streaming_event_metrics")
    events_per_sec = (
        round(n_events / stream_sec) if stream_sec else None
    )
    payload = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "total_min_sec": total_min,
        "calib_normalized_min_sum": calib_normalized_min_sum,
        "reps": reps,
        "contended": contended,
        "streaming_events_per_sec": events_per_sec,
        "calib_sec": calib_sec,
        "stream_calib_sec": stream_calib_sec,
        "sf": sf,
    }
    # The driver tail-captures stdout and ~5.6 KB lines got truncated
    # TWICE (BENCH_r03/r04 parsed: null — the capture window starts
    # mid-dict). Defense in depth, per VERDICT r04 item 2: stdout gets
    # a SHORT headline line only (~200 bytes — no per-query dict);
    # the full payload including per-query medians and min/max spread
    # lives in BENCH_LOCAL.json, committed for provenance.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # queries_warm: one memo-hit rep for each query whose cold reps
    # built a shared intermediate (see the epoch comment above) — the
    # warm half of the cold/warm schema VERDICT r13 item 1 asked for.
    local_payload = {**payload, "queries_warm": warm, "spread": spread}
    with open(os.path.join(repo_dir, "BENCH_LOCAL.json"), "w") as f:
        json.dump(local_payload, f)
    # Per-round snapshot (VERDICT r13 item 2): BENCH_LOCAL.json is
    # overwritten by every run (the driver's low-core scaling run
    # clobbered the r13 32-core detail), which left PERF's per_query
    # diff empty two rounds running. Also write the detail to a
    # round-numbered file — the next round in progress is
    # 1 + max(committed BENCH_r{N}.json) — so per-query medians
    # survive for the driver's round-over-round comparison.
    # The name carries the engine core count, so runs at different
    # core counts in one round keep their own files.
    rounds = [
        int(m.group(1))
        for f_name in os.listdir(repo_dir)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f_name))
    ]
    snap = (
        f"BENCH_LOCAL_r{(max(rounds) + 1) if rounds else 0}"
        f"_c{spark.sparkContext.defaultParallelism}.json"
    )
    with open(os.path.join(repo_dir, snap), "w") as f:
        json.dump(local_payload, f)
    headline = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "total_min_sec": total_min,
        "calib_normalized_min_sum": calib_normalized_min_sum,
        "reps": reps,
        "contended": len(contended),
        "streaming_events_per_sec": events_per_sec,
        "calib_sec": calib_sec,
        "stream_calib_sec": stream_calib_sec,
        "sf": sf,
        "detail": "BENCH_LOCAL.json",
    }
    sys.stdout.flush()
    print(json.dumps(headline))
    sys.stdout.flush()


if __name__ == "__main__":
    main()

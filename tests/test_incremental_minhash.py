"""Incremental NEAR-dup dedup pins (round-12, VERDICT r11 item 3).

The production daily-increment shape: band the NEW batch, key-only
join against the EXISTING corpus's persisted band buckets, verify
candidates batch-side. The core equivalence pin: batch-vs-corpus
candidates from the incremental path equal the full-corpus LSH
candidate pairs restricted to (batch, corpus) cross pairs — banding
is per-doc, so bucketing the halves separately loses nothing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_analytics_pipeline_spark.operators import dedup as D
from realtime_analytics_pipeline_spark.registry import QUERIES
from realtime_analytics_pipeline_spark.sources.batch import load_table
from tests.conftest import SF_CORRECTNESS, SF_SMOKE


def test_incremental_candidates_match_full_lsh(spark):
    """Incremental candidates == full-corpus LSH pairs restricted to
    the batch (cross pairs only): signatures and band buckets are
    pure per-doc functions, so splitting the corpus cannot change
    which cross pairs share a bucket."""
    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.where(F.col("source") != "src0")
    batch = docs.where(F.col("source") == "src0")

    inc = set(
        (r.batch_doc_id, r.corpus_doc_id)
        for r in D.minhash_incremental_candidates(
            D.minhash_band_buckets(D.minhash_signatures(corpus)),
            D.minhash_band_buckets(D.minhash_signatures(batch)),
        ).collect()
    )

    full = D.minhash_band_buckets(D.minhash_signatures(docs))
    full_pairs = D._salted_pairs(full, ["band", "bucket"]).distinct()
    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    cross = set()
    for r in full_pairs.collect():
        a_in, b_in = r.doc_a in batch_ids, r.doc_b in batch_ids
        if a_in and not b_in:
            cross.add((r.doc_a, r.doc_b))
        elif b_in and not a_in:
            cross.add((r.doc_b, r.doc_a))
    assert inc == cross, (len(inc), len(cross))
    assert inc, "smoke corpus should produce at least one candidate"


def test_gated_incremental_minhash_invariants(spark):
    """The gated md5-twin query: one row per batch doc, integer
    invariants hold, and the verdict column is consistent with the
    verified-candidate count."""
    out = QUERIES["dedup_incremental_minhash"](
        spark, SF_CORRECTNESS
    ).collect()
    docs = load_table(spark, SF_CORRECTNESS, "documents")
    n_batch = docs.where(F.col("source") == "src0").count()
    assert len(out) == n_batch
    dups = 0
    for r in out:
        assert 0 <= r.n_verified <= r.n_candidates, r
        assert 0 <= r.best_eq <= 16, r
        if r.n_candidates > 0:
            # any shared band bucket implies >= 4 matching slots
            assert r.best_eq >= 4, r
        assert (r.verdict == "corpus_near_dup") == (r.n_verified > 0), r
        dups += r.verdict == "corpus_near_dup"
    # the synthetic corpus plants near-dup templates across sources:
    # both verdict classes must be non-vacuous at sf0.01
    assert dups > 0
    assert dups < len(out)


def test_incremental_components_partition_equals_full_cc(spark):
    """The production property that lets the daily increment skip the
    full-graph CC: (a) the incremental assignment's induced PARTITION
    of batch docs equals the full-recompute union-graph CC restricted
    to batch docs; (b) batch docs that joined an existing cluster
    carry that cluster's UNCHANGED corpus label (stability)."""
    from realtime_analytics_pipeline_spark.registry_docs import (
        _bounded_cc_labels,
    )

    assigned = {
        r.doc_id: (r.component, r.is_new_cluster)
        for r in QUERIES["dedup_incremental_components"](
            spark, SF_CORRECTNESS
        ).collect()
    }
    assert assigned, "src0 batch must be non-empty on the subgraph"
    full = {
        r.doc_id: r.component
        for r in _bounded_cc_labels(spark, SF_CORRECTNESS).collect()
    }
    docs = load_table(spark, SF_CORRECTNESS, "documents").where(
        "doc_id < 300"
    )
    batch = {r.doc_id for r in docs.where("source = 'src0'").collect()}
    assert set(assigned) == batch

    # (a) partition equality on batch docs
    def groups(labels):
        g = {}
        for d, c in labels.items():
            g.setdefault(c, set()).add(d)
        return {frozenset(v) for v in g.values()}

    inc_part = groups({d: c for d, (c, _) in assigned.items()})
    full_part = groups({d: full[d] for d in batch})
    assert inc_part == full_part

    # (b) label stability: joined-existing docs carry a corpus doc id
    corpus = {r.doc_id for r in docs.where("source <> 'src0'").collect()}
    for d, (c, is_new) in assigned.items():
        if is_new == 0:
            assert c in corpus, (d, c)
        else:
            assert c in batch and c <= d, (d, c)


def test_two_increment_ingest_equals_full_lsh(spark):
    """The persisted-bucket-store property across TWO increments: day-1
    buckets appended to the store, day-2 deduped against corpus+day-1
    — candidates must equal the full-corpus LSH cross pairs computed
    from scratch. This is the invariant that lets a 100 TB store skip
    the bootstrap forever: append-after-dedup loses nothing."""
    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.where(~F.col("source").isin("src0", "src1"))
    day1 = docs.where(F.col("source") == "src1")
    day2 = docs.where(F.col("source") == "src0")

    store0 = D.minhash_band_buckets(D.minhash_signatures(corpus))
    b1 = D.minhash_band_buckets(D.minhash_signatures(day1))
    store1 = store0.unionByName(b1)
    got = set(
        (r.batch_doc_id, r.corpus_doc_id)
        for r in D.minhash_incremental_candidates(
            store1, D.minhash_band_buckets(D.minhash_signatures(day2))
        ).collect()
    )

    # full recompute: all cross pairs (day2 x (corpus + day1))
    full = D.minhash_band_buckets(D.minhash_signatures(docs))
    day2_ids = {r.doc_id for r in day2.select("doc_id").collect()}
    day1_ids = {r.doc_id for r in day1.select("doc_id").collect()}
    want = set()
    for r in D._salted_pairs(full, ["band", "bucket"]).distinct().collect():
        a2, b2 = r.doc_a in day2_ids, r.doc_b in day2_ids
        if a2 and not b2:
            want.add((r.doc_a, r.doc_b))
        elif b2 and not a2:
            want.add((r.doc_b, r.doc_a))
    # drop day2-x-day2 (not in scope) already excluded; but the full
    # sweep also proposes day2-vs-day2 pairs — 'want' here is only
    # cross pairs, which is exactly the incremental store's scope
    assert got == want, (len(got), len(want))
    assert any(c in day1_ids for _, c in got), (
        "day-2 must hit at least one day-1 doc for the append "
        "property to be exercised"
    )


def test_stored_path_equals_inplan_and_reuses_store(spark):
    """Round-13 (VERDICT r12 item 3): the persisted-bucket-store read
    path must return EXACTLY the in-plan twin's rows (the store holds
    exactly what the twin derives), and a second call must reuse the
    on-disk store rather than rebuild it (the measured daily shape)."""
    import os

    from realtime_analytics_pipeline_spark import registry_docs as RD

    inplan = sorted(
        map(
            tuple,
            QUERIES["dedup_incremental_minhash"](
                spark, SF_CORRECTNESS
            ).collect(),
        )
    )
    stored = sorted(
        map(
            tuple,
            QUERIES["dedup_incremental_minhash_stored"](
                spark, SF_CORRECTNESS
            ).collect(),
        )
    )
    assert stored == inplan

    root = RD._minhash_bucket_store(spark, SF_CORRECTNESS)
    marker = os.path.join(root, "buckets", "_SUCCESS")
    mtime = os.stat(marker).st_mtime_ns
    # warm call: store untouched (memo + on-disk _SUCCESS reuse)
    QUERIES["dedup_incremental_minhash_stored"](
        spark, SF_CORRECTNESS
    ).count()
    assert os.stat(marker).st_mtime_ns == mtime


def test_store_invalidates_on_corpus_regeneration(spark, tmp_path):
    """The store key includes documents.parquet's mtime/size: a
    regenerated corpus must map to a DIFFERENT store root (stale
    buckets can never serve a new corpus generation)."""
    import os
    import shutil

    from realtime_analytics_pipeline_spark import registry_docs as RD

    d = str(tmp_path / "sf")
    os.makedirs(d)
    shutil.copy(
        os.path.join(SF_SMOKE, "documents.parquet"),
        os.path.join(d, "documents.parquet"),
    )
    r1 = RD._minhash_bucket_store(spark, d)
    # rewrite the file (same bytes, new mtime) = new generation
    src = os.path.join(d, "documents.parquet")
    with open(src, "rb") as f:
        payload = f.read()
    with open(src, "wb") as f:
        f.write(payload)
    os.utime(src, ns=(os.stat(src).st_atime_ns, os.stat(src).st_mtime_ns + 7))
    r2 = RD._minhash_bucket_store(spark, d)
    assert r1 != r2

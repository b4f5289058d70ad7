"""SessionMemo: shared DataFrame intermediates are built once per
(application, epoch), and a new epoch frees the previous one's
checkpoint blocks."""

from __future__ import annotations

# registry first: it imports registry_docs after the modules it needs
from realtime_analytics_pipeline_spark import registry  # noqa: F401
from realtime_analytics_pipeline_spark.registry_docs import (
    _bounded_pairs,
    _md5_corpus_sigs,
    memo_build_count,
    set_memo_epoch,
)
from tests.conftest import SF_SMOKE


def _persistent_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_epoch_change_frees_previous_entries(spark):
    try:
        set_memo_epoch("test:a")
        builds = memo_build_count()
        first = _md5_corpus_sigs(spark, SF_SMOKE)
        second = _md5_corpus_sigs(spark, SF_SMOKE)
        assert memo_build_count() == builds + 1
        assert sorted(first.collect()) == sorted(second.collect())
        rdd_id = first._jdf.queryExecution().analyzed().rdd().id()
        assert rdd_id in _persistent_ids(spark)

        set_memo_epoch("test:b")
        assert rdd_id not in _persistent_ids(spark)
        _md5_corpus_sigs(spark, SF_SMOKE)
        assert memo_build_count() == builds + 2
    finally:
        set_memo_epoch("")


def test_two_spellings_of_one_slice_build_once(spark):
    try:
        set_memo_epoch("test:spelling")
        builds = memo_build_count()
        _bounded_pairs(spark, SF_SMOKE)
        _bounded_pairs(spark, SF_SMOKE + "/")
        assert memo_build_count() == builds + 1
    finally:
        set_memo_epoch("")

"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import numpy as np
import pytest

from perfbench import checks, events
from perfbench.report import _self_late_ms
from perfbench.stats import TooFewSamples, median, percentile


# -- generator ---------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    offsets = np.arange(5000) / 300.0
    a = events.payloads(7, "live", 0, 5000, offsets)
    assert a == events.payloads(7, "live", 0, 5000, offsets)
    assert a != events.payloads(8, "live", 0, 5000, offsets)
    t = events.canonical(7, "backlog", 9000, np.arange(9000) / events.BACKLOG_RATE)
    assert t.equals(events.canonical(7, "backlog", 9000, np.arange(9000) / events.BACKLOG_RATE))


def test_generator_slices_agree_with_the_whole():
    whole = events.columns(3, "backlog", 0, 3 * events.BLOCK)
    part = events.columns(3, "backlog", events.BLOCK - 10, 50)
    for k, v in part.items():
        assert (whole[k][events.BLOCK - 10:events.BLOCK + 40] == v).all(), k


def test_generated_disorder_stays_inside_the_watermark():
    cols = events.columns(1, "live", 0, 20_000)
    assert cols["late_ms"].max() < 10_000
    assert 0 < (cols["late_ms"] > 0).mean() < 0.2
    # every event type, including the one the jobs filter out
    assert set(np.unique(cols["type"])) == set(range(len(events.EVENT_TYPES)))


def test_canonical_matches_wire_bodies():
    offsets = np.arange(100) / 300.0
    bodies = events.payloads(5, "live", 0, 100, offsets)
    assert events.canonical(5, "live", 100, offsets).equals(events.canonical_bodies(bodies))


# -- percentile helper ---------------------------------------------------------


def test_percentile_refuses_a_tail_without_ten_samples_beyond():
    with pytest.raises(TooFewSamples):
        percentile(range(99), 0.9)
    assert percentile(range(100), 0.9) == 89
    with pytest.raises(TooFewSamples):
        percentile(range(999), 0.99)
    assert percentile(range(1000), 0.99) == 989
    with pytest.raises(TooFewSamples):
        percentile([], 0.5)
    assert median([3.0, 1.0, 2.0]) == 2.0


# -- output checks -------------------------------------------------------------

W = checks.WINDOW_MS


def _live_case():
    accepted = [(0, "view", "u1"), (10, "view", "u2"), (20, "view", "u1"),
                (W + 5, "click", "u3"), (2 * W + 1, "view", "u1")]
    expected = checks.expected_event_counts(accepted)
    stored = [(0, "view", 3, 2), (W, "click", 1, 1)]  # window 2W not finalized
    return expected, stored


def test_event_count_check_passes_on_correct_output():
    expected, stored = _live_case()
    assert checks.check_event_counts(expected, stored, watermark_ms=2 * W, dropped=0) == []


@pytest.mark.parametrize("corrupt", [
    lambda s: s[1:],                                 # one stored window dropped
    lambda s: [(0, "view", 4, 2)] + s[1:],           # one count changed
    lambda s: [(0, "view", 3, 3)] + s[1:],           # one user count changed
    lambda s: s + s[:1],                             # one window stored twice
])
def test_event_count_check_fails_on_corrupted_output(corrupt):
    expected, stored = _live_case()
    assert checks.check_event_counts(expected, corrupt(stored), 2 * W, dropped=0)


def test_event_count_check_accepts_only_reported_drops():
    expected, _ = _live_case()
    short = [(0, "view", 2, 2), (W, "click", 1, 1)]
    assert checks.check_event_counts(expected, short, 2 * W, dropped=1) == []
    assert checks.check_event_counts(expected, short, 2 * W, dropped=0)


TWIN = [(0, "view", 12.5, 30.0), (0, "click", 7.0, 9.0), (W, "view", 1.0 / 3, 2.0)]


def test_twin_comparison_passes_within_float_tolerance():
    stored = [(0, "view", 12.5, 30.0), (0, "click", 7.0, 9.0),
              (W, "view", 0.1 + 0.1 + 0.1 + 1.0 / 3 - 0.3, 2.0)]
    assert checks.compare_rows("performance_metrics", stored, TWIN, 2) == []


@pytest.mark.parametrize("corrupt", [
    lambda s: s[:-1],                                # one stored window dropped
    lambda s: [(0, "view", 12.5, 31.0)] + s[1:],     # one value changed
    lambda s: s + [(2 * W, "view", 1.0, 1.0)],       # one extra window
    lambda s: s + s[:1],                             # one row stored twice
])
def test_twin_comparison_fails_on_corrupted_output(corrupt):
    assert checks.compare_rows("performance_metrics", corrupt(list(TWIN)), TWIN, 2)


# -- registry suite ------------------------------------------------------------


def test_event_log_totals_count_only_the_suites_tasks(tmp_path):
    from perfbench import suite

    def task(stage, cpu_ns, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms, "JVM GC Time": 100,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
            "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 5}}

    log = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": f"{suite.GROUP}-0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        task(1, 2e9, 3000),
        task(2, 7e9, 9000),  # a streaming job's task, not the suite's
    ]
    (tmp_path / "app").write_text("".join(json.dumps(e) + "\n" for e in log))
    assert suite.event_log_totals(str(tmp_path)) == pytest.approx({
        "registry.executor_cpu_s": 2.0, "registry.executor_run_s": 3.0, "registry.gc_s": 0.1,
        "registry.shuffle_bytes": 50.0, "registry.spill_bytes": 15.0})


# -- generator validity --------------------------------------------------------


def test_self_lateness_excludes_waiting_for_the_previous_reply():
    # (due s, late ms, latency ms, status): the second POST waits 8 ms on
    # the first reply, which is the server's delay, not the generator's
    posts = [(0.0, 0.1, 10.0, 202), (0.002, 8.2, 9.0, 202), (0.1, 3.0, 4.0, 202)]
    assert _self_late_ms(posts) == pytest.approx([0.1, 0.2, 3.0])

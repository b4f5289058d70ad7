"""Streaming two-phase sessionization (round-9): the close rule that
makes the composition sound.

Phase 1 (session_window over (key, day-bucket)) emits a partial only
once the watermark passes ITS end + gap — so a same-session successor
partial can still be withheld upstream when the phase-2 merged state
looks idle. Closing phase-2 state at the event-level ``end + gap``
would emit a TRUNCATED session prefix and later double-count the tail
as a new session; the sound rule times out at
``bucket_end(bucket(end + gap)) + gap`` (streaming/stateful.py).
These fixtures pin exactly the scenario where the two rules diverge.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from realtime_analytics_pipeline_spark.operators.session_metrics import (
    session_partials_bucketed,
)
from realtime_analytics_pipeline_spark.streaming.jobs import (
    read_events_stream_from_dir,
    run_to_memory_table,
)
from realtime_analytics_pipeline_spark.streaming.stateful import (
    merge_partials_stateful,
)

D1 = dt.datetime(2024, 1, 1)
D2 = dt.datetime(2024, 1, 2)


# integer keys in the RAW testdata layout (the stream reader
# normalizes): x=1, w=2, z=3, y=4
X, W, Z, Y = "1", "2", "3", "4"


def _events_df(spark, rows):
    return spark.createDataFrame(
        [
            (i, ts, int(k), "view", 0.0, "{}")
            for i, (ts, k) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    )


def _replay_two_phase(spark, tmp_path, rows):
    src = str(tmp_path / "src")
    _events_df(spark, rows).coalesce(1).write.parquet(src)
    stream = read_events_stream_from_dir(spark, src)
    pdir = str(tmp_path / "partials")
    q = (
        session_partials_bucketed(stream)
        .writeStream.format("parquet")
        .option("path", pdir)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if not any(
        f.endswith(".parquet") for f in os.listdir(pdir) if not f.startswith("_")
    ):
        return []
    schema = spark.read.parquet(pdir).schema
    pstream = (
        spark.readStream.schema(schema)
        .parquet(pdir)
        .withWatermark("end_time", "10 seconds")
    )
    return [
        (r.session_id, r.start_us, r.end_us, r.page_count)
        for r in run_to_memory_table(merge_partials_stateful(pstream)).collect()
    ]


def test_tail_spanning_session_never_emitted_truncated(spark, tmp_path):
    """Variant A — the scenario where the naive event-level close rule
    emits a WRONG (truncated) session: key x's session straddles
    midnight; its day-2 partial is withheld by phase 1 (end+gap past
    the final watermark) while another key's day-2 partial pushes
    phase 2's watermark past x's day-1 prefix end + gap. The naive
    rule would emit x as a 1-event session (and w, whose bucket
    ceiling is also unclear) — the sound rule emits NOTHING here."""
    rows = [
        (D1.replace(hour=23, minute=50), X),   # P1 (d1), end 23:50
        (D2.replace(hour=0, minute=10), X),    # P2 (d2) — withheld
        (D2.replace(hour=0, minute=30), X),
        (D1.replace(hour=10, minute=0), W),    # whole-d1 session
        (D1.replace(hour=10, minute=10), W),
        (D2.replace(hour=0, minute=20), Z),    # wmB pusher
        (D2.replace(hour=0, minute=25), Z),
        (D2.replace(hour=0, minute=56), Y),    # wmA controller
    ]
    got = _replay_two_phase(spark, tmp_path, rows)
    # the one thing that must NEVER happen: a truncated x prefix
    assert not [g for g in got if g[0] == X], got
    # and under this watermark geometry nothing else finalizes either
    assert got == []


def test_complete_sessions_finalize_once_bucket_ceiling_clears(spark, tmp_path):
    """Variant B — push the watermarks far enough that w's bucket
    ceiling clears: w emits exactly once, complete; x (whose merged
    chain is the key's last and hits the d3 ceiling) stays withheld
    rather than appearing truncated."""
    rows = [
        (D1.replace(hour=23, minute=50), X),
        (D2.replace(hour=0, minute=10), X),
        (D2.replace(hour=0, minute=30), X),
        (D1.replace(hour=10, minute=0), W),
        (D1.replace(hour=10, minute=10), W),
        (D2.replace(hour=0, minute=20), Z),
        (D2.replace(hour=0, minute=35), Z),    # end 00:35 ⇒ wmB 00:34:50
        (D2.replace(hour=1, minute=6, second=10), Y),  # wmA 01:06
    ]
    got = _replay_two_phase(spark, tmp_path, rows)
    epoch = dt.datetime(1970, 1, 1)
    to_us = lambda d: (d - epoch) // dt.timedelta(microseconds=1)
    want_w = (
        W,
        to_us(D1.replace(hour=10, minute=0)),
        to_us(D1.replace(hour=10, minute=10)),
        2,
    )
    assert want_w in got, got
    assert not [g for g in got if g[0] == X], got
    # nothing emitted twice
    assert len(got) == len(set(got))


def test_two_phase_restart_continuation(spark, tmp_path):
    """Round-10 drill: the COMPOSITION survives checkpoint restarts.
    Phase 1 runs availableNow over tranche 1, stops, the source grows
    (tranche 2 appended with later mtimes), phase 1 RESTARTS from its
    checkpoint; phase 2 likewise runs once per tranche from its own
    checkpoint over the growing parquet handoff. The union of emitted
    sessions must equal the one-shot replay over the same final file
    set — no truncated prefix, no double emission, and the still-open
    tail keys stay withheld."""
    import shutil

    from pyspark.sql import types as T

    from tests.conftest import write_time_ordered_stream_fixture

    src = str(tmp_path / "src")
    tranche1 = [
        (D1.replace(hour=10, minute=0), W),
        (D1.replace(hour=10, minute=10), W),
        (D1.replace(hour=12, minute=0), Z),
        (D1.replace(hour=12, minute=5), Z),
        (D1.replace(hour=23, minute=50), X),  # session continues in t2
    ]
    tranche2 = [
        (D2.replace(hour=0, minute=10), X),
        (D2.replace(hour=0, minute=30), X),
        (D2.replace(hour=2, minute=30), Y),
        (D2.replace(hour=2, minute=31), Y),
        (D2.replace(hour=4, minute=0), "5"),  # wmA pusher, itself open
    ]
    write_time_ordered_stream_fixture(
        _events_df(spark, tranche1), src, n_files=2
    )
    # tranche 2 staged OUTSIDE src; it is copied in (with strictly
    # later mtimes — the file source replays in mtime order) only
    # after the tranche-1 runs, simulating the growing log
    side = str(tmp_path / "side")
    write_time_ordered_stream_fixture(
        _events_df(spark, tranche2), side, n_files=2
    )
    import glob
    import time as _time

    def grow_source():
        now = _time.time()
        for i, f in enumerate(sorted(glob.glob(side + "/part-*"))):
            dst = os.path.join(src, f"part-t2-{i:03d}.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (now + 100 + 2 * i, now + 100 + 2 * i))

    p1_schema = T.StructType(
        [
            T.StructField("session_id", T.StringType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("start_time", T.TimestampType()),
            T.StructField("end_time", T.TimestampType()),
            T.StructField("page_count", T.LongType()),
        ]
    )

    def run_phase1(pdir, ck):
        stream = read_events_stream_from_dir(spark, src)
        q = (
            session_partials_bucketed(stream)
            .writeStream.format("parquet")
            .option("path", pdir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def run_phase2(pdir, out, ck):
        pstream = (
            spark.readStream.schema(p1_schema)
            .parquet(pdir)
            .withWatermark("end_time", "10 seconds")
        )
        q = (
            merge_partials_stateful(pstream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def read_sessions(out):
        import os as _os

        if not any(
            f.endswith(".parquet")
            for f in _os.listdir(out)
            if not f.startswith("_")
        ):
            return []
        return sorted(
            (r.session_id, r.start_us, r.end_us, r.page_count)
            for r in spark.read.parquet(out).collect()
        )

    # --- restart path: each phase runs once per tranche, sharing its
    # checkpoint across runs
    p1 = str(tmp_path / "partials_rs")
    out = str(tmp_path / "out_rs")
    os.makedirs(out, exist_ok=True)
    ck1 = str(tmp_path / "ck1_rs")
    ck2 = str(tmp_path / "ck2_rs")
    run_phase1(p1, ck1)  # tranche 1
    run_phase2(p1, out, ck2)
    grow_source()
    run_phase1(p1, ck1)  # RESTART from the same checkpoint
    run_phase2(p1, out, ck2)  # RESTART from the same checkpoint
    restart_sessions = read_sessions(out)

    # --- one-shot truth over the identical final file set
    p1b = str(tmp_path / "partials_os")
    outb = str(tmp_path / "out_os")
    os.makedirs(outb, exist_ok=True)
    run_phase1(p1b, str(tmp_path / "ck1_os"))
    run_phase2(p1b, outb, str(tmp_path / "ck2_os"))
    oneshot_sessions = read_sessions(outb)

    assert restart_sessions == oneshot_sessions
    keys = [s[0] for s in restart_sessions]
    assert sorted(set(keys)) == sorted(keys)  # nothing emitted twice
    assert set(keys) == {W, Z}  # finalized: W and Z, complete
    by_key = {s[0]: s for s in restart_sessions}
    assert by_key[W][3] == 2 and by_key[Z][3] == 2
    # X merged across the restart boundary is STILL OPEN (its bucket
    # ceiling is day-3) — present in neither output, truncated nowhere
    assert X not in keys and Y not in keys

"""Multimodal binary-column plumbing tests."""

from __future__ import annotations

import hashlib

import pytest

from realtime_analytics_pipeline_spark.multimodal.binary_ops import (
    attach_payload,
    extract_features,
)
from realtime_analytics_pipeline_spark.sources.batch import load_table

from tests.conftest import SF_CORRECTNESS, SF_SMOKE


def test_payload_roundtrip_and_metadata(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    media = attach_payload(docs)
    row = media.where("doc_id = 0").collect()[0]
    text = docs.where("doc_id = 0").collect()[0].text
    assert bytes(row.payload) == text.encode()
    assert row.n_bytes == len(text.encode())
    assert row.content_md5 == hashlib.md5(text.encode()).hexdigest()


def test_extract_features_deterministic_and_total(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    media = attach_payload(docs)
    f1 = {r.doc_id: (r.width, r.height, r.head_hex)
          for r in extract_features(media).collect()}
    # repartitioned input must give identical features (determinism
    # across partitioning — the mapInPandas path has no partition state)
    f2 = {r.doc_id: (r.width, r.height, r.head_hex)
          for r in extract_features(media.repartition(7)).collect()}
    assert f1 == f2
    assert len(f1) == docs.count()
    for w, h, head in f1.values():
        assert 64 <= w < 256 and 64 <= h < 256
        assert len(head) == 16  # 8 bytes hex


def test_decode_ppm_roundtrip():
    """The real codec path (round-11): hand-build a tiny P6, decode,
    and check dims + exact pixels — including an uneven header layout
    (single spaces) and a wrong-magic reject."""
    import numpy as np

    from realtime_analytics_pipeline_spark.multimodal.binary_ops import (
        decode_ppm,
    )

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = b"P6\n3 2\n255\n" + px.tobytes()
    w, h, got = decode_ppm(payload)
    assert (w, h) == (3, 2)
    assert (got == px).all()
    # single-space header variant (any whitespace separates tokens)
    w2, h2, got2 = decode_ppm(b"P6 3 2 255 " + px.tobytes())
    assert (w2, h2, got2.tobytes()) == (3, 2, px.tobytes())
    # spec-compliant '#' comments anywhere header whitespace is legal
    # (ADVICE r11): inline after a token, full-line, and numeric text
    # inside a comment that must NOT parse as a dimension
    commented = (
        b"P6 # inline comment\n"
        b"# 999 888 a full-line comment with numbers\n"
        b"3 # width\n2\n# before maxval\n255\n" + px.tobytes()
    )
    w3, h3, got3 = decode_ppm(commented)
    assert (w3, h3, got3.tobytes()) == (3, 2, px.tobytes())
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n3 2\n255\n" + px.tobytes())


def test_image_channel_stats_matches_numpy_reference(spark):
    """The Spark mapInPandas decode must equal a driver-side numpy
    reference over the same generated payloads."""
    import hashlib

    from realtime_analytics_pipeline_spark.multimodal.binary_ops import (
        attach_ppm_payload,
        image_channel_stats,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    got = {
        r.doc_id: (r.width, r.height, r.sum_r, r.sum_g, r.sum_b)
        for r in image_channel_stats(attach_ppm_payload(docs)).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        d = hashlib.md5(row.text.encode()).digest()[:15]
        want = tuple(32 * sum(d[p] for p in range(c, 15, 3)) for c in range(3))
        assert got[row.doc_id] == (16, 10, *want)


def test_decode_wav_roundtrip():
    """The real audio codec path (round-12): hand-build RIFF/PCM WAVs
    — the attach form (tiled digest), an out-of-order chunk list with
    an odd-size padded LIST chunk, and the reject paths (bad magic,
    non-PCM format)."""
    import hashlib
    import struct

    import numpy as np

    from realtime_analytics_pipeline_spark.multimodal.binary_ops import (
        WAV_TILES,
        _wav_header,
        decode_wav,
    )

    digest = hashlib.md5(b"hello world").digest()
    payload = _wav_header() + digest * WAV_TILES
    rate, ch, frames = decode_wav(payload)
    assert (rate, ch, frames.shape) == (8000, 2, (128, 2))
    exp = np.frombuffer(digest * WAV_TILES, dtype="<i2").reshape(-1, 2)
    assert (frames == exp).all()
    # analytic identity the gate oracle relies on: channel sums are
    # 32x the per-digest channel sums
    d8 = np.frombuffer(digest, dtype="<i2")
    assert frames[:, 0].sum() == 32 * d8[0::2].sum()
    assert frames[:, 1].sum() == 32 * d8[1::2].sum()

    pcm = np.array([1, -2, 300, -32768], dtype="<i2").tobytes()
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 20 + 24 + 8 + len(pcm)) + b"WAVE"
        + b"LIST" + struct.pack("<I", 11) + b"x" * 11 + b"\x00"  # odd+pad
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    rate2, ch2, fr2 = decode_wav(wav)
    assert (rate2, ch2) == (44100, 1)
    assert fr2.flatten().tolist() == [1, -2, 300, -32768]

    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + payload[4:])
    with pytest.raises(ValueError):
        decode_wav(payload[:8] + b"AVI " + payload[12:])
    with pytest.raises(ValueError):
        decode_wav(
            wav.replace(
                struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16),
                struct.pack("<HHIIHH", 3, 1, 44100, 88200, 2, 16),
            )
        )


def test_audio_channel_stats_gated(spark):
    """The gated WAV query: one row per doc, rate/frame constants from
    the attach form, peak is the max |sample| so it bounds both sums
    scaled by the frame count."""
    from realtime_analytics_pipeline_spark.registry import QUERIES

    rows = QUERIES["multimodal_audio_channel_stats"](
        spark, SF_CORRECTNESS
    ).collect()
    docs = load_table(spark, SF_CORRECTNESS, "documents").count()
    assert len(rows) == docs
    for r in rows:
        assert r.sample_rate == 8000 and r.n_frames == 128, r
        assert 0 <= r.peak_abs <= 32768, r
        assert abs(r.sum_l) <= r.n_frames * r.peak_abs, r
        assert abs(r.sum_r) <= r.n_frames * r.peak_abs, r


def test_decode_ppm_stream_walks_frames():
    """Multi-image stream walk: mixed frame sizes, exact pixels per
    frame, and the single-image decoder still works unchanged."""
    import numpy as np

    from realtime_analytics_pipeline_spark.multimodal.binary_ops import (
        decode_ppm_stream,
    )

    a = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    b = np.full((1, 2, 3), 7, dtype=np.uint8)
    stream = (
        b"P6\n3 2\n255\n" + a.tobytes()
        + b"P6 2 1 255 " + b.tobytes()
        + b"P6\n3 2\n255\n" + a.tobytes()
    )
    frames = decode_ppm_stream(stream)
    assert [(w, h) for w, h, _ in frames] == [(3, 2), (2, 1), (3, 2)]
    assert frames[0][2].tobytes() == a.tobytes()
    assert (frames[1][2] == 7).all()


def test_video_frame_stats_matches_numpy_reference(spark):
    """The Spark stride-sampled sums must equal a driver-side numpy
    reference over the same generated streams (frames 0, 2, 4 of 6)."""
    import hashlib

    from realtime_analytics_pipeline_spark.multimodal.binary_ops import (
        attach_ppm_stream_payload,
        video_frame_stats,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    got = {
        r.doc_id: (r.n_frames, r.n_sampled, r.sum_r, r.sum_g, r.sum_b)
        for r in video_frame_stats(
            attach_ppm_stream_payload(docs)
        ).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        want = [0, 0, 0]
        for f in (0, 2, 4):
            d = hashlib.md5(f"{row.text}#{f}".encode()).digest()[:15]
            for c in range(3):
                want[c] += 32 * sum(d[p] for p in range(c, 15, 3))
        assert got[row.doc_id] == (6, 3, *want)

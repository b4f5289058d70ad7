"""Multimodal columns: opaque binary payloads + typed metadata.

Design (100 TB posture):

- media is an opaque ``binary`` column with a typed metadata struct
  (mime, byte size, content hash) — never parsed by Catalyst, never a
  join key; engines shuffle the small metadata, not the bytes;
- decode / feature-extraction runs as ``mapInPandas`` — Arrow-batched
  Python, one GIL-free batch per partition slice, the only sane way
  to run codec libraries inside Spark;
- two REAL codecs run gate-verified: binary Netpbm P6 images
  (``decode_ppm``, round-11) and RIFF/PCM WAV audio (``decode_wav``,
  round-12) — both are genuine on-disk formats whose parsers are
  ~25 lines of stdlib+numpy, so the decode slot is working code, not
  a stub. COMPRESSED codecs (JPEG/PNG/mp3/video) have no decoder
  here: PIL/ffmpeg are not in this container; the Spark-side
  plumbing — schema, batch shape, partitioning, UDF signature — is
  identical either way.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("head_hex", StringType()),
    ]
)


def attach_payload(documents: DataFrame) -> DataFrame:
    """documents -> media table: deterministic fake payload (utf-8 of
    the text) standing in for image bytes, with real typed metadata.
    All metadata is computed engine-side (encode/md5/length are
    Catalyst built-ins) — the binary column itself is carried opaque."""
    payload = F.encode(F.col("text"), "utf-8")
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


def decode_ppm(payload: bytes) -> tuple[int, int, "object"]:
    """REAL image decode, zero external deps: binary Netpbm P6 (PPM)
    — parse the ASCII header (magic, width, height, maxval), then view
    the raw interleaved RGB bytes as an (h, w, 3) numpy array. PPM is
    deliberately the format here: it is a genuine on-disk image format
    whose codec is ~20 lines of stdlib+numpy, so the decode step of
    the multimodal pipeline can be REAL in a container without
    PIL/ffmpeg (round-11; previously a deterministic fake).
    Returns (width, height, pixels uint8[h, w, 3])."""
    w, h, px, _ = _parse_p6(payload, 0)
    return w, h, px


def _parse_p6(payload: bytes, i: int) -> tuple[int, int, "object", int]:
    """Parse ONE binary-PPM image starting at offset ``i``; returns
    (width, height, pixels, next_offset). The offset return is what
    makes the multi-image stream walk (decode_ppm_stream) possible —
    the Netpbm spec allows concatenated images in one stream, the raw
    'video' container of this pipeline."""
    import numpy as np

    toks: list[bytes] = []
    while len(toks) < 4:
        # Netpbm spec: '#' starts a comment running to end-of-line,
        # legal wherever header whitespace is (ADVICE r11) — skip
        # interleaved comments and whitespace before each token.
        while True:
            while payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":
                while i < len(payload) and payload[i : i + 1] not in (
                    b"\n",
                    b"\r",
                ):
                    i += 1
            else:
                break
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        toks.append(payload[i:j])
        i = j
    i += 1  # exactly one whitespace byte separates maxval from data
    if toks[0] != b"P6":
        raise ValueError(f"not a binary PPM: magic {toks[0]!r}")
    w, h, maxval = int(toks[1]), int(toks[2]), int(toks[3])
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    px = np.frombuffer(
        payload, dtype=np.uint8, offset=i, count=w * h * 3
    ).reshape(h, w, 3)
    return w, h, px, i + w * h * 3


def decode_ppm_stream(payload: bytes) -> list:
    """REAL multi-frame decode: a concatenated-P6 Netpbm stream (the
    spec-legal multi-image form — the 'raw video' of this pipeline,
    one P6 header + pixel block per frame, back to back). Walks the
    stream with _parse_p6's offset returns; returns
    [(width, height, pixels), ...] in frame order."""
    frames = []
    i = 0
    while i < len(payload):
        # Trailing whitespace after the last pixel block is legal and
        # common from real PPM writers — skip it rather than re-enter
        # _parse_p6 on an empty tail (ADVICE r12).
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if i >= len(payload):
            break
        w, h, px, i = _parse_p6(payload, i)
        frames.append((w, h, px))
    return frames


PPM_W, PPM_H = 16, 10


def attach_ppm_payload(documents: DataFrame) -> DataFrame:
    """documents -> media table whose payload is a REAL binary PPM
    image (16x10, RGB): header + pixel stream built engine-side by
    tiling the first 15 bytes of unhex(md5(text)) 32 times (480 =
    16*10*3 bytes). 15, not 16, deliberately: gcd(15, 3) = 3 keeps
    the three channels on DISJOINT residues of the tile, so each
    channel's pixel sum is an exact integer function of 5 digest
    bytes — which is what lets a SQL oracle verify the real decode
    analytically (see registry_multimodal)."""
    pat = F.expr("substring(unhex(md5(text)), 1, 15)")
    payload = F.concat(
        F.lit(f"P6\n{PPM_W} {PPM_H}\n255\n".encode()), *([pat] * 32)
    )
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


WAV_RATE, WAV_CHANNELS, WAV_TILES = 8000, 2, 32
_WAV_DATA_BYTES = 16 * WAV_TILES  # md5 digest (16 B) tiled


def _wav_header() -> bytes:
    """Canonical 44-byte RIFF/WAVE header for the attach_wav_payload
    stream: PCM (format 1), 2 channels, 8 kHz, 16-bit — all sizes are
    constants because every payload tiles the 16-byte digest
    WAV_TILES times."""
    import struct

    return (
        b"RIFF"
        + struct.pack("<I", 36 + _WAV_DATA_BYTES)
        + b"WAVE"
        + b"fmt "
        + struct.pack(
            "<IHHIIHH",
            16,  # fmt chunk size
            1,  # PCM
            WAV_CHANNELS,
            WAV_RATE,
            WAV_RATE * WAV_CHANNELS * 2,  # byte rate
            WAV_CHANNELS * 2,  # block align
            16,  # bits per sample
        )
        + b"data"
        + struct.pack("<I", _WAV_DATA_BYTES)
    )


def attach_wav_payload(documents: DataFrame) -> DataFrame:
    """documents -> media table whose payload is a REAL RIFF/PCM WAV
    file (stereo, 16-bit LE, 8 kHz): constant 44-byte header + a PCM
    stream built engine-side by tiling unhex(md5(text)) (16 bytes = 4
    stereo frames) WAV_TILES times. 16 % 4 == 0 keeps the L and R
    channels on DISJOINT byte residues of the tile, so each channel's
    sample sum is an exact integer function of 4 fixed digest sample
    slots — which is what lets a SQL oracle verify the real decode
    analytically (the attach_ppm_payload trick, round-11)."""
    pat = F.unhex(F.md5("text"))
    payload = F.concat(F.lit(_wav_header()), *([pat] * WAV_TILES))
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("audio/x-wav").alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


def decode_wav(payload: bytes) -> tuple[int, int, "object"]:
    """REAL audio decode, zero external deps: RIFF/WAVE with 16-bit
    PCM. Walks the chunk list properly (arbitrary chunk order, unknown
    chunks skipped, odd-size pad bytes honored per the RIFF spec),
    validates PCM/16-bit from the fmt chunk, then views the data chunk
    as little-endian int16 frames. Returns
    (sample_rate, channels, frames int16[n_frames, channels])."""
    import struct

    import numpy as np

    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    fmt = None
    data_off = data_size = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = i + 8
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", payload[body : body + 16])
        elif cid == b"data":
            data_off, data_size = body, size
        i = body + size + (size & 1)  # RIFF pads odd chunks
    if fmt is None or data_off is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported, got fmt={fmt}")
    frames = np.frombuffer(
        payload, dtype="<i2", offset=data_off, count=data_size // 2
    ).reshape(-1, channels)
    return rate, channels, frames


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("sum_l", LongType()),
        StructField("sum_r", LongType()),
        StructField("peak_abs", LongType()),
    ]
)


def audio_channel_stats(media: DataFrame) -> DataFrame:
    """REAL decode -> feature extraction for audio: mapInPandas
    batches of opaque WAV bytes through decode_wav, emitting the
    parsed rate, frame count, exact per-channel int64 sample sums and
    the absolute peak — the audio preprocessing shape (loudness /
    clipping stats before resample or feature extraction). Integer
    outputs keep the cross-engine gate float-free; bytes never
    shuffle."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rate, _, frames = decode_wav(bytes(payload))
                sums = frames.sum(axis=0, dtype="int64")
                peak = int(abs(frames.astype("int64")).max())
                rows.append(
                    (
                        doc_id,
                        rate,
                        frames.shape[0],
                        int(sums[0]),
                        int(sums[1]),
                        peak,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "sample_rate",
                    "n_frames",
                    "sum_l",
                    "sum_r",
                    "peak_abs",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        stats, AUDIO_STATS_SCHEMA
    )


IMAGE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def image_channel_stats(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """REAL decode -> feature extraction: mapInPandas batches of
    opaque payload bytes through decode_ppm, emitting the parsed
    dimensions and exact per-channel pixel SUMS (int64 — integer
    verdicts keep the cross-engine gate float-free). This is the
    production multimodal feature shape: Arrow-batched Python, codec
    work per batch, small typed rows out, bytes never shuffled."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, px = decode_ppm(bytes(payload))
                s = px.reshape(-1, 3).sum(axis=0, dtype="int64")
                rows.append(
                    (doc_id, w, h, int(s[0]), int(s[1]), int(s[2]))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "sum_r", "sum_g", "sum_b",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        stats, IMAGE_STATS_SCHEMA
    )


VIDEO_FRAMES, VIDEO_SAMPLE_EVERY = 6, 2


def attach_ppm_stream_payload(
    documents: DataFrame, n_frames: int = VIDEO_FRAMES
) -> DataFrame:
    """documents -> media table whose payload is a REAL multi-image
    Netpbm stream (concatenated P6 frames — the spec-legal multi-image
    form, this pipeline's raw 'video' container): frame f is the
    attach_ppm_payload 16x10 image built from md5(text || '#' || f),
    so every frame differs but each is analytically predictable — the
    oracle trick, per frame."""
    frame_parts = []
    for f in range(n_frames):
        pat = F.expr(
            f"substring(unhex(md5(concat(text, '#{f}'))), 1, 15)"
        )
        frame_parts.append(F.lit(f"P6\n{PPM_W} {PPM_H}\n255\n".encode()))
        frame_parts.extend([pat] * 32)
    payload = F.concat(*frame_parts)
    return documents.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("video/x-ppm-stream").alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("content_md5"),
    )


VIDEO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def video_frame_stats(
    media: DataFrame, every_k: int = VIDEO_SAMPLE_EVERY
) -> DataFrame:
    """REAL decode -> FRAME SAMPLING: mapInPandas walks each payload's
    multi-image stream with decode_ppm_stream, keeps every k-th frame
    (the standard video-preprocessing stride sample), and emits exact
    int64 channel sums over the sampled frames only. The production
    shape for video at 100 TB: bytes stay in place, Python sees one
    Arrow batch per partition slice, frame decode + stride selection
    happen per row, and only small typed rows shuffle."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                frames = decode_ppm_stream(bytes(payload))
                sampled = frames[::every_k]
                s = [0, 0, 0]
                for _, _, px in sampled:
                    fs = px.reshape(-1, 3).sum(axis=0, dtype="int64")
                    for c in range(3):
                        s[c] += int(fs[c])
                rows.append(
                    (doc_id, len(frames), len(sampled), s[0], s[1], s[2])
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "n_sampled",
                    "sum_r", "sum_g", "sum_b",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        stats, VIDEO_STATS_SCHEMA
    )


def _fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode: pseudo width/height from the
    content hash — stable across runs/partitions, shaped like a real
    decoder's output."""
    h = hashlib.md5(payload).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("target_w", IntegerType()),
        StructField("target_h", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
        StructField("frame_md5", StringType()),
    ]
)


def resize_media(
    media: DataFrame, target_w: int = 128, target_h: int = 128
) -> DataFrame:
    """Resize plumbing: mapInPandas batch transform binary -> binary.

    Deterministic fake resample (truncate/cycle payload to
    target_w*target_h/64 bytes) standing in for a real
    PIL.Image.resize; schema and batch shape are what a real codec
    would use.
    """
    out_len = target_w * target_h // 64

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [
                bytes(
                    (p * (out_len // max(len(p), 1) + 1))[:out_len]
                )
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": resized,
                    "target_w": target_w,
                    "target_h": target_h,
                    "n_bytes": [len(r) for r in resized],
                }
            )

    return media.mapInPandas(resize, schema=RESIZED_SCHEMA)


def sample_frames(
    media: DataFrame, frame_bytes: int = 64, every_k: int = 4
) -> DataFrame:
    """Frame-sampling plumbing: binary 'video' -> one row per sampled
    frame (every k-th fixed-size chunk). The fan-out row shape is what
    a real ffmpeg frame sampler produces; sampling is deterministic."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, idxs, frames, md5s = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(p)
                n_frames = max(len(b) // frame_bytes, 1)
                for fi in range(0, n_frames, every_k):
                    chunk = b[fi * frame_bytes : (fi + 1) * frame_bytes]
                    doc_ids.append(doc_id)
                    idxs.append(fi)
                    frames.append(chunk)
                    md5s.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_idx": idxs,
                    "frame": frames,
                    "frame_md5": md5s,
                }
            )

    return media.mapInPandas(sample, schema=FRAME_SCHEMA)


def extract_features(media: DataFrame, batch_size: int = 256) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    Arrow ships (doc_id, payload, ...) batches to Python; each batch
    yields one feature frame. Partitioning is inherited — at scale,
    repartition upstream so each task holds O(batch) payload bytes
    (spark.sql.files.maxPartitionBytes governs the scan side).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_fake_decode_dims(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "content_md5": pdf["content_md5"],
                    "width": [w for w, _ in dims],
                    "height": [h for _, h in dims],
                    "head_hex": [bytes(p[:8]).hex() for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


CHUNK_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("chunk_idx", LongType()),
        StructField("start_byte", LongType()),
        StructField("n_bytes", LongType()),
        StructField("chunk", BinaryType()),
        StructField("chunk_md5", StringType()),
    ]
)


def chunk_media(
    media: DataFrame,
    chunk_size: int = 100,
    stride: int = 80,
    batch_size: int = 256,
) -> DataFrame:
    """Fixed-window (optionally overlapping) chunking of opaque binary
    payloads — the audio/video preprocessing shape: one input row
    fans out to ceil((n−size)/stride)+1 chunk rows with byte offsets
    and per-chunk digests. mapInPandas so the fan-out happens inside
    the Arrow batch (no explode of a materialized array column, no
    driver involvement); chunk boundaries are pure arithmetic, so a
    SQL oracle can verify offsets/digests without any codec."""
    import pandas as pd

    def chunker(batches):
        for pdf in batches:
            out = {
                "doc_id": [], "chunk_idx": [], "start_byte": [],
                "n_bytes": [], "chunk": [], "chunk_md5": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n = len(data)
                if n <= chunk_size:
                    count = 1
                else:
                    count = -(-(n - chunk_size) // stride) + 1
                for i in range(count):
                    start = i * stride
                    piece = data[start : start + chunk_size]
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(i)
                    out["start_byte"].append(start)
                    out["n_bytes"].append(len(piece))
                    out["chunk"].append(piece)
                    out["chunk_md5"].append(hashlib.md5(piece).hexdigest())
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        chunker, CHUNK_SCHEMA
    )

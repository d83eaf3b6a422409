"""Multimodal (image/audio/video) column plumbing (SURVEY.md Tier C
q_multimodal_cols + north-star "multimodal columns").

Media are opaque `binary` payload columns with typed struct metadata.
Frame sampling, feature extraction and audio windowing run as Arrow-batched
`mapInPandas` over the binary column — the Spark-side plumbing (schemas,
batch iteration, partition-preserving map) is real and tested; the actual
codec calls are STUBBED (no image/audio libraries are a dependency):
payloads use a deterministic synthetic header that the operators parse, at
the point where a PIL/ffmpeg call would slot in.

Synthetic payload layout (big-endian):
  magic   3 bytes  b"SYN"
  kind    1 byte   0=image 1=audio 2=video
  width   2 bytes  (image/video) | sample_rate/1000 (audio)
  height  2 bytes  (image/video) | channels (audio)
  body    N bytes  opaque
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, payload binary, "
    "meta struct<kind: string, declared_w: int, declared_h: int>"
)

_KINDS = ("image", "audio", "video")


def make_synthetic_payload(media_id: int, kind: int, w: int, h: int) -> bytes:
    body = bytes((media_id * 7 + i) % 256 for i in range(16 + (media_id % 32)))
    return b"SYN" + struct.pack(">BHH", kind, w, h) + body


def synthetic_media(spark, n: int = 100, partitions: int | None = None) -> DataFrame:
    """Deterministic media table for tests/benches: id -> payload+meta.

    `partitions` caps the task count: every mapInPandas partition costs a
    Python worker, so a tiny media table spread over defaultParallelism
    partitions pays ~3x worker spawns per row batch for nothing."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].tolist()
            rows = {
                "media_id": ids,
                "payload": [
                    make_synthetic_payload(i, i % 3, 64 + (i % 8) * 16, 64 + (i % 5) * 16)
                    for i in ids
                ],
                "meta": [
                    {
                        "kind": _KINDS[i % 3],
                        "declared_w": 64 + (i % 8) * 16,
                        "declared_h": 64 + (i % 5) * 16,
                    }
                    for i in ids
                ],
            }
            yield pd.DataFrame(rows)

    rng = spark.range(n, numPartitions=partitions) if partitions else spark.range(n)
    return rng.mapInPandas(gen, schema=MEDIA_SCHEMA)


FEATURE_DIM = 16


def video_features(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Fused frame-sample + featurize: ONE Arrow stage from video payload to
    (media_id, frame_idx, frame_ts_ms, feature).

    Frames are evenly spaced over a nominal duration; the synthetic backend
    derives each frame's bytes by rolling the payload body, where a real
    backend would seek/decode with ffmpeg. The featurizer is an
    L2-normalized 16-bin byte histogram — deterministic, so tests can pin
    values; a real backend (CLIP/CNN forward pass) slots into the same seam
    with the same output schema, ready for the similarity/dedup operators
    that consume array<float> columns.

    Sampling and featurizing as two mapInPandas stages would make two
    Python-worker stages and send the intermediate frame BYTES across the
    Arrow boundary twice. A production video pipeline decodes and
    featurizes in the same process pass precisely to avoid re-serializing
    frames; this operator is that pass — one worker chain, frames never
    leave Python. The expansion is per-row and partition-preserving (no
    shuffle), so fan-out never concentrates on one executor."""

    import numpy as np

    out_schema = (
        "media_id long, frame_idx int, frame_ts_ms int, feature array<float>"
    )

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [], "feature": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                ok = raw[:3] == b"SYN" and len(raw) >= 8
                body = raw[8:] if ok else b""
                nominal_ms = 1000 * (1 + len(body) % 7)
                for i in range(n_frames):
                    roll = i % max(len(body), 1)
                    frame = body[roll:] + body[:roll]
                    arr = np.frombuffer(frame, dtype=np.uint8)
                    hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype("float64")
                    norm = float(np.sqrt((hist * hist).sum()))
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_ts_ms"].append(i * nominal_ms // max(n_frames - 1, 1))
                    out["feature"].append((hist / norm if norm else hist).astype("float32"))
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(fused, schema=out_schema)


def audio_windows(df: DataFrame, window_ms: int = 250) -> DataFrame:
    """Audio window segmentation + per-window features: 1 audio row ->
    ceil(duration/window) rows of (media_id, win_idx, win_start_ms, rms,
    zero_crossings, n_samples) — the audio analog of video frame sampling
    (VAD, diarization, and audio-embedding pipelines all start with this
    cut). The synthetic backend treats body bytes as uint8 samples at the
    header's declared rate; a real backend would pydub/torchaudio-decode
    in the same Arrow seam. Per-row expansion, partition-preserving, no
    shuffle — identical scale shape to the video path."""

    import numpy as np

    out_schema = (
        "media_id long, win_idx int, win_start_ms int, rms double, "
        "zero_crossings int, n_samples int"
    )

    def windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "win_idx": [], "win_start_ms": [],
                "rms": [], "zero_crossings": [], "n_samples": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                ok = raw[:3] == b"SYN" and len(raw) >= 8
                if not ok:
                    continue
                _kind, rate_khz, _ch = struct.unpack(">BHH", raw[3:8])
                body = np.frombuffer(raw[8:], dtype=np.uint8)
                sr = max(int(rate_khz) * 1000, 1000)
                spw = max(sr * window_ms // 1000, 1)
                # synthetic bodies are short; every byte is one sample
                for w_idx in range(0, max((len(body) + spw - 1) // spw, 1)):
                    seg = body[w_idx * spw : (w_idx + 1) * spw]
                    if len(seg) == 0:
                        seg = np.zeros(1, dtype=np.uint8)
                    centered = seg.astype("float64") - 128.0
                    rms = float(np.sqrt((centered * centered).mean()))
                    zc = int(((centered[:-1] * centered[1:]) < 0).sum()) if len(seg) > 1 else 0
                    out["media_id"].append(mid)
                    out["win_idx"].append(w_idx)
                    out["win_start_ms"].append(w_idx * window_ms)
                    out["rms"].append(rms)
                    out["zero_crossings"].append(zc)
                    out["n_samples"].append(int(len(seg)))
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(windows, schema=out_schema)

"""Deterministic synthetic clips table — the north-rule input
(BASELINE.json input_hint):

    (clip_id:string, bytes:binary, sr_hz:int32, dur_ms:int32,
     codec:string, transcript:string) + event_time:timestamp

Generation rules follow FIXTURES.md F1/F2 (seed-derived per row, so
generation is embarrassingly parallel — ``spark.range(n)`` →
``mapInPandas``, no driver-side data):

- ``clip_id`` = ``clip-{i:012d}``
- ``bytes`` = seeded sum-of-sines + noise PCM encoded per ``codec``
- ``sr_hz`` ∈ {8000, 16000, 22050, 44100}
- ``dur_ms`` ∈ [dur_min, dur_max]; ~1% rows deliberately inconsistent
  with the payload length (exercises duration validation)
- ``codec`` skewed: ≥80% ``pcm_s16le`` (exercises salting/AQE)
- ``transcript``: seeded word sequences; ~2% empty, ~2% padded with
  whitespace, ~1% null
- ``event_time``: monotone-ish with jitter; ~5% late arrivals (for
  watermark tests)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.audio import encode_clip

CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string, event_time timestamp"
)

TRANSCRIPTS_SIDE_SCHEMA = (
    "clip_id string, transcript_v2 string, rev int, event_time timestamp"
)

_SR = np.array([8000, 16000, 22050, 44100])
_SR_P = np.array([0.25, 0.45, 0.15, 0.15])
_CODECS = np.array(["pcm_s16le", "pcm_f32le", "ulaw", "alaw"])
_CODEC_P = np.array([0.82, 0.06, 0.06, 0.06])
_WORDS = np.array(
    "the quick brown fox jumps over lazy dog audio clip stream spark "
    "window join state water mark late data exactly once hello world "
    "alpha beta gamma delta epsilon".split()
)
_BASE_TS = np.datetime64("2024-01-01T00:00:00")


def _clip_rows(ids: np.ndarray, seed: int, dur_min: int, dur_max: int) -> pd.DataFrame:
    """Generate the rows for a chunk of ids. All randomness comes from a
    per-row Philox stream keyed by (seed, id) → identical output for an
    id regardless of partitioning."""
    n = len(ids)
    rows = []
    for i in ids:
        rng = np.random.Generator(np.random.Philox(key=[seed, int(i)]))
        sr = int(_SR[rng.choice(len(_SR), p=_SR_P)])
        dur_ms = int(rng.integers(dur_min, dur_max + 1))
        codec = str(_CODECS[rng.choice(len(_CODECS), p=_CODEC_P)])
        n_samples = int(round(dur_ms * sr / 1000.0))
        t = np.arange(n_samples, dtype=np.float32) / sr
        f0 = float(rng.uniform(80, 1200))
        f1 = float(rng.uniform(1200, 3500))
        x = (
            0.5 * np.sin(2 * np.pi * f0 * t)
            + 0.25 * np.sin(2 * np.pi * f1 * t)
            + 0.05 * rng.standard_normal(n_samples).astype(np.float32)
        ).astype(np.float32)
        x = np.clip(x, -0.999, 0.999)
        raw = encode_clip(x, codec)

        # ~1% rows: declared duration inconsistent with payload
        if rng.random() < 0.01:
            dur_ms = dur_ms + int(rng.integers(50, 500))

        # transcript
        r = rng.random()
        if r < 0.01:
            transcript = None
        elif r < 0.03:
            transcript = ""
        else:
            k = int(rng.integers(3, 12))
            words = " ".join(_WORDS[rng.integers(0, len(_WORDS), k)])
            transcript = f"  {words} " if r < 0.05 else words

        # event time: monotone-ish (1 clip/sec) + jitter; ~5% late by 2-10 min
        offset_s = float(i) + float(rng.uniform(-0.5, 0.5))
        if rng.random() < 0.05:
            offset_s -= float(rng.uniform(120, 600))
        ts = _BASE_TS + np.timedelta64(int(offset_s * 1000), "ms")

        rows.append(
            {
                "clip_id": f"clip-{int(i):012d}",
                "bytes": raw,
                "sr_hz": sr,
                "dur_ms": dur_ms,
                "codec": codec,
                "transcript": transcript,
                "event_time": pd.Timestamp(ts),
            }
        )
    return pd.DataFrame(rows)


def clips_df(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    dur_min: int = 200,
    dur_max: int = 15000,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic clips table (never materialized on the
    driver)."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield _clip_rows(ids, seed, dur_min, dur_max)

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, schema=CLIPS_SCHEMA)
    )


def transcripts_side_df(
    spark: SparkSession,
    n_clips: int,
    seed: int = 43,
    match_rate: float = 0.9,
    partitions: int | None = None,
) -> DataFrame:
    """Side stream of transcript revisions (FIXTURES.md F2): ~90% of
    clips get 1-3 revisions arriving within a bounded lag of the clip's
    event_time."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].to_numpy():
                rng = np.random.Generator(np.random.Philox(key=[seed, int(i)]))
                if rng.random() > match_rate:
                    continue
                n_rev = int(rng.integers(1, 4))
                for rev in range(1, n_rev + 1):
                    k = int(rng.integers(3, 10))
                    words = " ".join(_WORDS[rng.integers(0, len(_WORDS), k)])
                    lag_s = float(rng.uniform(0, 60)) * rev
                    ts = _BASE_TS + np.timedelta64(int((float(i) + lag_s) * 1000), "ms")
                    rows.append(
                        {
                            "clip_id": f"clip-{int(i):012d}",
                            "transcript_v2": words,
                            "rev": rev,
                            "event_time": pd.Timestamp(ts),
                        }
                    )
            yield pd.DataFrame(rows, columns=["clip_id", "transcript_v2", "rev", "event_time"])

    return spark.range(0, n_clips, 1, partitions).mapInPandas(gen, schema=TRANSCRIPTS_SIDE_SCHEMA)


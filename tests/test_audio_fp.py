"""Audio near-dup fingerprinting (functions/audio_fp.py): descriptor
robustness to codec/gain/shift distortions, token/BER statistics, and
the candidate→verify pipeline on a synthetic clip corpus."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataflows_spark.functions import audio
from dataflows_spark.functions import audio_fp as afp

SR = 16000


def _clip(seed: int, sec: float = 2.0) -> np.ndarray:
    """Deterministic band-limited 'speech-ish' clip: a few drifting
    tones + filtered noise (distinct seeds → unrelated spectra)."""
    rng = np.random.default_rng(seed)
    t = np.arange(int(SR * sec)) / SR
    x = np.zeros_like(t, dtype=np.float64)
    for _ in range(4):
        f0, f1 = rng.uniform(200, 3500, size=2)
        x += rng.uniform(0.1, 0.3) * np.sin(2 * np.pi * (f0 + (f1 - f0) * t / sec) * t)
    noise = rng.standard_normal(len(t))
    x += 0.05 * np.convolve(noise, np.ones(8) / 8.0, mode="same")
    return (0.7 * x / np.max(np.abs(x))).astype(np.float32)


# ---------------------------------------------------------------------------
# numpy kernel level
# ---------------------------------------------------------------------------

def test_fingerprint_deterministic_and_32bit():
    x = _clip(1)
    w1 = afp.fingerprint_words(x, SR)
    w2 = afp.fingerprint_words(x, SR)
    assert np.array_equal(w1, w2)
    assert len(w1) > 100  # ~10ms hop over 2s
    assert w1.dtype == np.uint32


def test_gain_invariance_is_exact():
    """Monotone amplitude maps preserve every contrast sign — a gain
    change must reproduce the words bit-exactly."""
    x = _clip(2)
    assert np.array_equal(afp.fingerprint_words(x, SR), afp.fingerprint_words(0.8 * x, SR))


def test_reencode_ber_far_below_distinct_baseline():
    """The design margin the verify threshold rests on: 8-bit companded
    re-encode BER ≈ 0.13, unrelated clips ≈ 0.5."""
    x = _clip(2)
    w0 = afp.fingerprint_words(x, SR)
    w_ulaw = afp.fingerprint_words(audio.decode_clip(audio.encode_clip(x, "ulaw"), "ulaw"), SR)
    w_other = afp.fingerprint_words(_clip(3), SR)
    assert afp.ber_at_lag(w0, w_ulaw, 0) < 0.2
    assert afp.ber_at_lag(w0, w_other, 0) > 0.4


def test_ber_at_lag_alignment():
    x = _clip(4)
    shifted = np.concatenate([np.zeros(afp.DEFAULT_HOP * 10, dtype=np.float32), x])
    w0 = afp.fingerprint_words(x, SR)
    ws = afp.fingerprint_words(shifted, SR)
    assert afp.ber_at_lag(w0, ws, 10) < 0.05  # aligned: near-exact
    assert afp.ber_at_lag(w0, ws, 0) > 0.3  # misaligned: noise-level
    assert afp.ber_at_lag(w0, ws, 10_000) == 1.0  # empty overlap


def test_silence_and_short_clips():
    assert len(afp.fingerprint_words(np.zeros(10, dtype=np.float32), SR)) == 0
    sil = afp.fingerprint_words(np.zeros(SR, dtype=np.float32), SR)
    assert set(sil.tolist()) == {0}  # all-silence frames → word 0 (index-excluded)


# ---------------------------------------------------------------------------
# Spark pipeline level
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def clips_df(spark):
    """12 distinct recordings; #0 also present as a ulaw re-encode
    (near-dup), an exact f32→s16 transcode (exact dup), and a
    10-hop-shifted copy (time-shifted near-dup)."""
    rows = []
    for i in range(12):
        x = _clip(100 + i)
        rows.append((i, bytearray(audio.encode_clip(x, "pcm_s16le")), "pcm_s16le", SR))
    x0 = _clip(100)
    rows.append((100, bytearray(audio.encode_clip(x0, "ulaw")), "ulaw", SR))
    rows.append((101, bytearray(audio.encode_clip(x0, "pcm_f32le")), "pcm_f32le", SR))
    shifted = np.concatenate([np.zeros(afp.DEFAULT_HOP * 10, dtype=np.float32), x0])
    rows.append((102, bytearray(audio.encode_clip(shifted, "pcm_s16le")), "pcm_s16le", SR))
    return spark.createDataFrame(
        rows, "clip_id long, bytes binary, codec string, sr_hz long"
    )


def test_audio_neardup_pairs_finds_copies_only(clips_df):
    pairs = afp.audio_neardup_pairs(clips_df).collect()
    got = {(r["id_a"], r["id_b"]): r for r in pairs}
    # every copy of clip 0 must pair with it; no cross-recording pairs
    assert (0, 100) in got and (0, 101) in got and (0, 102) in got
    bad = {p for p in got if not set(p) <= {0, 100, 101, 102}}
    assert not bad, bad
    assert got[(0, 102)]["lag"] == 10  # shift recovered
    assert got[(0, 101)]["ber"] == 0.0  # exact transcode
    assert all(r["ber"] <= afp.DEFAULT_MAX_BER for r in pairs)


def test_audio_exact_dedup_cross_codec(clips_df):
    """The f32 transcode of clip 0 quantizes to the identical int16 PCM
    → exact dup; the ulaw re-encode and the shifted copy are lossy/
    different content → NOT exact dups."""
    kept = sorted(
        r["clip_id"] for r in afp.audio_exact_dedup(clips_df).select("clip_id").collect()
    )
    assert kept == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 100, 102]


def test_with_audio_fingerprint_schema(clips_df):
    fp = afp.with_audio_fingerprint(clips_df, "bytes", "codec", "sr_hz", "clip_id")
    assert [f.name for f in fp.schema.fields] == ["id", "words"]
    row = fp.filter(F.col("id") == 0).head()
    assert len(row["words"]) > 100
    assert all(0 <= w < 2**32 for w in row["words"])


def test_token_df_cap_drops_hot_tokens(clips_df):
    """With the cap at 1 (every token shared by ≥2 clips dropped) the
    copies can no longer collide → no pairs. The cap is the fan-out
    bound for degenerate/hot tokens at scale."""
    assert afp.audio_neardup_pairs(clips_df, max_token_df=1).count() == 0

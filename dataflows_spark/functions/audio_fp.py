"""Audio near-duplicate fingerprinting — the audio-modality analog of
the text dedup stack, built on the Haitsma–Kalker robust-hash family
(the design behind Philips audio fingerprinting / Chromaprint) rather
than MinHash: measured on the synthetic codec suite, an 8-bit
companded re-encode (ulaw) flips ~13% of descriptor bits, which
destroys exact-shingle Jaccard (~0.0) while leaving the bit-error
rate FAR below the distinct-clip baseline (0.13 vs 0.48) — so
candidates come from exact SUB-WORD token collisions and the verify
is an alignment-aware BER test, not set overlap.

PIPELINE:

1. one Arrow stage per clip: decode → log-mel (33 bands, long 128 ms
   windows at 10 ms hop — heavy overlap stabilizes the spectrum) →
   per-frame 32-bit WORD: bit m is the sign of the temporal delta of
   the adjacent-band energy contrast
   ``(E[t,m]-E[t,m+1]) - (E[t-1,m]-E[t-1,m+1])`` — invariant to gain
   (monotone amplitude maps preserve contrast signs) and robust to
   codec companding noise;
2. JVM-side, each word splits into two 16-bit HALF TOKENS
   ``(half_id, bits)``. At the measured 13% BER, P(a 16-bit half
   survives intact) ≈ 0.10, so a ~190-frame clip shares ~40 tokens
   with its re-encode (P(zero shared) ≈ e^-39) while distinct clips
   share ~2 (measured max 7 over the synthetic corpus) — a
   ``min_matches`` threshold separates them before any verify;
3. tokens above a document-frequency cap are dropped (silence and
   other degenerate frames produce hot tokens; non-discriminative
   posting lists are the classic fingerprint-index fan-out bomb —
   at 100 TB the cap is what bounds the token self-join's worst key);
4. candidate pairs aggregate matched-token count and the MEDIAN frame
   LAG (token positions ride along), so time-shifted copies align;
5. verify: exact BER over the word arrays at the estimated lag
   (candidate-only — the fat arrays join in once per side).

Everything shuffles on narrow uniform keys (token → pair ids); no
cross product, no driver loop; the one Python stage is the fused
decode+FFT kernel and the tiny per-pair BER check.

The reference (datahq/dataflows) has no audio support; parameters
follow the audio tier's self-contained codec spec
(``functions/audio.py``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

from .audio import decode_clip, logmel_frames

#: 33 mel bands → 32 adjacent-band contrasts → one 32-bit word/frame
DEFAULT_N_MELS = 33
#: long analysis window + short hop (≈ 92% overlap): spectral
#: stability is what keeps re-encode BER low (Haitsma–Kalker use
#: 0.37 s / 11.6 ms; 128 ms / 10 ms is enough at our codec severity)
DEFAULT_N_FFT = 2048
DEFAULT_HOP = 160
#: verify threshold: measured re-encode BER ≈ 0.13, distinct ≈ 0.48
DEFAULT_MAX_BER = 0.25
#: candidate gate: re-encodes share ~40 half tokens, distinct clips ≤7
DEFAULT_MIN_MATCHES = 8
#: posting-list cap: tokens seen in more clips are dropped
DEFAULT_MAX_TOKEN_DF = 1000


def fingerprint_words(
    x: np.ndarray,
    sr: int,
    n_mels: int = DEFAULT_N_MELS,
    n_fft: int = DEFAULT_N_FFT,
    hop: int = DEFAULT_HOP,
) -> np.ndarray:
    """Per-frame 32-bit descriptor words of one clip (uint32, frames-1
    long). Gain-invariant by construction; all-silence frames produce
    word 0 (filtered out of the token index, kept for BER)."""
    mel = logmel_frames(x, sr, n_mels=n_mels, n_fft=n_fft, hop=hop)
    if mel.shape[0] < 2:
        return np.zeros(0, dtype=np.uint32)
    d = mel[:, :-1] - mel[:, 1:]  # adjacent-band contrast
    dd = d[1:] - d[:-1]  # temporal delta
    bits = (dd > 0).astype(np.uint64)
    return (
        (bits << np.arange(bits.shape[1], dtype=np.uint64)[None, :]).sum(axis=1)
    ).astype(np.uint32)


def ber_at_lag(wa: np.ndarray, wb: np.ndarray, lag: int) -> float:
    """Bit-error rate between word sequences aligned at ``lag``
    (wb[t] ↔ wa[t - lag]); 1.0 when the overlap is empty."""
    lo = max(0, -lag)
    hi = min(len(wa), len(wb) - lag)
    if hi - lo < 1:
        return 1.0
    a = wa[lo:hi].astype(np.uint32)
    b = wb[lo + lag : hi + lag].astype(np.uint32)
    return float(np.unpackbits((a ^ b).view(np.uint8)).mean())


@F.pandas_udf(DoubleType())
def ber_udf(wa: pd.Series, wb: pd.Series, lag: pd.Series) -> pd.Series:
    """Vectorized :func:`ber_at_lag` over (words_a, words_b, lag)
    columns — the verify step of the batch operator and the streaming
    sink; a missing side scores 1.0 (never verifies)."""
    return pd.Series(
        [
            1.0
            if a is None or b is None
            else ber_at_lag(np.asarray(a, dtype=np.uint32), np.asarray(b, dtype=np.uint32), int(g))
            for a, b, g in zip(wa, wb, lag)
        ]
    )


def with_audio_fingerprint(
    df: DataFrame,
    bytes_col: str,
    codec_col: str,
    sr_col: str,
    id_col: str,
    n_mels: int = DEFAULT_N_MELS,
    n_fft: int = DEFAULT_N_FFT,
    hop: int = DEFAULT_HOP,
) -> DataFrame:
    """(id, words) per clip — the fused decode → log-mel → descriptor
    kernel in ONE Arrow stage (PCM and spectrogram never cross Arrow).
    Repartitions first: audio batches often arrive as one file and the
    decode+FFT work must fan out (the same single-file pitfall
    with_minhash guards against)."""

    @F.pandas_udf(ArrayType(LongType()))
    def _fp(raw: pd.Series, codec: pd.Series, sr_hz: pd.Series) -> pd.Series:
        out = []
        for bts, c, sr in zip(raw, codec, sr_hz):
            if bts is None or c is None or not sr:
                out.append(None)
                continue
            w = fingerprint_words(decode_clip(bts, c), int(sr), n_mels, n_fft, hop)
            out.append([int(v) for v in w])
        return pd.Series(out)

    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("id"),
        _fp(F.col(bytes_col), F.col(codec_col), F.col(sr_col)).alias("words"),
    )


def _half_tokens(fp: DataFrame) -> DataFrame:
    """(id, t, half, token): two 16-bit sub-word tokens per frame,
    split JVM-side from the words array; word-0 (all-silence) frames
    carry no index tokens."""
    pos = fp.select("id", F.posexplode("words").alias("t", "w")).filter(F.col("w") != 0)
    return pos.select(
        "id",
        "t",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("half"), (F.col("w").bitwiseAND(F.lit(0xFFFF))).alias("token")),
                F.struct(F.lit(1).alias("half"), F.shiftright("w", 16).alias("token")),
            )
        ).alias("ht"),
    ).select("id", "t", F.col("ht.half").alias("half"), F.col("ht.token").alias("token"))


def audio_neardup_pairs(
    df: DataFrame,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    id_col: str = "clip_id",
    max_ber: float = DEFAULT_MAX_BER,
    min_matches: int = DEFAULT_MIN_MATCHES,
    max_token_df: int = DEFAULT_MAX_TOKEN_DF,
) -> DataFrame:
    """Near-duplicate clip pairs ``(id_a < id_b, n_matches, lag, ber)``:
    half-token collision candidates → median-lag estimate → BER verify
    at that lag. Catches re-encodes across codecs, gain changes and
    hop-aligned time shifts of the same recording."""
    fp = with_audio_fingerprint(df, bytes_col, codec_col, sr_col, id_col)
    toks = _half_tokens(fp)
    # posting-list cap: distinct-clip df per token, drop hot tokens
    ok = (
        toks.groupBy("half", "token")
        .agg(F.countDistinct("id").alias("df"))
        .filter(F.col("df") <= max_token_df)
        .select("half", "token")
    )
    toks = toks.join(ok, on=["half", "token"], how="left_semi")
    a = toks.select(F.col("id").alias("id_a"), F.col("t").alias("ta"), "half", "token")
    b = toks.select(F.col("id").alias("id_b"), F.col("t").alias("tb"), "half", "token")
    cand = (
        a.join(b, on=["half", "token"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_matches"),
            F.expr("percentile_approx(tb - ta, 0.5)").cast("int").alias("lag"),
        )
        .filter(F.col("n_matches") >= min_matches)
    )

    # candidate-only verify: the fat word arrays join in once per side
    return (
        cand.join(fp.select(F.col("id").alias("id_a"), F.col("words").alias("wa")), on="id_a")
        .join(fp.select(F.col("id").alias("id_b"), F.col("words").alias("wb")), on="id_b")
        .withColumn("ber", ber_udf(F.col("wa"), F.col("wb"), F.col("lag")))
        .filter(F.col("ber") <= max_ber)
        .select("id_a", "id_b", "n_matches", "lag", "ber")
    )


def audio_exact_dedup(
    df: DataFrame,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    id_col: str = "clip_id",
) -> DataFrame:
    """Exact-content dedup ACROSS codecs: canonical-PCM digest (decode →
    int16 quantize → md5) computed in one Arrow stage, then the usual
    keep-lowest-id hash-groupBy. Raw-bytes md5 would miss the same
    recording stored under a different codec; int16 quantization makes
    the digest invariant to f32-vs-s16 representation (lossy companded
    codecs shift sample values and are near-dup territory —
    :func:`audio_neardup_pairs`)."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _digest(raw: pd.Series, codec: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for bts, c in zip(raw, codec):
            if bts is None or c is None:
                out.append(None)
                continue
            pcm = (np.clip(decode_clip(bts, c), -1.0, 1.0) * 32767.0).astype("<i2")
            out.append(hashlib.md5(pcm.tobytes()).hexdigest())
        return pd.Series(out)

    from pyspark.sql import Window

    w = Window.partitionBy("pcm_fp").orderBy(F.col(id_col))
    return (
        df.withColumn("pcm_fp", _digest(F.col(bytes_col), F.col(codec_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

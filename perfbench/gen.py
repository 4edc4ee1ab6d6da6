"""Seeded benchmark inputs and their oracles, built with numpy and pyarrow
only.

Nothing here imports ``dataflows_spark``: the codecs below are written from
the codec spec in the ``functions/audio.py`` module docstring, so a change
to the program's own generator (``sources/clips.py``) or encoder cannot
change what the benchmark feeds it. The same seed gives byte-identical
files. Each input set is written once under
``<root>/<workload>-seed<seed>-<size>/`` and reused while its ``_DONE``
marker exists.

Codec spec (from ``functions/audio.py``):

- ``pcm_s16le``: little-endian int16, scale 32767;
- ``pcm_f32le``: little-endian float32;
- ``ulaw`` / ``alaw``: continuous mu-law (mu=255) / A-law (A=87.6)
  companding, uniformly quantised to 8 bits as ``round((y + 1) * 127.5)``.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MU = 255.0
A_LAW = 87.6
LN_A_P1 = 1.0 + math.log(A_LAW)
BYTES_PER_SAMPLE = {"pcm_s16le": 2, "pcm_f32le": 4, "ulaw": 1, "alaw": 1}

# the clip mix of sources/clips.py: sample rates and a pcm_s16le-heavy codec skew
SAMPLE_RATES = np.array([8000, 16000, 22050, 44100])
SAMPLE_RATE_P = np.array([0.25, 0.45, 0.15, 0.15])
CODECS = np.array(["pcm_s16le", "pcm_f32le", "ulaw", "alaw"])
CODEC_P = np.array([0.82, 0.06, 0.06, 0.06])
WORDS = np.array(
    "the quick brown fox jumps over lazy dog audio clip stream spark window join "
    "state water mark late data exactly once hello world alpha beta gamma delta".split()
)
BASE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
WINDOW_S = 3600

CLIP_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("event_time", pa.timestamp("us", tz="UTC")),
    ]
)
AUDIO_SCHEMA = pa.schema(
    [("clip_id", pa.string()), ("bytes", pa.binary()), ("codec", pa.string()), ("sr_hz", pa.int32())]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def encode(x: np.ndarray, codec: str) -> bytes:
    x = np.clip(np.asarray(x, dtype=np.float32), -1.0, 1.0)
    if codec == "pcm_s16le":
        return (x * 32767.0).astype("<i2").tobytes()
    if codec == "pcm_f32le":
        return x.astype("<f4").tobytes()
    if codec == "ulaw":
        y = np.sign(x) * np.log1p(MU * np.abs(x)) / np.log1p(MU)
    elif codec == "alaw":
        ax = np.abs(x)
        small = A_LAW * ax / LN_A_P1
        large = (1.0 + np.log(np.maximum(ax, 1.0 / A_LAW) * A_LAW)) / LN_A_P1
        y = np.sign(x) * np.where(ax < 1.0 / A_LAW, small, large)
    else:
        raise ValueError(f"unknown codec: {codec}")
    return np.round((y + 1.0) * 127.5).astype(np.uint8).tobytes()


def decode(raw: bytes, codec: str) -> np.ndarray:
    if codec == "pcm_s16le":
        return np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32767.0
    if codec == "pcm_f32le":
        return np.frombuffer(raw, dtype="<f4").astype(np.float32)
    y = np.frombuffer(raw, dtype=np.uint8).astype(np.float32) / 127.5 - 1.0
    ay = np.abs(y)
    if codec == "ulaw":
        return (np.sign(y) * np.expm1(ay * np.log1p(MU)) / MU).astype(np.float32)
    if codec == "alaw":
        lin = ay * LN_A_P1 / A_LAW
        exp = np.exp(ay * LN_A_P1 - 1.0) / A_LAW
        return (np.sign(y) * np.where(ay < 1.0 / LN_A_P1, lin, exp)).astype(np.float32)
    raise ValueError(f"unknown codec: {codec}")


def _signal(rng: np.random.Generator, sr: int, n: int) -> np.ndarray:
    """Two tones plus noise, the signal model of sources/clips.py."""
    t = np.arange(n, dtype=np.float32) / sr
    f0, f1 = rng.uniform(80, 1200), rng.uniform(1200, 3500)
    x = 0.5 * np.sin(2 * np.pi * f0 * t) + 0.25 * np.sin(2 * np.pi * f1 * t)
    x = x + 0.05 * rng.standard_normal(n, dtype=np.float32)
    return np.clip(x, -0.999, 0.999).astype(np.float32)


def _expected_samples(dur_ms: int, sr: int) -> int:
    # Spark's round() is half-up: the duration check in functions/audio.py
    return int(math.floor(dur_ms * sr / 1000.0 + 0.5))


def clip_table(seed: int, n: int) -> pa.Table:
    """``n`` clips of 100-400 ms (about 9.6 KB of payload each) in id order.
    About 1% declare a duration their payload does not have, so the
    duration filter drops them; transcripts are sometimes null, empty or
    padded; event time advances one second per clip and 5% of clips
    arrive 2-10 minutes late."""
    rng = np.random.default_rng([seed, 1])
    srs = rng.choice(SAMPLE_RATES, size=n, p=SAMPLE_RATE_P)
    codecs = rng.choice(CODECS, size=n, p=CODEC_P)
    durs = rng.integers(100, 401, size=n)
    payloads, declared, transcripts, times = [], [], [], []
    for k in range(n):
        sr, codec, dur = int(srs[k]), str(codecs[k]), int(durs[k])
        payloads.append(encode(_signal(rng, sr, _expected_samples(dur, sr)), codec))
        declared.append(dur + int(rng.integers(50, 500)) if rng.random() < 0.01 else dur)
        r = rng.random()
        if r < 0.01:
            transcripts.append(None)
        elif r < 0.03:
            transcripts.append("")
        else:
            words = " ".join(WORDS[rng.integers(0, len(WORDS), int(rng.integers(3, 12)))])
            transcripts.append(f"  {words}  " if r < 0.05 else words)
        offset = k + rng.uniform(-0.5, 0.5)
        if rng.random() < 0.05:
            offset -= rng.uniform(120, 600)
        times.append(int((BASE_EPOCH_S + offset) * 1e6))
    ids = [f"clip-{k:012d}" for k in range(n)]
    return pa.table(
        [ids, payloads, srs.astype(np.int32), declared, codecs.tolist(), transcripts, times],
        schema=CLIP_SCHEMA,
    )


def chain_oracle(table: pa.Table) -> list[list]:
    """The chain's expected output, computed by decoding every clip here:
    rows ``[window_start_s, codec, n_clips, total_samples, mean_rms,
    transcript_chars]`` sorted by (window, codec), over the clips whose
    payload length matches their declared duration."""
    groups: dict[tuple[int, str], list] = {}
    cols = table.to_pydict()
    for raw, sr, dur, codec, text, ts in zip(
        cols["bytes"], cols["sr_hz"], cols["dur_ms"], cols["codec"], cols["transcript"], cols["event_time"]
    ):
        actual = len(raw) // BYTES_PER_SAMPLE[codec]
        if abs(actual - _expected_samples(dur, sr)) > 1:
            continue
        x = decode(raw, codec).astype(np.float64)
        rms = float(np.sqrt(np.mean(x * x))) if len(x) else 0.0
        epoch_s = ts.timestamp()
        key = (int(epoch_s // WINDOW_S) * WINDOW_S, codec)
        g = groups.setdefault(key, [0, 0, 0.0, 0])
        g[0] += 1
        g[1] += len(x)
        g[2] += rms
        g[3] += len(" ".join((text or "").split()))
    return [[w, c, g[0], g[1], g[2] / g[0], g[3]] for (w, c), g in sorted(groups.items())]


def _write(table: pa.Table, path: str, mtime: int) -> None:
    # one row group per file, and file mtimes in id order: the streaming
    # file source admits files oldest first
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    os.utime(path, (mtime, mtime))


def _cached(root: str, name: str, build) -> str:
    """Build ``root/name`` once; a set without its ``_DONE`` marker is
    rebuilt from scratch. Older sets are evicted, keeping the three most
    recently used, so a long series of seeds stays small on disk."""
    path = os.path.join(root, name)
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(done, "w"):
        pass
    sets = [os.path.join(root, d) for d in os.listdir(root) if os.path.exists(os.path.join(root, d, "_DONE"))]
    for old in sorted(sets, key=lambda d: os.path.getmtime(os.path.join(d, "_DONE")))[:-3]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def _save_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


def load_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def chain_batch_inputs(root: str, seed: int, n_clips: int, n_files: int) -> str:
    """``clips/`` (``n_files`` parquet files) and ``oracle.json``."""

    def build(path: str) -> None:
        table = clip_table(seed, n_clips)
        os.makedirs(os.path.join(path, "clips"))
        per = -(-n_clips // n_files)
        for f in range(n_files):
            _write(table.slice(f * per, per), os.path.join(path, "clips", f"part-{f:05d}.parquet"), BASE_EPOCH_S + f)
        _save_json(os.path.join(path, "oracle.json"), chain_oracle(table))

    return _cached(root, f"chain_batch-seed{seed}-{n_clips}x{n_files}", build)


def chain_stream_inputs(root: str, seed: int, rows_per_file: int, triggers: int, warmup: int, cores: int) -> str:
    """For a level of ``cores`` cores that admits ``cores`` files per
    trigger: ``src_<cores>/`` holds ``triggers * cores`` files of
    ``rows_per_file`` clips, so rows per trigger scale with cores;
    ``warmup_<cores>/`` holds ``warmup * cores`` such files from another
    seed stream; ``oracle_<cores>.json`` is the expected output of
    ``src_<cores>``."""

    def build(path: str) -> None:
        for sub, n_trig, sub_seed in (("src", triggers, seed), ("warmup", warmup, seed + 1_000_003)):
            table = clip_table(sub_seed, rows_per_file * n_trig * cores)
            os.makedirs(os.path.join(path, f"{sub}_{cores}"))
            for f in range(n_trig * cores):
                out = os.path.join(path, f"{sub}_{cores}", f"part-{f:05d}.parquet")
                _write(table.slice(f * rows_per_file, rows_per_file), out, BASE_EPOCH_S + f)
            if sub == "src":
                _save_json(os.path.join(path, f"oracle_{cores}.json"), chain_oracle(table))

    return _cached(root, f"chain_stream-seed{seed}-{rows_per_file}x{triggers}+{warmup}-c{cores}", build)


def _audio_clip(rng: np.random.Generator, clip_id: str) -> dict:
    sr = int(rng.choice(SAMPLE_RATES, p=SAMPLE_RATE_P))
    codec = str(rng.choice(CODECS, p=CODEC_P))
    n = _expected_samples(int(rng.integers(1000, 3001)), sr)
    return {"clip_id": clip_id, "bytes": encode(_signal(rng, sr, n), codec), "codec": codec, "sr_hz": sr}


def audio_dedup_inputs(root: str, seed: int, batch: int, planted: int, batches: int) -> str:
    """``in/`` holds one file per micro-batch of ``batch`` id-ordered
    1-3 s clips; every file after the first adds ``planted`` copies of
    clips from earlier files, each a ulaw re-encode at 0.9x gain under a
    fresh ``<id>-re`` id. ``warmup/`` is two small batches of another
    seed stream; ``expected.json`` lists base and planted ids."""

    def build(path: str) -> None:
        rng = np.random.default_rng([seed, 2])
        base: list[dict] = []
        planted_ids: list[str] = []
        planted_set: set[str] = set()
        os.makedirs(os.path.join(path, "in"))
        for b in range(batches):
            rows = [_audio_clip(rng, f"clip-{len(base) + k:012d}") for k in range(batch)]
            if b:
                fresh = [i for i in range(len(base)) if base[i]["clip_id"] + "-re" not in planted_set]
                for i in rng.choice(fresh, size=planted, replace=False):
                    orig = base[int(i)]
                    planted_set.add(orig["clip_id"] + "-re")
                    x = 0.9 * decode(orig["bytes"], orig["codec"])
                    rows.append(
                        {"clip_id": orig["clip_id"] + "-re", "bytes": encode(x, "ulaw"), "codec": "ulaw", "sr_hz": orig["sr_hz"]}
                    )
                    planted_ids.append(orig["clip_id"] + "-re")
            base.extend(rows[:batch])
            _write(pa.Table.from_pylist(rows, schema=AUDIO_SCHEMA), os.path.join(path, "in", f"part-{b:05d}.parquet"), BASE_EPOCH_S + b)
        wrng = np.random.default_rng([seed, 3])
        os.makedirs(os.path.join(path, "warmup"))
        for b in range(2):
            rows = [_audio_clip(wrng, f"warm-{b}-{k:06d}") for k in range(batch)]
            _write(pa.Table.from_pylist(rows, schema=AUDIO_SCHEMA), os.path.join(path, "warmup", f"part-{b:05d}.parquet"), BASE_EPOCH_S + b)
        _save_json(os.path.join(path, "expected.json"), {"base": [r["clip_id"] for r in base], "planted": planted_ids})

    return _cached(root, f"audio_dedup_stream-seed{seed}-{batch}+{planted}x{batches}", build)


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, size=size)
    return ["".join(letters[rng.integers(0, 26, int(k))]) for k in lens]


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """The same document with one letter of one token replaced."""
    tokens = text.split(" ")
    t = int(rng.integers(0, len(tokens)))
    tok = tokens[t]
    p = int(rng.integers(0, len(tok)))
    new = chr(ord("a") + (ord(tok[p]) - ord("a") + 1 + int(rng.integers(0, 25))) % 26)
    tokens[t] = tok[:p] + new + tok[p + 1 :]
    return " ".join(tokens)


def text_dedup_inputs(root: str, seed: int, batch: int, planted: int, batches: int) -> str:
    """``in/`` holds one file per micro-batch of ``batch`` documents of
    900-1200 tokens drawn uniformly from a 100k-word vocabulary, so
    distinct documents share almost no 5-grams. Every file after the
    first adds ``planted`` exact copies and ``planted`` one-token near
    copies of earlier documents under fresh ids. ``warmup/`` and
    ``expected.json`` as for the audio workload."""

    def build(path: str) -> None:
        rng = np.random.default_rng([seed, 4])
        vocab = np.array(_vocabulary(rng, 100_000))

        def doc() -> str:
            return " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(900, 1201)))])

        base_ids: list[int] = []
        base_text: list[str] = []
        planted_ids: list[int] = []
        used: set[int] = set()
        os.makedirs(os.path.join(path, "in"))
        for b in range(batches):
            ids = list(range(len(base_ids), len(base_ids) + batch))
            texts = [doc() for _ in ids]
            if b:
                fresh = [i for i in range(len(base_ids)) if i not in used]
                for j, i in enumerate(rng.choice(fresh, size=2 * planted, replace=False)):
                    i = int(i)
                    used.add(i)
                    pid = 1_000_000_000 + len(planted_ids)
                    ids.append(pid)
                    texts.append(base_text[i] if j % 2 == 0 else _near_copy(rng, base_text[i]))
                    planted_ids.append(pid)
            base_ids.extend(ids[:batch])
            base_text.extend(texts[:batch])
            _write(pa.table([ids, texts], schema=DOC_SCHEMA), os.path.join(path, "in", f"part-{b:05d}.parquet"), BASE_EPOCH_S + b)
        os.makedirs(os.path.join(path, "warmup"))
        for b in range(2):
            ids = [2_000_000_000 + b * batch + k for k in range(batch)]
            _write(pa.table([ids, [doc() for _ in ids]], schema=DOC_SCHEMA), os.path.join(path, "warmup", f"part-{b:05d}.parquet"), BASE_EPOCH_S + b)
        _save_json(os.path.join(path, "expected.json"), {"base": base_ids, "planted": planted_ids})

    return _cached(root, f"text_dedup_stream-seed{seed}-{batch}+{planted}x{batches}", build)

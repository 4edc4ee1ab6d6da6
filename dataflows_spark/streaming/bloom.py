"""Per-bucket Bloom-filter sidecars for :class:`_BucketedIndex`.

THE PROBLEM (measured, round-7 sf10 bench): bucket pruning only
shrinks a per-batch index read while the batch's distinct keys are
≪ ``num_buckets``. A 100k-doc micro-batch over 320 buckets touches
every bucket, so each batch equi-joins against the ENTIRE accumulated
index — O(index) rows shuffled per batch, per-batch wall time growing
linearly with corpus size (21 s → 44 s over 12 batches at sf10).

THE FIX (the standard LSM / streaming-dedup membership-sketch design):
each ``batch_id=N`` dir of a bucketed index carries a parquet sidecar
of per-bucket Bloom filters over that dir's key values. Before a
micro-batch joins the index, its keys are screened through the blooms
EXECUTOR-SIDE; only *suspects* — true duplicates plus a ~0.06 % false
-positive residue — proceed to the (now genuinely pruned) index join,
where the exact equi-join verifies them. Blooms have no false
negatives, so results are bit-identical to the unscreened path; the
per-batch index-join cost drops from O(index) to O(batch + matches).

SCALE SHAPE: nothing here is driver-bound or broadcast-bound. Blobs
are built with a ``groupBy(bucket).applyInPandas`` over the batch's
keys (O(batch) narrow shuffle, numpy bit-setting); the check is a
``cogroup(...).applyInPandas`` of batch keys against blob rows on the
bucket id (each task sees one bucket's keys + its ≤ a-few-KB blobs —
per-bucket blob size is O(corpus / num_buckets) and stays constant
under the buckets-∝-corpus sizing rule, so no task ever materializes
global state). Sidecars total ~2 bytes/key — 3 orders of magnitude
narrower than the index rows they screen.

HASHING: both build and check derive two 64-bit hashes JVM-side
(``xxhash64(key)`` / ``xxhash64(key, SALT)``) so the Python side does
only vectorized numpy arithmetic — positions follow the standard
Kirsch–Mitzenmacher double-hashing scheme ``(h1 + i·h2) mod nbits``
(uint64 wraparound is identical on both sides by construction).

Reference parity note: the reference engine deduplicates in-memory
per process (``/root/reference/dataflows/processors/deduplicate.py``)
and needs no sketch; this module exists for the incremental-at-scale
regime the reference never enters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

#: second-hash salt (any constant; pinned forever — blobs persist it
#: implicitly through their bit patterns)
_SALT = 0x9E3779B97F4A7C15 & 0x7FFFFFFFFFFFFFFF  # keep it a valid long literal
#: bits per key (16 → ~0.06 % FPR at k=8); blob size rounds up to bytes
_BITS_PER_KEY = 16
#: number of probe positions per key
_K = 8

#: sidecar dir name inside each ``batch_id=N`` dir — the leading
#: underscore makes Spark's file discovery skip it, so data reads of
#: the batch dir never see blob rows
SIDECAR = "_blooms"

_BLOB_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("n_keys", LongType()),
        StructField("k", IntegerType()),
        StructField("nbits", LongType()),
        # the second-hash salt the blob was built under: a blob built
        # under a DIFFERENT salt cannot be tested (its bit positions
        # are unrelated to the query hashes) — the check treats such a
        # blob as "everything suspect" (conservative, never a false
        # negative) instead of silently mis-screening
        StructField("salt", LongType()),
        StructField("bits", BinaryType()),
    ]
)


def _hashed(df: DataFrame, key, bucket_expr) -> DataFrame:
    """Narrow (bucket, h1, h2) projection of a key column — all three
    computed JVM-side (codegen) so the pandas stages never hash."""
    return df.select(
        bucket_expr.alias("bucket"),
        F.xxhash64(key).alias("h1"),
        F.xxhash64(key, F.lit(_SALT)).alias("h2"),
    )


def _uint64(col):
    import numpy as np

    return col.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)


def _positions(h1, h2, i: int, nbits: int):
    """Kirsch–Mitzenmacher probe i. ``nbits`` is always a power of two
    and ``h2`` is forced ODD, so the per-key probe sequence is a unit
    step mod nbits — without both, shared factors between h2 and the
    modulus collapse the k probes onto a few positions (measured: 40×
    the theoretical FPR with nbits=16·n and raw h2)."""
    import numpy as np

    return (h1 + np.uint64(i) * (h2 | np.uint64(1))) & np.uint64(nbits - 1)


def build_blobs(df: DataFrame, key, bucket_expr) -> DataFrame:
    """Per-bucket Bloom blobs for ``df``'s key column: one row per
    touched bucket, ``(bucket, n_keys, k, nbits, bits)``. Distributed:
    one applyInPandas task per bucket group, numpy bit-setting."""

    def _build(pdf):
        import numpy as np
        import pandas as pd

        h1, h2 = _uint64(pdf["h1"]), _uint64(pdf["h2"])
        n = len(pdf)
        # next power of two ≥ 16·n (≤ 4 bytes/key worst case) — the
        # power-of-two modulus is load-bearing, see _positions
        nbits = max(64, 1 << (n * _BITS_PER_KEY - 1).bit_length())
        arr = np.zeros(nbits // 8, dtype=np.uint8)
        for i in range(_K):
            pos = _positions(h1, h2, i, nbits)
            np.bitwise_or.at(arr, (pos >> np.uint64(3)).astype(np.int64), np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "n_keys": [n],
                "k": [_K],
                "nbits": [nbits],
                "salt": [_SALT],
                "bits": [arr.tobytes()],
            }
        )

    return _hashed(df, key, bucket_expr).groupBy("bucket").applyInPandas(_build, _BLOB_SCHEMA)


def write_sidecar(df: DataFrame, key, bucket_expr, batch_dir: str) -> None:
    """Build + persist the blob sidecar for one ``batch_id=N`` dir.
    Runs AFTER the dir's data write and BEFORE the owning sink's commit
    marker, so replay (which overwrites the whole dir) regenerates it
    and a crash in between is covered by the marker protocol."""
    blobs = build_blobs(df, key, bucket_expr)
    # blob rows are O(touched buckets) and tiny — land them in one file
    # (repartition AFTER the wide build so the build still fans out)
    blobs.repartition(1).write.mode("overwrite").parquet(os.path.join(batch_dir, SIDECAR))


def partition_dirs(root: str, prefix: str = "batch_id="):
    """``(value, path)`` of every ``<prefix><int>`` subdir of ``root``
    (nothing when ``root`` is missing; unparseable names are skipped).
    The one walk of the ``batch_id=N/<bucket_col>=K`` index tree:
    applied to a table root it yields batch dirs, applied to a batch
    dir with ``prefix='<bucket_col>='`` it yields bucket leaves."""
    if not os.path.isdir(root):
        return
    for e in os.listdir(root):
        if e.startswith(prefix):
            try:
                value = int(e[len(prefix):])
            except ValueError:
                continue
            yield value, os.path.join(root, e)


def _sidecar_files(index_path: str, exclude_batch: int):
    """``(sidecar dir, its file names)`` of every ``batch_id !=
    exclude_batch`` dir; the list is empty when the dir has no sidecar."""
    for bid, bdir in partition_dirs(index_path):
        if bid != exclude_batch:
            side = os.path.join(bdir, SIDECAR)
            yield side, os.listdir(side) if os.path.isdir(side) else []


def read_blobs(
    spark: SparkSession, index_path: str, exclude_batch: int
) -> DataFrame | None:
    """All blob rows of every ``batch_id != exclude_batch`` dir, or
    ``None`` if the table is missing or ANY such dir lacks a sidecar (a
    pre-Bloom index: the caller must fall back to the unscreened path —
    correctness never depends on sidecars existing)."""
    if not os.path.isdir(index_path):
        return None
    paths = []
    for side, files in _sidecar_files(index_path, exclude_batch):
        # pass the PART FILES, not the underscore dir: Spark's file
        # listing deliberately skips _-prefixed entries (that is what
        # hides the sidecar from data reads of the batch dir), so the
        # sidecar dir itself must never be handed to the reader
        parts = [
            os.path.join(side, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        if not parts:
            return None  # mixed-era index → screen cannot be trusted
        paths.extend(parts)
    if not paths:
        return spark.createDataFrame([], _BLOB_SCHEMA)
    return spark.read.schema(_BLOB_SCHEMA).parquet(*paths)


def sidecar_bytes(index_path: str, exclude_batch: int) -> int:
    """Filesystem bytes of every eligible sidecar — the screen's own
    read cost, charged into the bench's read-bytes accounting."""
    return sum(
        os.path.getsize(p)
        for side, files in _sidecar_files(index_path, exclude_batch)
        for p in (os.path.join(side, f) for f in files)
        if os.path.isfile(p)
    )


def screen(keys_df: DataFrame, key, bucket_expr, blobs: DataFrame) -> DataFrame:
    """Rows of ``keys_df`` whose key MIGHT be in the index (no false
    negatives): cogrouped per-bucket membership test. A bucket with
    keys but no blob row has no index data → its keys are definitely
    new and are dropped here; false positives survive to the exact
    index join, which verifies them."""
    out_schema = keys_df.schema
    cols = [f.name for f in out_schema.fields]

    def _check(left, right):
        import numpy as np

        if len(left) == 0 or len(right) == 0:
            return left[cols].iloc[0:0]
        h1, h2 = _uint64(left["__h1"]), _uint64(left["__h2"])
        sus = np.zeros(len(left), dtype=bool)
        for _, blob in right.iterrows():
            if int(blob["salt"]) != _SALT:
                return left[cols]  # untestable blob → everything suspect
            nbits = int(blob["nbits"])
            bits = np.frombuffer(blob["bits"], dtype=np.uint8)
            ok = np.ones(len(left), dtype=bool)
            for i in range(int(blob["k"])):
                pos = _positions(h1, h2, i, nbits)
                byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
                ok &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
                if not ok.any():
                    break
            sus |= ok
            if sus.all():
                break
        return left.loc[sus, cols]

    keyed = (
        keys_df.withColumn("__bkt", bucket_expr)
        .withColumn("__h1", F.xxhash64(key))
        .withColumn("__h2", F.xxhash64(key, F.lit(_SALT)))
    )
    return (
        keyed.groupBy("__bkt")
        .cogroup(blobs.groupBy(F.col("bucket").alias("__bkt")))
        .applyInPandas(_check, out_schema)
    )

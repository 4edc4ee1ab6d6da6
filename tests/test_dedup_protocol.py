"""The incremental-dedup protocol shared by the three streaming dedup
sinks (streaming/curation.py ``_IncrementalDedupSink``), checked once
per sink on tiny inputs: replay is a no-op, every commit marker
carries the survivor row count of its batch dir, inline leveled
compaction seals the same dirs in every index table, and the opt-in
metrics series is well formed."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dataflows_spark.streaming import (
    StreamingAudioDeduper,
    StreamingCorpusCleaner,
    StreamingEmbeddingDeduper,
)
from tests.test_audio_dedup_stream import _rows


def _text(spark, sf_dir, path):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select("doc_id", "text")
    batches = [docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 40)) for lo in (0, 40, 80)]
    # an exact copy of a batch-0 doc under a fresh id: a cross-index drop
    batches[2] = batches[2].unionByName(
        docs.filter(F.col("doc_id") == 3).withColumn("doc_id", F.lit(900003).cast("bigint"))
    )
    sink = StreamingCorpusCleaner(path, num_buckets=4, collect_metrics=True, compact_every=2)
    return sink, batches, ("fps", "bands", "docs")


def _embedding(spark, sf_dir, path):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    batches = [emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 40)) for lo in (0, 40, 80)]
    batches[2] = batches[2].unionByName(
        emb.filter(F.col("vec_id") == 3).withColumn("vec_id", F.lit(900003).cast("bigint"))
    )
    sink = StreamingEmbeddingDeduper(
        path, dim=64, bits=8, num_buckets=4, collect_metrics=True, compact_every=2
    )
    return sink, batches, ("",)


def _audio(spark, sf_dir, path):
    specs = [
        [(10, 300, "pcm_s16le", 1.0, 0), (11, 301, "pcm_s16le", 1.0, 0)],
        [(100, 300, "ulaw", 1.0, 0), (20, 320, "pcm_s16le", 1.0, 0)],
        [(101, 320, "alaw", 1.0, 0), (21, 321, "pcm_s16le", 1.0, 0)],
    ]
    sink = StreamingAudioDeduper(path, num_buckets=4, collect_metrics=True, compact_every=2)
    return sink, [_rows(spark, s) for s in specs], ("toks", "words")


@pytest.mark.parametrize("make", [_text, _embedding, _audio], ids=["text", "embedding", "audio"])
def test_dedup_sink_protocol(spark, sf_dir, tmp_path, make):
    sink, batches, tables = make(spark, sf_dir, str(tmp_path / "out"))
    for i, b in enumerate(batches):
        sink(b, i)
    survivors = sorted(tuple(r) for r in sink.read(spark).collect())
    assert sink.committed_batches() == [0, 1, 2]

    # (a) a replayed committed batch is a no-op: no Spark job, no change
    sc = spark.sparkContext
    sc.setJobGroup("protocol_replay", "replay")
    try:
        sink(batches[2], 2)
        assert sc.statusTracker().getJobIdsForGroup("protocol_replay") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(tuple(r) for r in sink.read(spark).collect()) == survivors

    # (b) each marker's rows equals the rows of its batch dir
    dropped = 0
    for b in sink.committed_batches():
        with open(sink._commit_marker(b)) as fh:
            marker = json.load(fh)
        n = spark.read.parquet(os.path.join(sink.data_dir, f"batch_id={b}")).count()
        assert marker == {"batch_id": b, "rows": n}
        dropped += batches[b].count() - n
    assert dropped >= 1  # the planted copy of a batch-0 row dropped

    # (c) compact_every=2 after batches 0..2: batches 0-1 merged into a
    # sealed level named by the newest merged id, batch 2 left as the
    # tail — in EVERY index table of the sink
    for t in tables:
        tdir = os.path.join(sink.path, "state", "index", t)
        dirs = sorted(e for e in os.listdir(tdir) if e.startswith("batch_id="))
        assert dirs == ["batch_id=1", "batch_id=2"], (t, dirs)
        assert os.path.exists(os.path.join(tdir, "batch_id=1", "_compacted.json")), t
        assert not os.path.exists(os.path.join(tdir, "batch_id=2", "_compacted.json")), t

    # (d) one metrics entry per committed batch, read bytes ≤ total
    assert [m["batch_id"] for m in sink.batch_metrics] == [0, 1, 2]
    for m in sink.batch_metrics:
        assert set(m) == {"batch_id", "index_read_bytes", "index_total_bytes"}
        assert 0 <= m["index_read_bytes"] <= m["index_total_bytes"]
    assert sink.batch_metrics[0]["index_total_bytes"] == 0  # nothing indexed yet
    assert sink.batch_metrics[2]["index_read_bytes"] > 0

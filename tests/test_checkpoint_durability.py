"""Durability of streaming commit files: the checkpoint file manager
``build_session`` selects, resuming a checkpoint written by Spark's
default manager, Spark's checksum sidecars, and the fsynced sink marker."""

import datetime as dt
import json
import os
import stat

from dataflows_spark.streaming import ExactlyOnceParquetSink, start_exactly_once_query, tumbling_window_agg
from dataflows_spark.streaming.sink import _atomic_write

FS_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
FC_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
SCHEMA = "k string, ts timestamp, v double"
AGGS = {"n": {"aggregate": "count"}, "total": {"name": "v", "aggregate": "sum"}}


def test_session_uses_filesystem_checkpoint_manager(spark):
    assert spark.conf.get(MANAGER_CONF) == FS_MANAGER


def test_resume_filecontext_checkpoint_under_filesystem_manager(spark, tmp_path):
    """Two batches checkpointed by Spark's FileContext manager, then two
    more after a restart under the session's FileSystem manager: the
    sink holds one marker per Spark commit, each marker's rows match its
    batch dir, and the latest row per key equals the batch aggregation."""
    in_dir, cp, out = (str(tmp_path / d) for d in ("in", "cp", "out"))

    def feed(i):
        rows = [(k, dt.datetime(2024, 1, 1, 0, 3 * i + j), float(10 * i + j)) for k in "ab" for j in range(3)]
        spark.createDataFrame(rows, schema=SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(in_dir)
        agg = tumbling_window_agg(stream, "ts", "5 minutes", ["k"], AGGS, watermark="1 hour")
        sink = ExactlyOnceParquetSink(out, dedup_keys=["k", "window_start"])
        q = start_exactly_once_query(agg, sink, cp)
        q.processAllAvailable()
        q.stop()
        return sink

    feed(0)
    feed(1)
    default = spark.conf.get(MANAGER_CONF)
    spark.conf.set(MANAGER_CONF, FC_MANAGER)
    try:
        run()
    finally:
        spark.conf.set(MANAGER_CONF, default)
    feed(2)
    feed(3)
    sink = run()

    spark_commits = sorted(int(f) for f in os.listdir(os.path.join(cp, "commits")) if f.isdigit())
    assert len(spark_commits) >= 4
    assert sink.committed_batches() == spark_commits
    for b in spark_commits:
        with open(os.path.join(out, "_commits", f"{b}.json")) as fh:
            marker = json.load(fh)
        assert marker["rows"] == spark.read.parquet(os.path.join(out, "data", f"batch_id={b}")).count()

    def keyed(df):
        return sorted((r["k"], r["window_start"], r["n"], r["total"]) for r in df.collect())

    expected = tumbling_window_agg(spark.read.schema(SCHEMA).parquet(in_dir), "ts", "5 minutes", ["k"], AGGS)
    assert keyed(sink.read(spark)) == keyed(expected)

    # Spark's checksum sidecar is written for every committed state version
    changelogs = [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(os.path.join(cp, "state"))
        for f in files
        if f.endswith(".changelog")
    ]
    assert changelogs
    assert all(os.path.exists(f + ".crc") for f in changelogs)


def test_atomic_write_fsyncs_file_then_directory(tmp_path, monkeypatch):
    synced = []
    real_fsync = os.fsync

    def spy(fd):
        synced.append("dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "file")
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", spy)
    marker = str(tmp_path / "7.json")
    _atomic_write(marker, {"batch_id": 7, "rows": 3})
    assert synced == ["file", "dir"]
    with open(marker) as fh:
        assert json.load(fh) == {"batch_id": 7, "rows": 3}
    assert os.listdir(tmp_path) == ["7.json"]

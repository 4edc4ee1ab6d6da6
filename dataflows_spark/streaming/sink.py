"""Exactly-once sinks.

The reference's exactly-once story is ``dump_to_sql(mode='update')``
(upsert on ``update_keys``, reference ``processors/dumpers/
to_sql.py:103-140``) plus the ``checkpoint`` processor's resume
semantics. Structured-Streaming-native re-expression:

- :class:`ExactlyOnceParquetSink` — ``foreachBatch`` + per-batchId
  commit markers. Spark replays a failed micro-batch with the SAME
  batch_id and (with a deterministic source + checkpointLocation) the
  same data; writing each batch to its own directory and committing it
  with an atomic marker makes re-delivery a no-op. This is the
  documented idempotent-``foreachBatch`` pattern and scales linearly —
  no read-modify-write of existing data.

- :class:`KeyedMergeSink` — per-batch MERGE-by-key (upsert). Two
  physical paths behind one API (SURVEY.md §7.4 item 6): pass
  ``iceberg_table=`` and (gated on
  :func:`~dataflows_spark.sources.table.iceberg_available`) each batch
  runs a real SQL ``MERGE INTO`` against the Iceberg catalog table —
  file-skipping, no snapshot rewrite; the default path merges into a
  snapshot-pointer parquet table
  (:class:`~dataflows_spark.sources.table.SnapshotTable`), the
  in-sandbox fallback where the Iceberg runtime jar is absent.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.table import SnapshotTable, iceberg_available


def _atomic_write(path: str, payload: dict) -> None:
    """Write ``payload`` as JSON to ``path`` atomically and durably: the
    temp file is fsynced before the rename, and the parent directory
    after it, so a power loss cannot leave a committed marker that is
    empty or whose rename is lost."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, path)
    dir_fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)


def committed_ids(commit_dir: str) -> list[int]:
    """Sorted batch ids of the commit markers in a ``_commits`` dir."""
    return sorted(int(f.split(".")[0]) for f in os.listdir(commit_dir) if f.endswith(".json"))


#: FileOutputCommitter v2 as a PER-WRITE option, scoped to the
#: marker-gated batch_id-dir writes (sink batches, bucketed index
#: batches, compaction/rebucket tmp dirs). v2 commits task output with
#: parallel in-task renames instead of one sequential driver-side job
#: commit — dynamic-partition writes touching hundreds of bucket dirs
#: per micro-batch commit in O(dirs/cores). v2's weaker atomicity
#: (files visible before job commit; a task-commit retry can duplicate
#: part-files within a "successful" job, MAPREDUCE-7282) is acceptable
#: ONLY because these writes land in a directory that is (a) invisible
#: to readers until its commit marker / dir-swap appears and (b)
#: mode("overwrite")-replaced wholesale on any replay. It is
#: deliberately NOT set session-wide: user pipelines and mode("append")
#: writes need v1's job-commit atomicity (a failed v2 append leaves
#: visible partial files a retry would duplicate).
V2_COMMITTER = {"mapreduce.fileoutputcommitter.algorithm.version": "2"}


class ExactlyOnceParquetSink:
    """Append-only exactly-once sink: one parquet dir per micro-batch +
    atomic commit markers. Replayed batch_ids are skipped."""

    def __init__(self, path: str, dedup_keys: list[str] | None = None):
        self.path = path
        self.dedup_keys = dedup_keys
        self.data_dir = os.path.join(path, "data")
        self.commit_dir = os.path.join(path, "_commits")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.commit_dir, exist_ok=True)

    def _commit_marker(self, batch_id: int) -> str:
        return os.path.join(self.commit_dir, f"{batch_id}.json")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._commit_marker(batch_id))

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replayed micro-batch → exactly-once no-op
        if self.dedup_keys:
            df = df.dropDuplicates(self.dedup_keys)
        self._commit_batch(df, batch_id)

    def _commit_batch(
        self, df: DataFrame, batch_id: int, before_marker: Callable[[], None] | None = None
    ) -> None:
        """Write ``df`` as the ``batch_id=N`` data dir, run
        ``before_marker`` (further side effects of the batch, which a
        crash before the marker replays), then commit with the atomic
        marker. The marker's row count rides the write itself via
        observe — a separate df.count() would re-evaluate the whole
        micro-batch (2× decode cost in the hot sink path)."""
        target = os.path.join(self.data_dir, f"batch_id={batch_id}")
        obs = Observation(f"sink_batch_{batch_id}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").options(
            **V2_COMMITTER
        ).parquet(target)
        if before_marker is not None:
            before_marker()
        _atomic_write(
            self._commit_marker(batch_id), {"batch_id": batch_id, "rows": obs.get.get("rows", 0)}
        )

    # foreachBatch entrypoint
    def __call__(self, df: DataFrame, batch_id: int) -> None:
        self.write_batch(df, batch_id)

    def committed_batches(self) -> list[int]:
        return committed_ids(self.commit_dir)

    def read(self, spark: SparkSession, latest_only: bool = True) -> DataFrame:
        """Union of committed batches. Under ``outputMode('update')`` an
        aggregation re-emits refined rows for the same key in later
        micro-batches; with ``dedup_keys`` set (and ``latest_only``), only
        the LATEST batch's row per key is returned so superseded versions
        never leak to readers (round-1 advisor finding). Without
        ``dedup_keys`` the raw append-log is returned."""
        committed = self.committed_batches()
        if not committed:
            raise FileNotFoundError(f"no committed batches under {self.path}")
        paths = [os.path.join(self.data_dir, f"batch_id={b}") for b in committed]
        df = spark.read.option("basePath", self.data_dir).parquet(*paths)
        if self.dedup_keys and latest_only:
            w = Window.partitionBy(*self.dedup_keys).orderBy(F.col("batch_id").desc())
            df = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
        return df.drop("batch_id")


class KeyedMergeSink:
    """Upsert-by-key sink (reference dump_to_sql 'update' mode analog):
    each micro-batch is MERGEd into the target keyed table, so
    re-delivery of a batch — or of individual rows across batches — is
    idempotent by construction.

    With ``iceberg_table='catalog.db.tbl'`` (and the Iceberg runtime on
    the classpath — checked via :func:`iceberg_available`, raises
    otherwise) each batch runs a real SQL ``MERGE INTO`` so the engine
    only rewrites files containing matched keys. Without it, ``path``
    names a :class:`SnapshotTable` parquet fallback with the same
    upsert semantics."""

    def __init__(
        self,
        path: str | None = None,
        keys: list[str] | None = None,
        ordering: str | None = None,
        iceberg_table: str | None = None,
    ):
        if not keys:
            raise ValueError("KeyedMergeSink requires merge keys")
        if (path is None) == (iceberg_table is None):
            raise ValueError("KeyedMergeSink takes exactly one of path= or iceberg_table=")
        self.table = SnapshotTable(path) if path else None
        self.iceberg_table = iceberg_table
        self.keys = keys
        self.ordering = ordering

    def _merge_iceberg(self, batch: DataFrame) -> None:
        spark = batch.sparkSession
        if not iceberg_available(spark):
            raise RuntimeError(
                f"iceberg_table={self.iceberg_table!r} requested but the Iceberg "
                "runtime jar is not on the classpath; use path= for the parquet "
                "SnapshotTable fallback"
            )
        if not spark.catalog.tableExists(self.iceberg_table):
            batch.writeTo(self.iceberg_table).using("iceberg").create()
            return
        view = f"__dfs_merge_src_{uuid.uuid4().hex[:8]}"
        batch.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in self.keys)
            spark.sql(
                f"MERGE INTO {self.iceberg_table} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            spark.catalog.dropTempView(view)

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        batch = df.dropDuplicates(self.keys)
        if self.iceberg_table:
            self._merge_iceberg(batch)
        else:
            self.table.merge(batch, self.keys)

    def read(self, spark: SparkSession) -> DataFrame:
        if self.iceberg_table:
            return spark.table(self.iceberg_table)
        return self.table.read(spark)


def start_exactly_once_query(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str | None = None,
):
    """Wire a streaming DataFrame to an idempotent foreachBatch sink
    with a checkpoint dir (offsets + state survive restarts —
    reference ``checkpoint.py`` resume semantics)."""
    writer = (
        df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()

"""Pipeline execution context: SparkSession + config + finalizer hooks."""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import SparkSession


class Context:
    def __init__(self, spark: SparkSession, **conf: Any):
        self.spark = spark
        self.conf = conf
        self._finalizers: list[Callable] = []

    def add_finalizer(self, fn: Callable) -> None:
        self._finalizers.append(fn)

    def run_finalizers(self, pkg) -> None:
        for fn in self._finalizers:
            # signature introspection failures (builtins/partials) fall back
            # to the no-arg form; errors raised INSIDE the finalizer must
            # propagate and must not trigger a duplicate second call
            import inspect

            try:
                wants_stats = len(inspect.signature(fn).parameters) >= 1
            except (TypeError, ValueError):
                wants_stats = False
            if wants_stats:
                fn(pkg.stats)
            else:
                fn()


def ensure_shipped(spark: SparkSession) -> None:
    """Make the dataflows_spark package importable inside Python workers
    of an externally-created SparkSession (the spark-submit --py-files
    equivalent, applied at runtime): zip the package once and
    ``addPyFile`` it. Safe to call repeatedly."""
    import hashlib
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # key the artifact on a content hash of the sources so edited code is
    # never served stale from a previous session's zip (round-1 advisor)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    h = hashlib.sha256()
    for full in sorted(sources):
        h.update(full.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    marker = f"_dfs_shipped_{digest}"
    if getattr(spark, marker, False):
        return
    zpath = os.path.join(tempfile.gettempdir(), f"dataflows_spark_auto_{digest}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath + ".tmp", "w") as zf:
            for full in sorted(sources):
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
        os.replace(zpath + ".tmp", zpath)
    spark.sparkContext.addPyFile(zpath)
    setattr(spark, marker, True)


def build_session(
    app_name: str = "dataflows_spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Opinionated SparkSession: AQE on, Arrow on, UTC, sane shuffle
    parallelism. In local mode sizes shuffle partitions to ~2× cores so
    task count ≫ cores (scaling-efficiency requirement)."""
    import os

    # make the package importable inside Python worker processes regardless
    # of the driver's cwd (spark-submit --py-files equivalent for local dev)
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.spill.compress", "true")
        # RocksDB-backed streaming state: the default in-memory/HDFS
        # provider holds every key in executor heap — the first casualty
        # of a long-running stream at 10^12-clip scale. RocksDB spills
        # state to local disk with incremental checkpointing; override
        # via extra_conf to fall back.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # Write checkpoint files (offsets, commits, source log, RocksDB
        # changelogs and their checksum sidecars) through the FileSystem
        # API instead of Spark's default FileContext manager. Without the
        # native Hadoop library, FileContext.rename resolves symlinks via
        # RawLocalFileSystem.getFileLinkStatus, which forks `readlink`
        # from the driver/executor JVM on every call: 3-4.5 ms per spawn
        # vs 0.19 ms for FileSystem.getFileStatus. On a 4-CPU host that
        # was 253-262 → 78 process creations per trigger, walCommit and
        # commitOffsets 25-29 → 5-7 ms each, and the RocksDB commit summed
        # over 4 partitions 230-314 → 8-17 ms. The manager is still
        # wrapped by ChecksumCheckpointFileManager (corruption detection
        # unchanged) and the checkpoint file layout is identical, so
        # existing checkpoints resume.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        # the console progress bar writes \r-rewritten lines to stderr;
        # when a harness merges streams (2>&1) those fragments glue onto
        # stdout result lines and line-oriented parsers drop them — the
        # round-4 correctness artifact lost 6 of 56 entries exactly this
        # way. Machine-read output must stay clean.
        .config("spark.ui.showConsoleProgress", "false")
        # push In filters with up to 1024 values down to parquet
        # row-group stats (default threshold 10 degrades bigger lists
        # to a useless min/max range) — the streaming curation tier's
        # candidate-id lookups depend on this to keep per-batch
        # doc-text IO O(candidates) instead of O(corpus)
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
        # NOTE: FileOutputCommitter v2 is deliberately NOT set here.
        # The marker-gated batch_id-dir writes that can safely use its
        # parallel task-commit renames opt in per-write
        # (streaming/sink.py V2_COMMITTER); everything else through
        # this session keeps v1's job-commit atomicity — a failed
        # mode("append") under v2 leaves visible partial part-files
        # that a retry silently duplicates.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

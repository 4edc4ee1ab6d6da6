"""The four workloads, each run inside one CPU-pinned worker process
against the public API of ``dataflows_spark``.

Each ``run_*`` function takes the worker's :class:`Level` and returns a
result dict: ``setup_s``, ``records``, ``wall_s``, ``op_s`` (seconds of
each timed operation), ``attempted``, ``failed``, ``oracle`` and
``peak_rss_mb``; a traced run adds ``traced_op_s`` and ``layers``.

A traced run first runs the workload untraced, then again with spans
around each call into a layer and Spark's own metrics read after each
action, so the difference of the two gives the tracing overhead."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import pandas as pd

import gen
import stats
import tracing


@dataclass
class Level:
    spark: object
    cores: int
    inputs: str
    work: str
    t0: float  # time.monotonic() when the parent launched this process
    traced: bool
    params: dict
    setup_s: float = 0.0
    warmup_s: float = 0.0
    warmup_start: float = 0.0
    tracer: tracing.Tracer | None = None

    def mark_warmup_start(self) -> None:
        self.warmup_start = time.monotonic()

    def mark_setup_done(self) -> None:
        now = time.monotonic()
        self.setup_s = now - self.t0
        self.warmup_s = now - self.warmup_start

    def scratch(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


# ---------------------------------------------------------------------------
# the audio chain
# ---------------------------------------------------------------------------

CHAIN_FIELDS = {
    "n_clips": {"aggregate": "count"},
    "mean_rms": {"name": "rms", "aggregate": "avg"},
    "total_samples": {"name": "n_samples", "aggregate": "sum"},
    "transcript_chars": {"name": "transcript_chars", "aggregate": "sum"},
}


def _normalised_transcript():
    from pyspark.sql import functions as F

    return F.trim(F.regexp_replace(F.coalesce("transcript", F.lit("")), r"\s+", " "))


def chain_prefixes(df):
    """The chain cut after each layer, as DataFrames a ``collect()``
    completes: scan, duration filter, Arrow hand-off (a pass-through
    Python UDF over the payload), the ``decode_stats`` kernel, and the
    full chain ending in the 1-hour tumbling window aggregation."""
    from pyspark.sql import functions as F

    from dataflows_spark.functions import audio

    @F.pandas_udf("long")
    def passthrough(raw: pd.Series, codec: pd.Series) -> pd.Series:
        return pd.Series(0, index=raw.index, dtype="int64")

    valid = df.filter(audio.duration_valid_col())
    decoded = valid.withColumn("st", audio.decode_stats("bytes", "codec"))
    return {
        "scan": df.select(F.sum(F.length("bytes"))),
        "filter": valid.select(F.sum(F.length("bytes"))),
        "handoff": valid.select(F.sum(passthrough("bytes", "codec"))),
        "kernel": decoded.select(F.sum("st.rms"), F.sum("st.n_samples")),
        "chain": chain_agg(df),
    }


def chain_agg(df, watermark: str | None = None):
    """duration_valid_col -> decode_stats -> transcript normalisation ->
    1-hour tumbling_window_agg per codec."""
    from pyspark.sql import functions as F

    from dataflows_spark.functions import audio
    from dataflows_spark.streaming import tumbling_window_agg

    feats = (
        df.filter(audio.duration_valid_col())
        .withColumn("st", audio.decode_stats("bytes", "codec"))
        .select(
            "codec",
            "event_time",
            F.col("st.rms").alias("rms"),
            F.col("st.n_samples").alias("n_samples"),
            F.length(_normalised_transcript()).alias("transcript_chars"),
        )
    )
    return tumbling_window_agg(feats, "event_time", "1 hour", ["codec"], CHAIN_FIELDS, watermark=watermark)


def chain_mismatches(rows, expected: list[list]) -> list[str]:
    """Differences between the chain's output rows and the oracle:
    ``n_clips``, ``total_samples`` and ``transcript_chars`` exact,
    ``mean_rms`` within 1e-6 relative."""
    got = {
        (int(r["window_start"].timestamp()), r["codec"]): (
            int(r["n_clips"]), int(r["total_samples"]), float(r["mean_rms"]), int(r["transcript_chars"])
        )
        for r in rows
    }
    want = {(w, c): (n, s, m, t) for w, c, n, s, m, t in expected}
    bad = [f"groups: got {len(got)}, want {len(want)}"] if got.keys() != want.keys() else []
    for key in sorted(want.keys() & got.keys()):
        (gn, gs, gm, gt), (wn, ws, wm, wt) = got[key], want[key]
        if (gn, gs, gt) != (wn, ws, wt) or abs(gm - wm) > 1e-6 * max(abs(wm), 1e-12):
            bad.append(f"{key}: got {got[key]}, want {want[key]}")
    return bad


def _median_layers(samples: dict[str, list[float]]) -> dict[str, float]:
    """Layer seconds from prefix passes: each layer is the median over
    rounds of its prefix pass minus the previous prefix pass of the same
    round. Noise can make a small layer come out below 0."""
    order = ["scan", "filter", "handoff", "kernel", "chain"]
    layers, prev = {}, [0.0] * len(samples["scan"])
    for k, name in zip(order, ["scan.s", "filter.s", "handoff.s", "kernel.s", "agg.s"]):
        layers[name] = stats.median([a - b for a, b in zip(samples[k], prev)])
        prev = samples[k]
    return layers


def _traced_prefix_passes(lv: Level, df, reps: int) -> tuple[dict, dict, list[float], list[float]]:
    """``reps`` rounds of every prefix pass, each in a span; returns the
    layer seconds, the chain's SQL metrics (medians over rounds), the
    traced full-chain pass times, and the times of an untraced full pass
    run at the start of each round. Passes still speed up slowly well into
    a run, so tracing is compared with untraced passes made alongside."""
    samples: dict[str, list[float]] = {}
    sql: dict[str, list[int]] = {}
    untraced = []
    for _ in range(reps):
        q = chain_agg(df)
        t = time.perf_counter()
        q.collect()
        untraced.append(time.perf_counter() - t)
        with lv.tracer.span("chain.prefixes"):
            for name, q in chain_prefixes(df).items():
                with lv.tracer.span(f"prefix.{name}") as sp:
                    q.collect()
                samples.setdefault(name, []).append(sp["end"] - sp["start"])
                if name == "chain":
                    for k, v in tracing.chain_sql_metrics(tracing.df_plan_nodes(q)).items():
                        sql.setdefault(k, []).append(v)
    return _median_layers(samples), {k: stats.median(v) for k, v in sql.items()}, samples["chain"], untraced


def run_chain_batch(lv: Level) -> dict:
    spark = lv.spark
    df = spark.read.parquet(os.path.join(lv.inputs, "clips"))
    expected = gen.load_json(os.path.join(lv.inputs, "oracle.json"))
    n_clips = df.count()
    lv.mark_warmup_start()
    # passes keep getting faster for a dozen or so passes over real data,
    # while the JIT compiles the per-row paths; time only after them
    for _ in range(lv.params["warmup_passes"]):
        chain_agg(df).collect()
    lv.mark_setup_done()

    op_s, failed, notes = [], 0, []
    t_start = time.perf_counter()
    for _ in range(lv.params["passes"]):
        t = time.perf_counter()
        rows = chain_agg(df).collect()
        op_s.append(time.perf_counter() - t)
        bad = chain_mismatches(rows, expected)
        failed += bool(bad)
        notes += bad[:3]
    wall = time.perf_counter() - t_start
    out = {
        "records": n_clips * len(op_s),
        "wall_s": wall,
        "op_s": op_s,
        "attempted": len(op_s),
        "failed": failed,
        "oracle": {"groups": len(expected), "mismatches": notes[:5]},
    }
    if lv.traced:
        layers, sql, out["traced_op_s"], out["untraced_op_s"] = _traced_prefix_passes(lv, df, lv.params["traced_rounds"])
        layers.update(sql)
        out["layers"] = layers
    return out


def _chain_stream_query(lv: Level, src: str, files_per_trigger: int, out_dir: str, sink_call):
    from dataflows_spark.sources.clips import CLIPS_SCHEMA

    sdf = (
        lv.spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(src)
    )
    return (
        chain_agg(sdf, watermark="2 hours")
        .writeStream.outputMode("update")
        .foreachBatch(sink_call)
        .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
        .start()
    )


def _stream_once(lv: Level, traced: bool) -> dict:
    """Drain this level's backlog once into an ExactlyOnceParquetSink and
    check the latest row per key against the oracle."""
    from dataflows_spark.streaming import ExactlyOnceParquetSink

    spark, k = lv.spark, lv.cores
    out_dir = lv.scratch(f"chain_stream_{'traced' if traced else 'plain'}")
    sink = ExactlyOnceParquetSink(os.path.join(out_dir, "sink"), dedup_keys=["window_start", "window_end", "codec"])
    holder: dict = {}
    per_batch: list[dict] = []

    def call(df, batch_id):
        if not traced:
            return sink(df, batch_id)
        with lv.tracer.span("sink.call") as sp:
            sink(df, batch_id)
        m = tracing.chain_sql_metrics(tracing.stream_plan_nodes(holder["q"]))
        m["sink.call_s"] = sp["end"] - sp["start"]
        m["sink.bytes_written"], _ = tracing.dir_bytes_and_files(os.path.join(sink.data_dir, f"batch_id={batch_id}"))
        per_batch.append(m)

    t = time.perf_counter()
    q = _chain_stream_query(lv, os.path.join(lv.inputs, f"src_{k}"), k, out_dir, call)
    holder["q"] = q
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t
        progress = tracing.progress_rows(q)
        all_ids = [int(p.batchId) for p in q.recentProgress]
    finally:
        q.stop()
    expected = gen.load_json(os.path.join(lv.inputs, f"oracle_{k}.json"))
    bad = chain_mismatches(sink.read(spark).collect(), expected)
    bad += sink_log_mismatches(spark, sink, all_ids)
    res = {
        "records": sum(int(p["numInputRows"]) for p in progress),
        "wall_s": wall,
        "op_s": [tracing.trigger_breakdown(p)["trigger_ms"] / 1000.0 for p in progress],
        "progress": [tracing.trigger_breakdown(p) for p in progress],
        "bad": bad,
        "per_batch": per_batch,
    }
    shutil.rmtree(out_dir, ignore_errors=True)
    return res


def sink_log_mismatches(spark, sink, trigger_ids: list[int]) -> list[str]:
    """Exactly-once checks on the sink's raw append log: one commit marker
    per trigger, each marker's ``rows`` equal to the rows in its
    ``batch_id=`` directory, and at most one row per key within a batch."""
    from pyspark.sql import functions as F

    committed = sink.committed_batches()
    bad = []
    if len(trigger_ids) != len(set(trigger_ids)) or committed != sorted(set(trigger_ids)):
        bad.append(f"committed batches {committed} != triggers {sorted(trigger_ids)}")
    raw = spark.read.option("basePath", sink.data_dir).parquet(
        *[os.path.join(sink.data_dir, f"batch_id={b}") for b in committed]
    )
    keys = ["batch_id", *sink.dedup_keys]
    dup = raw.groupBy(*keys).count().filter(F.col("count") > 1).limit(3).collect()
    bad += [f"{dict(r.asDict())} rows for one key in one batch" for r in dup]
    on_disk = {int(r["batch_id"]): int(r["count"]) for r in raw.groupBy("batch_id").count().collect()}
    for b in committed:
        marked = gen.load_json(os.path.join(sink.commit_dir, f"{b}.json"))["rows"]
        if marked != on_disk.get(b, 0):
            bad.append(f"batch {b}: marker says {marked} rows, directory holds {on_disk.get(b, 0)}")
    return bad


def run_chain_stream(lv: Level) -> dict:
    from dataflows_spark.streaming import ExactlyOnceParquetSink

    lv.mark_warmup_start()
    warm_dir = lv.scratch("chain_stream_warmup")
    warm_sink = ExactlyOnceParquetSink(os.path.join(warm_dir, "sink"))
    q = _chain_stream_query(lv, os.path.join(lv.inputs, f"warmup_{lv.cores}"), lv.cores, warm_dir, warm_sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    shutil.rmtree(warm_dir, ignore_errors=True)
    lv.mark_setup_done()

    r = _stream_once(lv, traced=False)
    out = {
        "records": r["records"],
        "wall_s": r["wall_s"],
        "op_s": r["op_s"],
        "attempted": len(r["op_s"]),
        "failed": len(r["op_s"]) if r["bad"] else 0,
        "oracle": {"mismatches": r["bad"][:5]},
    }
    if lv.traced:
        t = _stream_once(lv, traced=True)
        if t["bad"]:
            out["failed"] = out["attempted"]
            out["oracle"]["traced_mismatches"] = t["bad"][:5]
        out["traced_op_s"] = t["op_s"]
        layers = {}
        for key in ("fixed_ms", "addbatch_ms", "trigger_ms"):
            layers[f"microbatch.{key}"] = stats.median([p[key] for p in t["progress"]])
        layers["state.commit_ms"] = stats.median([p["state_commit_ms"] for p in t["progress"]])
        layers["state.update_ms"] = stats.median([p["state_update_ms"] for p in t["progress"]])
        layers["state.memory_bytes"] = max(p["state_memory_bytes"] for p in t["progress"])
        for key in t["per_batch"][0]:
            layers[key] = stats.median([b[key] for b in t["per_batch"]])
        # the chain's layers at the size of one trigger, by prefix passes
        first = sorted(os.listdir(os.path.join(lv.inputs, f"src_{lv.cores}")))[: lv.cores]
        one = lv.spark.read.parquet(*[os.path.join(lv.inputs, f"src_{lv.cores}", f) for f in first])
        prefix_layers, _sql, _, _ = _traced_prefix_passes(lv, one, lv.params["traced_rounds"])
        layers.update(prefix_layers)
        out["layers"] = layers
    return out


# ---------------------------------------------------------------------------
# the dedup sinks
# ---------------------------------------------------------------------------

def _index_listing(index_root: str) -> tuple[int, int]:
    """(batch dirs, files) across the sink's index tables."""
    dirs = files = 0
    if not os.path.isdir(index_root):
        return 0, 0
    for table in os.listdir(index_root):
        tdir = os.path.join(index_root, table)
        if os.path.isdir(tdir):
            dirs += sum(1 for d in os.listdir(tdir) if d.startswith("batch_id="))
            files += tracing.dir_bytes_and_files(tdir)[1]
    return dirs, files


def _dedup_stream(lv: Level, make_sink, schema: str, src: str, out_dir: str, traced: bool) -> dict:
    sink = make_sink(os.path.join(out_dir, "sink"), traced)
    index_root = os.path.join(out_dir, "sink", "state", "index")
    per_batch: list[dict] = []

    def call(df, batch_id):
        if not traced:
            return sink(df, batch_id)
        before = _index_listing(index_root)[0]
        with lv.tracer.span("sink.call") as sp:
            sink(df, batch_id)
        dirs, files = _index_listing(index_root)
        per_batch.append(
            {"call_s": sp["end"] - sp["start"], "dirs": dirs, "files": files, "compacted": dirs <= before}
        )

    t = time.perf_counter()
    sdf = lv.spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    q = (
        sdf.writeStream.outputMode("append")
        .foreachBatch(call)
        .option("checkpointLocation", os.path.join(out_dir, "checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t
        progress = tracing.progress_rows(q)
    finally:
        q.stop()
    return {"sink": sink, "wall_s": wall, "progress": progress, "per_batch": per_batch}


def _dedup_check(lv: Level, sink, id_col: str) -> tuple[dict, list[str]]:
    expected = gen.load_json(os.path.join(lv.inputs, "expected.json"))
    survivors = {r[0] for r in sink.read(lv.spark).select(id_col).collect()}
    base, planted = expected["base"], expected["planted"]
    dropped_planted = sum(1 for p in planted if p not in survivors)
    false_drops = sum(1 for b in base if b not in survivors)
    rows_in = len(base) + len(planted)
    check = {
        "recall": dropped_planted / len(planted),
        "false_drops": false_drops,
        "drop_rate": (rows_in - len(survivors)) / rows_in,
        "planted": len(planted),
        "rows_in": rows_in,
    }
    bad = []
    if dropped_planted != len(planted):
        bad.append(f"recall {dropped_planted}/{len(planted)}")
    if false_drops:
        bad.append(f"{false_drops} base rows dropped")
    return check, bad


def _run_dedup(lv: Level, make_sink, schema: str, id_col: str, enrich) -> dict:
    lv.mark_warmup_start()
    warm_dir = lv.scratch("dedup_warmup")
    _dedup_stream(lv, make_sink, schema, os.path.join(lv.inputs, "warmup"), warm_dir, traced=False)
    shutil.rmtree(warm_dir, ignore_errors=True)
    lv.mark_setup_done()

    src = os.path.join(lv.inputs, "in")
    out_dir = lv.scratch("dedup_plain")
    r = _dedup_stream(lv, make_sink, schema, src, out_dir, traced=False)
    check, bad = _dedup_check(lv, r["sink"], id_col)
    op_s = [tracing.trigger_breakdown(p)["trigger_ms"] / 1000.0 for p in r["progress"]]
    out = {
        "records": sum(int(p["numInputRows"]) for p in r["progress"]),
        "wall_s": r["wall_s"],
        "op_s": op_s,
        "attempted": len(op_s),
        "failed": len(op_s) if bad else 0,
        "oracle": dict(check, mismatches=bad),
    }
    shutil.rmtree(out_dir, ignore_errors=True)
    if lv.traced:
        out_dir = lv.scratch("dedup_traced")
        t = _dedup_stream(lv, make_sink, schema, src, out_dir, traced=True)
        tcheck, tbad = _dedup_check(lv, t["sink"], id_col)
        if tbad:
            out["failed"] = out["attempted"]
            out["oracle"]["traced_mismatches"] = tbad
        progress = [tracing.trigger_breakdown(p) for p in t["progress"]]
        out["traced_op_s"] = [p["trigger_ms"] / 1000.0 for p in progress]
        pb = t["per_batch"]
        metrics = t["sink"].batch_metrics
        read = sum(m["index_read_bytes"] for m in metrics)
        total = sum(m["index_total_bytes"] for m in metrics)
        compact = [b["call_s"] for b in pb if b["compacted"]]
        plain = [b["call_s"] for b in pb[1:] if not b["compacted"]]
        layers = {
            "microbatch.fixed_ms": stats.median([p["fixed_ms"] for p in progress]),
            "microbatch.addbatch_ms": stats.median([p["addbatch_ms"] for p in progress]),
            "microbatch.trigger_ms": stats.median([p["trigger_ms"] for p in progress]),
            "sink.call_s": stats.median([b["call_s"] for b in pb]),
            "index.read_bytes": read / max(1, len(metrics)),
            "index.total_bytes": total / max(1, len(metrics)),
            "index.read_fraction": read / total if total else 0.0,
            "index.dirs": pb[-1]["dirs"],
            "index.files": pb[-1]["files"],
            "compact.batch_s": stats.median(compact) if compact else 0.0,
            "plain.batch_s": stats.median(plain) if plain else 0.0,
            "dedup.recall": tcheck["recall"],
            "dedup.false_drops": tcheck["false_drops"],
            "dedup.drop_rate": tcheck["drop_rate"],
        }
        layers["sink.bytes_written"], _ = tracing.dir_bytes_and_files(t["sink"].data_dir)
        layers["sink.bytes_written"] /= max(1, len(pb))
        # the enrich call alone on each batch's input, forced by a noop write
        enrich_s = []
        for f in sorted(os.listdir(src)):
            batch = lv.spark.read.parquet(os.path.join(src, f))
            with lv.tracer.span("enrich") as sp:
                enrich(batch).write.format("noop").mode("overwrite").save()
            enrich_s.append(sp["end"] - sp["start"])
        layers["enrich.s"] = stats.median(enrich_s)
        out["layers"] = layers
        out["index_series"] = {
            "read_bytes": [m["index_read_bytes"] for m in metrics],
            "total_bytes": [m["index_total_bytes"] for m in metrics],
            "compacted_batches": [i for i, b in enumerate(pb) if b["compacted"]],
        }
        shutil.rmtree(out_dir, ignore_errors=True)
    return out


def run_audio_dedup_stream(lv: Level) -> dict:
    from dataflows_spark.functions.audio_fp import with_audio_fingerprint
    from dataflows_spark.streaming import StreamingAudioDeduper

    def make_sink(path: str, traced: bool):
        return StreamingAudioDeduper(
            path, num_buckets=16, compact_every=lv.params["compact_every"], collect_metrics=traced
        )

    return _run_dedup(
        lv,
        make_sink,
        "clip_id string, bytes binary, codec string, sr_hz int",
        "clip_id",
        lambda df: with_audio_fingerprint(df, "bytes", "codec", "sr_hz", "clip_id"),
    )


def run_text_dedup_stream(lv: Level) -> dict:
    from pyspark.sql import functions as F

    from dataflows_spark.functions.dedup import (
        DEFAULT_NGRAM,
        DEFAULT_NUM_BANDS,
        DEFAULT_NUM_HASHES,
        arrow_minhash_udf,
        minhash_bands,
    )
    from dataflows_spark.streaming import StreamingCorpusCleaner

    def make_sink(path: str, traced: bool):
        return StreamingCorpusCleaner(
            path, num_buckets=16, compact_every=lv.params["compact_every"], collect_metrics=traced
        )

    def enrich(df):
        sig = arrow_minhash_udf(DEFAULT_NUM_HASHES, DEFAULT_NGRAM)(F.col("text"))
        return df.repartition(lv.spark.sparkContext.defaultParallelism).select(
            "doc_id", minhash_bands(sig, DEFAULT_NUM_BANDS, DEFAULT_NUM_HASHES // DEFAULT_NUM_BANDS).alias("bands")
        )

    return _run_dedup(lv, make_sink, "doc_id bigint, text string", "doc_id", enrich)


RUNNERS = {
    "chain_batch": run_chain_batch,
    "chain_stream": run_chain_stream,
    "audio_dedup_stream": run_audio_dedup_stream,
    "text_dedup_stream": run_text_dedup_stream,
}

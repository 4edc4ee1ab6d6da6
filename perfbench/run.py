"""Benchmark of dataflows_spark on the host it runs on.

Run from the root of the repository::

    python3 perfbench/run.py --workload chain_batch --seed 1 --seconds 10 --trace 0

Workloads: ``chain_batch``, ``chain_stream``, ``audio_dedup_stream`` and
``text_dedup_stream`` (``perfbench/README.md`` says why each is there).
Inputs are generated from ``--seed`` by ``gen.py`` and cached under
``.perfbench_work/inputs``. The parallelism levels come from the CPUs this
process may use: 4N is all of them and N a quarter (``--level-n`` sets N).
The 4N level runs in its own process pinned to exactly its cores; a host
with fewer than 4 CPUs, or a level above them, is refused before anything
is measured.

Every workload runs at 4N. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the workload untraced and then traced, and prints the
per-layer metrics and the tracing overhead. Human-readable lines come
first; the last line of standard output is one JSON object. Every run checks the workload's output
against an oracle computed from the generated inputs, and exits 1 when
that check fails."""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from importlib import metadata

import gen
import stats

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO, ".perfbench_work")

#: the metrics the JSON line carries with ``--trace 0``; the human-readable
#: lines add batch_s_tail, growth_ratio and error_rate
END_TO_END = [
    ("setup_s", "s"),
    ("records_per_s", "records/s"),
    ("batch_s_p50", "s"),
    ("peak_rss_mb", "MB"),
]
PRINTED_ONLY = [("batch_s_tail", "s"), ("growth_ratio", "ratio")]

#: the per-layer metrics the JSON line carries with ``--trace 1``: the
#: chain workloads report the first list (the one ``BENCHMARK.json`` names),
#: the dedup workloads the second. A layer a workload does not run reads 0.
CHAIN_LAYERS = [
    ("scan.s", "s"), ("scan.bytes", "bytes"), ("scan.time_ms", "ms"),
    ("filter.s", "s"), ("filter.rows_out", "count"),
    ("handoff.s", "s"), ("handoff.bytes_sent", "bytes"), ("handoff.bytes_received", "bytes"),
    ("handoff.worker_init_ms", "ms"),
    ("kernel.s", "s"), ("kernel.python_ms", "ms"),
    ("agg.s", "s"), ("agg.shuffle_bytes", "bytes"), ("agg.time_ms", "ms"),
    ("microbatch.fixed_ms", "ms"), ("microbatch.addbatch_ms", "ms"), ("microbatch.trigger_ms", "ms"),
    ("state.commit_ms", "ms"), ("state.update_ms", "ms"), ("state.memory_bytes", "bytes"),
    ("sink.call_s", "s"), ("sink.bytes_written", "bytes"),
    ("trace.overhead_s", "s"),
]
DEDUP_LAYERS = [
    ("microbatch.fixed_ms", "ms"), ("microbatch.addbatch_ms", "ms"), ("microbatch.trigger_ms", "ms"),
    ("sink.call_s", "s"), ("sink.bytes_written", "bytes"),
    ("enrich.s", "s"),
    ("index.read_bytes", "bytes"), ("index.total_bytes", "bytes"), ("index.read_fraction", "ratio"),
    ("index.dirs", "count"), ("index.files", "count"),
    ("compact.batch_s", "s"), ("plain.batch_s", "s"),
    ("dedup.recall", "ratio"), ("dedup.false_drops", "count"), ("dedup.drop_rate", "ratio"),
    ("trace.overhead_s", "s"),
]


#: the fewest operations a chain run makes: the tail needs 10 beyond it
MIN_OPS = stats.TAIL_BEYOND + 2

#: micro-batches of a dedup run: each costs 5-15 s on a 4-CPU host, too
#: many for the tail rule within a run's time, enough for growth_ratio
DEDUP_BATCHES = 8


def _ops(seconds: float, nominal_s: float) -> int:
    """Operations per run: about ``seconds`` of work on the 4-CPU host this
    was sized on, and never fewer than the tail rule needs. The count
    depends on ``--seconds`` only, never on measured speed, so every run of
    a workload reports the same percentile over the same work."""
    return max(MIN_OPS, round(seconds / nominal_s))


#: Spark packs small files into partitions by size, so a few bytes more or
#: less in a seed's files can turn 4 tasks into 5 and add a whole wave on 4
#: cores. An open cost above the split size gives every file a task of its
#: own, whatever the seed.
ONE_TASK_PER_FILE = {"spark.sql.files.openCostInBytes": str(1 << 30)}


def chain_batch(root: str, seed: int, seconds: int, cores: int):
    path = gen.chain_batch_inputs(root, seed, n_clips=2000, n_files=4)
    return path, {"passes": _ops(seconds, 0.45), "warmup_passes": 16, "traced_rounds": 20, "spark_conf": ONE_TASK_PER_FILE}


def chain_stream(root: str, seed: int, seconds: int, cores: int):
    # the first triggers of a fresh session are slower: warm up on a few.
    # Slow spells of the host last seconds; 30 triggers of about 1 s dilute
    # them in records_per_s
    path = gen.chain_stream_inputs(root, seed, rows_per_file=50, triggers=_ops(seconds, 1 / 3), warmup=8, cores=cores)
    return path, {"traced_rounds": 3, "state_per_core": True, "spark_conf": ONE_TASK_PER_FILE}


def audio_dedup_stream(root: str, seed: int, seconds: int, cores: int):
    path = gen.audio_dedup_inputs(root, seed, batch=40, planted=4, batches=DEDUP_BATCHES)
    return path, {"compact_every": 4}


def text_dedup_stream(root: str, seed: int, seconds: int, cores: int):
    path = gen.text_dedup_inputs(root, seed, batch=100, planted=2, batches=DEDUP_BATCHES)
    return path, {"compact_every": 4}


WORKLOADS = {f.__name__: f for f in (chain_batch, chain_stream, audio_dedup_stream, text_dedup_stream)}

#: seconds a whole run may take: a run of BENCHMARK.json's workloads must
#: end within 180 s. The dedup workloads are run by hand and get longer.
DEADLINE_S = 170.0
HAND_RUN_DEADLINE_S = 900.0
HAND_RUN = {"audio_dedup_stream", "text_dedup_stream"}


def host_block() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    model = "unknown"
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    commit = None
    head = os.path.join(REPO, ".git", "HEAD")
    if os.path.exists(head):
        commit = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True, text=True, check=False
        ).stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "cpu_model": model,
        "python": platform.python_version(),
        "spark": metadata.version("pyspark"),
        "pyarrow": metadata.version("pyarrow"),
        "numpy": metadata.version("numpy"),
        "commit": commit,
    }


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of a worker's process group (the JVM and the
    Python workers it forked) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        alive = False
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    alive = os.getpgid(int(d)) == proc.pid
                except (ProcessLookupError, PermissionError):
                    continue
                if alive:
                    break
        if not alive:
            return
        time.sleep(0.1)


def run_level(workload: str, cpus: list[int], seed: int, traced: bool, inputs: str, params: dict, deadline: float) -> dict:
    work = os.path.join(WORK, f"run-{os.getpid()}-{len(cpus)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spec = {
        "workload": workload, "cpus": cpus, "seed": seed, "traced": traced, "inputs": inputs,
        "params": params, "repo": REPO, "work": work, "result": os.path.join(work, "result.json"),
    }
    env = dict(
        os.environ,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_DRIVER_MEMORY="2g",
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    log_path = os.path.join(WORK, f"worker-{workload}-{len(cpus)}.log")
    spec["t0"] = time.monotonic()
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "perfbench", "worker.py"), spec_path],
            stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True, cwd=work,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    try:
        if code != 0:
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            why = "timed out" if code is None else f"exited {code}"
            raise SystemExit(f"{workload} at {len(cpus)} cores {why}; log {log_path}:\n{tail}")
        with open(spec["result"]) as fh:
            result = json.load(fh)
        result["process_s"] = time.monotonic() - spec["t0"]
        if traced:
            os.replace(os.path.join(work, "spans.json"), os.path.join(WORK, f"spans-{workload}-seed{seed}.json"))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(wide: dict) -> dict[str, float | None]:
    """The 4N level's end-to-end metrics; ``batch_s_tail`` is None when a
    run has too few operations for the tail rule (the dedup workloads)."""
    op_s = wide["op_s"]
    return {
        "setup_s": wide["setup_s"],
        "records_per_s": wide["records"] / wide["wall_s"],
        "batch_s_p50": stats.median(op_s),
        "batch_s_tail": stats.tail(op_s)[1] if len(op_s) > stats.TAIL_BEYOND else None,
        "growth_ratio": stats.growth_ratio(op_s)[0],
        "peak_rss_mb": wide["peak_rss_mb"],
    }


def report(workload: str, wide: dict, traced: bool, host: dict) -> tuple[dict, list[str]]:
    """The metrics of this run at 4N and the human-readable lines that
    explain them, with every ratio's bases and every percentile's sample
    count."""
    wide_k = wide["cores"]
    lines = [
        f"host {json.dumps(host)}",
        f"workload {workload} at {wide_k} cores; oracle {json.dumps(wide['oracle'])}",
    ]
    e2e = end_to_end(wide)
    n = len(wide["op_s"])
    _, first, last = stats.growth_ratio(wide["op_s"])
    notes = {
        "setup_s": f"process start to the first timed operation, of which warm-up {wide['warmup_s']:.3f} s",
        "records_per_s": f"{wide['records']} records / {wide['wall_s']:.3f} s at {wide_k} cores",
        "batch_s_p50": f"median of {n} operations",
        "growth_ratio": f"last-half median {last:.4f} s / first-half median {first:.4f} s",
        "peak_rss_mb": f"Python process + JVM + Python workers at {wide_k} cores",
    }
    if e2e["batch_s_tail"] is None:
        notes["batch_s_tail"] = f"needs more than {stats.TAIL_BEYOND} operations, have {n}"
    else:
        p, _, beyond = stats.tail(wide["op_s"])
        notes["batch_s_tail"] = f"p{p:.1f} of {n} operations, {beyond} beyond it"
    lines.append(f"operation seconds {json.dumps([round(x, 4) for x in wide['op_s']])}")
    for name, unit in END_TO_END + PRINTED_ONLY:
        value = "n/a" if e2e[name] is None else f"{e2e[name]:.6g} {unit}"
        lines.append(f"metric {name} {value}  [{notes[name]}]")
    lines.append(f"worker process {wide['process_s']:.1f} s")
    failed, attempted = wide["failed"], wide["attempted"]
    lines.append(f"metric error_rate {failed / attempted:.6g} ratio  [{failed} failed / {attempted} attempted]")
    if not traced:
        return {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}, lines

    per_layer = DEDUP_LAYERS if workload in ("audio_dedup_stream", "text_dedup_stream") else CHAIN_LAYERS
    layers = dict.fromkeys((name for name, _ in per_layer), 0.0)
    layers.update(wide["layers"])
    traced_p50 = stats.median(wide["traced_op_s"])
    # chain_batch times untraced passes alongside the traced ones
    untraced = wide.get("untraced_op_s", wide["op_s"])
    untraced_p50 = stats.median(untraced)
    layers["trace.overhead_s"] = traced_p50 - untraced_p50
    for name, unit in per_layer:
        lines.append(f"layer {name} {layers[name]:.6g} {unit}")
    lines.append(
        f"trace overhead {layers['trace.overhead_s']:.4f} s  [traced p50 {traced_p50:.4f} s over "
        f"{len(wide['traced_op_s'])} - untraced p50 {untraced_p50:.4f} s over {len(untraced)}]"
    )
    chain = ("scan.s", "filter.s", "handoff.s", "kernel.s", "agg.s")
    if per_layer is CHAIN_LAYERS:
        # each layer is the median over rounds of one prefix span minus the
        # one before it: noise can put a small layer below 0
        lines.append(f"chain layers below 0: {[k for k in chain if layers[k] < 0] or 'none'}")
    if workload == "chain_batch":
        span_sum = sum(layers[k] for k in chain)
        within = abs(span_sum - untraced_p50) <= 0.1 * untraced_p50
        # the prefixes telescope, so the sum stands for the traced full
        # pass: the check bounds tracing overhead plus round-to-round noise
        lines.append(
            f"chain layer spans sum {span_sum:.4f} s vs untraced pass p50 {untraced_p50:.4f} s: "
            f"{'within' if within else 'NOT within'} 10%"
        )
    if "index_series" in wide:
        lines.append(f"index series {json.dumps(wide['index_series'])}")
    return {name: {"value": float(layers[name]), "unit": unit} for name, unit in per_layer}, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--level-n", type=int, default=None, help="cores of level N (default: nproc / 4)")
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(REPO, "dataflows_spark", "__init__.py")):
        print(f"dataflows_spark not found under {REPO}: run from a checkout of the repository", file=sys.stderr)
        return 2
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < 4:
        print(f"need at least 4 CPUs for levels N and 4N, have {len(cpus)}", file=sys.stderr)
        return 2
    n = args.level_n if args.level_n is not None else len(cpus) // 4
    if n < 1 or 4 * n > len(cpus):
        print(f"levels N = {n} and 4N = {4 * n} cores do not fit the {len(cpus)} CPUs available", file=sys.stderr)
        return 2

    deadline = time.monotonic() + (HAND_RUN_DEADLINE_S if args.workload in HAND_RUN else DEADLINE_S)
    host = host_block()
    inputs, params = WORKLOADS[args.workload](os.path.join(WORK, "inputs"), args.seed, args.seconds, 4 * n)
    result = run_level(args.workload, cpus[: 4 * n], args.seed, bool(args.trace), inputs, params, deadline)

    metrics, lines = report(args.workload, result, bool(args.trace), host)
    attempted, failed = result["attempted"], result["failed"]
    for line in lines:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

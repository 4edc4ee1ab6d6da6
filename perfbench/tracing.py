"""In-memory spans around the benchmark's calls into the program, plus the
readings the benchmark takes from outside the program: Spark's SQL
metrics from an executed plan, streaming progress, and peak RSS from
``/proc``."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

_OFF = contextlib.nullcontext()


class Tracer:
    """Spans with a name, start, end, parent and run id, kept in memory and
    written out once, each with its self time: its duration minus the part
    its child spans cover. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    def span(self, name: str):
        return self._span(name) if self.enabled else _OFF

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "run": self.run_id, "parent": self._stack[-1] if self._stack else None}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def with_self_time(self) -> list[dict]:
        children: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] = children.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = [dict(s, self_s=s["end"] - s["start"] - children.get(s["id"], 0.0)) for s in self.spans]
        return sorted(out, key=lambda s: s["start"])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.with_self_time(), fh)


# ---------------------------------------------------------------------------
# Spark SQL metrics of an executed plan
# ---------------------------------------------------------------------------

def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_nodes(jplan) -> list[tuple[str, dict[str, int]]]:
    """Every node of a physical plan as ``(nodeName, {metric: value})``,
    looking through adaptive plans and their query stages, leaves last."""
    out = []
    todo = [(jplan, 0)]
    while todo:
        node, depth = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append((node.executedPlan(), depth))
            continue
        if cls.endswith("QueryStageExec"):
            todo.append((node.plan(), depth))
            continue
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append((depth, node.nodeName(), metrics))
        todo.extend((c, depth + 1) for c in _seq(node.children()))
    return [(name, m) for _, name, m in sorted(out, key=lambda t: t[0])]


def df_plan_nodes(df) -> list[tuple[str, dict[str, int]]]:
    """The nodes of the plan a DataFrame last executed with."""
    return plan_nodes(df._jdf.queryExecution().executedPlan())


def stream_plan_nodes(query) -> list[tuple[str, dict[str, int]]]:
    """The nodes of a streaming query's last micro-batch plan."""
    last = query._jsq.streamingQuery().lastExecution()
    return plan_nodes(last.executedPlan()) if last is not None else []


def metric_sum(nodes, node_prefix: str, metric: str) -> int:
    return sum(m.get(metric, 0) for name, m in nodes if name.startswith(node_prefix))


#: the SQL metrics of the chain's layers, as (layer metric, node, SQL metric)
CHAIN_SQL_METRICS = [
    ("scan.bytes", "Scan parquet", "filesSize"),
    ("scan.time_ms", "Scan parquet", "scanTime"),
    ("handoff.bytes_sent", "ArrowEvalPython", "pythonDataSent"),
    ("handoff.bytes_received", "ArrowEvalPython", "pythonDataReceived"),
    ("handoff.boot_ms", "ArrowEvalPython", "pythonBootTime"),
    ("handoff.init_ms", "ArrowEvalPython", "pythonInitTime"),
    ("kernel.python_ms", "ArrowEvalPython", "pythonTotalTime"),
    ("agg.shuffle_bytes", "Exchange", "shuffleBytesWritten"),
    ("agg.time_ms", "HashAggregate", "aggTime"),
]


def chain_sql_metrics(nodes) -> dict[str, int]:
    out = {name: metric_sum(nodes, node, metric) for name, node, metric in CHAIN_SQL_METRICS}
    # the duration filter is the one nearest the scan; a streaming plan
    # also filters late rows by the watermark further up
    filters = [m for name, m in nodes if name == "Filter"]
    out["filter.rows_out"] = filters[-1].get("numOutputRows", 0) if filters else 0
    out["handoff.worker_init_ms"] = out.pop("handoff.boot_ms") + out.pop("handoff.init_ms")
    return out


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

#: the per-trigger phases that do not grow with the rows in a trigger
FIXED_PHASES = ("walCommit", "commitOffsets", "queryPlanning", "getBatch")


def progress_rows(query) -> list[dict]:
    """The query's progress events that admitted input rows, as dicts."""
    events = [json.loads(p.json) for p in query.recentProgress]
    return [p for p in events if int(p.get("numInputRows") or 0) > 0]


def trigger_breakdown(p: dict) -> dict[str, float]:
    d = p.get("durationMs") or {}
    ops = p.get("stateOperators") or []
    commit = sum(int(o.get("commitTimeMs") or 0) for o in ops)
    return {
        "trigger_ms": float(d.get("triggerExecution", 0)),
        "addbatch_ms": float(d.get("addBatch", 0)),
        "fixed_ms": float(sum(d.get(k, 0) for k in FIXED_PHASES) + commit),
        "state_commit_ms": float(commit),
        "state_update_ms": float(sum(int(o.get("allUpdatesTimeMs") or 0) for o in ops)),
        "state_memory_bytes": float(sum(int(o.get("memoryUsedBytes") or 0) for o in ops)),
    }


# ---------------------------------------------------------------------------
# Peak RSS of a process tree
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Summed ``VmHWM`` of a process and all its descendants: here the
    Python driver, the JVM it launched and the Python workers the JVM
    forked."""
    root = root or os.getpid()
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


def dir_bytes_and_files(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files

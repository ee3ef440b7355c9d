"""Spans around calls into the program, Spark job tagging, and the rollup of
Spark's own per-job counters from the event log.

A span is recorded around each public call the benchmark makes into a
layer of the program (``session``, ``index.builder``, ``index.reader``,
``index.commits``, ``search.executor``) and around the benchmark's own glue
(``client``). Spans of one measured operation share an op id. While a span
is open its id is the Spark job group (``spark.jobGroup.id``), so every
Spark job in the event log belongs to the innermost span that caused it.
Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

LAYERS = ("session", "index.builder", "index.reader", "index.commits",
          "search.executor", "client")

# stage accumulables folded into per-job counters: name -> counter
_ACCUMS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.input.recordsRead": "input_records",
    "time to start Python workers": "python_start_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
COUNTERS = ("jobs", "stages", "tasks", *_ACCUMS.values())


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._op: str | None = None
        self._sc = None
        self._n = 0

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    def _tag(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        sid = f"s{self._n}"
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._tag(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._tag(parent)
            self.spans.append({
                "id": sid, "layer": layer, "name": name, "parent": parent,
                "op": self._op, "start_ms": start * 1e3, "end_ms": end * 1e3,
            })

    @contextlib.contextmanager
    def op(self, kind: str):
        """One measured operation: a root span whose children are the layer
        calls it makes."""
        if not self.enabled:
            yield
            return
        self._op = f"{kind}{self._n}"
        try:
            with self.span("op", kind):
                yield
        finally:
            self._op = None


# ---- event log ---------------------------------------------------------------

def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> dict[int, dict]:
    """job id -> {group, submit_ms, end_ms, counters...} from an uncompressed
    (possibly rolling) Spark event log under log_dir."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit_ms": e["Submission Time"], "end_ms": e["Submission Time"],
                    }
                    for sid in e["Stage IDs"]:
                        # a stage runs in the first job that needs it;
                        # later jobs list it again but skip it
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    c = {"tasks": info.get("Number of Tasks", 0)}
                    for a in info.get("Accumulables", []):
                        key = _ACCUMS.get(a.get("Name"))
                        if key:
                            c[key] = c.get(key, 0.0) + _num(a.get("Value"))
                    stages[info["Stage ID"]] = c
    for job in jobs.values():
        for key in COUNTERS:
            job[key] = 0.0
        job["jobs"] = 1.0
    for sid, c in stages.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        job["stages"] += 1
        for key, v in c.items():
            job[key] += v
    return jobs


# ---- rollup -----------------------------------------------------------------

def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Rollup:
    """Joins spans with the event log's jobs."""

    def __init__(self, spans: list[dict], jobs: dict[int, dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[str, list[dict]] = {}
        for s in spans:
            if s["parent"]:
                self.children.setdefault(s["parent"], []).append(s)
        self.jobs_of: dict[str, list[dict]] = {}
        for jid, j in sorted(jobs.items()):
            if j["group"] in self.by_id:
                self.jobs_of.setdefault(j["group"], []).append({"id": jid, **j})
        for s in spans:
            s["spark_jobs"] = [j["id"] for j in self.jobs_of.get(s["id"], [])]

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def jobs_under(self, span: dict) -> list[dict]:
        return [j for s in self.subtree(span) for j in self.jobs_of.get(s["id"], [])]

    def counters(self, span: dict) -> dict[str, float]:
        out = dict.fromkeys(COUNTERS, 0.0)
        for j in self.jobs_under(span):
            for k in COUNTERS:
                out[k] += j[k]
        return out

    def idle_ms(self, span: dict) -> float:
        """Span time with no Spark job running (driver-side work)."""
        iv = [(max(j["submit_ms"], span["start_ms"]), min(j["end_ms"], span["end_ms"]))
              for j in self.jobs_under(span)]
        iv = [(s, e) for s, e in iv if e > s]
        return dur(span) - _union_ms(iv)

    def find(self, layer: str, name: str | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["layer"] == layer and (name is None or s["name"] == name)]

    def layer_rollup(self) -> dict:
        """Per layer: self time summed over measured ops; per run: op wall and
        the part of it no layer span covers (unexplained)."""
        self_ms = dict.fromkeys(LAYERS, 0.0)
        op_wall = unexplained = 0.0
        for op in self.find(layer="op"):
            op_wall += dur(op)
            kids = self.children.get(op["id"], [])
            unexplained += dur(op) - _union_ms([(k["start_ms"], k["end_ms"]) for k in kids])
            for s in self.subtree(op)[1:]:
                inner = [(c["start_ms"], c["end_ms"]) for c in self.children.get(s["id"], [])]
                self_ms[s["layer"]] = self_ms.get(s["layer"], 0.0) + dur(s) - _union_ms(inner)
        return {"self_ms": self_ms, "op_wall_ms": op_wall, "unexplained_ms": unexplained}


def dur(span: dict) -> float:
    return span["end_ms"] - span["start_ms"]


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default

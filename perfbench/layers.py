"""Per-layer metrics of a traced run, from its spans and Spark's event log.

Every metric is defined on both workloads. The ``ingest.*`` metrics come
from the one commit the build workload makes after its timed build and
read 0 on search. Executor metrics are means per query over the run's
measured queries (on build: its check queries), so no median mixes query
classes; the per-class breakdown goes to the trace file.
"""

from __future__ import annotations

import os

from perfbench.trace import COUNTERS, LAYERS, Rollup, dur, median
from perfbench.workloads import dir_bytes


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _builder(r: Rollup, manifest: dict | None) -> dict:
    builds = r.find(layer="index.builder", name="build_index")
    out = {}
    if not builds or manifest is None:
        return out
    b = builds[-1]  # the index the workload is about (build: the last measured one)
    st = manifest["stages"]
    e0 = st["stage0_corpus"]["elapsed_sec"] * 1e3
    e1 = st["stage1_postings"]["elapsed_sec"] * 1e3
    out["builder.stage0_ms"] = e0
    out["builder.stage1_postings_ms"] = st["stage1_postings"]["postings_sec"] * 1e3
    out["builder.stage1_docs_ms"] = st["stage1_postings"]["docs_sec"] * 1e3
    out["builder.stage3_ms"] = st["stage3_stats"]["elapsed_sec"] * 1e3
    # jobs split by stage on the manifest's stage boundaries
    jobs = r.jobs_under(b)
    t0, t1 = b["start_ms"] + e0, b["start_ms"] + e0 + e1
    out["builder.stage0_shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs
                                              if j["submit_ms"] < t0)
    out["builder.stage1_shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs
                                              if t0 <= j["submit_ms"] < t1)
    c = r.counters(b)
    out["builder.spill_bytes"] = c["spill_bytes"]
    for k in ("python_start_ms", "python_run_ms", "python_bytes_sent", "python_bytes_returned",
              "executor_run_ms", "gc_ms"):
        out[f"builder.{k}"] = c[k]
    for part in ("corpus", "postings", "docs", "term_stats"):
        p = manifest["paths"][part]
        out[f"builder.bytes_written.{part}"] = sum(
            dir_bytes(x) for x in ([p] if isinstance(p, str) else p) if os.path.isdir(x))
    return out


def _query_metrics(r: Rollup, rows: list[tuple[dict, dict, dict]]) -> dict:
    """Means per query over (top_k span, collect span, query record) rows."""
    per = []
    for call, coll, rec in rows:
        c1, c2 = r.counters(call), r.counters(coll)
        per.append({
            "call_ms": dur(call), "collect_ms": dur(coll),
            "idle_ms": r.idle_ms(call) + r.idle_ms(coll), "hits": len(rec["hits"]),
            **{k: c1[k] + c2[k] for k in COUNTERS},
            **{f"ph_{k}": v for k, v in rec["phases"].items()},
        })
    out = {
        "executor.call_ms": _mean(p["call_ms"] for p in per),
        "executor.collect_ms": _mean(p["collect_ms"] for p in per),
        "executor.driver_idle_ms": _mean(p["idle_ms"] for p in per),
        "executor.jobs_per_query": _mean(p["jobs"] for p in per),
        "executor.stages_per_query": _mean(p["stages"] for p in per),
        "executor.tasks_per_query": _mean(p["tasks"] for p in per),
        "executor.python_run_ms": _mean(p["python_run_ms"] for p in per),
        "executor.python_bytes_sent": _mean(p["python_bytes_sent"] for p in per),
        "executor.shuffle_bytes": _mean(p["shuffle_bytes"] for p in per),
        "executor.input_bytes": _mean(p["input_bytes"] for p in per),
        "executor.rows_examined_per_hit":
            sum(p["input_records"] for p in per) / max(1, sum(p["hits"] for p in per)),
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = _mean(p.get(f"ph_{phase}", 0.0) for p in per)
    return out


def _queries(r: Rollup, bench) -> tuple[dict, dict]:
    """Executor metrics over the measured queries (all queries when the
    workload measures none), and the same per query class."""
    rows = list(zip(r.find(layer="search.executor", name="top_k"),
                    r.find(layer="search.executor", name="collect"), bench.queries))
    measured = [x for x in rows if x[0]["op"]] or rows
    by_class = {}
    for cls in sorted({rec["cls"] for _, _, rec in measured}):
        sub = [x for x in measured if x[2]["cls"] == cls]
        by_class[cls] = _query_metrics(r, sub)
        by_class[cls]["p50_ms"] = median(dur(a) + dur(b) for a, b, _ in sub)
        by_class[cls]["queries"] = len(sub)
    return _query_metrics(r, measured), by_class


def _reader(r: Rollup, bench) -> dict:
    fetch = r.find(layer="index.reader", name="fetch")
    coll = r.find(layer="index.reader", name="fetch_collect")
    segs = bench.ingest_log[-1]["segments"] if bench.ingest_log else 1
    return {
        "reader.open_ms": median(dur(s) for s in r.find(layer="index.reader", name="open")),
        "reader.segments": float(segs),
        "reader.fetch_ms": median(dur(a) + dur(b) for a, b in zip(fetch, coll)),
        "reader.fetch_input_bytes": median(r.counters(b)["input_bytes"] for b in coll),
    }


def _ingest(bench) -> dict:
    log = bench.ingest_log
    return {
        "ingest.delete_ms": median(x["delete_ms"] for x in log),
        "ingest.append_ms": median(x["append_ms"] for x in log),
        "ingest.merge_ms": median(x["merge_ms"] for x in log),
        "ingest.merges": float(sum(x["merges"] for x in log)),
        "ingest.bytes_rewritten": float(sum(x["bytes_rewritten"] for x in log)),
        "ingest.reopen_ms": median(x["reopen_ms"] for x in log),
        "ingest.segments_max": float(max((x["segments"] for x in log), default=0)),
    }


def per_layer(spans: list[dict], jobs: dict, bench) -> tuple[dict, dict]:
    """(metrics, details for the trace file)."""
    r = Rollup(spans, jobs)
    first_op = min((s["start_ms"] for s in r.find(layer="op")), default=float("inf"))
    setup = [s for s in spans if s["op"] is None and s["end_ms"] <= first_op
             and s["parent"] is None]
    warm = [r.counters(s) for s in setup]
    session = r.find(layer="session", name="get_spark")
    m = {
        "session.start_ms": dur(session[0]) if session else 0.0,
        "session.python_warm_ms": sum(c["python_start_ms"] for c in warm),
    }
    m.update(_builder(r, bench.main_build))
    m.update(_reader(r, bench))
    overall, by_class = _queries(r, bench)
    m.update(overall)
    m.update(_ingest(bench))
    roll = r.layer_rollup()
    ops = max(1, len(r.find(layer="op")))
    for layer in LAYERS:
        m[f"layer.{layer}.self_ms"] = roll["self_ms"].get(layer, 0.0) / ops
    m["trace.unexplained_ms"] = roll["unexplained_ms"] / ops
    m["trace.unexplained_frac"] = roll["unexplained_ms"] / max(roll["op_wall_ms"], 1e-9)
    details = {"rollup": roll, "ops": ops, "by_class": by_class}
    return m, details

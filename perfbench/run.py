"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,search} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Each run is one fresh process with its own
scratch directory (index, SPARK_LOCAL_DIRS, temp files, event log) under
``.perfbench/work/``, removed at the end; nothing an earlier run left is
read. The Spark driver heap is pinned to 2g through LUCENE_SPARK_DRIVER_MEM
and the session uses local[nproc].

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
enables Spark's event log, tags every Spark job with the span that caused
it, and prints the per-layer metrics. Both write the run's details (spans,
per-class breakdown, layer rollup, end-to-end values, host and versions) to
``.perfbench/out/``; ``python3 perfbench/report.py`` turns those into the
tracing overhead. The last line of stdout is the result object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time
import traceback

_HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"
WORKLOADS = ("build", "search")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(root: str, work: str, trace: bool) -> str:
    """Pin heap, cores and every scratch path inside the run directory."""
    tmp, local, log = (os.path.join(work, d) for d in ("tmp", "spark-local", "eventlog"))
    for d in (tmp, local, log):
        os.makedirs(d, exist_ok=True)
    # -Xms = -Xmx and pre-touched: the heap's resident size is fixed from
    # the start, so peak RSS moves with native and Python-worker memory,
    # not with when the collector chose to grow the heap
    submit = ["--driver-java-options",
              f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{log}"]
    os.environ.update({
        "LUCENE_SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": root,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    })
    return log


def _versions(spark) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": os.cpu_count(), "driver_heap": DRIVER_MEM,
        "spark": spark.version if spark is not None else None,
        "java": java.splitlines()[0] if java else None,
        "python": platform.python_version(),
    }


def _stop(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from perfbench.workloads import _descendants

    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid)[1:] if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    # the script's own directory must not shadow stdlib modules (trace, ...)
    sys.path[:] = [root] + [p for p in sys.path[1:] if os.path.abspath(p) != _HERE]
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(root, "lucene_spark", "__init__.py"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from the repository root (lucene_spark/ and "
              "BENCHMARK.json are needed)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        result = _run(args, root, wanted, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def _run(args, root: str, wanted: list[dict], work: str) -> dict | None:
    """One run in `work`; the result object, or None when it cannot finish."""
    log_dir = _environment(root, work, bool(args.trace))

    from perfbench.trace import Tracer, read_event_log
    from perfbench.workloads import Bench

    bench = Bench(args.seed, args.seconds, Tracer(bool(args.trace)), work)
    t_run = time.perf_counter()
    try:
        try:
            e2e = bench.run(args.workload)
            e2e["setup_s"] = bench.setup_s
            details = {"versions": _versions(bench.spark)}
        finally:
            _stop(bench.spark)
        metrics = e2e
        if args.trace:
            from perfbench.layers import per_layer

            metrics, layer_details = per_layer(bench.tr.spans, read_event_log(log_dir), bench)
            details.update(layer_details)
    except Exception:  # noqa: BLE001 - no result line when the run cannot finish
        traceback.print_exc()
        return None
    missing = [m["name"] for m in wanted
               if not math.isfinite(float(metrics.get(m["name"], float("nan"))))]
    if missing:
        print(f"perfbench: no value for {missing}; problems: {bench.problems}", file=sys.stderr)
        return None
    result = {
        "correct": not bench.problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }
    out_dir = os.path.join(root, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "end_to_end": e2e, "info": bench.info,
        "gen_s": bench.gen_s, "run_s": time.perf_counter() - t_run,
        "problems": bench.problems, "result": result, **details,
    }
    if args.trace:
        record["spans"] = bench.tr.spans
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, default=str)
    for p in bench.problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    return result

if __name__ == "__main__":
    sys.exit(main())

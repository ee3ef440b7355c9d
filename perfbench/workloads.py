"""The two workloads: build and search.

Each drives the library's public API from one client (closed loop: the next
call goes out when the previous one has returned) and times one kind of
operation ("op"):

- build:  one full ``build_index`` of a fresh corpus. After it, outside
          the timed op, the index is checked and takes one commit
          (``delete_docs``, ``append_to_index``, ``maybe_merge``, reopen,
          ``list_commits``), so the ingest path is traced too;
- search: one round of four queries, one per cost-homogeneous class
          (term, bool, phrase, multiterm), each resolved through
          ``Index.fetch`` — a round is the unit, so no median mixes classes.

Every op sits between two runs of a fixed calibration job, and its time is
reported relative to them (``op_rel``), because the shared host's speed
drifts from run to run. Set-up time counts only the calls into the program.
Generating inputs, staging them as parquet and building the oracle are
timed apart (``gen_s``) and never enter a metric; correctness checks run
outside the timed ops.
"""

from __future__ import annotations

import hashlib
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.oracle import Oracle, same_hits, to_query
from perfbench.trace import median

BUILD_DOCS = 8_000
SEARCH_DOCS = 1_000
FILES_PER_COMMIT = 50
TOP_K = 10
WARM_ROUNDS = 1
CALIB_ROWS = 4_000_000
# session settings the calibration job's plan depends on, pinned while it runs
CALIB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
}
# the commit's merge policy: the two segments stay within budget, so
# maybe_merge evaluates the policy but merges nothing (a merge would
# rewrite the whole base segment, more than a run's time allows)
MERGE_POLICY = dict(floor_docs=1_000)
INPUT_SCHEMA = "repo string, path string, commit string, lang string, content string"
BUILD_OPTS = dict(text_col="content", order_cols=["repo", "path", "commit"],
                  keep_cols=["repo", "path", "lang"], resume=False)
# edge rows every build must answer: term -> path of the only doc holding it
EDGE_TERMS = {"singleton_token_df1": "single.txt", "saturate": "repeat.txt"}


def ops_for(seconds: int) -> int:
    """Rounds in a search run: one per 4 s, at least 3."""
    return max(3, seconds // 4)


def _calib_batches(batches):
    """Python half of the calibration job (module level, so it pickles)."""
    import pandas as pd

    for pdf in batches:
        v = pdf["id"].to_numpy()
        yield pd.DataFrame({"n": [int(((v * 7919) % 104729).sum())]})


def op_rel(walls: list[float], calib: list[float]) -> float:
    """Median over ops of op wall / the mean of the calibration runs on
    either side of it."""
    return median(w / ((calib[i] + calib[i + 1]) / 2) for i, w in enumerate(walls))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def program_peak_rss_mb(jvm_pid: int) -> float:
    """Sum of peak RSS (VmHWM) of the Spark JVM and its live Python workers."""
    kb = 0
    for p in _descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class Bench:
    def __init__(self, seed: int, seconds: int, tracer, work: str):
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.work = work
        self.spark = None
        self.setup_s = 0.0  # program calls during set-up
        self.gen_s = 0.0  # benchmark-side input generation and oracle
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []  # failed correctness checks
        self.queries: list[dict] = []  # every top_k the run made
        self.ingest_log: list[dict] = []
        self.main_build: dict | None = None  # manifest of the index the workload is about
        self.info: dict = {}

    # ---- helpers ------------------------------------------------------------

    def timed(self, layer: str, name: str, fn, *args, **kw):
        t0 = time.perf_counter()
        with self.tr.span(layer, name):
            out = fn(*args, **kw)
        return out, (time.perf_counter() - t0) * 1e3

    def setup_call(self, layer: str, name: str, fn, *args, **kw):
        out, ms = self.timed(layer, name, fn, *args, **kw)
        self.setup_s += ms / 1e3
        return out

    def fail(self, what: str) -> None:
        self.problems.append(what)

    def table(self, pdf, name: str):
        """Stage a generated table as parquet inside the run dir and read it
        back as a Spark DataFrame."""
        t0 = time.perf_counter()
        path = os.path.join(self.work, "input", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                       row_group_size=max(500, len(pdf) // 16))
        with self.tr.span("client", "read_input"):
            df = self.spark.read.schema(INPUT_SCHEMA).parquet(path)
        self.gen_s += time.perf_counter() - t0
        return df

    def corpus(self, n: int, stream: int):
        t0 = time.perf_counter()
        pdf = gen.make_corpus(n, self.seed * 16 + stream)
        self.gen_s += time.perf_counter() - t0
        return pdf

    def start_session(self) -> None:
        from lucene_spark.session import get_spark

        self.spark = self.setup_call("session", "get_spark", get_spark, "perfbench",
                                     cpus=os.cpu_count())
        self.tr.attach(self.spark.sparkContext)

    def calibrate(self) -> float:
        """Wall ms of a fixed Spark job that calls no lucene_spark code: a JVM
        hash aggregate and a pandas mapInPandas pass. Timed next to every op,
        it tracks how fast the shared host is at that moment, so an op can be
        reported relative to it. The SQL settings it depends on are pinned
        for its duration (CALIB_CONF), so the program's session settings do
        not reach it; the JVM heap and the Python worker pool are shared."""
        from pyspark.sql import functions as F

        conf = self.spark.conf
        saved = {k: conf.get(k, None) for k in CALIB_CONF}
        for k, v in CALIB_CONF.items():
            conf.set(k, v)
        t0 = time.perf_counter()
        try:
            with self.tr.span("client", "calibrate"):
                self.spark.range(0, CALIB_ROWS, 1, 4).selectExpr(
                    "sum(hash(id, 'perfbench')) AS s").collect()
                self.spark.range(0, CALIB_ROWS // 4, 1, 4).mapInPandas(
                    _calib_batches, "n long").agg(F.sum("n")).collect()
            return (time.perf_counter() - t0) * 1e3
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)

    def peak_rss(self) -> float:
        return program_peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)

    def build_setup(self, pdf, name: str, d: str):
        """Set-up build of the index a search run works on."""
        from lucene_spark.index import Index, build_index
        from lucene_spark.search import Searcher

        self.main_build = self.setup_call("index.builder", "build_index", build_index,
                                          self.spark, self.table(pdf, name), d, **BUILD_OPTS)
        idx = self.setup_call("index.reader", "open", Index, self.spark, d)
        return self.setup_call("search.executor", "Searcher", Searcher, idx)

    def _phases(self, df) -> dict:
        """Catalyst phase times of a collected DataFrame (traced runs only)."""
        if not self.tr.enabled:
            return {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        out = {}
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out

    def query(self, searcher, cls: str, q, fetch_cols: list[str] | None) -> dict:
        """top_k + collect; optionally resolve the hits through Index.fetch."""
        t0 = time.perf_counter()
        df, _ = self.timed("search.executor", "top_k", searcher.top_k, q, TOP_K)
        rows, _ = self.timed("search.executor", "collect", df.collect)
        with self.tr.span("client", "phases"):
            phases = self._phases(df)
        rec = {"cls": cls, "hits": [(int(r["doc_id"]), float(r["score"])) for r in rows],
               "phases": phases}
        if fetch_cols:
            rec["fetched"] = self.fetch(searcher.index, [d for d, _ in rec["hits"]], fetch_cols)
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        self.queries.append(rec)
        return rec

    def fetch(self, idx, doc_ids: list[int], cols: list[str]) -> dict:
        with self.tr.span("client", "hits_frame"):
            hdf = self.spark.createDataFrame([(d,) for d in doc_ids] or [(-1,)], "doc_id long")
        fdf, _ = self.timed("index.reader", "fetch", idx.fetch, hdf, cols)
        rows, _ = self.timed("index.reader", "fetch_collect", fdf.collect)
        return {int(r["doc_id"]): tuple(r[c] for c in cols) for r in rows}

    # ---- build ----------------------------------------------------------------

    def build(self) -> dict:
        from lucene_spark.index import build_index

        self.start_session()
        # the warm build has the measured build's size: a smaller one leaves
        # the JIT and the Python workers colder and the timed build noisier
        warm = self.table(self.corpus(BUILD_DOCS, 1), "warm")
        self.setup_call("index.builder", "build_index", build_index, self.spark, warm,
                        os.path.join(self.work, "warm_idx"), **BUILD_OPTS)
        pdf = self.corpus(BUILD_DOCS, 2)
        docs = self.table(pdf, "corpus")
        d = os.path.join(self.work, "idx")
        self.calibrate()  # warm the calibration job's own code paths
        calib = [self.calibrate()]
        self.attempted += 1
        with self.tr.op("build"):
            self.main_build, ms = self.timed("index.builder", "build_index", build_index,
                                             self.spark, docs, d, **BUILD_OPTS)
        calib.append(self.calibrate())
        peak = self.peak_rss()
        content_bytes = int(pdf["content"].str.len().sum())  # generated text is ASCII
        idx_bytes = dir_bytes(d)
        self._check_build(d, pdf)
        self.info.update(op_ms=[ms], calib_ms=calib, docs=len(pdf), content_bytes=content_bytes,
                         build_mb_per_s=content_bytes / 1e6 / (ms / 1e3))
        return {
            "op_rel": op_rel([ms], calib),
            "index_bytes_per_input_byte": idx_bytes / content_bytes,
            "peak_rss_mb": peak,
        }

    def _check_build(self, d: str, pdf) -> None:
        """CheckIndex, per-row sha256(content) through Index.fetch, N, the
        edge rows answer term queries; then one commit on the index."""
        from lucene_spark.index import Index
        from lucene_spark.index.check import check_index
        from lucene_spark.search import Searcher, TermQ

        problems = len(self.problems)
        expect = gen.with_doc_ids(pdf)
        want = {int(r.doc_id): (r.repo, r.path, r.commit, hashlib.sha256(r.content.encode())
                                .hexdigest()) for r in expect.itertuples()}
        idx, _ = self.timed("index.reader", "open", Index, self.spark, d)
        try:
            check_index(idx)
        except AssertionError as e:
            self.fail(f"check_index: {e}")
        if self.fetch(idx, list(want), ["repo", "path", "commit", "sha256"]) != want:
            self.fail("snapshot rows (doc_id order or sha256) differ from the input")
        if idx.N != len(pdf):
            self.fail(f"N={idx.N}, input rows={len(pdf)}")
        searcher, _ = self.timed("search.executor", "Searcher", Searcher, idx)
        for term, path in EDGE_TERMS.items():
            rec = self.query(searcher, "edge", TermQ(term), None)
            if [want[h][1] for h, _ in rec["hits"]] != [path]:
                self.fail(f"edge term {term!r} hits {rec['hits']}")
        if len(self.problems) > problems:
            self.failed += 1
        self.commit(d, pdf)

    # ---- search ---------------------------------------------------------------

    def search(self) -> dict:
        self.start_session()
        pdf = self.corpus(SEARCH_DOCS, 3)
        d = os.path.join(self.work, "idx")
        searcher = self.build_setup(pdf, "corpus", d)
        rounds = ops_for(self.seconds)
        t0 = time.perf_counter()
        specs = gen.query_specs(pdf, self.seed, WARM_ROUNDS + rounds)
        self.gen_s += time.perf_counter() - t0
        checked = []
        for r in range(WARM_ROUNDS):  # warm each class once
            for cls in gen.QUERY_CLASSES:
                t0 = time.perf_counter()
                rec = self.query(searcher, cls, to_query(cls, specs[cls][r]), ["repo", "path"])
                self.setup_s += time.perf_counter() - t0
                checked.append((cls, specs[cls][r], rec, r))
        walls: list[float] = []
        self.calibrate()
        calib = [self.calibrate()]
        t_start = time.perf_counter()
        for r in range(WARM_ROUNDS, WARM_ROUNDS + rounds):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tr.op("round"):
                    recs = [self.query(searcher, cls, to_query(cls, specs[cls][r]),
                                       ["repo", "path"]) for cls in gen.QUERY_CLASSES]
            except Exception as e:  # noqa: BLE001
                self.failed += 1
                self.fail(f"round {r} raised {type(e).__name__}: {e}")
                continue
            walls.append((time.perf_counter() - t0) * 1e3)
            checked += [(cls, specs[cls][r], rec, r) for cls, rec in
                        zip(gen.QUERY_CLASSES, recs)]
            calib.append(self.calibrate())
        measured_s = time.perf_counter() - t_start
        peak = self.peak_rss()
        # correctness: every distinct query against the oracle, fetched rows
        t0 = time.perf_counter()
        expect = gen.with_doc_ids(pdf)
        oracle = Oracle(expect[["doc_id", "content"]])
        self.gen_s += time.perf_counter() - t0
        where = dict(zip(expect["doc_id"], zip(expect["repo"], expect["path"])))
        bad_rounds = set()
        for cls, spec, rec, r in checked:
            want = oracle.top_k(cls, spec, TOP_K)
            if not same_hits(rec["hits"], want):
                self.fail(f"{cls} {spec}: got {rec['hits'][:3]} want {want[:3]}")
                bad_rounds.add(r)
            if rec["fetched"] != {h: where[h] for h, _ in rec["hits"]}:
                self.fail(f"fetched rows differ for {cls} {spec}")
                bad_rounds.add(r)
        self.failed += len([r for r in bad_rounds if r >= WARM_ROUNDS])
        class_ms = {c: [rec["ms"] for c2, _, rec, r in checked if c2 == c and r >= WARM_ROUNDS]
                    for c in gen.QUERY_CLASSES}
        self.info.update(op_ms=walls, calib_ms=calib, docs=len(pdf), class_ms=class_ms,
                         queries_per_s=4 * len(walls) / (measured_s - sum(calib[1:]) / 1e3))
        return {
            "op_rel": op_rel(walls, calib) if walls else float("nan"),
            "index_bytes_per_input_byte":
                dir_bytes(d) / int(pdf["content"].str.len().sum()),
            "peak_rss_mb": peak,
        }

    # ---- commit (after the build) -------------------------------------------

    def commit(self, d: str, corpus) -> None:
        """One seeded commit on the freshly built index, outside the timed
        op: delete_docs of the old versions of FILES_PER_COMMIT files,
        append_to_index of their new versions, maybe_merge, reopen and
        list_commits; then check what became visible."""
        from lucene_spark.index import (
            Index, append_to_index, delete_docs, list_commits, maybe_merge,
        )
        from lucene_spark.search import Searcher

        t0 = time.perf_counter()
        new = gen.commit(corpus, self.seed, FILES_PER_COMMIT)
        self.gen_s += time.perf_counter() - t0
        model = {(r.repo, r.path): (int(r.doc_id), r.commit)
                 for r in gen.with_doc_ids(corpus).itertuples()}
        old_ids = [model[k][0] for k in zip(new["repo"], new["path"])]
        staged = self.table(new, "commit")
        with self.tr.span("client", "delete_frame"):
            del_df = self.spark.createDataFrame([(i,) for i in old_ids], "doc_id long")
        _, ms_del = self.timed("index.builder", "delete_docs", delete_docs, self.spark, d, del_df)
        _, ms_app = self.timed("index.builder", "append_to_index", append_to_index, self.spark,
                               staged, d, order_cols=["repo", "path", "commit"])
        before = set(os.listdir(d))
        merged, ms_merge = self.timed("index.builder", "maybe_merge", maybe_merge, self.spark, d,
                                      **MERGE_POLICY)
        idx, ms_open = self.timed("index.reader", "open", Index, self.spark, d)
        searcher, _ = self.timed("search.executor", "Searcher", Searcher, idx)
        self.timed("index.commits", "list_commits", list_commits, d)
        self.ingest_log.append({
            "delete_ms": ms_del, "append_ms": ms_app, "merge_ms": ms_merge,
            "reopen_ms": ms_open, "merges": len(merged["merges"]),
            "bytes_rewritten": sum(dir_bytes(os.path.join(d, x))
                                   for x in set(os.listdir(d)) - before),
            "segments": len(idx.manifest["paths"]["postings"]),
        })
        n_total = len(corpus) + len(new)
        for r in gen.with_doc_ids(new, base=len(corpus)).itertuples():
            model[(r.repo, r.path)] = (int(r.doc_id), r.commit)
        self._check_live(idx, searcher, model, n_total, len(corpus))

    def _check_live(self, idx, searcher, model, n_total: int, n_base: int) -> None:
        """The live docs are exactly the model's; every appended version is
        found by its marker term and fetched back with its (repo, path,
        commit); replaced versions are not found; N counts every doc ever
        added (deletes mask, they do not renumber)."""
        from lucene_spark.search import TermQ

        live = idx.docs.select("doc_id", "repo", "path")
        if idx.deletes is not None:
            live = live.join(idx.deletes, "doc_id", "left_anti")
        got_live = {(r["repo"], r["path"]): int(r["doc_id"]) for r in live.collect()}
        if got_live != {k: v[0] for k, v in model.items()}:
            self.fail("after the commit: live docs differ from the model")
        hits, _ = self.timed("search.executor", "doc_set", searcher.doc_set, TermQ("rev_0"))
        found = [int(r["doc_id"]) for r in hits.collect()]
        want = {v[0]: (k[0], k[1], v[1]) for k, v in model.items() if v[0] >= n_base}
        if self.fetch(idx, found, ["repo", "path", "commit"]) != want:
            self.fail(f"after the commit: marker search found {len(found)} docs, "
                      f"expected {len(want)}")
        if idx.N != n_total:
            self.fail(f"after the commit: N={idx.N}, expected {n_total}")

    # ---- entry ----------------------------------------------------------------

    def run(self, workload: str) -> dict:
        return getattr(self, workload)()

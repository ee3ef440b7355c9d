"""Query objects for the generated specs, and their expected top-k from
``lucene_spark.oracle.PandasOracle``.

PandasOracle supplies the naive inverted index and the float32 BM25
primitives (term and phrase scores, disjunction sums). The compound shapes
the benchmark uses are composed here the way the reference combines
clause scores:

- bool: MUST a, SHOULD (b, c, d) with minimum-should-match 2, MUST_NOT e.
  score = float(a) + float(sum of matching SHOULD scores in double), the
  required-plus-optional sum (ReqOptSumScorer over a DisjunctionSumScorer).
- multiterm: SHOULD (wildcard, fuzzy). The wildcard is constant-score 1;
  the fuzzy clause keeps the top 50 terms within one edit by (boost desc,
  term asc), boost = 1 - ed / min(|term|, |query|), every term weighted
  with the blended (max) df, clause score = float(double sum).
"""

from __future__ import annotations

import re

import numpy as np

from lucene_spark import bm25
from lucene_spark.oracle import PandasOracle
from lucene_spark.search import BoolQ, FuzzyQ, PhraseQ, TermQ, WildcardQ
from perfbench.gen import one_edit

FUZZY_MAX_EXPANSIONS = 50


def to_query(cls: str, spec: dict):
    if cls == "term":
        return TermQ(spec["term"])
    if cls == "phrase":
        return PhraseQ(tuple(spec["phrase"]))
    if cls == "multiterm":
        return BoolQ(should=(WildcardQ(spec["wildcard"]), FuzzyQ(spec["fuzzy"], max_edits=1)))
    return BoolQ(
        must=tuple(TermQ(t) for t in spec["must"]),
        should=tuple(TermQ(t) for t in spec["should"]),
        must_not=tuple(TermQ(t) for t in spec["not"]),
        min_should_match=spec["msm"],
    )


class Oracle:
    def __init__(self, docs):
        """docs: pandas frame with doc_id and content (reference ingest order)."""
        self.o = PandasOracle(docs, text_col="content", id_col="doc_id")

    def _term(self, t: str) -> dict:
        return self.o.term_scores(t)

    def _bool(self, spec: dict) -> dict:
        req = self.o.and_scores([self._term(t) for t in spec["must"]])
        for t in spec["not"]:
            for d in self.o.postings.get(t, {}):
                req.pop(d, None)
        shoulds = [self._term(t) for t in spec["should"]]
        out = {}
        for d, s in req.items():
            hit = [c[d] for c in shoulds if d in c]
            if len(hit) < spec["msm"]:
                continue
            opt = self.o.or_scores([{d: h} for h in hit]).get(d, np.float32(0))
            out[d] = np.float32(s) + np.float32(opt)
        return out

    def _fuzzy(self, target: str) -> dict:
        """FuzzyQ(target, max_edits=1)."""
        cands = []
        for t in self.o.postings:
            if one_edit(t, target):
                boost = 1.0 if t == target else 1.0 - 1 / float(min(len(t), len(target)))
                cands.append((-boost, t))
        kept = sorted(cands)[:FUZZY_MAX_EXPANSIONS]
        if not kept:
            return {}
        df_blend = max(len(self.o.postings[t]) for _, t in kept)
        idf = bm25.idf(df_blend, self.o.doc_count)
        acc: dict[int, float] = {}
        for neg_boost, t in kept:
            w = np.float32(np.float32(-neg_boost) * idf)
            for d, pos in self.o.postings[t].items():
                s = bm25.score(np.array([len(pos)]), np.array([self.o.norms[d]]), w,
                               self.o.cache)[0]
                acc[d] = acc.get(d, 0.0) + float(s)
        return {d: np.float32(v) for d, v in acc.items()}

    def _wildcard(self, pattern: str) -> dict:
        rx = re.compile("".join("." if ch == "?" else ".*" if ch == "*" else re.escape(ch)
                                for ch in pattern))
        docs = set()
        for t, plist in self.o.postings.items():
            if rx.fullmatch(t):
                docs.update(plist)
        return {d: np.float32(1.0) for d in docs}

    def scores(self, cls: str, spec: dict) -> dict:
        if cls == "term":
            return self._term(spec["term"])
        if cls == "phrase":
            return self.o.phrase_scores(list(spec["phrase"]))
        if cls == "multiterm":
            return self.o.or_scores([self._wildcard(spec["wildcard"]),
                                     self._fuzzy(spec["fuzzy"])])
        return self._bool(spec)

    def top_k(self, cls: str, spec: dict, k: int) -> list[tuple[int, float]]:
        return PandasOracle.top_k(self.scores(cls, spec), k)


def same_hits(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Rank-identical doc ids and float32 bit-identical scores."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(np.float32(a).tobytes() == np.float32(b).tobytes()
               for (_, a), (_, b) in zip(got, want))

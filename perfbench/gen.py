"""Seeded inputs for the benchmark: a source-code corpus, query streams and
an ingest commit.

The corpus follows the input_hint schema ``(repo, path, commit, lang,
content)`` and the shape of ``lucene_spark.corpus.make_corpus`` (Zipf
vocabulary of code-like terms, license headers on every fourth file,
per-language keywords, the edge rows), but is generated here, vectorized,
so that the benchmark's inputs do not move when the program's own fixture
generator changes. Everything is a pure function of the seed; the program
under test only ever sees the resulting tables and query objects.

Query classes are cost-homogeneous: every query of a class has one shape
and draws its terms from one document-frequency band (see ``BANDS``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["java", "py", "go", "js", "rs", "md"]
KEYWORDS = {
    "java": ["public", "class", "void", "static", "import", "return", "new", "final"],
    "py": ["def", "import", "return", "class", "self", "none", "lambda", "yield"],
    "go": ["func", "package", "import", "return", "defer", "chan", "struct", "range"],
    "js": ["function", "const", "let", "return", "import", "export", "async", "await"],
    "rs": ["fn", "let", "mut", "impl", "struct", "match", "trait", "pub"],
    "md": ["the", "and", "for", "with", "usage", "example", "install", "license"],
}
LICENSE = (
    "licensed under the apache license version 2_0 the license you may not use "
    "this file except in compliance with the license"
).split()
IDENTS = [f"var_{i}" for i in range(400)] + [f"fn_{i}" for i in range(200)]
VOCAB = sorted({w for ks in KEYWORDS.values() for w in ks}) + IDENTS
# ids >= len(VOCAB) are license-header words (never drawn from the Zipf body)
WORDS = VOCAB + sorted(set(LICENSE) - set(VOCAB))
_WID = {w: i for i, w in enumerate(WORDS)}
_LICENSE_IDS = np.array([_WID[w] for w in LICENSE], dtype=np.int64)
_KW_IDS = {lang: np.array([_WID[w] for w in ks]) for lang, ks in KEYWORDS.items()}
_HEADER_WORDS = frozenset(LICENSE)

# document-frequency bands (fraction of docs containing the term/phrase)
BANDS = {
    "term": (0.01, 0.08),
    "bool_must": (0.30, 0.80),
    "bool_should": (0.08, 0.30),
    "bool_not": (0.04, 0.15),
    "phrase": (0.03, 0.10),
}
QUERY_CLASSES = ("term", "bool", "phrase", "multiterm")


def _commit_hash(tag: str) -> str:
    return hashlib.sha1(tag.encode()).hexdigest()


def _zipf(seed: int) -> np.ndarray:
    """Word probabilities: Zipf(1.1) over ranks, the rank of each word
    permuted by the seed (so seeds change which words are hot, not how
    hot the k-th hottest word is)."""
    ranks = np.random.default_rng([seed, 0]).permutation(len(VOCAB)) + 1
    probs = 1.0 / ranks.astype(np.float64) ** 1.1
    return probs / probs.sum()


def _bodies(rng: np.random.Generator, probs: np.ndarray, langs: np.ndarray,
            header: np.ndarray, min_tokens: int = 10, max_tokens: int = 400,
            marker: str | None = None) -> list[str]:
    """Content strings for len(langs) documents."""
    n = len(langs)
    n_tok = rng.integers(min_tokens, max_tokens, size=n)
    flat = rng.choice(len(VOCAB), size=int(n_tok.sum()), p=probs)
    tails = rng.integers(0, 8, size=(n, 8))
    ends = np.cumsum(n_tok)
    words = np.array(WORDS, dtype=object)
    texts = []
    for i in range(n):
        body = flat[ends[i] - n_tok[i]: ends[i]]
        parts = [_LICENSE_IDS] if header[i] else []
        parts += [body, _KW_IDS[langs[i]][tails[i, : min(8, n_tok[i])]]]
        tok = np.concatenate(parts)
        text = " ".join(words[tok])
        if marker is not None:
            text = f"{text} {marker}"
        texts.append(text)
    return texts


def make_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """n_docs generated files plus the five edge rows (empty file, single
    df=1 token, a 10k-times repeated term, a >255-char token, duplicate
    content under a new identity). (repo, path, commit) is unique."""
    rng = np.random.default_rng([seed, 1])
    i = np.arange(n_docs)
    langs = np.array(LANGS)[i % len(LANGS)]
    texts = _bodies(rng, _zipf(seed), langs, i % 4 == 0)
    rows = {
        "repo": [f"org{k % 37}/proj{k % 11}" for k in i],
        "path": [f"src/pkg{k % 53}/File{k}.{lang}" for k, lang in zip(i, langs)],
        "commit": [_commit_hash(f"c{seed}:{k}") for k in i],
        "lang": list(langs),
        "content": texts,
    }
    df = pd.DataFrame(rows)
    edge = pd.DataFrame(
        [
            ("edge/e", "empty.txt", _commit_hash("e0"), "md", ""),
            ("edge/e", "single.txt", _commit_hash("e1"), "md", "singleton_token_df1"),
            ("edge/e", "repeat.txt", _commit_hash("e2"), "md", " ".join(["saturate"] * 10000)),
            ("edge/e", "long.txt", _commit_hash("e3"), "md", "x" * 600),
            ("edge/dup", "dup_of_0.txt", _commit_hash("e4"), df["lang"].iloc[0],
             df["content"].iloc[0]),
        ],
        columns=df.columns,
    )
    return pd.concat([df, edge], ignore_index=True)


def with_doc_ids(corpus: pd.DataFrame, base: int = 0) -> pd.DataFrame:
    """Reference ingest order: doc_id = base + rank of (repo, path, commit)."""
    out = corpus.sort_values(["repo", "path", "commit"], kind="mergesort").reset_index(drop=True)
    out.insert(0, "doc_id", np.arange(base, base + len(out), dtype=np.int64))
    return out


# ---- document frequencies (for the query bands) ---------------------------

def _doc_tokens(corpus: pd.DataFrame) -> list[list[str]]:
    return [c.split() for c in corpus["content"]]


def term_df(corpus: pd.DataFrame) -> dict[str, int]:
    out: dict[str, int] = {}
    for toks in _doc_tokens(corpus):
        for t in set(toks):
            out[t] = out.get(t, 0) + 1
    return out


def bigram_df(corpus: pd.DataFrame, words: set[str]) -> dict[tuple[str, str], int]:
    out: dict[tuple[str, str], int] = {}
    for toks in _doc_tokens(corpus):
        seen = {(a, b) for a, b in zip(toks, toks[1:]) if a in words and b in words}
        for bg in seen:
            out[bg] = out.get(bg, 0) + 1
    return out


def _band(dfs: dict, n: int, band: tuple[float, float]) -> list:
    lo, hi = band
    keys = sorted(k for k, v in dfs.items() if lo * n <= v <= hi * n)
    if not keys:
        raise ValueError(f"empty df band {band} at N={n}")
    return keys


# ---- query streams ---------------------------------------------------------

def one_edit(a: str, b: str) -> bool:
    """Damerau distance <= 1 (one substitution, insertion, deletion or
    adjacent transposition)."""
    if a == b:
        return True
    if abs(len(a) - len(b)) > 1:
        return False
    if len(a) == len(b):
        diff = [i for i in range(len(a)) if a[i] != b[i]]
        return len(diff) == 1 or (len(diff) == 2 and diff[1] == diff[0] + 1
                                  and a[diff[0]] == b[diff[1]] and a[diff[1]] == b[diff[0]])
    short, long_ = (a, b) if len(a) < len(b) else (b, a)
    return any(long_[:i] + long_[i + 1:] == short for i in range(len(long_)))


def query_specs(corpus: pd.DataFrame, seed: int, count: int) -> dict[str, list[dict]]:
    """`count` distinct specs per query class (plain data, see
    perfbench.oracle.to_query). Every term role draws from the few
    candidates whose df is nearest the median of its band, so all queries
    of a class cost about the same on every seed."""
    rng = np.random.default_rng([seed, 2])
    n = len(corpus)
    dfs = term_df(corpus)
    body = {t: v for t, v in dfs.items() if t in set(VOCAB) and t not in _HEADER_WORDS}

    def pool(cost: dict, keys: list, size: int) -> list:
        med = float(np.median([cost[k] for k in keys]))
        return sorted(keys, key=lambda k: (abs(cost[k] - med), k))[:size]

    def draw(items: list, k: int) -> list:
        if len(items) < k:
            raise ValueError(f"pool too small: {len(items)} < {k}")
        return [items[j] for j in rng.choice(len(items), size=k, replace=False)]

    size = max(6, count)
    terms = draw(pool(body, _band(body, n, BANDS["term"]), size), count)
    must = pool(body, _band(body, n, BANDS["bool_must"]), 6)
    should = pool(body, _band(body, n, BANDS["bool_should"]), 6)
    mnot = pool(body, _band(body, n, BANDS["bool_not"]), 6)
    bools: list[dict] = []
    while len(bools) < count:
        a = draw(must, 1)[0]
        shoulds = sorted(draw([t for t in should if t != a], 3))
        e = draw([t for t in mnot if t != a and t not in shoulds], 1)[0]
        q = {"must": [a], "should": shoulds, "not": [e], "msm": 2}
        if q not in bools:
            bools.append(q)
    bg = bigram_df(corpus, set(body))
    phrases = [list(p) for p in draw(pool(bg, _band(bg, n, BANDS["phrase"]), size), count)]
    # multiterm: wildcard over an identifier decade + a 1-edit fuzzy term,
    # each ranked by the summed df of the terms it expands to
    decades = {d: sum(dfs.get(f"var_{d}{i}", 0) for i in range(10)) for d in range(10, 40)}
    fuzz = {f: sum(v for t, v in dfs.items() if one_edit(t, f"fn_{f}"))
            for f in range(100, 200)}
    multis = [{"wildcard": f"var_{d}?", "fuzzy": f"fn_{f}"} for d, f in zip(
        draw(pool(decades, sorted(decades), size), count),
        draw(pool(fuzz, sorted(fuzz), size), count))]
    return {
        "term": [{"term": t} for t in terms],
        "bool": bools,
        "phrase": [{"phrase": p} for p in phrases],
        "multiterm": multis,
    }


# ---- ingest commit ---------------------------------------------------------

def commit(base: pd.DataFrame, seed: int, n_files: int) -> pd.DataFrame:
    """New versions of `n_files` distinct generated files of `base`: same
    (repo, path), a new commit hash, new content carrying the marker token
    ``rev_0``."""
    rng = np.random.default_rng([seed, 4])
    files = base[~base["repo"].str.startswith("edge/")]
    sel = files.iloc[rng.permutation(len(files))[:n_files]]
    langs = sel["lang"].to_numpy()
    return pd.DataFrame({
        "repo": sel["repo"].to_numpy(),
        "path": sel["path"].to_numpy(),
        "commit": [_commit_hash(f"r{seed}:{p}") for p in sel["path"]],
        "lang": langs,
        "content": _bodies(rng, _zipf(seed), langs, np.zeros(len(sel), dtype=bool),
                           marker="rev_0"),
    })

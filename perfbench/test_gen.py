"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py
"""

from __future__ import annotations

import io
import json

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen


def _bytes(df) -> bytes:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf)
    return buf.getvalue()


def _inputs(seed: int) -> tuple[bytes, bytes, bytes]:
    corpus = gen.make_corpus(3000, seed)
    queries = json.dumps(gen.query_specs(corpus, seed, count=5), sort_keys=True).encode()
    return _bytes(corpus), queries, _bytes(gen.commit(corpus, seed, 50))


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_gives_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert all(x != y for x, y in zip(a, b))


def test_corpus_shape():
    corpus = gen.make_corpus(600, 3)
    assert list(corpus.columns) == ["repo", "path", "commit", "lang", "content"]
    assert len(corpus) == 605  # five edge rows
    assert not corpus.duplicated(["repo", "path", "commit"]).any()
    ids = gen.with_doc_ids(corpus)
    assert ids["doc_id"].tolist() == list(range(605))


def test_query_classes_are_distinct_within_a_class():
    specs = gen.query_specs(gen.make_corpus(3000, 5), 5, count=5)
    assert set(specs) == set(gen.QUERY_CLASSES)
    for cls, items in specs.items():
        assert len(items) == 5
        assert len({json.dumps(x, sort_keys=True) for x in items}) == 5, cls

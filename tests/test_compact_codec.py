"""The one posting codec: (delta, tf, doc_len) varints, the BM25 impact
recomputed at decode. Results match the reference oracle at 1e-9 on
every path, at under 4 bytes per posting. Bit-identity with the former
f64 impact payload is pinned by tests/test_postings_write.py, whose
`f64_4x2` search rows were produced by f64 builds."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import QUERIES
from data_text_search_spark.functions.text import tokenize_py
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.streaming.incremental import (
    add_documents,
    merge_segments,
)
from tests.oracle_bm25 import OracleBM25, oracle_search


@pytest.fixture(scope="module")
def root(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("codec") / "idx")
    build_index(spark, corpus, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    return root


def _results(searcher, q, n=10):
    return [(r["doc_id"], r["score"]) for r in searcher.search(q, n).collect()]


def _assert_rows(got, want, q):
    """Same docs in the same order, scores within 1e-9."""
    assert [d for d, _ in got] == [d for d, _ in want], (q, got, want)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9), (q, gs, ws)


def _assert_oracle(got, texts, q, n=10, ids=None):
    """`got` (doc_id, score) rows equal the oracle's top-n. `ids` maps
    oracle positions to doc ids (default: the position is the id)."""
    want = oracle_search(texts, q, n=n)
    if ids is not None:
        want = [(ids[d], s) for d, s in want]
    _assert_rows(got, want, q)


def test_compact_results_bit_identical(spark, root, corpus_pdf):
    texts = corpus_pdf["content"].tolist()
    s = IndexSearcher(spark, root)
    s.warm()
    qtexts = [qq["query_text"] for qq in QUERIES]
    for q in qtexts:
        _assert_oracle(_results(s, q), texts, q)
    # batch path too
    batch = s.search_batch(qtexts, 10).toPandas()
    for qi, q in enumerate(qtexts):
        rows = batch[batch["query_id"] == qi].sort_values("rank")
        _assert_oracle(list(zip(rows["doc_id"], rows["score"])), texts, q)


def test_compact_payload_smaller(root):
    from data_text_search_spark.operators.index_build import load_manifest
    g = load_manifest(root)["groups_state"]["0"]
    assert g["bytes_per_posting"] <= 4.0, g


def test_compact_incremental_and_merge_identical(spark, corpus, corpus_pdf,
                                                 tmp_path):
    new = ["compactneedle quantum flux widget",
           "return import def compactneedle"]
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": [910000, 910001], "content": new}))
    base = corpus_pdf["content"].tolist()
    ids = list(range(len(base))) + [910000, 910001]
    root = str(tmp_path / "inc")
    build_index(spark, corpus, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    add_documents(spark, root, delta, id_col="doc_id")
    # a segment scores its docs under the base idf and avgdl: the oracle
    # over the base corpus, with the delta docs' base terms added
    bm = OracleBM25([tokenize_py(t.lower()) for t in base])
    for i, text in enumerate(new, start=len(base)):
        toks = tokenize_py(text.lower())
        bm.doc_len.append(len(toks))
        for t in toks:
            if t in bm.idf:
                bm.t2d[t][i] = bm.t2d[t].get(i, 0) + 1
    s = IndexSearcher(spark, root)
    for q in ["return import", "quantum flux capacitor"]:
        want = [(ids[d], sc) for d, sc in bm.top_n(tokenize_py(q), 10)]
        _assert_rows(_results(s, q), want, q)
    assert {d for d, _ in _results(s, "compactneedle")} == {910000, 910001}
    merge_segments(spark, root)
    s = IndexSearcher(spark, root)
    for q in ["compactneedle", "return import", "quantum flux capacitor"]:
        _assert_oracle(_results(s, q), base + new, q, ids=ids)


def test_compact_negative_idf_parity(spark, tmp_path):
    """Negative-IDF corpus vs the oracle — recompute must survive the
    pruning math too."""
    import numpy as np
    rs = np.random.RandomState(31)
    texts = []
    for i in range(100):
        toks = ["hotterm"] * rs.randint(1, 4) if i % 4 else []
        toks += [f"w{rs.randint(12)}" for _ in range(rs.randint(2, 20))]
        texts.append(" ".join(toks))
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(texts)), "content": texts}))
    root = str(tmp_path / "negc")
    build_index(spark, df, root, BM25Config(block_size=4),
                id_col="doc_id", shards=2, groups=1)
    s = IndexSearcher(spark, root)
    for q in ["hotterm w0", "hotterm hotterm w1 w2", "w3 w4 w5"]:
        _assert_oracle(_results(s, q, 5), texts, q, n=5)

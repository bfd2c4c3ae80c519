"""Adversarial correctness: negative-IDF dynamic pruning + crash-replay.

The unsmoothed Robertson IDF (bm25_functions.py:92-102) admits negative
impacts, which breaks the monotonicity assumptions most WAND
implementations rely on. These tests build corpora designed to trigger
the failure modes fixed in index_query:
- θ_lb inflated by dead docs' stale-high accumulated scores;
- docs first seen after a pruned (non-essential) term re-entering with a
  stale score when θ_lb later shrinks.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
import pytest

from data_text_search_spark.config import BM25Config, IndexPaths
from data_text_search_spark.operators.index_build import build_index, load_manifest
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.streaming.incremental import add_documents
from tests.oracle_bm25 import oracle_search


def _assert_parity(engine_rows, oracle_topn):
    got = [(r["doc_id"], r["score"]) for r in engine_rows]
    assert [d for d, _ in got] == [d for d, _ in oracle_topn], (
        f"rank mismatch: engine={got} oracle={oracle_topn}")
    for (_, gs), (_, os_) in zip(got, oracle_topn):
        assert math.isclose(gs, os_, rel_tol=0, abs_tol=1e-9)


def test_negative_idf_pruning_parity(spark, tmp_path):
    """Hot terms in >half the corpus carry negative IDF; queries mix them
    with rare positive-IDF terms so dead docs accumulate stale-high
    scores and θ_lb can shrink mid-walk. Engine must stay rank-identical
    to the oracle."""
    rs = np.random.RandomState(99)
    n_docs = 160
    texts = []
    for i in range(n_docs):
        toks = []
        # 'omnibus' in ~90% of docs, 'verycommon' in ~70%: negative IDF
        if rs.rand() < 0.9:
            toks += ["omnibus"] * rs.randint(1, 6)
        if rs.rand() < 0.7:
            toks += ["verycommon"] * rs.randint(1, 4)
        # medium terms create near-ties among candidates
        for m in range(6):
            if rs.rand() < 0.3:
                toks += [f"med{m}"] * rs.randint(1, 3)
        # rare high-IDF terms
        if rs.rand() < 0.06:
            toks += [f"rare{i % 7}"]
        toks += ["pad"] * rs.randint(0, 20)   # doc-length variation
        rs.shuffle(toks)
        texts.append(" ".join(toks) if toks else "emptyfiller")
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n_docs), "content": texts}))
    root = str(tmp_path / "negidf")
    # tiny blocks + few shards: maximize pruning-path traffic
    build_index(spark, df, root, BM25Config(block_size=4), id_col="doc_id",
                shards=2, groups=1)
    s = IndexSearcher(spark, root)
    queries = [
        "omnibus rare0",
        "omnibus verycommon rare1 med0",
        "omnibus omnibus med1 med2",          # duplicate query token
        "verycommon med3 med4 med5 rare2",
        "omnibus verycommon",                  # all-negative query
        "rare3 rare4 rare5 omnibus",
    ]
    for q in queries:
        for k in (3, 10):
            res = s.search(q, k).collect()
            want = oracle_search(texts, q, n=k)
            _assert_parity(res, want)


def test_negative_idf_pruning_parity_random(spark, tmp_path):
    """Randomized sweep: Zipf corpora with a forced >50%-df head term,
    random multi-term queries — pruned search must equal the oracle."""
    rs = np.random.RandomState(1234)
    vocab = [f"w{i}" for i in range(30)]
    probs = np.array([1 / (i + 1) ** 0.7 for i in range(30)])
    probs /= probs.sum()
    texts = []
    for i in range(140):
        toks = list(rs.choice(vocab, size=rs.randint(2, 40), p=probs))
        if i % 3 != 0:
            toks.append("hothead")      # df = 2/3 of corpus → negative idf
        texts.append(" ".join(toks))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "content": texts}))
    root = str(tmp_path / "negrand")
    build_index(spark, df, root, BM25Config(block_size=8), id_col="doc_id",
                shards=3, groups=1)
    s = IndexSearcher(spark, root)
    for trial in range(10):
        qlen = rs.randint(1, 5)
        qtoks = list(rs.choice(vocab[:15], size=qlen))
        if trial % 2 == 0:
            qtoks.append("hothead")
        q = " ".join(qtoks)
        res = s.search(q, 5).collect()
        want = oracle_search(texts, q, n=5)
        _assert_parity(res, want)


# ------------------------------------------- kernel-level posting fuzz

K1, B, AVGDL = 1.5, 0.75, 10.0


def _make_blocks(term_postings: dict, qidf: dict,
                 block_size: int) -> pd.DataFrame:
    """Posting blocks of (docs, tfs, doc lengths) per term, with the
    block bounds of their BM25 impacts under `qidf`."""
    from data_text_search_spark.functions.codec import varint_encode_segmented
    from data_text_search_spark.operators.index_query import _bm25_impacts

    def varints(v):
        return varint_encode_segmented(np.asarray(v, dtype=np.uint64),
                                       np.array([len(v)]))[0]

    rows = []
    for term, (docs, tfs, dls) in sorted(term_postings.items()):
        order = np.argsort(docs)
        docs, tfs, dls = docs[order], tfs[order], dls[order]
        imps = _bm25_impacts(qidf[term], tfs, dls, AVGDL, K1, B)
        for bi in range(0, len(docs), block_size):
            blk = slice(bi, bi + block_size)
            d, im = docs[blk], imps[blk]
            rows.append({
                "term": term, "shard": 0, "block_id": bi // block_size,
                "first_doc_id": int(d[0]), "last_doc_id": int(d[-1]),
                "n_docs": len(d), "doc_deltas": varints(np.diff(d)),
                "tfs": varints(tfs[blk]), "impacts": varints(dls[blk]),
                "block_max": float(im.max()), "block_min": float(im.min())})
    return pd.DataFrame(rows)


def test_shard_kernel_fuzz_vs_bruteforce():
    """No Spark: drive _shard_topk_kernel_factory directly on random
    posting blocks with heavy negative impacts; must equal brute force.
    (A 30k-trial offline sweep of the same generator found 0 divergences;
    this keeps an 800-trial regression in-suite.)"""
    from data_text_search_spark.operators.index_query import (
        _bm25_impacts, _shard_topk_kernel_factory)
    rs = np.random.RandomState(7)
    for trial in range(800):
        n_docs = rs.randint(4, 25)
        n_terms = rs.randint(2, 7)
        tp, qidf = {}, {}
        for ti in range(n_terms):
            nd = rs.randint(1, n_docs + 1)
            docs = rs.choice(n_docs, size=nd, replace=False)
            style = rs.randint(4)
            if style == 0:
                idf = -abs(rs.randn()) * 4
            elif style == 1:
                idf = rs.randn() * 5
            elif style == 2:
                idf = abs(rs.randn()) * 3
            else:      # few distinct values: exact score ties
                idf = float(rs.choice([-4, -2, -.5, -.05, .05, .5, 2, 4]))
            tp[f"t{ti}"] = (docs, rs.randint(1, 4, nd), rs.randint(1, 30, nd))
            qidf[f"t{ti}"] = idf
        qn = rs.randint(1, n_terms + 1)
        qc = {f"t{t}": int(rs.randint(1, 4))
              for t in rs.choice(n_terms, size=qn, replace=False)}
        k = int(rs.choice([1, 2, 3, 5]))
        bs = int(rs.choice([1, 2, 4]))
        # brute force
        acc: dict[int, float] = {}
        for t, c in qc.items():
            docs, tfs, dls = tp[t]
            imps = _bm25_impacts(qidf[t], tfs, dls, AVGDL, K1, B)
            for d, im in zip(docs, imps):
                acc[int(d)] = acc.get(int(d), 0.0) + float(im) * c
        want = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]
        out = _shard_topk_kernel_factory(qc, k, qidf, AVGDL, K1, B)(
            _make_blocks({t: tp[t] for t in qc}, qidf, bs))
        got = list(zip(out["doc_id"].tolist(), out["score"].tolist()))
        assert len(got) == len(want), (trial, got, want)
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gd == wd and abs(gs - ws) < 1e-9, (trial, got, want)


# ----------------------------------------------------- incremental replay

def _crash_state(root: str, batch_key: str) -> None:
    """Rewind a committed segment's manifest to the pre-commit (pending)
    state — disk then looks exactly like a writer that crashed after its
    data writes but before the manifest commit."""
    paths = IndexPaths(root)
    m = load_manifest(root)
    seg = m["segments"].pop()
    m["n_docs"] -= seg["n_docs"]
    m["drift"] = 0.0
    m["needs_rebuild"] = False
    m["applied_batches"].remove(batch_key)
    m["pending"] = {"segment": seg["segment"], "batch_key": batch_key}
    from data_text_search_spark.operators.index_build import (
        _write_manifest_atomic,
    )
    _write_manifest_atomic(paths.manifest, m)


def test_crashed_append_invisible_then_replayable(spark, tmp_path):
    from data_text_search_spark.fixtures.corpus import corpus_pandas
    pdf = corpus_pandas(60).reset_index().rename(columns={"index": "doc_id"})
    root = str(tmp_path / "crash")
    build_index(spark, spark.createDataFrame(pdf), root, BM25Config(),
                id_col="doc_id", shards=4, groups=1)
    delta = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [900000], "content": ["crashneedle xyz"]}))
    add_documents(spark, root, delta, id_col="doc_id", batch_key="bX")
    _crash_state(root, "bX")

    # 1. uncommitted segment data must be invisible to a fresh searcher
    s = IndexSearcher(spark, root)
    assert s.search("crashneedle", 3).count() == 0
    assert load_manifest(root)["n_docs"] == 60

    # 2. the replayed micro-batch must succeed (wipe + redo), not raise
    m = add_documents(spark, root, delta, id_col="doc_id", batch_key="bX")
    assert m["n_docs"] == 61
    assert "pending" not in m
    assert len(m["segments"]) == 1
    s2 = IndexSearcher(spark, root)
    rows = s2.search("crashneedle", 3).collect()
    # exactly once: one result row, not doubled postings
    assert [r["doc_id"] for r in rows] == [900000]

    # 3. a second replay of the same key is a committed no-op
    m3 = add_documents(spark, root, delta, id_col="doc_id", batch_key="bX")
    assert m3["n_docs"] == 61 and len(m3["segments"]) == 1


def test_validation_failure_clears_pending(spark, tmp_path):
    from data_text_search_spark.fixtures.corpus import corpus_pandas
    pdf = corpus_pandas(40).reset_index().rename(columns={"index": "doc_id"})
    root = str(tmp_path / "valfail")
    build_index(spark, spark.createDataFrame(pdf), root, BM25Config(),
                id_col="doc_id", shards=4, groups=1)
    dup = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [5], "content": ["already in base"]}))
    with pytest.raises(ValueError, match="already exist"):
        add_documents(spark, root, dup, id_col="doc_id", batch_key="bad")
    m = load_manifest(root)
    assert "pending" not in m
    # the index keeps working after the aborted append
    ok = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [910000], "content": ["postabort needle"]}))
    m2 = add_documents(spark, root, ok, id_col="doc_id")
    assert m2["n_docs"] == 41

"""delete_documents tombstones + exact phrase search.

Deletion contract (streaming/incremental.delete_documents): deleted docs
vanish from EVERY query path immediately while surviving docs keep their
frozen full-corpus statistics (stale-stats, Lucene live-docs model);
merge_segments purges tombstones into a fresh-build-identical index.

Phrase contract (operators/fuzzy.phrase_search): overlapping sliding-
window occurrence counts of the query's verbatim token sequence — the
m=0 specialization of Z2 (spacy_search_funcs.py:58-92).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import corpus_pandas
from data_text_search_spark.functions.text import tokenize_py
from data_text_search_spark.operators import fuzzy
from data_text_search_spark.operators.index_build import build_index, load_manifest
from data_text_search_spark.operators.index_query import (
    WAND_COLS,
    IndexSearcher,
)
from data_text_search_spark.streaming.incremental import (
    add_documents,
    delete_documents,
    merge_segments,
)
from tests.oracle_bm25 import OracleBM25

QUERY = "def return import"
N = 160


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = corpus_pandas(N).reset_index().rename(columns={"index": "doc_id"})
    return pdf, spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def deleted_index(spark, corpus, tmp_path_factory):
    """Full build over N docs, then tombstone doc_id % 5 == 2."""
    pdf, df = corpus
    root = str(tmp_path_factory.mktemp("delidx") / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    dead = sorted(i for i in range(N) if i % 5 == 2)
    m = delete_documents(spark, root, dead)
    assert [t["n_docs"] for t in m["tombstones"]] == [len(dead)]
    assert m["deleted_docs"] == len(dead)
    return root, dead


def _oracle_surviving(pdf: pd.DataFrame, dead: list[int], n: int = 10):
    """Reference BM25 with FULL-corpus stats, scored docs filtered to the
    survivors — exactly the stale-stats tombstone contract."""
    corpus = [tokenize_py(t.lower()) for t in pdf["content"]]
    bm = OracleBM25(corpus, alpha=-math.inf)
    qtokens = tokenize_py(QUERY.lower())
    scores = bm.scores(qtokens)
    deadset = set(dead)
    alive = [(d, s) for d, s in scores.items() if d not in deadset]
    alive.sort(key=lambda kv: (-kv[1], kv[0]))
    return [(d, round(s, 9)) for d, s in alive[:n]]


def test_search_masks_deleted_with_frozen_stats(spark, corpus, deleted_index):
    pdf, _ = corpus
    root, dead = deleted_index
    s = IndexSearcher(spark, root)
    got = _rows(s.search(QUERY, 10))
    assert got and not {d for d, _ in got} & set(dead)
    assert got == _oracle_surviving(pdf, dead, 10)


def test_all_query_paths_agree(spark, corpus, deleted_index):
    root, dead = deleted_index
    s = IndexSearcher(spark, root)
    ref = _rows(s.search(QUERY, 10))
    # batch path
    b = s.search_batch([QUERY], 10).orderBy("rank")
    assert [(r["doc_id"], round(r["score"], 9)) for r in b.collect()] == ref
    # driver-local path
    loc = s.search_local(QUERY, 10)
    assert list(zip(loc["doc_id"], loc["score"].round(9))) == ref


@pytest.fixture(scope="module")
def segmented_index(spark, corpus, tmp_path_factory):
    """Base build over N docs, one appended segment whose docs hold terms
    no base doc has, then tombstones in both the base and the segment."""
    _, df = corpus
    root = str(tmp_path_factory.mktemp("segidx") / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    seg = pd.DataFrame({
        "doc_id": range(10_000, 10_012),
        "content": [f"flibbertigibbet gizmo{i % 3} return import "
                    f"{'wobble ' * (i % 4)}" for i in range(12)]})
    add_documents(spark, root, spark.createDataFrame(seg), id_col="doc_id")
    delete_documents(spark, root, [2, 7, 12, 10_001, 10_004])
    return root


LOCAL_QUERIES = [QUERY, "flibbertigibbet", "gizmo1 wobble", "return gizmo2",
                 "wobble def class", "flibbertigibbet notinthecorpusatall",
                 QUERY]


def test_search_local_equals_search_segmented(spark, segmented_index):
    """The driver fetch reads base AND segment units and masks both
    tombstone sets: search_local ranks exactly like search, including
    terms only a segment holds, on first touch and on LRU hits."""
    s = IndexSearcher(spark, segmented_index)
    assert len(s._units) > 4                 # base + segment units
    for q in LOCAL_QUERIES:
        want = _rows(s.search(q, 10))
        loc = s.search_local(q, 10)
        assert list(zip(loc["doc_id"], loc["score"].round(9))) == want, q
        assert not set(loc["doc_id"]) & {2, 7, 12, 10_001, 10_004}
    only_seg = s.search_local("flibbertigibbet", 20)["doc_id"].tolist()
    assert sorted(only_seg) == sorted(set(range(10_000, 10_012))
                                      - {10_001, 10_004})


def test_search_local_negative_cache_columns(spark, segmented_index):
    """A dictionary term that no unit holds is cached as an empty block
    with the columns and dtypes of a real one, both when the fetch finds
    nothing at all and when it finds other terms' rows."""
    s = IndexSearcher(spark, segmented_index)
    s.warm()
    m = s._dictionary.map
    m["zzghost"] = m["zzghost2"] = m["flibbertigibbet"]
    assert s.search_local("zzghost", 5).empty
    s.search_local("flibbertigibbet zzghost2", 5)
    real = s._local_blocks["flibbertigibbet"]
    assert len(real) and list(real.columns) == WAND_COLS
    for ghost in ("zzghost", "zzghost2"):
        empty = s._local_blocks[ghost]
        assert empty.empty and list(empty.columns) == WAND_COLS, ghost
        assert (empty.dtypes == real.dtypes).all(), ghost


def test_search_local_after_merge_raises_vanished(spark, corpus, tmp_path):
    """merge_segments replaces the unit files whose footers a searcher
    read before it: a search_local miss raises the vanished error (call
    refresh()) instead of answering from rows of another index."""
    _, df = corpus
    root = str(tmp_path / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    delete_documents(spark, root, [3, 4])
    old = IndexSearcher(spark, root)
    before = old.search_local("return", 5)      # footers read here
    merge_segments(spark, root)
    with pytest.raises(RuntimeError, match="vanished.*refresh"):
        old.search_local("import", 5)
    assert old.search_local("return", 5).equals(before)  # LRU hit
    old.refresh()
    assert old.search_local("import", 5)["doc_id"].tolist() == [
        r["doc_id"] for r in old.search("import", 5).collect()]


def test_searcher_opened_before_merge_refuses_merged_units(spark, tmp_path,
                                                           spark_jobs):
    """merge_segments on a tombstoned, unsegmented index recreates the
    unit dirs under the same names (with new part files). A searcher
    opened before the merge holds the old dictionary and tombstones, so
    every kernel path must raise the vanished error (call refresh())
    instead of answering from the merged postings. Opening it, tombstones
    included, starts no Spark job."""
    pdf = corpus_pandas(200).reset_index().rename(columns={"index": "doc_id"})
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, BM25Config(),
                id_col="doc_id", shards=4, groups=1)
    delete_documents(spark, root, range(0, 200, 3))
    with spark_jobs() as jobs:   # tombstones are read on the driver too
        s = IndexSearcher(spark, root)
    assert jobs == [] and s._tombstones.size == 67
    s.search("return import", 5).collect()
    merge_segments(spark, root)
    for call in (lambda: s.search("return import", 5).collect(),
                 lambda: s.search_local("return import", 5),
                 lambda: s.search_batch_pandas(["return import"], 5)):
        with pytest.raises(Exception, match="call refresh"):
            call()
    # the executor stage's tasks read through the same unit reader
    s.LOCAL_MAX_POSTINGS = 0
    with pytest.raises(Exception, match="call refresh"):
        s.search("return import", 5).collect()


def test_fuzzy_paths_mask_deleted(spark, corpus, deleted_index):
    pdf, df = corpus
    root, dead = deleted_index
    s = IndexSearcher(spark, root)
    got = s.fuzzy_search("return", max_mistakes=1).toPandas()
    assert got.shape[0] and not set(got["doc_id"]) & set(dead)
    # identical to the scan operator over the SURVIVING corpus
    alive_df = df.filter(~df.doc_id.isin(dead))
    want = fuzzy.fuzzy_search(spark, alive_df, "return", max_mistakes=1,
                              text_col="content").toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  want.reset_index(drop=True))


def test_delete_is_idempotent_and_ignores_unknown(spark, corpus, tmp_path):
    _, df = corpus
    root = str(tmp_path / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=2, groups=1)
    m = delete_documents(spark, root, [3, 4])
    assert m["deleted_docs"] == 2
    # unknown ids and already-dead ids are ignored; all-noop = no commit
    m2 = delete_documents(spark, root, [3, 999999])
    assert m2["deleted_docs"] == 2 and len(m2["tombstones"]) == 1
    m3 = delete_documents(spark, root, [5])
    assert m3["deleted_docs"] == 3 and len(m3["tombstones"]) == 2


def test_readd_of_tombstoned_id_is_rejected(spark, corpus, deleted_index):
    root, dead = deleted_index
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": [dead[0]], "content": ["resurrected doc"]}))
    with pytest.raises(ValueError, match="tombstoned"):
        add_documents(spark, root, delta, id_col="doc_id")


def test_drift_accumulates_to_rebuild_flag(spark, corpus, tmp_path):
    _, df = corpus
    root = str(tmp_path / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=2, groups=1)
    m = delete_documents(spark, root, range(0, N // 4), rebuild_threshold=0.2)
    assert m["needs_rebuild"] is True and m["drift"] > 0.2


def test_merge_purges_tombstones_to_fresh_build(spark, corpus, tmp_path):
    pdf, df = corpus
    root = str(tmp_path / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    dead = list(range(0, N, 7))
    delete_documents(spark, root, dead)
    m = merge_segments(spark, root)
    assert not m.get("tombstones") and m["n_docs"] == N - len(dead)
    assert m.get("deleted_docs", 0) == 0 and m.get("drift", 0.0) == 0.0
    # bit-identical to a fresh build over the surviving corpus
    fresh = str(tmp_path / "fresh")
    build_index(spark, df.filter(~df.doc_id.isin(dead)), fresh,
                BM25Config(), id_col="doc_id", shards=4, groups=1)
    got = _rows(IndexSearcher(spark, root).search(QUERY, 10))
    want = _rows(IndexSearcher(spark, fresh).search(QUERY, 10))
    assert got == want
    # refreshed stats differ from the tombstone-masked (stale) scores
    stale = _oracle_surviving(pdf, dead, 10)
    assert got != stale


# ---------------------------------------------------------------- phrase


def test_phrase_search_counts_overlapping_windows(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["a a a b",          # "a a" at positions 1,2 -> 2
                 "x a a x a a",      # -> 2
                 "a b a b a",        # no adjacent "a a" -> absent
                 "a a"]}))           # exactly the phrase -> 1
    got = {r["doc_id"]: r["phrase_count"]
           for r in fuzzy.phrase_search(spark, df, "a a").collect()}
    assert got == {0: 2, 1: 2, 3: 1}


def test_phrase_search_empty_query_and_too_short_docs(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0], "text": ["just one short doc"]}))
    assert fuzzy.phrase_search(spark, df, "").count() == 0
    assert fuzzy.phrase_search(
        spark, df, "one short doc longer than the doc itself is").count() == 0


def test_phrase_indexed_equals_scan(spark, corpus, tmp_path):
    pdf, df = corpus
    root = str(tmp_path / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=2, groups=1)
    s = IndexSearcher(spark, root)
    phrase = "def return"
    got = _prows(s.phrase_search(df, phrase, text_col="content"))
    want = _prows(fuzzy.phrase_search(spark, df, phrase, text_col="content"))
    assert got == want and got  # non-trivial
    # multiplicity pruning: a repeated-token phrase still matches exactly
    got2 = _prows(s.phrase_search(df, "return return", text_col="content"))
    want2 = _prows(fuzzy.phrase_search(spark, df, "return return",
                                       text_col="content"))
    assert got2 == want2


def _prows(df):
    return sorted((r["doc_id"], r["phrase_count"]) for r in df.collect())


def test_phrase_indexed_masks_deleted(spark, corpus, deleted_index):
    _, df = corpus
    root, dead = deleted_index
    s = IndexSearcher(spark, root)
    got = _prows(s.phrase_search(df, "def return", text_col="content"))
    assert got and not {d for d, _ in got} & set(dead)
    alive_df = df.filter(~df.doc_id.isin(dead))
    want = _prows(fuzzy.phrase_search(spark, alive_df, "def return",
                                      text_col="content"))
    assert got == want

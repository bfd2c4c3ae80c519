"""index_info / segment_info / doc_length_histogram + IndexSearcher.explain."""

from __future__ import annotations

import pandas as pd
import pytest

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import corpus_pandas
from data_text_search_spark.functions.text import tokenize_py
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.operators.inspect import (
    doc_length_histogram,
    index_info,
    segment_info,
)
from data_text_search_spark.streaming.incremental import (
    add_documents,
    delete_documents,
)

N = 120


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = corpus_pandas(N).reset_index().rename(columns={"index": "doc_id"})
    return pdf, spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def root(spark, corpus, tmp_path_factory):
    _, df = corpus
    r = str(tmp_path_factory.mktemp("insp") / "idx")
    build_index(spark, df, r, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    return r


def test_index_info_counts(spark, corpus, root):
    pdf, _ = corpus
    info = index_info(spark, root)
    toks = [tokenize_py(t.lower()) for t in pdf["content"]]
    vocab = {t for ts in toks for t in ts}
    n_pairs = sum(len(set(ts)) for ts in toks)
    assert info["n_docs"] == N == info["live_docs"]
    assert info["vocab_size"] == len(vocab)
    assert info["n_postings"] == n_pairs
    assert info["pruned_terms"] == 0 and info["segments"] == 0
    assert info["bytes"]["postings"] > 0 and info["bytes"]["doc_stats"] > 0
    assert info["total_bytes"] >= sum(info["bytes"].values())
    assert 0 < info["bytes_per_posting"] < 100
    assert set(info["config"]) == {"k1", "b", "alpha", "clean",
                                   "block_size", "stopwords"}
    with pytest.raises(ValueError):
        index_info(spark, root + "-nope")


def test_index_info_tracks_lifecycle(spark, corpus, tmp_path):
    _, df = corpus
    r = str(tmp_path / "idx")
    build_index(spark, df, r, BM25Config(), id_col="doc_id",
                shards=2, groups=1)
    add_documents(spark, r, df.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": [99991], "content": ["a new delta doc"]})),
        id_col="doc_id")
    delete_documents(spark, r, [0, 1, 2])
    info = index_info(spark, r)
    assert info["n_docs"] == N + 1 and info["deleted_docs"] == 3
    assert info["live_docs"] == N - 2
    assert info["segments"] == 1 and info["tombstone_files"] == 1
    assert info["drift"] > 0 and info["bytes"]["tombstones"] > 0
    assert segment_info(spark, r)[0]["n_docs"] == 1


def test_doc_length_histogram(spark, corpus, root):
    pdf, _ = corpus
    hist = doc_length_histogram(spark, root)
    assert sum(h["n_docs"] for h in hist) == N
    # empty docs clamp into the [1,1] bucket (log2(greatest(len,1)))
    lens = [max(len(tokenize_py(t.lower())), 1) for t in pdf["content"]]
    for h in hist:
        assert h["min_len"] <= h["max_len"]
        want = sum(1 for L in lens if h["min_len"] <= L <= h["max_len"])
        assert h["n_docs"] == want


def test_explain(spark, corpus, root):
    pdf, _ = corpus
    s = IndexSearcher(spark, root)
    ex = s.explain("def return zzznope def")
    by_term = {t["term"]: t for t in ex["terms"]}
    assert by_term["def"]["qcount"] == 2 and by_term["return"]["qcount"] == 1
    toks = [set(tokenize_py(t.lower())) for t in pdf["content"]]
    assert by_term["def"]["df"] == sum(1 for ts in toks if "def" in ts)
    assert ex["absent_terms"] == ["zzznope"]
    assert ex["alpha_pruned_terms"] == []
    assert ex["postings_to_decode"] == sum(
        t["df"] for t in ex["terms"])
    assert ex["plan"]["interactive_local_eligible"] is True
    assert ex["plan"]["distributed_executor"] == "colocated-units"
    assert "buckets_touched" not in ex["plan"]
    assert ex["plan"]["driver_merge"] is True
    assert ex["tombstones_masked"] == 0


def test_explain_pruned_and_tombstones(spark, corpus, tmp_path):
    _, df = corpus
    r = str(tmp_path / "idx")
    build_index(spark, df, r, BM25Config(alpha=1.0), id_col="doc_id",
                shards=2, groups=1)
    delete_documents(spark, r, [5, 6])
    s = IndexSearcher(spark, r)
    ex = s.explain("def get_heap")
    assert "def" in ex["alpha_pruned_terms"]  # hot term, pruned at 1.0
    assert [t["term"] for t in ex["terms"]] == ["get_heap"]
    assert ex["tombstones_masked"] == 2


def test_validate_index_green(spark, corpus, tmp_path):
    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.inspect import validate_index

    _, df = corpus
    root = str(tmp_path / "fsck")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=4, groups=2)
    rep = validate_index(spark, root)
    assert rep["ok"], rep
    assert rep["checks"]["base_postings"]["ok"]
    assert rep["checks"]["codec_sample"]["bad"] == 0
    assert rep["checks"]["doc_stats"]["rows"] == N


def test_validate_index_detects_count_drift(spark, corpus, tmp_path):
    import json

    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.inspect import validate_index

    _, df = corpus
    root = str(tmp_path / "fsck2")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=2, groups=1)
    # corrupt the manifest's posting count (simulates a lost part file
    # being papered over) — fsck must notice
    import glob
    mp = sorted(glob.glob(f"{root}/manifest.json*"))[-1]
    m = json.load(open(mp))
    m["groups_state"]["0"]["n_postings"] += 7
    json.dump(m, open(mp, "w"))
    rep = validate_index(spark, root)
    assert not rep["ok"]
    assert not rep["checks"]["base_postings"]["ok"]


def test_profile_matches_search(spark, corpus, tmp_path):
    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.index_query import IndexSearcher

    _, df = corpus
    root = str(tmp_path / "prof")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    s = IndexSearcher(spark, root)
    s.warm()
    q = "hash join table scan"
    want = [(r["doc_id"], r["score"]) for r in s.search(q, 5).collect()]
    # both sides of the `_driver_answers` gate: profile() takes the path
    # search() takes and reports it as explain() does
    for local_max, executor in ((s.LOCAL_MAX_POSTINGS, "driver"),
                                (0, "colocated-units")):
        s.LOCAL_MAX_POSTINGS = local_max
        prof = s.profile(q, 5)
        assert set(prof["timings_ms"]) >= {"parse_ms", "dictionary_ms",
                                           "kernel_job_ms", "merge_ms"}
        assert prof["executor"] == s.explain(q, 5)["plan"]["executor"] \
            == executor
        got = [(r["doc_id"], r["score"]) for r in prof["rows"]]
        assert got == want
        assert got == [(r["doc_id"], r["score"])
                       for r in s.search(q, 5).collect()]
    assert s.profile("zzznope", 5)["rows"] == []

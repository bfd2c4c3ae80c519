"""Pluggable similarity modules + match-set aggregations over the
persisted index: TF-IDF / LM-JM vs a pure-Python oracle, score_all,
function_score, rescore windows, stats/sort aggregations, highlighting,
and the collection-frequency job."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np
import pytest

from data_text_search_spark.config import BM25Config
from data_text_search_spark.functions.text import tokenize_py
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import IndexSearcher

QUERY = "hash join table scan"


@pytest.fixture(scope="module")
def index_root(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("simidx") / "bm25")
    build_index(spark, corpus, root, BM25Config(),
                id_col="doc_id", shards=4, groups=2)
    return root


@pytest.fixture(scope="module")
def searcher(spark, index_root):
    s = IndexSearcher(spark, index_root)
    s.warm()
    return s


@pytest.fixture(scope="module")
def stats(corpus_pdf):
    """Pure-Python corpus statistics: tf per (term, doc), df, dl, cf."""
    texts = corpus_pdf["content"].tolist()
    tf = defaultdict(Counter)   # term -> {doc: tf}
    dl = []
    for i, t in enumerate(texts):
        toks = tokenize_py(t)
        dl.append(len(toks))
        for tok in toks:
            tf[tok][i] += 1
    df = {t: len(d) for t, d in tf.items()}
    cf = {t: sum(d.values()) for t, d in tf.items()}
    return {"tf": tf, "df": df, "cf": cf, "dl": dl,
            "n": len(texts), "total": sum(dl)}


def _py_topk(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _py_tfidf(stats, query: str, k: int) -> list[tuple[int, float]]:
    scores: dict[int, float] = defaultdict(float)
    n = stats["n"]
    for term, qtf in Counter(tokenize_py(query)).items():
        if term not in stats["tf"]:
            continue
        w = (1.0 + math.log((n + 1.0) / (stats["df"][term] + 1.0))) ** 2
        for doc, tfv in stats["tf"][term].items():
            scores[doc] += qtf * math.sqrt(tfv) * w / math.sqrt(
                stats["dl"][doc])
    return _py_topk(scores, k)


def _py_lmjm(stats, query: str, k: int, lam: float) -> list[tuple[int, float]]:
    scores: dict[int, float] = defaultdict(float)
    coef = (1.0 - lam) / lam
    for term, qtf in Counter(tokenize_py(query)).items():
        if term not in stats["tf"]:
            continue
        pr = stats["cf"][term] / stats["total"]
        for doc, tfv in stats["tf"][term].items():
            scores[doc] += qtf * math.log1p(
                coef * (tfv / stats["dl"][doc]) / pr)
    return _py_topk(scores, k)


def _py_lmdir(stats, query: str, k: int, mu: float) -> list[tuple[int, float]]:
    scores: dict[int, float] = defaultdict(float)
    for term, qtf in Counter(tokenize_py(query)).items():
        if term not in stats["tf"]:
            continue
        pr = stats["cf"][term] / stats["total"]
        for doc, tfv in stats["tf"][term].items():
            c = (math.log1p(tfv / (mu * pr))
                 + math.log(mu / (stats["dl"][doc] + mu)))
            scores[doc] += qtf * max(c, 0.0)
    return _py_topk(scores, k)


def _py_bm25plus(stats, query: str, k: int, k1: float, b: float,
                 delta: float) -> list[tuple[int, float]]:
    scores: dict[int, float] = defaultdict(float)
    n = stats["n"]
    avgdl = stats["total"] / n
    for term, qtf in Counter(tokenize_py(query)).items():
        if term not in stats["tf"]:
            continue
        w = math.log((n + 1.0) / stats["df"][term])
        for doc, tfv in stats["tf"][term].items():
            kk = k1 * (1 - b + b * stats["dl"][doc] / avgdl)
            scores[doc] += qtf * w * (tfv * (k1 + 1) / (tfv + kk) + delta)
    return _py_topk(scores, k)


_PY_MODELS = {
    "tfidf": lambda st, q, k: _py_tfidf(st, q, k),
    "lmjm": lambda st, q, k: _py_lmjm(st, q, k, 0.1),
    "lmdir": lambda st, q, k: _py_lmdir(st, q, k, 2000.0),
    "bm25plus": lambda st, q, k: _py_bm25plus(st, q, k, 1.5, 0.75, 1.0),
}


@pytest.mark.parametrize("model", sorted(_PY_MODELS))
def test_similarity_vs_python_oracle(searcher, stats, model):
    got = [(r["doc_id"], r["score"])
           for r in searcher.search_similarity(QUERY, model, 10).collect()]
    want = _PY_MODELS[model](stats, QUERY, 10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9)


def test_lmdir_clamp_active(searcher, stats):
    """μ small enough that long docs go negative pre-clamp — the clamp
    must bite (otherwise the test proves nothing) and the engine must
    agree with the clamped python truth."""
    mu = 5.0
    clamped = 0
    for term, _ in Counter(tokenize_py(QUERY)).items():
        if term not in stats["tf"]:
            continue
        pr = stats["cf"][term] / stats["total"]
        for doc, tfv in stats["tf"][term].items():
            if (math.log1p(tfv / (mu * pr))
                    + math.log(mu / (stats["dl"][doc] + mu))) < 0:
                clamped += 1
    assert clamped > 0, "fixture: no negative pre-clamp contribution"
    got = [(r["doc_id"], r["score"]) for r in
           searcher.search_similarity(QUERY, "lmdir", 10, mu=mu).collect()]
    want = _py_lmdir(stats, QUERY, 10, mu)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9)


def test_similarity_duplicate_query_terms(searcher, stats):
    # qtf weighting: a repeated term doubles its contribution
    got = [(r["doc_id"], r["score"]) for r in
           searcher.search_similarity("hash hash join", "tfidf", 5).collect()]
    want = _py_tfidf(stats, "hash hash join", 5)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9)


def test_similarity_on_default_segmented_index(spark, corpus, tmp_path,
                                               stats):
    """A default-config index serves every similarity model, and with a
    segment appended collection_tf takes the posting-sum path and counts
    the segment's occurrences."""
    from data_text_search_spark.streaming.incremental import add_documents
    root = str(tmp_path / "default")
    build_index(spark, corpus, root, BM25Config(), id_col="doc_id",
                shards=2, groups=1)
    got = [(r["doc_id"], r["score"]) for r in IndexSearcher(spark, root)
           .search_similarity(QUERY, "tfidf", 5).collect()]
    want = _py_tfidf(stats, QUERY, 5)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=1e-9)
    add_documents(spark, root, spark.createDataFrame(
        [(900001, "join table probe")], "doc_id long, content string"),
        id_col="doc_id")
    s = IndexSearcher(spark, root)
    assert s.manifest["segments"]
    assert s.collection_tf(["join", "probe"]) == {
        "join": stats["cf"]["join"] + 1, "probe": 1}
    for model in IndexSearcher.SIMILARITIES:
        docs = {r["doc_id"] for r in
                s.search_similarity("join table probe", model, 1000)
                .collect()}
        assert 900001 in docs, model


def test_similarity_unknown_model(searcher):
    with pytest.raises(ValueError, match="unknown similarity"):
        searcher.search_similarity(QUERY, "bm42", 5)


def test_collection_tf_fast_path_matches_job(searcher, stats):
    """The persisted-cf dictionary lookup and the posting-sum job must
    agree term for term (the round-6 fast path changes the execution,
    never the value)."""
    present = sorted(stats["cf"], key=lambda t: -stats["cf"][t])[:3]
    assert not searcher.manifest.get("segments")   # the fast path runs
    fast = searcher.collection_tf(present)
    job = searcher._cf_from_postings(present)
    assert fast == job == {t: stats["cf"][t] for t in present}


def test_collection_tf_segment_fallback(spark, corpus, tmp_path):
    """With a segment appended, the persisted cf is stale for
    pre-existing terms — collection_tf must take the posting-sum job
    and count the segment's occurrences."""
    import pyspark.sql.functions as F

    from data_text_search_spark.streaming.incremental import add_documents
    root = str(tmp_path / "seg")
    base = corpus.filter(F.col("doc_id") % 5 != 0)
    delta = corpus.filter(F.col("doc_id") % 5 == 0)
    build_index(spark, base, root, BM25Config(),
                id_col="doc_id", shards=2, groups=1)
    add_documents(spark, root, delta, id_col="doc_id")
    s = IndexSearcher(spark, root)
    froot = str(tmp_path / "full")
    build_index(spark, corpus, froot, BM25Config(),
                id_col="doc_id", shards=2, groups=1)
    full = IndexSearcher(spark, froot)
    assert s.collection_tf(["hash"]) == full.collection_tf(["hash"])


def test_collection_tf_exact(searcher, stats):
    # two real vocabulary terms (the fixture vocab is compound-heavy, so
    # pick from what the corpus actually contains) + one absent term
    present = sorted(stats["cf"], key=lambda t: -stats["cf"][t])[:2]
    got = searcher.collection_tf(present + ["zzz_not_a_term"])
    assert got == {t: stats["cf"][t] for t in present}


def test_score_all_matches_search(searcher):
    """score_all = the exact full match set with exact scores: identical
    to search() with n past the match-set size, and disjoint per task."""
    full = {r["doc_id"]: r["score"]
            for r in searcher.score_all(QUERY).collect()}
    via_search = {r["doc_id"]: r["score"]
                  for r in searcher.search(QUERY, 10_000).collect()}
    assert full == via_search


def test_function_score_reorders_beyond_topk(searcher, spark, corpus):
    vals = corpus.selectExpr("doc_id", "length(content) as n_chars")
    res = searcher.function_score(QUERY, vals, n=10).collect()
    assert [r["rank"] for r in res] == list(range(1, len(res) + 1))
    # fscore = score * ln(1 + n_chars), descending
    nv = {r["doc_id"]: r["n_chars"]
          for r in vals.collect()}
    for r in res:
        assert math.isclose(r["fscore"],
                            r["score"] * math.log1p(nv[r["doc_id"]]),
                            rel_tol=0, abs_tol=1e-9)
    f = [r["fscore"] for r in res]
    assert f == sorted(f, reverse=True)


def test_rescore_window_semantics(searcher, spark, corpus):
    """A doc outside the rescore window must never enter the result even
    if its phrase count would beat the window (ES rescore contract)."""
    df = corpus.selectExpr("doc_id", "content as text")
    window = 5
    base_ids = {r["doc_id"] for r in searcher.search(QUERY, window).collect()}
    res = searcher.rescore(df, QUERY, "def read", window=window,
                           weight=100.0, n=window).collect()
    assert {r["doc_id"] for r in res} == base_ids
    # final = score + weight * phrase_count, ordered desc
    for r in res:
        assert math.isclose(r["rescore"],
                            r["score"] + 100.0 * r["phrase_count"],
                            rel_tol=0, abs_tol=1e-9)
    vals = [r["rescore"] for r in res]
    assert vals == sorted(vals, reverse=True)


def test_stats_agg_vs_pandas(searcher, spark, corpus, corpus_pdf):
    vals = corpus.selectExpr("doc_id", "length(content) as n_chars")
    row = searcher.stats_agg(QUERY, vals).collect()[0]
    matched = {r["doc_id"] for r in searcher.match_ids(QUERY).collect()}
    lens = corpus_pdf["content"].str.len()
    sub = lens[[i in matched for i in range(len(lens))]]
    assert row["n_matched"] == len(sub)
    assert row["min_n_chars"] == sub.min()
    assert row["max_n_chars"] == sub.max()
    assert row["sum_n_chars"] == sub.sum()
    assert math.isclose(row["avg_n_chars"], round(sub.mean(), 4),
                        abs_tol=1e-9)


def test_sort_by_field_order(searcher, spark, corpus):
    vals = corpus.selectExpr("doc_id", "length(content) as n_chars")
    res = searcher.sort_by_field(QUERY, vals, n=5).collect()
    ln = [r["n_chars"] for r in res]
    assert ln == sorted(ln, reverse=True)
    asc = searcher.sort_by_field(QUERY, vals, n=5, asc=True).collect()
    la = [r["n_chars"] for r in asc]
    assert la == sorted(la)


def test_highlight_snippet_contains_term(searcher, spark, corpus):
    df = corpus.selectExpr("doc_id", "content as text")
    res = searcher.highlight(df, QUERY, n=5, frag=30).collect()
    assert len(res) == 5
    terms = sorted(set(tokenize_py(QUERY)))
    texts = {r["doc_id"]: r["content"].lower()
             for r in corpus.select("doc_id", "content").collect()}
    for r in res:
        assert r["pos"] >= 1
        # pos is the FIRST occurrence of any query term
        want = min(p for p in (texts[r["doc_id"]].find(t) + 1
                               for t in terms) if p > 0)
        assert r["pos"] == want
        assert len(r["snippet"]) <= 60
        assert any(t in r["snippet"] for t in terms) or r["pos"] > 30


def test_similarity_respects_tombstones(spark, corpus, tmp_path):
    from data_text_search_spark.streaming.incremental import delete_documents
    root = str(tmp_path / "tomb")
    build_index(spark, corpus, root, BM25Config(),
                id_col="doc_id", shards=2, groups=1)
    s0 = IndexSearcher(spark, root)
    top = s0.search_similarity(QUERY, "tfidf", 3).collect()
    victim = int(top[0]["doc_id"])
    delete_documents(spark, root, [victim])
    s1 = IndexSearcher(spark, root)
    got = {r["doc_id"] for r in s1.search_similarity(QUERY, "tfidf", 10)
           .collect()}
    assert victim not in got
    # Lucene collection-stats semantics: cf still counts the tombstoned doc
    assert s1.collection_tf(["hash"]) == s0.collection_tf(["hash"])


def test_percentiles_agg_vs_pandas(searcher, spark, corpus, corpus_pdf):
    vals = corpus.selectExpr("doc_id", "length(content) as n_chars")
    row = searcher.percentiles_agg(QUERY, vals).collect()[0]
    matched = {r["doc_id"] for r in searcher.match_ids(QUERY).collect()}
    lens = corpus_pdf["content"].str.len()
    sub = lens[[i in matched for i in range(len(lens))]]
    for p in (0.25, 0.5, 0.75, 0.9, 0.99):
        # pandas quantile(interpolation='linear') is the same (n-1)*p
        # definition as Spark `percentile` / SQL quantile_cont
        assert math.isclose(row[f"p{round(p * 100)}"],
                            round(float(sub.quantile(p)), 4),
                            abs_tol=1e-9), p


def test_complete_prefix_ranked_by_df(searcher, stats):
    res = searcher.complete("s", n=5).collect()
    want = sorted(((t, d) for t, d in stats["df"].items()
                   if t.startswith("s")), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["term"], r["df"]) for r in res] == want


def test_complete_regex_chars_literal(searcher):
    # a prefix containing regex metacharacters must be treated literally
    assert searcher.complete("s.", n=5).count() == 0


def test_complete_on_driver_matches_spark_plan(spark, spark_jobs, corpus,
                                               tmp_path):
    """With the dictionary in budget, complete() ranks the prefix range
    on the driver and returns a frame whose collect() runs no Spark job;
    its rows equal the Spark plan's (the same index over budget),
    alpha-pruned terms left out by both."""
    root = str(tmp_path / "alpha")
    build_index(spark, corpus, root, BM25Config(alpha=1.0), id_col="doc_id",
                shards=2, groups=1)
    s, over = IndexSearcher(spark, root), IndexSearcher(spark, root)
    over.DRIVER_TERM_CACHE_MAX = 0
    assert s._dictionary.load() and any(e[3] for e in s._dictionary.map.values())
    for prefix, n in [("s", 5), ("re", 3), ("", 7), ("s.", 5), ("zzzz", 2),
                      ("q", 0)]:
        with spark_jobs() as jobs:
            got = s.complete(prefix, n).collect()
        assert jobs == [], prefix
        assert got == over.complete(prefix, n).collect(), prefix
        assert not any(s._dictionary.map[r["term"]][3] for r in got)


def test_date_histogram_vs_pandas(spark):
    import pandas as pd
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 23:59",
                              "2024-01-02 00:00", "2024-01-02 05:00"]),
        "event_type": ["a", "a", "a", "b"],
        "value": [1.5, 2.5, 3.0, 4.0]})
    from data_text_search_spark.operators.search_analytics import (
        date_histogram,
    )
    df = spark.createDataFrame(pdf)
    got = [(r["bucket"], r["event_type"], r["n"], r["sum_value"])
           for r in date_histogram(df, "ts", "day", by="event_type",
                                   value_col="value").collect()]
    assert got == [("2024-01-01 00:00:00", "a", 2, 4.0),
                   ("2024-01-02 00:00:00", "a", 1, 3.0),
                   ("2024-01-02 00:00:00", "b", 1, 4.0)]


def test_stats_percentiles_empty_match_one_row(searcher, spark, corpus):
    """A query with no live terms aggregates over an EMPTY match set —
    one row (count 0, NULL extremes), the SQL aggregate shape, not zero
    rows."""
    vals = corpus.selectExpr("doc_id", "length(content) as n_chars")
    rows = searcher.stats_agg("zzznope qqqnope", vals).collect()
    assert len(rows) == 1
    assert rows[0]["n_matched"] == 0 and rows[0]["min_n_chars"] is None
    prows = searcher.percentiles_agg("zzznope", vals).collect()
    assert len(prows) == 1 and prows[0]["p50"] is None


def test_stopword_index_semantics(spark, corpus, tmp_path):
    """Stopwords cannot score (A5 flag-not-delete: no postings, excluded
    from query terms) while doc stats still count them; an all-stopword
    query is the typed empty result."""
    from data_text_search_spark.operators.index_build import load_manifest

    root = str(tmp_path / "stopidx")
    stops = ("def", "class")
    build_index(spark, corpus, root, BM25Config(stopwords=stops),
                id_col="doc_id", shards=2, groups=1)
    s = IndexSearcher(spark, root)
    assert load_manifest(root)["config"]["stopwords"] == sorted(stops)
    # all-stopword query → empty
    assert s.search("def class", 5).count() == 0
    # mixed query: results equal a plain index queried WITHOUT the
    # stopword (scoring-time semantics — doc stats unchanged)
    plain_root = str(tmp_path / "plainidx")
    build_index(spark, corpus, plain_root, BM25Config(),
                id_col="doc_id", shards=2, groups=1)
    plain = IndexSearcher(spark, plain_root)
    got = [(r["doc_id"], r["score"])
           for r in s.search("def hash join", 10).collect()]
    want = [(r["doc_id"], r["score"])
            for r in plain.search("hash join", 10).collect()]
    assert got == want and len(got) > 0


def test_stopword_flag_survives_incremental_delta(spark, corpus, tmp_path):
    """A NEW term arriving only in a delta segment that is on the stop
    list must be flagged pruned in the segment's term_stats (the same
    no-resurrection rule as alpha-pruned hot terms)."""
    from data_text_search_spark.streaming.incremental import add_documents

    root = str(tmp_path / "stopinc")
    build_index(spark, corpus, root,
                BM25Config(stopwords=("zzznewstop",)),
                id_col="doc_id", shards=2, groups=1)
    delta = spark.createDataFrame(
        [(100_000, "zzznewstop hash join zzznewstop")],
        "doc_id long, content string")
    add_documents(spark, root, delta, text_col="content", id_col="doc_id")
    s = IndexSearcher(spark, root)
    # the new stopword cannot score; the delta doc still matches others
    assert s.search("zzznewstop", 5).count() == 0
    assert 100_000 in {r["doc_id"]
                       for r in s.search("hash join", 1000).collect()}
    # merge_segments rebuilds under the index's own stop list
    from data_text_search_spark.streaming.incremental import merge_segments
    assert merge_segments(spark, root)["config"]["stopwords"] == [
        "zzznewstop"]
    assert IndexSearcher(spark, root).search("zzznewstop", 5).count() == 0


def test_sample_matches_deterministic_and_seeded(searcher):
    a1 = [r["doc_id"] for r in searcher.sample_matches(QUERY, 8,
                                                       seed="x").collect()]
    a2 = [r["doc_id"] for r in searcher.sample_matches(QUERY, 8,
                                                       seed="x").collect()]
    b = [r["doc_id"] for r in searcher.sample_matches(QUERY, 8,
                                                      seed="y").collect()]
    assert a1 == a2 and len(a1) == 8
    assert a1 != b  # a different seed draws an independent order
    matched = {r["doc_id"] for r in searcher.match_ids(QUERY).collect()}
    assert set(a1) <= matched and set(b) <= matched


def test_adjacency_matrix_counts(searcher, stats):
    terms = {"A": "hash_join", "B": "table_scan"}
    # pick two real vocab terms instead if these don't exist
    vocab = sorted(stats["df"], key=lambda t: -stats["df"][t])
    terms = {"A": vocab[0], "B": vocab[1]}
    got = {r["key"]: r["n"]
           for r in searcher.adjacency_matrix(terms).collect()}
    da = set(stats["tf"][terms["A"]])
    db = set(stats["tf"][terms["B"]])
    assert got == {"A": len(da), "B": len(db), "A&B": len(da & db)}


def test_score_explain_sums_to_search_score(searcher):
    """The per-term contributions of a hit decompose its exact score
    (the ES _explain contract), and a tombstone-free absent doc explains
    to the empty set."""
    top = searcher.search(QUERY, 1).collect()[0]
    rows = searcher.score_explain(QUERY, int(top["doc_id"])).collect()
    assert rows, "top hit must have matching terms"
    total = sum(r["contribution"] for r in rows)
    assert math.isclose(total, top["score"], rel_tol=0, abs_tol=5e-4)
    assert searcher.score_explain(QUERY, 10**12).count() == 0


def test_score_explain_tombstoned_doc_empty(spark, corpus, tmp_path):
    from data_text_search_spark.streaming.incremental import delete_documents
    root = str(tmp_path / "expl")
    build_index(spark, corpus, root, BM25Config(),
                id_col="doc_id", shards=2, groups=1)
    s0 = IndexSearcher(spark, root)
    victim = int(s0.search(QUERY, 1).collect()[0]["doc_id"])
    assert s0.score_explain(QUERY, victim).count() > 0
    delete_documents(spark, root, [victim])
    s1 = IndexSearcher(spark, root)
    assert s1.score_explain(QUERY, victim).count() == 0

"""Federated multi-index search: exact global statistics across member
indexes. The load-bearing invariant: searching K disjoint member indexes
through FederatedSearcher returns ROWS IDENTICAL to one combined index
built over the union corpus — same docs, same ranks, same scores (to
float-sum tolerance) — for single queries AND batches, including
negative-IDF corpora, tombstoned members, and skewed member sizes."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import QUERIES
from data_text_search_spark.operators.federation import FederatedSearcher
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import IndexSearcher

CFG = BM25Config(alpha=-5.0)


def _build(spark, df, root, cfg=CFG, shards=4):
    build_index(spark, df, root, cfg, id_col="doc_id", shards=shards,
                groups=1)
    return root


@pytest.fixture(scope="module")
def fed_setup(spark, corpus, tmp_path_factory):
    """Combined index + three uneven members (split by doc_id mod 5:
    {0}, {1,2}, {3,4}) — uneven on purpose so member avgdl/df diverge
    from the global stats and a per-member-stat merge would misrank."""
    base = tmp_path_factory.mktemp("fed")
    combined = _build(spark, corpus, str(base / "all"))
    parts = [corpus.filter(F.col("doc_id") % 5 == 0),
             corpus.filter((F.col("doc_id") % 5).isin(1, 2)),
             corpus.filter((F.col("doc_id") % 5).isin(3, 4))]
    roots = [_build(spark, p, str(base / f"m{i}"), shards=2 + i)
             for i, p in enumerate(parts)]
    return combined, roots


def _rows(df):
    return [(r["doc_id"], r["score"], r["rank"]) for r in df.collect()]


def _assert_same(fed_rows, comb_rows):
    assert [r[0] for r in fed_rows] == [r[0] for r in comb_rows]
    assert [r[2] for r in fed_rows] == [r[2] for r in comb_rows]
    for f, c in zip(fed_rows, comb_rows):
        assert math.isclose(f[1], c[1], rel_tol=0, abs_tol=1e-9)


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: f"q{q['query_id']}")
def test_federated_equals_combined(spark, fed_setup, q):
    combined, roots = fed_setup
    fed = FederatedSearcher(spark, roots)
    fed.warm()
    single = IndexSearcher(spark, combined)
    single.warm()
    got = _rows(fed.search(q["query_text"], 10))
    want = _rows(single.search(q["query_text"], 10))
    _assert_same(got, want)


def test_federated_global_stats_match_combined(spark, fed_setup):
    combined, roots = fed_setup
    fed = FederatedSearcher(spark, roots)
    single = IndexSearcher(spark, combined)
    assert fed.n_docs == single.n_docs
    assert math.isclose(fed.avgdl, single.avgdl, rel_tol=0, abs_tol=1e-12)


def test_federated_batch_equals_combined_batch(spark, fed_setup):
    combined, roots = fed_setup
    fed = FederatedSearcher(spark, roots)
    fed.warm()
    single = IndexSearcher(spark, combined)
    single.warm()
    queries = [q["query_text"] for q in QUERIES] + ["", "zzzabsent",
                                                    QUERIES[0]["query_text"]]
    got = fed.search_batch(queries, 5).collect()
    want = single.search_batch(queries, 5).collect()
    gk = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                for r in got)
    wk = sorted((r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
                for r in want)
    assert gk == wk


def test_federated_beats_naive_per_member_merge(spark, fed_setup):
    """The reason federation exists: merging members' OWN-stat top-k
    (Elasticsearch's default cross-index scoring) disagrees with the
    combined-index truth on at least one bundled query — while the
    federated scores agree on all of them (the parametrized test above).
    If this ever starts passing for the naive merge, the fixture corpus
    stopped exercising stat divergence and should be re-skewed."""
    import pandas as pd

    from data_text_search_spark.operators.index_query import (
        _merge_topn_driver,
    )

    combined, roots = fed_setup
    single = IndexSearcher(spark, combined)
    single.warm()
    members = [IndexSearcher(spark, r) for r in roots]
    diverged = 0
    for q in QUERIES:
        parts = [m.search(q["query_text"], 10).select("doc_id", "score")
                 .toPandas() for m in members]
        naive = _merge_topn_driver(pd.concat(parts, ignore_index=True), 10)
        want = single.search(q["query_text"], 10).toPandas()
        if len(naive) != len(want) or not (
                (naive["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
                and (abs(naive["score"].to_numpy()
                         - want["score"].to_numpy()) < 1e-9).all()):
            diverged += 1
    assert diverged > 0, ("naive per-member-stat merge matched the "
                          "combined index on every query — fixture no "
                          "longer exercises stat divergence")


def test_federated_with_tombstoned_member(spark, corpus, tmp_path):
    """Tombstones hide docs from federated results but keep Lucene
    collection-statistics semantics (N/df/avgdl unchanged until merge) —
    identical to a combined index carrying the same tombstones."""
    from data_text_search_spark.streaming.incremental import (
        delete_documents,
    )

    combined = _build(spark, corpus, str(tmp_path / "all2"))
    halves = [corpus.filter(F.col("doc_id") % 2 == 0),
              corpus.filter(F.col("doc_id") % 2 == 1)]
    roots = [_build(spark, h, str(tmp_path / f"h{i}"))
             for i, h in enumerate(halves)]
    single = IndexSearcher(spark, combined)
    q = QUERIES[2]["query_text"]
    victims = [r["doc_id"] for r in single.search(q, 3).collect()]
    delete_documents(spark, combined, victims)
    delete_documents(spark, roots[0], [v for v in victims if v % 2 == 0])
    delete_documents(spark, roots[1], [v for v in victims if v % 2 == 1])
    fed = FederatedSearcher(spark, roots)
    got = _rows(fed.search(q, 10))
    want = _rows(IndexSearcher(spark, combined).search(q, 10))
    _assert_same(got, want)
    assert not set(victims) & {r[0] for r in got}


def test_federated_rejects_config_mismatch(spark, corpus, tmp_path):
    r1 = _build(spark, corpus.filter(F.col("doc_id") < 100),
                str(tmp_path / "k1a"))
    r2 = _build(spark, corpus.filter(F.col("doc_id") >= 100),
                str(tmp_path / "k1b"),
                cfg=BM25Config(k1=1.2, alpha=-5.0))
    with pytest.raises(ValueError, match="disagrees"):
        FederatedSearcher(spark, [r1, r2])


def test_member_pruned_live_global_raises(spark, tmp_path):
    """A term alpha-pruned inside a member (postings never encoded) but
    live under global stats must raise, not silently underscore: member A
    is 96% 'hot' docs (local idf ≤ alpha → pruned), member B has none, and
    globally the term is live."""
    # member A: 'hot' saturates (df 100/105 → idf ≈ −5.3 ≤ −2, pruned);
    # 'rare' is its live term. member B: 'hot' appears in half its docs
    # (idf 0, unpruned). Globally 'hot' has df 250/405 → idf ≈ −0.48 >
    # alpha: live — but member A never encoded its postings.
    hot = [(i, "hot anchor") for i in range(100)] + [
        (100 + i, "rare") for i in range(5)]
    cold = [(1000 + i, "hot common") for i in range(150)] + [
        (2000 + i, "other common") for i in range(150)]
    cfg = BM25Config(alpha=-2.0)
    a = spark.createDataFrame(hot, "doc_id long, content string")
    b = spark.createDataFrame(cold, "doc_id long, content string")
    ra = str(tmp_path / "a")
    rb = str(tmp_path / "b")
    build_index(spark, a, ra, cfg, id_col="doc_id", shards=2, groups=1)
    build_index(spark, b, rb, cfg, id_col="doc_id", shards=2, groups=1)
    sa = IndexSearcher(spark, ra)
    meta = sa.term_meta(["hot"])
    assert meta["hot"][2], "fixture: 'hot' must be alpha-pruned in member A"
    fed = FederatedSearcher(spark, [ra, rb])
    with pytest.raises(ValueError, match="alpha-pruned inside member"):
        fed.search("hot", 5)
    # queries avoiding the conflicted term still answer
    assert fed.search("rare", 5).count() > 0
    assert fed.search("other", 5).count() > 0


def test_federated_empty_and_absent_queries(spark, fed_setup):
    _, roots = fed_setup
    fed = FederatedSearcher(spark, roots)
    assert fed.search("", 10).count() == 0
    assert fed.search("zzzneverincorpus", 10).count() == 0
    assert fed.search_batch([], 10).count() == 0


def test_query_cli_federated(spark, fed_setup, tmp_path):
    """jobs/query.py with a comma-separated --index federates and agrees
    with the combined single index; side modes are rejected."""
    import sys

    sys.path.insert(0, "jobs")
    import query as query_cli

    combined, roots = fed_setup
    single = IndexSearcher(spark, combined)
    single.warm()
    q = QUERIES[0]["query_text"]
    got = query_cli.main(["--index", ",".join(roots), "--query", q,
                          "--k", "5"])
    want = single.search(q, 5).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]

    qs = [QUERIES[0]["query_text"], QUERIES[3]["query_text"]]
    qf = tmp_path / "queries.txt"
    qf.write_text("\n".join(qs) + "\n")
    got = query_cli.main(["--index", ",".join(roots), "--queries-file",
                          str(qf), "--k", "3"])
    want = single.search_batch(qs, 3).collect()
    assert sorted((r["query_id"], r["rank"], r["doc_id"]) for r in got) \
        == sorted((r["query_id"], r["rank"], r["doc_id"]) for r in want)

    with pytest.raises(SystemExit):
        query_cli.main(["--index", ",".join(roots), "--query", q,
                        "--expand"])

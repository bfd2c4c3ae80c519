"""Routing-partitioned search (ES _routing with exact stats). The
load-bearing invariants: (1) a routed query returns ROWS IDENTICAL to
filter-context search over the combined corpus with the routing
values' doc set as the allow list — statistics global, execution
pruned; (2) an unrouted query through RoutedSearcher is plain
federated search, identical to the combined index; (3) no kernel job
is ever submitted for an unselected member."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import QUERIES
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.operators.routing import (
    RoutedSearcher,
    build_routed_index,
    load_routing_manifest,
)

CFG = BM25Config(alpha=-5.0)


@pytest.fixture(scope="module")
def routed_setup(spark, corpus, tmp_path_factory):
    """Routing key = doc_id mod 3 as a string ('0','1','2') — uneven
    text lengths per bucket so member avgdl diverges from global."""
    base = tmp_path_factory.mktemp("routed")
    df = corpus.withColumn("bucket",
                           (F.col("doc_id") % 3).cast("string"))
    root = str(base / "ridx")
    m = build_routed_index(spark, df, root, "bucket", CFG,
                           text_col="content", id_col="doc_id")
    assert sorted(m["members"]) == ["0", "1", "2"]
    combined = str(base / "all")
    build_index(spark, corpus, combined, CFG, id_col="doc_id",
                shards=4, groups=1)
    return df, root, combined


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _assert_same(a, b):
    assert [r[0] for r in a] == [r[0] for r in b]
    for x, y in zip(a, b):
        assert math.isclose(x[1], y[1], rel_tol=0, abs_tol=1e-9)


def test_routed_equals_filtered_combined(spark, routed_setup):
    df, root, combined = routed_setup
    rs = RoutedSearcher(spark, root)
    rs.warm()
    s = IndexSearcher(spark, combined)
    for bucket in ("0", "2"):
        keep = df.filter(F.col("bucket") == bucket).select("doc_id")
        for q in QUERIES[:4]:
            got = _rows(rs.search(q["query_text"], 10, routing=bucket))
            want = _rows(s.search(q["query_text"], 10, keep=keep))
            _assert_same(got, want)
            assert got, q["query_text"]


def test_routed_multi_value_and_unrouted(spark, routed_setup):
    df, root, combined = routed_setup
    rs = RoutedSearcher(spark, root)
    s = IndexSearcher(spark, combined)
    q = QUERIES[0]["query_text"]
    keep = df.filter(F.col("bucket").isin("0", "1")).select("doc_id")
    _assert_same(_rows(rs.search(q, 10, routing=["0", "1"])),
                 _rows(s.search(q, 10, keep=keep)))
    _assert_same(_rows(rs.search(q, 10)), _rows(s.search(q, 10)))


def test_routed_batch_equals_filtered(spark, routed_setup):
    df, root, combined = routed_setup
    rs = RoutedSearcher(spark, root)
    s = IndexSearcher(spark, combined)
    qs = [q["query_text"] for q in QUERIES[:5]]
    keep = df.filter(F.col("bucket") == "1").select("doc_id")
    got = [(r["query_id"], r["doc_id"], r["score"])
           for r in rs.search_batch(qs, 5, routing="1").collect()]
    want = [(r["query_id"], r["doc_id"], r["score"])
            for r in s.search_batch(qs, 5, keep=keep).collect()]
    assert [g[:2] for g in got] == [w[:2] for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[2], w[2], rel_tol=0, abs_tol=1e-9)


def test_routed_unknown_value_and_pruned_execution(spark, routed_setup):
    _, root, _ = routed_setup
    rs = RoutedSearcher(spark, root)
    q = QUERIES[0]["query_text"]
    assert rs.search(q, 10, routing="nope").count() == 0
    assert rs.search_batch([q], 10, routing=["nope"]).count() == 0
    # mix of known + unknown == known alone
    _assert_same(_rows(rs.search(q, 10, routing=["1", "nope"])),
                 _rows(rs.search(q, 10, routing="1")))
    # execution pruning is structural: the federated layer refuses
    # roots it does not own, so a selected set can never widen
    with pytest.raises(ValueError, match="unknown federation member"):
        rs.fed.search(q, 10, members=["/nonexistent/root"])


def test_build_routed_guards(spark, corpus, tmp_path):
    df = corpus.withColumn("bucket", F.lit(None).cast("string"))
    with pytest.raises(ValueError, match="NULL"):
        build_routed_index(spark, df, str(tmp_path / "x"), "bucket",
                           CFG, text_col="content", id_col="doc_id")
    with pytest.raises(ValueError, match="routing.json"):
        RoutedSearcher(spark, str(tmp_path / "never_built"))


def test_routing_manifest_is_commit_point(spark, corpus, tmp_path):
    """A root whose members exist but whose routing.json is missing
    (crash before the final atomic write) must refuse to load."""
    import os
    df = corpus.withColumn("bucket",
                           (F.col("doc_id") % 2).cast("string"))
    root = str(tmp_path / "r")
    build_routed_index(spark, df, root, "bucket", CFG,
                       text_col="content", id_col="doc_id")
    assert load_routing_manifest(root) is not None
    os.remove(f"{root}/routing.json")
    with pytest.raises(ValueError, match="crashed build"):
        RoutedSearcher(spark, root)

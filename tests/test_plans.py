"""Plan-shape pins: pushdown, pruning, broadcast, codegen — the plans we
WANT, asserted so regressions surface (100 TB posture: a scan that reads
all columns or skips pushdown is a bug even when results are right)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_text_search_spark.plans.explain_tools import (
    codegen_stage_count,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    # private copy: other test modules .cache() the shared documents path,
    # and Spark's cache manager swaps matching scans for InMemoryTableScan,
    # which hides PushedFilters/ReadSchema from the plan under test
    p = str(tmp_path_factory.mktemp("plans") / "documents.parquet")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").write.parquet(p)
    return p


def test_filter_pushdown_reaches_scan(spark, docs_path):
    df = spark.read.parquet(docs_path).filter(F.col("lang") == "en").select("doc_id")
    pf = pushed_filters(df)
    assert any("lang" in f for f in pf), pf


def test_column_pruning(spark, docs_path):
    df = spark.read.parquet(docs_path).select("doc_id", "lang")
    cols = read_schema_columns(df)
    assert cols == {"doc_id", "lang"}, cols  # no 'text' read for a 2-col projection


def test_driver_reader_prunes_row_groups_by_term(tmp_path, monkeypatch):
    """_read_terms_local (the driver reader behind search_local and
    score_explain) must read only the row groups whose term min/max
    statistics admit a wanted term."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_text_search_spark.operators.index_query import (
        _arrow_fs,
        _read_terms_local,
        _unit_footers,
    )

    unit = tmp_path / "spart=0"
    unit.mkdir()
    path = str(unit / "part-0.parquet")
    terms = [t for t in "abcdefgh" for _ in range(3)]  # term-sorted
    pq.write_table(pa.table({"term": terms,
                             "n_docs": list(range(len(terms)))}),
                   path, row_group_size=6)   # groups: ab cd ef gh
    fs, _ = _arrow_fs(path)
    footers = _unit_footers(fs, {str(unit): [path]})
    assert [r for *_, r in footers] == [[("a", "b"), ("c", "d"),
                                         ("e", "f"), ("g", "h")]]
    read: list[list[int]] = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **kw):
        read.append(list(row_groups))
        return real(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    got = _read_terms_local(footers, ["b", "e", "zz"], ["term", "n_docs"])
    assert read == [[0, 2]]
    assert sorted(got["term"]) == ["b"] * 3 + ["e"] * 3
    read.clear()
    assert _read_terms_local(footers, ["aa"], ["term", "n_docs"]).empty
    assert read == [[0]]        # "aa" lies inside group 0's [a, b] range


def test_query_term_join_is_broadcast(spark, corpus):
    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.operators.bm25_exhaustive import (
        build_logical,
        ingest,
        search,
    )
    idx = build_logical(ingest(corpus, id_col="doc_id"), BM25Config())
    res = search(idx, spark, "zyzzyva obelisk", 10)
    assert has_broadcast_join(res)


def test_tokenize_expr_stays_in_codegen(spark, docs_path):
    from data_text_search_spark.functions.text import tokenize_expr
    df = (spark.read.parquet(docs_path)
          .select(F.size(tokenize_expr("text")).alias("n")))
    assert codegen_stage_count(df) >= 1


def test_batch_query_plan_is_shuffle_free_until_topk_merge(
        spark, corpus, tmp_path_factory):
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.index_query import IndexSearcher
    from data_text_search_spark.plans.explain_tools import formatted_plan
    root = str(tmp_path_factory.mktemp("planidx2") / "idx")
    build_index(spark, corpus, root, id_col="doc_id", shards=4, groups=1)
    s = IndexSearcher(spark, root)
    assert s._units, "layout v2 index must expose colocation units"
    # default: per-task tops merge on the DRIVER (scatter-gather) — the
    # returned frame is a local relation, zero exchanges anywhere
    plan = formatted_plan(s.search_batch(["zyzzyva obelisk", "return"], 10))
    assert "Exchange" not in plan and "Scan parquet" not in plan, plan
    # cluster-scale fallback (huge batch x task grids): the merge is a
    # hash aggregate over the per-task top-k rows — still no posting
    # payload exchange, no window shuffle-sort
    old = IndexSearcher.DRIVER_MERGE_MAX_ROWS
    IndexSearcher.DRIVER_MERGE_MAX_ROWS = 0
    try:
        plan = formatted_plan(s.search_batch(["zyzzyva obelisk", "return"], 10))
    finally:
        IndexSearcher.DRIVER_MERGE_MAX_ROWS = old
    assert "hashpartitioning(shard" not in plan
    assert "Scan parquet" not in plan  # no driver-planned postings scan
    assert "collect_list" in plan and "Window" not in plan


def test_driver_and_distributed_merge_agree(spark, corpus, tmp_path_factory):
    """The driver scatter-gather merge and the distributed hash-agg merge
    must produce identical rows (same kernels, same tie-breaks). The
    single query is forced onto the executors (LOCAL_MAX_POSTINGS = 0),
    which the distributed merge runs after."""
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.index_query import IndexSearcher
    root = str(tmp_path_factory.mktemp("planidx4") / "idx")
    build_index(spark, corpus, root, id_col="doc_id", shards=4, groups=1)
    s = IndexSearcher(spark, root)
    queries = ["zyzzyva obelisk", "return import", "def", "zzznone"]
    drv_b = sorted(tuple(r) for r in s.search_batch(queries, 5).collect())
    drv_s = [tuple(r) for r in s.search(queries[1], 5).collect()]
    old = IndexSearcher.DRIVER_MERGE_MAX_ROWS
    IndexSearcher.DRIVER_MERGE_MAX_ROWS = 0
    try:
        dist_b = sorted(tuple(r) for r in s.search_batch(queries, 5).collect())
        s.LOCAL_MAX_POSTINGS = 0
        dist_s = [tuple(r) for r in s.search(queries[1], 5).collect()]
    finally:
        IndexSearcher.DRIVER_MERGE_MAX_ROWS = old
        s.__dict__.pop("LOCAL_MAX_POSTINGS", None)
    assert drv_b == dist_b
    assert drv_s == dist_s


def test_search_batch_pandas_matches_dataframe_surface(
        spark, corpus, tmp_path_factory):
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.index_query import IndexSearcher
    root = str(tmp_path_factory.mktemp("planidx5") / "idx")
    build_index(spark, corpus, root, id_col="doc_id", shards=4, groups=1)
    s = IndexSearcher(spark, root)
    queries = ["zyzzyva obelisk", "return import", "", "zzznone"]
    df_rows = sorted(tuple(r) for r in s.search_batch(queries, 5).collect())
    pd_rows = sorted(tuple(r) for r in
                     s.search_batch_pandas(queries, 5).itertuples(index=False))
    assert df_rows == pd_rows
    assert s.search_batch_pandas(["zzznone"], 5).empty


def test_batch_grid_shapes_all_agree(spark, corpus, tmp_path_factory):
    """Every (query-replicas x doc-slices) grid shape must return
    identical rows — the cost model only picks speed, never results."""
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.index_query import IndexSearcher
    root = str(tmp_path_factory.mktemp("planidx6") / "idx")
    build_index(spark, corpus, root, id_col="doc_id", shards=4, groups=1)
    s = IndexSearcher(spark, root)
    queries = ["zyzzyva obelisk", "return import", "def class", "obelisk",
               "import return def", ""]
    def pin_shape(tq, td):
        def _stub(qterms, dfs, n_units, k=10):
            qids = sorted(qterms, key=lambda q: (tuple(sorted(qterms[q])), q))
            step = max(-(-len(qids) // tq), 1)
            groups = ([qids[i:i + step] for i in range(0, len(qids), step)]
                      or [qids])
            return len(groups), td, groups
        return _stub

    want = None
    for shape in [(1, 1), (1, 4), (4, 1), (2, 2), (3, 2)]:
        s._batch_grid = pin_shape(*shape)
        got = sorted(tuple(r) for r in
                     s.search_batch_pandas(queries, 5).itertuples(index=False))
        if want is None:
            want = got
        assert got == want, shape


def test_score_abs_half_up_matches_spark_round(spark):
    """_score_abs_half_up (the driver merge's vectorized rounding) must
    equal Spark's F.abs(F.round(x, 2)) — Spark rounds the double's
    shortest decimal repr HALF_UP via BigDecimal.valueOf, which differs
    from both np.round (half-to-even) and a naive floor(|x|*100+0.5)
    (decimal-repr halves whose float product lands below the half, e.g.
    the double printed '1.005')."""
    import numpy as np

    from data_text_search_spark.operators.index_query import (
        _score_abs_half_up,
    )

    adversarial = [1.005, -1.005, 2.675, 0.125, -0.125, 2.665, 1.015,
                   8.845, 0.005, -0.005, 0.0, 12.345, -12.345, 3.141592,
                   100.115, -100.115, 0.029999999999999999, 55.555]
    rs = np.random.RandomState(42)
    vals = adversarial + [float(v) for v in rs.standard_normal(500) * 20]
    got = _score_abs_half_up(np.asarray(vals, dtype=np.float64))
    sdf = spark.createDataFrame([(float(v),) for v in vals], "x double")
    want = [r["y"] for r in
            sdf.select(F.abs(F.round("x", 2)).alias("y")).collect()]
    assert got.tolist() == want

"""search() answered on the driver: a single query within the
`_driver_answers` gate (the dictionary fits DRIVER_TERM_CACHE_MAX and the
query terms' Σ df is at most LOCAL_MAX_POSTINGS) runs no Spark job, and
its rows are bit-identical to the executor path, which an instance-level
LOCAL_MAX_POSTINGS = 0 forces."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import VOCAB
from data_text_search_spark.operators.federation import FederatedSearcher
from data_text_search_spark.operators.index_build import (
    build_index,
    load_manifest,
)
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.sources import fsio
from data_text_search_spark.streaming.incremental import (
    add_documents,
    delete_documents,
)

# hand-picked shapes (absent, empty, repeated, punctuation-only) plus
# seeded 3-5-term queries: with three or more terms a doc's score is a
# sum whose order follows the kernel input's block maxima, so these are
# the queries a kernel run over a different grouping of units would
# answer with other last bits
QUERIES = (["def return import", "return", "zyzzyva obelisk",
            "select select select", "notinthecorpusatall", "   ", "(){}",
            "def return notinthecorpusatall"]
           + [" ".join(np.random.RandomState(i).choice(VOCAB[:120],
                                                       3 + i % 3))
              for i in range(24)])


def _rows(df):
    """A frame's rows, or an answer that is already data (profile()'s
    rows, collection_tf's dict) as it is."""
    if isinstance(df, (list, dict)):
        return df
    return [tuple(r) for r in df.collect()]


def _driver_and_executor(spark_jobs, searchers, call, own_jobs=False):
    """(rows on the driver, rows on the executors) of `call()`, with
    `searchers` forced onto the executor path for the second run. Also
    checks which path each run took: the driver run starts no executor
    kernel stage and no Spark job; the executor run starts a stage, and
    a job when it has rows. `own_jobs`: the call's answer is a Spark
    plan around its kernel (a dictionary scan, a doc-values join), so
    the driver run may start that plan's jobs, just no kernel stage."""
    stages = []
    for s in searchers:
        s._kernel_stage = (lambda run: lambda *a: stages.append(a)
                           or run(*a))(s._kernel_stage)
    try:
        with spark_jobs() as on_driver:
            drv = _rows(call())
        on_driver_stages = len(stages)
        for s in searchers:
            s.LOCAL_MAX_POSTINGS = 0
        with spark_jobs() as on_executors:
            exe = _rows(call())
    finally:
        for s in searchers:
            s.__dict__.pop("LOCAL_MAX_POSTINGS", None)
            del s._kernel_stage
    assert on_driver_stages == 0
    assert own_jobs or on_driver == []
    assert len(stages) or not exe
    assert on_executors or not exe
    return drv, exe


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("drvsearch")
    # "compact": a plain build of the (compact) posting codec
    roots = {"compact": str(base / "compact"),
             "segmented": str(base / "segmented")}
    for root in roots.values():
        build_index(spark, corpus, root, BM25Config(), id_col="doc_id",
                    shards=4, groups=1)
    # a segment with terms no base doc holds, and tombstones in both
    seg = roots["segmented"]
    add_documents(spark, seg, spark.createDataFrame(pd.DataFrame({
        "doc_id": range(10_000, 10_012),
        "content": [f"flibbertigibbet gizmo{i % 3} return import "
                    f"{'wobble ' * (i % 4)}" for i in range(12)]})),
        id_col="doc_id")
    delete_documents(spark, seg, [2, 7, 12, 10_001, 10_004])
    # hot terms in most docs: negative IDF
    rs = np.random.RandomState(99)
    texts = [" ".join(["omnibus"] * int(rs.rand() < 0.9)
                      + ["verycommon"] * int(rs.rand() < 0.7)
                      + [f"med{m}" for m in range(6) if rs.rand() < 0.3]
                      + ["pad"] * rs.randint(0, 12)) or "emptyfiller"
             for _ in range(160)]
    roots["negidf"] = str(base / "negidf")
    build_index(spark, spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(160), "content": texts})), roots["negidf"],
        BM25Config(block_size=4), id_col="doc_id", shards=2, groups=1)
    return roots


@pytest.mark.parametrize("name", ["compact", "segmented"])
def test_forced_executor_rows_bit_identical(spark, spark_jobs, indexes,
                                            name):
    s = IndexSearcher(spark, indexes[name])
    for q in QUERIES + ["flibbertigibbet gizmo1 wobble return"]:
        drv, exe = _driver_and_executor(spark_jobs, [s],
                                        lambda: s.search(q, 10))
        assert drv == exe, q
    if name == "segmented":
        assert not {r[0] for q in QUERIES for r in _rows(s.search(q, 50))} \
            & {2, 7, 12, 10_001, 10_004}


def test_forced_executor_parity_keep_and_negative_idf(spark, spark_jobs,
                                                      indexes):
    s = IndexSearcher(spark, indexes["compact"])
    keep = list(range(0, 300, 3))
    for q in QUERIES[:12]:
        drv, exe = _driver_and_executor(
            spark_jobs, [s], lambda: s.search(q, 10, keep=keep))
        assert drv == exe, q
        assert {r[0] for r in drv} <= set(keep)
    neg = IndexSearcher(spark, indexes["negidf"])
    assert neg.explain("omnibus")["terms"][0]["idf"] < 0
    for q in ["omnibus", "omnibus verycommon", "omnibus med1 med2",
              "verycommon med0 med3 med5 pad", "omnibus pad med4"]:
        drv, exe = _driver_and_executor(spark_jobs, [neg],
                                        lambda: neg.search(q, 7))
        assert drv == exe and drv, q


def test_forced_executor_parity_similarity_and_federation(
        spark, spark_jobs, corpus, indexes, tmp_path):
    s = IndexSearcher(spark, indexes["compact"])
    for model in ("tfidf", "bm25plus"):
        for q in QUERIES[:10]:
            drv, exe = _driver_and_executor(
                spark_jobs, [s], lambda: s.search_similarity(q, model, 10))
            assert drv == exe, (model, q)
    cfg = BM25Config(alpha=-5.0)
    roots = []
    for i in range(2):
        roots.append(str(tmp_path / f"m{i}"))
        build_index(spark, corpus.filter(corpus.doc_id % 2 == i), roots[-1],
                    cfg, id_col="doc_id", shards=2 + i, groups=1)
    fed = FederatedSearcher(spark, roots)
    fed.warm()
    for q in QUERIES:
        drv, exe = _driver_and_executor(spark_jobs, fed.members,
                                        lambda: fed.search(q, 10))
        assert drv == exe, q


def test_search_job_counts(spark, spark_jobs, corpus, tmp_path):
    """Zero jobs for a warmed search, a cold open + search, an empty
    result, a tombstoned index and warm(); exactly one job when the
    instance forces the executor path."""
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    q = "def return import"
    with spark_jobs() as cold:
        cold_rows = _rows(IndexSearcher(spark, root).search(q, 10))
    s = IndexSearcher(spark, root)
    with spark_jobs() as warm:
        s.warm()
    with spark_jobs() as warmed:
        rows = _rows(s.search(q, 10))
    with spark_jobs() as empty:
        none = (_rows(s.search("notinthecorpusatall", 10))
                + _rows(s.search("   ", 10)))
    assert (cold, warm, warmed, empty) == ([], [], [], [])
    assert len(rows) == 10 and rows == cold_rows and none == []
    delete_documents(spark, root, [r[0] for r in rows[:3]])
    with spark_jobs() as tomb:
        dead_rows = _rows(IndexSearcher(spark, root).search(q, 10))
    # stale-stats deletion: the survivors keep their scores
    assert tomb == [] and [r[:2] for r in dead_rows[:7]] == [
        r[:2] for r in rows[3:]]
    s.LOCAL_MAX_POSTINGS = 0
    with spark_jobs() as forced:
        assert _rows(s.search(q, 10)) == rows
    assert len(forced) == 1


def test_explain_executor_is_the_path_search_takes(spark, spark_jobs,
                                                   indexes):
    q = "def return import"
    s = IndexSearcher(spark, indexes["compact"])
    plan = s.explain(q)["plan"]
    assert plan["executor"] == "driver" and plan["interactive_local_eligible"]
    with spark_jobs() as jobs:
        s.search(q, 10).collect()
    assert jobs == []
    s.LOCAL_MAX_POSTINGS = 0
    plan = s.explain(q)["plan"]
    assert plan["executor"] == "colocated-units"
    assert not plan["interactive_local_eligible"]
    with spark_jobs() as jobs:
        s.search(q, 10).collect()
    assert len(jobs) >= 1
    # the dictionary budget is checked too (footer row count)
    small = IndexSearcher(spark, indexes["compact"])
    small.DRIVER_TERM_CACHE_MAX = 1
    plan = small.explain(q)["plan"]
    assert plan["executor"] == "colocated-units"
    assert not plan["interactive_local_eligible"]
    assert small._dictionary.map is None
    with spark_jobs() as jobs:
        small.search(q, 10).collect()
    assert len(jobs) >= 1


def test_delete_documents_job_count(spark, spark_jobs, corpus, tmp_path):
    """Tombstoning a list of ids runs on the driver: pyarrow reads of
    doc_stats and the earlier tombstones, one pyarrow file, no Spark job
    (the Spark path ran 3, 4 with earlier tombstones to anti-join; schema
    inference, a read-back count and a dropDuplicates shuffle once made
    it 8-10). Nothing to delete leaves no dir and commits nothing."""
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    with spark_jobs() as first:
        m = delete_documents(spark, root, [3, 4, 4, 5])
    with spark_jobs() as second:
        m = delete_documents(spark, root, [5, 6, 999_999])
    with spark_jobs() as noop:
        m3 = delete_documents(spark, root, [3, 6, 999_999])
    assert first == second == noop == []
    assert [t["n_docs"] for t in m["tombstones"]] == [3, 1]
    assert m["deleted_docs"] == 4 and m3 == load_manifest(root)
    assert len(m3["tombstones"]) == 2 and m3["next_del_id"] == 2
    assert not fsio.exists(f"{root}/tombstones/del2")
    s = IndexSearcher(spark, root)
    assert s._tombstones.tolist() == [3, 4, 5, 6]


@pytest.mark.parametrize("name", ["compact", "segmented"])
def test_kernel_callers_driver_equals_executor(spark, spark_jobs, corpus,
                                               indexes, name):
    """Every caller of the one kernel runner answers with bit-identical
    rows on the driver (no Spark job of its own) and on the executors."""
    s = IndexSearcher(spark, indexes[name])
    values = spark.createDataFrame(corpus.select("doc_id", "content")
                                   .toPandas().assign(
                                       n_chars=lambda d: d.content.str.len())
                                   [["doc_id", "n_chars"]])
    kernel_only = {
        "score_all": lambda q: s.score_all(q),
        "prefix_search": lambda q: s.prefix_search(q.split()[0][:2]),
        "boolean_search": lambda q: s.boolean_search(
            q, must=[q.split()[0]], must_not=["select"]),
        "search_msm": lambda q: s.search_msm(q, 2),
        "profile": lambda q: s.profile(q)["rows"],
    }
    with_plan = {
        "fuzzy_search": lambda q: s.fuzzy_search(q.split()[0] + "x", 1),
        "stats_agg": lambda q: s.stats_agg(q, values),
    }
    answered = 0
    for q in ["def return import", "return", "gizmo1 wobble return"]:
        for calls, own in ((kernel_only, False), (with_plan, True)):
            for label, call in calls.items():
                drv, exe = _driver_and_executor(spark_jobs, [s],
                                                lambda: call(q), own)
                assert drv == exe, (label, q)
                answered += bool(drv)
                if name == "segmented" and label != "stats_agg":
                    assert not {r[0] if isinstance(r, tuple) else
                                r["doc_id"] for r in drv} & {2, 7, 12}
    assert answered >= 15


def test_collection_tf_driver_equals_executor(spark, spark_jobs, indexes):
    """collection_tf on a segmented index sums tf varints through the
    runner: the same counts on the driver (no Spark job) as on the
    executors, tombstoned docs still counted."""
    s = IndexSearcher(spark, indexes["segmented"])
    terms = ["return", "import", "flibbertigibbet", "wobble", "absentzz"]
    drv, exe = _driver_and_executor(spark_jobs, [s],
                                    lambda: s.collection_tf(terms))
    assert drv == exe and drv["flibbertigibbet"] == 12
    assert drv["wobble"] == sum(i % 4 for i in range(12))


# jobs of a repeated call on the 300-doc index; each read of doc_stats,
# of a tokenized checkpoint or of tombstones infers no schema (with a
# bare read they were 3, 7 and 8: one schema-inference job each)
PINNED_READ_JOBS = {"boolean_must_not": 2, "more_like_this": 6,
                    "fuzzy_search": 7}


def test_index_reads_infer_no_schema(spark, spark_jobs, indexes):
    import pathlib

    from data_text_search_spark.operators import index_query

    src = pathlib.Path(index_query.__file__).read_text(encoding="utf-8")
    assert "read.parquet(" not in src
    s = IndexSearcher(spark, indexes["compact"])
    s.warm()
    calls = {
        "boolean_must_not": lambda: s.boolean_search(
            "return import", must_not=["select"]),
        "more_like_this": lambda: s.more_like_this(5, 10),
        "fuzzy_search": lambda: s.fuzzy_search("defx", 1),
    }
    for label, call in calls.items():
        call().collect()
        with spark_jobs() as jobs:
            assert call().collect(), label
        assert len(jobs) <= PINNED_READ_JOBS[label], (label, jobs)

"""The postings write: every pending group of a build (or of the rebuild
inside merge_segments) is encoded and written by ONE Spark job, with the
per-group manifest stats, the unit layout and the query results of the
former one-job-per-group write."""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest

from data_text_search_spark.config import BM25Config, IndexPaths
from data_text_search_spark.operators import index_build
from data_text_search_spark.operators.index_build import (
    _write_manifest_atomic,
    build_index,
    load_manifest,
)
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.streaming.incremental import (
    add_documents,
    delete_documents,
    merge_segments,
    merge_tier,
)
from tests.conftest import digest_files, unit_files
from tests.oracle_bm25 import oracle_search

QS = ["return import", "quantum flux capacitor", "merge_heap spill_page def"]

CONFIGS = {
    "f64_4x2": (BM25Config(), 4, 2),
    "compact_a05_8x3": (BM25Config(alpha=0.5), 8, 3),
    "stop_2x1": (BM25Config(stopwords=("return", "import", "def")), 2, 1),
}

# Produced by the one-job-per-group write this one replaced, on the
# session corpus: groups_state without `seconds`, the term_stats row
# count with a digest of its sorted (term, df, cf, idf.hex(), pruned)
# rows, and search(q, 3) rows. `f64_4x2` and `stop_2x1` were built with
# the former f64 impact payload: their term_stats digests and search
# rows are those builds' bytes, so they pin that the doc-length payload
# scores bit-identically. Their groups_state (payload sizes) comes from
# builds of the same configs with the doc-length payload.
_QUANTUM = [(294, 14.703281735595933), (100, 14.23129753656071),
            (197, 12.311692741407983)]
_MERGE_HEAP_PRUNED = [(146, 4.501279951283116), (109, 4.253075095029114),
                      (213, 3.976798238756771)]
PINNED = {
    "f64_4x2": {
        "groups_state": {
            "0": {"n_blocks": 1009, "n_postings": 13346,
                  "payload_bytes": 49845, "bytes_per_posting": 3.735,
                  "shard_balance_max_over_mean": 1.06},
            "1": {"n_blocks": 1029, "n_postings": 13878,
                  "payload_bytes": 51440, "bytes_per_posting": 3.707,
                  "shard_balance_max_over_mean": 1.015}},
        "term_stats": (525, "15317333cb1ae028"),
        "search": {
            "return import": [(255, -4.629426592003253),
                              (153, -4.92216249916217),
                              (61, -5.031797523401113)],
            "quantum flux capacitor": _QUANTUM,
            "merge_heap spill_page def": [(146, -4.354555004897235),
                                          (109, -5.652725840060183),
                                          (213, -5.761953165826418)]}},
    "compact_a05_8x3": {
        "groups_state": {
            "0": {"n_blocks": 1319, "n_postings": 5879,
                  "payload_bytes": 21570, "bytes_per_posting": 3.669,
                  "shard_balance_max_over_mean": 1.071},
            "1": {"n_blocks": 1317, "n_postings": 6811,
                  "payload_bytes": 25077, "bytes_per_posting": 3.682,
                  "shard_balance_max_over_mean": 1.125},
            "2": {"n_blocks": 879, "n_postings": 4611,
                  "payload_bytes": 16890, "bytes_per_posting": 3.663,
                  "shard_balance_max_over_mean": 1.03}},
        "term_stats": (525, "9afdfb5c183dc80a"),
        "search": {"return import": [],
                   "quantum flux capacitor": _QUANTUM,
                   "merge_heap spill_page def": _MERGE_HEAP_PRUNED}},
    "stop_2x1": {
        "groups_state": {
            "0": {"n_blocks": 1035, "n_postings": 26352,
                  "payload_bytes": 98903, "bytes_per_posting": 3.753,
                  "shard_balance_max_over_mean": 1.019}},
        "term_stats": (525, "a3192623959460c7"),
        "search": {"return import": [],
                   "quantum flux capacitor": _QUANTUM,
                   "merge_heap spill_page def": _MERGE_HEAP_PRUNED}},
}


def _groups_state(m: dict) -> dict:
    return {g: {k: v for k, v in st.items() if k not in ("status", "seconds")}
            for g, st in m["groups_state"].items()}


def _term_stats(spark, root: str) -> tuple[int, str]:
    ts = spark.read.parquet(f"{root}/term_stats").toPandas()
    rows = sorted((r.term, int(r.df), int(r.cf), float(r.idf).hex(),
                   bool(r.pruned)) for r in ts.itertuples())
    return len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _search(spark, root: str) -> dict:
    s = IndexSearcher(spark, root)
    return {q: [(int(r["doc_id"]), float(r["score"]))
                for r in s.search(q, 3).collect()] for q in QS}


def _unmark_group(root: str, g: int) -> None:
    m = load_manifest(root)
    del m["groups_state"][str(g)]
    m["complete"] = False
    _write_manifest_atomic(IndexPaths(root).manifest, m)


@pytest.mark.parametrize("name", list(CONFIGS))
def test_pinned_configs_match_per_group_write(spark, corpus, tmp_path, name):
    cfg, shards, groups = CONFIGS[name]
    root = str(tmp_path / name)
    m = build_index(spark, corpus, root, cfg, id_col="doc_id",
                    shards=shards, groups=groups)
    want = PINNED[name]
    assert _groups_state(m) == want["groups_state"]
    assert _term_stats(spark, root) == want["term_stats"]
    assert _search(spark, root) == want["search"]
    units = unit_files(root)
    assert len(units) == shards
    assert all(len(files) == 1 for files in units.values()), units
    for unit, (f,) in units.items():
        rows = pq.read_table(f"{IndexPaths(root).postings}/{unit}/{f}",
                             columns=["term", "shard", "block_id"])
        keys = list(zip(*rows.to_pydict().values()))
        assert keys == sorted(keys), unit


def test_postings_stage_is_one_job(spark, spark_jobs, corpus, tmp_path,
                                   monkeypatch):
    """One job encodes and writes every group, whatever the group count.
    Next to it the stage runs the 1-task term_stats broadcast and the map
    side of the shard repartition, each a job of its own under AQE; the
    former write paid all three once per group. The doc_stats job runs
    on its own thread meanwhile, so the stage's jobs are told apart by a
    job group set on the calling thread after that thread started."""
    sc = spark.sparkContext
    write = index_build.write_postings
    stage_jobs: list[list[int]] = []

    def counted(*args, **kwargs):
        group = f"postings-write-{len(stage_jobs)}"
        sc.setJobGroup(group, "postings write")
        try:
            return write(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            stage_jobs.append(sorted(
                sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(index_build, "write_postings", counted)
    for groups in (1, 4):
        m = build_index(spark, corpus, str(tmp_path / f"g{groups}"),
                        id_col="doc_id", shards=8, groups=groups)
        assert len(m["groups_state"]) == groups
    for jobs in stage_jobs:
        # the broadcast and the map side run one stage each; the write
        # job runs the encode stage after the (skipped) map stage
        n_stages = [len(sc.statusTracker().getJobInfo(j).stageIds)
                    for j in jobs]
        assert sorted(n_stages) == [1, 1, 2], stage_jobs
    monkeypatch.undo()
    # resuming with every group erased runs the postings stage alone
    root = str(tmp_path / "g4")
    for g in range(4):
        shutil.rmtree(f"{IndexPaths(root).postings}/group={g}")
        _unmark_group(root, g)
    with spark_jobs() as jobs:
        m2 = build_index(spark, corpus, root, id_col="doc_id", shards=8,
                         groups=4)
    assert len(jobs) == 3, jobs
    assert _groups_state(m2) == _groups_state(m)


BUILD_JOBS, ADD_JOBS, MERGE_JOBS = 8, 0, 9
# add_documents of a delta that is not a local relation: the Spark encode
SPARK_ADD_JOBS = 13


def test_build_merge_add_job_counts(spark, spark_jobs, corpus, tmp_path):
    """No read of a tokenized checkpoint, of doc_stats or of tombstones
    infers a schema, and the postings of all groups are one job. Before
    that, on these inputs, build_index ran 19 jobs, add_documents 14
    and merge_segments 22. The delta, built from pandas, is written on
    the driver (13 jobs on the Spark encode)."""
    root = str(tmp_path / "idx")
    with spark_jobs() as build:
        build_index(spark, corpus, root, id_col="doc_id", shards=8,
                    groups=4)
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100_000 + i for i in range(20)],
        "content": [f"flibbertigibbet gizmo{i % 3} return import"
                    for i in range(20)]}))
    with spark_jobs() as add:
        add_documents(spark, root, delta, id_col="doc_id")
    delete_documents(spark, root, [1, 2, 100_003])
    with spark_jobs() as merge:
        m = merge_segments(spark, root)
    assert m["n_docs"] == 317 and not m.get("segments")
    assert len(build) <= BUILD_JOBS, build
    assert len(add) <= ADD_JOBS, add
    assert len(merge) <= MERGE_JOBS, merge


def test_driver_writes_run_no_job(spark, spark_jobs, corpus, tmp_path):
    """Small local deltas, merge_tier of their segments and a delete by
    a list of ids run on the driver: no Spark job. A delta read from
    files is not a local relation and still takes the Spark encode."""
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, id_col="doc_id", shards=8, groups=4)

    def delta(first, word):
        return pd.DataFrame({
            "doc_id": [first + i for i in range(20)],
            "content": [f"{word} gizmo{i % 3} return import"
                        for i in range(20)]})

    with spark_jobs() as adds:
        for first, word in [(100_000, "flibbertigibbet"), (200_000, "zorp")]:
            add_documents(spark, root, spark.createDataFrame(
                delta(first, word)), id_col="doc_id")
    with spark_jobs() as tier:
        m = merge_tier(spark, root)
    with spark_jobs() as dels:
        delete_documents(spark, root, [1, 2, 100_003, 100_003])
    assert adds == [] and tier == [] and dels == []
    assert [s["merged_from"] for s in m["segments"]] == [[0, 1]]
    spark.createDataFrame(delta(300_000, "quux")).write.parquet(
        str(tmp_path / "delta"))
    files = spark.read.parquet(str(tmp_path / "delta"))
    with spark_jobs() as add:
        m = add_documents(spark, root, files, id_col="doc_id")
    assert 0 < len(add) <= SPARK_ADD_JOBS, add
    assert m["n_docs"] == 360
    s = IndexSearcher(spark, root)
    assert s._tombstones.tolist() == [1, 2, 100_003]
    for word, first in [("flibbertigibbet", 100_000), ("zorp", 200_000),
                        ("quux", 300_000)]:
        got = {r["doc_id"] for r in s.search(word, 50).collect()}
        assert got == set(range(first, first + 20)) - {100_003}, word


def test_resume_keeps_done_group_files(spark, corpus, corpus_pdf, tmp_path):
    root = str(tmp_path / "idx")
    build_index(spark, corpus, root, id_col="doc_id", shards=8, groups=2)
    before = digest_files(f"{IndexPaths(root).postings}/group=0")
    shutil.rmtree(f"{IndexPaths(root).postings}/group=1")
    _unmark_group(root, 1)
    m = build_index(spark, corpus, root, id_col="doc_id", shards=8,
                    groups=2)
    assert m["complete"]
    assert digest_files(f"{IndexPaths(root).postings}/group=0") == before
    units = unit_files(root)
    assert len(units) == 8
    assert all(len(files) == 1 for files in units.values()), units
    s = IndexSearcher(spark, root)
    for qt in ["return", "zyzzyva obelisk"]:
        want = oracle_search(corpus_pdf["content"].tolist(), qt, n=10)
        got = [(r["doc_id"], r["score"]) for r in s.search(qt, 10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want]


def test_failed_postings_write_marks_nothing_done(spark, corpus, tmp_path,
                                                  monkeypatch):
    """An encode task that raises fails the one write: no group is
    marked done and the build is not complete. A resume in the same
    process then gives the clean build's stats and rows."""
    factory = index_build._encode_shard_factory

    def failing_factory(*args, **kwargs):
        encode = factory(*args, **kwargs)

        def encode_or_fail(pdf):
            if int(pdf["shard"].iloc[0]) == 3:
                raise RuntimeError("injected encode failure")
            return encode(pdf)
        return encode_or_fail

    cfg, shards, groups = CONFIGS["f64_4x2"]
    root = str(tmp_path / "idx")
    monkeypatch.setattr(index_build, "_encode_shard_factory",
                        failing_factory)
    with pytest.raises(Exception, match="injected encode failure"):
        build_index(spark, corpus, root, cfg, id_col="doc_id",
                    shards=shards, groups=groups)
    m = load_manifest(root)
    assert not m.get("complete")
    assert m["groups_state"] == {}
    assert m["stages"]["term_stats"]["status"] == "done"
    monkeypatch.setattr(index_build, "_encode_shard_factory", factory)
    m = build_index(spark, corpus, root, cfg, id_col="doc_id",
                    shards=shards, groups=groups)
    assert m["complete"]
    assert _groups_state(m) == PINNED["f64_4x2"]["groups_state"]
    assert _search(spark, root) == PINNED["f64_4x2"]["search"]


def test_failed_term_stats_write_joins_doc_stats(spark, corpus, tmp_path,
                                                 monkeypatch):
    """The term_stats stage raises while the doc_stats write is still
    running on its background thread: build_index re-raises only once
    that thread is done, commits no stage after the checkpoint, and a
    retry in the same process gives the clean build's stats and rows."""
    from pyspark.sql.readwriter import DataFrameWriter

    cfg, shards, groups = CONFIGS["f64_4x2"]
    root = str(tmp_path / "idx")
    paths = IndexPaths(root)
    real = DataFrameWriter.parquet
    writers: list[threading.Thread] = []

    def parquet(self, path, *args, **kwargs):
        if path == paths.doc_stats:
            writers.append(threading.current_thread())
            time.sleep(3)           # still writing when term_stats fails
        if path == paths.term_stats:
            raise RuntimeError("injected term_stats failure")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(RuntimeError, match="injected term_stats failure"):
        build_index(spark, corpus, root, cfg, id_col="doc_id",
                    shards=shards, groups=groups)
    assert writers and not any(t.is_alive() for t in writers)
    m = load_manifest(root)
    assert not m.get("complete") and m["groups_state"] == {}
    assert set(m["stages"]) == {"tokenized"}
    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    m = build_index(spark, corpus, root, cfg, id_col="doc_id",
                    shards=shards, groups=groups)
    assert m["complete"]
    assert _groups_state(m) == PINNED["f64_4x2"]["groups_state"]
    assert _search(spark, root) == PINNED["f64_4x2"]["search"]


def test_more_groups_than_shards(spark, corpus, corpus_pdf, tmp_path):
    root = str(tmp_path / "idx")
    m = build_index(spark, corpus, root, id_col="doc_id", shards=2,
                    groups=3)
    assert m["complete"]
    assert m["groups_state"]["2"]["n_blocks"] == 0
    assert m["groups_state"]["2"]["shard_balance_max_over_mean"] is None
    assert os.path.isdir(f"{IndexPaths(root).postings}/group=2")
    # a resume whose only pending group is the empty one writes nothing
    # and still records the group's stats
    before = digest_files(f"{IndexPaths(root).postings}/group=0")
    _unmark_group(root, 2)
    m = build_index(spark, corpus, root, id_col="doc_id", shards=2,
                    groups=3)
    assert m["complete"] and m["groups_state"]["2"]["n_blocks"] == 0
    assert digest_files(f"{IndexPaths(root).postings}/group=0") == before
    # every posting of the corpus, as in the 4-shard build
    assert sum(g["n_postings"] for g in m["groups_state"].values()) == sum(
        g["n_postings"] for g in PINNED["f64_4x2"]["groups_state"].values())
    s = IndexSearcher(spark, root)
    for qt in ["return", "quantum flux capacitor", "zyzzyva obelisk"]:
        want = oracle_search(corpus_pdf["content"].tolist(), qt, n=10)
        got = [(r["doc_id"], r["score"]) for r in s.search(qt, 10).collect()]
        assert [d for d, _ in got] == [d for d, _ in want]
        assert s.search_local(qt, 10)["doc_id"].tolist() == [
            d for d, _ in want]

"""Incremental segments + Structured Streaming ingest."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import corpus_pandas
from data_text_search_spark.operators.index_build import build_index, load_manifest
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.streaming.incremental import (
    add_documents,
    merge_segments,
    stream_ingest,
)


def _base(spark, tmp_path, n=200):
    pdf = corpus_pandas(n).reset_index().rename(columns={"index": "doc_id"})
    df = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    return root


def test_add_documents_makes_delta_queryable(spark, tmp_path):
    root = _base(spark, tmp_path)
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100000, 100001],
        "content": ["flibbertigibbet widget factory " * 3,
                    "return import def class"]}))
    m = add_documents(spark, root, delta, id_col="doc_id")
    assert m["n_docs"] == 202
    assert m["segments"][0]["n_docs"] == 2
    assert m["segments"][0]["new_terms"] >= 1      # flibbertigibbet
    s = IndexSearcher(spark, root)
    # brand-new term, only in the delta segment
    res = s.search("flibbertigibbet", 5).collect()
    assert [r["doc_id"] for r in res] == [100000]
    # old docs still found alongside delta docs for shared terms
    res2 = s.search("return import", 5).collect()
    assert len(res2) == 5


def test_drift_flags_rebuild(spark, tmp_path):
    root = _base(spark, tmp_path, n=100)
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(200000, 200040)),
        "content": ["some fresh content here"] * 40}))
    m = add_documents(spark, root, delta, id_col="doc_id",
                      rebuild_threshold=0.2)
    assert m["needs_rebuild"] is True
    assert m["drift"] > 0.2


def test_stream_ingest_foreachbatch(spark, tmp_path):
    root = _base(spark, tmp_path)
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(pd.DataFrame({
        "doc_id": [300000], "content": ["streamedneedle appears here"]}),
    ).write.mode("overwrite").parquet(src)
    q = stream_ingest(spark, root, src, "doc_id long, content string", ckpt,
                      id_col="doc_id")
    q.awaitTermination(120)
    s = IndexSearcher(spark, root)
    assert [r["doc_id"] for r in s.search("streamedneedle", 3).collect()] == [300000]
    m = load_manifest(root)
    assert m["segments"] and m["n_docs"] == 201


def test_pruned_term_does_not_resurrect(spark, tmp_path):
    # base: alpha=1.0 prunes hot terms; a delta containing a pruned term
    # must NOT re-introduce it with inflated delta-only idf
    pdf = corpus_pandas(150).reset_index().rename(columns={"index": "doc_id"})
    df = spark.createDataFrame(pdf)
    root = str(tmp_path / "pruned")
    build_index(spark, df, root, BM25Config(alpha=1.0), id_col="doc_id",
                shards=4, groups=1)
    s0 = IndexSearcher(spark, root)
    assert s0.search("return", 5).count() == 0     # pruned in base
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": [500000], "content": ["return return return brandnewterm"]}))
    add_documents(spark, root, delta, id_col="doc_id")
    s = IndexSearcher(spark, root)
    assert s.search("return", 5).count() == 0      # still pruned
    assert [r["doc_id"] for r in s.search("brandnewterm", 5).collect()] == [500000]


def test_duplicate_delta_doc_rejected(spark, tmp_path):
    root = _base(spark, tmp_path, n=50)
    dup = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [10], "content": ["whatever"]}))  # id 10 exists in base
    with pytest.raises(ValueError, match="already exist"):
        add_documents(spark, root, dup, id_col="doc_id")
    both = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [700000, 700000], "content": ["a", "b"]}))
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        add_documents(spark, root, both, id_col="doc_id")


def test_zero_token_delta_doc_counted(spark, tmp_path):
    root = _base(spark, tmp_path, n=50)
    delta = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [800000, 800001], "content": ["", "realwords here"]}))
    m = add_documents(spark, root, delta, id_col="doc_id")
    assert m["n_docs"] == 52                        # empty doc counted
    assert m["segments"][0]["n_docs"] == 2


def test_batch_key_idempotence(spark, tmp_path):
    root = _base(spark, tmp_path, n=50)
    delta = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [810000], "content": ["idempotencyneedle"]}))
    m1 = add_documents(spark, root, delta, id_col="doc_id", batch_key="b1")
    m2 = add_documents(spark, root, delta, id_col="doc_id", batch_key="b1")
    assert m1["n_docs"] == m2["n_docs"] == 51
    assert len(m2["segments"]) == 1


def test_rebuild_wipes_segments(spark, tmp_path):
    import os
    root = _base(spark, tmp_path, n=80)
    delta = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [820000], "content": ["segmentword alpha"]}))
    add_documents(spark, root, delta, id_col="doc_id")
    assert os.path.exists(f"{root}/postings/group=seg0")
    # full rebuild over base corpus only → segments must vanish
    pdf = corpus_pandas(80).reset_index().rename(columns={"index": "doc_id"})
    m = build_index(spark, spark.createDataFrame(pdf), root,
                    BM25Config(), id_col="doc_id", shards=4, groups=1,
                    resume=False)
    assert not os.path.exists(f"{root}/postings/group=seg0")
    assert m["n_docs"] == 80 and "segments" not in m
    assert IndexSearcher(spark, root).search("segmentword", 3).count() == 0


def test_resume_config_mismatch_raises(spark, tmp_path):
    root = _base(spark, tmp_path, n=50)
    pdf = corpus_pandas(50).reset_index().rename(columns={"index": "doc_id"})
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="resume config mismatch"):
        build_index(spark, df, root, BM25Config(k1=2.0), id_col="doc_id",
                    shards=4, groups=1, resume=True)


def test_merge_segments_equals_full_rebuild(spark, tmp_path):
    """Compaction contract: after merge, every query answers bit-identical
    to a from-scratch rebuild over the full corpus (stats fully
    refreshed), without re-tokenizing — and the drift state clears."""
    base_n = 120
    pdf = corpus_pandas(base_n).reset_index().rename(columns={"index": "doc_id"})
    root = str(tmp_path / "mrg")
    build_index(spark, spark.createDataFrame(pdf), root, BM25Config(),
                id_col="doc_id", shards=4, groups=2)
    d1 = pd.DataFrame({"doc_id": [700001, 700002],
                       "content": ["mergedterm fresh content return import",
                                   "another delta with table scan words"]})
    d2 = pd.DataFrame({"doc_id": [700003],
                       "content": ["second segment mergedterm again"]})
    add_documents(spark, root, spark.createDataFrame(d1), id_col="doc_id")
    add_documents(spark, root, spark.createDataFrame(d2), id_col="doc_id")

    m = merge_segments(spark, root)
    assert not m.get("segments") and m["n_docs"] == base_n + 3
    assert m.get("drift", 0.0) == 0.0 or "drift" not in m
    assert not m.get("needs_rebuild")
    import os
    assert not os.path.exists(f"{root}/postings/group=seg0")

    # ground truth: from-scratch rebuild over the full corpus
    full = pd.concat([pdf.rename(columns={"content": "content"}), d1, d2],
                     ignore_index=True)
    froot = str(tmp_path / "full")
    build_index(spark, spark.createDataFrame(full), froot, BM25Config(),
                id_col="doc_id", shards=4, groups=2)
    s_m, s_f = IndexSearcher(spark, root), IndexSearcher(spark, froot)
    for q in ["mergedterm", "return import", "table scan", "zyzzyva",
              "the fast key"]:
        a = [(r["doc_id"], r["score"]) for r in s_m.search(q, 10).collect()]
        b = [(r["doc_id"], r["score"]) for r in s_f.search(q, 10).collect()]
        assert a == b, (q, a, b)

    # a second merge with no segments is a no-op
    assert merge_segments(spark, root)["n_docs"] == base_n + 3

    # and the merged index accepts new segments again
    add_documents(spark, root, spark.createDataFrame(pd.DataFrame(
        {"doc_id": [700010], "content": ["postmerge needle"]})), id_col="doc_id")
    s2 = IndexSearcher(spark, root)
    assert [r["doc_id"] for r in s2.search("postmerge", 3).collect()] == [700010]


def test_searcher_refresh_sees_new_segments(spark, tmp_path):
    root = _base(spark, tmp_path, n=50)
    s = IndexSearcher(spark, root)
    assert s.search("refreshneedle", 3).count() == 0
    add_documents(spark, root, spark.createDataFrame(pd.DataFrame(
        {"doc_id": [830000], "content": ["refreshneedle zz"]})), id_col="doc_id")
    s.refresh()
    assert [r["doc_id"] for r in s.search("refreshneedle", 3).collect()] == [830000]


def test_merge_tier_equals_single_shot_append(spark, tmp_path):
    """Tiered-compaction contract: merging k segments produces exactly the
    index a SINGLE add_documents of the concatenated delta would have —
    bit-identical queries — without touching one byte of base postings."""
    import os

    from data_text_search_spark.streaming.incremental import merge_tier
    base_n = 120
    pdf = corpus_pandas(base_n).reset_index().rename(columns={"index": "doc_id"})
    d1 = pd.DataFrame({"doc_id": [800001, 800002],
                       "content": ["tierterm fresh content return import",
                                   "another delta with table scan words"]})
    d2 = pd.DataFrame({"doc_id": [800003],
                       "content": ["second segment tierterm again newword"]})

    root = str(tmp_path / "tier")
    build_index(spark, spark.createDataFrame(pdf), root, BM25Config(),
                id_col="doc_id", shards=4, groups=2)
    add_documents(spark, root, spark.createDataFrame(d1), id_col="doc_id")
    add_documents(spark, root, spark.createDataFrame(d2), id_col="doc_id")
    base_mtimes = {p: os.stat(f"{root}/postings/{p}").st_mtime
                   for p in os.listdir(f"{root}/postings")
                   if not p.startswith("group=seg")}

    m = merge_tier(spark, root)
    assert len(m["segments"]) == 1
    seg = m["segments"][0]
    assert seg["n_docs"] == 3 and seg["merged_from"] == [0, 1]
    assert m["n_docs"] == base_n + 3
    # base postings untouched (cost ∝ segments, not corpus)
    for p, t in base_mtimes.items():
        assert os.stat(f"{root}/postings/{p}").st_mtime == t
    # old segment dirs cleaned up post-commit
    assert not os.path.exists(f"{root}/postings/group=seg0")
    assert not os.path.exists(f"{root}/postings/group=seg1")

    # ground truth: one-shot append of the concatenated delta
    oroot = str(tmp_path / "oneshot")
    build_index(spark, spark.createDataFrame(pdf), oroot, BM25Config(),
                id_col="doc_id", shards=4, groups=2)
    add_documents(spark, oroot,
                  spark.createDataFrame(pd.concat([d1, d2],
                                                  ignore_index=True)),
                  id_col="doc_id")
    s_t, s_o = IndexSearcher(spark, root), IndexSearcher(spark, oroot)
    for q in ["tierterm", "newword", "return import", "table scan",
              "zyzzyva"]:
        a = [(r["doc_id"], r["score"]) for r in s_t.search(q, 10).collect()]
        b = [(r["doc_id"], r["score"]) for r in s_o.search(q, 10).collect()]
        assert a == b, (q, a, b)

    # merged index keeps accepting appends with a FRESH (monotonic) seg id
    add_documents(spark, root, spark.createDataFrame(pd.DataFrame(
        {"doc_id": [800010], "content": ["posttier needle"]})), id_col="doc_id")
    m2 = load_manifest(root)
    assert [s["segment"] for s in m2["segments"]] == [2, 3]
    s2 = IndexSearcher(spark, root)
    assert [r["doc_id"] for r in s2.search("posttier", 3).collect()] == [800010]
    assert [r["doc_id"] for r in s2.search("tierterm", 5).collect()] == [800001, 800003]


def test_merge_tier_fewer_than_two_segments_noop(spark, tmp_path):
    from data_text_search_spark.streaming.incremental import merge_tier
    root = _base(spark, tmp_path)
    m0 = merge_tier(spark, root)
    assert not m0.get("segments")
    add_documents(spark, root, spark.createDataFrame(pd.DataFrame(
        {"doc_id": [900001], "content": ["solo segment"]})), id_col="doc_id")
    m1 = merge_tier(spark, root)
    assert [s["segment"] for s in m1["segments"]] == [0]  # untouched


# ---------------------------------------------- Hadoop-FS maintenance path

def test_full_maintenance_cycle_on_file_uri(spark, tmp_path):
    """The whole build → append → merge_segments → query cycle on a
    file:// URI root (fsio's LOCAL fast path handles the scheme; the
    JVM FileSystem branch an hdfs://s3a:// root takes is exercised by
    test_merge_segments_through_jvm_filesystem below)."""
    pdf = corpus_pandas(120).reset_index().rename(columns={"index": "doc_id"})
    root = f"file://{tmp_path}/hidx"
    build_index(spark, spark.createDataFrame(pdf), root, BM25Config(),
                id_col="doc_id", shards=4, groups=1)
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": [900000], "content": ["flibbertigibbet gizmo search"]}))
    add_documents(spark, root, delta, id_col="doc_id")
    m = merge_segments(spark, root)
    assert m["n_docs"] == 121 and not m.get("segments")
    s = IndexSearcher(spark, root)
    res = s.search("flibbertigibbet", 3).collect()
    assert [r["doc_id"] for r in res] == [900000]
    assert s.search_local("flibbertigibbet", 3)["doc_id"].tolist() == [900000]


def test_recover_merge_rolls_forward_after_swap_crash(spark, tmp_path,
                                                      monkeypatch):
    """A crash BETWEEN merge_segments' two renames leaves no directory at
    root; recover_merge rolls the (complete) merged index forward and
    cleans up the marker + premerge copy."""
    import os

    from data_text_search_spark.sources import fsio
    from data_text_search_spark.streaming.incremental import recover_merge

    root = _base(spark, tmp_path, n=100)
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": [800000], "content": ["zanzibar quintessence lookup"]}))
    add_documents(spark, root, delta, id_col="doc_id")

    real_rename = fsio.rename
    calls = {"n": 0}

    def flaky(src, dst, spark_=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash between renames")
        real_rename(src, dst, spark_)

    monkeypatch.setattr(fsio, "rename", flaky)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_segments(spark, root)
    monkeypatch.setattr(fsio, "rename", real_rename)
    # crash window state: no root, marker + both complete copies around
    assert not os.path.exists(root)
    assert os.path.exists(f"{root}.MERGE_SWAP")
    assert os.path.exists(f"{root}.merge")

    m = recover_merge(spark, root)
    assert m["n_docs"] == 101 and not m.get("segments")
    assert not os.path.exists(f"{root}.MERGE_SWAP")
    assert not os.path.exists(f"{root}.premerge")
    s = IndexSearcher(spark, root)
    assert [r["doc_id"] for r in s.search("zanzibar", 3).collect()] == [800000]


def test_recover_merge_noop_without_marker(spark, tmp_path):
    from data_text_search_spark.streaming.incremental import recover_merge
    root = _base(spark, tmp_path, n=60)
    m = recover_merge(spark, root)
    assert m["n_docs"] == 60


def test_fsio_hadoop_branch_roundtrip(spark, tmp_path, monkeypatch):
    """Exercise the real JVM FileSystem branch of fsio (the code an
    hdfs:// or s3a:// root takes) by forcing file: URIs off the local
    fast path: write-atomic / read / exists / listdir / rename / delete
    through org.apache.hadoop.fs.FileSystem."""
    from data_text_search_spark.sources import fsio

    monkeypatch.setattr(fsio, "is_local", lambda p: False)
    base = f"file://{tmp_path}/h"
    fsio.mkdirs(f"{base}/sub", spark)
    fsio.write_text_atomic(f"{base}/m.json", '{"a": 1}', spark)
    assert fsio.exists(f"{base}/m.json", spark)
    assert fsio.read_text(f"{base}/m.json", spark) == '{"a": 1}'
    fsio.write_text_atomic(f"{base}/m.json", '{"a": 2}', spark)  # overwrite
    assert fsio.read_text(f"{base}/m.json", spark) == '{"a": 2}'
    assert fsio.listdir(base, spark) == ["m.json", "sub"]
    fsio.rename(f"{base}/sub", f"{base}/sub2", spark)
    assert fsio.listdir(base, spark) == ["m.json", "sub2"]
    assert fsio.listdir(f"{base}/nope", spark) == []
    fsio.delete(f"{base}/sub2", spark)
    assert not fsio.exists(f"{base}/sub2", spark)


def test_manifest_versioned_commit_crash_windows(spark, tmp_path):
    """The manifest commit is versioned (write a fresh manifest.json.v<seq>,
    GC older AFTER): at every instant at least one complete manifest is
    readable — unlike a delete-then-rename overwrite, whose crash window
    on HDFS/s3a loses the commit point entirely (round-4 advice)."""
    import os

    from data_text_search_spark.config import IndexPaths
    from data_text_search_spark.operators.index_build import (
        _manifest_versions,
        _write_manifest_atomic,
    )

    root = _base(spark, tmp_path, n=40)
    paths = IndexPaths(root)
    versions = _manifest_versions(paths.manifest)
    assert len(versions) == 1  # all build-stage commits GC'd their elders
    assert not os.path.exists(paths.manifest)  # no legacy file written
    m = load_manifest(root)
    assert m["complete"]

    # another commit supersedes and GCs the old version
    m["probe"] = 1
    _write_manifest_atomic(paths.manifest, m)
    v2 = _manifest_versions(paths.manifest)
    assert len(v2) == 1 and v2[0][0] == versions[0][0] + 1
    assert load_manifest(root)["probe"] == 1

    # crash window A: temp of the NEXT version written but never renamed —
    # readers must keep seeing the committed version (tmp is not a version)
    with open(f"{paths.manifest}.v{v2[0][0] + 1:016d}.tmp", "w") as f:
        f.write('{"complete": false}')
    assert load_manifest(root)["probe"] == 1

    # crash window B: new version committed, GC of the old one never ran —
    # readers take the max sequence
    with open(f"{paths.manifest}.v{v2[0][0] + 1:016d}", "w") as f:
        json.dump(dict(m, probe=2), f)
    assert load_manifest(root)["probe"] == 2

    # legacy single-file manifests (pre-versioning indexes) still load,
    # and their first new commit supersedes + removes the legacy file
    for _, p in _manifest_versions(paths.manifest):
        os.remove(p)
    with open(paths.manifest, "w") as f:
        json.dump(dict(m, probe="legacy"), f)
    assert load_manifest(root)["probe"] == "legacy"
    _write_manifest_atomic(paths.manifest, dict(m, probe=3))
    assert load_manifest(root)["probe"] == 3
    assert not os.path.exists(paths.manifest)


def test_write_text_new_refuses_overwrite(spark, tmp_path, monkeypatch):
    from data_text_search_spark.sources import fsio

    p = f"{tmp_path}/fresh.json"
    fsio.write_text_new(p, "a", spark)
    assert fsio.read_text(p, spark) == "a"
    with pytest.raises(FileExistsError):
        fsio.write_text_new(p, "b", spark)
    # same contract through the JVM Hadoop-FS branch
    monkeypatch.setattr(fsio, "is_local", lambda _p: False)
    p2 = f"file://{tmp_path}/fresh2.json"
    fsio.write_text_new(p2, "c", spark)
    assert fsio.read_text(p2, spark) == "c"
    with pytest.raises(FileExistsError):
        fsio.write_text_new(p2, "d", spark)


def test_merge_segments_through_jvm_filesystem(spark, tmp_path, monkeypatch):
    """Full compaction with every fsio control-plane call routed through
    the JVM Hadoop FileSystem (local fast path disabled) — the actual
    object-store/hdfs code path end to end."""
    from data_text_search_spark.sources import fsio

    root = _base(spark, tmp_path, n=80)
    delta = spark.createDataFrame(pd.DataFrame({
        "doc_id": [700000], "content": ["peregrine falcon searchable"]}))
    add_documents(spark, root, delta, id_col="doc_id")
    monkeypatch.setattr(fsio, "is_local", lambda p: False)
    m = merge_segments(spark, f"file://{root}")
    assert m["n_docs"] == 81 and not m.get("segments")
    s = IndexSearcher(spark, f"file://{root}")   # pyarrow URI filesystem
    assert s.search_local("peregrine", 3)["doc_id"].tolist() == [700000]
    monkeypatch.undo()
    s = IndexSearcher(spark, root)
    assert [r["doc_id"] for r in s.search("peregrine", 3).collect()] == [700000]


def test_missing_colocation_unit_fails_loudly(spark, tmp_path):
    """A committed colocation unit deleted under an open searcher
    (concurrent-merge race) must raise a clear refresh() error, not
    silently return results missing that corpus slice."""
    import shutil

    root = _base(spark, tmp_path, n=80)
    s = IndexSearcher(spark, root)
    s.warm()
    shutil.rmtree(s._units[0])
    with pytest.raises(Exception, match="refresh"):
        s.search_batch_pandas(["return import"], 5)


def test_load_manifest_survives_concurrent_gc(spark, tmp_path, monkeypatch):
    """load_manifest lists versions then reads the latest — a concurrent
    commit can GC that exact file between the two steps. The reader must
    re-list and read the NEWER version, not crash (a search service
    refreshing while add_documents commits hits this window)."""
    import json as _json
    import os

    from data_text_search_spark.config import IndexPaths
    from data_text_search_spark.operators.index_build import (
        _write_manifest_atomic,
        load_manifest,
    )
    from data_text_search_spark.sources import fsio

    root = str(tmp_path / "race")
    os.makedirs(root, exist_ok=True)
    paths = IndexPaths(root)
    _write_manifest_atomic(paths.manifest, {"probe": 1})

    real_read = fsio.read_text
    state = {"fired": False}

    def racing_read(path, spark_=None):
        if not state["fired"] and path.endswith("0000000000000001"):
            state["fired"] = True
            # simulate the concurrent committer: newer version lands,
            # then the one we were about to read is GC'd
            _write_manifest_atomic(paths.manifest, {"probe": 2})
            raise FileNotFoundError(path)
        return real_read(path, spark_)

    monkeypatch.setattr(fsio, "read_text", racing_read)
    assert load_manifest(root)["probe"] == 2
    assert state["fired"]

    # a read fault on a file that still EXISTS is NOT the race — raise
    def faulty_read(path, spark_=None):
        raise IOError("disk on fire")

    monkeypatch.setattr(fsio, "read_text", faulty_read)
    with pytest.raises(IOError, match="disk on fire"):
        load_manifest(root)


def test_load_manifest_raises_when_all_versions_vanish(spark, tmp_path,
                                                       monkeypatch):
    """If versions existed and then ALL vanish mid-retry, load_manifest
    must raise (returning None would read as 'no index here — safe to
    rebuild over a live dir')."""
    import os

    from data_text_search_spark.config import IndexPaths
    from data_text_search_spark.operators.index_build import (
        _write_manifest_atomic,
        load_manifest,
    )
    from data_text_search_spark.sources import fsio

    root = str(tmp_path / "wipe")
    os.makedirs(root, exist_ok=True)
    paths = IndexPaths(root)
    _write_manifest_atomic(paths.manifest, {"probe": 1})

    def wiping_read(path, spark_=None):
        for f in os.listdir(root):
            if f.startswith("manifest.json.v"):
                os.remove(os.path.join(root, f))
        raise FileNotFoundError(path)

    monkeypatch.setattr(fsio, "read_text", wiping_read)
    with pytest.raises(RuntimeError, match="vanished"):
        load_manifest(root)


def test_empty_delta_creates_no_segment(spark, tmp_path):
    """A zero-row delta must not commit a segment (a zero-doc segment
    would leave parts-less parquet dirs readers cannot scan): the
    manifest is unchanged except a recorded batch key, the pending
    intent is cleared, and the index stays fully queryable."""
    root = _base(spark, tmp_path, n=50)
    before = load_manifest(root)
    delta = spark.createDataFrame([], "doc_id long, content string")
    m = add_documents(spark, root, delta, id_col="doc_id",
                      batch_key="empty-batch-1")
    assert m["n_docs"] == before["n_docs"]
    assert m.get("segments", []) == before.get("segments", [])
    assert "pending" not in m
    assert "empty-batch-1" in m.get("applied_batches", [])
    # replay of the same empty batch stays a no-op
    m2 = add_documents(spark, root, delta, id_col="doc_id",
                       batch_key="empty-batch-1")
    assert m2.get("segments", []) == before.get("segments", [])
    s = IndexSearcher(spark, root)
    assert s.search("return import", 5).count() == 5


def test_new_searcher_after_merge_sees_new_dictionary(spark, tmp_path,
                                                      spark_jobs):
    """Spark's cache matches plans by read paths: searchers opened before
    merge_segments cached `term_stats` (and a segment's), and the merge
    swaps new files in under those paths by directory renames, which
    Spark does not see. Searchers opened later must read the current
    dictionary, also after the next append reuses the segment's id."""
    root = _base(spark, tmp_path, n=100)
    before_add = IndexSearcher(spark, root)
    assert before_add.search("return", 5).count() == 5  # cache materialized

    def add(word, first, n):
        add_documents(spark, root, spark.createDataFrame(pd.DataFrame({
            "doc_id": range(first, first + n),
            "content": [f"{word} ray burst {i}" for i in range(n)]})),
            id_col="doc_id")

    add("gamma", 500_000, 10)
    after_add = IndexSearcher(spark, root)
    assert after_add.search("gamma", 50).count() == 10
    merge_segments(spark, root)
    with spark_jobs() as jobs:     # what merge_segments ran after its swap
        spark.catalog.refreshByPath(root)
    assert jobs == []
    s = IndexSearcher(spark, root)
    assert s.search("gamma", 50).count() == 10
    assert len(s.search_local("gamma", 50)) == 10
    add("epsilon", 600_000, 5)                # reuses the first segment id
    s = IndexSearcher(spark, root)
    assert s.search("epsilon", 50).count() == 5
    assert s.search("gamma", 50).count() == 10

"""Snapshot / verify / restore: point-in-time consistent copies of the
committed index, content-verified end to end."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import QUERIES
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.operators.snapshot import (
    read_snapshot_info,
    restore_snapshot,
    snapshot_index,
    verify_snapshot,
)

Q = QUERIES[2]["query_text"]


@pytest.fixture(scope="module")
def snap_root(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("snap")
    src = str(base / "src")
    build_index(spark, corpus, src,
                BM25Config(alpha=-5.0),
                id_col="doc_id", shards=4, groups=1)
    return src, str(base)


def _rows(spark, root, q=Q):
    return [(r["doc_id"], round(r["score"], 9))
            for r in IndexSearcher(spark, root).search(q, 10).collect()]


def test_snapshot_verify_and_query_parity(spark, snap_root):
    src, base = snap_root
    dest = f"{base}/snap1"
    rep = snapshot_index(spark, src, dest)
    assert rep["ok"] and rep["copied"] == rep["files"] > 0
    v = verify_snapshot(spark, dest)
    assert v["ok"], v
    assert _rows(spark, dest) == _rows(spark, src)


def test_incremental_resnapshot_copies_only_new_segments(spark, corpus,
                                                         snap_root):
    from data_text_search_spark.streaming.incremental import add_documents

    src, base = snap_root
    dest = f"{base}/snap_inc"
    first = snapshot_index(spark, src, dest)
    again = snapshot_index(spark, src, dest)
    assert again["copied"] == 0 and again["files"] == first["files"]
    extra = corpus.limit(20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.col("content"))
    add_documents(spark, src, extra, id_col="doc_id")
    third = snapshot_index(spark, src, dest)
    assert third["files"] > first["files"]
    assert 0 < third["copied"] <= third["files"] - first["files"] + 1
    assert verify_snapshot(spark, dest)["ok"]
    # the re-snapshot carries the appended segment: same answers as src
    assert _rows(spark, dest) == _rows(spark, src)
    assert IndexSearcher(spark, dest).n_docs == IndexSearcher(spark,
                                                              src).n_docs


def test_verify_detects_corruption_and_restore_refuses(spark, snap_root,
                                                       tmp_path):
    src, base = snap_root
    dest = f"{base}/snap_bad"
    snapshot_index(spark, src, dest)
    info = read_snapshot_info(dest)
    victim = next(f for f in info["files"]
                  if f["size"] > 64 and f["rel"].endswith(".parquet"))
    p = f"{dest}/{victim['rel']}"
    with open(p, "r+b") as fh:
        fh.seek(victim["size"] // 2)
        b = fh.read(1)
        fh.seek(victim["size"] // 2)
        fh.write(bytes([b[0] ^ 0xFF]))
    v = verify_snapshot(spark, dest)
    assert not v["ok"] and victim["rel"] in v["bad"]
    with pytest.raises(ValueError, match="fails verification"):
        restore_snapshot(spark, dest, str(tmp_path / "never"))


def test_restore_roundtrip(spark, snap_root, tmp_path):
    src, base = snap_root
    dest = f"{base}/snap_rt"
    snapshot_index(spark, src, dest)
    target = str(tmp_path / "restored")
    rep = restore_snapshot(spark, dest, target)
    assert rep["ok"]
    assert _rows(spark, target) == _rows(spark, src)


def test_uncommitted_dirs_stay_invisible(spark, snap_root):
    """A crashed append leaves fully-written but uncommitted segment
    dirs; the snapshot must not pick them up (it enumerates from the
    manifest, never walks the root)."""
    src, base = snap_root
    junk = f"{src}/postings/group=seg999"
    os.makedirs(junk, exist_ok=True)
    with open(f"{junk}/part-junk.parquet", "wb") as fh:
        fh.write(b"not really parquet")
    try:
        dest = f"{base}/snap_clean"
        snapshot_index(spark, src, dest)
        info = read_snapshot_info(dest)
        assert not any("seg999" in f["rel"] for f in info["files"])
        assert not os.path.exists(f"{dest}/postings/group=seg999")
    finally:
        shutil.rmtree(junk, ignore_errors=True)


def test_snapshot_requires_complete_index(spark, tmp_path):
    with pytest.raises(ValueError, match="no complete index"):
        snapshot_index(spark, str(tmp_path / "nothing"),
                       str(tmp_path / "d"))

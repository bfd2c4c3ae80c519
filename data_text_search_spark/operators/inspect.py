"""Index introspection — the operational `_cat/indices` + `EXPLAIN`
surface a long-lived search deployment needs (the reference app shows
its index state in the UI; re-expressed here as data, not widgets).

Everything answers from manifest fields, parquet FOOTERS (metadata-only
counts/aggregates) and filesystem metadata — no posting decode, no
corpus scan, so both calls are safe against a 100-TB index.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_text_search_spark.config import IndexPaths
from data_text_search_spark.operators.index_build import (
    DOC_STATS_SCHEMA,
    TERM_STATS_SCHEMA,
    committed_doc_stats_paths,
    committed_term_stats_paths,
    committed_tombstone_paths,
    load_manifest,
)
from data_text_search_spark.sources import fsio


def index_info(spark: SparkSession, root: str) -> dict:
    """One-call operational summary of a persisted index: document /
    vocabulary / posting counts (live + deleted), per-component byte
    sizes, segment + tombstone + drift state, and the build's recorded
    metrics. Cheap by construction: manifest JSON, footer-only parquet
    aggregates (count/sum push to metadata + column stats), and one
    recursive size listing per component."""
    m = load_manifest(root)
    if not m or not m.get("complete"):
        raise ValueError(f"no complete index at {root}")
    paths = IndexPaths(root)
    ts = spark.read.schema(TERM_STATS_SCHEMA).parquet(
        *committed_term_stats_paths(root, m))
    vocab = ts.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("pruned"), 1).otherwise(0)).alias("pruned"),
        F.sum("df").alias("postings")).collect()[0]
    n_docs = int(m["n_docs"])
    deleted = int(m.get("deleted_docs", 0))
    comp_dirs = {
        "postings": paths.postings,
        "term_stats": paths.term_stats,
        "doc_stats": paths.doc_stats,
        "tokenized": paths.tokenized,
        "tombstones": f"{root}/tombstones",
    }
    bytes_by = {k: fsio.du(p, spark) for k, p in comp_dirs.items()}
    # delta-segment sidecars (their postings already live under
    # postings/group=segN and are counted there)
    bytes_by["segment_sidecars"] = sum(
        fsio.du(f"{root}/{d}", spark)
        for d in ("tokenized_segs", "term_stats_segs", "doc_stats_segs"))
    live_postings = int(vocab["postings"] or 0)
    return {
        "root": root,
        "n_docs": n_docs,
        "live_docs": n_docs - deleted,
        "deleted_docs": deleted,
        "drift": m.get("drift", 0.0),
        "needs_rebuild": bool(m.get("needs_rebuild", False)),
        "avgdl": m["avgdl"],
        "vocab_size": int(vocab["n"]),
        "pruned_terms": int(vocab["pruned"] or 0),
        "n_postings": live_postings,
        "bytes_per_posting": (round(bytes_by["postings"] / live_postings, 2)
                              if live_postings else None),
        "segments": len(m.get("segments", [])),
        "tombstone_files": len(m.get("tombstones", [])),
        "shards": m["shards"],
        "config": dict(m["config"]),
        "bytes": bytes_by,
        "total_bytes": sum(bytes_by.values()),
        "metrics": dict(m.get("metrics", {})),
    }


def segment_info(spark: SparkSession, root: str) -> list[dict]:
    """Per-delta-segment detail (the merge-policy input): id, docs,
    new terms, doc_stats rows — straight from the manifest plus one
    footer count per segment's doc_stats."""
    m = load_manifest(root)
    if not m or not m.get("complete"):
        raise ValueError(f"no complete index at {root}")
    return [{"seg": s["segment"], "n_docs": s.get("n_docs"),
             "new_terms": s.get("new_terms")} for s in m.get("segments", [])]


def doc_length_histogram(spark: SparkSession, root: str,
                         n_buckets: int = 16) -> list[dict]:
    """Log2-bucketed doc-length histogram from doc_stats (one narrow
    column scan — the only call here that reads real data rows; ~8 B/doc
    and column-pruned, still no posting or corpus touch). The input to
    avgdl sanity checks and shard-skew reasoning."""
    m = load_manifest(root)
    if not m or not m.get("complete"):
        raise ValueError(f"no complete index at {root}")
    ds = spark.read.schema(DOC_STATS_SCHEMA).parquet(
        *committed_doc_stats_paths(root, m))
    tpaths = committed_tombstone_paths(root, m)
    if tpaths:
        ds = ds.join(spark.read.schema("doc_id long").parquet(*tpaths),
                     "doc_id", "left_anti")
    bucket = F.least(F.floor(F.log2(F.greatest(F.col("doc_len"),
                                               F.lit(1)))).cast("int"),
                     F.lit(n_buckets - 1))
    rows = (ds.select(bucket.alias("b"))
            .groupBy("b").agg(F.count("*").alias("n_docs"))
            .orderBy("b").collect())
    return [{"min_len": 2 ** r["b"],
             "max_len": 2 ** (r["b"] + 1) - 1,
             "n_docs": r["n_docs"]} for r in rows]


def validate_index(spark: SparkSession, root: str,
                   sample_blocks: int = 64) -> dict:
    """Index fsck (the operational `_cat/segments` + checksum analog):
    structural validation of a persisted index against its manifest,
    metadata-first — footer/row counts, not a data scan, plus a bounded
    codec sample.

    Checks (each reported independently; "ok" is the conjunction):
      manifest      — present, complete, current tokenizer spec
      paths         — every manifest-committed dir/file readable
      base_postings — base groups' block + posting counts equal the
                      manifest's groups_state (parquet row counts +
                      one column-pruned sum over n_docs)
      doc_stats     — row count equals manifest n_docs (base + segments)
      codec_sample  — `sample_blocks` posting blocks decode cleanly:
                      doc ids sorted, inside [first_doc_id, last_doc_id],
                      exactly n_docs of them, tf varints align
      tombstones    — readable; count reported

    Returns {"ok": bool, "checks": {name: {"ok": bool, ...detail}}}."""
    from data_text_search_spark.functions.codec import (
        decode_doc_block,
        varint_decode,
    )
    from data_text_search_spark.functions.text import TOKEN_PATTERN
    from data_text_search_spark.operators.index_build import (
        committed_postings_dirs,
    )

    checks: dict[str, dict] = {}
    m = load_manifest(root)
    checks["manifest"] = {
        "ok": bool(m and m.get("complete")
                   and m.get("tokenizer") == TOKEN_PATTERN),
        "complete": bool(m and m.get("complete")),
        "tokenizer_current": bool(m and m.get("tokenizer") == TOKEN_PATTERN),
    }
    if not m:
        return {"ok": False, "checks": checks}

    paths_ok, missing = True, []
    for p in (committed_postings_dirs(root, m)
              + committed_term_stats_paths(root, m)
              + committed_doc_stats_paths(root, m)
              + committed_tombstone_paths(root, m)):
        try:
            spark.read.parquet(p).schema
        except Exception:
            paths_ok = False
            missing.append(p)
    checks["paths"] = {"ok": paths_ok, "missing": missing}

    paths_obj = IndexPaths(root)
    base = spark.read.parquet(paths_obj.postings)
    agg = base.agg(F.count(F.lit(1)).alias("blocks"),
                   F.sum("n_docs").alias("postings")).collect()[0]
    want_blocks = sum(g["n_blocks"] for g in m["groups_state"].values())
    want_post = sum(g["n_postings"] for g in m["groups_state"].values())
    checks["base_postings"] = {
        "ok": (int(agg["blocks"]) == want_blocks
               and int(agg["postings"]) == want_post),
        "blocks": int(agg["blocks"]), "manifest_blocks": want_blocks,
        "postings": int(agg["postings"]), "manifest_postings": want_post,
    }

    n_ds = 0
    for p in committed_doc_stats_paths(root, m):
        n_ds += spark.read.parquet(p).count()
    checks["doc_stats"] = {"ok": n_ds == int(m.get("n_docs", -1)),
                           "rows": n_ds, "manifest_n_docs": m.get("n_docs")}

    sample = (spark.read.option("basePath", paths_obj.postings)
              .parquet(*committed_postings_dirs(root, m))
              .select("first_doc_id", "last_doc_id", "n_docs",
                      "doc_deltas", "tfs")
              .limit(sample_blocks).collect())
    bad = 0
    for r in sample:
        try:
            docs = decode_doc_block(r["first_doc_id"], r["n_docs"],
                                    bytes(r["doc_deltas"]))
            tfs = varint_decode(bytes(r["tfs"]), r["n_docs"])
            if (len(docs) != r["n_docs"] or docs[0] != r["first_doc_id"]
                    or docs[-1] != r["last_doc_id"]
                    or any(docs[i] >= docs[i + 1]
                           for i in range(len(docs) - 1))
                    or (tfs <= 0).any()):
                bad += 1
        except Exception:
            bad += 1
    checks["codec_sample"] = {"ok": bad == 0, "sampled": len(sample),
                              "bad": bad}

    tpaths = committed_tombstone_paths(root, m)
    n_tomb = sum(spark.read.parquet(p).count() for p in tpaths)
    checks["tombstones"] = {"ok": True, "count": n_tomb,
                            "files": len(tpaths)}

    return {"ok": all(c["ok"] for c in checks.values()), "checks": checks}

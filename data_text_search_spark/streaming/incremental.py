"""Incremental index maintenance (segment model) + streaming ingest.

The reference rebuilds its in-RAM index from scratch per session; the
north rule asks for checkpoint-resumable builds (done in index_build).
This module adds the natural next capability for a living corpus:
appending document *segments* without a full rebuild, Lucene-style.

Semantics and their honesty budget:
- A delta segment is encoded under the CURRENT global statistics
  (N, avgdl, idf from the manifest). Existing postings are not
  re-scored, and delta impacts use slightly stale stats — exactly the
  approximation long-lived search engines make between merges.
- Terms unseen by the base index get idf computed from the updated
  total N and their delta df, and are appended to term_stats (so they
  are queryable immediately).
- The manifest tracks cumulative drift = added_docs / total_docs; past
  `rebuild_threshold` the index is marked `needs_rebuild`; exact parity
  is restored with `build_index(..., resume=False)` over the full
  corpus, which wipes the index root including all segment dirs (a
  resume=True call on a complete manifest is intentionally a no-op).

Small writes run on the driver with no Spark job: a local delta of at
most DRIVER_SEGMENT_MAX_DOCS documents, a merge_tier of that many, and
a delete by a list of ids. The driver segment writer writes the same
four directories as the Spark encode, from the same tokenizer, formula
expressions and block encoder, under the same intent/commit protocol;
larger deltas, file and streaming sources, and every non-local root
take the Spark path.

`stream_ingest` wires this into Structured Streaming: a file-source
readStream over a corpus directory, foreachBatch → add_documents, so
new parquet drops become queryable segments with checkpointed exactly-
once batch tracking.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_text_search_spark.config import BM25Config, IndexPaths
from data_text_search_spark.operators.bm25_exhaustive import ingest
from data_text_search_spark.operators.index_build import (
    POSTINGS_SCHEMA,
    TERM_STATS_SCHEMA,
    TOKENIZED_SCHEMA,
    _encode_shard_factory,
    _write_manifest_atomic,
    arrow_schema,
    committed_doc_stats_paths,
    committed_term_stats_paths,
    committed_tombstone_paths,
    doc_stats_df,
    impact_expr,
    in_background,
    load_manifest,
    shard_expr,
    with_term_stats,
    write_postings,
)
from data_text_search_spark.operators.index_query import (
    _arrow_fs,
    _list_parquet,
)
from data_text_search_spark.functions.text import (
    tokenize_tf,
    tokenize_tf_pandas_udf,
)
from data_text_search_spark.sources import fsio

# THE driver-write gate: a delta (add_documents) or a set of segments
# (merge_tier) of at most this many documents, on a local index root,
# is written on the driver with no Spark job (_write_segment_on_driver);
# anything larger, and every delta that is not a local relation, takes
# the Spark encode. The crossover, measured on a 3,000-doc base built
# from perfbench's generator (4 cores, 15 GB; medians of 6 adds and 3
# merge_tier calls of two such adds per size, driver vs Spark, seconds):
#   docs per add     60    250   1000  1500  2000  3000
#   add_documents    0.30  0.48  1.25  1.69  1.84  2.87  (driver)
#                    2.11  2.09  2.36  2.98  2.49  2.65  (Spark)
#   merge_tier docs  120   500   2000  3000  4000  6000
#   merge_tier       0.33  0.61  1.79  2.39  2.81  4.42  (driver)
#                    1.44  1.53  2.00  2.31  1.90  2.10  (Spark)
# Both cross between 2,000 and 3,000 documents.
DRIVER_SEGMENT_MAX_DOCS = 2000


def _wipe_segment_dirs(paths: IndexPaths, seg_id: int) -> None:
    for d in (paths.postings_seg(seg_id), paths.doc_stats_seg(seg_id),
              paths.term_stats_seg(seg_id), paths.tokenized_seg(seg_id)):
        fsio.delete(d)


def add_documents(spark: SparkSession, root: str, new_corpus: DataFrame,
                  text_col: str = "content", id_col: str | None = None,
                  rebuild_threshold: float = 0.2,
                  batch_key: str | None = None) -> dict:
    """Append a delta segment of documents to an existing index.

    `batch_key`: idempotency token — a key already recorded in the
    manifest is skipped (foreachBatch delivers at-least-once; a replayed
    micro-batch must not double-ingest its documents).

    Crash safety: the intent (`pending` marker) is recorded in the
    manifest BEFORE any data is written; every write lands in the
    segment's own directories, invisible to readers (which enumerate
    paths from the manifest); the single atomic manifest write at the
    end is the commit point. A crash anywhere in between leaves an
    uncommitted segment that the next writer wipes and replays — so a
    replayed micro-batch is a clean redo, never a 'doc_ids already
    exist' repair case.

    Note: an IndexSearcher snapshots the postings file listing at
    construction; re-open it after appends to see new segments.
    """
    from data_text_search_spark.functions.text import TOKEN_PATTERN

    paths = IndexPaths(root)
    manifest = load_manifest(root)
    if not manifest or not manifest.get("complete"):
        raise ValueError(f"no complete index at {root}")
    if manifest.get("tokenizer") != TOKEN_PATTERN:
        # delta docs tokenized under a different spec than the stored
        # postings would silently return wrong results
        raise ValueError(
            f"tokenizer mismatch: index at {root} was built with "
            f"{manifest.get('tokenizer')!r}, this engine uses "
            f"{TOKEN_PATTERN!r}; rebuild the index")
    if manifest.get("pending") is not None:
        # a previous append crashed between intent and commit: its segment
        # dirs may exist but are uncommitted — wipe and forget the intent
        # (single-writer assumption, same as the reference's artifact cache)
        _wipe_segment_dirs(paths, manifest["pending"]["segment"])
        manifest.pop("pending")
        _write_manifest_atomic(paths.manifest, manifest)
    if batch_key is not None and batch_key in manifest.get("applied_batches", []):
        return manifest
    cfg = manifest["config"]
    shards = manifest["shards"]
    n_old = manifest["n_docs"]
    # monotonic segment ids: a tiered merge collapses the segments list,
    # so len(segments) would recycle ids of stale (deleted) directories
    seg_id = manifest.get("next_seg_id", len(manifest.get("segments", [])))
    # intent record — must hit disk before any data write
    manifest["pending"] = {"segment": seg_id, "batch_key": batch_key}
    _write_manifest_atomic(paths.manifest, manifest)

    t0 = time.perf_counter()
    prep = ingest(new_corpus, text_col=text_col, id_col=id_col,
                  clean=cfg["clean"], materialize_tokens=False)
    rows = prep.select("doc_id", "prepared", shard_expr(shards).alias("shard"))
    local = _local_rows(rows) if fsio.is_local(root) else None

    def _abort(msg: str):
        manifest.pop("pending", None)
        _write_manifest_atomic(paths.manifest, manifest)
        raise ValueError(msg)

    if local is None:
        n_new, new_terms = _append_with_spark(spark, root, manifest, rows,
                                              seg_id, _abort)
    else:
        n_new, new_terms = _append_on_driver(spark, root, manifest, local,
                                             seg_id, _abort)
    if n_new == 0:
        # empty delta: no segment (a zero-doc segment would commit
        # parts-less parquet dirs that break readers' schema inference
        # — the same class append_positions_segment guards against);
        # clear the intent, still record the batch key so a replayed
        # empty micro-batch stays idempotent
        if batch_key is not None:
            manifest.setdefault("applied_batches", []).append(batch_key)
        manifest.pop("pending", None)
        _write_manifest_atomic(paths.manifest, manifest)
        return manifest
    n_total = n_old + n_new

    # COMMIT POINT: one atomic manifest write makes the segment visible,
    # records the batch key, and clears the pending intent together
    drift = manifest.get("drift", 0.0) + (n_new / n_total if n_total else 0.0)
    manifest.setdefault("segments", []).append({
        "segment": seg_id, "n_docs": n_new, "new_terms": int(new_terms),
        "seconds": round(time.perf_counter() - t0, 3)})
    manifest["next_seg_id"] = seg_id + 1
    manifest["n_docs"] = n_total
    manifest["drift"] = round(drift, 6)
    manifest["needs_rebuild"] = drift > rebuild_threshold
    if batch_key is not None:
        manifest.setdefault("applied_batches", []).append(batch_key)
    manifest.pop("pending", None)
    _write_manifest_atomic(paths.manifest, manifest)
    return manifest


def _check_delta(n_new: int, n_distinct: int, n_dup: int,
                 count_tombstoned, abort) -> None:
    """The integrity rules of an append, on either path: no doc_id twice
    in the delta, and none already in the index."""
    if n_distinct != n_new:
        abort("delta contains duplicate doc_ids")
    if n_dup:
        # a tombstoned id is still physically present (postings +
        # stats) until merge_segments purges it — re-adding before the
        # purge would strand TWO posting sets behind one doc_id
        n_tomb = count_tombstoned()
        hint = (f" ({n_tomb} of them are tombstoned — run "
                "merge_segments to purge deletions, then re-add)"
                if n_tomb else "; dedup upstream or rebuild")
        abort(f"{n_dup} delta doc_ids already exist in the index — "
              f"re-adding would double their postings{hint}")


def _append_with_spark(spark: SparkSession, root: str, manifest: dict,
                       rows: DataFrame, seg_id: int, abort
                       ) -> tuple[int, int]:
    """add_documents' Spark path: tokenize on the executors, check,
    encode and write the segment with Spark jobs. Returns (documents,
    new terms)."""
    # pairs (pre-explode) is the unit of truth: zero-token docs are rows
    # here (pairs=[], doc_len=0) and must reach n_docs/doc_stats, exactly
    # like the base build
    pairs_df = (rows.select(
        "doc_id", tokenize_tf_pandas_udf("prepared").alias("s"), "shard")
        .select("doc_id", "shard", F.col("s.pairs").alias("pairs"),
                F.col("s.doc_len").alias("doc_len"),
                F.col("s.n_chars").alias("n_chars"))).persist()
    try:
        # ONE integrity job: the duplicate-id check and the
        # already-present check ride the same aggregate (doc_stats ids are
        # unique, so the marker left join is row-preserving) — the
        # round-6-start shape paid two serial job floors here per append
        existing = (spark.read.schema("doc_id long").parquet(
            *committed_doc_stats_paths(root, manifest))
            .withColumn("_ex", F.lit(1)))
        row = (pairs_df.join(existing, "doc_id", "left")
               .agg(F.count("*").alias("n"),
                    F.countDistinct("doc_id").alias("nd"),
                    F.count("_ex").alias("ndup")).first())
        n_new = int(row["n"] or 0)

        def count_tombstoned() -> int:
            tpaths = committed_tombstone_paths(root, manifest)
            return pairs_df.join(
                spark.read.schema("doc_id long").parquet(*tpaths),
                "doc_id").count() if tpaths else 0

        _check_delta(n_new, int(row["nd"] or 0), int(row["ndup"] or 0),
                     count_tombstoned, abort)
        if n_new == 0:
            return 0, 0
        return n_new, _encode_segment(
            spark, IndexPaths(root), manifest, pairs_df, seg_id,
            manifest["n_docs"] + n_new,
            committed_term_stats_paths(root, manifest))
    finally:
        # on every path — abort, empty delta, a failed encode, success
        pairs_df.unpersist()


def _append_on_driver(spark: SparkSession, root: str, manifest: dict,
                      local: pd.DataFrame, seg_id: int, abort
                      ) -> tuple[int, int]:
    """add_documents' driver path for a small local delta (`local`:
    doc_id, prepared, shard): the same tokenizer, checks and segment as
    the Spark path, with no Spark job. Returns (documents, new terms)."""
    import pyarrow as pa

    fs = _arrow_fs(root)[0]
    toks = tokenize_tf(local["prepared"])
    tok = pa.Table.from_pandas(pd.DataFrame({
        "doc_id": local["doc_id"].astype("int64"),
        "shard": local["shard"].astype("int32"),
        "pairs": toks["pairs"], "doc_len": toks["doc_len"],
        "n_chars": toks["n_chars"]}),
        schema=arrow_schema(TOKENIZED_SCHEMA), preserve_index=False)
    ids = tok["doc_id"].to_numpy()
    n_new = len(ids)
    _check_delta(
        n_new, len(np.unique(ids)),
        len(_ids_stored(fs, committed_doc_stats_paths(root, manifest), ids)),
        lambda: len(_ids_stored(
            fs, committed_tombstone_paths(root, manifest), ids)),
        abort)
    if n_new == 0:
        return 0, 0
    return n_new, _write_segment_on_driver(
        spark, IndexPaths(root), manifest, tok, seg_id,
        manifest["n_docs"] + n_new, committed_term_stats_paths(root, manifest))


def delete_documents(spark: SparkSession, root: str, doc_ids,
                     rebuild_threshold: float = 0.2) -> dict:
    """Tombstone deletion — Lucene's live-docs model restated for a
    persisted, object-store-friendly index.

    `doc_ids`: a DataFrame whose first column is the doc_id, or an
    iterable of ints. Ids not present in the index (or already
    tombstoned) are ignored; if nothing remains the call is a no-op.

    Semantics (the honesty budget, same as add_documents'):
    - Deleted docs vanish from every query path immediately (BM25
      single/batch/local, index-backed fuzzy, fuzzy-phrase, phrase) —
      the searcher masks them at posting-decode time, BEFORE any top-k
      selection, so surviving ranks are exact.
    - Global statistics (N, avgdl, df/idf) are NOT recomputed — scores
      of surviving docs are unchanged, exactly the staleness long-lived
      engines accept between merges. `drift` grows by n_deleted/N and
      past `rebuild_threshold` the manifest flags `needs_rebuild`.
    - merge_segments PURGES tombstones: it rebuilds from the tokenized
      checkpoints minus the deleted docs under refreshed stats —
      bit-identical to a fresh build over the surviving corpus.
      merge_tier deliberately does not purge (its contract is
      delta-proportional cost; purging base postings needs the full
      rewrite merge_segments does).
    - Re-adding a tombstoned id is rejected until a purge (the id is
      still physically present); add_documents' error says so.

    Crash safety needs no pending marker: the tombstone parquet lands in
    its own monotonic `tombstones/del<N>/` dir, invisible until the ONE
    atomic manifest write commits it; a crash before the commit leaves
    an orphan dir the next delete overwrites (mode=overwrite, same id).

    Scale shape: tombstones are doc_id-sorted parquet; the searcher
    loads them once into a sorted int64 array (8 B/id — Lucene keeps the
    analogous live-docs bitset in RAM per segment) and ships it to
    kernels via a Spark broadcast above 1M ids. The array is bounded by
    merge cadence, not corpus size: merge_segments resets it to zero."""
    paths = IndexPaths(root)
    manifest = load_manifest(root)
    if not manifest or not manifest.get("complete"):
        raise ValueError(f"no complete index at {root}")
    del_id = manifest.get("next_del_id", 0)
    out = paths.tombstones_del(del_id)
    if isinstance(doc_ids, DataFrame) or not fsio.is_local(root):
        n_del = _tombstone_with_spark(spark, root, manifest, doc_ids, out)
    else:
        # a list of ids is on the driver already: the writer's driver
        # reads find the live ones, and one pyarrow file records them
        import pyarrow as pa
        ids = np.unique(np.fromiter((int(i) for i in doc_ids),
                                    dtype=np.int64))
        fs = _arrow_fs(root)[0]
        live = np.setdiff1d(
            _ids_stored(fs, committed_doc_stats_paths(root, manifest), ids),
            _ids_stored(fs, committed_tombstone_paths(root, manifest), ids))
        n_del = len(live)
        if n_del:
            _write_parquet(spark, out, pa.table({"doc_id": live}))
    if n_del == 0:
        fsio.delete(out)
        return manifest
    # COMMIT POINT: one atomic manifest write makes the tombstones live
    manifest.setdefault("tombstones", []).append(
        {"del": del_id, "n_docs": int(n_del)})
    manifest["next_del_id"] = del_id + 1
    manifest["deleted_docs"] = manifest.get("deleted_docs", 0) + int(n_del)
    drift = (manifest.get("drift", 0.0)
             + n_del / max(manifest.get("n_docs", 1), 1))
    manifest["drift"] = round(drift, 6)
    manifest["needs_rebuild"] = drift > rebuild_threshold
    _write_manifest_atomic(paths.manifest, manifest)
    return manifest


def _tombstone_with_spark(spark: SparkSession, root: str, manifest: dict,
                          doc_ids, out: str) -> int:
    """delete_documents' Spark path: write the live ids among `doc_ids`
    (a DataFrame whose first column is the doc_id, or an iterable) to
    `out`, sorted, in one file. Returns how many it wrote."""
    if isinstance(doc_ids, DataFrame):
        ids = (doc_ids.select(
            F.col(doc_ids.columns[0]).cast("long").alias("doc_id"))
            .dropDuplicates(["doc_id"]))
    else:
        # deduplicated on the driver and built from pandas: no
        # dropDuplicates shuffle job for a handful of ids
        ids = spark.createDataFrame(
            pd.DataFrame({"doc_id": np.unique(np.fromiter(
                (int(i) for i in doc_ids), dtype=np.int64))}),
            "doc_id long")
    # pinned schemas: neither read runs a schema-inference job
    existing = spark.read.schema("doc_id long").parquet(
        *committed_doc_stats_paths(root, manifest))
    live = ids.join(existing, "doc_id", "left_semi")
    tpaths = committed_tombstone_paths(root, manifest)
    if tpaths:
        live = live.join(spark.read.schema("doc_id long").parquet(*tpaths),
                         "doc_id", "left_anti")
    # the written row count rides the write itself (no read-back job),
    # observed in the write's own stage: AQE replaces an empty shuffle
    # stage whole, metrics included
    written = Observation()
    (live.repartition(1).sortWithinPartitions("doc_id")
     .observe(written, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(out))
    return int(written.get["n"])


def _encode_segment(spark: SparkSession, paths: IndexPaths, manifest: dict,
                    pairs_df: DataFrame, seg_id: int, n_total: int,
                    stats_paths: list[str]) -> int:
    """Shared segment writer: compute new-term stats against
    `stats_paths`, encode posting blocks under the current global stats
    (avgdl, idf), and write the segment's four directories — all
    invisible to readers until the caller's manifest commit. Returns the
    new-term count."""
    cfg = manifest["config"]
    td = (pairs_df.select("doc_id", "doc_len", "shard",
                          F.explode("pairs").alias("p"))
          .select("doc_id", "doc_len", "shard",
                  F.col("p.term").alias("term"), F.col("p.tf").alias("tf")))

    # anti-join against ALL terms (incl. alpha-pruned ones, which are
    # flagged, not deleted) — a pruned hot term in the delta must stay
    # pruned, not resurrect with a delta-only df and inflated IDF
    full_stats = spark.read.schema(TERM_STATS_SCHEMA).parquet(*stats_paths)
    # cf for NEW terms is exact (the term has no base postings, so its
    # whole collection frequency is this segment's Σtf); pre-existing
    # terms keep their frozen base cf, which is why collection_tf
    # ignores the column while segments exist (see IndexSearcher)
    delta_terms = with_term_stats(
        td.groupBy("term").agg(F.count("*").alias("df"),
                               F.sum("tf").alias("cf"))
        .join(full_stats.select("term"), "term", "left_anti"),
        n_total, cfg["alpha"], cfg["stopwords"])
    # ONE job: the new-term count rides the segment term_stats write as
    # an observe() metric (the round-6-start shape persisted delta_terms,
    # ran a count job, then re-ran the plan for the write). The dir is
    # uncommitted until the final manifest write either way — readers
    # enumerate term_stats paths from the manifest, and only segments
    # with new_terms > 0 are listed (committed_term_stats_paths), so an
    # empty write is invisible; it is deleted below anyway.
    # doc_stats + tokenized are derivations of the persisted pairs that
    # nothing in the term_stats→postings chain reads: their write jobs
    # run on background action threads and overlap the chain (guide
    # §2.6 / the base build's concurrent doc_stats stage), so the
    # segment encode's wall cost is max(), not sum(). All four dirs stay
    # invisible until the caller's atomic manifest commit, and the
    # threads are joined (errors re-raised) before this function
    # returns — also when the chain raises — so the crash protocol is
    # unchanged.
    join_side = in_background(
        lambda: doc_stats_df(pairs_df)
        .write.mode("overwrite").parquet(paths.doc_stats_seg(seg_id)),
        lambda: pairs_df.write.mode("overwrite")
        .parquet(paths.tokenized_seg(seg_id)))
    try:
        dt_obs = Observation()
        (delta_terms.observe(dt_obs, F.count(F.lit(1)).alias("n"))
         .write.mode("overwrite").parquet(paths.term_stats_seg(seg_id)))
        new_terms = int(dt_obs.get["n"])
        if new_terms:
            live_stats = (full_stats.unionByName(
                spark.read.schema(TERM_STATS_SCHEMA)
                .parquet(paths.term_stats_seg(seg_id)))
                .filter(~F.col("pruned")))
        else:
            fsio.delete(paths.term_stats_seg(seg_id))
            live_stats = full_stats.filter(~F.col("pruned"))

        # segments mirror the base's spart colocation dirs (one
        # term-sorted file per unit), so the shuffle-free query path
        # covers them too
        write_postings(td, live_stats, manifest, paths.postings_seg(seg_id))
    finally:
        # doc_stats and the per-segment tokenized checkpoint (merges
        # re-score from it without re-tokenizing) are the side writes
        join_side()
    return int(new_terms)


def _parquet_files(fs, dirs: list[str]) -> list[str]:
    return [f for d in dirs for f in _list_parquet(fs, d)]


def _local_rows(df: DataFrame) -> pd.DataFrame | None:
    """The rows of `df` as pandas when its optimized plan is ONE local
    relation of at most DRIVER_SEGMENT_MAX_DOCS rows — a delta built
    from pandas or a list, through ingest's foldable projections, whose
    collect() Spark answers on the driver with no job. None for any
    other plan (files, streams, joins, Python UDFs): the Spark path."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if (plan.getClass().getSimpleName() != "LocalRelation"
            or plan.data().size() > DRIVER_SEGMENT_MAX_DOCS):
        return None
    return pd.DataFrame.from_records(df.collect(), columns=df.columns)


def _ids_stored(fs, dirs: list[str], ids: np.ndarray) -> np.ndarray:
    """The doc_ids among `ids` stored in the parquet dirs (committed
    doc_stats, or tombstones), read on the driver: the doc_id column
    alone, filtered as it is read."""
    import pyarrow as pa
    import pyarrow.dataset as pds

    files = _parquet_files(fs, dirs)
    if not files or not len(ids):
        return np.empty(0, dtype=np.int64)
    return (pds.dataset(files, format="parquet", filesystem=fs,
                        schema=pa.schema([("doc_id", pa.int64())]))
            .to_table(columns=["doc_id"],
                      filter=pds.field("doc_id").isin(pa.array(ids)))
            ["doc_id"].to_numpy())


def _write_parquet(spark: SparkSession, d: str, table) -> None:
    """Write `table` as the one data file of directory `d`, replacing
    what `d` held (as a Spark overwrite does). The file is named by a
    digest of its bytes, so a replay writes the same file and a new
    table under a reused directory a new name (readers open the files
    they listed, and catch a replaced one as vanished). pyarrow writes
    do not refresh Spark's cached reads of `d` as Spark's own writes
    do, so that is done here (no job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    pq.write_table(table.replace_schema_metadata(None), buf,
                   compression="snappy")
    data = buf.getvalue()
    fs, base = _arrow_fs(d)
    fsio.delete(d)
    fs.create_dir(base, recursive=True)
    name = f"part-{hashlib.sha256(data).hexdigest()[:32]}.snappy.parquet"
    with fs.open_output_stream(f"{base}/{name}") as f:
        f.write(data)
    spark.catalog.refreshByPath(d)


def _write_segment_on_driver(spark: SparkSession, paths: IndexPaths,
                             manifest: dict, tok, seg_id: int, n_total: int,
                             stats_paths: list[str]) -> int:
    """The driver twin of _encode_segment, for a delta small enough to
    hold: `tok` (a pyarrow table of the tokenized checkpoint's columns)
    becomes the same four segment directories, with no Spark job.

    Both paths share every formula: new-term idf and `pruned`
    (with_term_stats) and the impact (impact_expr) are the
    same Spark Column expressions, evaluated over frames built from
    pandas, whose collect() runs no job; the blocks come from the same
    _encode_shard_factory. Counting, the dictionary anti-join and the
    file writes are pandas/pyarrow. Returns the new-term count."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pds

    cfg = manifest["config"]
    fs = _arrow_fs(paths.root)[0]
    pairs = tok["pairs"].combine_chunks()
    row = pc.list_parent_indices(pairs).to_numpy()
    terms, tfs = pc.list_flatten(pairs).flatten()
    td = pd.DataFrame({
        "term": terms.to_numpy(zero_copy_only=False),
        "doc_id": tok["doc_id"].to_numpy()[row],
        "tf": tfs.to_numpy(),
        "shard": tok["shard"].to_numpy()[row],
        "doc_len": tok["doc_len"].to_numpy()[row]})
    new, blocks = [], []
    if len(td):
        # every delta term's df/cf and dictionary columns, as if new
        counts = (td.groupby("term", sort=True)["tf"].agg(["size", "sum"])
                  .reset_index().rename(columns={"size": "df", "sum": "cf"})
                  .astype({"df": "int64", "cf": "int64"}))
        stats = pd.DataFrame.from_records(
            with_term_stats(
                spark.createDataFrame(counts, "term string, df long, cf long"),
                n_total, cfg["alpha"], cfg["stopwords"]).collect(),
            columns=["term", "df", "cf", "idf", "pruned"]
        ).astype({"idf": "float64", "pruned": bool})
        # the anti-join against ALL committed terms (alpha-pruned ones
        # included: a pruned hot term in the delta stays pruned), reading
        # the three columns it needs, filtered to the delta's terms
        old = pds.dataset(
            _parquet_files(fs, stats_paths), format="parquet",
            filesystem=fs, schema=pa.schema([
                ("term", pa.string()), ("idf", pa.float64()),
                ("pruned", pa.bool_())])).to_table(
            filter=pds.field("term").isin(
                pa.array(counts["term"], pa.string()))).to_pandas()
        new = stats[~stats["term"].isin(old["term"])]
        live = pd.concat([old[~old["pruned"]], new[~new["pruned"]]])
        post = td.merge(live[["term", "idf"]], on="term")
        if len(post):
            post["impact"] = [r[0] for r in spark.createDataFrame(
                post[["idf", "tf", "doc_len"]],
                "idf double, tf int, doc_len int")
                .select(impact_expr(manifest)).collect()]
            encode = _encode_shard_factory(cfg["block_size"])
            blocks = pd.concat([encode(g) for _, g in post.groupby("shard")],
                               ignore_index=True)

    # the four directories, each written as its Spark twin would be
    # (segment postings: one term-sorted file per colocation unit)
    fsio.delete(paths.postings_seg(seg_id))
    fsio.mkdirs(paths.postings_seg(seg_id))
    if len(blocks):
        schema = arrow_schema(POSTINGS_SCHEMA)
        spart = blocks["shard"] % manifest["subshards"]
        for s, unit in blocks.groupby(spart):
            _write_parquet(
                spark, f"{paths.postings_seg(seg_id)}/spart={s}",
                pa.Table.from_pandas(
                    unit.sort_values(["term", "shard", "block_id"]),
                    schema=schema, preserve_index=False))
    _write_parquet(spark, paths.doc_stats_seg(seg_id), tok.select(
        ["doc_id", "doc_len", "shard", "n_chars"]))
    _write_parquet(spark, paths.tokenized_seg(seg_id), tok)
    fsio.delete(paths.term_stats_seg(seg_id))
    if len(new):
        _write_parquet(spark, paths.term_stats_seg(seg_id),
                       pa.Table.from_pandas(
                           new, schema=arrow_schema(TERM_STATS_SCHEMA),
                           preserve_index=False))
    return len(new)


def merge_tier(spark: SparkSession, root: str) -> dict:
    """Segment-tier compaction (Lucene's tiered merge shape): collapse
    ALL delta segments into ONE segment, leaving the base postings
    untouched — cost ∝ total segment size, never the whole corpus.

    Semantics: the merged segment is re-encoded from the segments'
    persisted tokenized checkpoints exactly as if the documents had
    arrived in a SINGLE add_documents call — same base stats (N_total,
    base avgdl, base idf), new-term idf computed at the final N_total.
    For a one-segment history the result is bit-identical to the
    pre-merge index; across multi-segment histories, new-term idfs
    converge to the single-shot values (each segment had used the
    N_total of its own append time) — a bounded, documented divergence.
    For exact global-stat parity use merge_segments (full re-score).

    Tombstones are NOT purged here (they may hit base postings, whose
    rewrite is exactly what this tier avoids); they keep masking at
    query time and merge_segments purges them.

    Crash safety: same pending-intent protocol as add_documents — the
    merged segment is written invisibly, ONE atomic manifest write swaps
    the segments list, and the old segment dirs are deleted only after
    the commit (a crash mid-cleanup leaves orphaned, unreferenced dirs
    that the next merge_tier/add_documents never sees)."""
    paths = IndexPaths(root)
    manifest = load_manifest(root)
    if not manifest or not manifest.get("complete"):
        raise ValueError(f"no complete index at {root}")
    old_segments = manifest.get("segments", [])
    if len(old_segments) < 2:
        return manifest
    if manifest.get("pending") is not None:
        _wipe_segment_dirs(paths, manifest["pending"]["segment"])
        manifest.pop("pending")
        _write_manifest_atomic(paths.manifest, manifest)

    seg_id = manifest.get("next_seg_id", len(old_segments))
    manifest["pending"] = {"segment": seg_id, "batch_key": None}
    _write_manifest_atomic(paths.manifest, manifest)

    t0 = time.perf_counter()
    tokenized = [paths.tokenized_seg(s["segment"]) for s in old_segments]
    # new-term stats anti-join against the BASE dictionary only: the old
    # segments' term_stats are being replaced by the merged segment's
    if (fsio.is_local(root) and sum(s["n_docs"] for s in old_segments)
            <= DRIVER_SEGMENT_MAX_DOCS):
        import pyarrow.dataset as pds
        fs = _arrow_fs(root)[0]
        tok = pds.dataset(_parquet_files(fs, tokenized), format="parquet",
                          filesystem=fs,
                          schema=arrow_schema(TOKENIZED_SCHEMA)).to_table()
        new_terms = _write_segment_on_driver(
            spark, paths, manifest, tok, seg_id, manifest["n_docs"],
            [paths.term_stats])
    else:
        pairs_df = spark.read.schema(TOKENIZED_SCHEMA).parquet(*tokenized)
        new_terms = _encode_segment(spark, paths, manifest, pairs_df, seg_id,
                                    manifest["n_docs"], [paths.term_stats])

    # COMMIT POINT: swap the segments list atomically
    merged_entry = {
        "segment": seg_id,
        "n_docs": int(sum(s["n_docs"] for s in old_segments)),
        "new_terms": int(new_terms),
        "merged_from": [s["segment"] for s in old_segments],
        "seconds": round(time.perf_counter() - t0, 3)}
    manifest["segments"] = [merged_entry]
    manifest["next_seg_id"] = seg_id + 1
    manifest.pop("pending", None)
    _write_manifest_atomic(paths.manifest, manifest)
    # post-commit cleanup (idempotent; failures leave invisible orphans)
    for s in old_segments:
        _wipe_segment_dirs(paths, s["segment"])
    return manifest


def merge_segments(spark: SparkSession, root: str) -> dict:
    """Compact all delta segments into the base index under REFRESHED
    global statistics (N, avgdl, df/idf recomputed over base + deltas).

    Result is bit-identical to a from-scratch rebuild over the full
    corpus (pytest-pinned), but re-tokenizes NOTHING: it re-scores from
    the persisted tokenized checkpoints (base `tokenized/` + per-segment
    `tokenized_segs/`), so the cost is the stats + encode stages only —
    this removes the rebuild cliff the drift threshold used to force.
    (Cost is still ∝ the WHOLE corpus; for compaction proportional to
    the delta size alone use merge_tier.)

    Filesystem story: the merged index is built beside the live one and
    swapped in with two directory renames through the Hadoop FileSystem
    API (sources/fsio.py) — atomic on posix and HDFS; on s3a a rename is
    copy+delete, so the swap window is O(index bytes) there (prefer
    merge_tier on hot object-store indexes, or swap a pointer above the
    root). The live index keeps answering queries until the swap (open
    IndexSearchers hold the old file listing — re-open after a merge).
    A crash BETWEEN the two renames leaves no directory at `root` but a
    complete index at `root.premerge` plus a `root.MERGE_SWAP` marker
    naming both paths; `recover_merge(spark, root)` rolls forward (or
    back) from exactly that state."""
    from data_text_search_spark.operators.index_build import (
        build_index,
        committed_tokenized_paths,
    )

    paths = IndexPaths(root)
    manifest = load_manifest(root)
    if not manifest or not manifest.get("complete"):
        raise ValueError(f"no complete index at {root}")
    if not manifest.get("segments") and not manifest.get("tombstones"):
        return manifest
    from urllib.parse import urlparse
    scheme = urlparse(root).scheme
    if scheme in ("s3a", "s3", "s3n", "gs", "abfs", "abfss", "wasb", "oss"):
        import warnings
        warnings.warn(
            f"merge_segments on an object-store root ({scheme}://): the "
            "directory-swap renames are copy+delete there, so the "
            "no-index-at-root window is O(index bytes), not near-instant; "
            "queries against the root fail during the swap until "
            "recover_merge/completion. Prefer merge_tier (pure-append) on "
            "hot object-store indexes, or swap a pointer above the root.",
            stacklevel=2)
    c = manifest["config"]
    cfg = BM25Config(k1=c["k1"], b=c["b"], alpha=c["alpha"], clean=c["clean"],
                     block_size=c["block_size"],
                     stopwords=tuple(c["stopwords"]))
    pairs = spark.read.schema(TOKENIZED_SCHEMA).parquet(
        *committed_tokenized_paths(root, manifest))
    tpaths = committed_tombstone_paths(root, manifest)
    if tpaths:
        # PURGE tombstones: deleted docs are dropped from the re-scored
        # corpus, so the merged index is bit-identical to a fresh build
        # over the surviving documents (refreshed N/avgdl/idf include
        # the deletions); the rebuilt manifest starts with no tombstones
        pairs = pairs.join(
            spark.read.schema("doc_id long").parquet(*tpaths),
            "doc_id", "left_anti")
    tmp = f"{root}.merge"
    fsio.delete(tmp, spark)
    build_index(spark, corpus=None, root=tmp, config=cfg,
                shards=manifest["shards"], groups=manifest["groups"],
                resume=False, tokenized_pairs=pairs)
    old = f"{root}.premerge"
    fsio.delete(old, spark)
    marker = f"{root}.MERGE_SWAP"
    fsio.write_text(
        marker,
        f"swapping {tmp} over {root}; previous index at {old}\n"
        "if root is missing: recover_merge() rolls the new index forward "
        "(or the old one back) — both are complete indexes\n", spark)
    fsio.rename(root, old, spark)
    fsio.rename(tmp, root, spark)
    # Spark's cache matches plans by read path, not by the files under
    # it, and only its own writes refresh a path's cached reads: a
    # searcher's cached term_stats would keep serving the pre-merge rows
    # to every later searcher. Re-list them (re-cached lazily; no job)
    spark.catalog.refreshByPath(root)
    fsio.delete(marker, spark)
    fsio.delete(old, spark)
    return load_manifest(root)


def recover_merge(spark: SparkSession, root: str) -> dict:
    """Recover from a crash inside merge_segments' swap window.

    States (marker = `root.MERGE_SWAP` exists):
    - root present: the swap completed (or never started destructively) —
      finish cleanup (drop marker, premerge, any stale .merge build).
    - root missing, `root.merge` present: the crash hit between the two
      renames — roll FORWARD (the merged index is complete by
      construction; the old index stays at root.premerge until cleanup).
    - root missing, only `root.premerge` present: the merged build was
      already renamed away or lost — roll BACK the previous index.
    Idempotent; a no-op without the marker."""
    marker = f"{root}.MERGE_SWAP"
    tmp, old = f"{root}.merge", f"{root}.premerge"
    if not fsio.exists(marker, spark):
        m = load_manifest(root)
        if not m:
            raise ValueError(f"no index and no merge marker at {root}")
        return m
    if not fsio.exists(root, spark):
        if fsio.exists(tmp, spark):
            fsio.rename(tmp, root, spark)       # roll forward
        elif fsio.exists(old, spark):
            fsio.rename(old, root, spark)       # roll back
        else:
            raise ValueError(
                f"merge marker at {marker} but neither {tmp} nor {old} "
                "exists — nothing to recover")
        spark.catalog.refreshByPath(root)   # as after merge_segments' swap
    fsio.delete(marker, spark)
    fsio.delete(old, spark)
    fsio.delete(tmp, spark)
    return load_manifest(root)


def reindex_delta(spark: SparkSession, root: str, snapshot: DataFrame,
                  text_col: str = "content", id_col: str | None = None,
                  batch_key: str | None = None,
                  rebuild_threshold: float = 0.2) -> dict:
    """Converge an existing index onto a new corpus SNAPSHOT by diffing
    identity sets — the incremental form of the north rule's
    checkpoint-resumable rebuild for a living source-code corpus.

    `snapshot` is the FULL desired corpus state (e.g. the repo table at
    new HEAD commits), not a delta. Identity follows ingest exactly
    (bm25_exhaustive.assign_doc_id): `id_col` if given, else
    xxhash64(repo, path, commit) — so a changed file surfaces as its old
    doc_id vanishing and a new doc_id appearing, and the whole reindex
    is pure id set algebra (content is never compared row-by-row; the
    commit IS the content address, same invariant git relies on):

        to_delete = live indexed ids  ∖  snapshot ids   → tombstones
        to_add    = snapshot ids      ∖  live ids       → delta segment
        unchanged = intersection                        → untouched

    Resumable / idempotent: the diff is recomputed from COMMITTED state
    each call, so re-running after a crash converges — ids whose delete
    committed drop out of to_delete (delete_documents skips already-
    tombstoned ids), and re-running with the same snapshot is a no-op
    diff. With `batch_key`, the append leg is additionally exactly-once
    under streaming redelivery (add_documents' manifest batch record).
    Deletes commit BEFORE the append so a mid-run crash never leaves the
    index claiming docs the snapshot removed while missing its adds.

    Staleness contract is delete_documents' + add_documents' combined:
    surviving docs keep their scores under the pre-diff global stats;
    drift accumulates on the manifest and `merge_segments` restores
    bit-exact parity with a fresh build over the snapshot.

    A snapshot id that was previously tombstoned but not yet purged
    cannot be re-added (its postings are still physically present) —
    that resurrection case raises with the merge_segments hint rather
    than half-applying the diff. No reference analog: the reference
    rebuilds in RAM per session (app.py); this is the capability that
    replaces those rebuilds at corpus scale.

    Returns {"n_added", "n_deleted", "n_unchanged", "manifest"}."""
    from data_text_search_spark.operators.bm25_exhaustive import (
        assign_doc_id,
    )

    manifest = load_manifest(root)
    if not manifest or not manifest.get("complete"):
        raise ValueError(f"no complete index at {root}")

    snap = assign_doc_id(snapshot, id_col)
    # one column-pruned pass over the snapshot's key columns feeds the
    # resurrection check, both anti-joins, and the final count (the
    # to_add leg's full-row scan is the only other snapshot read)
    snap_ids = (snap.select("doc_id").dropDuplicates(["doc_id"])
                .persist())
    indexed = spark.read.schema("doc_id long").parquet(
        *committed_doc_stats_paths(root, manifest))
    tpaths = committed_tombstone_paths(root, manifest)
    tomb = (spark.read.schema("doc_id long").parquet(*tpaths)
            if tpaths else None)
    live = indexed if tomb is None else indexed.join(
        tomb, "doc_id", "left_anti")

    if tomb is not None:
        resurrect = snap_ids.join(tomb, "doc_id", "left_semi").count()
        if resurrect:
            raise ValueError(
                f"reindex_delta: {resurrect} snapshot doc_ids are "
                "tombstoned but not yet purged — run merge_segments "
                "first, then re-apply the snapshot")

    # no separate count job: delete_documents is a no-op for an empty id
    # frame (it deletes the staged dir and leaves the manifest alone),
    # and when it does commit, the tombstone entry carries the exact
    # count — the round-6-start shape ran the anti-join once to count
    # and again inside delete_documents
    to_delete = live.join(snap_ids, "doc_id", "left_anti")
    pre_deleted = manifest.get("deleted_docs", 0)
    post = delete_documents(spark, root, to_delete,
                            rebuild_threshold=rebuild_threshold)
    n_deleted = post.get("deleted_docs", 0) - pre_deleted

    # no separate count job here either: add_documents short-circuits a
    # zero-row delta (no segment, intent cleared) and its manifest
    # carries the exact post-append n_docs, so the anti-join executes
    # once — inside the append's own integrity/tokenize pass
    to_add = snap.join(live, "doc_id", "left_anti")
    pre_docs = int(post.get("n_docs", manifest["n_docs"]))
    manifest = add_documents(
        spark, root, to_add, text_col=text_col, id_col="doc_id",
        batch_key=batch_key, rebuild_threshold=rebuild_threshold)
    n_added = int(manifest["n_docs"]) - pre_docs
    n_snapshot = snap_ids.count()
    snap_ids.unpersist()
    return {"n_added": int(n_added), "n_deleted": int(n_deleted),
            "n_unchanged": int(n_snapshot - n_added),
            "manifest": manifest}


def stream_ingest(spark: SparkSession, root: str, source_dir: str,
                  schema: str, checkpoint: str, text_col: str = "content",
                  id_col: str | None = None):
    """Structured Streaming: file-source corpus directory → per-batch
    delta segments (exactly-once via the stream checkpoint)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # foreachBatch is at-least-once; the manifest-recorded batch key
        # makes a replayed micro-batch a no-op (true exactly-once effect)
        add_documents(spark, root, batch_df, text_col=text_col, id_col=id_col,
                      batch_key=f"{checkpoint}#{batch_id}")

    return (stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())

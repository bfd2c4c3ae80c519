"""Positional postings sidecar: Lucene-parity phrase and proximity
queries answered ENTIRELY from the index — no corpus access, no
checkpoint verify.

The main index is positionless (tf-only postings; the documented
divergence from Lucene's positional phrase scoring, SURVEY §2.7 F5
note). This module closes it as an OPT-IN artifact: `build_positions`
persists delta-varint position blocks doc-sharded exactly like the main
index (shard = pmod(xxhash64(doc_id), S) — the same function, so a
future colocated layout can share units), and `phrase_count` /
`span_near` run vectorized kernels over JUST the query terms' blocks
(parquet row-group statistics prune on the term-sorted files). Storage
is ~1-2 B per token occurrence (positions are small within-doc deltas).

This is Lucene's positional-postings execution shape: a PhraseQuery
intersects position lists shifted by the term's phrase offset; the
occurrence count is the size of the final intersection. `span_near` is
the unordered two-term SpanNearQuery core: min token distance between
any occurrence pair, matched against a slop.

Maintenance: `append_positions_segment` follows the main index's
segment pattern (streaming/incremental.py): a new doc batch encodes
into `root/segments/s<seq>/blocks` with the SAME shard count and shard
function as the base, and the manifest — the commit point, written
LAST — records the segment list. Kernels read base + committed
segments as one scan; _decode_term's doc-sort already merges the
per-segment runs (a doc lives wholly in one segment, so a (term, doc)
still lives in exactly one block). Disjoint doc ids across base and
segments are the caller's contract, exactly as for the main index's
append_segment. A full rebuild remains the compaction path.

Positions are 1-BASED token indexes (matching the DuckDB oracle's
generate_series(1, len(toks)) list convention).

Layout:
  root/blocks/shard=*/...parquet with columns
    term, shard, block_id, first_doc_id, last_doc_id, n_docs,
    doc_deltas BINARY  — delta-varint sorted doc ids (first in-column),
    pos_counts BINARY  — varint tf per doc (position-list lengths),
    pos_deltas BINARY  — per doc: first position then gaps, varint,
                         concatenated in (term, doc) order
  root/manifest.json — tokenizer spec, n_docs, shards, complete flag.
"""

from __future__ import annotations

import json
import os
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_text_search_spark.functions.codec import (
    decode_doc_blocks_batch,
    varint_decode,
    varint_encode_segmented,
)
from data_text_search_spark.functions.text import (
    TOKEN_PATTERN,
    _TOKEN_RE,
    tokenize_py,
)
from data_text_search_spark.operators.index_build import shard_expr

BLOCK_SIZE = 128

_ROWS_SCHEMA = "doc_id long, term string, pos array<int>"
_BLOCKS_SCHEMA = ("term string, shard int, block_id int, "
                  "first_doc_id long, last_doc_id long, n_docs int, "
                  "doc_deltas binary, pos_counts binary, pos_deltas binary")


def _tokenize_positions_rows():
    """mapInPandas: per doc, one row per DISTINCT term carrying its
    sorted 1-based position list — the positional analog of
    tokenize_tf_pandas_udf's (term, tf) pre-agg (no (term, doc) groupBy
    shuffle anywhere; the only exchange in the build is the uniform
    doc-hash shard repartition, whose shard column is attached by the
    caller in JVM expression space — the exact pmod(xxhash64) the main
    index uses, no Python reimplementation to drift)."""

    def run(batches):
        for pdf in batches:
            out_doc, out_term, out_pos = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _TOKEN_RE.findall(str(text).lower())
                per: dict[str, list[int]] = {}
                for i, t in enumerate(toks, start=1):
                    per.setdefault(t, []).append(i)
                for t in sorted(per):
                    out_doc.append(int(doc_id))
                    out_term.append(t)
                    out_pos.append(per[t])
            yield pd.DataFrame({"doc_id": pd.Series(out_doc, dtype="int64"),
                                "term": out_term,
                                "pos": out_pos})

    return run


def _encode_positions_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas per shard: sort (term, doc), cut BLOCK_SIZE-doc
    blocks per term, varint-encode doc gaps, per-doc position counts,
    and within-doc position delta chains (first position is the first
    delta, so every value is positive and one segmented cumsum with a
    per-doc reset decodes the whole block)."""
    if pdf.empty:
        return pd.DataFrame(
            columns=["term", "shard", "block_id", "first_doc_id",
                     "last_doc_id", "n_docs", "doc_deltas", "pos_counts",
                     "pos_deltas"])
    codes, uniq_terms = pd.factorize(pdf["term"], sort=True)
    order = np.lexsort((pdf["doc_id"].to_numpy(dtype=np.int64),
                        codes.astype(np.int64)))
    codes = codes[order]
    docs = pdf["doc_id"].to_numpy(dtype=np.int64)[order]
    pos_lists = pdf["pos"].to_numpy(dtype=object)[order]
    shard = int(pdf["shard"].iloc[0])

    new_term = np.empty(len(codes), dtype=bool)
    new_term[0] = True
    new_term[1:] = codes[1:] != codes[:-1]
    term_rid = np.cumsum(new_term) - 1
    term_start = np.flatnonzero(new_term)
    rank_in_term = np.arange(len(codes)) - term_start[term_rid]
    block_in_term = rank_in_term // BLOCK_SIZE
    new_block = new_term | (np.concatenate(([0],
                                            np.diff(block_in_term))) != 0)
    block_start = np.flatnonzero(new_block)
    n_blocks = block_start.size
    block_end = np.concatenate((block_start[1:], [len(codes)]))
    block_len = block_end - block_start

    gaps_all = np.empty(len(docs), dtype=np.int64)
    gaps_all[0] = 0
    gaps_all[1:] = docs[1:] - docs[:-1]
    gaps = gaps_all[~new_block].astype(np.uint64)
    doc_deltas = varint_encode_segmented(gaps, block_len - 1)

    tfs = np.fromiter((len(p) for p in pos_lists), dtype=np.int64,
                      count=len(pos_lists))
    pos_counts = varint_encode_segmented(tfs.astype(np.uint64), block_len)

    # flat positions in (term, doc) order; within-doc delta chain whose
    # first value is the position itself (1-based → always >= 1)
    flat = (np.concatenate([np.asarray(p, dtype=np.int64)
                            for p in pos_lists])
            if len(pos_lists) else np.empty(0, dtype=np.int64))
    starts = np.cumsum(tfs) - tfs            # flat offset of each doc
    deltas = flat.copy()
    deltas[1:] -= flat[:-1]
    deltas[starts] = flat[starts]            # reset at each doc boundary
    # per-block position-value counts
    blk_of_row = np.cumsum(new_block) - 1
    blk_pos_counts = np.bincount(blk_of_row, weights=tfs,
                                 minlength=n_blocks).astype(np.int64)
    pos_deltas = varint_encode_segmented(deltas.astype(np.uint64),
                                         blk_pos_counts)

    return pd.DataFrame({
        "term": np.asarray(uniq_terms, dtype=object)[codes[block_start]],
        "shard": np.full(n_blocks, shard, dtype=np.int32),
        "block_id": block_in_term[block_start].astype(np.int32),
        "first_doc_id": docs[block_start],
        "last_doc_id": docs[block_end - 1],
        "n_docs": block_len.astype(np.int32),
        "doc_deltas": doc_deltas,
        "pos_counts": pos_counts,
        "pos_deltas": pos_deltas,
    })


def _write_position_blocks(spark: SparkSession, corpus: DataFrame,
                           dest: str, text_col: str, id_col: str,
                           S: int) -> tuple[int, int]:
    """Tokenize-with-positions → shard → block-encode → partitioned
    write (the shared build body of base and segment builds). Returns
    (batch doc count, encoded block rows written) — the block-row count
    rides the write as an observe() metric; callers gate segment
    commits on it (an all-empty-text batch writes NO parquet parts, and
    a committed parts-less segment dir would fail schema inference on
    every later read)."""
    from pyspark.sql import Observation
    rows = (corpus.select(F.col(id_col).alias("doc_id"),
                          F.col(text_col).cast("string").alias("text"))
            .mapInPandas(_tokenize_positions_rows(), schema=_ROWS_SCHEMA)
            .withColumn("shard", shard_expr(S)))
    obs = Observation()
    (rows.repartition(S, "shard")
     .groupBy("shard")
     .applyInPandas(lambda pdf: _encode_positions_shard(pdf),
                    schema=_BLOCKS_SCHEMA)
     .observe(obs, F.count(F.lit(1)).alias("n_rows"))
     .write.mode("overwrite").partitionBy("shard")
     .parquet(dest))
    return corpus.count(), int(obs.get["n_rows"] or 0)


def build_positions(spark: SparkSession, corpus: DataFrame, root: str,
                    text_col: str = "text", id_col: str = "doc_id",
                    shards: int | None = None) -> dict:
    """Build the positional sidecar. One linear pass: tokenize with
    positions (Arrow pre-agg, one row per (doc, distinct term)), attach
    the main index's doc-hash shard in JVM expression space, ONE uniform
    shard repartition, per-shard block encode, partitioned write."""
    from data_text_search_spark.sources import fsio

    S = int(shards or spark.sparkContext.defaultParallelism * 2)
    n_docs, n_rows = _write_position_blocks(spark, corpus, f"{root}/blocks",
                                            text_col, id_col, S)
    # n_rows == 0 (all texts tokenize to nothing) leaves a parts-less
    # blocks dir; _run_kernel's empty-read guard keys on it
    manifest = {"complete": True, "tokenizer": TOKEN_PATTERN,
                "n_docs": int(n_docs), "n_rows": int(n_rows),
                "base_rows": int(n_rows),
                "shards": S, "segments": [],
                "positions": "1-based token index"}
    fsio.write_text_atomic(f"{root}/manifest.json",
                           json.dumps(manifest, indent=1), spark)
    return manifest


def append_positions_segment(spark: SparkSession, root: str,
                             new_docs: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> dict:
    """Append a doc batch to an existing sidecar as a SEGMENT — the
    main index's incremental pattern (streaming/incremental.py): blocks
    encode into `segments/s<seq>/blocks` with the base's shard count
    and shard function, and the manifest (the commit point) is written
    LAST, so a crash mid-append leaves the previous committed state
    fully queryable and the half-written segment invisible. Disjoint
    doc ids vs base + earlier segments are the caller's contract (same
    as append_segment). Empty batches are a no-op."""
    from data_text_search_spark.sources import fsio

    m = load_positions_manifest(root)
    if not m or not m.get("complete"):
        raise ValueError(f"no complete positions sidecar at {root}")
    if m.get("tokenizer") != TOKEN_PATTERN:
        raise ValueError("tokenizer mismatch: rebuild the positions "
                         "sidecar with the current token spec")
    segs = list(m.get("segments") or [])
    seq = f"s{len(segs) + 1:04d}"
    n_new, n_rows = _write_position_blocks(
        spark, new_docs, f"{root}/segments/{seq}/blocks",
        text_col, id_col, int(m["shards"]))
    if n_new == 0 or n_rows == 0:
        # zero ENCODED rows (e.g. every text tokenizes to nothing) must
        # not commit either: partitionBy wrote no parquet parts, and a
        # committed parts-less segment dir would break schema inference
        # for every phrase/span query until a rebuild
        return m
    m["segments"] = segs + [seq]
    m["n_docs"] = int(m["n_docs"]) + int(n_new)
    if "n_rows" in m:
        m["n_rows"] = int(m["n_rows"]) + int(n_rows)
    fsio.write_text_atomic(f"{root}/manifest.json",
                           json.dumps(m, indent=1), spark)
    return m


def load_positions_manifest(root: str) -> dict | None:
    p = f"{root}/manifest.json"
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _decode_term(rows: pd.DataFrame):
    """One term's blocks → (docs, offsets, positions): docs sorted,
    positions flat in doc order, offsets[i]:offsets[i+1] slicing doc i's
    sorted position list."""
    fd = rows["first_doc_id"].to_numpy(dtype=np.int64)
    nd = rows["n_docs"].to_numpy(dtype=np.int64)
    docs = decode_doc_blocks_batch(fd, nd, rows["doc_deltas"].tolist())
    total_docs = int(nd.sum())
    tfs = varint_decode(b"".join(rows["pos_counts"]),
                        total_docs).astype(np.int64)
    deltas = varint_decode(b"".join(rows["pos_deltas"]),
                           int(tfs.sum())).astype(np.int64)
    # segmented cumsum with a reset at each doc start
    starts = np.cumsum(tfs) - tfs
    cs = np.cumsum(deltas)
    base = np.zeros_like(deltas)
    nz = starts[starts > 0]
    if nz.size:
        shift = np.zeros(deltas.size, dtype=np.int64)
        shift[nz] = cs[nz - 1]
        base = np.maximum.accumulate(shift)
    positions = cs - base
    # a partition holds MULTIPLE shards after the repartition, and
    # doc-hash sharding interleaves doc-id ranges — the concatenated
    # blocks are only sorted within each (shard, term) run. The kernels
    # searchsorted over docs, so globally sort and permute the ragged
    # position segments with one vectorized gather. (No duplicates: a
    # doc lives in exactly one shard, a (term, doc) in exactly one
    # block.)
    if docs.size > 1 and np.any(docs[1:] < docs[:-1]):
        order = np.argsort(docs, kind="stable")
        docs = docs[order]
        old_starts = starts[order]
        tfs = tfs[order]
        new_starts = np.cumsum(tfs) - tfs
        idx = (np.repeat(old_starts, tfs)
               + (np.arange(int(tfs.sum()), dtype=np.int64)
                  - np.repeat(new_starts, tfs)))
        positions = positions[idx]
    offsets = np.concatenate(([0], np.cumsum(tfs)))
    return docs, offsets, positions


def _phrase_kernel_factory(qtokens: list[str]):
    """Per-partition kernel: PhraseQuery position intersection. For the
    phrase t_0..t_{m-1}, an occurrence starts at p iff p+i ∈ pos(t_i) ∀i,
    so the count per doc is |∩_i (pos(t_i) − i)|. Docs are candidate
    only when EVERY distinct term is present (sorted intersect chain);
    repeated phrase tokens reuse one decoded list with different
    offsets."""
    distinct = list(dict.fromkeys(qtokens))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_id": pd.Series([], dtype="int64"),
             "phrase_count": pd.Series([], dtype="int64")})
        if pdf.empty:
            return empty
        data = {}
        for term, rows in pdf.groupby("term"):
            data[str(term)] = _decode_term(rows)
        if any(t not in data for t in distinct):
            return empty
        cand = reduce(lambda a, b: np.intersect1d(a, b, assume_unique=True),
                      [data[t][0] for t in distinct])
        if cand.size == 0:
            return empty
        out_docs, out_counts = [], []
        for d in cand:
            arr = None
            for i, t in enumerate(qtokens):
                docs, offs, pos = data[t]
                j = int(np.searchsorted(docs, d))
                p = pos[offs[j]:offs[j + 1]] - i
                arr = p if arr is None else np.intersect1d(
                    arr, p, assume_unique=True)
                if arr.size == 0:
                    break
            if arr is not None and arr.size:
                out_docs.append(int(d))
                out_counts.append(int(arr.size))
        if not out_docs:
            return empty
        return pd.DataFrame(
            {"doc_id": pd.Series(out_docs, dtype="int64"),
             "phrase_count": pd.Series(out_counts, dtype="int64")})

    return kernel


def _span_near_kernel_factory(t1: str, t2: str, slop: int):
    """Unordered two-term SpanNearQuery core: per candidate doc, the min
    token distance between any (occurrence of t1, occurrence of t2)
    pair, kept when <= slop. The pairwise min over two SORTED lists is a
    searchsorted merge (O(n log m)), never a cross join."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                              "min_dist": pd.Series([], dtype="int64")})
        if pdf.empty:
            return empty
        data = {}
        for term, rows in pdf.groupby("term"):
            data[str(term)] = _decode_term(rows)
        if t1 not in data or t2 not in data:
            return empty
        cand = np.intersect1d(data[t1][0], data[t2][0], assume_unique=True)
        out_docs, out_dist = [], []
        for d in cand:
            da, oa, pa = data[t1]
            db, ob, pb = data[t2]
            i = int(np.searchsorted(da, d))
            j = int(np.searchsorted(db, d))
            a = pa[oa[i]:oa[i + 1]]
            b = pb[ob[j]:ob[j + 1]]
            idx = np.searchsorted(b, a)
            best = np.iinfo(np.int64).max
            right = idx < b.size
            if right.any():
                best = min(best, int(np.min(b[idx[right]] - a[right])))
            left = idx > 0
            if left.any():
                best = min(best, int(np.min(a[left] - b[idx[left] - 1])))
            if best <= slop:
                out_docs.append(int(d))
                out_dist.append(best)
        if not out_docs:
            return empty
        return pd.DataFrame({"doc_id": pd.Series(out_docs, dtype="int64"),
                             "min_dist": pd.Series(out_dist, dtype="int64")})

    return kernel


def _span_window_kernel_factory(terms: list[str], width: int):
    """m-term SpanNearQuery core (unordered): per candidate doc, the
    SMALLEST token window containing at least one occurrence of every
    term — the classic smallest-range-over-k-sorted-lists problem, one
    merged sweep per doc with a per-term counter. Kept when
    (max−min) < width."""
    distinct = sorted(set(terms))
    m = len(distinct)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                              "min_span": pd.Series([], dtype="int64")})
        if pdf.empty:
            return empty
        data = {}
        for term, rows in pdf.groupby("term"):
            data[str(term)] = _decode_term(rows)
        if any(t not in data for t in distinct):
            return empty
        cand = reduce(lambda a, b: np.intersect1d(a, b, assume_unique=True),
                      [data[t][0] for t in distinct])
        out_docs, out_span = [], []
        for d in cand:
            lists = []
            for li, t in enumerate(distinct):
                docs, offs, pos = data[t]
                j = int(np.searchsorted(docs, d))
                lists.append(pos[offs[j]:offs[j + 1]])
            merged_pos = np.concatenate(lists)
            merged_lab = np.concatenate(
                [np.full(len(p), i, dtype=np.int64)
                 for i, p in enumerate(lists)])
            order = np.argsort(merged_pos, kind="stable")
            mp, ml = merged_pos[order], merged_lab[order]
            # sliding two-pointer: advance right, shrink left while all
            # m labels are inside the window
            need = np.zeros(m, dtype=np.int64)
            have = 0
            best = np.iinfo(np.int64).max
            left = 0
            for right in range(mp.size):
                if need[ml[right]] == 0:
                    have += 1
                need[ml[right]] += 1
                while have == m:
                    best = min(best, int(mp[right] - mp[left]))
                    need[ml[left]] -= 1
                    if need[ml[left]] == 0:
                        have -= 1
                    left += 1
            if best < width:
                out_docs.append(int(d))
                out_span.append(best)
        if not out_docs:
            return empty
        return pd.DataFrame({"doc_id": pd.Series(out_docs, dtype="int64"),
                             "min_span": pd.Series(out_span,
                                                   dtype="int64")})

    return kernel


def _lm_counts_kernel_factory(terms: list[str], pairs: list[tuple[str, str]]):
    """Per-partition kernel for the phrase-suggester language model:
    per requested term its OCCURRENCE total (Σ tf over this partition's
    docs), and per requested ordered pair (a, b) its ADJACENT-bigram
    total (Σ over docs of |(pos(a)+1) ∩ pos(b)| — the 2-token
    PhraseQuery count). One row per surviving key per partition; the
    caller sums across partitions. Unigram rows carry b = ''."""
    want_terms = sorted(set(terms))
    want_pairs = sorted(set(pairs))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a": pd.Series([], dtype="object"),
                              "b": pd.Series([], dtype="object"),
                              "cnt": pd.Series([], dtype="int64")})
        if pdf.empty:
            return empty
        data = {}
        for term, rows in pdf.groupby("term"):
            data[str(term)] = _decode_term(rows)
        out_a, out_b, out_c = [], [], []
        for t in want_terms:
            if t in data:
                out_a.append(t)
                out_b.append("")
                out_c.append(int(data[t][1][-1]))
        for a, b in want_pairs:
            if a not in data or b not in data:
                continue
            docs_a, offs_a, pos_a = data[a]
            docs_b, offs_b, pos_b = data[b]
            cand = np.intersect1d(docs_a, docs_b, assume_unique=True)
            total = 0
            for d in cand:
                i = int(np.searchsorted(docs_a, d))
                j = int(np.searchsorted(docs_b, d))
                total += int(np.intersect1d(
                    pos_a[offs_a[i]:offs_a[i + 1]] + 1,
                    pos_b[offs_b[j]:offs_b[j + 1]],
                    assume_unique=True).size)
            if total:
                out_a.append(a)
                out_b.append(b)
                out_c.append(total)
        if not out_a:
            return empty
        return pd.DataFrame({"a": pd.Series(out_a, dtype="object"),
                             "b": pd.Series(out_b, dtype="object"),
                             "cnt": pd.Series(out_c, dtype="int64")})

    return kernel


def lm_counts(spark: SparkSession, root: str, terms: list[str],
              pairs: list[tuple[str, str]]) -> dict:
    """Aggregate language-model counts from the positional sidecar:
    {('t', ''): occurrence total, ('a', 'b'): adjacent-bigram total} for
    the requested terms/ordered pairs — term-pruned block reads, ONE
    kernel job, result bounded by |terms| + |pairs| (never the corpus).
    Absent keys mean zero."""
    if not terms and not pairs:
        return {}
    all_terms = sorted(set(terms) | {t for p in pairs for t in p})
    out = _run_kernel(spark, root, all_terms,
                      _lm_counts_kernel_factory(terms, pairs),
                      "a string, b string, cnt long")
    agg = out.groupBy("a", "b").agg(F.sum("cnt").alias("cnt")).collect()
    return {(r["a"], r["b"]): int(r["cnt"]) for r in agg}


def _run_kernel(spark: SparkSession, root: str, terms: list[str], kernel,
                schema: str) -> DataFrame:
    """Read only the query terms' blocks (term-sorted files → row-group
    statistics pruning), ONE shard repartition so every doc's blocks for
    all terms land in the same task, kernel per partition."""
    m = load_positions_manifest(root)
    if not m or not m.get("complete"):
        raise ValueError(f"no complete positions sidecar at {root}")
    if m.get("tokenizer") != TOKEN_PATTERN:
        raise ValueError("tokenizer mismatch: rebuild the positions "
                         "sidecar with the current token spec")
    if not m.get("n_docs") or m.get("n_rows") == 0:
        # an empty corpus — or one whose every text tokenizes to nothing
        # (n_rows == 0, recorded at build) — writes no parquet parts
        # (partitionBy of an empty frame), so the read below could not
        # infer a schema; such a sidecar answers every query empty
        # (segments are never committed rows-less, so n_rows only grows)
        return spark.createDataFrame([], schema)
    # a rows-less BASE dir (all-empty-text corpus later grown by
    # segments) has no parquet parts and would fail its per-path read;
    # segments are never committed rows-less, so only base needs the
    # skip (legacy manifests lack base_rows -> always included)
    paths = ([f"{root}/blocks"] if m.get("base_rows") != 0 else []) + [
        f"{root}/segments/{s}/blocks" for s in (m.get("segments") or [])]
    # one read per root: base and segment dirs sit at different depths,
    # which trips Spark's common-base partition discovery when globbed
    # into a single read (CONFLICTING_DIRECTORY_STRUCTURES). The block
    # schema is pinned by the codec, so pass it explicitly: schema
    # inference otherwise runs a footer-reading Spark job per path on
    # EVERY kernel call (phrase/span/lm gates pay it per query)
    blocks = reduce(DataFrame.unionByName,
                    [spark.read.schema(_BLOCKS_SCHEMA).parquet(p)
                     for p in paths])
    blocks = blocks.filter(F.col("term").isin(sorted(set(terms))))
    parts = max(spark.sparkContext.defaultParallelism, 1)
    return (blocks.repartition(parts, "shard")
            .mapInPandas(_map_batches(kernel), schema=schema))


def _map_batches(kernel):
    """mapInPandas adapter: one kernel invocation per PARTITION (the
    Arrow batches of the partition concatenated). Scoring is
    doc-partitioned, so any grouping of whole shards is a valid partial
    unit — running per partition instead of per shard makes the
    per-invocation overhead proportional to TASKS, not to the shard
    count."""

    def run(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        out = kernel(pd.concat(pdfs, ignore_index=True))
        if len(out):
            yield out

    return run


def phrase_count(spark: SparkSession, root: str, phrase: str) -> DataFrame:
    """Exact phrase occurrences per doc from POSITIONS ONLY — identical
    rows to operators.fuzzy.phrase_search over the same corpus (the
    corpus-scan twin), Lucene PhraseQuery execution shape. Returns
    (doc_id, phrase_count >= 1), count desc, doc_id asc."""
    qtokens = tokenize_py(phrase)
    if not qtokens:
        return spark.createDataFrame([], "doc_id long, phrase_count long")
    out = _run_kernel(spark, root, qtokens,
                      _phrase_kernel_factory(qtokens),
                      "doc_id long, phrase_count long")
    return out.orderBy(F.desc("phrase_count"), F.asc("doc_id"))


def span_window(spark: SparkSession, root: str, terms: list[str],
                width: int) -> DataFrame:
    """m-term unordered proximity: docs where ONE window of fewer than
    `width` token positions contains every term at least once; the
    smallest such span per doc. Returns (doc_id, min_span), span asc,
    doc asc."""
    if not terms:
        return spark.createDataFrame([], "doc_id long, min_span long")
    out = _run_kernel(spark, root, terms,
                      _span_window_kernel_factory(terms, width),
                      "doc_id long, min_span long")
    return out.orderBy(F.asc("min_span"), F.asc("doc_id"))


def phrase_prefix_count(spark: SparkSession, root: str, phrase: str,
                        term_stats: DataFrame,
                        max_expansions: int = 50) -> DataFrame:
    """ES match_phrase_prefix: the LAST phrase token is a PREFIX; it
    expands to up to `max_expansions` dictionary terms (df desc, term
    asc — Lucene's expansion order), and a doc's count is the number of
    window occurrences where the fixed tokens match exactly and the
    last position holds ANY expansion. `term_stats` carries the term
    dictionary (term, df) — the expansion never scans the corpus, and
    the positional kernel then intersects shifted position lists with
    the UNION of the expansions' lists at the final offset.

    Returns (doc_id, phrase_count >= 1), count desc, doc asc."""
    qtokens = tokenize_py(phrase)
    if not qtokens:
        return spark.createDataFrame([], "doc_id long, phrase_count long")
    prefix = qtokens[-1]
    fixed = qtokens[:-1]
    import re as _re
    expansions = [r["term"] for r in
                  (term_stats.filter(
                      F.col("term").rlike("^" + _re.escape(prefix)))
                   .orderBy(F.desc("df"), F.asc("term"))
                   .limit(max_expansions).collect())]
    if not expansions:
        return spark.createDataFrame([], "doc_id long, phrase_count long")
    last_off = len(fixed)
    distinct_fixed = list(dict.fromkeys(fixed))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                              "phrase_count": pd.Series([], dtype="int64")})
        if pdf.empty:
            return empty
        data = {}
        for term, rows in pdf.groupby("term"):
            data[str(term)] = _decode_term(rows)
        if any(t not in data for t in distinct_fixed):
            return empty
        exp_present = [t for t in expansions if t in data]
        if not exp_present:
            return empty
        # candidates: all fixed terms AND >=1 expansion
        exp_docs = reduce(np.union1d, [data[t][0] for t in exp_present])
        doc_sets = [data[t][0] for t in distinct_fixed] + [exp_docs]
        cand = reduce(lambda a, b: np.intersect1d(a, b), doc_sets)
        out_docs, out_counts = [], []
        for d in cand:
            arr = None
            for i, t in enumerate(fixed):
                docs, offs, pos = data[t]
                j = int(np.searchsorted(docs, d))
                p = pos[offs[j]:offs[j + 1]] - i
                arr = p if arr is None else np.intersect1d(
                    arr, p, assume_unique=True)
                if arr.size == 0:
                    break
            if fixed and (arr is None or arr.size == 0):
                continue
            # union of expansion positions at the last offset
            lasts = []
            for t in exp_present:
                docs, offs, pos = data[t]
                j = int(np.searchsorted(docs, d))
                if j < docs.size and docs[j] == d:
                    lasts.append(pos[offs[j]:offs[j + 1]] - last_off)
            if not lasts:
                continue
            last_u = np.unique(np.concatenate(lasts))
            cnt = (last_u.size if not fixed
                   else np.intersect1d(arr, last_u,
                                       assume_unique=True).size)
            if cnt:
                out_docs.append(int(d))
                out_counts.append(int(cnt))
        if not out_docs:
            return empty
        return pd.DataFrame(
            {"doc_id": pd.Series(out_docs, dtype="int64"),
             "phrase_count": pd.Series(out_counts, dtype="int64")})

    out = _run_kernel(spark, root, distinct_fixed + expansions, kernel,
                      "doc_id long, phrase_count long")
    return out.orderBy(F.desc("phrase_count"), F.asc("doc_id"))


def span_near(spark: SparkSession, root: str, term1: str, term2: str,
              slop: int) -> DataFrame:
    """Unordered two-term proximity query: docs where some occurrence of
    term1 sits within `slop` token positions of an occurrence of term2;
    min distance per doc. Returns (doc_id, min_dist), dist asc, doc
    asc."""
    out = _run_kernel(spark, root, [term1, term2],
                      _span_near_kernel_factory(term1, term2, slop),
                      "doc_id long, min_dist long")
    return out.orderBy(F.asc("min_dist"), F.asc("doc_id"))

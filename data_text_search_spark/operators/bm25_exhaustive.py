"""Exhaustive (logical) BM25 scorer as one declarative DataFrame pipeline.

This is the *semantic truth* of the engine: tokenize → explode →
tf/df/idf aggregates → score-sum → top-k, expressed entirely in
Catalyst-optimizable DataFrame ops (partial+final hash aggregation,
broadcast join of the tiny query-term table, TakeOrderedAndProject for
the top-k). The physical posting-list index + block-max WAND executor
(operators/index_*.py) must return identical results; tests assert it.

Reference semantics reproduced (citations into /root/reference):
- term-frequency aggregate: search_funcs/bm25_functions.py:83-88 (A2)
- doc_len / avgdl:          bm25_functions.py:81,91 (A1/A3)
- unsmoothed Robertson IDF: bm25_functions.py:94 (A4) — may be negative
- alpha IDF cutoff:         bm25_functions.py:92-102 (A5), strict `idf > alpha`
- score accumulation:       bm25_functions.py:166-172 (A7); each query-token
  *occurrence* contributes, so duplicate query tokens double-count
- top-n:                    heapq.nlargest (bm25_functions.py:174) with the
  deterministic tie-break (score DESC, doc_id ASC) replacing the
  reference's unstable insertion-order ties
- output formatting:        search_score_abs = abs(round(score,2))
  (bm25_functions.py:628-631)
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_text_search_spark.config import BM25Config
from data_text_search_spark.functions.text import (
    clean_expr,
    lower_expr,
    sha256_expr,
    tokenize_expr,
    tokenize_py,
)


def assign_doc_id(corpus: DataFrame, id_col: str | None = None) -> DataFrame:
    """Document identity, shared by ingest and the snapshot differ
    (streaming/incremental.reindex_delta): `id_col` if given, else
    xxhash64(repo, path, commit). With the derived form, any content
    change arrives as a new commit and therefore a NEW doc_id — which is
    what makes a snapshot diff expressible as pure id set algebra.

    Key-hash ids are stable and shuffle-free (a dense rank / row index
    would serialize or full-sort); collisions are checked at build time.
    """
    df = corpus
    if id_col is None:
        if not {"repo", "path", "commit"}.issubset(set(df.columns)):
            raise ValueError("need id_col or (repo, path, commit) columns")
        return df.withColumn(
            "doc_id",
            F.xxhash64(F.col("repo"), F.col("path"), F.col("commit")),
        )
    if id_col != "doc_id":
        df = df.withColumnRenamed(id_col, "doc_id")
    return df


def ingest(corpus: DataFrame, text_col: str = "content",
           id_col: str | None = None, clean: bool = False,
           materialize_tokens: bool = True) -> DataFrame:
    """Normalize a corpus table into (doc_id, <original cols>, content_sha256,
    tokens, doc_len).

    - doc_id: taken from `id_col` if given; otherwise derived deterministically
      as a dense rank over (repo, path, commit) — stable across cluster sizes
      and resume runs (the reference uses the positional row index,
      bm25_functions.py:86-89, which has no distributed analog).
    - content_sha256: ingest invariant — content is never mutated; clean and
      tokens are *derived* columns (BASELINE.json input_hint).
    """
    df = assign_doc_id(corpus, id_col)

    prepared = lower_expr(text_col)          # P2: lowercase before everything
    if clean:
        prepared = clean_expr(prepared)      # F1: exact reference regex chain
    df = df.withColumn("content_sha256", sha256_expr(text_col))
    if not materialize_tokens:
        # physical-index build path: the Arrow tokenizer UDF consumes the
        # prepared string directly (tokens never materialize JVM-side)
        return df.withColumn("prepared", prepared)
    return (
        df.withColumn("tokens", tokenize_expr(prepared))
        .withColumn("doc_len", F.size("tokens"))
    )


def idf_expr(n_docs: int) -> Column:
    """THE unsmoothed Robertson idf of a `df` column over `n_docs`
    documents (bm25_functions.py:94; may be negative): the logical
    index, the base build and every segment writer compute it here."""
    return (F.log(F.lit(float(n_docs)) - F.col("df") + 0.5)
            - F.log(F.col("df") + 0.5))


@dataclass
class LogicalIndex:
    """DataFrame-backed logical index (no physical posting layout)."""

    term_doc: DataFrame    # (term, doc_id, tf, doc_len)
    term_stats: DataFrame  # (term, df, idf) — post alpha-cutoff
    n_docs: int
    avgdl: float
    config: BM25Config


def build_logical(prepared: DataFrame, config: BM25Config = BM25Config(),
                  persist: bool = False) -> LogicalIndex:
    """Aggregate tf/df/idf from an ingested corpus.

    Shuffle profile: ONE wide shuffle for the (term, doc_id) hash aggregate
    (Catalyst inserts a map-side partial aggregate first, so the shuffle
    carries pre-combined (term, doc_id, tf) triples, not raw tokens);
    term_stats reuses that output with a second, much smaller shuffle on
    term alone. doc stats are a tiny scalar agg.
    """
    # A1/A3: corpus size + average doc length (empty docs count, len 0)
    row = prepared.select(
        F.count("*").alias("n"), F.avg("doc_len").alias("avgdl")
    ).first()
    n_docs, avgdl = int(row["n"]), float(row["avgdl"] or 0.0)

    # A2: term frequency per (term, doc_id); doc_len rides along (it is
    # functionally dependent on doc_id, so adding it to the grouping key
    # changes nothing physically but avoids a later join against doc_stats)
    term_doc = (
        prepared.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count("*").alias("tf"))
    )

    # A4/A5: document frequency → unsmoothed Robertson IDF → alpha cutoff
    term_stats = (
        term_doc.groupBy("term")
        .agg(F.count("*").alias("df"))
        .withColumn("idf", idf_expr(n_docs))
        .filter(F.col("idf") > F.lit(config.alpha))
    )
    if persist:
        # repeated-query use: cut the tokenize→explode→agg recompute that
        # otherwise re-runs for every search (both join sides)
        term_doc = term_doc.persist()
        term_stats = term_stats.persist()
    return LogicalIndex(term_doc=term_doc, term_stats=term_stats,
                        n_docs=n_docs, avgdl=avgdl, config=config)


def query_terms_df(spark: SparkSession, query: str) -> DataFrame:
    """Tokenize the query driver-side (1 row — bm25_functions.py:529-540) into
    a tiny (term, qcount) table. Duplicate query tokens contribute once per
    occurrence in the reference loop, so qcount multiplies the contribution.
    """
    counts = Counter(tokenize_py(query))
    if not counts:
        return spark.createDataFrame([], "term string, qcount int")
    return spark.createDataFrame(
        [(t, int(c)) for t, c in sorted(counts.items())], "term string, qcount int"
    )


def bm25_contribution(cfg: BM25Config):
    """Per-(term,doc) BM25 contribution column — bm25_functions.py:168-172."""
    denom_cst = cfg.k1 * (1 - cfg.b + cfg.b * F.col("doc_len") / F.col("_avgdl"))
    return (
        F.col("idf") * F.col("tf") * (cfg.k1 + 1) / (F.col("tf") + denom_cst)
    ) * F.col("qcount")


def search(index: LogicalIndex, spark: SparkSession, query: str,
           n: int | None = None) -> DataFrame:
    """Top-n (doc_id, score, score_abs, rank) for one query.

    Plan shape: broadcast the (few-row) query-term table against
    term_stats, broadcast the surviving (term, idf, qcount) rows against
    term_doc (both joins are broadcast-hash — no shuffle of the big side
    beyond the one already implied by the tf aggregate), hash-aggregate
    the per-doc sum, TakeOrderedAndProject for the top-n.
    """
    cfg = index.config
    n = n or cfg.top_n
    qt = query_terms_df(spark, query)
    matched = F.broadcast(
        qt.join(index.term_stats, "term").select("term", "qcount", "idf")
    )
    scored = (
        index.term_doc.join(matched, "term")
        .withColumn("_avgdl", F.lit(index.avgdl))
        .withColumn("contrib", bm25_contribution(cfg))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(n)
        .withColumn("rank", F.row_number().over(w))
        .withColumn("score_abs", F.abs(F.round("score", 2)))
    )

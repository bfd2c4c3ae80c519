"""Routing-partitioned indexes: ES `_routing`, done with exact stats.

At 100 TB most queries carry a natural partition key — tenant,
language, date bucket, repo shard. Elasticsearch's `_routing` maps a
document to ONE shard by its routing value so a routed query touches
one shard instead of all of them; its trade is that scoring then uses
that shard's local statistics, so the same doc scores differently
routed vs unrouted.

This module keeps the pruning and fixes the scoring:

- `build_routed_index` writes the corpus ONCE partitioned by the
  routing column, then builds one member index per routing value from
  its partition-pruned slice (1 + V pruned scans, never V full
  passes). The value → member mapping commits LAST
  through fsio's atomic text protocol, so a crashed build never loads.
- `RoutedSearcher` opens the members under ONE `FederatedSearcher`:
  statistics are always GLOBAL (exact N/avgdl/df across every member —
  federation.py's dfs_query_then_fetch machinery), while a query with
  `routing=` submits kernel jobs ONLY for the named values' members —
  the other members' postings are never read. Rows are therefore
  identical to filter-context search over the combined corpus with
  the routing values' doc set as the allow list (pytest-pinned), with
  the scan cost of the selected slice. Unrouted queries are plain
  federated search (identical to one combined index).

An unknown routing value returns the typed empty result (no member
holds such docs — ES semantics: the routed shard simply has no
matches). Reference scope anchor: the reference app searches one
corpus at a time (search_funcs.py single-table pipeline); routing is
part of the beyond-reference deployment surface, like federation.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_text_search_spark.config import BM25Config
from data_text_search_spark.operators.federation import FederatedSearcher
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import (
    TOPN_SCHEMA,
    IndexSearcher,
    _local_frame,
)
from data_text_search_spark.sources import fsio

ROUTING_MANIFEST = "routing.json"
MAX_ROUTING_VALUES = 1024


def build_routed_index(spark: SparkSession, corpus: DataFrame, root: str,
                       routing_col: str,
                       config: BM25Config = BM25Config(),
                       text_col: str = "content",
                       id_col: str | None = None,
                       shards: int | None = None) -> dict:
    """Build one member index per distinct routing value. The member
    layout is opaque (`m_0000`, ...); the value mapping lives in
    routing.json so arbitrary routing strings never become path
    segments. Members must share semantics, so one config builds all
    of them."""
    vals = [r[0] for r in
            corpus.select(routing_col).distinct().collect()]
    if any(v is None for v in vals):
        raise ValueError(
            f"build_routed_index: NULL {routing_col!r} values — route "
            "them to an explicit bucket first (e.g. 'unknown')")
    vals = sorted(str(v) for v in vals)
    if not vals:
        raise ValueError("build_routed_index: empty corpus")
    if len(vals) > MAX_ROUTING_VALUES:
        raise ValueError(
            f"build_routed_index: {len(vals)} distinct routing values "
            f"(cap {MAX_ROUTING_VALUES}) — a routing key is a coarse "
            "partition (tenant/lang/date bucket), not a unique id")
    staged = f"{root}/_corpus_by_routing"
    # stage by an OPAQUE integer member key, never the routing string:
    # default partition-column type inference reads numeric-like
    # distinct strings ('1' vs '01' vs '1.0') back as the SAME value —
    # members would silently receive each other's documents — and an
    # empty-string value becomes __HIVE_DEFAULT_PARTITION__/NULL and
    # vanishes from every member. The int key is inference-proof, needs
    # no path escaping, and keeps arbitrary routing strings (including
    # '') addressable through routing.json.
    rk = F.create_map(
        *[x for i, v in enumerate(vals)
          for x in (F.lit(v), F.lit(i))])[F.col(routing_col).cast("string")]
    obs = Observation()
    (corpus.withColumn("_rk", rk.cast("int"))
     .observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").partitionBy("_rk").parquet(staged))
    n_corpus = int(obs.get["n"] or 0)
    by_rt = spark.read.parquet(staged)
    members = {}
    # member builds are independent (own roots, disjoint slices of the
    # staged corpus): run them on a small driver thread pool so each
    # build's job tail back-fills cores the others leave idle
    # (spark_optimization_guide §2.6); 2-3 in flight is enough
    from concurrent.futures import ThreadPoolExecutor

    from data_text_search_spark.operators.index_build import load_manifest

    def _build_member(i: int) -> int:
        member = f"m_{i:04d}"
        build_index(spark, by_rt.filter(F.col("_rk") == i),
                    f"{root}/{member}", config, text_col=text_col,
                    id_col=id_col, shards=shards)
        return int(load_manifest(f"{root}/{member}")["n_docs"])

    workers = min(3, max(len(vals), 1))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        n_members = sum(pool.map(_build_member, range(len(vals))))
    # doc conservation: every corpus row landed in exactly one member —
    # a routing readback bug can never commit a lossy/duplicated build
    if n_members != n_corpus:
        raise ValueError(
            f"build_routed_index: members hold {n_members} docs but the "
            f"corpus has {n_corpus} — routing readback lost or "
            "duplicated documents; not committing")
    for i, v in enumerate(vals):
        members[v] = f"m_{i:04d}"
    manifest = {"routing_col": routing_col, "members": members}
    # the mapping is the commit point: written LAST, atomically — a
    # crash mid-build leaves no routing.json and the root never loads
    fsio.write_text_atomic(f"{root}/{ROUTING_MANIFEST}",
                           json.dumps(manifest, indent=1), spark)
    return manifest


def load_routing_manifest(root: str,
                          spark: SparkSession | None = None) -> dict | None:
    p = f"{root}/{ROUTING_MANIFEST}"
    if not fsio.exists(p, spark):
        return None
    return json.loads(fsio.read_text(p, spark))


class RoutedSearcher:
    """Query surface over a routed index root: global-statistics BM25
    with optional routing-value execution pruning."""

    def __init__(self, spark: SparkSession, root: str):
        m = load_routing_manifest(root, spark)
        if not m:
            raise ValueError(f"no {ROUTING_MANIFEST} at {root} — not a "
                             "routed index root (or a crashed build)")
        self.spark = spark
        self.root = root
        self.routing_col = m["routing_col"]
        self.member_root = {v: f"{root}/{d}"
                            for v, d in sorted(m["members"].items())}
        self.fed = FederatedSearcher(spark,
                                     list(self.member_root.values()))

    def warm(self) -> None:
        self.fed.warm()

    def _roots_for(self, routing) -> "list[str] | None":
        if routing is None:
            return None
        vals = [routing] if isinstance(routing, str) else list(routing)
        return [self.member_root[v] for v in vals if v in self.member_root]

    def search(self, query: str, n: int = 10,
               routing: "str | list[str] | None" = None) -> DataFrame:
        """BM25 top-n. With `routing`, only the named values' members
        execute (their postings alone are read); stats stay global, so
        rows equal filter-context search over the combined corpus with
        `routing_col IN routing` as the allow set. Unknown values
        contribute nothing; all-unknown returns the typed empty."""
        roots = self._roots_for(routing)
        if roots is not None and not roots:
            return _local_frame(self.spark, None, TOPN_SCHEMA)
        return self.fed.search(query, n, members=roots)

    def search_batch(self, queries: list[str], n: int = 10,
                     routing: "str | list[str] | None" = None) -> DataFrame:
        """Batch form — one restricted kernel job per selected member."""
        roots = self._roots_for(routing)
        if roots is not None and not roots:
            return _local_frame(self.spark, None,
                                IndexSearcher.OUT_SCHEMA_BATCH)
        return self.fed.search_batch(queries, n, members=roots)

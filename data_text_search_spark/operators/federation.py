"""Federated search: one query surface over MANY persisted indexes.

At 100 TB an index is never one monolith: corpora arrive as
generations (daily crawls, per-tenant slices, per-language shards),
each built as its own index root on its own schedule. Searching them
together naively — per-index top-k with per-index statistics, then a
score merge — is Elasticsearch's default cross-index behavior and is
WRONG whenever the members' df/avgdl differ: the same document scores
differently depending on which member it landed in.

`FederatedSearcher` gives the exact answer instead (Lucene's
`dfs_query_then_fetch`, done properly):

1. **Global statistics, computed once per handle + once per query
   vocabulary.** N and avgdl come from one column-pruned aggregate
   over every member's doc_stats parquet (exact integer Σ doc_len —
   never the float avgdl·N product, which would drift from the
   combined build's total/ N division); per-term global df is the sum
   of member dfs from their term dictionaries (vocabulary-directed
   lookups, never a corpus scan). Global idf re-derives the build's
   exact expression ln(N − df + 0.5) − ln(df + 0.5)
   (index_build.py term_stats stage) at the federated N/df.

2. **Member execution with the global stats.** Every posting stores
   its raw (tf, doc_len), so each member's kernel recomputes impacts
   with the BUILD expression's operand order (index_query._bm25_impacts)
   under the federated idf/avgdl — bit-identical math to a single
   combined index, just with different idf operands.

3. **Block-max pruning survives the stat swap.** Stored block bounds
   are extrema of `idf_l · g_l` where g_a(tf, dl) = tf(k1+1)/(tf +
   k1(1−b+b·dl/avgdl_a)). The federated impact is idf_g · g_g =
   ρ · (idf_g · g_l) with ρ = g_g/g_l = (tf + k1(1−b) + k1·b·dl/
   avgdl_l)/(tf + k1(1−b) + k1·b·dl/avgdl_g), which is monotone in
   k1·b·dl between 1 (dl→0) and avgdl_g/avgdl_l (dl→∞), hence ρ ∈
   [min(1, R), max(1, R)] with R = avgdl_g/avgdl_l. So the rescale is:
   multiply both stored bounds by r = idf_g/idf_l and take
   max/min of the pair (valid for either sign of r), then widen the
   signed interval by the ρ range (up·hi if hi ≥ 0 else dn·hi, and
   symmetrically for the low end). Members whose local idf is ~0
   (bounds carry no information) fall back to the universal envelope
   0 < g < k1+1 → [min(idf_g·(k1+1), 0), max(idf_g·(k1+1), 0)].
   Bounds only gate PRUNING — scores are always recomputed exactly —
   so a loose bound costs speed, never correctness (property-tested
   federated == combined).

4. **Doc-sharded postings make the merge trivial.** A document's
   postings live wholly inside one member's shard, so its full score
   is computed where it lives; per-member top-n under the global
   impact function is a sound partial result and the driver merge is
   the same scatter-gather used inside one index.

Exactness contract: `federated == one combined index over the union
corpus` holds when members are fully merged (no unmerged delta
segments — a segmented member's own df for pre-existing terms is
frozen at its base build, the same drift its own queries accept) and
share k1/b/alpha/clean/stopwords/tokenizer. Tombstoned docs never
appear in results but still count in N/df/avgdl until their member
merges — exactly Lucene collection statistics. A term alpha-pruned
INSIDE a member (its postings were never encoded) that is live under
the GLOBAL statistics cannot be scored exactly; this is detected
per-query and raised with the member root named (the fix is
rebuilding that member with the shared alpha — with equal alphas it
requires pathological df skew across members).

Requires disjoint doc_id spaces across members (generations /
partitions of one corpus — the intended deployment).
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_text_search_spark.functions.text import tokenize_py
from data_text_search_spark.operators.index_build import (
    DOC_STATS_SCHEMA,
    committed_doc_stats_paths,
)
from data_text_search_spark.operators.index_query import (
    TOPN_SCHEMA,
    IndexSearcher,
    _local_frame,
    _merge_topn_driver,
    _shard_topk_kernel_factory,
)

# member-config keys that must agree for federated scoring to be exact
# (block_size / shards are pure layout and may differ)
_SEMANTIC_KEYS = ("k1", "b", "alpha", "clean", "stopwords")


def _rescale_bounds_kernel(inner, rmap: dict[str, float],
                           fb: dict[str, tuple[float, float]],
                           dl_ratio: float):
    """Wrap a WAND kernel: rewrite block_max/block_min from member-stat
    impact bounds to valid FEDERATED-stat bounds (docstring step 3).
    `rmap[t]` = idf_g/idf_l (NaN → use the universal fallback `fb[t]`);
    `dl_ratio` = avgdl_g/avgdl_l. Scores are recomputed exactly by the
    inner kernel; this only keeps its pruning certificates sound."""
    # ρ = g_fed/g_local ranges over [min(1, R), max(1, R)] with
    # R = avgdl_g/avgdl_l (monotone in dl between those endpoints —
    # module docstring step 3 carries the proof)
    up = max(1.0, dl_ratio)
    dn = min(1.0, dl_ratio)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return inner(pdf)
        terms = pdf["term"]
        rr = terms.map(rmap).to_numpy(dtype=np.float64)
        a = pdf["block_max"].to_numpy(dtype=np.float64) * rr
        c = pdf["block_min"].to_numpy(dtype=np.float64) * rr
        hi, lo = np.maximum(a, c), np.minimum(a, c)
        # [lo, hi] now bounds v = idf_g·g_local per block. The true
        # federated impact is ρ·v with ρ = g_fed/g_local ∈ [dn, up]
        # (ρ is monotone between 1 and avgdl_g/avgdl_l — see module
        # docstring). max over v∈[lo,hi], ρ∈[dn,up] of ρ·v is up·hi when
        # hi ≥ 0 else dn·hi (both ρ ends positive); symmetrically for
        # the minimum.
        hi = np.where(hi >= 0, hi * up, hi * dn)
        lo = np.where(lo >= 0, lo * dn, lo * up)
        fbm = np.isnan(rr)
        if fbm.any():
            fhi = terms.map({t: v[0] for t, v in fb.items()}).to_numpy(
                dtype=np.float64)
            flo = terms.map({t: v[1] for t, v in fb.items()}).to_numpy(
                dtype=np.float64)
            hi[fbm], lo[fbm] = fhi[fbm], flo[fbm]
        out = pdf.assign(block_max=hi, block_min=lo)
        return inner(out)

    return kernel


class FederatedSearcher:
    """Exact global-statistics BM25 over a list of index roots."""

    def __init__(self, spark: SparkSession, roots: list[str]):
        if not roots:
            raise ValueError("federation needs at least one index root")
        self.spark = spark
        self.roots = list(roots)
        self.members = [IndexSearcher(spark, r) for r in roots]
        cfg0 = dict(self.members[0].manifest["config"])
        for m, r in zip(self.members, self.roots):
            c = m.manifest["config"]
            diff = [k for k in _SEMANTIC_KEYS if c.get(k) != cfg0.get(k)]
            if diff:
                raise ValueError(
                    f"member {r} disagrees with {self.roots[0]} on "
                    f"{diff}: federated statistics would be undefined")
        self.k1 = float(cfg0["k1"])
        self.b = float(cfg0["b"])
        self.alpha = float(cfg0["alpha"])
        self.stopwords = frozenset(cfg0.get("stopwords") or ())
        # exact global N and Σ doc_len in ONE column-pruned job over all
        # members' committed doc_stats (integer-exact; the float
        # avgdl_i·N_i product would drift from the combined build's
        # total/N division and break bit-parity with a merged index)
        paths = [p for m in self.members
                 for p in committed_doc_stats_paths(m.paths.root,
                                                    m.manifest)]
        row = (spark.read.schema(DOC_STATS_SCHEMA).parquet(*paths)
               .agg(F.count("*").alias("n"),
                    F.sum("doc_len").alias("sdl")).collect()[0])
        self.n_docs = int(row["n"])
        total_len = int(row["sdl"] or 0)
        self.avgdl = total_len / self.n_docs if self.n_docs else 0.0

    def warm(self) -> None:
        for m in self.members:
            m.warm()

    # ---- global statistics ------------------------------------------

    def _resolve_members(self, members) -> "set[str] | None":
        """Normalize a member-restriction list (root strings) to a set;
        None = scan every member. Unknown roots raise — a typo would
        silently return an empty slice otherwise."""
        if members is None:
            return None
        sel = set(members)
        unknown = sel - set(self.roots)
        if unknown:
            raise ValueError(
                f"unknown federation member(s) {sorted(unknown)}; "
                f"members are {self.roots}")
        return sel

    def _global_stats(self, terms,
                      scan_roots=None) -> tuple[dict[str, float], list[dict]]:
        """(global idf for LIVE terms, per-member term_meta). Live =
        global idf above the alpha cutoff and not a stopword — the same
        flag-not-delete rule the combined build would apply. Raises if a
        live term was alpha-pruned inside a SCANNED member (its postings
        were never encoded there: exact federated scoring is impossible
        until that member is rebuilt). Statistics always aggregate over
        EVERY member — a `scan_roots` restriction (routed search) prunes
        execution, never the stats."""
        metas = [m.term_meta(terms) for m in self.members]
        qidf: dict[str, float] = {}
        for t in terms:
            df_g = sum(meta[t][0] for meta in metas if t in meta)
            if df_g <= 0 or t in self.stopwords:
                continue
            idf_g = (math.log(self.n_docs - df_g + 0.5)
                     - math.log(df_g + 0.5))
            if not idf_g > self.alpha:
                continue  # globally pruned — excluded exactly like the build
            missing = [r for meta, r in zip(metas, self.roots)
                       if t in meta and meta[t][2]
                       and (scan_roots is None or r in scan_roots)]
            if missing:
                raise ValueError(
                    f"term {t!r} is live under federated statistics "
                    f"(idf {idf_g:.4f} > alpha {self.alpha}) but was "
                    f"alpha-pruned inside member(s) {missing}: their "
                    f"postings were never encoded, so exact federated "
                    f"scoring is impossible — rebuild those members "
                    f"(same alpha) or drop the term")
            qidf[t] = idf_g
        return qidf, metas

    # ---- single query ------------------------------------------------

    def search(self, query: str, n: int = 10,
               members: "list[str] | None" = None) -> DataFrame:
        """BM25 top-n over all members under exact global statistics —
        row-identical to one combined index over the union corpus
        (pytest-pinned). Per member: the block-max pruned kernel with
        rescaled bounds, on the driver within the member's
        `_driver_answers` gate, else one Spark job; then the same driver
        scatter-gather merge a single index uses across its shards.

        `members` restricts EXECUTION to the named roots (routed
        search — no job is ever submitted for the others, so their
        postings are never read) while the statistics stay global:
        rows are identical to filter-context search over the combined
        corpus with the members' doc set as the allow list
        (pytest-pinned via operators.routing)."""
        sel = self._resolve_members(members)
        counts = Counter(tokenize_py(query))
        spark = self.spark
        if not counts:
            return _local_frame(spark, None, TOPN_SCHEMA)
        qidf, metas = self._global_stats(sorted(counts), scan_roots=sel)
        if not qidf:
            return _local_frame(spark, None, TOPN_SCHEMA)
        k1p1 = self.k1 + 1.0

        def _member_top(args) -> "pd.DataFrame | None":
            m, meta, root = args
            if sel is not None and root not in sel:
                return None
            qcounts = {t: counts[t] for t in qidf if t in meta}
            if not qcounts:
                return None
            rmap, fb = {}, {}
            for t in qcounts:
                idf_l = meta[t][1]
                r = qidf[t] / idf_l if idf_l else float("nan")
                rmap[t] = r if math.isfinite(r) else float("nan")
                e = qidf[t] * k1p1
                fb[t] = (max(e, 0.0), min(e, 0.0))
            inner = _shard_topk_kernel_factory(
                qcounts, n, qidf, self.avgdl, self.k1, self.b,
                tomb=m._tomb_handle)
            kernel = _rescale_bounds_kernel(
                inner, rmap, fb, self.avgdl / m.avgdl if m.avgdl else 1.0)
            top = m._topn_rows(qcounts, kernel, n)
            if isinstance(top, DataFrame):   # distributed merge
                top = top.toPandas()
            return top[["doc_id", "score"]]

        # members are independent indexes: their kernel jobs run on
        # concurrent driver threads so one member's stage tail
        # back-fills cores the others leave idle (guide §2.6); the
        # scatter-gather merge re-sorts, so completion order never
        # affects the result (parts keep member order regardless)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=min(4, max(len(self.members), 1))) as pool:
            parts = [p for p in pool.map(
                _member_top, zip(self.members, metas, self.roots))
                if p is not None]
        if not parts:
            return _local_frame(spark, None, TOPN_SCHEMA)
        return _local_frame(spark, _merge_topn_driver(
            pd.concat(parts, ignore_index=True), n), TOPN_SCHEMA)

    # ---- batch -------------------------------------------------------

    def search_batch(self, queries: list[str], n: int = 10,
                     members: "list[str] | None" = None) -> DataFrame:
        """Top-n per query across all members, one Spark job per member
        (the batch kernel recomputes impacts from raw tf/doc_len and
        never reads block bounds, so the stat override needs no bound
        algebra). Returns search_batch's exact schema (query_id = the
        position in `queries`). `members` restricts execution exactly
        like search()'s — stats stay global."""
        sel = self._resolve_members(members)
        spark = self.spark
        all_terms = sorted({t for q in set(queries)
                            for t in tokenize_py(q)})
        if not all_terms:
            return _local_frame(spark, None, IndexSearcher.OUT_SCHEMA_BATCH)
        qidf, _ = self._global_stats(all_terms, scan_roots=sel)
        def _member_batch(args) -> "pd.DataFrame | None":
            m, root = args
            if sel is not None and root not in sel:
                return None
            res = m._search_batch_impl(queries, n, idf_override=qidf,
                                       avgdl_override=self.avgdl)
            if isinstance(res, DataFrame):
                res = res.toPandas()
            return res[["query_id", "doc_id", "score"]] if len(res) else None

        # one kernel job per member, overlapped on driver threads (same
        # rationale as search() above)
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(
                max_workers=min(4, max(len(self.members), 1))) as pool:
            parts = [p for p in pool.map(
                _member_batch, zip(self.members, self.roots))
                if p is not None]
        if not parts:
            return _local_frame(spark, None, IndexSearcher.OUT_SCHEMA_BATCH)
        merged = _merge_topn_driver(pd.concat(parts, ignore_index=True), n)
        return _local_frame(spark, merged, IndexSearcher.OUT_SCHEMA_BATCH)

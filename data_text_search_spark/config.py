"""Engine configuration.

Defaults mirror the reference exactly:
- k1=1.5, b=0.75: /root/reference/search_funcs/bm25_functions.py:20-21
- alpha (IDF cutoff): module default -inf (bm25_functions.py:22),
  the app passes -5 (app.py:171); we default to -inf so that plain
  builds match the unpruned reference index.
- clean off by default: app.py:159 (Radio "No").
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Config:
    k1: float = 1.5
    b: float = 0.75
    alpha: float = -math.inf  # IDF cutoff; terms with idf <= alpha are pruned
    clean: bool = False       # reference Clean="No" default (app.py:159)
    top_n: int = 10           # north-rule top-10 (reference UI default slider 100000)

    # physical-index knobs (engine-only; no reference analog — the
    # reference keeps the whole index as one in-RAM dict)
    # postings per compressed block. Every posting stores its tf and
    # doc_len varints; the query kernel recomputes the EXACT f64 impact
    # from (idf, tf, doc_len) with the build expression's operand order
    # (bit-identical scores, pytest-pinned)
    block_size: int = 128
    # ES stop-token-filter analog, SCORING-TIME semantics: stopwords are
    # flagged `pruned` in term_stats (exactly the A5 alpha-cutoff
    # mechanism — flag, never delete), so they cannot score and their
    # postings are never encoded, while doc_len/avgdl still count them
    # (tokenization is untouched; Lucene's analysis-time StopFilter
    # would also shrink norms — documented divergence). Sorted into the
    # manifest; resume pins it like every other semantic knob.
    stopwords: tuple = ()
    salt_docs_per_split: int = 1 << 20  # doc-range width per salt bucket (hot-term split)


@dataclass(frozen=True)
class IndexPaths:
    """Layout of a persisted index under one root directory."""

    root: str

    @property
    def postings(self) -> str:
        return f"{self.root}/postings"

    @property
    def term_stats(self) -> str:
        return f"{self.root}/term_stats"

    @property
    def doc_stats(self) -> str:
        return f"{self.root}/doc_stats"

    @property
    def docmap(self) -> str:
        return f"{self.root}/docmap"

    # --- incremental segments: each delta owns its directories, so an
    # uncommitted (crashed) append can be wiped and replayed idempotently;
    # the atomic manifest write is the sole commit point -----------------
    @property
    def tokenized(self) -> str:
        return f"{self.root}/tokenized"

    def postings_seg(self, seg_id: int) -> str:
        return f"{self.postings}/group=seg{seg_id}"

    def tokenized_seg(self, seg_id: int) -> str:
        return f"{self.root}/tokenized_segs/seg{seg_id}"

    def doc_stats_seg(self, seg_id: int) -> str:
        return f"{self.root}/doc_stats_segs/seg{seg_id}"

    def term_stats_seg(self, seg_id: int) -> str:
        return f"{self.root}/term_stats_segs/seg{seg_id}"

    # --- tombstones: each delete_documents call owns one directory of
    # deleted doc_ids (Lucene's live-docs model restated for an
    # object-store index); ids are monotonic and the manifest lists the
    # committed ones, so a crashed delete leaves an invisible orphan the
    # next delete simply overwrites — no pending marker needed ----------
    def tombstones_del(self, del_id: int) -> str:
        return f"{self.root}/tombstones/del{del_id}"

    @property
    def manifest(self) -> str:
        return f"{self.root}/manifest.json"

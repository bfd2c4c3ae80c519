"""The term dictionary of an open index: one driver map, one budget gate.

Every term lookup an `IndexSearcher` makes goes through here — the
distributed analog of the reference's single in-memory idf dict
(bm25_functions.py:25). When the whole dictionary (alpha-pruned rows
included) fits the searcher's DRIVER_TERM_CACHE_MAX, counted from the
term_stats files' footers, it is read once with pyarrow into ONE driver
map, term -> (idf, df, cf, pruned), and every lookup runs no Spark job.
Over the budget the dictionary stays distributed: each lookup is one
vocabulary-directed filtered collect of the cached term_stats frame.

An alpha-pruned (or stopword) term is in the map with its flag set: it
counts for federated df, prefix expansion and clause gating, but
`lookup(live=True)` leaves it out, so it never scores.
"""

from __future__ import annotations

import bisect
import heapq
from collections.abc import Callable, Iterable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_text_search_spark.operators.index_build import TERM_STATS_SCHEMA

# a dictionary entry: (idf, df, cf, pruned)
Entry = tuple[float, int, int, bool]
_COLS = ["term", "idf", "df", "cf", "pruned"]


class TermDictionary:
    """The term_stats files committed when the searcher opened, as a
    driver map when they fit `budget()` rows and as Spark frames
    always: `all` (pruned terms included: dictionary scans such as
    fuzzy_search and suggest) and `live` (IndexSearcher.term_stats)."""

    def __init__(self, spark: SparkSession, fs, paths: list[str],
                 budget: Callable[[], int], cache: bool = True):
        from data_text_search_spark.operators.index_query import _list_parquet

        # the pinned schema means opening runs no Spark job
        self.all = spark.read.schema(TERM_STATS_SCHEMA).parquet(*paths)
        if cache:
            # over-budget lookups and dictionary scans consult it per
            # call — keep it hot; `live` filters the cached rows
            self.all = self.all.cache()
        self.live = self.all.filter(~F.col("pruned"))
        # the same files for the driver reads, listed NOW like the units
        self._fs = fs
        self._files = [f for p in paths for f in _list_parquet(fs, p)]
        self._budget = budget
        self._rows: int | None = None           # footer row count, lazy
        self.map: dict[str, Entry] | None = None
        self._sorted: list[str] | None = None   # map keys, code-point order

    def _read(self, path: str, read):
        """`read(file)` on one listed term_stats file; a file gone since
        open raises the vanished error (call refresh())."""
        from data_text_search_spark.operators.index_query import _unit_vanished
        try:
            with self._fs.open_input_file(path) as f:
                return read(f)
        except FileNotFoundError as e:
            raise _unit_vanished(path) from e

    def fits(self) -> bool:
        """THE budget gate: whether the whole dictionary fits the budget,
        counted from the files' footers (read once, no Spark job)."""
        import pyarrow.parquet as pq
        if self._rows is None:
            self._rows = sum(self._read(p, lambda f: pq.read_metadata(f)
                                        .num_rows) for p in self._files)
        return self._rows <= self._budget()

    def load(self) -> bool:
        """Read the whole dictionary into the driver map when it fits:
        one pyarrow read of the files listed at open, no Spark job.
        Returns whether the map is there."""
        import pyarrow.parquet as pq
        if self.map is None and self.fits():
            m: dict[str, Entry] = {}
            for path in self._files:
                tbl = self._read(path, lambda f: pq.ParquetFile(f).read(
                    columns=_COLS, use_threads=False))
                t, *vals = (tbl[c].to_pylist() for c in _COLS)
                m.update(zip(t, zip(*vals)))
            self.map = m
        return self.map is not None

    def lookup(self, terms: Iterable[str],
               live: bool = True) -> dict[str, Entry]:
        """The entries of the given terms that the dictionary holds —
        only the unpruned ones when `live`. From the driver map when the
        dictionary fits, else one filtered collect."""
        terms = list(terms)
        if not terms:
            return {}
        if self.load():
            m = self.map
            return {t: e for t in terms
                    if (e := m.get(t)) is not None and not (live and e[3])}
        rows = ((self.live if live else self.all)
                .filter(F.col("term").isin(terms)).select(*_COLS).collect())
        return {r["term"]: (float(r["idf"]), int(r["df"]), int(r["cf"]),
                            bool(r["pruned"])) for r in rows}

    def prefix(self, p: str, cap: int) -> dict[str, bool]:
        """Terms starting with `p` (alpha-pruned included) -> pruned
        flag, in term order: at most cap + 1 of them, so a caller refuses
        more than `cap` exactly as a limit(cap + 1) collect would. From
        the driver map when the dictionary fits — code-point-sorted
        terms make a prefix range contiguous, so it is a bisect and a
        bounded walk — else one filtered collect."""
        if self.load():
            if self._sorted is None:
                self._sorted = sorted(self.map)
            st, out = self._sorted, {}
            i = bisect.bisect_left(st, p)
            while i < len(st) and len(out) <= cap and st[i].startswith(p):
                out[st[i]] = self.map[st[i]][3]
                i += 1
            return out
        rows = (self.all.select("term", "pruned")
                .filter(F.col("term").startswith(p)).limit(cap + 1).collect())
        return {r["term"]: bool(r["pruned"])
                for r in sorted(rows, key=lambda r: r["term"])}

    def top_by_df(self, p: str, n: int) -> list[tuple[str, int]] | None:
        """The `n` live terms starting with `p` of highest df (then term
        order), as (term, df), ranked on the driver over the map's
        prefix range; None when the dictionary is over budget."""
        if not self.load():
            return None
        if self._sorted is None:
            self._sorted = sorted(self.map)
        st, m = self._sorted, self.map
        i = j = bisect.bisect_left(st, p)
        while j < len(st) and st[j].startswith(p):
            j += 1
        return [(t, m[t][1]) for t in heapq.nsmallest(
            max(n, 0), (t for t in st[i:j] if not m[t][3]),
            key=lambda t: (-m[t][1], t))]

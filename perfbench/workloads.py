"""Workloads: closed loops with one client thread on Spark local[nproc];
each call is issued when the previous one returns.

A workload is a tuple of phases. Every phase generates its inputs from
the seed and sets up its engine state with an untimed warm-up (`setup`),
then runs identical whole rounds (`round`), so every round attempts the
same calls and launches the same Spark jobs. Every call into the engine
in a round is timed by `Run.op`, which also counts it as attempted and,
when it raises, as failed (the rest of that phase's round is then
skipped). Answers are checked against the oracle as each round ends,
or, where that takes seconds, by `check` after the timed rounds.

Only public entry points with default configuration are called, so later
changes behind them run under the same benchmark unchanged.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from collections import defaultdict

import numpy as np
import pandas as pd

import inputs
import oracle


class Run:
    """State shared by the phases of one run."""

    def __init__(self, seed: int, scratch: str, spark, tracer):
        self.seed, self.scratch, self.spark, self.tr = seed, scratch, spark, tracer
        self.calls: list[tuple[str, float]] = []  # (kind, wall) per call
        self.attempted = 0
        self.failures: list[str] = []
        self.checks_failed: list[str] = []

    def rng(self, stream: int) -> np.random.Generator:
        """Independent seeded generator per input stream."""
        return np.random.default_rng([self.seed, stream])

    @contextlib.contextmanager
    def op(self, name: str, kind: str = ""):
        """One measured call into a layer: counted, timed, and traced when
        on. Its latency is filed under `name` plus the optional `kind`
        (e.g. a first-touch versus a repeated lookup). A call that raises
        is recorded as failed and the exception goes on to the round."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with self.tr.span(name):
                yield
        except Exception as e:
            self.failures.append(f"{name}: {type(e).__name__}: {e}")
            raise
        self.calls.append((f"{name}/{kind}" if kind else name,
                           time.perf_counter() - t))

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.checks_failed.append(what)


def _rows(pdf) -> list[tuple[int, float]]:
    return list(zip(pdf["doc_id"].astype("int64").tolist(),
                    pdf["score"].astype("float64").tolist()))


def _collect_rows(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


class Phase:
    def __init__(self, run: Run):
        self.run = run

    def check(self) -> None:
        """Checks of the answers kept by the rounds (none by default)."""


class Query(Phase):
    """Interactive lookups and batch retrieval on one warmed index.

    lookup: a seeded Zipfian stream of N_LOCAL `search_local` calls, of
    which exactly N_FRESH (inputs.DISTINCT_SHARE) first touch a
    vocabulary-tail term (posting fetch, one Spark job) and the rest
    repeat fetched terms (answered by the driver LRU, no job); after
    every SEARCH_EVERY-th lookup the distributed `search(...).collect()`
    runs too. bulk: BATCHES batches of BATCH queries, the same share of
    them distinct, through `search_batch_pandas` (the LRU is bypassed).
    Each round opens a new IndexSearcher, so the LRU starts empty and
    every round is the same. The warm-up is one round of the same shape
    that draws only every fourth vocabulary rank, which the timed stream
    never draws.
    """
    N_DOCS = 4000
    # sized so that three rounds fit in a 15 s run: the first timed
    # round runs about 8 % slower than the later ones, and the median
    # over three rounds is a later one
    N_LOCAL, SEARCH_EVERY = 20, 10
    N_FRESH = round(inputs.DISTINCT_SHARE * N_LOCAL)
    BATCHES, BATCH = 1, 2000

    def __init__(self, run: Run):
        super().__init__(run)
        self.verdicts: dict = {}
        self.answers: list = []

    def setup(self) -> None:
        from data_text_search_spark.operators.index_build import build_index
        from data_text_search_spark.operators.index_query import IndexSearcher
        run = self.run
        rng = run.rng(1)
        vocab = inputs.Vocabulary(rng)
        ids = inputs.distinct_ids(rng, self.N_DOCS)
        self.pdf = inputs.corpus(rng, ids, inputs.texts(rng, vocab, self.N_DOCS))
        df = inputs.doc_freq(vocab, self.pdf["content"])
        warm_slice = np.arange(len(vocab.words)) % 4 == 3
        qrng = run.rng(2)
        self.stream = inputs.lookup_stream(qrng, vocab, ~warm_slice, df,
                                           self.N_LOCAL, self.N_FRESH,
                                           self.SEARCH_EVERY)
        # the stream's distributed queries and a sample of its lookups
        # ride in the first batch too, so the three paths can be compared
        shared = [q for q, k in zip(self.stream.queries, self.stream.kinds)
                  if k == "search"] + self.stream.queries[::4]
        self.batches = [inputs.repeat_batch(qrng, vocab, ~warm_slice,
                                            self.BATCH, shared if b == 0 else ())
                        for b in range(self.BATCHES)]
        wrng = run.rng(3)
        # a warm-up round of the same shape, so every kind of call has
        # run before the timed rounds
        warm = inputs.lookup_stream(wrng, vocab, warm_slice, df, self.N_LOCAL,
                                    self.N_FRESH, self.SEARCH_EVERY)
        warm_batches = [inputs.repeat_batch(wrng, vocab, warm_slice, self.BATCH)
                        for _ in range(self.BATCHES)]

        self.root = os.path.join(run.scratch, "query_index")
        with run.tr.span("index_build.build_index"):
            build_index(run.spark, run.spark.createDataFrame(self.pdf),
                        self.root, id_col="doc_id")
        # the set-up searcher is not traced as index_query.open/warm: its
        # warm() runs one job more than a round's, and per-call counts
        # must not depend on how many rounds a run fits
        with run.tr.span("warmup"):
            s = IndexSearcher(run.spark, self.root)
            s.warm()
            for q, kind in zip(warm.queries, warm.kinds):
                if kind == "search":
                    s.search(q).collect()
                else:
                    s.search_local(q)
            for batch in warm_batches:
                s.search_batch_pandas(batch)
        self.oracle = oracle.BM25Oracle(self.pdf["doc_id"], self.pdf["content"])

    def _open(self):
        from data_text_search_spark.operators.index_query import IndexSearcher
        with self.run.tr.span("index_query.open"):
            s = IndexSearcher(self.run.spark, self.root)
        with self.run.tr.span("index_query.warm"):
            s.warm()
        return s

    def round(self) -> None:
        op = self.run.op
        s = self._open()
        got, outs = [], []    # (path, query, top-10) per call; batch frames
        # kept before the calls, so a failed call leaves the answers of
        # the earlier ones to be checked
        self.answers.append((got, outs))
        with self.run.tr.span("lookup"):
            for q, kind in zip(self.stream.queries, self.stream.kinds):
                if kind == "search":
                    with op("index_query.search"):
                        got.append(("search", q, _collect_rows(s.search(q))))
                else:
                    with op("index_query.search_local", kind):
                        got.append(("local", q, _rows(s.search_local(q))))
        with self.run.tr.span("bulk"):
            for batch in self.batches:
                with op("index_query.search_batch_pandas"):
                    outs.append(s.search_batch_pandas(batch))

    def _matches(self, q: str, rows) -> bool:
        key = (q, tuple(rows))
        if key not in self.verdicts:
            self.verdicts[key] = self.oracle.matches(rows, q)
        return self.verdicts[key]

    def check(self) -> None:
        """Every round's answers against the oracle, after the timed
        rounds (the oracle's first verdicts take seconds)."""
        for got, outs in self.answers:
            self._check(got, outs)

    def _check(self, got: list, outs: list) -> None:
        check = self.run.check
        by_query = defaultdict(list)
        for path, q, rows in got:
            check(self._matches(q, rows), f"{path} top-10 of {q!r}")
            by_query[q].append((path, rows))
        for batch, out in zip(self.batches, outs):
            by_qid = dict(iter(out.sort_values(["query_id", "rank"])
                               .groupby("query_id")))
            for qid, q in enumerate(batch):
                rows = _rows(by_qid[qid]) if qid in by_qid else []
                check(self._matches(q, rows), f"batch top-10 of {q!r}")
                for path, other in by_query.get(q, ()):
                    check(oracle.same_topn(other, rows),
                          f"{path} and batch disagree on {q!r}")


class Churn(Phase):
    """Index lifecycle: writes beside reads, and cold reads of a
    segmented, tombstoned index.

    Each round builds a fresh base index of N_DOCS, then CYCLES times:
    `add_documents` of a BATCH-doc micro-batch in which every doc carries
    the batch's marker token; a newly opened IndexSearcher `search`es
    this marker and the previous one (the answer must be exactly the new
    batch plus the previous batch's live docs); then `delete_documents`
    of seeded ids from the base and the new batch. `merge_tier` runs
    every TIER_EVERY cycles and `merge_segments` once at the end; after
    each merge a new searcher's marker search must return exactly the
    live docs, and after merge_segments the top-10 of seeded queries must
    equal the oracle over the live documents. Every searcher opened
    after a delete also searches the rarest word of each base doc
    deleted so far, and must return exactly the live docs that hold one
    of those words: base postings stay in place until merge_segments,
    so this checks that their tombstones mask them at query time.
    """
    N_DOCS, BATCH, CYCLES, TIER_EVERY = 3000, 60, 2, 2
    DEL_BASE, DEL_BATCH = 5, 15
    WARM_DOCS = 300

    def setup(self) -> None:
        rng = self.run.rng(1)
        vocab = inputs.Vocabulary(rng)
        n, b = self.N_DOCS, self.BATCH
        ids = inputs.distinct_ids(rng, n + self.CYCLES * b)
        self.base = inputs.corpus(rng, ids[:n], inputs.texts(rng, vocab, n))
        self.batches, self.markers, self.deletes = [], [], []
        for c in range(self.CYCLES):
            mk = f"mk{c}_{self.run.seed:x}"
            bids = ids[n + c * b:n + (c + 1) * b]
            txt = [f"{t} {mk}" if i % 2 else f"{mk} {t}"
                   for i, t in enumerate(inputs.texts(rng, vocab, b))]
            self.markers.append(mk)
            self.batches.append(inputs.corpus(rng, bids, txt))
            self.deletes.append(
                rng.choice(ids[:n], self.DEL_BASE, replace=False).tolist()
                + rng.choice(bids, self.DEL_BATCH, replace=False).tolist())
        every = np.ones(len(vocab.words), dtype=bool)
        self.queries = [inputs.zipf_query(rng, vocab, every) for _ in range(4)]
        docs = pd.concat([self.base] + self.batches, ignore_index=True)
        text = dict(zip(docs["doc_id"].tolist(), docs["content"]))
        self.holders: dict[str, set[int]] = defaultdict(set)
        for d, t in text.items():
            for w in t.split(" "):
                self.holders[w].add(d)
        # the rarest word (fewest docs, then the word) of each deleted
        # base doc, per cycle
        self.dead_words = [
            [min(text[d].split(" "), key=lambda w: (len(self.holders[w]), w))
             for d in dels[:self.DEL_BASE]] for dels in self.deletes]
        deleted = {d for ds in self.deletes for d in ds}
        live = docs[~docs["doc_id"].isin(deleted)]
        self.oracle = oracle.BM25Oracle(live["doc_id"], live["content"])
        self.rounds = 0
        with self.run.tr.span("warmup"):
            self._warmup()

    def _warmup(self) -> None:
        """The calls whose first run in a new JVM is slowest by far (a
        build, a delete, a search), on WARM_DOCS docs of their own."""
        from data_text_search_spark.operators.index_build import build_index
        from data_text_search_spark.operators.index_query import IndexSearcher
        from data_text_search_spark.streaming import incremental as inc
        spark, rng = self.run.spark, self.run.rng(2)
        vocab = inputs.Vocabulary(rng)
        ids = inputs.distinct_ids(rng, self.WARM_DOCS)
        base = inputs.corpus(rng, ids, inputs.texts(rng, vocab, self.WARM_DOCS))
        root = os.path.join(self.run.scratch, "churn_warmup")
        build_index(spark, spark.createDataFrame(base), root, id_col="doc_id")
        inc.delete_documents(spark, root, ids[:3].tolist())
        IndexSearcher(spark, root).search(str(vocab.words[0])).collect()
        shutil.rmtree(root)

    def round(self) -> None:
        from data_text_search_spark.operators.index_build import build_index
        from data_text_search_spark.operators.index_query import IndexSearcher
        from data_text_search_spark.streaming import incremental as inc
        spark, op, check = self.run.spark, self.run.op, self.run.check
        # a directory per round: a searcher opened earlier in the session
        # on the same paths would serve its cached term dictionary (a
        # known fault, see CHANGES.md)
        root = os.path.join(self.run.scratch, f"churn_round{self.rounds}")
        self.rounds += 1
        live: list[set[int]] = []    # live docs of each added batch
        alive = set(self.base["doc_id"].tolist())
        dead_words: list[str] = []

        def opened():
            with op("index_query.open"):
                return IndexSearcher(spark, root)

        def search_markers(s, first: int, last: int, when: str) -> None:
            q = " ".join(self.markers[first:last + 1])
            n = sum(map(len, self.batches[first:last + 1]))
            with op("index_query.search"):
                got = {d for d, _ in _collect_rows(s.search(q, n))}
            check(got == set().union(*live[first:last + 1]),
                  f"marker search {q!r} {when}")

        def search_deleted(s, when: str) -> None:
            if not dead_words:
                return
            q = " ".join(dict.fromkeys(dead_words))
            holders = set().union(*(self.holders[w] for w in dead_words))
            with op("index_query.search"):
                got = {d for d, _ in _collect_rows(s.search(q, len(holders)))}
            check(got == holders & alive,
                  f"search {q!r} for deleted docs' words {when}: "
                  f"{len(got - alive)} deleted ids returned")

        with op("index_build.build_index"):
            build_index(spark, spark.createDataFrame(self.base), root,
                        id_col="doc_id")
        for c, (batch, dels) in enumerate(zip(self.batches, self.deletes)):
            df = spark.createDataFrame(batch)
            with op("incremental.add_documents"):
                inc.add_documents(spark, root, df, id_col="doc_id")
            live.append(set(batch["doc_id"].tolist()))
            alive.update(live[-1])
            s = opened()
            search_markers(s, max(0, c - 1), c, f"after add {c}")
            search_deleted(s, f"after add {c}")
            with op("incremental.delete_documents"):
                inc.delete_documents(spark, root, dels)
            for b in live:
                b.difference_update(dels)
            alive.difference_update(dels)
            dead_words.extend(self.dead_words[c])
            if (c + 1) % self.TIER_EVERY == 0:
                with op("incremental.merge_tier"):
                    inc.merge_tier(spark, root)
                s = opened()
                search_markers(s, 0, c, "after merge_tier")
                search_deleted(s, "after merge_tier")
        with op("incremental.merge_segments"):
            inc.merge_segments(spark, root)
        s = opened()
        search_markers(s, 0, self.CYCLES - 1, "after merge_segments")
        search_deleted(s, "after merge_segments")
        for q in self.queries:
            with op("index_query.search"):
                rows = _collect_rows(s.search(q))
            check(self.oracle.matches(rows, q),
                  f"top-10 of {q!r} after merge_segments")
        shutil.rmtree(root)


class Dedup(Phase):
    """Corpus curation, no index: N_UNIQUE unique docs plus FAMILIES
    planted near-duplicate families (inputs.FAMILY_LEVELS) through
    `minhash_lsh_pairs` and the uncapped `ngram_jaccard_pairs`, both
    collected. The warm-up uses a corpus of its own: minhash_lsh_pairs
    leaves its signature frame cached, and a later call over equal rows
    reuses it (a known fault, see CHANGES.md)."""
    N_UNIQUE, FAMILIES = 2000, 40

    def setup(self) -> None:
        rng = self.run.rng(11)
        self.pdf, families = inputs.dedup_corpus(rng, inputs.Vocabulary(rng),
                                                 self.N_UNIQUE, self.FAMILIES)
        self.exact = oracle.jaccard_pairs(self.pdf["doc_id"], self.pdf["content"])
        self.planted = {(a, b) for fam in families for a in fam for b in fam
                        if a < b and self.exact.get((a, b), 0) >= 0.9}
        wrng = self.run.rng(12)
        warm, _ = inputs.dedup_corpus(wrng, inputs.Vocabulary(wrng), 300, 10)
        with self.run.tr.span("warmup"):
            self._pass(warm, lambda name: contextlib.nullcontext())

    def round(self) -> None:
        mh, nj = self._pass(self.pdf, self.run.op)
        check = self.run.check
        check(len({p for p, _ in nj}) == len(nj) and dict(nj) == self.exact,
              f"ngram_jaccard_pairs: {len(nj)} pairs, {len(self.exact)} exact")
        check(all(self.exact.get(p) == j for p, j in mh),
              "minhash_lsh_pairs: a pair or value outside the exact set")
        check(self.planted <= {p for p, _ in mh},
              "minhash_lsh_pairs missed a planted pair with Jaccard >= 0.9")

    def _pass(self, pdf, op) -> list[list]:
        from data_text_search_spark.operators.dedup import (
            minhash_lsh_pairs, ngram_jaccard_pairs)
        df = self.run.spark.createDataFrame(pdf)
        out = []
        for fn in (minhash_lsh_pairs, ngram_jaccard_pairs):
            with op(f"dedup.{fn.__name__}"):
                rows = fn(df, text_col="content", id_col="doc_id").collect()
            out.append([((r["doc_a"], r["doc_b"]), r["jaccard"]) for r in rows])
        return out


WORKLOADS = {
    "query": (Query,),
    "maintain": (Churn, Dedup),
}

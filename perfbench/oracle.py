"""Independent oracle: BM25 top-n and exact word-3-gram Jaccard pairs.

Written from the reference formulas, not from the engine: texts are split
on single spaces (the generator only emits lowercase ``[a-z0-9_]`` words,
which any tokenizer obeying the engine's documented token pattern splits
the same way), and nothing here imports the engine.

BM25 (reference semantics): unsmoothed Robertson idf
ln(N - df + 0.5) - ln(df + 0.5) (negative for df > N/2), k1 = 1.5,
b = 0.75, every query-token occurrence contributes, every document that
contains at least one query token is scored, top-n ordered by score
descending then doc_id ascending.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from fractions import Fraction

import numpy as np

K1, B = 1.5, 0.75
REL_TOL = 1e-9
# scores that cancel to ~0 (negative and positive idf terms) are compared
# on an absolute scale far below any real score difference
ABS_TOL = 1e-12


class BM25Oracle:
    def __init__(self, doc_ids, contents):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.row = {int(d): i for i, d in enumerate(self.doc_ids)}
        n = len(self.doc_ids)
        dl = np.empty(n, dtype=np.float64)
        plist: dict[str, list[tuple[int, int]]] = defaultdict(list)
        for i, text in enumerate(contents):
            toks = text.split(" ") if text else []
            dl[i] = len(toks)
            for t, tf in Counter(toks).items():
                plist[t].append((i, tf))
        avgdl = dl.mean() if n else 1.0
        norm = K1 * (1 - B + B * dl / avgdl)
        self.impacts: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t, pl in plist.items():
            idx = np.fromiter((p[0] for p in pl), np.int64, len(pl))
            tf = np.fromiter((p[1] for p in pl), np.float64, len(pl))
            df = len(pl)
            idf = math.log(n - df + 0.5) - math.log(df + 0.5)
            self.impacts[t] = (idx, idf * tf * (K1 + 1) / (tf + norm[idx]))
        self.df = {t: len(v[0]) for t, v in self.impacts.items()}

    def scores(self, query: str) -> tuple[np.ndarray, np.ndarray]:
        """(score per row, scored mask): a row is scored when its
        document holds at least one query token; every occurrence of a
        token in the query adds its impact again."""
        acc = np.zeros(len(self.doc_ids))
        scored = np.zeros(len(self.doc_ids), dtype=bool)
        for tok in query.split():
            hit = self.impacts.get(tok)
            if hit is not None:
                acc[hit[0]] += hit[1]
                scored[hit[0]] = True
        return acc, scored

    def top(self, query: str, n: int = 10) -> list[tuple[int, float]]:
        acc, scored = self.scores(query)
        rows = np.flatnonzero(scored)
        order = np.lexsort((self.doc_ids[rows], -acc[rows]))[:n]
        return [(int(self.doc_ids[r]), float(acc[r])) for r in rows[order]]

    def matches(self, got: list[tuple[int, float]], query: str,
                n: int = 10) -> bool:
        """Engine top-n equals the oracle's: same length, the score at
        every rank agrees within tolerance, and every returned doc is
        scored with the score the engine gave it. Doc ids may thus differ
        from the oracle's list only among (near-)tied scores."""
        acc, scored = self.scores(query)
        want = self.top(query, n)
        if len(got) != len(want) or len({d for d, _ in got}) != len(got):
            return False
        for (gd, gs), (_, ws) in zip(got, want):
            r = self.row.get(gd)
            if r is None or not scored[r] or not close(gs, ws) \
                    or not close(gs, acc[r]):
                return False
        return True


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)


def same_topn(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Two engine paths agree: same length, scores close rank by rank,
    and a doc both return carries close scores in both."""
    if len(a) != len(b):
        return False
    sb = dict(b)
    return all(close(x[1], y[1]) for x, y in zip(a, b)) and all(
        close(s, sb[d]) for d, s in a if d in sb)


# --------------------------------------------------------------- Jaccard


def round_half_up(x: Fraction, digits: int = 6) -> float:
    q = 10 ** digits
    return float(Fraction(math.floor(x * q + Fraction(1, 2)), q))


def shingle_sets(contents, n: int = 3) -> list[frozenset]:
    out = []
    for text in contents:
        toks = text.split(" ")
        out.append(frozenset(zip(*(toks[i:] for i in range(n))))
                   if len(toks) >= n else frozenset())
    return out


def jaccard_pairs(doc_ids, contents, n: int = 3,
                  threshold: float = 0.5) -> dict[tuple[int, int], float]:
    """(doc_a < doc_b) -> Jaccard rounded half-up to 6 digits, for every
    pair whose ROUNDED Jaccard is >= threshold (the engine filters on the
    rounded value). Exact all-pairs by prefix filtering: with shingles
    ordered rarest first, two sets with Jaccard >= t share a shingle
    within each one's first |S| - ceil(t|S|) + 1 shingles; candidates are
    then verified on the full sets."""
    ids = [int(i) for i in doc_ids]
    sets = shingle_sets(contents, n)
    df = Counter(s for st in sets for s in st)
    rank = {s: r for r, s in enumerate(sorted(df, key=lambda s: (df[s], s)))}
    # lowest exact value whose 6-digit half-up rounding reaches threshold
    t = Fraction(threshold).limit_denominator(10**6) - Fraction(5, 10**7)
    ordered = [sorted(rank[s] for s in st) for st in sets]
    index: dict[int, list[int]] = defaultdict(list)
    out: dict[tuple[int, int], float] = {}
    for a in sorted(range(len(sets)), key=lambda i: len(sets[i])):
        sa = len(sets[a])
        if not sa:
            continue
        prefix = sa - math.ceil(t * sa) + 1
        cands: set[int] = set()
        for r in ordered[a][:prefix]:
            cands.update(index[r])
            index[r].append(a)
        for c in cands:
            inter = len(sets[a] & sets[c])
            j = round_half_up(Fraction(inter, sa + len(sets[c]) - inter))
            if j >= threshold:
                out[(min(ids[a], ids[c]), max(ids[a], ids[c]))] = j
    return out


# ------------------------------------------------------------- self-check


def self_check() -> None:
    """Hand-worked three-document corpus; raises on any disagreement.

    d10 "a b", d11 "a c c", d12 "b c d": N = 3, avgdl = 8/3,
    df(a) = df(b) = df(c) = 2 -> idf = ln(1.5/2.5) = ln 0.6 (negative),
    df(d) = 1 -> idf = ln(2.5/1.5) = -ln 0.6.
    Length norm k1(1 - b + b*dl/avgdl): dl 2 -> 1.21875, dl 3 -> 1.640625.
    Query "c d c x" (c counted twice, x absent):
      d11: 2 * ln0.6 * 2*2.5/(2 + 1.640625)
      d12: (2*ln0.6 - ln0.6) * 2.5/(1 + 1.640625) = ln0.6 * 2.5/2.640625
      d10 holds no query token, so it is not scored (a 0 would rank first).
    Query "a": d11 ln0.6 * 2.5/2.640625 ranks above d10 ln0.6 * 2.5/2.21875.
    Word-3-gram Jaccard: "p q r s t" vs "p q r s u" share {pqr, qrs} of 4
    -> 0.5; vs "p q r v w" share {pqr} of 5 -> 0.2 (below threshold).
    """
    ln6 = math.log(0.6)
    o = BM25Oracle([10, 11, 12], ["a b", "a c c", "b c d"])
    want = [(12, ln6 * 2.5 / 2.640625), (11, 2 * ln6 * 5 / 3.640625)]
    got = o.top("c d c x")
    if [d for d, _ in got] != [12, 11] or not all(
            close(g[1], w[1]) for g, w in zip(got, want)):
        raise AssertionError(f"BM25 oracle self-check: {got} != {want}")
    # negative idf: the longer d11 loses less than d10 and ranks first
    neg = o.top("a", 10)
    if [d for d, _ in neg] != [11, 10] or not close(
            neg[0][1], ln6 * 2.5 / 2.640625) or not close(
            neg[1][1], ln6 * 2.5 / 2.21875):
        raise AssertionError(f"BM25 oracle self-check: {neg}")
    if not o.matches([(12, want[0][1]), (11, want[1][1])], "c d c x") \
            or o.matches([(12, want[0][1]), (10, want[1][1])], "c d c x"):
        raise AssertionError("BM25 oracle self-check: matches()")
    pairs = jaccard_pairs([1, 2, 3], ["p q r s t", "p q r s u", "p q r v w"])
    if pairs != {(1, 2): 0.5}:
        raise AssertionError(f"Jaccard oracle self-check: {pairs}")

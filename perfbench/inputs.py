"""Seeded input generator.

Everything the program receives is built here from one integer seed: the
same seed gives byte-identical texts, ids and query streams. Texts are
lowercase ``[a-z0-9_]`` words joined by single spaces, so a whitespace
split is exactly the engine's documented tokenization of them (the oracle
relies on that instead of importing the engine's tokenizer).

Make-up (the README lists the measured profile per seed):
- vocabulary: VOCAB_SIZE random letter-only words, sampled Zipf(ZIPF_S)
  by rank, so a few head terms sit in almost every document and most of
  the vocabulary is a long tail;
- document lengths: lognormal(LEN_MU, LEN_SIGMA) tokens, clipped to
  [LEN_MIN, LEN_MAX];
- query mixes: DISTINCT_SHARE of the queries of a bulk batch, and of
  the search_local calls of a lookup round (rounded to whole calls), are
  first issues and the rest repeat them. The share is the one the
  repository's own scaling batch showed (BENCH/BASELINE.md: its 20,000
  generated queries deduplicate to 12,494, 62 %); it comes from a
  synthetic generator, not from a log of real users;
- absent query terms (``x<digits>``) and churn markers (``mk<n>_<seed>``)
  contain digits, so they can never collide with a vocabulary word.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 40_000
ZIPF_S = 1.1
LEN_MU, LEN_SIGMA = 4.0, 0.6          # median e^4 ~ 55 tokens
LEN_MIN, LEN_MAX = 8, 600
DISTINCT_SHARE = 0.62
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_LANGS = (("py", "python"), ("java", "java"), ("rs", "rust"),
          ("go", "go"), ("scala", "scala"), ("md", "markdown"))


class Vocabulary:
    """Rank-ordered word list with its Zipf sampler."""

    def __init__(self, rng: np.random.Generator, size: int = VOCAB_SIZE):
        words: dict[str, None] = {}
        while len(words) < size:
            n = size - len(words)
            lens = rng.integers(3, 10, n)
            chars = _LETTERS[rng.integers(0, 26, (n, 9))]
            for row, k in zip(chars, lens):
                words.setdefault("".join(row[:k]), None)
        self.words = np.array(list(words)[:size])
        p = 1.0 / np.arange(1, size + 1) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def ranks(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)),
                          len(self.words) - 1)


def texts(rng: np.random.Generator, vocab: Vocabulary, n: int) -> list[str]:
    lens = np.clip(rng.lognormal(LEN_MU, LEN_SIGMA, n).astype(np.int64),
                   LEN_MIN, LEN_MAX)
    toks = vocab.words[vocab.ranks(rng, int(lens.sum()))]
    return [" ".join(t) for t in np.split(toks, np.cumsum(lens)[:-1])]


def distinct_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct seeded 40-bit doc ids."""
    out: list[int] = []
    seen: set[int] = set()
    while len(out) < n:
        for i in rng.integers(1, 1 << 40, n - len(out)).tolist():
            if i not in seen:
                seen.add(i)
                out.append(i)
    return np.array(out, dtype=np.int64)


def corpus(rng: np.random.Generator, ids: np.ndarray,
           contents: list[str]) -> pd.DataFrame:
    """North-rule table (repo, path, commit, lang, content) plus the
    explicit doc_id the engine is told to use."""
    n = len(ids)
    ext = rng.integers(0, len(_LANGS), n)
    hexd = np.array(list("0123456789abcdef"))
    return pd.DataFrame({
        "doc_id": ids,
        "repo": [f"org{r % 7}/repo{r}" for r in rng.integers(0, 60, n)],
        "path": [f"src/m{i % 97}/f{i}.{_LANGS[e][0]}"
                 for i, e in zip(range(n), ext)],
        "commit": ["".join(r) for r in hexd[rng.integers(0, 16, (n, 40))]],
        "lang": [_LANGS[e][1] for e in ext],
        "content": contents,
    })


def doc_freq(vocab: Vocabulary, contents) -> np.ndarray:
    """Documents holding each vocabulary word, by rank."""
    pos = {w: i for i, w in enumerate(vocab.words.tolist())}
    df = np.zeros(len(vocab.words), dtype=np.int64)
    for text in contents:
        for w in set(text.split(" ")):
            df[pos[w]] += 1
    return df


# ------------------------------------------------------------- query mixes


def absent_term(rng: np.random.Generator) -> str:
    return f"x{int(rng.integers(0, 10**6)):06d}"


def zipf_query(rng: np.random.Generator, vocab: Vocabulary,
               allowed: np.ndarray) -> str:
    """1-4 terms, each a Zipf draw restricted to the `allowed` rank
    slice (re-drawn until it lands in the slice); 5 % of the terms are
    absent terms instead."""
    terms = []
    for _ in range(int(rng.integers(1, 5))):
        if rng.random() < 0.05:
            terms.append(absent_term(rng))
            continue
        while True:
            r = int(vocab.ranks(rng, 1)[0])
            if allowed[r]:
                terms.append(str(vocab.words[r]))
                break
    return " ".join(terms)


@dataclass
class LookupStream:
    """Interactive stream of one round. kinds[i] is "fresh" (a
    search_local call that contains a term no earlier call of the round
    touched, so it must fetch postings), "repeat" (search_local over
    terms the round already fetched: answered from the LRU) or "search"
    (the distributed path)."""
    queries: list[str]
    kinds: list[str]


def stratified_ranks(rng: np.random.Generator, allowed: np.ndarray,
                     n: int) -> np.ndarray:
    """n Zipf ranks restricted to `allowed`, drawn by stratified
    sampling (one uniform per 1/n quantile slice, in random order): the
    popularity mix of a short stream is then nearly the same for every
    seed, while the words themselves differ."""
    ranks = np.flatnonzero(allowed)
    p = 1.0 / (ranks + 1.0) ** ZIPF_S
    cdf = np.cumsum(p / p.sum())
    u = (rng.permutation(n) + rng.random(n)) / n
    return ranks[np.minimum(np.searchsorted(cdf, u), len(ranks) - 1)]


def lookup_stream(rng: np.random.Generator, vocab: Vocabulary,
                  allowed: np.ndarray, df: np.ndarray, n_local: int,
                  n_fresh: int, search_every: int) -> LookupStream:
    """Seeded round of `n_local` search_local calls (exactly `n_fresh` of
    them first-touch) with a distributed search after every
    `search_every`-th. Fresh queries have 1-4 terms in turn: Zipf draws
    plus one term from the vocabulary tail (present in the corpus,
    df <= 5), so the miss stream is the tail. A repeat is an earlier
    fresh query, picked uniformly, re-ordered and sometimes extended with
    an absent term (absent terms need no postings, so it is still a hit).
    Search queries have 1-4 Zipf terms in turn."""
    tail = np.flatnonzero(allowed & (df >= 1) & (df <= 5)
                          & (np.arange(len(df)) >= 200))
    tail_pick = rng.choice(tail, n_fresh, replace=False)
    # Zipf draws never hit a reserved first-touch term, so each fresh
    # call is the first to touch its tail term
    zipf_ok = allowed.copy()
    zipf_ok[tail_pick] = False
    n_search = n_local // search_every
    sizes = [i % 4 for i in range(n_fresh)] + [1 + k % 4 for k in range(n_search)]
    draws = iter(vocab.words[stratified_ranks(rng, zipf_ok, sum(sizes))])
    zipf_terms = [[str(next(draws)) for _ in range(k)] for k in sizes]
    fresh_at = set(rng.choice(np.arange(1, n_local), n_fresh - 1,
                              replace=False).tolist()) | {0}
    issued: list[list[str]] = []
    queries, kinds = [], []
    for i in range(n_local):
        if i in fresh_at:
            q = zipf_terms[len(issued)] + [str(vocab.words[tail_pick[len(issued)]])]
            rng.shuffle(q)
            issued.append(q)
            queries.append(" ".join(q))
            kinds.append("fresh")
        else:
            q = list(issued[int(rng.integers(0, len(issued)))])
            rng.shuffle(q)
            if rng.random() < 0.1:
                q.append(absent_term(rng))
            queries.append(" ".join(q))
            kinds.append("repeat")
        if (i + 1) % search_every == 0:
            queries.append(" ".join(zipf_terms[n_fresh + i // search_every]))
            kinds.append("search")
    return LookupStream(queries, kinds)


def repeat_batch(rng: np.random.Generator, vocab: Vocabulary,
                 allowed: np.ndarray, size: int,
                 include: list[str] = ()) -> list[str]:
    """Batch of `size` queries of which exactly round(DISTINCT_SHARE *
    size) are distinct: the `include` queries plus distinct Zipf
    queries, each issued once, and the rest repeats of them picked
    Zipf(1.0) by their order, so hot queries repeat. Shuffled."""
    n_distinct = round(DISTINCT_SHARE * size)
    distinct = list(dict.fromkeys(include))
    seen = set(distinct)
    while len(distinct) < n_distinct:
        q = zipf_query(rng, vocab, allowed)
        if q not in seen:
            seen.add(q)
            distinct.append(q)
    w = 1.0 / np.arange(1, n_distinct + 1)
    pick = rng.choice(n_distinct, size - n_distinct, p=w / w.sum())
    out = distinct + [distinct[i] for i in pick]
    return [out[i] for i in rng.permutation(size)]


# ------------------------------------------------------------- dedup corpus

# planted family members: one base document and one variant per level
FAMILY_LEVELS = (0.95, 0.9, 0.8, 0.7, 0.6)


def near_duplicate(rng: np.random.Generator, vocab: Vocabulary,
                   base: list[str], level: float) -> list[str]:
    """Copy of `base` with single-word substitutions at least 3 words
    apart. Each interior edit swaps the 3 word 3-grams that contain it
    for 3 new ones, so e edits give Jaccard ~(n-2-3e)/(n-2+3e), i.e.
    e = (n-2)(1-J)/(3(1+J)) for a target J (the oracle measures the
    exact value)."""
    n = len(base)
    edits = max(1, round((n - 2) * (1 - level) / (3 * (1 + level))))
    slots = np.arange(0, n, 3)
    pos = rng.choice(slots, min(edits, len(slots)), replace=False)
    out = list(base)
    for p in pos.tolist():
        while True:
            w = str(vocab.words[int(vocab.ranks(rng, 1)[0])])
            if w != out[p]:
                out[p] = w
                break
    return out


def dedup_corpus(rng: np.random.Generator, vocab: Vocabulary, n_unique: int,
                 n_families: int) -> tuple[pd.DataFrame, list[list[int]]]:
    """Unique documents plus `n_families` families (a base of 40-200
    words and one variant per FAMILY_LEVELS entry). Returns the table
    and each family's doc_ids."""
    contents = texts(rng, vocab, n_unique)
    families_pos = []
    for _ in range(n_families):
        n = int(rng.integers(40, 201))
        base = list(vocab.words[vocab.ranks(rng, n)])
        members = [base] + [near_duplicate(rng, vocab, base, lv)
                            for lv in FAMILY_LEVELS]
        families_pos.append(list(range(len(contents),
                                       len(contents) + len(members))))
        contents.extend(" ".join(m) for m in members)
    order = rng.permutation(len(contents))
    contents = [contents[i] for i in order]
    ids = distinct_ids(rng, len(contents))
    where = np.empty(len(order), dtype=np.int64)
    where[order] = np.arange(len(order))
    families = [[int(ids[where[p]]) for p in fam] for fam in families_pos]
    return corpus(rng, ids, contents), families

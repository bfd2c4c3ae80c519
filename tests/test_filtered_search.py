"""Filtered BM25 search (filter-context allow sets) + prefix search.

Filter contract (IndexSearcher.search(keep=...)): only allowed docs may
appear; corpus statistics and surviving scores are UNCHANGED (Lucene/ES
filter-context). Two exact paths: decode-time mask (small sets) and the
distributed checkpoint-scoring semi-join (sets past FILTER_BROADCAST_MAX)
— identical rows.

Prefix contract (IndexSearcher.prefix_search): per doc, occurrences of
tokens starting with the prefix, answered from the term dictionary + tf
varints with no corpus scan.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from data_text_search_spark.config import BM25Config
from data_text_search_spark.fixtures.corpus import corpus_pandas
from data_text_search_spark.functions.text import tokenize_py
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import IndexSearcher
from data_text_search_spark.streaming.incremental import delete_documents
from tests.oracle_bm25 import OracleBM25

QUERY = "def return import"
N = 150


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = corpus_pandas(N).reset_index().rename(columns={"index": "doc_id"})
    return pdf, spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    _, df = corpus
    root = str(tmp_path_factory.mktemp("fidx") / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    return root


def _rows(df, nd=9):
    return [(r["doc_id"], round(r["score"], nd)) for r in df.collect()]


def _oracle_filtered(pdf, keep: set[int], n=10):
    """Full-corpus stats, scored set restricted to `keep` — exactly the
    filter-context contract."""
    corpus = [tokenize_py(t.lower()) for t in pdf["content"]]
    bm = OracleBM25(corpus, alpha=-math.inf)
    scores = bm.scores(tokenize_py(QUERY.lower()))
    hits = [(d, s) for d, s in scores.items() if d in keep]
    hits.sort(key=lambda kv: (-kv[1], kv[0]))
    return [(d, round(s, 9)) for d, s in hits[:n]]


def test_filtered_matches_oracle_with_full_stats(spark, corpus, index):
    pdf, df = corpus
    keep = df.filter(df.doc_id % 3 == 0).select("doc_id")
    s = IndexSearcher(spark, index)
    got = _rows(s.search(QUERY, 10, keep=keep))
    assert got == _oracle_filtered(pdf, {i for i in range(N) if i % 3 == 0})
    # unfiltered ranks differ (the filter actually bit)
    assert got != _rows(s.search(QUERY, 10))


def test_filtered_iterable_and_empty_keep(spark, corpus, index):
    pdf, _ = corpus
    s = IndexSearcher(spark, index)
    got = _rows(s.search(QUERY, 10, keep=range(0, N, 3)))
    assert got == _oracle_filtered(pdf, set(range(0, N, 3)))
    assert s.search(QUERY, 10, keep=[]).count() == 0
    # keep of only-absent ids is empty too
    assert s.search(QUERY, 10, keep=[10 ** 9]).count() == 0


def test_checkpoint_path_identical_to_mask_path(spark, corpus, index):
    _, df = corpus
    keep = df.filter(df.doc_id % 3 == 0).select("doc_id")
    s = IndexSearcher(spark, index)
    mask = _rows(s.search(QUERY, 10, keep=keep), nd=12)
    s.FILTER_BROADCAST_MAX = 0  # force the distributed semi-join path
    ckpt = _rows(s.search(QUERY, 10, keep=keep), nd=12)
    assert ckpt == mask


def test_filter_composes_with_tombstones(spark, corpus, tmp_path):
    pdf, df = corpus
    root = str(tmp_path / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=2, groups=1)
    dead = list(range(0, N, 10))
    delete_documents(spark, root, dead)
    s = IndexSearcher(spark, root)
    keep = df.filter(df.doc_id % 2 == 0).select("doc_id")
    want = _oracle_filtered(
        pdf, {i for i in range(N) if i % 2 == 0 and i % 10 != 0})
    assert _rows(s.search(QUERY, 10, keep=keep)) == want
    s.FILTER_BROADCAST_MAX = 0
    assert _rows(s.search(QUERY, 10, keep=keep)) == want


def test_batch_keep_matches_single_filtered(spark, corpus, index):
    _, df = corpus
    keep = df.filter(df.doc_id % 3 == 0).select("doc_id")
    s = IndexSearcher(spark, index)
    queries = [QUERY, "class self", QUERY]  # dup query exercises dedup
    b = s.search_batch(queries, 5, keep=keep).collect()
    by_q = {}
    for r in b:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    for qi, q in enumerate(queries):
        assert by_q.get(qi, []) == _rows(s.search(q, 5, keep=keep)), q
    # forced distributed path: identical rows
    s.FILTER_BROADCAST_MAX = 0
    b2 = s.search_batch(queries, 5, keep=keep).collect()
    assert sorted((r["query_id"], r["doc_id"], round(r["score"], 9),
                   r["rank"]) for r in b2) \
        == sorted((r["query_id"], r["doc_id"], round(r["score"], 9),
                   r["rank"]) for r in b)
    # empty keep
    s.FILTER_BROADCAST_MAX = IndexSearcher.FILTER_BROADCAST_MAX
    assert s.search_batch(queries, 5, keep=[]).count() == 0


# --------------------------------------------------------------- boolean


def _oracle_boolean(pdf, must, must_not, n=10):
    toks = {int(d): set(tokenize_py(t.lower()))
            for d, t in zip(pdf["doc_id"], pdf["content"])}
    keep = {d for d, ts in toks.items()
            if all(m in ts for m in must)
            and not any(m in ts for m in must_not)}
    return _oracle_filtered(pdf, keep, n)


def test_boolean_search_matches_oracle(spark, corpus, index):
    pdf, _ = corpus
    s = IndexSearcher(spark, index)
    got = _rows(s.boolean_search(QUERY, must=["class"],
                                 must_not=["lambda"], n=10))
    want = _oracle_boolean(pdf, ["class"], ["lambda"])
    assert got == want and got
    # pure-NOT: universe minus the forbidden docs
    got2 = _rows(s.boolean_search(QUERY, must_not=["class"], n=10))
    assert got2 == _oracle_boolean(pdf, [], ["class"])
    # absent must term -> typed empty; absent must_not -> ignored
    assert s.boolean_search(QUERY, must=["zzznope"]).count() == 0
    assert _rows(s.boolean_search(QUERY, must_not=["zzznope"], n=10)) \
        == _rows(s.search(QUERY, 10))


def _oracle_msm(pdf, query, m, n=10):
    qt = set(tokenize_py(query.lower()))
    toks = {int(d): set(tokenize_py(t.lower()))
            for d, t in zip(pdf["doc_id"], pdf["content"])}
    keep = {d for d, ts in toks.items() if len(qt & ts) >= m}
    return _oracle_filtered(pdf, keep, n)


def test_search_msm_matches_oracle(spark, corpus, index):
    """minimum_should_match: candidates need >= m distinct query terms;
    surviving scores are the unchanged full BM25 sums. m <= 1 is plain
    search; m beyond the distinct-term count is typed-empty."""
    pdf, _ = corpus
    s = IndexSearcher(spark, index)
    for m in (2, 3):
        got = _rows(s.search_msm(QUERY, m, 10))
        want = _oracle_msm(pdf, QUERY, m)
        assert got == want, m
    assert _rows(s.search_msm(QUERY, 3, 10))  # m=3 keeps some docs here
    assert _rows(s.search_msm(QUERY, 1, 10)) == _rows(s.search(QUERY, 10))
    # more required matches than distinct query terms -> typed empty
    empty = s.search_msm(QUERY, len(set(tokenize_py(QUERY))) + 1, 10)
    assert empty.count() == 0
    assert set(empty.columns) >= {"doc_id", "score", "rank", "score_abs"}
    # composes with an external keep set
    base = _rows(s.search_msm(QUERY, 2, 50))
    allow = {d for d, _ in base[::2]}
    got = _rows(s.search_msm(QUERY, 2, 50, keep=allow))
    assert got == [(d, sc) for d, sc in base if d in allow][:50]


def test_parse_query_string():
    from data_text_search_spark.functions.qsyntax import (
        compile_query_string, parse_query_string,
    )
    cl = parse_query_string('+req -no "two words" plain "solo" -"a b"')
    assert ("+", "term", ["req"], 1.0) in cl
    assert ("-", "term", ["no"], 1.0) in cl
    assert ("", "phrase", ["two", "words"], 1.0) in cl
    assert ("", "term", ["plain"], 1.0) in cl
    assert ("", "term", ["solo"], 1.0) in cl   # 1-token quote degrades
    assert ("-", "phrase", ["a", "b"], 1.0) in cl
    # a bareword the tokenizer splits becomes one clause per token —
    # including punctuation tokens, which ARE vocabulary terms under
    # this engine's tokenizer spec
    assert parse_query_string("+state-of-art") == [
        ("+", "term", ["state"], 1.0), ("+", "term", ["-"], 1.0),
        ("+", "term", ["of"], 1.0), ("+", "term", ["-"], 1.0),
        ("+", "term", ["art"], 1.0)]
    counts, must, must_not, ph, nph, _ = compile_query_string(
        '+req -no "two words" plain')
    assert counts == {"req": 1, "two": 1, "words": 1, "plain": 1}
    assert all(isinstance(v, int) for v in counts.values()), \
        "unboosted queries must keep exact integer counts"
    assert must == ["req"] and must_not == ["no"]
    assert ph == [["two", "words"]] and nph == []


def test_query_string_boosts():
    from data_text_search_spark.functions.qsyntax import (
        compile_query_string, parse_query_string,
    )
    cl = parse_query_string('alpha^2.5 +beta^3 "two words"^2 -neg^4 plain')
    assert ("", "term", ["alpha"], 2.5) in cl
    assert ("+", "term", ["beta"], 3.0) in cl
    assert ("", "phrase", ["two", "words"], 2.0) in cl
    assert ("-", "term", ["neg"], 4.0) in cl
    assert ("", "term", ["plain"], 1.0) in cl
    counts, must, must_not, ph, nph, _ = compile_query_string(
        'alpha^2.5 +beta^3 "two words"^2 -neg^4 plain alpha')
    # boosts weight the scoring counts; must_not boosts are ignored
    assert counts == {"alpha": 3.5, "beta": 3.0, "two": 2.0,
                      "words": 2.0, "plain": 1}
    assert must == ["beta"] and must_not == ["neg"]
    assert ph == [["two", "words"]]
    # a split bareword carries its boost to every token
    assert parse_query_string("state-of-art^2")[0] == (
        "", "term", ["state"], 2.0)
    # ^0 is legal Lucene: the clause gates (if +) but scores nothing
    c0, m0, _, _, _, _ = compile_query_string("+gate^0 score")
    assert c0 == {"gate": 0.0, "score": 1} and m0 == ["gate"]


def _contains_phrase(toks, ph):
    m = len(ph)
    return any(toks[i:i + m] == ph for i in range(len(toks) - m + 1))


def test_query_string_matches_oracle(spark, corpus, index):
    """query_string: should+must(+phrase tokens) score, must/must_not
    terms and phrases gate membership, replayed via the python
    oracle."""
    from data_text_search_spark.functions.qsyntax import (
        compile_query_string,
    )
    pdf, df = corpus
    s = IndexSearcher(spark, index)
    qs = '+def -lambda "class def" return'
    counts, must, must_not, phrases, not_phrases, _ = \
        compile_query_string(qs)
    toks = {int(d): tokenize_py(t.lower())
            for d, t in zip(pdf["doc_id"], pdf["content"])}
    keep = {d for d, tl in toks.items()
            if all(m in tl for m in must)
            and not any(m in tl for m in must_not)
            and all(_contains_phrase(tl, p) for p in phrases)
            and not any(_contains_phrase(tl, p) for p in not_phrases)}
    from tests.oracle_bm25 import oracle_search_counts
    want_all = oracle_search_counts(pdf["content"].tolist(), counts,
                                    n=len(pdf))
    hits = [(d, sc) for d, sc in want_all if d in keep][:10]
    got = _rows(s.query_string(qs, 10, df=df, text_col="content"))
    assert [d for d, _ in got] == [d for d, _ in hits] and got
    assert all(math.isclose(g, w, abs_tol=1e-9)
               for (_, g), (_, w) in zip(got, hits))
    # phrase without df -> explicit error; no-scoring-terms -> empty
    with pytest.raises(ValueError):
        s.query_string('"import os"', 10)
    assert s.query_string("-def", 10, df=df,
                          text_col="content").count() == 0
    # phrase-free strings run without the corpus df
    assert _rows(s.query_string("+def return", 10)) \
        == _rows(s.boolean_search("def return", must=["def"], n=10))


def test_parse_query_string_expansion_clauses():
    from data_text_search_spark.functions.qsyntax import (
        compile_query_string, parse_query_string,
    )
    cl = parse_query_string('pre* +fix*^2 term~1 bare~ -neg~0 mid*dle a~b')
    assert ("", "prefix", ["pre"], 1.0) in cl
    assert ("+", "prefix", ["fix"], 2.0) in cl
    assert ("", "fuzzy:1", ["term"], 1.0) in cl
    assert ("", "fuzzy:2", ["bare"], 1.0) in cl       # bare ~ = 2 edits
    assert ("-", "fuzzy:0", ["neg"], 1.0) in cl
    # only TRAILING suffixes are syntax; inner */~ stay tokenizer input
    assert ("", "term", ["mid"], 1.0) in cl and ("", "term", ["dle"], 1.0) in cl
    assert ("", "term", ["a"], 1.0) in cl and ("", "term", ["b"], 1.0) in cl
    # a suffix on a word the tokenizer splits is dropped (multi-token)
    assert all(k == "term" for _, k, t, _ in
               parse_query_string("state-of-art~1") if t[0] in
               ("state", "of", "art"))
    counts, must, must_not, ph, nph, exps = compile_query_string(
        'plain pre*^2 +req~1 -no*')
    assert counts == {"plain": 1}
    assert ("", "prefix", "pre", None, 2.0) in exps
    assert ("+", "fuzzy", "req", 1, 1.0) in exps
    assert ("-", "prefix", "no", None, 1.0) in exps
    assert must == [] and must_not == []


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_query_string_fuzzy_prefix_vs_python(spark, corpus, index):
    """Expansion clauses against the python replay: every dictionary
    term within the clause expands into the scoring counts (clause
    boost as count), '+' gates on ANY expansion, '-' on none."""
    from collections import Counter

    from tests.oracle_bm25 import oracle_search_counts
    pdf, _ = corpus
    s = IndexSearcher(spark, index)
    vocab = Counter()
    toks = {}
    for d, t in zip(pdf["doc_id"], pdf["content"]):
        tk = tokenize_py(t.lower())
        toks[int(d)] = tk
        vocab.update(set(tk))
    qs = 'retu* +clas~1 -lambd~1 def'
    pre = sorted(t for t in vocab if t.startswith("retu"))
    fz_must = sorted(t for t in vocab if _lev(t, "clas") <= 1)
    fz_not = sorted(t for t in vocab if _lev(t, "lambd") <= 1)
    assert pre and fz_must and fz_not  # the fixture must exercise all 3
    counts = Counter({"def": 1})
    for t in pre + fz_must:
        counts[t] += 1
    keep = {d for d, tl in toks.items()
            if any(m in tl for m in fz_must)
            and not any(m in tl for m in fz_not)}
    want_all = oracle_search_counts(pdf["content"].tolist(), counts,
                                    n=len(pdf))
    hits = [(d, sc) for d, sc in want_all if d in keep][:10]
    got = _rows(s.query_string(qs, 10, text_col="content"))
    assert [d for d, _ in got] == [d for d, _ in hits] and got
    assert all(math.isclose(g, w, abs_tol=1e-9)
               for (_, g), (_, w) in zip(got, hits))
    # + clause expanding to nothing -> typed empty; should-only
    # no-match expansion with another scorer -> that scorer alone
    assert s.query_string("+zzzqqq~0 def", 10).count() == 0
    a = _rows(s.query_string("zzzqqq* def", 10))
    assert a == _rows(s.search("def", 10))


def test_query_string_positions_gate_identity(spark, corpus, index,
                                              tmp_path):
    """The positional-sidecar phrase gate returns rows IDENTICAL to the
    corpus window-verify gate on every clause polarity (must phrase,
    must_not phrase) — and works with no corpus df at all."""
    from data_text_search_spark.operators.positions import build_positions
    pdf, df = corpus
    s = IndexSearcher(spark, index)
    proot = str(tmp_path / "pos")
    build_positions(spark, df, proot, text_col="content")
    for qs in ('+def -lambda "class def" return',
               '"def get_heap" -"class lambda" yield',
               '+return "nowhere at all phrase" def'):
        want = _rows(s.query_string(qs, 10, df=df, text_col="content"))
        got = _rows(s.query_string(qs, 10, positions_root=proot))
        assert got == want, qs
    # phrase with NEITHER df nor sidecar -> explicit error still raised
    with pytest.raises(ValueError):
        s.query_string('"import os"', 10)


def test_boolean_search_with_pruned_must_term(spark, corpus, tmp_path):
    pdf, df = corpus
    root = str(tmp_path / "idx")
    # alpha=1.0 prunes hot terms from postings; must-clauses on them
    # must still resolve exactly through the checkpoint branch
    build_index(spark, df, root, BM25Config(alpha=1.0), id_col="doc_id",
                shards=2, groups=1)
    s = IndexSearcher(spark, root)
    hot = "def"  # hot in the synthetic corpus -> pruned at alpha=1.0
    # scoring terms must SURVIVE alpha=1.0 (df-rare), else nothing scores
    got = {r["doc_id"] for r in
           s.boolean_search("get_heap override", must=[hot],
                            n=10 ** 6).collect()}
    toks = {int(d): set(tokenize_py(t.lower()))
            for d, t in zip(pdf["doc_id"], pdf["content"])}
    assert got and got <= {d for d, ts in toks.items() if hot in ts}


# ---------------------------------------------------------------- prefix


def _brute_prefix(pdf, prefix):
    out = {}
    for d, t in zip(pdf["doc_id"], pdf["content"]):
        c = sum(1 for tok in tokenize_py(t.lower()) if tok.startswith(prefix))
        if c:
            out[int(d)] = c
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))


def test_prefix_search_matches_brute_force(spark, corpus, index):
    pdf, _ = corpus
    s = IndexSearcher(spark, index)
    got = [(r["doc_id"], r["match_count"])
           for r in s.prefix_search("re").collect()]
    assert got == _brute_prefix(pdf, "re") and got
    assert s.prefix_search("zzzznope").count() == 0


def test_prefix_search_includes_alpha_pruned_terms(spark, corpus, tmp_path):
    pdf, df = corpus
    root = str(tmp_path / "idx")
    # alpha=1.0 prunes hot terms from the postings; the checkpoint
    # branch must still count them for prefix matching
    build_index(spark, df, root, BM25Config(alpha=1.0), id_col="doc_id",
                shards=2, groups=1)
    s = IndexSearcher(spark, root)
    got = [(r["doc_id"], r["match_count"])
           for r in s.prefix_search("re").collect()]
    assert got == _brute_prefix(pdf, "re")


def test_prefix_search_guards(spark, corpus, index):
    s = IndexSearcher(spark, index)
    with pytest.raises(ValueError, match="empty prefix"):
        s.prefix_search("")
    with pytest.raises(ValueError, match="more than"):
        s.prefix_search("r", max_terms=1)


def test_prefix_search_masks_tombstones(spark, corpus, tmp_path):
    pdf, df = corpus
    root = str(tmp_path / "idx")
    build_index(spark, df, root, BM25Config(), id_col="doc_id",
                shards=2, groups=1)
    dead = list(range(0, N, 4))
    delete_documents(spark, root, dead)
    s = IndexSearcher(spark, root)
    got = [(r["doc_id"], r["match_count"])
           for r in s.prefix_search("re").collect()]
    want = [(d, c) for d, c in _brute_prefix(pdf, "re") if d % 4 != 0]
    assert got == want


def _brute_regex(pdf, pattern):
    import re
    rx = re.compile(f"(?:{pattern})\\Z")
    out = {}
    for d, t in zip(pdf["doc_id"], pdf["content"]):
        c = sum(1 for tok in tokenize_py(t.lower()) if rx.match(tok))
        if c:
            out[int(d)] = c
    return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))


def test_regex_search_matches_brute_force(spark, corpus, index):
    pdf, _ = corpus
    s = IndexSearcher(spark, index)
    pat = "(en|de)code_[a-z]+"
    got = [(r["doc_id"], r["match_count"])
           for r in s.regex_search(pat).collect()]
    assert got == _brute_regex(pdf, pat) and got
    # full-term anchoring: a bare substring pattern must not partial-match
    assert s.regex_search("cod").count() == 0
    assert s.regex_search("zzz(a|b)").count() == 0


def test_regex_search_pruned_terms_and_guards(spark, corpus, tmp_path):
    pdf, df = corpus
    root = str(tmp_path / "ridx")
    build_index(spark, df, root, BM25Config(alpha=1.0), id_col="doc_id",
                shards=2, groups=1)
    s = IndexSearcher(spark, root)
    # alpha=1.0 prunes hot terms from postings; the checkpoint branch
    # must still count them ('return' is a hot keyword)
    got = [(r["doc_id"], r["match_count"])
           for r in s.regex_search("re.*").collect()]
    want = _brute_regex(pdf, "re.*")
    assert got == want and got
    with pytest.raises(ValueError, match="empty pattern"):
        s.regex_search("")
    with pytest.raises(ValueError, match="more than"):
        s.regex_search(".*", max_terms=1)


def test_wildcard_search_translates_to_regex(spark, corpus, index):
    pdf, _ = corpus
    s = IndexSearcher(spark, index)
    got = [(r["doc_id"], r["match_count"])
           for r in s.wildcard_search("*code_*").collect()]
    assert got == _brute_regex(pdf, "[\\s\\S]*code_[\\s\\S]*") and got
    # ? = exactly one char; dot is LITERAL in wildcard syntax
    assert [(r["doc_id"], r["match_count"])
            for r in s.wildcard_search("?ncode_row").collect()] == \
        _brute_regex(pdf, "[\\s\\S]ncode_row")
    assert s.wildcard_search("z.z").count() == 0
    with pytest.raises(ValueError, match="empty pattern"):
        s.wildcard_search("")


# ------------------------------------------- warmed-dictionary fast paths


def test_warmed_dictionary_paths_match_collect_paths(spark, spark_jobs,
                                                    corpus, tmp_path):
    """The term dictionary answers from its driver map when the whole
    dictionary fits DRIVER_TERM_CACHE_MAX and with one filtered collect
    when it does not (forced here with a budget of 0). On an index
    where alpha-pruning actually bites, every dictionary consumer —
    boolean/msm/query_string clause gating, prefix expansion, explain,
    term_meta, collection_tf, the similarity models, score_explain and
    batches — gives identical rows both ways. In budget the lookups run
    ZERO Spark jobs; over budget each lookup or prefix runs at most 1."""
    pdf, df = corpus
    root = str(tmp_path / "widx")
    build_index(spark, df, root,
                BM25Config(alpha=1.0),
                id_col="doc_id", shards=2, groups=1)
    cold = IndexSearcher(spark, root)
    cold.DRIVER_TERM_CACHE_MAX = 0
    warm = IndexSearcher(spark, root)
    warm.warm()
    assert isinstance(warm._dictionary.map, dict) and warm._dictionary.map
    # the warmed helpers answer without touching Spark
    flags = warm._pruned_flags(["def", "zzznope"])
    assert flags.get("def") is True and "zzznope" not in flags
    q = "get_heap override"
    doc = warm.search(q, 1).collect()[0]["doc_id"]
    pairs = [
        (cold.boolean_search(q, must=["def"], n=10 ** 6),
         warm.boolean_search(q, must=["def"], n=10 ** 6)),
        (cold.boolean_search(q, must_not=["def"], n=10 ** 6),
         warm.boolean_search(q, must_not=["def"], n=10 ** 6)),
        (cold.search_msm("def return import", 2, 50),
         warm.search_msm("def return import", 2, 50)),
        (cold.prefix_search("re"), warm.prefix_search("re")),
        (cold.prefix_search("de"), warm.prefix_search("de")),
        (cold.query_string("+def get_heap", 50),
         warm.query_string("+def get_heap", 50)),
        (cold.query_string("re* get_heap", 50),
         warm.query_string("re* get_heap", 50)),
    ]
    # the scoring consumers of the dictionary, on a query that scores
    scored = [
        (cold.search(q, 50), warm.search(q, 50)),
        (cold.score_explain(q, doc), warm.score_explain(q, doc)),
    ] + [(cold.search_similarity(q, m, 20), warm.search_similarity(q, m, 20))
         for m in IndexSearcher.SIMILARITIES]
    for a, b in pairs + scored:
        assert [tuple(r) for r in a.collect()] == \
            [tuple(r) for r in b.collect()]
    assert all(b.count() for _, b in scored)
    batch = [q, "def return import", "zzznope", "override"]
    want = warm.search_batch_pandas(batch, 5)
    assert len(want) and cold.search_batch_pandas(batch, 5).equals(want)
    terms = ["def", "get_heap", "override", "zzznope"]
    assert cold.collection_tf(terms) == warm.collection_tf(terms)
    assert set(warm.collection_tf(terms)) == {"get_heap", "override"}
    assert cold._expand_clause("prefix", "re", None) == \
        warm._expand_clause("prefix", "re", None)
    c_exp, w_exp = (s.explain("def zzznope import") for s in (cold, warm))
    c_plan, w_plan = c_exp.pop("plan"), w_exp.pop("plan")
    assert c_exp == w_exp and c_exp["alpha_pruned_terms"] == ["def", "import"]
    assert (c_plan.pop("executor"), w_plan.pop("executor")) == \
        ("colocated-units", "driver")
    c_plan.pop("interactive_local_eligible")
    w_plan.pop("interactive_local_eligible")
    assert c_plan == w_plan
    assert cold.term_meta(["def", "import"]) == \
        warm.term_meta(["def", "import"])
    assert cold._dictionary.map is None
    lookups = [
        lambda s: s.term_meta(["def", "import", "zzznope"]),
        lambda s: s._pruned_flags(["def", "override"]),
        lambda s: s.explain("def get_heap zzznope"),
        lambda s: s._expand_clause("prefix", "re", None),
        lambda s: s.collection_tf(["get_heap", "def"]),
        lambda s: s._terms_from_counts({"get_heap": 1, "def": 2}),
        lambda s: s._dictionary.lookup(["def", "override"], live=False),
        lambda s: s._dictionary.prefix("ov", 5),
    ]
    fresh = IndexSearcher(spark, root)     # loads lazily, on first lookup
    for i, call in enumerate(lookups):
        for s, most in ((fresh, 0), (warm, 0), (cold, 1)):
            with spark_jobs() as jobs:
                call(s)
            assert len(jobs) <= most, (i, most, jobs)
    with spark_jobs() as jobs:
        warm.search(q, 10).collect()
        warm.search_similarity(q, "lmjm", 10).collect()
        warm.score_explain(q, doc)
    assert jobs == []
    # overflow parity: the bisect path refuses exactly like limit(cap+1)
    with pytest.raises(ValueError, match="more than"):
        warm.prefix_search("d", max_terms=1)
    with pytest.raises(ValueError, match="more than"):
        cold.prefix_search("d", max_terms=1)
    assert warm.prefix_search("zzzznope").count() == 0

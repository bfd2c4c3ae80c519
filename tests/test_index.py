"""Physical index: build → WAND-family query parity vs oracle/exhaustive,
checkpoint-resume, and randomized pruning correctness."""

from __future__ import annotations

import json
import math
import shutil

import numpy as np
import pytest

from data_text_search_spark.config import BM25Config, IndexPaths
from data_text_search_spark.fixtures.corpus import QUERIES
from data_text_search_spark.operators.index_build import build_index, load_manifest
from data_text_search_spark.operators.index_query import IndexSearcher
from tests.oracle_bm25 import oracle_search


@pytest.fixture(scope="module")
def index_root(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx") / "bm25")
    build_index(spark, corpus, root, BM25Config(), id_col="doc_id",
                shards=8, groups=2)
    return root


@pytest.fixture(scope="module")
def searcher(spark, index_root):
    return IndexSearcher(spark, index_root)


def _assert_parity(engine_rows, oracle_topn):
    got = [(r["doc_id"], r["score"]) for r in engine_rows]
    assert [d for d, _ in got] == [d for d, _ in oracle_topn], (
        f"rank mismatch: engine={got} oracle={oracle_topn}")
    for (_, gs), (_, os_) in zip(got, oracle_topn):
        assert math.isclose(gs, os_, rel_tol=0, abs_tol=1e-9)


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: f"q{q['query_id']}")
def test_index_query_parity(spark, corpus_pdf, searcher, q):
    res = searcher.search(q["query_text"], 10).collect()
    want = oracle_search(corpus_pdf["content"].tolist(), q["query_text"], n=10)
    _assert_parity(res, want)


def test_manifest_lineage(index_root):
    m = load_manifest(index_root)
    assert m["complete"]
    assert m["stages"]["tokenized"]["status"] == "done"
    assert m["stages"]["term_stats"]["status"] == "done"
    assert all(g["status"] == "done" for g in m["groups_state"].values())
    assert sum(g["n_postings"] for g in m["groups_state"].values()) > 0
    assert m["n_docs"] == 300 and m["avgdl"] > 0


def test_resume_completes_partial_build(spark, corpus, corpus_pdf, tmp_path):
    root = str(tmp_path / "partial")
    # full build as ground truth
    full_root = str(tmp_path / "full")
    build_index(spark, corpus, full_root, id_col="doc_id", shards=8, groups=2)

    # simulate a build killed after group 0: build fully, then erase group 1
    build_index(spark, corpus, root, id_col="doc_id", shards=8, groups=2)
    paths = IndexPaths(root)
    shutil.rmtree(f"{paths.postings}/group=1")
    m = load_manifest(root)
    del m["groups_state"]["1"]
    m["complete"] = False
    from data_text_search_spark.operators.index_build import (
        _write_manifest_atomic,
    )
    _write_manifest_atomic(paths.manifest, m)

    m2 = build_index(spark, corpus, root, id_col="doc_id", shards=8, groups=2,
                     resume=True)
    assert m2["complete"]
    # resumed index answers identically to the fresh one (and the oracle)
    s_full = IndexSearcher(spark, full_root)
    s_res = IndexSearcher(spark, root)
    for qt in ["return", "zyzzyva obelisk", "merge_heap spill_page"]:
        a = [(r["doc_id"], round(r["score"], 9)) for r in s_full.search(qt, 10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in s_res.search(qt, 10).collect()]
        assert a == b
        want = oracle_search(corpus_pdf["content"].tolist(), qt, n=10)
        _assert_parity(s_res.search(qt, 10).collect(), want)


def test_resume_skips_done_work(spark, corpus, tmp_path):
    root = str(tmp_path / "skip")
    build_index(spark, corpus, root, id_col="doc_id", shards=8, groups=2)
    m1 = load_manifest(root)
    # re-running a complete build must be a no-op (same group timings kept)
    m2 = build_index(spark, corpus, root, id_col="doc_id", shards=8, groups=2)
    assert m2["groups_state"] == m1["groups_state"]
    assert m2["stages"]["tokenized"] == m1["stages"]["tokenized"]


def test_pruning_matches_exhaustive_random(spark, tmp_path):
    """Randomized: tiny Zipfian corpora, many queries — block-max pruning must
    equal brute force (scores 1e-9, ranks exact)."""
    rs = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(40)]
    probs = np.array([1 / (i + 1) for i in range(40)]); probs /= probs.sum()
    texts = [" ".join(rs.choice(vocab, size=rs.randint(3, 60), p=probs))
             for _ in range(120)]
    import pandas as pd
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "content": texts}))
    root = str(tmp_path / "rand")
    build_index(spark, df, root, BM25Config(top_n=5), id_col="doc_id",
                shards=4, groups=1)
    s = IndexSearcher(spark, root)
    for trial in range(8):
        qlen = rs.randint(1, 5)
        q = " ".join(rs.choice(vocab[: 20], size=qlen))
        res = s.search(q, 5).collect()
        want = oracle_search(texts, q, n=5)
        _assert_parity(res, want)


@pytest.mark.parametrize("nq", [3])
def test_search_batch_parity(spark, corpus_pdf, searcher, nq):
    qtexts = [q["query_text"] for q in QUERIES]
    res = searcher.search_batch(qtexts, 10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, qtext in enumerate(qtexts):
        want = oracle_search(corpus_pdf["content"].tolist(), qtext, n=10)
        got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        _assert_parity(got, want)
        # batch results must equal single-query results exactly (ranks)
        single = searcher.search(qtext, 10).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in single]


def test_search_batch_dedup_expansion(spark, searcher):
    """search_batch dedups identical EFFECTIVE termsets driver-side and
    fans results back out; every original position must get exactly the
    single-query rows — duplicates, token reorderings, unknown-term
    padding, absent-only and empty queries included."""
    qtexts = [
        "return import",          # 0
        "return import",          # 1 dup of 0
        "import return",          # 2 same termset, reordered
        "return import zzzabsent",  # 3 same effective termset
        "zzzabsent onlyabsent",   # 4 no present terms -> no rows
        "",                       # 5 empty -> no rows
        "select",                 # 6 distinct
        "return import",          # 7 dup again
    ]
    res = searcher.search_batch(qtexts, 10).toPandas()
    for qid, q in enumerate(qtexts):
        got = res[res["query_id"] == qid].sort_values("rank")
        single = searcher.search(q, 10).toPandas()
        assert got["doc_id"].tolist() == single["doc_id"].tolist(), q
        assert got["score"].tolist() == single["score"].tolist(), q
        assert got["rank"].tolist() == single["rank"].tolist(), q
    assert (res[res["query_id"].isin([4, 5])]).empty
    # output is position-ordered like the pre-dedup executor
    assert res["query_id"].is_monotonic_increasing


def test_hot_term_shard_balance(spark, tmp_path):
    """Salting claim, measured: a term in EVERY doc must spread its
    postings ~evenly over shards (max/mean per-shard postings < 1.5)."""
    import pandas as pd
    texts = [f"ubiquitous filler_{i % 11} tail_{i}" for i in range(400)]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(400), "content": texts}))
    root = str(tmp_path / "hot")
    m = build_index(spark, df, root, id_col="doc_id", shards=8, groups=1)
    bal = m["groups_state"]["0"]["shard_balance_max_over_mean"]
    assert bal is not None and bal < 1.5, bal
    assert m["groups_state"]["0"]["bytes_per_posting"] < 16


def test_search_local_matches_distributed(spark, corpus_pdf, searcher):
    """The driver fast path must return exactly what the distributed
    executor returns (same kernel, posting-set-agnostic), across repeats
    (LRU hits) and negative-IDF / absent / empty queries."""
    for q in ["return", "zyzzyva obelisk", "quantum flux capacitor",
              "def return import from", "notinthecorpusatall", "   ",
              "select select select", "return"]:
        local = searcher.search_local(q, 10)
        dist = searcher.search(q, 10).toPandas()
        assert list(local.columns) == ["doc_id", "score", "rank", "score_abs"]
        assert local["doc_id"].tolist() == dist["doc_id"].tolist(), q
        assert local["score"].tolist() == dist["score"].tolist(), q
    # over-gate queries fall back to the distributed path transparently
    tiny = searcher.search_local("return import", 5, max_postings=1)
    assert tiny["doc_id"].tolist() == [
        r["doc_id"] for r in searcher.search("return import", 5).collect()]


def test_open_runs_no_spark_job(spark, index_root, spark_jobs):
    """Opening a searcher on a tombstone-free index lists its units'
    files and reads term_stats with the pinned schema: no Spark job
    (schema inference would start one per read)."""
    with spark_jobs() as jobs:
        s = IndexSearcher(spark, index_root)
    assert jobs == []
    assert s.search_local("return", 3)["doc_id"].tolist() == [
        r["doc_id"] for r in s.search("return", 3).collect()]


def test_search_local_runs_no_spark_job(spark, index_root, spark_jobs):
    """A first-touch search_local reads its posting blocks on the
    driver, and an LRU hit reads nothing: neither starts a Spark job."""
    s = IndexSearcher(spark, index_root)
    s.warm()
    with spark_jobs() as first:
        got = s.search_local("def return import", 10)
    with spark_jobs() as hit:
        again = s.search_local("def return import", 10)
    assert first == [] and hit == []
    assert len(got) == 10 and got.equals(again)
    assert got["doc_id"].tolist() == [
        r["doc_id"] for r in s.search("def return import", 10).collect()]


def test_warm_gates_on_the_dictionary_it_collects(spark, tmp_path,
                                                  spark_jobs):
    """warm() collects the UNFILTERED dictionary, so its driver budget is
    checked against that count: a heavily alpha-pruned dictionary whose
    live part fits the budget but whose whole does not stays
    distributed, in at most 3 jobs, and queries still answer."""
    import pandas as pd

    n = 20
    common = " ".join(f"common{j}" for j in range(30))   # df = n: pruned
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(n),
        "content": [f"{common} uniq{i}" for i in range(n)]}))
    root = str(tmp_path / "pruned")
    build_index(spark, df, root, BM25Config(alpha=0.0), id_col="doc_id",
                shards=2, groups=1)
    s = IndexSearcher(spark, root)
    n_live, n_all = s.term_stats.count(), s._dictionary.all.count()
    assert (n_live, n_all) == (n, n + 30)
    s.DRIVER_TERM_CACHE_MAX = n_live + 10      # live < budget < all
    with spark_jobs() as jobs:
        s.warm()
    assert s._dictionary.map is None
    assert len(jobs) <= 3
    assert s.search_local("uniq7 common3", 5)["doc_id"].tolist() == [7]
    # within budget the one driver map holds every term, pruned flagged
    s2 = IndexSearcher(spark, root)
    s2.DRIVER_TERM_CACHE_MAX = n_all
    with spark_jobs() as jobs:
        s2.warm()
    assert len(jobs) <= 3
    m = s2._dictionary.map
    assert sum(not e[3] for e in m.values()) == n_live and len(m) == n_all


def _fuzzy_parity(spark, searcher_, corpus_df_, q, mm=1):
    from data_text_search_spark.operators.fuzzy import fuzzy_search
    got = [tuple(r) for r in searcher_.fuzzy_search(q, mm).collect()]
    want = [tuple(r) for r in
            fuzzy_search(spark, corpus_df_, q, mm, text_col="content",
                         id_col="doc_id").collect()]
    assert got == want, (q, got[:3], want[:3])


def test_index_backed_fuzzy_matches_dataframe_operator(spark, corpus,
                                                       searcher):
    """IndexSearcher.fuzzy_search (dictionary levenshtein + posting tf
    sums + stored n_chars) must return exactly the rows of the corpus
    DataFrame operator — misspelled hot terms, absent terms, multi-token
    queries, empty query."""
    for q in ["retur", "zyzzyva", "improt retur", "qqqqqqq", "   "]:
        _fuzzy_parity(spark, searcher, corpus, q)
    assert searcher.fuzzy_search("").count() == 0


def test_index_backed_fuzzy_covers_pruned_terms(spark, corpus, tmp_path):
    """With a hot alpha cutoff (alpha=1.0 prunes high-df terms from the
    postings), a fuzzy query grazing a pruned term must still count its
    occurrences (served from the tokenized checkpoint) — exactness does
    not depend on the BM25 pruning knob."""
    root = str(tmp_path / "pruned_idx")
    build_index(spark, corpus, root, BM25Config(alpha=1.0), id_col="doc_id",
                shards=4, groups=1)
    s = IndexSearcher(spark, root)
    # sanity: the cutoff actually pruned something hot
    pruned = {r["term"] for r in
              s._dictionary.all.filter("pruned").select("term").collect()}
    assert pruned, "alpha=1.0 should prune hot terms on this corpus"
    probe = sorted(pruned)[0]
    for q in [probe, probe + "x", "retur " + probe]:
        _fuzzy_parity(spark, s, corpus, q)


def test_doc_id_collision_raises(spark, tmp_path):
    """Colliding doc_ids must fail the build loudly (they would silently
    merge documents into phantom posting sets). The check rides the
    doc_stats write as an observe() metric — no separate distinct job —
    so this pins that the fused form still detects duplicates."""
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 2, 3], "content": ["a b", "c d", "e f", "g h"]}))
    with pytest.raises(ValueError, match="collision"):
        build_index(spark, df, str(tmp_path / "dup"), BM25Config(),
                    id_col="doc_id", shards=4, groups=1)


def test_checkpoint_n_chars_matches_formula(spark, corpus, tmp_path):
    """The tokenize UDF's stored n_chars must equal the derived formula
    Σ tf·len(term) + max(doc_len−1, 0) for every doc, and the doc_stats
    scan must NOT read the heavy pairs column when trusting it."""
    from pyspark.sql import functions as F

    from data_text_search_spark.operators.index_build import doc_stats_df

    root = str(tmp_path / "nch")
    build_index(spark, corpus, root, BM25Config(), id_col="doc_id",
                shards=4, groups=1)
    tok = spark.read.parquet(f"{root}/tokenized")
    derived = (
        F.aggregate("pairs", F.lit(0).cast("long"),
                    lambda acc, p: acc + p["tf"].cast("long")
                    * F.length(p["term"]))
        + F.greatest(F.col("doc_len").cast("long") - 1,
                     F.lit(0).cast("long")))
    assert tok.filter(F.col("n_chars") != derived).count() == 0
    assert tok.filter(F.col("n_chars").isNull()).count() == 0
    # column pruning: the trusted projection must not scan `pairs`
    plan = doc_stats_df(tok)._jdf.queryExecution().executedPlan().toString()
    assert "pairs" not in plan, plan
    # and the written doc_stats agrees with the checkpoint
    ds = spark.read.parquet(f"{root}/doc_stats")
    joined = (ds.alias("d").join(tok.alias("t"), "doc_id")
              .filter(F.col("d.n_chars") != F.col("t.n_chars")))
    assert joined.count() == 0


def _phrase_parity(spark, searcher_, corpus_df_, q, mm=1):
    from data_text_search_spark.operators.fuzzy import fuzzy_phrase_search
    got = [tuple(r) for r in
           searcher_.fuzzy_phrase_search(corpus_df_, q, mm,
                                         text_col="content").collect()]
    want = [tuple(r) for r in
            fuzzy_phrase_search(spark, corpus_df_, q, mm,
                                text_col="content").collect()]
    assert got == want, (q, got[:3], want[:3])


def test_index_backed_fuzzy_phrase_matches_operator(spark, corpus, searcher):
    """IndexSearcher.fuzzy_phrase_search (tokenized-checkpoint candidate
    pruning + windowed verify on the survivors) must return exactly the
    rows of the full-scan operator: planted 3-token needle misspelled
    (pruned path, required = 3-2 = 1), exact phrase, 2-token phrase
    (required <= 0 -> fallback path), duplicate-token phrase, absent
    phrase, empty query."""
    for q in ["quantum flax capacitor",    # 1 edit from planted needle
              "quantum flux capacitor",    # exact
              "zyzzyva obelisk",           # 2 tokens -> fallback
              "select select select",      # dup tokens: distinct=1 -> fallback
              "quokka hapax xylophone",    # rare multi
              "notinthe corpus atall",     # no matches
              "  "]:
        _phrase_parity(spark, searcher, corpus, q)


def test_index_backed_fuzzy_phrase_prunes_corpus(spark, corpus, searcher):
    """On the pruned path the verify must touch a candidate SLICE, not
    the whole corpus: with a rare 3-token phrase the semi-joined input
    is far smaller than the corpus (here: only docs containing >= 1 of
    the needle's tokens)."""
    from pyspark.sql import functions as F
    from data_text_search_spark.functions.text import tokenize_py
    from data_text_search_spark.operators.index_build import (
        committed_tokenized_paths,
    )
    q = "quokka hapax xylophone"
    distinct = sorted(set(tokenize_py(q)))
    tok = spark.read.parquet(
        *committed_tokenized_paths(searcher.paths.root, searcher.manifest))
    n_cand = (tok.select(F.size(F.filter(
        F.col("pairs"), lambda p: p["term"].isin(distinct))).alias("c"))
        .filter(F.col("c") >= 1).count())
    assert 0 < n_cand < corpus.count() / 2, n_cand


def test_search_expanded_prf_semantics(spark, searcher, corpus_pdf):
    """Pseudo-relevance-feedback expansion (search_expanded):
    - feedback_terms returns <= fb_terms live terms ordered by
      (mass desc, term asc), every mass > 0;
    - the expanded result equals running the exact scorer over the
      original counts + 1 per expansion term (protocol replayed here
      via the python oracle);
    - an empty / no-op query falls back to plain search."""
    import collections

    from data_text_search_spark.functions.text import tokenize_py
    from tests.oracle_bm25 import oracle_search_counts

    q = QUERIES[0]["query_text"]
    fb = searcher.feedback_terms(q, fb_docs=5, fb_terms=8)
    assert 0 < len(fb) <= 8
    masses = [m for _, m in fb]
    assert masses == sorted(masses, reverse=True)
    assert all(m > 0 for m in masses)
    live = {r["term"] for r in searcher.term_stats.select("term").collect()}
    assert {t for t, _ in fb} <= live

    counts = collections.Counter(tokenize_py(q))
    for t, _ in fb:
        counts[t] += 1
    want = oracle_search_counts(corpus_pdf["content"].tolist(), counts, n=10)
    got = searcher.search_expanded(q, 10, fb_docs=5, fb_terms=8).collect()
    _assert_parity(got, want)

    # no-op fallback: an empty query expands to itself
    assert searcher.search_expanded("   ", 10).count() == 0


def test_search_synonyms_semantics(spark, searcher, corpus_pdf):
    """Query-time synonym expansion (search_synonyms, ES synonym-filter
    expand=true semantics):
    - each occurrence of a mapped token contributes that occurrence
      count to every synonym (replayed via the python oracle);
    - synonyms absent from the dictionary are dropped (result identical
      with or without the bogus mapping);
    - an empty map is a plain search."""
    import collections

    from data_text_search_spark.functions.text import tokenize_py
    from tests.oracle_bm25 import oracle_search_counts

    q = QUERIES[0]["query_text"] + " " + QUERIES[0]["query_text"]
    tok = tokenize_py(QUERIES[0]["query_text"])[0]
    live = sorted(r["term"] for r in
                  searcher.term_stats.select("term").collect())
    syn = next(t for t in live if t != tok)
    smap = {tok: [syn, "zzz_not_in_vocab"]}

    counts = collections.Counter(tokenize_py(q))
    counts[syn] += counts[tok]          # occurrence-weighted expansion
    want = oracle_search_counts(corpus_pdf["content"].tolist(), counts,
                                n=10)
    got = searcher.search_synonyms(q, smap, 10).collect()
    _assert_parity(got, want)

    # the out-of-vocab synonym must be a no-op: same rows without it
    got2 = searcher.search_synonyms(q, {tok: [syn]}, 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
        [(r["doc_id"], r["score"]) for r in got2]

    # empty map == plain search
    plain = searcher.search(q, 10).collect()
    got3 = searcher.search_synonyms(q, {}, 10).collect()
    assert [(r["doc_id"], r["score"]) for r in got3] == \
        [(r["doc_id"], r["score"]) for r in plain]


def test_term_vectors(spark, searcher, corpus_pdf):
    """_termvectors: one doc's (term, tf, df, idf) replayed in python
    (tf from the doc, df over the corpus, Robertson idf), pruned terms
    included, absent doc -> typed empty."""
    import collections
    import math as _m

    from data_text_search_spark.functions.text import tokenize_py

    seed = 5
    rows = searcher.term_vectors(seed).collect()
    toks = [tokenize_py(str(t).lower()) for t in corpus_pdf["content"]]
    n = len(toks)
    df = collections.Counter()
    for t in toks:
        df.update(set(t))
    tf = collections.Counter(toks[seed])
    want = sorted(
        (t, c, df[t],
         round(_m.log(n - df[t] + 0.5) - _m.log(df[t] + 0.5), 6))
        for t, c in tf.items())
    got = [(r["term"], r["tf"], r["df"], r["idf"]) for r in rows]
    assert [(t, c, d) for t, c, d, _ in got] == \
        [(t, c, d) for t, c, d, _ in want]
    assert all(_m.isclose(g, w, abs_tol=1e-6)
               for (*_, g), (*_, w) in zip(got, want))
    empty = searcher.term_vectors(10**12)
    assert empty.count() == 0
    assert empty.columns == ["term", "tf", "df", "idf"]


def test_more_like_this_semantics(spark, searcher, corpus_pdf):
    """MoreLikeThis: seed doc excluded, result equals the exact scorer
    over the seed doc's top tf·idf terms as a count-1 query (protocol
    replayed via the python oracle), absent doc -> empty."""
    import collections

    from data_text_search_spark.functions.text import tokenize_py
    from tests.oracle_bm25 import OracleBM25, oracle_search_counts

    seed = 7
    got = searcher.more_like_this(seed, 10, m_terms=10).collect()
    assert got and all(r["doc_id"] != seed for r in got)
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))

    # replay seed-term selection: top-10 live terms of doc 7 by tf*idf
    texts = corpus_pdf["content"].tolist()
    corpus_toks = [tokenize_py(str(t).lower()) for t in texts]
    bm = OracleBM25(corpus_toks)
    tf7 = collections.Counter(corpus_toks[seed])
    mass = sorted(((t, c * bm.idf[t]) for t, c in tf7.items()
                   if t in bm.idf), key=lambda kv: (-kv[1], kv[0]))[:10]
    counts = {t: 1 for t, _ in mass}
    want = [(d, s) for d, s in
            oracle_search_counts(texts, counts, n=11) if d != seed][:10]
    _assert_parity(got, want)

    assert searcher.more_like_this(10**9, 5).count() == 0


def test_suggest_did_you_mean(spark, searcher, corpus_pdf):
    """Dictionary spell suggestion: ranked distance asc, df desc, term
    asc; exact-match token comes back at distance 0; empty input ->
    typed empty; results pinned against a brute-force python truth."""
    import collections

    from data_text_search_spark.functions.text import tokenize_py

    def lev(a, b):
        if abs(len(a) - len(b)) > 4:
            return 99
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = collections.Counter()
    for t in corpus_pdf["content"].tolist():
        df.update(set(tokenize_py(str(t).lower())))

    # NB: bare 'scan' is NOT in the fixture vocab (only compounds like
    # scan_row) — it pins the no-near-match case
    for q, me in [("tabel", 2), ("scan", 1), ("zyzzyva", 2)]:
        got = [(r["term"], r["distance"], r["df"])
               for r in searcher.suggest(q, n=5, max_edits=me).collect()]
        cand = [(t, lev(t, q), c) for t, c in df.items()
                if lev(t, q) <= me]
        want = sorted(cand, key=lambda x: (x[1], -x[2], x[0]))[:5]
        assert got == want, (q, got, want)
    # exact token present -> itself first at distance 0
    first = searcher.suggest("table", n=3).collect()[0]
    assert first["term"] == "table" and first["distance"] == 0
    assert searcher.suggest("   ", n=3).count() == 0


def test_search_after_pagination(spark, searcher, corpus_pdf):
    """Cursor pagination: pages are disjoint, complete, and ordered by
    (round(score,4) desc, doc_id asc); walking pages reconstructs the
    whole match-set ranking; page 1 agrees with search() on rank set."""
    from tests.oracle_bm25 import oracle_search

    q = QUERIES[0]["query_text"]
    # full truth under the pagination ordering
    full = oracle_search(corpus_pdf["content"].tolist(), q, n=10**9)
    full4 = sorted(((d, round(s, 4)) for d, s in full),
                   key=lambda x: (-x[1], x[0]))

    pages, cursor = [], None
    while True:
        rows = searcher.search_after(q, 7, after=cursor).collect()
        if not rows:
            break
        pages.extend((r["doc_id"], r["score"]) for r in rows)
        cursor = (rows[-1]["score"], rows[-1]["doc_id"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert [d for d, _ in pages] == [d for d, _ in full4]
    for (gd, gs), (wd, ws) in zip(pages, full4):
        assert math.isclose(gs, ws, abs_tol=1e-4), (gd, gs, wd, ws)
    # disjoint (no doc repeats across pages)
    assert len({d for d, _ in pages}) == len(pages)
    # page 1 has the same doc set as search() top-7
    top = {r["doc_id"] for r in searcher.search(q, 7).collect()}
    assert {d for d, _ in pages[:7]} == top
    # composes with filter-context keep
    keep = [d for d, _ in full4][::2]
    kept = searcher.search_after(q, 5, keep=keep).collect()
    assert {r["doc_id"] for r in kept} <= set(keep)


def test_indexed_analytics_match_logical(spark, corpus, searcher):
    """Index-backed facets / significant_terms must equal the
    logical-index operators row-for-row (same oracle, two engines)."""
    from data_text_search_spark.operators import bm25_exhaustive as bx
    from data_text_search_spark.operators.search_analytics import (
        search_facets,
        significant_terms,
    )

    lidx = bx.build_logical(bx.ingest(corpus, id_col="doc_id"),
                            BM25Config(alpha=searcher.manifest[
                                "config"]["alpha"]))
    q = "hash join table scan"
    a = [(r["facet"], r["n_docs"], r["top_score"]) for r in
         searcher.search_facets(q, corpus, "lang").collect()]
    b = [(r["facet"], r["n_docs"], r["top_score"]) for r in
         search_facets(lidx, spark, q, corpus, "lang").collect()]
    assert a == b and a
    a = [tuple(r) for r in searcher.significant_terms(q, n=12).collect()]
    b = [tuple(r) for r in
         significant_terms(lidx, spark, q, n=12).collect()]
    assert a == b and a
    # empty-query edges
    assert searcher.search_facets("  ", corpus).count() == 0
    # ('zzz-absent' would NOT be absent: '-' is a real punct token)
    assert searcher.significant_terms("notinthecorpusatall").count() == 0

"""CLI smoke tests for the spark-submit jobs (invoked in-process with
argv — the same code path spark-submit drives)."""

from __future__ import annotations

import json
import sys

import pandas as pd


def test_corpus_pipeline_cli(spark, tmp_path):
    sys.path.insert(0, "jobs")
    import corpus_pipeline

    texts = (["the quick brown fox jumps over the lazy dog again and again"]
             * 3  # exact dup group -> 1 kept
             + ["the quick brown fox jumps over the lazy dog again and anew",
                # near-dup of the group above (high shingle overlap)
                "completely different content about spark query engines",
                "short"])
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    src = str(tmp_path / "docs")
    dst = str(tmp_path / "clean")
    spark.createDataFrame(pdf).write.parquet(src)

    stats = corpus_pipeline.main([
        "--input", src, "--output", dst,
        "--near-dup-threshold", "0.5", "--min-tokens", "2"])
    assert stats["input_docs"] == 6
    assert stats["after_exact_dedup"] == 4          # 3 exact dups -> 1
    assert stats["after_near_dedup"] == 3           # near-dup dropped
    assert stats["output_docs"] == 2                # 'short' fails min-tokens
    out = spark.read.parquet(dst)
    for col in ("lang_pred", "stop_ratio", "n_bpe_tokens", "fp", "n_tokens"):
        assert col in out.columns
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert kept == {0, 4}


def test_corpus_pipeline_semantic_dedup(spark, tmp_path):
    """--embeddings + --semantic-threshold: paraphrase pairs (high
    cosine, low shingle overlap) collapse to the canonical id; docs
    without a near-identical vector pass through."""
    sys.path.insert(0, "jobs")
    import numpy as np

    import corpus_pipeline

    texts = ["the cat sat on the warm mat tonight",
             "a feline rested upon the heated rug this evening",
             "completely different content about spark query engines",
             "unrelated prose about distributed joins and shuffles"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    src = str(tmp_path / "docs")
    spark.createDataFrame(pdf).write.parquet(src)
    rs = np.random.RandomState(5)
    base = rs.standard_normal(16)
    vecs = [base, base + rs.standard_normal(16) * 0.02,  # paraphrase pair
            rs.standard_normal(16), rs.standard_normal(16)]
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "doc_id long, embedding array<double>").write.parquet(emb)
    dst = str(tmp_path / "clean_sem")
    stats = corpus_pipeline.main([
        "--input", src, "--output", dst,
        "--near-dup-threshold", "-1",
        "--embeddings", emb, "--semantic-threshold", "0.95",
        "--semantic-clusters", "2"])
    assert stats["after_semantic_dedup"] == 3
    kept = {r["doc_id"] for r in
            spark.read.parquet(dst).select("doc_id").collect()}
    assert kept == {0, 2, 3}  # canonical (min id) of the pair survives


def test_corpus_pipeline_near_dup_disabled(spark, tmp_path):
    sys.path.insert(0, "jobs")
    import corpus_pipeline

    pdf = pd.DataFrame({"doc_id": [0, 1],
                        "text": ["alpha beta gamma delta epsilon zeta"] * 2})
    src, dst = str(tmp_path / "d2"), str(tmp_path / "c2")
    spark.createDataFrame(pdf).write.parquet(src)
    stats = corpus_pipeline.main(
        ["--input", src, "--output", dst, "--near-dup-threshold", "-1"])
    assert stats["after_exact_dedup"] == 1
    assert "after_near_dedup" not in stats
    assert json.dumps(stats)  # serializable (the CLI prints it)


def test_corpus_pipeline_cluster_mode(spark, tmp_path):
    """--near-dup-mode cluster keeps exactly one canonical doc per
    connected component: a 3-doc near-dup chain (0~1, 1~2 share most
    shingles) collapses to doc 0 even where the greedy pair rule could
    keep two."""
    sys.path.insert(0, "jobs")
    import corpus_pipeline

    base = "the quick brown fox jumps over the lazy dog again and"
    texts = [base + " again", base + " anew", base + " anon",
             "completely different content about spark query engines"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    src, dst = str(tmp_path / "d3"), str(tmp_path / "c3")
    spark.createDataFrame(pdf).write.parquet(src)
    stats = corpus_pipeline.main([
        "--input", src, "--output", dst,
        "--near-dup-threshold", "0.5", "--near-dup-mode", "cluster"])
    kept = {r["doc_id"] for r in
            spark.read.parquet(dst).select("doc_id").collect()}
    assert kept == {0, 3}
    assert stats["after_near_dedup"] == 2


def test_corpus_pipeline_sample_and_split(spark, tmp_path):
    """--sample subsamples deterministically before any stage; --split
    adds a total train/val/test column after the quality gate."""
    sys.path.insert(0, "jobs")
    import corpus_pipeline

    pdf = pd.DataFrame({"doc_id": range(200),
                        "text": [f"unique document number {i} with words"
                                 for i in range(200)]})
    src, dst = str(tmp_path / "d4"), str(tmp_path / "c4")
    spark.createDataFrame(pdf).write.parquet(src)
    stats = corpus_pipeline.main([
        "--input", src, "--output", dst, "--near-dup-threshold", "-1",
        "--sample", "0.5", "--split", "train=0.8,val=0.1,test=0.1"])
    assert 60 < stats["after_sample"] < 140
    out = spark.read.parquet(dst)
    assert "split" in out.columns
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # rerun -> byte-identical sample + split (determinism)
    dst2 = str(tmp_path / "c5")
    corpus_pipeline.main([
        "--input", src, "--output", dst2, "--near-dup-threshold", "-1",
        "--sample", "0.5", "--split", "train=0.8,val=0.1,test=0.1"])
    a = sorted(tuple(r) for r in out.select("doc_id", "split").collect())
    b = sorted(tuple(r) for r in
               spark.read.parquet(dst2).select("doc_id", "split").collect())
    assert a == b


def test_embedding_index_cli(spark, tmp_path):
    """CLI smoke over every subcommand: build both index kinds, search
    each, batch-search to parquet, and an exact knn join — the
    batch-search output must equal the single-vector search per qid."""
    sys.path.insert(0, "jobs")
    import embedding_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "emb")
    emb.select("vec_id", "embedding").write.parquet(src)
    qsrc = str(tmp_path / "queries")
    emb.filter("vec_id < 3").select(
        emb["vec_id"].alias("qid"), "embedding").write.parquet(qsrc)

    for kind in ("lsh", "ivf"):
        root = str(tmp_path / f"idx_{kind}")
        embedding_index.main(["build", "--input", src, "--root", root,
                              "--kind", kind, "--n-centroids", "16"])
        embedding_index.main(["search", "--root", root, "--kind", kind,
                              "--input", src, "--query-vec-id", "0",
                              "--k", "5"])
        out = str(tmp_path / f"hits_{kind}")
        embedding_index.main(["batch-search", "--root", root, "--kind",
                              kind, "--queries", qsrc, "--out", out,
                              "--k", "5"])
        hits = spark.read.parquet(out)
        assert hits.count() == 15
        assert set(hits.columns) == {"qid", "vec_id", "score"}

    kout = str(tmp_path / "knn")
    embedding_index.main(["knn", "--left", qsrc.replace("queries", "emb"),
                          "--right", src, "--out", kout, "--k", "3",
                          "--exclude-self"])
    kn = spark.read.parquet(kout)
    assert kn.count() == 500 * 3
    assert all(r["qid"] != r["vec_id"] for r in kn.collect())

    sout = str(tmp_path / "semdedup")
    embedding_index.main(["semdedup", "--input", src, "--out", sout,
                          "--threshold", "0.5", "--n-clusters", "8"])
    sd = spark.read.parquet(sout)
    assert set(sd.columns) == {"id_a", "id_b", "cosine"}
    assert all(r["id_a"] < r["id_b"] and r["cosine"] >= 0.5
               for r in sd.collect())


def test_corpus_pipeline_curation_gates(spark, tmp_path):
    """--scrub collapses docs differing only in redacted spans into one
    exact-dup group; --code-quality-gate drops the minified blob;
    --max-dup-line-frac drops the boilerplate-repetition doc."""
    sys.path.insert(0, "jobs")
    import corpus_pipeline

    texts = [
        # 0,1: identical after <EMAIL> redaction -> exact-dup group of 2
        "release notes are final contact alice@example.com for details",
        "release notes are final contact bob@other.org for details",
        # 2: a 'minified' single huge line -> code-quality gate drops it
        "var a=1;" * 300,
        # 3: heavy duplicated lines -> dup-line gate drops it
        "header line one\n" + "the same repeated line\n" * 20,
        # 4: clean survivor
        "def main():\n    print('hello world tokens galore')\n",
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    src, dst = str(tmp_path / "dc"), str(tmp_path / "cc")
    spark.createDataFrame(pdf).write.parquet(src)

    stats = corpus_pipeline.main([
        "--input", src, "--output", dst,
        "--near-dup-threshold", "-1",
        "--scrub", "--code-quality-gate", "--max-dup-line-frac", "0.5"])
    assert stats["scrub_redactions"] == 2           # the two emails
    assert stats["after_exact_dedup"] == 4          # 0+1 collapsed
    assert stats["after_code_quality"] == 3         # doc 2 out
    assert stats["after_dup_line_gate"] == 2        # doc 3 out
    kept = {r["doc_id"]
            for r in spark.read.parquet(dst).select("doc_id").collect()}
    assert kept == {0, 4}
    scrubbed = {r["doc_id"]: r["text"]
                for r in spark.read.parquet(dst).select(
                    "doc_id", "text").collect()}
    assert "<EMAIL>" in scrubbed[0]


def test_corpus_pipeline_decontamination(spark, tmp_path):
    """--decontam-eval drops every surviving doc sharing a verbatim
    span-token window with the eval set; clean docs pass through."""
    sys.path.insert(0, "jobs")
    import corpus_pipeline

    leak = "alpha beta gamma delta epsilon zeta"
    pdf = pd.DataFrame({"doc_id": [0, 1, 2], "text": [
        f"document with the benchmark answer {leak} pasted in",
        "a perfectly clean training document about query engines",
        "another clean one mentioning alpha beta only briefly"]})
    src = str(tmp_path / "docs2")
    dst = str(tmp_path / "clean2")
    evp = str(tmp_path / "eval")
    spark.createDataFrame(pdf).write.parquet(src)
    spark.createDataFrame(
        pd.DataFrame({"eval_id": [0], "text": [f"q: {leak} a: whatever"]})
    ).write.parquet(evp)

    stats = corpus_pipeline.main([
        "--input", src, "--output", dst,
        "--near-dup-threshold", "-1",
        "--decontam-eval", evp, "--decontam-span", "6"])
    assert stats["after_decontam"] == 2
    kept = {r["doc_id"] for r in
            spark.read.parquet(dst).select("doc_id").collect()}
    assert kept == {1, 2}


def test_corpus_pipeline_remove_dup_spans(spark, tmp_path):
    """--remove-dup-spans excises cross-doc duplicated windows in place
    (canonical owner keeps them) and reports the removed-token total."""
    sys.path.insert(0, "jobs")
    import corpus_pipeline

    boiler = "copyright header all rights reserved forever"
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": [
        f"{boiler} real content of the first file",
        f"{boiler} different body for the second file"]})
    src = str(tmp_path / "docs3")
    dst = str(tmp_path / "clean3")
    spark.createDataFrame(pdf).write.parquet(src)

    stats = corpus_pipeline.main([
        "--input", src, "--output", dst,
        "--near-dup-threshold", "-1",
        "--remove-dup-spans", "6"])
    assert stats["dup_span_tokens_removed"] == 6  # doc 1 loses the header
    out = {r["doc_id"]: r["text"] for r in
           spark.read.parquet(dst).select("doc_id", "text").collect()}
    assert out[0].startswith(boiler)              # owner keeps it
    assert out[1] == "different body for the second file"


def test_pipeline_gates_read_original_line_structure(spark, tmp_path):
    """--remove-dup-spans rewrites text to one space-joined line; the
    code-quality and dup-line gates must still evaluate the ORIGINAL
    line structure (a healthy multi-line file must survive both gates
    even when longer than the avg-line-length rule would allow as a
    single line)."""
    sys.path.insert(0, "jobs")
    import corpus_pipeline

    body = "\n".join(f"def fn_{i}(): return value_{i} + other_{i}"
                     for i in range(20))  # 20 short lines, ~700 chars
    boiler = "generated header common to both files exactly"
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": [
        f"{boiler}\n{body}",
        f"{boiler}\nsomething else entirely here"]})
    src = str(tmp_path / "docs4")
    dst = str(tmp_path / "clean4")
    spark.createDataFrame(pdf).write.parquet(src)

    stats = corpus_pipeline.main([
        "--input", src, "--output", dst,
        "--near-dup-threshold", "-1",
        "--remove-dup-spans", "6",
        "--code-quality-gate", "--max-dup-line-frac", "0.9"])
    assert stats["dup_span_tokens_removed"] > 0
    kept = {r["doc_id"] for r in
            spark.read.parquet(dst).select("doc_id").collect()}
    # before the fix, doc 0 (now one ~700-char line) failed the
    # avg-line-length <= 100 rule and was silently dropped
    assert 0 in kept


def test_query_cli_modes(spark, tmp_path):
    """Query CLI smoke over every mode: single, expanded, more-like,
    batch file, and stream-drain — each must agree with the library
    surface it wraps."""
    sys.path.insert(0, "jobs")
    import query as query_cli

    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.fixtures.corpus import corpus_pandas
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.index_query import IndexSearcher

    pdf = corpus_pandas(200).reset_index().rename(columns={"index": "doc_id"})
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, BM25Config(),
                id_col="doc_id", shards=4, groups=1)
    s = IndexSearcher(spark, root)
    q = "hash join table scan"

    got = query_cli.main(["--index", root, "--query", q, "--k", "5"])
    want = s.search(q, 5).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]

    got = query_cli.main(["--index", root, "--query", q, "--expand",
                          "--fb-docs", "5", "--fb-terms", "5", "--k", "5"])
    want = s.search_expanded(q, 5, fb_docs=5, fb_terms=5).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]

    sf = tmp_path / "synonyms.json"
    sf.write_text('{"join": ["merge"], "scan": ["sort", "zzz_absent"]}')
    got = query_cli.main(["--index", root, "--query", q,
                          "--synonyms", str(sf), "--k", "5"])
    want = s.search_synonyms(q, {"join": ["merge"],
                                 "scan": ["sort", "zzz_absent"]},
                             5).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]

    cpath = str(tmp_path / "corpus_text.parquet")
    spark.createDataFrame(
        pdf.rename(columns={"content": "text"})
    ).write.parquet(cpath)
    qstr = '+def -lambda "class def" return'
    got = query_cli.main(["--index", root, "--query-string", qstr,
                          "--corpus", cpath, "--k", "5"])
    want = s.query_string(qstr, 5,
                          df=spark.read.parquet(cpath)).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]

    got = query_cli.main(["--index", root, "--query", q,
                          "--msm", "3", "--k", "5"])
    want = s.search_msm(q, 3, 5).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]

    got = query_cli.main(["--index", root, "--more-like", "3", "--k", "5"])
    want = s.more_like_this(3, 5).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]
    assert all(r["doc_id"] != 3 for r in got)

    qf = tmp_path / "queries.txt"
    qf.write_text("hash join\nzyzzyva\n")
    got = query_cli.main(["--index", root, "--queries-file", str(qf),
                          "--k", "3"])
    assert {r["query_id"] for r in got} == {0, 1}

    qdir, sink = str(tmp_path / "qstream"), str(tmp_path / "qsink")
    spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 1], "query_text": [q, "zyzzyva"]})
    ).write.parquet(qdir)
    query_cli.main(["--index", root, "--stream-dir", qdir,
                    "--stream-sink", sink, "--k", "3"])
    streamed = spark.read.parquet(sink)
    offline = s.search_batch([q, "zyzzyva"], 3).collect()
    assert streamed.count() == len(offline)


def test_query_cli_term_modes(spark, tmp_path):
    """--prefix / --regex / --wildcard agree with the library surface."""
    sys.path.insert(0, "jobs")
    import query as query_cli

    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.fixtures.corpus import corpus_pandas
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.index_query import IndexSearcher

    pdf = corpus_pandas(150).reset_index().rename(columns={"index": "doc_id"})
    root = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), root, BM25Config(),
                id_col="doc_id", shards=4, groups=1)
    s = IndexSearcher(spark, root)

    for argv, lib in [
        (["--prefix", "enc"], s.prefix_search("enc")),
        (["--regex", "(en|de)code_[a-z]+"],
         s.regex_search("(en|de)code_[a-z]+")),
        (["--wildcard", "?ncode_*"], s.wildcard_search("?ncode_*")),
    ]:
        got = query_cli.main(["--index", root, "--k", "5"] + argv)
        want = [(r["doc_id"], r["match_count"])
                for r in lib.limit(5).collect()]
        assert [(r["doc_id"], r["match_count"]) for r in got] == want
        assert got
    # wildcard is regex sugar: * / ? translate, regex metachars literal
    assert query_cli.main(["--index", root, "--wildcard", "z.z", "--k",
                           "3"]) == []


def test_query_cli_similarity_rescore_highlight_complete(spark, tmp_path):
    """CLI smoke for the round-5 relevance modes: --similarity,
    --rescore-phrase, --highlight, --complete — each must agree with
    the library surface it wraps."""
    sys.path.insert(0, "jobs")
    import query as query_cli

    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.fixtures.corpus import corpus_pandas
    from data_text_search_spark.operators.index_build import build_index
    from data_text_search_spark.operators.index_query import IndexSearcher

    pdf = corpus_pandas(200).reset_index().rename(columns={"index": "doc_id"})
    cdf = spark.createDataFrame(pdf)
    root = str(tmp_path / "cidx")
    build_index(spark, cdf, root, BM25Config(),
                id_col="doc_id", shards=4, groups=1)
    corpus_path = str(tmp_path / "corpus.parquet")
    cdf.selectExpr("doc_id", "content as text").write.parquet(corpus_path)
    s = IndexSearcher(spark, root)
    q = "hash join table scan"

    got = query_cli.main(["--index", root, "--query", q,
                          "--similarity", "tfidf", "--k", "5"])
    want = s.search_similarity(q, "tfidf", 5).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]

    got = query_cli.main(["--index", root, "--query", q,
                          "--rescore-phrase", "def read",
                          "--corpus", corpus_path, "--k", "5"])
    want = s.rescore(spark.read.parquet(corpus_path), q, "def read",
                     n=5).collect()
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]

    got = query_cli.main(["--index", root, "--query", q, "--highlight",
                          "--corpus", corpus_path, "--k", "3"])
    assert len(got) == 3 and all(g["snippet"] for g in got)

    got = query_cli.main(["--index", root, "--complete", "s", "--k", "4"])
    want = s.complete("s", 4).collect()
    assert [(g["term"], g["df"]) for g in got] == \
        [(r["term"], r["df"]) for r in want]

    from data_text_search_spark.operators.positions import build_positions
    proot = str(tmp_path / "cpos")
    build_positions(spark, cdf, proot, text_col="content")
    got = query_cli.main(["--index", root, "--suggest-phrase",
                          "clas deff", "--positions", proot,
                          "--k", "3"])
    want = s.phrase_suggest("clas deff", proot, n=3).collect()
    assert [(g["suggestion"], g["score"]) for g in got] == \
        [(r["suggestion"], r["score"]) for r in want]
    assert got and got[0]["suggestion"] == "class def"


def test_query_cli_routed(spark, tmp_path):
    """Routed-root CLI: --routing restricts execution, rows identical
    to the library surface; --routing on a plain index is a usage
    error."""
    sys.path.insert(0, "jobs")
    import query as query_cli

    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.fixtures.corpus import corpus_pandas
    from data_text_search_spark.operators.routing import (
        RoutedSearcher,
        build_routed_index,
    )

    from pyspark.sql import functions as F

    pdf = corpus_pandas(150).reset_index().rename(columns={"index": "doc_id"})
    cdf = spark.createDataFrame(pdf).withColumn(
        "bucket", (F.col("doc_id") % 2).cast("string"))
    root = str(tmp_path / "ridx")
    build_routed_index(spark, cdf, root, "bucket",
                       BM25Config(),
                       text_col="content", id_col="doc_id")
    rs = RoutedSearcher(spark, root)
    q = "hash join table scan def"
    got = query_cli.main(["--index", root, "--query", q,
                          "--routing", "1", "--k", "5"])
    want = rs.search(q, 5, routing="1").collect()
    assert [(g["doc_id"], g["rank"]) for g in got] == \
        [(r["doc_id"], r["rank"]) for r in want]
    assert got and all(g["doc_id"] % 2 == 1 for g in got)
    got_all = query_cli.main(["--index", root, "--query", q, "--k", "5"])
    want_all = rs.search(q, 5).collect()
    assert [(g["doc_id"], g["rank"]) for g in got_all] == \
        [(r["doc_id"], r["rank"]) for r in want_all]


def test_positions_cli_modes(spark, tmp_path):
    """Positions CLI smoke: build + every query mode agrees with the
    library surface it wraps."""
    sys.path.insert(0, "jobs")
    import positions as pos_cli

    from data_text_search_spark.config import BM25Config
    from data_text_search_spark.fixtures.corpus import corpus_pandas
    from data_text_search_spark.operators import positions as P
    from data_text_search_spark.operators.index_build import build_index

    pdf = corpus_pandas(150).reset_index().rename(columns={"index": "doc_id"})
    cdf = spark.createDataFrame(pdf).selectExpr("doc_id",
                                                "content as text")
    corpus_path = str(tmp_path / "c.parquet")
    cdf.write.parquet(corpus_path)
    root = str(tmp_path / "pos")

    got = pos_cli.main(["--root", root, "--build",
                        "--corpus", corpus_path])
    assert got[0]["n_docs"] == 150

    got = pos_cli.main(["--root", root, "--phrase", "def def", "--k", "5"])
    want = P.phrase_count(spark, root, "def def").limit(5).collect()
    assert [(g["doc_id"], g["phrase_count"]) for g in got] == \
        [(r["doc_id"], r["phrase_count"]) for r in want]

    got = pos_cli.main(["--root", root, "--near", "def", "class",
                        "--slop", "4", "--k", "5"])
    want = P.span_near(spark, root, "def", "class", 4).limit(5).collect()
    assert [(g["doc_id"], g["min_dist"]) for g in got] == \
        [(r["doc_id"], r["min_dist"]) for r in want]

    got = pos_cli.main(["--root", root, "--window", "def", "class",
                        "return", "--width", "10", "--k", "5"])
    assert all("min_span" in g for g in got)

    idx_root = str(tmp_path / "bm25")
    build_index(spark, spark.createDataFrame(pdf), idx_root, BM25Config(),
                id_col="doc_id", shards=2, groups=1)
    got = pos_cli.main(["--root", root, "--phrase-prefix", "def re",
                        "--index", idx_root, "--k", "5"])
    assert all(g["phrase_count"] >= 1 for g in got)

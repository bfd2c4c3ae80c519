"""Alias/rollover ops layer: atomic named pointers over index roots.
Invariants: resolution opens the right searcher kind; every registry
mutation is one versioned commit (a reader sees old or new membership,
never a torn list); rollover appends an already-built generation and
moves the write index only when a manifest-level condition holds."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_text_search_spark.config import BM25Config
from data_text_search_spark.operators.aliases import AliasCatalog
from data_text_search_spark.operators.federation import FederatedSearcher
from data_text_search_spark.operators.index_build import build_index
from data_text_search_spark.operators.index_query import IndexSearcher

CFG = BM25Config(alpha=-5.0)
Q = "def class return"


@pytest.fixture(scope="module")
def alias_env(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("alias")
    g0 = str(base / "g0")
    g1 = str(base / "g1")
    build_index(spark, corpus.filter(F.col("doc_id") % 2 == 0), g0, CFG,
                id_col="doc_id", shards=2, groups=1)
    build_index(spark, corpus.filter(F.col("doc_id") % 2 == 1), g1, CFG,
                id_col="doc_id", shards=2, groups=1)
    return AliasCatalog(spark, str(base / "catalog")), g0, g1


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_create_resolve_open(spark, alias_env):
    cat, g0, g1 = alias_env
    cat.create("gen0", [g0])
    cat.create("all", [g0, g1])
    assert cat.resolve("gen0") == [g0]
    assert isinstance(cat.open("gen0"), IndexSearcher)
    fed = cat.open("all")
    assert isinstance(fed, FederatedSearcher)
    # the multi-member alias answers like federation over both roots
    want = FederatedSearcher(spark, [g0, g1]).search(Q, 10)
    got = fed.search(Q, 10)
    for g, w in zip(_rows(got), _rows(want)):
        assert g[0] == w[0] and math.isclose(g[1], w[1], abs_tol=1e-12)
    with pytest.raises(ValueError, match="already exists"):
        cat.create("all", [g0])
    with pytest.raises(KeyError):
        cat.resolve("nope")


def test_update_is_one_commit(alias_env):
    cat, g0, g1 = alias_env
    cat.create("swap", [g0])
    before = cat.list_aliases()["swap"]
    cat.update("swap", add=[g1], remove=[g0])
    after = cat.list_aliases()["swap"]
    assert before["indexes"] == [g0] and after["indexes"] == [g1]
    assert after["write"] == g1
    with pytest.raises(ValueError, match="empty"):
        cat.update("swap", remove=[g1])


def test_rollover_conditions_and_append(spark, corpus, alias_env,
                                        tmp_path):
    cat, g0, g1 = alias_env
    cat.create("roll", [g0])
    n0 = IndexSearcher(spark, g0).manifest["n_docs"]
    assert not cat.needs_rollover("roll", max_docs=n0 + 1)
    assert cat.needs_rollover("roll", max_docs=n0)
    assert not cat.rollover("roll", g1, max_docs=n0 + 1)
    assert cat.rollover("roll", g1, max_docs=n0)
    assert cat.resolve("roll") == [g0, g1]
    assert cat.write_index("roll") == g1
    # rolling to a half-built generation must refuse
    cat.create("bad", [g0])
    with pytest.raises(ValueError, match="complete manifest"):
        cat.rollover("bad", str(tmp_path / "never_built"), force=True)
    # post-rollover the alias covers BOTH generations (federated):
    # every doc of the union corpus is reachable
    got = cat.open("roll").search(Q, 10)
    want = FederatedSearcher(spark, [g0, g1]).search(Q, 10)
    assert _rows(got)[0][0] == _rows(want)[0][0]


def test_alias_cli(spark, alias_env, tmp_path):
    """CLI smoke: every subcommand round-trips through the library."""
    import sys
    sys.path.insert(0, "jobs")
    import alias as alias_cli
    cat_root = str(tmp_path / "clicat")
    _, g0, g1 = alias_env
    out = alias_cli.main(["--catalog", cat_root, "create", "docs",
                          "--roots", g0])
    assert out["indexes"] == [g0]
    out = alias_cli.main(["--catalog", cat_root, "update", "docs",
                          "--add", g1])
    # update preserves the write index unless --write names a new one
    assert out["indexes"] == [g0, g1] and out["write"] == g0
    out = alias_cli.main(["--catalog", cat_root, "rollover", "docs",
                          "--new-root", g1, "--max-docs", "1"])
    assert out["rolled"] and out["write"] == g1
    assert alias_cli.main(["--catalog", cat_root, "list"]).keys() == {"docs"}
    out = alias_cli.main(["--catalog", cat_root, "resolve", "docs"])
    assert out["indexes"] == [g0, g1]
    alias_cli.main(["--catalog", cat_root, "delete", "docs"])
    assert alias_cli.main(["--catalog", cat_root, "list"]) == {}


def test_registry_is_versioned(alias_env):
    """Each commit is a fresh .v<seq> object; exactly one survives GC —
    the same crash-safety argument as the index manifest protocol."""
    import os
    cat, g0, g1 = alias_env
    cat.create("vtest", [g0])
    cat.update("vtest", add=[g1])
    d = cat.root
    vs = [f for f in os.listdir(d) if f.startswith("aliases.json.v")]
    assert len(vs) == 1
    assert cat.resolve("vtest") == [g0, g1]
    cat.delete("vtest")
    with pytest.raises(KeyError):
        cat.resolve("vtest")

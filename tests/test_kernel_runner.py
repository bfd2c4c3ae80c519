"""Structural guard: every posting kernel runs through one runner.

`IndexSearcher.run_kernel` runs a kernel's tasks in a driver loop or in
the one executor stage, each task reading its units with the one unit
reader and decoding with the one block decoder. The per-kernel task
loops, the second unit reader, the second raw decoder and the separate
presence kernel it replaced must not grow back, and the package keeps
exactly one `mapInPandas` stage in the query executor. Nor may the
second impact payload or the term-bucket column that index format v4
dropped."""

from __future__ import annotations

import pathlib

import data_text_search_spark
from data_text_search_spark.operators import index_query
from data_text_search_spark.operators.index_query import IndexSearcher

RETIRED = ("_colocated_run", "_colocated_batch_grid", "_read_unit",
           "_raw_posting_decoder", "_presence_kernel_factory")
# the second impact payload and the unread term-bucket column (format v4)
RETIRED_FORMAT = ("impact_codec", "term_partitions", "term_bucket")


def test_retired_kernel_paths_stay_gone():
    pkg = pathlib.Path(data_text_search_spark.__file__).parent
    found = [(str(p.relative_to(pkg)), name)
             for p in sorted(pkg.rglob("*.py"))
             for name in RETIRED if name in p.read_text(encoding="utf-8")]
    assert found == []
    assert [n for n in RETIRED
            if hasattr(index_query, n) or hasattr(IndexSearcher, n)] == []
    repo = pkg.parent
    sources = [*sorted(pkg.rglob("*.py")),
               *sorted((repo / "jobs").glob("*.py")),
               repo / "__spark_entry__.py"]
    found = [(str(p.relative_to(repo)), name) for p in sources
             for name in RETIRED_FORMAT
             if name in p.read_text(encoding="utf-8")]
    assert found == []
    # no class or instance attribute names a codec
    assert not hasattr(IndexSearcher, "codec")
    assert "self.codec" not in pathlib.Path(index_query.__file__).read_text(
        encoding="utf-8")


def test_one_executor_stage():
    src = pathlib.Path(index_query.__file__).read_text(encoding="utf-8")
    assert src.count(".mapInPandas(") == 1

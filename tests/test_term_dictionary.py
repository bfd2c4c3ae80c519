"""Structural guard: the term dictionary lives in one place.

operators/term_dictionary.py holds the one driver map and the one budget
gate of an open index. The three per-searcher structures it replaced —
a live-term map, a pruned-included map and a sorted term list, each
with its own warm/cold fork — must not grow back anywhere in the
package."""

from __future__ import annotations

import pathlib

import data_text_search_spark

RETIRED = ("_term_map", "_meta_map", "_sorted_terms")


def test_retired_dictionary_structures_stay_gone():
    pkg = pathlib.Path(data_text_search_spark.__file__).parent
    found = [(str(p.relative_to(pkg)), name)
             for p in sorted(pkg.rglob("*.py"))
             for name in RETIRED if name in p.read_text(encoding="utf-8")]
    assert found == []

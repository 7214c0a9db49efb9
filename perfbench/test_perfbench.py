"""Unit tests of the benchmark's own helpers. They need no Spark:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import oracle  # noqa: E402
from spans import Span, Tracer, covered, self_times  # noqa: E402


def _span(sid, start, end, parent=None):
    return Span(f"s{sid}", start, end, parent, "op", sid)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 6), (4, 6)], 0, 10) == 2


def test_self_time_subtracts_child_coverage_once():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0),
             _span(2, 3.0, 6.0, 0), _span(3, 2.0, 3.0, 1)]
    st = self_times(spans)
    assert st[0] == 5.0          # children cover [1, 6]
    assert st[1] == 2.0          # grandchild covers [2, 3]
    assert st[2] == 3.0
    assert st[3] == 1.0
    # self times of a tree add up to the root's wall time
    assert sum(st.values()) == 10.0 + 1.0  # overlap of s1 and s2 counted twice


def test_tracer_nests_and_places_jobs_in_innermost_span():
    tr = Tracer()
    tr.op = "0:op"
    with tr.span("op"):
        with tr.span("kql.compile"):
            pass
        with tr.span("kql.exec") as ex:
            pass
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    mid = (ex.start + ex.end) / 2
    assert tr.innermost(mid, 0) == ex.sid
    assert tr.innermost(tr.spans[0].end + 1, 0) == 0


def test_result_hash_ignores_row_and_column_order():
    a = oracle.result_hash(["x", "y"], [(1, "a"), (2, None)])
    b = oracle.result_hash(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b
    assert a != oracle.result_hash(["x", "y"], [(1, "a"), (2, "b")])


def test_result_hash_is_type_strict_but_float_tolerant():
    assert oracle.canon(1) != oracle.canon(1.0)
    assert oracle.canon(True) != oracle.canon(1)
    assert oracle.canon(0.1 + 0.2) == oracle.canon(0.3)
    assert oracle.canon(-0.0) == oracle.canon(0.0)
    assert oracle.canon(float("nan")) == oracle.canon(None)


def test_lines_hash_is_a_multiset_hash():
    assert oracle.lines_hash(["b", "a"]) == oracle.lines_hash(["a", "b"])
    assert oracle.lines_hash(["a"]) != oracle.lines_hash(["a", "a"])


def test_generator_is_deterministic(tmp_path):
    a = datagen.generate("llm_curation", 5, str(tmp_path / "a"))
    b = datagen.generate("llm_curation", 5, str(tmp_path / "b"))
    c = datagen.generate("llm_curation", 6, str(tmp_path / "c"))
    read = lambda d: open(d["docs"], "rb").read()
    assert read(a) == read(b)
    assert read(a) != read(c)
    assert a["clones"] == b["clones"] != c["clones"]


def test_planted_pairs_and_components():
    texts = {1: "a b c d e f", 11: "a b c d e f", 2: "a b c d e f g h i j",
             22: "a b c d e f g h i x", 3: "p q r s"}
    planted = oracle.planted_pairs(texts, [1], [2], 10, 20, 0.5)
    assert planted[(1, 11)] == 1.0
    assert planted[(2, 22)] == oracle.jaccard(texts[2], texts[22])
    comp = oracle.components(texts, [(1, 11), (2, 22)])
    assert comp == {1: 1, 11: 1, 2: 2, 22: 2, 3: 3}

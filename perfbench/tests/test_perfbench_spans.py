"""Span arithmetic: self time, interval unions, modal counts."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer, covered, modal, self_times, subtree_totals  # noqa: E402


def span(i, start, end, parent=None, **kw):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent, "rid": 1, **kw}


def test_self_time_subtracts_children():
    spans = [span(1, 0.0, 10.0), span(2, 1.0, 3.0, 1), span(3, 5.0, 6.0, 1)]
    st = self_times(spans)
    assert st[1] == 7.0
    assert st[2] == 2.0 and st[3] == 1.0


def test_self_time_counts_overlapping_children_once():
    # two children running at once in other threads cover [2, 7]
    spans = [span(1, 0.0, 10.0), span(2, 2.0, 6.0, 1), span(3, 4.0, 7.0, 1)]
    assert self_times(spans)[1] == 5.0


def test_self_time_clips_children_to_parent():
    spans = [span(1, 0.0, 4.0), span(2, 3.0, 9.0, 1)]
    assert self_times(spans)[1] == 3.0


def test_grandchildren_do_not_reduce_grandparent_twice():
    spans = [span(1, 0.0, 10.0), span(2, 2.0, 8.0, 1), span(3, 3.0, 4.0, 2)]
    st = self_times(spans)
    assert st[1] == 4.0 and st[2] == 5.0 and st[3] == 1.0


def test_covered_merges_intervals():
    assert covered([]) == 0.0
    assert covered([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert covered([(3, 4), (0, 1)]) == 2.0


def test_subtree_totals_and_modal():
    spans = [span(1, 0, 1, jobs=1), span(2, 0, 1, 1, jobs=2), span(3, 0, 1, 2, jobs=3), span(4, 0, 1)]
    tot = subtree_totals(spans, "jobs")
    assert tot == {1: 6, 2: 5, 3: 3, 4: 0}
    assert modal([3, 3, 2, 3, 4]) == 3
    assert modal([2, 1]) == 1  # ties go to the smaller count
    assert modal([]) == 0


def test_tracer_nests_and_unwraps():
    class Box:
        def f(self, x):
            return self.g(x) + 1

        def g(self, x):
            return x * 2

    tr = Tracer()
    tr.wrap(Box, "f", "box.f", rid=lambda a: "r1")
    tr.wrap(Box, "g", "box.g")
    b = Box()
    assert b.f(2) == 5 and tr.spans == []  # off: nothing recorded
    tr.enabled = True
    assert b.f(2) == 5
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["box.g"]["parent"] == by_name["box.f"]["id"]
    assert by_name["box.g"]["rid"] == "r1"
    tr.unwrap_all()
    assert Box.f.__name__ == "f" and not hasattr(Box.f, "__wrapped__")

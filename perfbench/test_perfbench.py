"""Tests for the benchmark's own helpers; no Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_workbook_inbox_is_byte_identical_per_seed(tmp_path):
    a = gen.workbook_inbox(str(tmp_path / "a"), 11, 6, 30)
    b = gen.workbook_inbox(str(tmp_path / "b"), 11, 6, 30)
    c = gen.workbook_inbox(str(tmp_path / "c"), 12, 6, 30)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))
    assert a.truth == b.truth
    redrop = a.truth[gen.IDENTICAL_REDROP]
    assert redrop.staged == 0 and redrop.rows_in == redrop.filtered + redrop.deduped
    assert a.truth[gen.MALFORMED].malformed
    for t in a.truth:
        assert t.rows_in == t.staged + t.filtered + t.deduped


def test_doc_backlog_is_byte_identical_per_seed(tmp_path):
    a = gen.doc_backlog(str(tmp_path / "a"), 5, 4, 20)
    b = gen.doc_backlog(str(tmp_path / "b"), 5, 4, 20)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert a.planted == b.planted and a.planted
    for lo, hi in a.planted:
        assert lo < hi
        assert gen.jaccard(a.texts[lo], a.texts[hi]) >= 0.5


def test_tail_takes_the_highest_percentile_with_ten_beyond():
    assert stats.tail(list(range(10))) == (50.0, 4.5)  # too small: p50
    assert stats.tail(list(range(20)))[0] == 50.0
    assert stats.tail(list(range(39)))[0] == 50.0
    assert stats.tail(list(range(40)))[0] == 75.0
    assert stats.tail(list(range(100)))[0] == 90.0
    assert stats.tail(list(range(1000)))[0] == 99.0
    assert stats.tail(list(range(10_000)))[0] == 99.9
    p, v = stats.tail(list(range(101)))
    assert (p, v) == (90.0, 90.0)


def _span(i, start, end, parent=None, name="x"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    ss = [
        _span(1, 0.0, 10.0, name="outer"),
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 5.0, 1),  # overlaps span 2: [1, 5] counted once
        _span(4, 8.0, 12.0, 1),  # runs past its parent: clipped to [8, 10]
        _span(5, 2.5, 2.75, 3),  # grandchild: subtracted from span 3 only
    ]
    st = spans.self_times(ss)
    assert st[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[3] == pytest.approx(3.0 - 0.25)
    assert st[5] == pytest.approx(0.25)
    by_name = spans.self_time_by_name(ss)
    assert by_name["outer"] == pytest.approx(4.0)


def test_tracer_records_nesting_per_thread():
    tr = spans.Tracer(True)
    with tr.span("a.outer", trace="t1"):
        with tr.span("b.inner"):
            pass
    inner, outer = tr.spans
    assert inner["parent"] == outer["id"] and inner["trace"] == "t1"
    assert outer["layer"] == "a"
    off = spans.Tracer(False)
    with off.span("a.outer"):
        pass
    assert off.spans == []


def test_metric_names():
    assert stats.check_metric_name("exec.shuffle_read_bytes") == "exec.shuffle_read_bytes"
    for bad in ("a b", "x/y", "", "rows:in"):
        with pytest.raises(ValueError):
            stats.check_metric_name(bad)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        stats.check_metric_name(name)


def test_op_count_is_fixed_by_seconds():
    from workloads import WORKLOADS

    for cls in WORKLOADS.values():
        wl = cls.__new__(cls)
        assert wl.n_ops(1) == cls.min_ops
        n = wl.n_ops(34)
        assert n == wl.n_ops(34) >= cls.min_ops
        assert wl.n_ops(60) >= n

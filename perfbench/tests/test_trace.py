import types

import pytest

from perfbench import trace
from perfbench.trace import Span, Tracer, self_times


def _span(sid, name, start, end, parent=None):
    return Span(sid, name, start, end, parent, "t0.op")


def test_self_time_subtracts_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "build", 1.0, 4.0, parent=0),
        _span(2, "load", 1.5, 2.5, parent=1),
        _span(3, "force", 5.0, 9.0, parent=0),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st["build"] == pytest.approx(3.0 - 1.0)
    assert st["load"] == pytest.approx(1.0)
    assert st["force"] == pytest.approx(4.0)


def test_self_time_counts_overlapping_children_once():
    # two threads' children overlap; the covered part is their union
    spans = [
        _span(0, "fetch_many", 0.0, 6.0),
        _span(1, "chain", 1.0, 4.0, parent=0),
        _span(2, "chain", 2.0, 5.0, parent=0),
    ]
    assert self_times(spans)["fetch_many"] == pytest.approx(6.0 - 4.0)


def test_self_time_sums_repeated_names_and_clips_children():
    spans = [
        _span(0, "io", 0.0, 2.0),
        _span(1, "io", 3.0, 4.0),
        _span(2, "child", 1.5, 2.5, parent=0),  # runs past its parent's end
    ]
    assert self_times(spans)["io"] == pytest.approx(1.5 + 1.0)


def test_tracer_records_parents_and_ops():
    t = Tracer()
    t.op = "t0.q"
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.op == inner.op == "t0.q"
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_patch_swaps_every_reference_and_unpatch_restores(monkeypatch):
    def load(x):
        return x + 1

    pkg = types.ModuleType("fakepkg")
    pkg.load = load
    user = types.ModuleType("fakepkg.user")
    user.load_alias = load
    monkeypatch.setitem(__import__("sys").modules, "fakepkg", pkg)
    monkeypatch.setitem(__import__("sys").modules, "fakepkg.user", user)

    t = Tracer()
    undo = trace.patch("fakepkg", {load: t.wrap("load", load)})
    assert user.load_alias(1) == 2 and pkg.load(2) == 3
    assert [s.name for s in t.spans] == ["load", "load"]
    trace.unpatch(undo)
    assert pkg.load is load and user.load_alias is load

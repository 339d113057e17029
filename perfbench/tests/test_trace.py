"""Span recording and self time = span minus covered child intervals."""

import types

import pytest

from perfbench.trace import Recorder, self_times


def test_self_time_subtracts_union_of_children():
    spans = [
        ["p", 0.0, 10.0, -1, None],
        ["c", 1.0, 3.0, 0, None],
        ["c", 2.0, 5.0, 0, None],   # overlaps the first child
        ["c", 7.0, 8.0, 0, None],
        ["c", 9.0, 12.0, 0, None],  # clipped to the parent's end
        ["g", 1.5, 2.5, 1, None],   # grandchild: counts for its parent only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 1 + 1))
    assert st[1] == pytest.approx(2 - 1)
    assert st[5] == pytest.approx(1)


def test_wrap_records_nesting_and_restore():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    orig_inner, orig_outer = mod.inner, mod.outer
    rec = Recorder()
    rec.wrap(mod, "inner", "layer.inner")
    rec.wrap(mod, "outer", "layer.outer")
    rec.req = 7
    assert mod.outer(1) == 4
    assert [s[0] for s in rec.spans] == ["layer.outer", "layer.inner"]
    assert rec.spans[1][3] == 0 and rec.spans[0][3] == -1
    assert all(s[4] == 7 for s in rec.spans)
    tot, n = rec.layer("layer.outer", {7})
    assert n == 1 and 0 <= tot <= rec.spans[0][2] - rec.spans[0][1]
    assert rec.layer("layer.outer", {8}) == (0.0, 0)
    rec.restore()
    assert mod.inner is orig_inner and mod.outer is orig_outer


def test_wrap_on_class_restores_inherited_attribute():
    class Base:
        def f(self):
            return 1

    class Sub(Base):
        pass

    rec = Recorder()
    rec.wrap(Sub, "f", "x")
    assert Sub().f() == 1 and len(rec.spans) == 1
    rec.restore()
    assert "f" not in vars(Sub)

import sys
import types

import pytest

from spans import Span, Tracer


def _tracer_with(spans):
    t = Tracer()
    t.spans = [Span(*s) for s in spans]
    return t


def test_self_time_subtracts_direct_children_only():
    t = _tracer_with([
        ("outer", 0.0, 10.0, None, 1),
        ("mid", 1.0, 6.0, 0, 1),
        ("leaf", 2.0, 4.0, 1, 1),
        ("mid", 7.0, 9.0, 0, 1),
    ])
    st = t.self_times()
    assert st["outer"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["mid"] == pytest.approx((5.0 - 2.0) + 2.0)
    assert st["leaf"] == pytest.approx(2.0)
    # self times partition the outermost span's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_totals_count_recursive_calls_once():
    t = _tracer_with([
        ("f", 0.0, 5.0, None, 1),
        ("f", 1.0, 3.0, 0, 1),
        ("g", 6.0, 7.0, None, 2),
    ])
    assert t.totals() == {"f": 5.0, "g": 1.0}
    assert t.totals({2}) == {"g": 1.0}
    assert t.counts() == {"f": 2, "g": 1}


def test_patch_wraps_importers_and_unpatches():
    mod = types.ModuleType("pb_fake_layer")
    user = types.ModuleType("pb_fake_user")

    def work(x):
        return x + 1

    mod.work = work
    user.work = work
    sys.modules["pb_fake_layer"] = mod
    sys.modules["pb_fake_user"] = user
    try:
        t = Tracer()
        t.patch(mod, "work", "layer.work")
        t.op = 7
        assert user.work(1) == 2
        assert mod.work(2) == 3
        assert [(s.name, s.op, s.parent) for s in t.spans] == [
            ("layer.work", 7, None), ("layer.work", 7, None)]
        t.unpatch()
        assert mod.work is work and user.work is work
    finally:
        del sys.modules["pb_fake_layer"], sys.modules["pb_fake_user"]


def test_span_records_exception_type():
    t = Tracer()
    with pytest.raises(KeyError):
        with t.span("boom"):
            raise KeyError("x")
    assert t.spans[0].error == "KeyError" and t.spans[0].end >= t.spans[0].start

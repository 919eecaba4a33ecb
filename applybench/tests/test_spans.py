import types

import pytest

from applybench import spans


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_merges_overlaps():
    assert spans.covered([]) == 0.0
    assert spans.covered([(0, 1), (2, 3)]) == 2
    assert spans.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children():
    clock = FakeClock()
    tr = spans.Tracer(clock)
    with tr.span("outer"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.inner"):
                clock.t = 3.5
        clock.t = 4.0
        with tr.span("b"):
            clock.t = 6.0
        clock.t = 10.0
    names = [s.name for s in tr.spans]
    st = dict(zip(names, spans.self_times(tr.spans)))
    assert st == {"outer": 10 - 2.5 - 2, "a": 2.5 - 0.5,
                  "a.inner": 0.5, "b": 2.0}
    assert tr.spans[names.index("a.inner")].parent == names.index("a")
    assert tr.spans[0].parent is None


def test_counting_work_is_not_layer_self_time():
    clock = FakeClock()
    tr = spans.Tracer(clock)

    def work():
        clock.t += 2.0
        return "out"

    def counter(out, args, kwargs):
        clock.t += 5.0  # the benchmark's own counting
        return {"n": 1}

    wrapped = tr.wrap_eager("layer", work, counter)
    with tr.span("parent"):
        assert wrapped() == "out"
    st = dict(zip([s.name for s in tr.spans], spans.self_times(tr.spans)))
    assert st["layer"] == 2.0
    assert st["parent"] == 0.0
    assert st[spans.COUNT_SPAN] == 5.0
    assert tr.spans[1].counts == {"n": 1}


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer()
    tr.enabled = False
    assert tr.wrap_eager("x", lambda: 3)() == 3
    assert tr.wrap_lazy("y", lambda: 4)() == 4
    assert tr.spans == []


def test_patched_restores_attributes_even_on_error():
    mod = types.SimpleNamespace(f=lambda: "orig")
    tr = spans.Tracer()
    with pytest.raises(RuntimeError):
        with tr.patched([(mod, "f", lambda fn: tr.wrap_eager("f", fn))]):
            assert mod.f() == "orig"
            assert len(tr.spans) == 1
            raise RuntimeError("boom")
    assert mod.f() == "orig"
    assert len(tr.spans) == 1  # the restored function is not traced

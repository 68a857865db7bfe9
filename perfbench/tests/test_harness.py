"""Self-tests of the measurement rules; no engine needed."""

from __future__ import annotations

import pytest

from perfbench.harness import OpLog, Tracer, _union_length, measure, tail


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def advance(self, dt: float) -> None:
        self.t += dt


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = tail(xs)
    assert t.value == 90.0 and t.percentile == 90.0 and t.samples == 100
    assert sum(x > t.value for x in xs) == 10


def test_tail_is_order_independent_and_counts_exactly_ten_beyond():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
    t = tail(xs)
    assert sum(x > t.value for x in xs) == 10
    assert t.value == 1.0 and t.percentile == pytest.approx(100 * 2 / 12)


def test_tail_with_ten_or_fewer_samples_is_the_maximum():
    t = tail([3.0, 1.0, 2.0])
    assert (t.value, t.percentile, t.beyond) == (3.0, 100.0, 0)
    assert tail([float(i) for i in range(10)]).beyond == 0
    assert tail([float(i) for i in range(11)]).beyond == 10
    with pytest.raises(ValueError):
        tail([])


def test_raised_op_is_failed_and_has_no_latency():
    clock = FakeClock()
    log = OpLog(clock)
    with log.op("ok") as op:
        clock.advance(2.0)
        log.phase("read", lambda: clock.advance(0.5))
    with log.op("boom"):
        clock.advance(1.0)
        log.phase("commit", lambda: clock.advance(1.0))
        raise RuntimeError("engine error")
    assert op.latency == 2.5 and not op.failed
    assert (log.attempted, log.failed) == (2, 1)
    assert log.latencies() == [2.5]
    assert log.phase_latencies("read") == [0.5]
    assert log.phase_latencies("commit") == []  # a failed op keeps no phase samples


def test_rejected_op_is_failed_and_loses_its_latency():
    clock = FakeClock()
    log = OpLog(clock)
    for key in ("a", "b", "a"):
        with log.op("q", key=key):
            log.phase("read", lambda: clock.advance(1.0))
    assert log.reject("a", "rows differ") == 2
    assert (log.attempted, log.failed) == (3, 2)
    assert log.latencies() == [1.0]
    assert log.phase_latencies("read") == [1.0]
    assert all(op.error == "rows differ" for op in log.ops if op.key == "a")


def test_phase_outside_op_is_an_error():
    with pytest.raises(RuntimeError):
        OpLog().phase("read", lambda: None)


def test_measure_runs_whole_units_that_fit_in_the_time():
    clock = FakeClock()
    seen = []

    def unit(i: int) -> None:
        seen.append(i)
        clock.advance(4.0)

    wall, units = measure(unit, 10.0, clock=clock)
    assert (units, wall, seen) == (2, 8.0, [0, 1])  # a third unit would end at 12 s
    wall, units = measure(lambda i: clock.advance(30.0), 10.0, clock=clock)
    assert units == 1  # at least one unit, finished even when it overruns


def test_union_length_merges_overlaps():
    assert _union_length([]) == 0
    assert _union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == pytest.approx(4.0)


def test_tracer_self_time_excludes_children_and_uninstall_restores():
    clock = FakeClock()
    tracer = Tracer(clock)

    class Owner:
        @staticmethod
        def work(n):
            clock.advance(n)
            return n

    original = Owner.work
    tracer.enabled = True
    with tracer.span("outer"):
        clock.advance(1.0)
        with tracer.span("inner"):
            clock.advance(3.0)
    assert tracer.self_times() == {"outer": 1.0, "inner": 3.0}
    assert [s.parent for s in tracer.spans] == [None, 0]

    import types

    mod = types.ModuleType("fakepkg_mod")
    mod.work = original
    tracer.install(mod, "work", "fake.work", "fakepkg")
    assert mod.work(2.0) == 2.0
    assert tracer.totals("fake.") == {"fake.work": [2.0]}
    tracer.enabled = False
    mod.work(1.0)
    assert len(tracer.spans) == 3  # disabled tracer records nothing
    tracer.uninstall()
    assert mod.work is original

"""bench.py's two-pass time-boxed sampler, driven by fake runners on a
fake clock (no Spark)."""

from __future__ import annotations

import pytest

import bench


class FakeClock:
    def __init__(self) -> None:
        self.now = 0.0

    def __call__(self) -> float:
        return self.now


def make_runners(clock: FakeClock, costs: dict[str, float], warm: float):
    """One runner per row: its first call (the warm-up) costs ``warm``
    times its steady cost, every later call the steady cost. ``calls``
    counts each row's calls."""
    calls = {name: 0 for name in costs}

    def runner(name: str):
        def run() -> None:
            calls[name] += 1
            clock.now += costs[name] * (warm if calls[name] == 1 else 1.0)
        return run

    return {name: runner(name) for name in costs}, calls


def run(costs: dict[str, float], budget: float, warm: float = 1.5):
    clock = FakeClock()
    runners, calls = make_runners(clock, costs, warm)
    times, dropped = bench.sample_rows(runners, budget, clock=clock)
    return times, dropped, calls


def test_fast_box_gives_every_row_full_samples():
    costs = {f"q{i}": 0.1 * (i + 1) for i in range(6)}
    times, dropped, _ = run(costs, budget=1000.0)
    assert dropped == []
    assert list(times) == list(costs)
    assert all(len(ts) == bench.SAMPLES for ts in times.values())


def test_slow_box_keeps_every_row_at_floor_or_more():
    # Pass 1 needs 6 x (1.5 + 3) = 27 s; 35 s cannot give everyone 10.
    costs = {f"q{i}": 1.0 for i in range(6)}
    times, dropped, _ = run(costs, budget=35.0)
    assert dropped == []
    assert list(times) == list(costs)
    assert all(len(ts) >= bench.FLOOR for ts in times.values())
    assert any(len(ts) < bench.SAMPLES for ts in times.values())


def test_pass_one_overrun_drops_only_a_trailing_suffix():
    costs = {f"q{i}": 1.0 + 0.5 * (i % 3) for i in range(8)}
    times, dropped, calls = run(costs, budget=12.0)
    names = list(costs)
    assert dropped, "budget too large to exercise the overrun"
    assert list(times) == names[: len(times)]
    assert dropped == names[len(times):]
    assert all(len(ts) == bench.FLOOR for ts in times.values())
    assert all(calls[name] == 0 for name in dropped)


def test_warm_up_is_never_a_timed_sample():
    costs = {"cheap": 0.2, "mid": 1.0, "heavy": 3.0}
    for budget in (5.0, 25.0, 1000.0):
        times, _, calls = run(costs, budget=budget, warm=7.0)
        for name, ts in times.items():
            assert calls[name] == len(ts) + 1
            assert ts == pytest.approx([costs[name]] * len(ts))


def test_time_cheap_rows_leave_rolls_forward_to_late_rows():
    costs = {"a": 0.1, "b": 0.1, "c": 0.1, "heavy": 5.0}
    budget = 65.0
    pass1 = sum(c * (1.5 + bench.FLOOR) for c in costs.values())
    # A static equal split of what pass 1 leaves would give the heavy row
    # one more sample; the cheap rows' unused shares buy it the rest.
    static_share = (budget - pass1) / len(costs)
    assert bench.FLOOR + int(static_share // costs["heavy"]) < bench.SAMPLES
    times, dropped, _ = run(costs, budget=budget)
    assert dropped == []
    assert all(len(ts) == bench.SAMPLES for ts in times.values())
    heavy_pass2 = (len(times["heavy"]) - bench.FLOOR) * costs["heavy"]
    cheap_pass2 = (len(times["a"]) - bench.FLOOR) * costs["a"]
    assert heavy_pass2 > static_share > cheap_pass2

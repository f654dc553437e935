"""Unit tests for the benchmark's helpers: python3 -m pytest perfbench -q"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import (  # noqa: E402
    Span,
    Tracer,
    busy_frac,
    canon_float,
    critical_path,
    digest,
    median_with_count,
    self_times,
)


def test_median_with_count():
    assert median_with_count([5.0, 1.0, 3.0, 2.0, 4.0]) == (3.0, 5)
    assert median_with_count([1.0, 2.0]) == (1.5, 2)
    assert median_with_count(iter([7.0])) == (7.0, 1)
    with pytest.raises(ValueError):
        median_with_count([])


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "step", 0.0, 10.0, None, "a"),
        Span(1, "build", 1.0, 3.0, 0, "a"),
        # two overlapping children cover 4..8 once, not 4..7 + 5..8
        Span(2, "action", 4.0, 7.0, 0, "a"),
        Span(3, "action", 5.0, 8.0, 0, "a"),
        Span(4, "read", 4.5, 5.5, 2, "a"),
    ]
    st = self_times(spans)
    assert st["step"] == pytest.approx(10 - 2 - 4)
    assert st["build"] == pytest.approx(2)
    assert st["action"] == pytest.approx(3 - 1 + 3)
    assert st["read"] == pytest.approx(1)


def test_tracer_records_nesting_only_when_enabled():
    t = Tracer(True)
    with t.span("outer", "q1") as o:
        with t.span("inner", "q1"):
            pass
    assert [s.name for s in t.spans] == ["outer", "inner"]
    assert t.spans[1].parent == 0 and t.spans[0].parent is None
    assert o["s"] >= t.spans[1].end - t.spans[1].start
    off = Tracer(False)
    with off.span("x") as x:
        pass
    assert off.spans == [] and x["s"] >= 0


def test_busy_frac():
    assert busy_frac(8.0, 2.0, 4) == 1.0
    assert busy_frac(2.0, 2.0, 4) == 0.25
    with pytest.raises(ValueError):
        busy_frac(1.0, 0.0, 4)


def test_critical_path_takes_longest_chain():
    deps = {"a": (), "b": ("a",), "c": ("a",), "d": ("b", "c"), "e": ()}
    walls = {"a": 1.0, "b": 5.0, "c": 2.0, "d": 1.0, "e": 6.5}
    assert critical_path(walls, deps) == 7.0
    walls["e"] = 7.5
    assert critical_path(walls, deps) == 7.5
    # a skipped dependency costs nothing
    assert critical_path({"d": 1.0, "c": 2.0}, deps) == 3.0
    assert critical_path({}, deps) == 0.0


def test_canon_float_absorbs_last_bit_drift():
    x = 0.1 + 0.2
    assert canon_float(x) == canon_float(0.3)
    assert canon_float(-0.0) == canon_float(0.0) == 0.0
    assert canon_float(1.0) != canon_float(1.0 + 1e-6)


def test_digest_ignores_row_and_column_order_only():
    df = pd.DataFrame({
        "k": np.arange(6, dtype=np.int64),
        "x": [0.3, 1.5, -0.0, 2.0, np.nan, 7.25],
        "s": ["a", "b", None, "d", "e", "f"],
        "v": [[1.0, 2.0], [], None, [3.0], [0.1 + 0.2], [4.0]],
    })
    d = digest(df)
    assert d.startswith("6:")
    shuffled = df.sample(frac=1.0, random_state=7)[["v", "s", "x", "k"]]
    assert digest(shuffled) == d
    drift = df.copy()
    drift["x"] = [0.1 + 0.2, 1.5, 0.0, 2.0, np.nan, 7.25]
    drift["v"] = [[1.0, 2.0], [], None, [3.0], [0.3], [4.0]]
    assert digest(drift) == d
    changed = df.copy()
    changed.loc[3, "s"] = "z"
    assert digest(changed) != d
    assert digest(df.iloc[:5]) != d
    dup = pd.concat([df, df.iloc[[0]]])
    assert digest(dup) != d


def test_passes_count_a_fixed_number_of_warm_passes(monkeypatch):
    import workloads

    clock = [0.0]
    monkeypatch.setattr(workloads.time, "perf_counter", lambda: clock[0])
    passes = iter([{"a": 3.0, "b": 1.0}, {"a": 2.0, "b": 2.0},
                   {"a": 0.1, "b": 0.1}])

    def warm(n):
        clock[0] += 1.0  # each warm pass takes one second
        return next(passes)

    b = workloads.Bench(None, Tracer(False), None, 1, 4, {}, False)
    # a 2.5 s window leaves room for a third pass: it runs, uncounted
    assert workloads.WARM_PASSES == 2
    e2e = workloads._passes(b, 2.5, lambda: {"a": 9.0, "b": 9.0}, warm)
    assert b.details["warm_passes"] == 3
    assert b.details["warm_passes_counted"] == 2
    # per-operation bests: a at 2.0 (pass 2), b at 1.0 (pass 1)
    assert e2e == {"cold_wall_s": 18.0, "wall_s": 3.0, "p50_s": 1.5}

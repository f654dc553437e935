"""Spans and the small statistics the benchmark reports.

Spans are kept in memory by :class:`Tracer` and written out once, when
the run ends. Everything here is pure Python so the unit tests need no
Spark session.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import numpy as np


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str  # the query or pipeline step the span belongs to ("" if none)


class Tracer:
    """Records nested spans when enabled; a disabled tracer only times."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str = ""):
        """Time the block; the yielded dict gets ``s``, its wall seconds,
        when the block ends (also with tracing off)."""
        out: dict = {}
        sid = len(self.spans)
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(sid, name, 0.0, 0.0, parent, op))
            self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            t1 = time.perf_counter()
            out["s"] = t1 - t0
            if self.enabled:
                self._stack.pop()
                self.spans[sid].start, self.spans[sid].end = t0, t1

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name, each span's duration minus the part of
    its interval that its direct children cover (children may overlap
    one another, as parallel pipeline steps do)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach, s.start), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def median_with_count(values) -> tuple[float, int]:
    """The median and the sample count it rests on."""
    xs = list(values)
    if not xs:
        raise ValueError("no samples")
    return statistics.median(xs), len(xs)


def busy_frac(executor_run_s: float, wall_s: float, cores: int) -> float:
    """Executor run time over the core-seconds the action had."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("wall and cores must be positive")
    return executor_run_s / (wall_s * cores)


def critical_path(walls: dict[str, float], deps: dict[str, tuple]) -> float:
    """Longest dependency chain of step walls; deps outside ``walls``
    (skipped or not run) cost nothing."""
    memo: dict[str, float] = {}

    def longest(step: str) -> float:
        if step not in memo:
            memo[step] = walls[step] + max(
                (longest(d) for d in deps.get(step, ()) if d in walls),
                default=0.0,
            )
        return memo[step]

    return max((longest(s) for s in walls), default=0.0)


MANTISSA_BITS = 40  # of 53: drift in the last dozen bits is ignored


def canon_float(x: float) -> float:
    """``x`` with its mantissa rounded to :data:`MANTISSA_BITS` bits, so
    sums taken in another order agree; -0.0 becomes 0.0."""
    m, e = math.frexp(x)
    return math.ldexp(round(m * 2.0**MANTISSA_BITS), e - MANTISSA_BITS) + 0.0


def canon_value(v):
    """One cell in canonical, JSON-able form: floats through
    :func:`canon_float`, datetimes as ISO text, sequences and mappings
    element-wise."""
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else canon_float(float(v))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [canon_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): canon_value(x) for k, x in sorted(v.items())}
    return str(v)


def _canon_column(col):
    kind = col.dtype.kind
    if kind == "f":
        m, e = np.frexp(col.to_numpy(np.float64))
        q = np.ldexp(np.round(m * 2.0**MANTISSA_BITS), e - MANTISSA_BITS)
        return q + 0.0
    if kind in "iub":
        return col.to_numpy()
    if kind in "mM":
        return col.to_numpy().view(np.int64)
    return [json.dumps(canon_value(v)) for v in col]


def digest(pdf) -> str:
    """Order-insensitive digest of a pandas table: the row count plus the
    wrapping 64-bit sum of one hash per canonicalised row, columns taken
    by name."""
    import pandas as pd

    cols = sorted(pdf.columns)
    canon = pd.DataFrame({c: _canon_column(pdf[c]) for c in cols})
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(np.uint64)
    return f"{len(pdf)}:{int(h.sum(dtype=np.uint64)):016x}"

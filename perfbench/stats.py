"""Order statistics and metric-name rules shared by the runner, the
attributor and the self-tests."""

from __future__ import annotations

import math
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: A tail percentile needs this many samples strictly above it.
TAIL_BEYOND = 10


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, n)`` for the highest integer percentile with at
    least ``TAIL_BEYOND`` samples strictly above it.  With too few samples
    for any percentile to qualify, the maximum is returned as percentile
    100, so the recorded percentile shows the rule was not met."""
    n = len(values)
    for p in range(99, -1, -1):
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= TAIL_BEYOND:
            return v, p, n
    return max(values), 100, n


def geomean(values: list[float]) -> float:
    """Geometric mean.  Over a mix of operations of different sizes it moves
    with every operation's time, where a median jumps between the two
    middle ones.  Samples are floored at 1 ms (micro-batch durations are
    whole milliseconds and may read 0)."""
    return math.exp(sum(math.log(max(v, 1e-3)) for v in values) / len(values))

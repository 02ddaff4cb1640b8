"""Pure helpers of the benchmark: seeded inputs, percentiles, span
arithmetic and Spark SQL-metric parsing. No Spark import, so the tests
run without a JVM."""

from __future__ import annotations

import hashlib
import math
import random
import re
from datetime import datetime, timedelta

TAIL_MIN_BEYOND = 10


def pass_order(names: list[str], seed: int, pass_index: int) -> list[str]:
    """The query order of one pass: a permutation drawn from (seed,
    pass). String seeds hash through SHA-512, so the order is the same
    on every Python build."""
    order = list(names)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    """The highest whole percentile (nearest rank, 1..99) that has at
    least ten samples beyond it, and its value."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        idx = max(0, math.ceil(p * n / 100) - 1)
        if n - 1 - idx >= TAIL_MIN_BEYOND:
            return p, xs[idx]
    raise ValueError(f"{n} samples: a tail needs at least {TAIL_MIN_BEYOND + 1}")


def median(xs: list[float]) -> float:
    ys = sorted(xs)
    n = len(ys)
    if not n:
        raise ValueError("median of no samples")
    mid = n // 2
    return ys[mid] if n % 2 else (ys[mid - 1] + ys[mid]) / 2


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end]
    intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Part of [start, end] that no interval covers: a pass's
    driver-only time is its wall minus the union of its job spans."""
    clipped = [(max(lo, start), min(hi, end)) for lo, hi in intervals]
    return (end - start) - union_length(clipped)


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """The total of a rendered SQL metric, in seconds or bytes.

    The SQL status store renders a metric as '1.8 s' or '16.1 KiB'
    for one task, and as 'total (min, med, max (stageId: taskId))'
    followed by a line that starts with the total for several."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if not lines:
        raise ValueError("empty metric")
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(line.strip())
    if not m:
        raise ValueError(f"unparseable metric: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


def digest(normalized_rows: list[tuple]) -> str:
    """Order-insensitive digest of already normalized result rows."""
    h = hashlib.md5()
    for row in sorted(normalized_rows):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


# ---------------------------------------------------------- export rows

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_START = datetime(2024, 3, 1)


def event_rows(seed: int, n: int, span_hours: int = 48) -> dict[str, list]:
    """`n` rows of the `events` schema drawn from `seed`, in event-time
    order: event_id, ts (naive UTC datetimes, microsecond precision),
    user_id, event_type, value (two decimals) and props."""
    rng = random.Random(f"events:{seed}")
    span_us = span_hours * 3600 * 1_000_000
    offsets = sorted(rng.randrange(span_us) for _ in range(n))
    return {
        "event_id": list(range(n)),
        "ts": [EVENTS_START + timedelta(microseconds=o) for o in offsets],
        "user_id": [rng.randrange(1000) for _ in range(n)],
        "event_type": [EVENT_TYPES[rng.randrange(len(EVENT_TYPES))] for _ in range(n)],
        "value": [rng.randrange(1, 100_000) / 100 for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    }


def count_in_window(ts: list[datetime], lo: datetime, hi: datetime) -> int:
    """Rows the backup's closed time-window filter keeps: lo <= ts <= hi."""
    return sum(1 for t in ts if lo <= t <= hi)

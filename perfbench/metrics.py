"""Metric math shared by the workloads and the traced run. Pure Python, so
it is tested without Spark (perfbench/tests)."""

from __future__ import annotations

import math
import statistics
from typing import Iterable, Optional, Sequence

MIN_BEYOND = 10  # a percentile needs at least this many samples beyond it


def percentile(values: Sequence[float], q: float) -> Optional[float]:
    """The q-th percentile (0 < q < 100, linear interpolation) of
    ``values``, or None when fewer than MIN_BEYOND samples lie beyond it.

    The median needs 2*MIN_BEYOND samples; p80 needs 50; p90 needs 100."""
    n = len(values)
    if n == 0 or n * (100.0 - q) / 100.0 < MIN_BEYOND:
        return None
    xs = sorted(values)
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    """Plain median, for per-kind figures with few samples (reported as a
    median, never as a tail percentile)."""
    return float(statistics.median(values)) if values else 0.0


def fail_ratio(attempted: int, raised: int, wrong: int) -> float:
    """(ops that raised + ops whose result failed its check) / attempted."""
    if attempted <= 0:
        raise ValueError("fail_ratio needs at least one attempted op")
    if raised < 0 or wrong < 0 or raised + wrong > attempted:
        raise ValueError("failures must lie between 0 and attempted")
    return (raised + wrong) / attempted


def round_total(per_kind: dict[str, Sequence[float]]) -> float:
    """One round through the workload's op kinds: the sum, over kinds, of
    each kind's median time."""
    return sum(median(v) for v in per_kind.values() if v)


def self_times(spans: Iterable[dict]) -> dict[str, float]:
    """Self time per layer from nested spans.

    A span is a dict with ``id``, ``parent`` (span id or None), ``layer``,
    ``start`` and ``end``. Its self time is its duration minus the part of
    that interval its child spans cover; children of one parent may not
    overlap each other (the benchmark has a single client thread)."""
    spans = list(spans)
    child_cover: dict = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = s.get("parent")
        if p is None or p not in by_id:
            continue
        parent = by_id[p]
        lo = max(s["start"], parent["start"])
        hi = min(s["end"], parent["end"])
        if hi > lo:
            child_cover[p] = child_cover.get(p, 0.0) + (hi - lo)
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
    return out


def space_amp(stored_bytes: int, fresh_bytes: int) -> float:
    """Bytes a collection holds on disk over the bytes of a fresh parquet
    write of its live view (1.0 = no garbage, no log overhead)."""
    if fresh_bytes <= 0:
        raise ValueError("fresh write must have a positive size")
    return stored_bytes / fresh_bytes


def unstolen(wall_s: float, cpu_s: float, steal_s: float) -> float:
    """Wall time with the share the hypervisor stole taken out.

    Over an interval, the guest's threads ran for ``cpu_s`` and waited,
    runnable, for ``steal_s`` while the host ran other guests. Assuming the
    steal fell evenly on them, the interval would have lasted
    ``wall_s * cpu_s / (cpu_s + steal_s)`` on a host that stole nothing.
    Time spent waiting on anything but the host (I/O, sleeps, idle cores)
    stays in the figure. With no CPU time recorded the wall time is kept."""
    if cpu_s < 0 or steal_s < 0:
        raise ValueError("CPU and steal time cannot be negative")
    if cpu_s == 0:
        return wall_s
    return wall_s * cpu_s / (cpu_s + steal_s)

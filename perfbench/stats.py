"""The benchmark's arithmetic, kept free of Spark so it can be tested."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

TAIL_BEYOND = 10


def median(xs: Iterable[float]) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, int, int]:
    """(value, percentile, samples) of the highest nearest-rank
    percentile that leaves at least ``beyond`` samples above it.

    With n sorted samples that is the sample at rank n - beyond.  Never
    below the median: with fewer than 2 * beyond samples the median is
    returned, at percentile 50."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    rank = max(n - beyond, (n + 1) // 2)  # 1-based
    if rank == (n + 1) // 2:
        return median(xs), 50, n
    return xs[rank - 1], (100 * rank) // n, n


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.

    A span is a dict with ``id``, ``parent`` (an id or None), ``t0`` and
    ``t1``.  Children may overlap each other (spans from several
    threads); the covered part is the union of their intervals, clipped
    to the parent's."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    out = {}
    for s in spans:
        lo, hi = s["t0"], s["t1"]
        covered, end = 0.0, lo
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, end), min(b, hi)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo) - covered
    return out


def cpu_util(jvm_cpu_s: float, py_cpu_s: float, wall_s: float, cores: int) -> float:
    """Share of the machine's cores the JVM and its Python workers kept busy."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return (jvm_cpu_s + py_cpu_s) / (wall_s * cores)


def failed_frac(failed: int, attempted: int) -> float:
    return failed / attempted if attempted else 1.0


def layer_of(name: str) -> str:
    """``functions.text.tokenize`` -> ``functions``."""
    return name.split(".", 1)[0]

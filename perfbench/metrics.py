"""Metric math of the benchmark: pure functions, no Spark.

Kept apart from the workloads so that ``test_metrics.py`` can pin every
rule on synthetic inputs without starting a JVM.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# Percentiles a run may report beside its medians, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)
# A percentile is reported only when this many samples lie beyond it.
MIN_SAMPLES_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def pass_seconds(samples: dict[str, list[float]]) -> float:
    """Time to refresh the query set once: the sum over queries of each
    query's median latency.

    Not a median over the mixed ops (it lands in the gaps between query
    sizes) and not a mean (one slow repeat would move it).
    """
    if not samples:
        raise ValueError("no queries")
    return sum(median(v) for v in samples.values())


def supported_percentile(n_samples: int) -> float | None:
    """The highest tail percentile with at least ``MIN_SAMPLES_BEYOND``
    samples beyond it, or None when the sample count supports none."""
    for p in TAIL_PERCENTILES:
        if n_samples * (100.0 - p) / 100.0 >= MIN_SAMPLES_BEYOND - 1e-9:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))  # ceil
    return ordered[int(rank) - 1]


def tail_report(name: str, values: list[float]) -> dict:
    """Median, sample count and the tail percentile the count supports."""
    out = {f"{name}_p50": median(values), f"{name}_n": len(values)}
    p = supported_percentile(len(values))
    if p is not None:
        out[f"{name}_p{p:g}"] = percentile(values, p)
    return out


@dataclass
class Span:
    """One timed call across a layer boundary."""

    name: str
    start: float
    end: float
    parent: int | None
    op: int
    id: int = 0
    groups: list[str] = field(default_factory=list)  # Spark job groups
    jobs: list[int] = field(default_factory=list)  # job ids, once resolved

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, [])
        ]
        covered = interval_union([(a, b) for a, b in clipped if b > a])
        out[s.id] = s.duration - covered
    return out


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur = None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


@dataclass
class OpTally:
    """Ops attempted and failed in a run.

    An op fails when it raises or when an output check covering it fails;
    an op counts once however many of its checks fail.
    """

    attempted: int = 0
    failed_ops: set = field(default_factory=set)

    def attempt(self) -> int:
        self.attempted += 1
        return self.attempted - 1

    def fail(self, *op_ids: int) -> None:
        self.failed_ops.update(op_ids)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

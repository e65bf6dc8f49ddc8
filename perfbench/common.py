"""Result record and percentile helpers shared by the workloads."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Result:
    """What a workload hands back to ``run.py``.

    ``e2e`` holds the end-to-end metrics (peak RSS is added by the caller)
    and ``report`` the human-readable lines printed before the JSON line.
    A traced run reads the shared per-layer metrics over ``window`` (epoch
    seconds), with counts and sums divided by ``per`` closed-loop
    iterations; ``extra`` holds the per-layer readings only this workload
    has (generator, backlog, registry, planner ...), which are reported
    and written to the trace dir but not part of the shared metric set.
    """

    e2e: dict[str, float]
    attempted: int
    failed: int
    report: list[str] = field(default_factory=list)
    window: tuple[float, float] = (0.0, 0.0)
    per: int = 1
    extra: dict[str, float] = field(default_factory=dict)


def weighted_quantile(samples: list[tuple[float, int]], q: float) -> float:
    """Quantile of (value, weight) samples: the first value whose cumulative
    weight reaches ``q`` of the total."""
    samples = sorted(samples)
    total = sum(w for _, w in samples)
    acc = 0
    for value, weight in samples:
        acc += weight
        if acc >= q * total:
            return value
    return samples[-1][0]


def tail_quantile(n: int, q: float = 0.99, beyond: int = 10) -> float:
    """The highest quantile <= ``q`` with at least ``beyond`` samples past it."""
    if n <= beyond:
        return 1.0
    return min(q, 1.0 - beyond / n)

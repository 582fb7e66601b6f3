"""Small statistics shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values (0.0 for an empty list)."""
    if not values:
        return 0.0
    if any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Outcomes:
    """Attempted/failed tally of timed operations.

    An operation fails when it raises or when its output hash differs
    from the hash its verification established.
    """

    def __init__(self, expected: dict[str, int]):
        self.expected = dict(expected)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, got: int | None, error: BaseException | None = None) -> bool:
        self.attempted += 1
        ok = error is None and got == self.expected.get(name)
        if not ok:
            self.failed += 1
            why = repr(error) if error else f"hash {got} != verified {self.expected.get(name)}"
            self.failures.append(f"{name}: {why}")
        return ok

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

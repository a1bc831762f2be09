"""Summary statistics and result accounting for the benchmark.

Pure Python, no Spark: the tests in ``seambench/tests`` pin these rules.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# A tail percentile is only reported where at least this many samples
# lie beyond it, so one slow sample can never be the whole tail.
TAIL_BEYOND = 10


@dataclass(frozen=True)
class Latency:
    n: int
    p50: float
    tail: float
    tail_pct: float  # share of samples at or below ``tail``, in percent
    tail_beyond: int  # samples strictly ranked beyond ``tail``


def latency(samples: list[float]) -> Latency:
    """Median and tail of ``samples``.

    The tail is the highest percentile with at least ``TAIL_BEYOND``
    samples ranked beyond it: the (n - TAIL_BEYOND)-th smallest value.
    It never drops below the median, so with fewer than
    2 * TAIL_BEYOND + 1 samples the tail is the (upper) median, and
    ``tail_beyond`` says how many samples lie beyond it."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    rank = max(n - TAIL_BEYOND, n // 2 + 1)  # 1-based rank of the tail
    return Latency(
        n=n,
        p50=statistics.median(xs),
        tail=xs[rank - 1],
        tail_pct=100.0 * rank / n,
        tail_beyond=n - rank,
    )


@dataclass
class Tally:
    """Counts attempted and failed operations; a failure is an
    exception or a wrong result. Each problem keeps one line of text."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, name: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is None:
            return True
        self.failed += 1
        self.problems.append(f"{name}: {problem}")
        return False

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0


def values_close(a, b, rel: float = 1e-9) -> bool:
    """Equality for result cells: exact for everything but floats,
    which may differ in the last bits between two engines' summation
    orders."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return abs(fa - fb) <= rel * max(abs(fa), abs(fb), 1.0)
    return a == b


def rows_match(got: list[tuple], want: list[tuple], ordered: bool) -> str | None:
    """None when the two row lists agree, else a one-line reason.
    Unordered results are compared as sorted multisets."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    if not ordered:
        def key(row):
            return [(v is None, str(v)) for v in row]
        got, want = sorted(got, key=key), sorted(want, key=key)
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(values_close(x, y) for x, y in zip(g, w)):
            return f"row {i}: got {g}, expected {w}"
    return None

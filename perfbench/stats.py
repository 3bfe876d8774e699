"""Order statistics, span self time and failure counting for the benchmark.

Kept free of Spark and of the engine so the self-tests can check the
benchmark's own arithmetic on tiny inputs (perfbench/test_stats.py).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

#: a tail percentile is reported only when at least this many samples
#: lie beyond it; with fewer, one outlier decides the figure
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    rank = max(1, math.ceil(q / 100.0 * n))
    return n - rank


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile. A tail (q > 50) needs MIN_BEYOND samples
    beyond it; asking for an unsupported tail raises instead of
    returning a figure one sample decides."""
    if not xs:
        raise ValueError("percentile of no samples")
    n = len(xs)
    if q > 50 and samples_beyond(n, q) < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples has {samples_beyond(n, q)} beyond it;"
            f" needs {MIN_BEYOND}"
        )
    rank = max(1, math.ceil(q / 100.0 * n))
    return float(sorted(xs)[rank - 1])


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover.
    Children run in parallel threads may overlap each other; the covered
    part is their union, clipped to the parent's interval."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


@dataclass
class RoundView:
    """What one crawl round published: the urls it stored text for, and
    how many of its other fetches ended in each non-success outcome."""
    success: set[str]
    other: dict[str, int] = field(default_factory=dict)


def crawl_failures(expected: list[RoundView], got: list[RoundView],
                   bad_text: set[str], expected_seen: set[str],
                   got_seen: set[str]) -> tuple[int, int]:
    """Count one crawl's page operations and the failed ones.

    A page operation is one fetch in one round. A successful fetch is
    known by url: it fails when only one side stored it (this also
    covers the rounds after a call raised, which the engine never ran)
    or when its stored text differs from the golden text (``bad_text``).
    Other fetches are known by outcome count: the fewest pages whose
    outcome would have to change fail. A url on only one side of the
    URL-seen set, or with bad text but no fetch, that no failed page
    operation already covers adds one operation, failed. Returns
    (attempted, failed)."""
    attempted = failed = 0
    covered: set[str] = set()
    for r in range(max(len(expected), len(got))):
        exp = expected[r] if r < len(expected) else RoundView(set())
        g = got[r] if r < len(got) else RoundView(set())
        both = exp.success | g.success
        bad = (exp.success ^ g.success) | (both & bad_text)
        classes = set(exp.other) | set(g.other)
        short = sum(max(0, exp.other.get(c, 0) - g.other.get(c, 0))
                    for c in classes)
        extra = sum(max(0, g.other.get(c, 0) - exp.other.get(c, 0))
                    for c in classes)
        attempted += len(both) + max(sum(exp.other.values()),
                                     sum(g.other.values()))
        failed += len(bad) + max(short, extra)
        covered |= bad
    extra_urls = ((expected_seen ^ got_seen) | bad_text) - covered
    return attempted + len(extra_urls), failed + len(extra_urls)

"""Order statistics the benchmark reports."""

from __future__ import annotations

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has ``beyond`` samples above it.

    With ``n`` samples sorted ascending, that is the sample at rank
    ``n - beyond`` (1-based): exactly ``beyond`` samples lie beyond it,
    and no higher rank keeps that many. Returns ``(value, percentile)``
    with the percentile as ``100 * (n - beyond) / n``. Fewer than
    ``beyond + 1`` samples leave no such percentile, which is an error:
    the caller must collect more samples, not report a smaller tail.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    rank = n - beyond
    return sorted(values)[rank - 1], 100.0 * rank / n


def best_of(ops) -> dict[str, float]:
    """Each operation's best latency over its repetitions in the run.

    Other tenants of the host take CPU time from the guest in bursts
    (steal time); a burst inflates one repetition of an operation, and
    the faster repetition is the operation's own cost."""
    best: dict[str, float] = {}
    for op in ops:
        best[op.name] = min(best.get(op.name, op.seconds), op.seconds)
    return best


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total

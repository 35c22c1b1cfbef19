"""Steadiness self-checks of one run, reported as flags in its details."""
import statistics


def drift(values):
    """Least-squares change from the first to the last value, as a share
    of their median: 24.8, 22.6, 20.4 gives about -0.19."""
    n = len(values)
    if n < 2:
        return 0.0
    xm, ym = (n - 1) / 2, sum(values) / n
    slope = (sum((i - xm) * (v - ym) for i, v in enumerate(values)) /
             sum((i - xm) ** 2 for i in range(n)))
    return slope * (n - 1) / statistics.median(values)


def trending(values, bound):
    """Warm passes that still move one way by more than `bound` over the
    run have not settled (JIT warm-up, a filling cache, a busy box)."""
    return abs(drift(values)) > bound


def backlog_grew(backlog):
    """An open-loop phase whose backlog of unconsumed files, sampled at
    each file's due time, is larger over its last quarter than over its
    second by more than two files and by half ran above the rate the
    stream can sustain. The first quarter is the backlog filling up to
    its steady level, so it is not the base."""
    q = max(1, len(backlog) // 4)
    base, last = sum(backlog[q:2 * q]) / q, sum(backlog[-q:]) / q
    return last - base > max(2.0, 0.5 * base)

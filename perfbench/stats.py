"""Pure arithmetic of the benchmark: percentiles and span self times.

Kept free of I/O so the tests in perfbench/tests can pin it exactly.
"""
TAIL_BEYOND = 10


def tail(values):
    """The highest percentile that has at least TAIL_BEYOND samples beyond
    it: with n sorted samples that is the sample at index n - 11, reported
    as percentile 100 * (n - 10) / n. With n <= TAIL_BEYOND no percentile
    qualifies; the maximum is reported as percentile 100 so the record
    still says how few samples there were.

    Returns (value, percentile, n).
    """
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= TAIL_BEYOND:
        return v[-1], 100.0, n
    return v[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, jobs_by_span):
    """Self time of every span: its duration minus the part of it that its
    child spans, or the Spark jobs attributed to it, cover.

    spans: list of dicts with id, parent, name, start, end (same unit).
    jobs_by_span: span id -> list of (start, end) job intervals.
    Returns (span id -> self time, span id -> job-covered time).
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    self_t, job_t = {}, {}
    for s in spans:
        jobs = jobs_by_span.get(s["id"], [])
        covered = union_length(children.get(s["id"], []) + jobs, s["start"], s["end"])
        self_t[s["id"]] = (s["end"] - s["start"]) - covered
        job_t[s["id"]] = union_length(jobs, s["start"], s["end"])
    return self_t, job_t

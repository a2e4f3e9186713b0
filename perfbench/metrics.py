"""Pure metric logic of the benchmark: percentiles, span self time and the
query-family groups. Kept free of I/O so the tests can pin it."""

import re
import statistics

# Query families, by query-name prefix, and the modules each exercises.
GROUPS = [
    ("tpch", r"q\d+_", "Relational"),
    ("lake", r"(q_lake_|q_merge_upsert$)", "CommitLog, grafttable"),
    ("relational", r"q_", "Relational, Analytics, Graph"),
    ("reference", r"(s\d+_|flagship_)", "TimeSeries"),
    ("text", r"text_", "TextAnalysis, Search"),
    ("dedup", r"dedup_", "Dedup"),
    ("similarity", r"(knn_|sim_)", "Similarity"),
    ("multimodal", r"mm_", "Multimodal"),
    ("curation", r"pipeline_", "Html, Quality, Layout"),
]


def groups_of(name):
    """Every group whose rule matches `name`. `relational` takes the
    `q_*` names that `lake` does not, so a valid name has exactly one."""
    hits = [g for g, pat, _ in GROUPS if re.match(pat, name)]
    if "lake" in hits and "relational" in hits:
        hits.remove("relational")
    return hits


def group_of(name):
    """The one group of a query name; ValueError when there is not
    exactly one, so a new query cannot drop out of every group."""
    hits = groups_of(name)
    if len(hits) != 1:
        raise ValueError(f"query {name!r} falls in groups {hits}, not exactly one")
    return hits[0]


# a tail percentile must have at least this many samples beyond it
TAIL_BEYOND = 10


def tail(samples):
    """The highest percentile that has at least TAIL_BEYOND samples above
    it, as (percentile, value), or None when there are too few samples.

    With n sorted samples, the k-th smallest (1-based) has n - k samples
    beyond it, so k = n - TAIL_BEYOND and the percentile is 100 k / n.
    """
    xs = sorted(samples)
    k = len(xs) - TAIL_BEYOND
    if k < 1:
        return None
    return 100.0 * k / len(xs), xs[k - 1]


def tail_or_max(samples):
    """`tail` when it lies at or above the median, else the maximum:
    (label, value) with label like "p68" or "max"."""
    t = tail(samples)
    if t is not None and t[0] >= 50.0:
        return f"p{t[0]:.0f}", t[1]
    return "max", max(samples)


def covered(intervals, lo, hi):
    """Length of the union of `intervals` (start, end) clipped to
    [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Spans
    are dicts with start_ms and end_ms."""
    lo, hi = span["start_ms"], span["end_ms"]
    return (hi - lo) - covered([(c["start_ms"], c["end_ms"]) for c in children], lo, hi)


def median(xs):
    return statistics.median(xs) if xs else 0.0

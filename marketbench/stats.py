"""Statistics shared by the benchmark and its stability report."""
import statistics

MIN_TAIL = 10  # samples that must lie beyond a reported percentile


class TailTooShort(ValueError):
    pass


def percentile(values, q, min_tail=MIN_TAIL):
    """The q-th percentile (0 < q < 100) by linear interpolation between order
    statistics. Refuses a percentile that fewer than `min_tail` samples lie
    beyond, since such a value is one or two samples' noise."""
    n = len(values)
    beyond = n * (100.0 - q) / 100.0
    if beyond + 1e-9 < min_tail:
        raise TailTooShort(f"p{q:g} of {n} samples has {beyond:.1f} beyond it, need {min_tail}")
    xs = sorted(values)
    pos = (n - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values)


def spread(values):
    """(q1, median, q3, (q3 - q1) / median): a set of runs' quartiles and spread."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent).

    spans: iterable of dicts with id, parent, start, end. Returns {id: self}."""
    spans = list(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out

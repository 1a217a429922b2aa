"""Arithmetic of the benchmark: tail percentile, span self time, digest check.

Kept free of I/O so that test_metrics.py can pin each rule on small inputs.
"""
import statistics

TAIL_BEYOND = 10


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile of `values` that has at least `beyond` samples
    strictly above it. Returns (percentile, value, sample count), or None when
    fewer than beyond + 1 samples exist."""
    xs = sorted(values)
    n = len(xs)
    for i in range(n - beyond - 1, -1, -1):
        above = n - i - 1
        while above > 0 and xs[n - above] == xs[i]:
            above -= 1
        if above >= beyond:
            return 100.0 * (i + 1) / n, xs[i], n
    return None


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. Children may overlap each other (concurrent writer jobs);
    overlapping time is subtracted once. Spans are (id, parent, name, start,
    end); unfinished spans (end None) are skipped. Returns {id: seconds}."""
    done = {s[0]: s for s in spans if s[4] is not None}
    children = {}
    for sid, parent, _, start, end in done.values():
        children.setdefault(parent, []).append((start, end))
    return {sid: (end - start) - union_length(children.get(sid, []), start, end)
            for sid, _, _, start, end in done.values()}


def layer_of(name):
    """Span name to the layer its self time is charged to."""
    if name.startswith("stage:"):
        return "stage"
    if name.startswith("query:"):
        return "query"
    if name.startswith("pass:"):
        return "pass"
    return name


def self_time_by_layer(spans):
    """Sum of self time per layer, and the number of spans in each."""
    st = self_times(spans)
    names = {s[0]: s[2] for s in spans}
    out = {}
    for sid, t in st.items():
        layer = layer_of(names[sid])
        total, count = out.get(layer, (0.0, 0))
        out[layer] = (total + t, count + 1)
    return out


def digest_mismatches(first_pass, golden):
    """Queries whose first-pass digest differs from the golden one. A query
    that ran but has no golden value counts as a mismatch; a query that did
    not finish is counted as failed elsewhere, not here."""
    bad = []
    for row in first_pass:
        if row.get("status") != "ok":
            continue
        want = golden.get(row["query"])
        got = {"rows": row["rows"], "hashsum": row["hashsum"]}
        if want != got:
            bad.append(row["query"])
    return bad


def median(values):
    return statistics.median(values) if values else 0.0


def quantiles(values):
    """First quartile, median and third quartile, as statistics.quantiles(n=4)."""
    return tuple(statistics.quantiles(values, n=4))


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, med, q3 = quantiles(values)
    return (q3 - q1) / med if med else None

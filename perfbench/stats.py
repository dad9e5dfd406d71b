"""Pure statistics helpers for the graft benchmark (no Spark, no I/O)."""
import statistics


def tail(values, beyond=10):
    """Latency at the highest percentile that has at least `beyond`
    samples above it, by nearest rank.

    Returns (value, percentile, samples_beyond). With `beyond` or fewer
    samples no percentile qualifies; the maximum is returned with
    percentile 100 and 0 samples beyond, so the record shows it.
    """
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0, 0
    k = n - beyond
    return xs[k - 1], 100.0 * k / n, beyond


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, quartiles as `statistics.quantiles(values, n=4)` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
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
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover. `spans` are dicts with `id`,
    `parent`, `start` and `end`; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_table(spans):
    """Per span name: count, total ms, self ms and self share of the
    summed query wall time. Query spans are the roots (parent 0)."""
    selfs = self_times(spans)
    wall = sum(s["end"] - s["start"] for s in spans if s["parent"] == 0)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += s["end"] - s["start"]
        row["self_ms"] += selfs[s["id"]]
    for row in table.values():
        row["share"] = row["self_ms"] / wall if wall > 0 else 0.0
    return table

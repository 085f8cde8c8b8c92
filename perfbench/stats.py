"""Statistics the runner derives from a run's record file."""

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values, p):
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = p / 100.0 * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n):
    """The highest ladder percentile with at least ten samples beyond it,
    or the median when ``n`` is too small for any."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) >= 1000.0 - 1e-6:
            return p
    return 50.0


def timing(values):
    """Median and tail of a list of latencies, with the sample count."""
    p = tail_pct(len(values))
    return {"p50": percentile(values, 50.0), "tail": percentile(values, p),
            "tail_pct": p, "n": len(values)}


def union_length(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_split(span):
    """(wall, job-covered, driver) seconds of one recorded span: driver time
    is the part of the span's interval no Spark job covers."""
    wall = (span["t1"] - span["t0"]) / 1e3
    covered = union_length(span["jobs"], span["t0"], span["t1"]) / 1e3
    return wall, covered, wall - covered


def span_stats(ops, names, extra):
    """Per-call means of each span's stats over all its calls.

    ``extra[name]`` lists the byte and file counters reported for a span.
    A span that never ran reports zeros."""
    out = {}
    for name in names:
        calls = [s for o in ops for s in o["spans"] if s["name"] == name]
        split = [span_split(s) for s in calls]
        out[f"{name}.wall_s"] = _mean([w for w, _, _ in split])
        out[f"{name}.driver_s"] = _mean([d for _, _, d in split])
        out[f"{name}.jobs"] = _mean([len(s["jobs"]) for s in calls])
        for key in extra.get(name, ()):
            out[f"{name}.{key}"] = _mean([s[key] for s in calls])
    return out


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def failures(ops, checks):
    """(attempted, failed): every loop operation and every end-of-run check
    is one attempt; an operation that threw or failed its output check,
    and a check that failed, is one failure."""
    attempted = len(ops) + len(checks)
    failed = (sum(1 for o in ops if not o["ok"])
              + sum(1 for c in checks if not c["ok"]))
    return attempted, failed


def correct(ops, checks):
    """True when no operation returned a wrong result and no end-of-run
    check saw one. An operation that threw produced no result: it counts
    in ``failures`` but leaves the outputs correct."""
    return (not any(o["wrong"] for o in ops)
            and not any(c["wrong"] for c in checks))

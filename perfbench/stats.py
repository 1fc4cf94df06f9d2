"""Statistics the benchmark reports, kept apart so they can be tested."""

FAILED = ("error", "timeout", "check_failed")
TAIL_BEYOND = 10


def tail(latencies):
    """Latency at the highest percentile with >= 10 samples beyond it.

    Returns (value, percentile, samples_beyond). With n samples that is
    the (n-10)-th smallest, at percentile 100*(n-10)/n. With 10 or fewer
    samples no percentile qualifies and the maximum is returned with the
    number of samples beyond it (0), so the shortfall shows.
    """
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, 0
    k = n - TAIL_BEYOND
    return xs[k - 1], 100.0 * k / n, TAIL_BEYOND


def failed_ratio(ops):
    """Ops that threw, timed out or failed their output check / attempted."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if o["status"] in FAILED) / len(ops)


def self_times(spans):
    """Total self time (seconds) per span name.

    A span's self time is its duration minus the part of its interval
    that its child spans cover (overlapping children counted once).
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], lo), min(c["end_ns"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo - covered) / 1e9
    return out

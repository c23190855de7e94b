"""Summary statistics the benchmark reports."""
import math

# Percentiles a tail may be reported at, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, pct):
    """Linear-interpolation percentile of `values` (pct in 0..100)."""
    s = sorted(values)
    if not s:
        raise ValueError("no values")
    pos = (len(s) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With fewer than 20 samples no
    percentile above the median has ten beyond it, so the median is
    reported and the percentile says so."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        if n * (100.0 - pct) / 100.0 >= 10 - 1e-9:
            return percentile(values, pct), pct, n
    return percentile(values, 50.0), 50.0, n


def end_to_end(samples, setup_s, peak_rss_mb):
    """The end-to-end metrics of one run from its timed units."""
    secs = [s["s"] for s in samples]
    return {
        "setup_s": (setup_s, "s"),
        "units_per_s": (sum(s["work"] for s in samples) / sum(secs), "1/s"),
        "latency_p50_s": (percentile(secs, 50.0), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def result_line(correct, attempted, failed, metrics):
    """The one-line result the benchmark prints last."""
    import json
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })

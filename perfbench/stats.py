"""Summary statistics shared by the benchmark runner and its self-test."""
import statistics

# A tail percentile is only reported when enough samples sit beyond it.
P90_MIN_SAMPLES = 100


def summarize(samples):
    """Median and sample count of `samples`, plus p90 when n >= 100.

    Returns {"p50": float, "n": int} or {"p50", "p90", "n"}. Empty input
    is an error: a run that timed nothing has nothing to report.
    """
    if not samples:
        raise ValueError("no samples")
    out = {"p50": statistics.median(samples), "n": len(samples)}
    if len(samples) >= P90_MIN_SAMPLES:
        out["p90"] = statistics.quantiles(samples, n=10, method="inclusive")[8]
    return out


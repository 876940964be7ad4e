"""Order statistics and the run's metric arithmetic."""


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def percentile(xs, p):
    """p-th percentile (0..100), linear between the closest ranks."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def failures(requests, verify_errors, mismatches, verified):
    """(attempted, failed): timed requests plus one verification request per
    distinct query; a request fails when it threw, a verification when its
    dump threw or its answer disagrees with the oracle."""
    attempted = len(requests) + verified
    failed = (sum(1 for r in requests if r["error"])
              + len(set(verify_errors) | set(mismatches)))
    return attempted, failed

"""Metric arithmetic shared by run.py and its self-check (test_metrics.py)."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (value, percentile, samples_beyond). Of n sorted samples, the
    one at 1-based rank k has n - k samples above it, so the highest
    qualifying rank is k = n - beyond, i.e. percentile 100 * k / n. With
    `beyond` samples or fewer no rank qualifies; the maximum is returned
    with percentile 100 and 0 samples beyond, so the report says so.
    """
    s = sorted(values)
    if not s:
        return 0.0, 0.0, 0
    if len(s) <= beyond:
        return s[-1], 100.0, 0
    k = len(s) - beyond
    return s[k - 1], 100.0 * k / len(s), beyond


def pinned_ops(pinned, declared):
    """Presence check of the pinned query list: one attempted operation
    per pinned name, failed when the program no longer declares it.
    Returns (attempted, failed, missing names)."""
    have = set(declared)
    missing = [n for n in pinned if n not in have]
    return len(pinned), len(missing), missing


def error_rate(attempted, failed):
    """Failed over attempted operations. Callers count a pinned-but-missing
    query as attempted (see pinned_ops), so a query that disappears raises
    the rate instead of shrinking the denominator."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return failed / attempted


def storage_amp(bytes_at_rest, input_bytes):
    """Bytes at rest per input byte."""
    if input_bytes <= 0:
        raise ValueError("no input bytes")
    return bytes_at_rest / input_bytes


def spread(values):
    """Interquartile range over the median, as statistics.quantiles gives
    the quartiles: the steadiness measure the bounds are checked against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def oracle_results(verify_stdout):
    """Parse the PASS/FAIL lines of tools/verify_local.py into
    {query: None (pass) or reason (fail)}."""
    out = {}
    for line in verify_stdout.splitlines():
        if line.startswith("PASS "):
            out[line[5:].split(" ", 1)[0]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            out[name] = why or "failed"
    return out

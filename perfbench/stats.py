"""Statistics behind the benchmark's end-to-end metrics."""
import statistics


def median(xs):
    """Median of a non-empty sample."""
    return statistics.median(xs)


def percentile(xs, q: float) -> float:
    """Linear-interpolation percentile (numpy's default method), q in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def quartile_spread(xs) -> float:
    """(Q3 - Q1) / median, with the quartiles `statistics.quantiles(n=4)` gives."""
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / med


def failed_op_ratio(attempted: int, failed: int) -> float:
    """Failed or wrong ops over attempted ops."""
    if attempted < 1:
        raise ValueError("no op was attempted")
    return failed / attempted


def write_amp(bytes_added: float, input_bytes: float) -> float:
    """Bytes added under the table (and index) dirs per byte of generated
    input, the input measured as Parquet."""
    return bytes_added / input_bytes


def space_amp(disk_bytes: float, live_bytes: float) -> float:
    """Bytes on disk under the table dir per byte of a compact Parquet copy
    of its live rows."""
    return disk_bytes / live_bytes

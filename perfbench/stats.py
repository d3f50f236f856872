"""Arithmetic over the harness's samples, kept apart so it can be tested."""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median and third quartile, as
    `statistics.quantiles(values, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile as a share of the
    median: the run-to-run spread the benchmark's bounds are set against."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def min_sum(samples):
    """Sum over queries of each query's fastest sample. Queries without a
    sample (they failed) add nothing; they are counted as failed instead."""
    return sum(min(v) for v in samples.values() if v)

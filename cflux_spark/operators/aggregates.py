"""Aggregation operators (SURVEY.md §2.4).

The reference's only aggregate is the 1-minute tumbling ``avg``
(cflux.js:749,766); InfluxQL's full aggregate set is extended here
(sum/min/max/count/stddev/percentile) — all built-in JVM functions, so
they get partial (map-side) aggregation and whole-stage codegen for
free. On a cluster the shuffle key is the (bucket, series) pair, which
is high-cardinality and evenly spread — no skew concern; AQE coalesces
the post-shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    gap_seconds: int,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Session-window aggregation: events of one key closer than
    ``gap_seconds`` apart merge into one session (Spark-native
    ``session_window`` — the streaming-capable sibling of the tumbling
    windows in A1/A2; the same call works under Structured Streaming
    with a watermark). Streaming output mode: use ``append`` — a
    session row is emitted once the watermark passes its close, and
    rows later than the watermark are dropped with one micro-batch of
    lag (Spark filters late events against the PREVIOUS batch's
    watermark and evicts against the updated one; pinned by
    tests/test_streaming_rollup.py).

    Output: (key, session_start, n_events, sum_v) with sum_v in exact
    integer-cents math (see plans/queries docstring). Boundary
    semantics (verified empirically): an event exactly gap_seconds
    after its predecessor still MERGES — a new session starts only
    when the gap is strictly greater. The gaps-and-islands SQL oracle
    mirrors this with `diff > gap`.

    Scale: one shuffle on the session key; within a key the merge is a
    sort-based scan. Skewed keys (one user with 10^8 events) sort, not
    explode — no quadratic path.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    return (
        df.groupBy(key_col, F.session_window(F.col(ts_col), f"{gap_seconds} seconds"))
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents).cast("double") / 100).alias("sum_v"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_v",
        )
    )


def value_histogram(
    df: DataFrame,
    lo: float,
    hi: float,
    n_buckets: int,
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Equal-width histogram of ``value_col`` per key group:
    ``width_bucket`` semantics (bucket 0 = underflow, n_buckets+1 =
    overflow), one map-side-combinable groupBy. The distribution
    profile every data-quality dashboard wants (token-length, score,
    value distributions) at a cost of one narrow shuffle regardless of
    data volume.
    """
    keys = keys or []
    b = F.width_bucket(F.col(value_col), F.lit(lo), F.lit(hi), F.lit(n_buckets))
    return (
        df.groupBy(*keys, b.cast("int").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .orderBy(*keys, "bucket")
    )

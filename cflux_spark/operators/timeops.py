"""Time-range predicates and time bucketing (SURVEY.md §2.2, §2.4).

The reference supports three WHERE-time shapes (cflux.js:702-727):
relative (``time > now() - 24h``), absolute epoch-ns, and ISO strings
(with a 5-minute-floor bug we do not copy), plus a default window when
none parses. Buckets: the reference hard-codes 1-minute tumbling
windows (toStartOfMinute, cflux.js:749) and regex-strips
``GROUP BY time(N)`` (cflux.js:378) — we implement the parameterized
version for real.

All of these are plain column predicates — Catalyst pushes them to the
parquet scan (PushedFilters) and prunes date partitions, which is the
whole scale story for time-series reads: a 24 h query on 100 TB touches
only the matching partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_time_absolute(
    df: DataFrame, ts_col: str, lo_ns: int, hi_ns: int, ts_ns_col: str | None = None
) -> DataFrame:
    """Epoch-nanosecond bounds (F2; divisor TSDIVIDE=1e9, cflux.js:10,712).

    When the frame carries the raw nanosecond long (`ts_ns_col`), the
    exact predicate is applied to IT; a widened-by-≤1µs companion bound
    on `ts_col` is added alongside. Whichever of the two columns is the
    RAW parquet attribute (nanos-as-long layout → ts_ns; µs-timestamp
    layout → ts with ts_ns derived) carries its predicate into
    PushedFilters and prunes row groups — the difference between a
    pruned read and a full scan at 100 TB. The widened companion is a
    strict superset of the ns range, so the conjunction stays exact.
    """
    if ts_ns_col is not None and ts_ns_col in df.columns:
        wide_lo = F.timestamp_micros(F.lit(lo_ns // 1000))
        wide_hi = F.timestamp_micros(F.lit(hi_ns // 1000 + 1))
        return df.filter(
            (F.col(ts_ns_col) > F.lit(lo_ns))
            & (F.col(ts_ns_col) < F.lit(hi_ns))
            & (F.col(ts_col) >= wide_lo)
            & (F.col(ts_col) < wide_hi)
        )
    lo = F.timestamp_micros(F.lit(lo_ns // 1000))
    hi = F.timestamp_micros(F.lit(hi_ns // 1000))
    return df.filter((F.col(ts_col) > lo) & (F.col(ts_col) < hi))


def filter_time_relative_to(df: DataFrame, ts_col: str, anchor: Column, seconds: int) -> DataFrame:
    """``time > anchor - Ns`` (F1). The reference anchors at now();
    for reproducible tests the anchor is injectable (e.g. max(ts))."""
    return df.filter(F.col(ts_col) > anchor - F.expr(f"INTERVAL {seconds} SECONDS"))


def filter_time_relative_now(df: DataFrame, ts_col: str, seconds: int) -> DataFrame:
    return filter_time_relative_to(df, ts_col, F.current_timestamp(), seconds)


def bucket_start(ts_col: str | Column, seconds: int) -> Column:
    """Tumbling-window bucket start as epoch seconds (A2: the
    parameterized GROUP BY time(N) the reference stubs out).

    Uses integer floor-division on the epoch — exactly what
    ``window(ts, "N seconds")`` computes for its window.start, but as a
    single codegen'd expression that the DuckDB oracle can mirror
    (to_timestamp(floor(epoch(ts)/N)*N)).
    """
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return (F.floor(F.unix_timestamp(c) / seconds) * seconds).cast("long")


def bucket_ts(ts_col: str | Column, seconds: int) -> Column:
    """Same bucket, as a timestamp column."""
    return F.timestamp_seconds(bucket_start(ts_col, seconds))


def minute_trunc(ts_col: str | Column) -> Column:
    """toStartOfMinute (C2, cflux.js:749)."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.date_trunc("minute", c)


def hour_trunc(ts_col: str | Column) -> Column:
    """toRelativeHourNum analogue (C3, cflux.js:152) — partition grain."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.date_trunc("hour", c)


def resample_dense(
    df,
    seconds: int,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    fill_value: float | None = 0.0,
):
    """Resample to a dense per-key time grid: bucket to ``seconds``,
    aggregate (exact integer-cents mean), then fill EVERY missing
    bucket between each key's first and last observation — the
    standalone form of InfluxQL's GROUP BY time(N) fill(...), usable
    directly on any frame.

    The dense grid is generated distributively: one row per key holds
    its (min, max) bucket, `sequence()` explodes it to the full grid
    JVM-side — no driver-side range loop, no cross join against a
    global calendar (which would grid the union of all keys' spans).
    ``fill_value=None`` leaves gaps as nulls.

    Scale: grid size is sum over keys of (span/bucket) — the output's
    own size; the explode is narrow. One shuffle for the agg, one
    broadcast-ready join grid←agg per key+bucket.
    """
    bucket = bucket_start(ts_col, seconds)
    cents = F.round(F.col(value_col) * 100).cast("long")
    agg = (
        df.groupBy(F.col(key_col).alias("key"), bucket.alias("bucket_s"))
        .agg((F.sum(cents).cast("double") / F.count("*") / 100).alias("mean"))
    )
    spans = agg.groupBy("key").agg(
        F.min("bucket_s").alias("_lo"), F.max("bucket_s").alias("_hi")
    )
    grid = spans.select(
        "key",
        F.explode(F.sequence(F.col("_lo"), F.col("_hi"), F.lit(seconds))).alias("bucket_s"),
    )
    out = grid.join(agg, ["key", "bucket_s"], "left")
    if fill_value is not None:
        out = out.fillna({"mean": fill_value})
    return out.select(
        F.col("key").alias(key_col),
        F.timestamp_seconds(F.col("bucket_s")).alias("bucket"),
        "mean",
    )

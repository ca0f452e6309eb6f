"""InfluxQL technical-analysis transforms (InfluxDB 1.8 function
surface; absent from the reference engine — cflux.js answers only the
aggregate/selector families, so this is conformance surface the
reference silently lacks).

Implemented functions and the recurrences behind them (N = period,
alpha = 2/(N+1), all per series, ordered by time):

  exponential_moving_average(v, N)        e_i = (1-a_i) e_{i-1} + a_i v_i
  double_exponential_moving_average(v, N) 2*EMA - EMA(EMA)
  triple_exponential_moving_average(v, N) 3*EMA - 3*EMA(EMA) + EMA^3
  triple_exponential_derivative(v, N)     1-point %change of EMA^3 (TRIX)
  relative_strength_index(v, N)           Wilder averages of gains/losses
  chande_momentum_oscillator(v, N)        rolling-window (no recurrence)
  kaufmans_efficiency_ratio(v, N)         rolling-window (no recurrence)
  kaufmans_adaptive_moving_average(v, N)  k_i = (1-sc_i) k_{i-1} + sc_i v_i

Warmup (EMA family): 'exponential' (default, InfluxDB's) scales the
multiplier while fewer than N points have arrived — alpha_t =
2/(min(t,N)+1), so the first point IS the seed and every point emits.
'simple' emits the simple moving average for the first N points and
switches to the exponential recurrence seeded from SMA_N afterwards.
InfluxDB's optional HOLD_PERIOD argument is rejected loudly rather
than half-supported.

Emission: EMA/DEMA/TEMA emit every point; TRIX from the 2nd;
RSI/CMO from the (N+1)-th (they consume N differences);
KER/KAMA from the (N+1)-th (they look back N points).

Execution shape: ``ta_transform`` stages its input once, through
``operators.windows.merged_window_stage`` — per-series windows when
grouping keys exist, the segmented merged series otherwise (no
single-partition WindowExec) — which also numbers the rows ``_t``.
Every rolling piece (lag-1 difference, gain/loss sums, |Δ| sum, lag-N)
runs in that one stage, with carry equal to the look-back N; the
recursions then run through ``operators.recurrence.linear_recurrence``
(segmented affine scan) with coefficients computed as JVM columns and
no window stage after them — Python appears only inside that
operator's per-segment kernel. The 'simple' warmup is the cumulative
mean (a = (t-1)/t, b = v/t for t <= N), so each EMA stage is one
recurrence; TRIX reads EMA^3's previous value from the recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cflux_spark.operators.recurrence import DEFAULT_SEGMENT_SPAN_NS, linear_recurrence
from cflux_spark.operators.windows import merged_window_stage

TA_FNS = {
    "exponential_moving_average",
    "double_exponential_moving_average",
    "triple_exponential_moving_average",
    "triple_exponential_derivative",
    "relative_strength_index",
    "chande_momentum_oscillator",
    "kaufmans_efficiency_ratio",
    "kaufmans_adaptive_moving_average",
}

# the functions with input-side rolling windows; each looks back N rows
_WINDOWED_FNS = {
    "relative_strength_index",
    "chande_momentum_oscillator",
    "kaufmans_efficiency_ratio",
    "kaufmans_adaptive_moving_average",
}

# Kaufman's fast/slow smoothing constants (the standard 2/30 pair,
# which InfluxDB hard-codes as well)
_KAMA_FAST = 2.0 / (2 + 1)
_KAMA_SLOW = 2.0 / (30 + 1)


def _ema_once(df: DataFrame, rec, val_col, n: int, warmup: str, out_col: str, **kw):
    """One EMA stage over ``val_col`` (rows must already carry ``_t``)."""
    t = F.col("_t")
    if warmup == "exponential":
        alpha = F.lit(2.0) / (F.least(t, F.lit(n)) + F.lit(1.0))
        a = F.lit(1.0) - alpha
        b = alpha * F.col(val_col)
    elif warmup == "simple":
        # the first N points emit their running mean — the trailing
        # N-window holds exactly the first t points while t <= N
        const_alpha = 2.0 / (n + 1)
        warm = t <= n
        a = F.when(warm, (t - 1) / t).otherwise(1.0 - const_alpha)
        b = F.when(warm, F.col(val_col) / t).otherwise(F.lit(const_alpha) * F.col(val_col))
    else:
        raise ValueError(f"unsupported warmup type: {warmup!r} (exponential|simple)")
    df = df.withColumn("_a", a).withColumn("_b", b)
    return rec(df, "_a", "_b", out_col, **kw).drop("_a", "_b")


def ta_transform(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    val_col: str,
    fn: str,
    n: int,
    warmup: str = "exponential",
    segment_span: int = DEFAULT_SEGMENT_SPAN_NS,
    out_col: str = "_ta",
) -> DataFrame:
    """Apply TA function ``fn`` with period ``n`` per series. Returns
    the emitted rows of ``df`` (null values dropped first, warmup rows
    the function does not emit filtered out) + ``out_col``."""
    if fn not in TA_FNS:
        raise ValueError(f"unknown TA function: {fn}")
    if n < 1:
        raise ValueError(f"{fn} period must be >= 1, got {n}")
    df = df.filter(F.col(val_col).isNotNull())
    windowed = fn in _WINDOWED_FNS
    staged, w, fin = merged_window_stage(
        df, order_col, n if windowed else 0, segment_span, keys=keys
    )
    v = F.col(val_col)
    t = F.col("_t")

    def rec(d, a_col, b_col, o_col, **kw):
        return linear_recurrence(
            d, keys, order_col, a_col, b_col, o_col, segment_span=segment_span, **kw
        )

    if not windowed:  # the EMA family: recurrences only
        df = fin(staged)
        if fn == "exponential_moving_average":
            return _ema_once(df, rec, val_col, n, warmup, out_col).drop("_t")
        e1 = _ema_once(df, rec, val_col, n, warmup, "_e1")
        e2 = _ema_once(e1, rec, "_e1", n, warmup, "_e2")
        if fn == "double_exponential_moving_average":
            out = e2.withColumn(out_col, F.lit(2.0) * F.col("_e1") - F.col("_e2"))
        elif fn == "triple_exponential_moving_average":
            e3 = _ema_once(e2, rec, "_e2", n, warmup, "_e3")
            out = e3.withColumn(
                out_col,
                F.lit(3.0) * F.col("_e1") - F.lit(3.0) * F.col("_e2") + F.col("_e3"),
            )
        else:  # TRIX: 1-point percent change of the triple-smoothed EMA
            e3 = _ema_once(e2, rec, "_e2", n, warmup, "_e3", prev_col="_e3p")
            prev = F.col("_e3p")
            out = (
                e3.withColumn(out_col, F.when(prev != 0, (F.col("_e3") / prev - 1.0) * 100.0))
                .filter(t >= 2)
                .filter(F.col(out_col).isNotNull())
            )
        return out.drop("_t", "_e1", "_e2", "_e3", "_e3p")

    if fn in ("relative_strength_index", "chande_momentum_oscillator"):
        # both consume the difference series; index u = _t - 1 on it.
        # The rolling window runs over the unfiltered rows: the first
        # row's null difference is skipped by avg/sum.
        d = F.col("_d")
        wr = w.rowsBetween(-(n - 1), 0)
        agg = F.sum if fn == "chande_momentum_oscillator" else F.avg
        staged = (
            staged.withColumn("_d", v - F.lag(val_col).over(w))
            .withColumn("_g", F.when(d.isNotNull(), F.greatest(d, F.lit(0.0))))
            .withColumn("_lo", F.when(d.isNotNull(), F.greatest(-d, F.lit(0.0))))
            .withColumn("_sg", agg("_g").over(wr))
            .withColumn("_sl", agg("_lo").over(wr))
        )
        diffs = fin(staged).filter(d.isNotNull()).withColumn("_u", t - 1)
        if fn == "chande_momentum_oscillator":
            denom = F.col("_sg") + F.col("_sl")
            out = diffs.filter(F.col("_u") >= n).withColumn(
                out_col,
                F.when(denom == 0, 0.0).otherwise(
                    100.0 * (F.col("_sg") - F.col("_sl")) / denom
                ),
            )
        else:  # RSI — Wilder smoothing seeded with the first-N simple mean
            warm = F.col("_u") <= n
            diffs = (
                diffs.withColumn("_ag", F.when(warm, 0.0).otherwise((n - 1) / float(n)))
                .withColumn("_bg", F.when(warm, F.col("_sg")).otherwise(F.col("_g") / n))
                .withColumn("_bl", F.when(warm, F.col("_sl")).otherwise(F.col("_lo") / n))
            )
            out = (
                rec(diffs, "_ag", ["_bg", "_bl"], ["_avg", "_avl"])
                .filter(F.col("_u") >= n)
                .withColumn(
                    out_col,
                    F.when(F.col("_avl") == 0, 100.0).otherwise(
                        100.0 - 100.0 / (1.0 + F.col("_avg") / F.col("_avl"))
                    ),
                )
            )
        return out.drop(
            "_t", "_d", "_u", "_g", "_lo", "_sg", "_sl", "_ag", "_bg", "_bl", "_avg", "_avl"
        )

    # kaufmans_efficiency_ratio / kaufmans_adaptive_moving_average
    staged = staged.withColumn("_dabs", F.abs(v - F.lag(val_col).over(w)))
    staged = staged.withColumn(
        "_vol", F.sum("_dabs").over(w.rowsBetween(-(n - 1), 0))
    ).withColumn("_dir", F.abs(v - F.lag(val_col, n).over(w)))
    er = F.when(F.col("_vol") == 0, 0.0).otherwise(F.col("_dir") / F.col("_vol"))
    df = fin(staged).withColumn("_er", er)
    if fn == "kaufmans_efficiency_ratio":
        out = df.filter(t >= n + 1).withColumn(out_col, F.col("_er"))
    else:
        # explicit product, not F.pow(x, 2): libm pow is only
        # 1-ulp-accurate and differs between JVM and C runtimes;
        # x*x is one IEEE rounding everywhere, so the DuckDB
        # oracle (q_ta_kama) reproduces sc bit-for-bit
        sc_base = F.col("_er") * F.lit(_KAMA_FAST - _KAMA_SLOW) + F.lit(_KAMA_SLOW)
        sc = sc_base * sc_base
        seedrow = t <= n + 1
        df = df.withColumn("_a", F.when(seedrow, 0.0).otherwise(1.0 - sc)).withColumn(
            "_b", F.when(seedrow, v).otherwise(sc * v)
        )
        out = rec(df, "_a", "_b", out_col).filter(t >= n + 1)
    return out.drop("_t", "_dabs", "_vol", "_dir", "_er", "_a", "_b")

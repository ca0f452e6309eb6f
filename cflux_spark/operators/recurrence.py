"""Distributed first-order linear recurrences (e_i = a_i*e_{i-1} + b_i).

The primitive behind the InfluxQL technical-analysis transform family
(EXPONENTIAL_MOVING_AVERAGE and friends — InfluxDB 1.8 `SELECT`
function surface; the reference engine, cflux.js, has none of these).
Every one of those functions is a first-order linear recurrence once
its per-row coefficients are written down:

    EMA:  e_i = (1-alpha)*e_{i-1} + alpha*v_i
    RSI:  Wilder averages  g_i = (1-1/N)*g_{i-1} + gain_i/N
    KAMA: k_i = (1-sc_i)*k_{i-1} + sc_i*v_i   (sc_i data-dependent)

so the engine implements ONE scan operator and derives the family from
JVM-computed coefficient columns.

Why not a Window expression: Catalyst has no O(n) scan primitive — a
running product/fold with per-row coefficients is not expressible as a
window aggregate (cumulative sums cover only a == 1). Why not one big
``collect_list`` + ``F.aggregate`` fold per series: that materializes
a whole series as a single array in one task, the skew the segmented
operators in ``operators.windows`` exist to avoid.

Shape here (Blelloch-style scan over affine maps):

  1. rows bucket into ``segment_span`` slices of ``order_col`` per
     series — the unit of parallelism, the same fixed slices
     ``operators.windows.merged_window_stage`` uses for a merged
     series;
  2. ONE Arrow-batched kernel per (series, segment) computes, by an
     exact sequential fold from zero state, the within-segment pair
     (P_i = prod a, l_i = local recurrence) for every row — the only
     Python in the operator, sanctioned by SURVEY §2.10's policy note
     for sequential-recurrence kernels;
  3. per-segment summaries (one row each: P_end, l_end) compose
     across segments in the JVM — affine-map composition is plain
     algebra, folded per series over the TINY summary frame;
  4. each row finalizes as  e_i = l_i + P_i * c_in(segment)  with the
     carry broadcast back — pure codegen.

The operator uses its input twice (the rows and their summaries), so a
caller chaining recurrences should feed each one the previous one's
output directly, with no window stage in between: ``ta_transform``
runs its windows once, before the first recurrence, and reads a lagged
recurrence value (TRIX) from ``prev_col`` rather than from a lag window.

Exactness: the within-segment fold is the literal sequential
recurrence; cross-segment composition  e = l + P*c  is algebraically
identical to continuing the fold (floating-point rounding differs from
a single serial pass only in the usual last-ulp sense). ``a_i == 0``
forgets all history — callers encode warmup seeds that way. A segment
whose accumulated product underflows to 0.0 simply (and correctly)
stops propagating its carry.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# one hour of nanosecond timestamps — matches the merged_* operators
DEFAULT_SEGMENT_SPAN_NS = 3600 * 1_000_000_000


def linear_recurrence(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    a_col: str,
    b_col: str | list[str],
    out_col: str | list[str] = "rec",
    segment_span: int = DEFAULT_SEGMENT_SPAN_NS,
    prev_col: str | None = None,
) -> DataFrame:
    """Per-series  e_i = a_i * e_{i-1} + b_i  over rows ordered by
    ``order_col`` (ties broken by ``order_col`` only — callers with
    duplicate order values should dedup first, as the InfluxQL store
    does for same-timestamp points).

    ``b_col``/``out_col`` may be equal-length lists: each ``b`` runs
    its own recurrence under the shared ``a`` in the same scan (RSI's
    two Wilder averages). ``prev_col`` names an extra column holding
    e_{i-1} of the first recurrence — the state before row i's update,
    0 on a series' first row.

    ``keys`` may be empty: the whole frame is then ONE merged series
    and segments alone carry the parallelism (no single-partition
    stage — the per-row work still runs one task per segment; only the
    one-row-per-segment summary fold is driver-of-one-group sized).

    Contract: ``a_col``/``b_col`` non-null on every row (pre-filter
    null values); ``a_i == 0`` starts the recurrence over at ``b_i``.
    Returns ``df`` + the output columns; row count and all input
    columns are preserved.
    """
    b_cols = [b_col] if isinstance(b_col, str) else list(b_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(b_cols) != len(out_cols):
        raise ValueError(f"{len(b_cols)} b columns but {len(out_cols)} output columns")
    k = len(b_cols)
    seg = F.floor(F.col(order_col) / F.lit(int(segment_span))).cast("long")
    staged = df.withColumn("_seg", seg)

    # per row: _p = prod a, _l{j} = local recurrence j; with prev_col
    # also the state before the row's update (_pp, _lp)
    state = ["_p", *[f"_l{j}" for j in range(k)]]
    if prev_col:
        state += ["_pp", "_lp"]
    out_schema = T.StructType(
        staged.schema.fields + [T.StructField(c, T.DoubleType()) for c in state]
    )
    a_name, o_name = a_col, order_col
    grp_cols = [*keys, "_seg"]

    # ONE streaming kernel over hash-partitioned, within-partition
    # sorted rows — NOT groupBy(keys, _seg).applyInPandas: sparse
    # series shatter into millions of tiny (series, segment) groups
    # and per-group Arrow slicing dominates (measured: 10^4 series x
    # 10^3 pts at 1000 s spacing -> 2.78M four-row groups, stalled;
    # this shape streams the same rows in one pass per partition,
    # resetting (P, l) at group boundaries). Parallelism and shuffle
    # are IDENTICAL to the groupBy form: hash on (keys, segment), so
    # a huge single series still spreads across its segments.
    def _scan_stream(batches):
        import numpy as np

        carry_key = None
        p, ls = 1.0, [0.0] * k
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            a = pdf[a_name].to_numpy(dtype=float)
            bs = [pdf[c].to_numpy(dtype=float) for c in b_cols]
            # vectorized group-boundary mask (no per-row tuple builds)
            cols = [pdf[c].to_numpy() for c in grp_cols]
            change = np.zeros(n, dtype=bool)
            for arr in cols:
                change[1:] |= arr[1:] != arr[:-1]
            change[0] = carry_key != tuple(arr[0] for arr in cols)
            carry_key = tuple(arr[-1] for arr in cols)
            p_out = [0.0] * n
            l_out = [[0.0] * n for _ in range(k)]
            pp_out = [0.0] * n
            lp_out = [0.0] * n
            for i in range(n):
                if change[i]:
                    p, ls = 1.0, [0.0] * k
                pp_out[i] = p
                lp_out[i] = ls[0]
                p = a[i] * p
                for j in range(k):
                    ls[j] = a[i] * ls[j] + bs[j][i]
                    l_out[j][i] = ls[j]
                p_out[i] = p
            pdf["_p"] = p_out
            for j in range(k):
                pdf[f"_l{j}"] = l_out[j]
            if prev_col:
                pdf["_pp"] = pp_out
                pdf["_lp"] = lp_out
            yield pdf

    scanned = (
        staged.repartition(*grp_cols)
        .sortWithinPartitions(*grp_cols, o_name)
        .mapInPandas(_scan_stream, out_schema)
    )

    # one row per (series, segment): the affine summary (A, B_j) = the
    # last row's (P, l_j). Carry-in for segment m is the recurrence
    # value at the end of segment m-1: c_m = B_{m-1} + A_{m-1} * c_{m-1},
    # folded in segment order over the tiny summary frame (JVM HOF —
    # arrays are #segments-per-series long, thousands at most).
    summaries = scanned.groupBy(*keys, "_seg").agg(
        F.max_by(
            F.struct(
                F.col("_p").alias("p"), *[F.col(f"_l{j}").alias(f"l{j}") for j in range(k)]
            ),
            F.col(o_name),
        ).alias("_s")
    )
    c_type = ", ".join(f"c{j}: double" for j in range(k))
    folded = summaries.groupBy(*keys).agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("_seg").alias("seg"), F.col("_s").alias("s")))
            ),
            F.struct(
                *[F.lit(0.0).alias(f"c{j}") for j in range(k)],
                F.expr(f"cast(array() as array<struct<seg: long, {c_type}>>)").alias("outs"),
            ),
            lambda acc, x: F.struct(
                *[
                    (x["s"][f"l{j}"] + x["s"]["p"] * acc[f"c{j}"]).alias(f"c{j}")
                    for j in range(k)
                ],
                F.concat(
                    acc["outs"],
                    F.array(
                        F.struct(
                            x["seg"].alias("seg"),
                            *[acc[f"c{j}"].alias(f"c{j}") for j in range(k)],
                        )
                    ),
                ).alias("outs"),
            ),
            lambda acc: acc["outs"],
        ).alias("_carries")
    )
    carries = folded.select(*keys, F.explode("_carries").alias("_e")).select(
        *keys,
        F.col("_e.seg").alias("_seg"),
        *[F.col(f"_e.c{j}").alias(f"_cin{j}") for j in range(k)],
    )
    out = scanned.join(F.broadcast(carries), [*keys, "_seg"], "left")
    cin = [F.coalesce(f"_cin{j}", F.lit(0.0)) for j in range(k)]
    for j, c in enumerate(out_cols):
        out = out.withColumn(c, F.col(f"_l{j}") + F.col("_p") * cin[j])
    if prev_col:
        out = out.withColumn(prev_col, F.col("_lp") + F.col("_pp") * cin[0])
    return out.drop("_seg", *state, *[f"_cin{j}" for j in range(k)])

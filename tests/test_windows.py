"""Window operator tests: the segmented (skew-proof) lag must be
bit-identical to the plain per-series window on real data, including
segment-boundary rows and single-row segments."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cflux_spark.operators import windows
from cflux_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_segmented_equals_global(spark):
    ev = load_table(spark, SF_DIR, "events")
    plain = windows.series_difference(
        ev, key_cols=["user_id", "event_type"], order_tiebreak=["event_id"]
    ).select("event_id", "diff")
    seg = windows.series_difference_segmented(
        ev, key_cols=["user_id", "event_type"], order_tiebreak=["event_id"], segment_span_s=3600
    ).select("event_id", "diff")
    a = {r.event_id: r.diff for r in plain.collect()}
    b = {r.event_id: r.diff for r in seg.collect()}
    assert a == b and len(a) > 0


def test_segmented_tiny_span_many_boundaries(spark):
    """A 60s span forces nearly every row onto a segment boundary —
    the boundary-stitch path is exercised everywhere."""
    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 20)
    plain = windows.series_difference(
        ev, key_cols=["user_id", "event_type"], order_tiebreak=["event_id"]
    ).select("event_id", "diff")
    seg = windows.series_difference_segmented(
        ev, key_cols=["user_id", "event_type"], order_tiebreak=["event_id"], segment_span_s=60
    ).select("event_id", "diff")
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in seg.collect()}


def _merged_fixture(spark):
    """Sparse irregular single 'series': multi-hour gaps (empty
    segments between populated ones), duplicate-free ts, distinct
    values — the shapes merged_window_stage must carry across."""
    import random

    rng = random.Random(7)
    ts = sorted(rng.sample(range(0, 40 * 3600 * 10**9, 10**9), 400))
    rows = [(int(t), float(i) * 1.5 - 100.0) for i, t in enumerate(ts)]
    return spark.createDataFrame(rows, "ts_ns long, value double").repartition(8)


def test_merged_window_stage_lag_equals_global(spark):
    from pyspark.sql import Window

    df = _merged_fixture(spark)
    wg = Window.partitionBy(F.lit(1)).orderBy("ts_ns")
    want = {
        (r.ts_ns, r.d)
        for r in df.withColumn("d", F.col("value") - F.lag("value").over(wg)).collect()
    }
    staged, w, fin = windows.merged_window_stage(df, segment_span=3600 * 10**9)
    got = {
        (r.ts_ns, r.d)
        for r in fin(
            staged.withColumn("d", F.col("value") - F.lag("value").over(w))
        ).collect()
    }
    assert got == want and len(got) == 400
    # the stage numbers rows globally: _t is the merged row_number
    rn = {r.ts_ns: r.rn for r in df.withColumn("rn", F.row_number().over(wg)).collect()}
    assert {r.ts_ns: r._t for r in fin(staged).collect()} == rn


def test_merged_window_stage_trailing_frame_equals_global(spark):
    """rowsBetween(-(n-1), 0) with carry_rows=n-1 — the moving_average
    shape — must match the single-partition window exactly."""
    from pyspark.sql import Window

    n = 5
    df = _merged_fixture(spark)
    wg = Window.partitionBy(F.lit(1)).orderBy("ts_ns").rowsBetween(-(n - 1), 0)
    want = {
        (r.ts_ns, round(r.m, 9), r.c)
        for r in df.withColumn("m", F.avg("value").over(wg))
        .withColumn("c", F.count("value").over(wg))
        .collect()
    }
    staged, w, fin = windows.merged_window_stage(
        df, carry_rows=n - 1, segment_span=3600 * 10**9
    )
    wm = w.rowsBetween(-(n - 1), 0)
    got = {
        (r.ts_ns, round(r.m, 9), r.c)
        for r in fin(
            staged.withColumn("m", F.avg("value").over(wm)).withColumn(
                "c", F.count("value").over(wm)
            )
        ).collect()
    }
    assert got == want


def test_merged_running_sum_equals_global(spark):
    from pyspark.sql import Window

    df = _merged_fixture(spark)
    wg = Window.partitionBy(F.lit(1)).orderBy("ts_ns").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        (r.ts_ns, round(r.cs, 6))
        for r in df.withColumn("cs", F.sum("value").over(wg)).collect()
    }
    got = {
        (r.ts_ns, round(r.cs, 6))
        for r in windows.merged_running_sum(
            df, "value", "cs", segment_span=3600 * 10**9
        ).collect()
    }
    assert got == want


def test_merged_window_stage_partitions_fact_window_by_segment(spark):
    """Plan shape: the window over the FACT rows must be partitioned
    (by the dense segment), never a no-partition WindowExec — the only
    global window allowed is the tiny one-row-per-segment rank."""
    df = _merged_fixture(spark)
    staged, w, fin = windows.merged_window_stage(df, segment_span=3600 * 10**9)
    out = fin(staged.withColumn("d", F.col("value") - F.lag("value").over(w)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re

    fact_windows = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "lag(value" in ln
    ]
    assert fact_windows, plan
    assert all("_dseg" in ln for ln in fact_windows), plan


def test_merged_window_stage_thin_segments_propagate_carry(spark):
    """Segments holding FEWER rows than carry_rows: the trailing-frame
    history must reach through thin segments (one row per segment,
    n=4 trailing frame)."""
    from pyspark.sql import Window

    n = 4
    rows = [(i * 3600 * 10**9, float(i + 1)) for i in range(12)]  # 1 row/segment
    df = spark.createDataFrame(rows, "ts_ns long, value double").repartition(5)
    wg = Window.partitionBy(F.lit(1)).orderBy("ts_ns").rowsBetween(-(n - 1), 0)
    want = {
        (r.ts_ns, round(r.m, 9), r.c)
        for r in df.withColumn("m", F.avg("value").over(wg))
        .withColumn("c", F.count("value").over(wg))
        .collect()
    }
    staged, w, fin = windows.merged_window_stage(
        df, carry_rows=n - 1, segment_span=3600 * 10**9
    )
    wm = w.rowsBetween(-(n - 1), 0)
    got = {
        (r.ts_ns, round(r.m, 9), r.c)
        for r in fin(
            staged.withColumn("m", F.avg("value").over(wm)).withColumn(
                "c", F.count("value").over(wm)
            )
        ).collect()
    }
    assert got == want


def test_merged_fill_forward_equals_global(spark):
    """Segmented forward fill must equal last(ignorenulls) over the
    single-partition window, including null runs LONGER than a
    segment and all-null leading segments."""
    from pyspark.sql import Window

    rows = []
    for i in range(300):
        # nulls for long stretches: segments 2-5 entirely null
        v = None if (i < 5 or 60 <= i < 180 or i % 7 == 0) else float(i)
        rows.append((i * 120 * 10**9, v))
    df = spark.createDataFrame(rows, "ts_ns long, value double").repartition(7)
    wg = Window.partitionBy(F.lit(1)).orderBy("ts_ns").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = {
        (r.ts_ns, r.f)
        for r in df.withColumn("f", F.last("value", ignorenulls=True).over(wg)).collect()
    }
    got = {
        (r.ts_ns, r.value)
        for r in windows.merged_fill_forward(
            df, "value", "ts_ns", 3600 * 10**9
        ).collect()
    }
    assert got == want


def test_merged_fill_linear_equals_global(spark):
    """Segmented linear interpolation must equal the single-partition
    prev/next-struct form, including gaps spanning whole segments and
    leading/trailing nulls staying null."""
    from pyspark.sql import Window

    rows = []
    for i in range(240):
        # known points sparse: every 50th row; nulls elsewhere, with
        # leading (i<7) and trailing (i>=220) null runs never filled
        v = float(i * 2) if (7 <= i < 220 and i % 50 == 0) else None
        rows.append((i * 600 * 10**9, v))  # 10-min spacing, 1h segments
    df = spark.createDataFrame(rows, "ts_ns long, value double").repartition(6)
    wp = Window.partitionBy(F.lit(1)).orderBy("ts_ns").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy(F.lit(1)).orderBy("ts_ns").rowsBetween(
        0, Window.unboundedFollowing
    )
    known = F.when(
        F.col("value").isNotNull(),
        F.struct(F.col("ts_ns").alias("t"), F.col("value").alias("v")),
    )
    prev = F.last(known, ignorenulls=True).over(wp)
    nxt = F.first(known, ignorenulls=True).over(wn)
    interp = prev["v"] + (nxt["v"] - prev["v"]) * (
        (F.col("ts_ns") - prev["t"]) / (nxt["t"] - prev["t"])
    )
    want = {
        (r.ts_ns, r.f)
        for r in df.withColumn(
            "f", F.coalesce(F.col("value"), F.round(interp, 6))
        ).collect()
    }
    got = {
        (r.ts_ns, r.value)
        for r in windows.merged_fill_linear(df, "value", "ts_ns", 3600 * 10**9).collect()
    }
    assert got == want
    nulls = [t for t, v in got if v is None]
    assert nulls  # leading/trailing runs really stayed null

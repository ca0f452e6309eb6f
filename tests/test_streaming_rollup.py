"""Watermarked rollup + stateful series-diff streaming tests, driven
through the memory-stream → memory-sink path so late/ordered arrival
is controlled."""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from cflux_spark.streaming.rollup import stateful_series_diff, windowed_rollup


def _wait_rows(spark, table, n, timeout=60):
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        rows = spark.sql(f"SELECT * FROM {table}").collect()
        if len(rows) >= n:
            return rows
        time.sleep(0.5)
    return spark.sql(f"SELECT * FROM {table}").collect()


def test_windowed_rollup_batchlike(spark):
    """Semantics check on a bounded frame (same plan, batch mode):
    one window row per (fingerprint, minute)."""
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:10", 1.0),
            (1, "2024-01-01 00:00:50", 3.0),
            (1, "2024-01-01 00:01:10", 5.0),
            (2, "2024-01-01 00:00:20", 7.0),
        ],
        "fingerprint long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = windowed_rollup(df).orderBy("fingerprint", "window.start").collect()
    assert [(r.fingerprint, r.mean, r.n) for r in out] == [
        (1, 2.0, 2),
        (1, 5.0, 1),
        (2, 7.0, 1),
    ]


def test_stateful_series_diff_across_batches(spark, tmp_path):
    """The diff must carry state ACROSS micro-batches: feed two
    batches through a MemoryStream-like rate of files."""
    src = str(tmp_path / "in")
    os.makedirs(src)

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for key, ts_ns, val in rows:
                f.write(f"{key},{ts_ns},{val}\n")

    write_batch("b1.csv", [("s1", 1_000_000_000, 10.0), ("s1", 2_000_000_000, 13.0)])

    lines = (
        spark.readStream.format("text")
        .load(src)
        .select(F.split("value", ",").alias("p"))
        .select(
            F.col("p")[0].alias("series_key"),
            F.col("p")[1].cast("long").alias("ts_ns"),
            F.timestamp_micros((F.col("p")[1].cast("long") / 1000).cast("long")).alias("ts"),
            F.col("p")[2].cast("double").alias("value"),
        )
    )
    out = stateful_series_diff(lines)
    q = (
        out.writeStream.format("memory")
        .queryName("diffs")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        rows = _wait_rows(spark, "diffs", 2)
        got = {(r.series_key, r.value): r.diff for r in rows}
        assert got[("s1", 10.0)] is None
        assert got[("s1", 13.0)] == 3.0

        # second batch arrives later: state must remember value=13
        write_batch("b2.csv", [("s1", 3_000_000_000, 20.0), ("s2", 1_000_000_000, 1.0)])
        rows = _wait_rows(spark, "diffs", 4)
        got = {(r.series_key, r.value): r.diff for r in rows}
        assert got[("s1", 20.0)] == 7.0  # 20 - 13 across the batch boundary
        assert got[("s2", 1.0)] is None
    finally:
        q.stop()


def test_sessionize_under_structured_streaming(spark, tmp_path):
    """aggregates.sessionize's session_window groupBy runs under
    readStream with a watermark (append mode emits a session once the
    watermark passes its close) — pins the 'streaming-capable' claim.
    Late data beyond the watermark would be dropped; here all events
    arrive in order so every session closes."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "sess_in")
    os.makedirs(src)
    with open(os.path.join(src, "a.csv"), "w") as f:
        # user 1: two sessions (gap 45 min > 30 min); user 2: one
        for row in [
            "1,2024-01-01 00:00:00,1.0",
            "1,2024-01-01 00:10:00,2.0",
            "1,2024-01-01 00:55:00,4.0",
            "2,2024-01-01 00:00:00,8.0",
            # a far-future row advances the watermark past all sessions
            "3,2024-01-02 00:00:00,0.5",
        ]:
            f.write(row + "\n")
    stream = (
        spark.readStream.schema("user_id long, ts_s string, value string")
        .format("csv")
        .load(src)
        .select("user_id", F.to_timestamp("ts_s").alias("ts"), F.col("value").cast("double"))
        .withWatermark("ts", "1 minute")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    agg = (
        stream.groupBy("user_id", F.session_window("ts", "1800 seconds"))
        .agg(F.count("*").alias("n_events"), (F.sum(cents).cast("double") / 100).alias("sum_v"))
        .select("user_id", F.col("session_window.start").alias("session_start"), "n_events", "sum_v")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.user_id, str(r.session_start)): (r.n_events, r.sum_v)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert rows[(1, "2024-01-01 00:00:00")] == (2, 3.0)
    assert rows[(1, "2024-01-01 00:55:00")] == (1, 4.0)
    assert rows[(2, "2024-01-01 00:00:00")] == (1, 8.0)


def test_sessionize_streaming_matches_batch_and_drops_late(spark, tmp_path):
    """Two pins on the streaming path: (1) closed streaming sessions
    have EXACTLY the boundaries/aggregates batch sessionize computes
    on the same on-time rows; (2) a row arriving in a later
    micro-batch with event time far behind the watermark is dropped
    (bounded state — the price of append-mode sessionization)."""
    import time

    import pyspark.sql.functions as F

    from cflux_spark.operators.aggregates import sessionize

    src = str(tmp_path / "sess2_in")
    os.makedirs(src)
    on_time = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),
        (1, "2024-01-01 00:55:00", 4.0),
        (2, "2024-01-01 00:00:00", 8.0),
        (3, "2024-01-02 00:00:00", 0.5),  # advances watermark past all 2024-01-01 sessions
    ]
    spacer = (3, "2024-01-02 00:05:00", 0.25)
    with open(os.path.join(src, "a.csv"), "w") as f:
        for u, ts, v in on_time:
            f.write(f"{u},{ts},{v}\n")
    # Spark's late-event filter uses the PREVIOUS batch's watermark
    # (eviction uses the updated one — SPARK-24699 semantics), so the
    # watermark advanced by a.csv governs late filtering from the
    # SECOND following batch on. b.csv is the spacer batch; the late
    # row goes in c.csv. mtime ordering fixes the batch order under
    # maxFilesPerTrigger=1.
    time.sleep(1.1)
    with open(os.path.join(src, "b.csv"), "w") as f:
        f.write(",".join(map(str, spacer)) + "\n")
    time.sleep(1.1)
    with open(os.path.join(src, "c.csv"), "w") as f:
        f.write("4,2024-01-01 00:20:00,9.0\n")  # ~24h behind the watermark: must drop
    stream = (
        spark.readStream.schema("user_id long, ts_s string, value string")
        .format("csv")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .select("user_id", F.to_timestamp("ts_s").alias("ts"), F.col("value").cast("double"))
        .withWatermark("ts", "1 minute")
    )
    agg = sessionize(stream, 1800)
    q = (
        agg.writeStream.format("memory")
        .queryName("sess2_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess2_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.session_start), r.n_events, r.sum_v)
        for r in spark.sql("SELECT * FROM sess2_out").collect()
    }
    assert not any(u == 4 for (u, *_rest) in got), f"late row leaked into state: {got}"
    # batch oracle over the on-time rows; the watermark holds back
    # sessions it hasn't sealed (user 3's far-future one), so closed
    # streaming sessions must be a subset with identical boundaries
    batch_df = spark.createDataFrame(
        on_time + [spacer], "user_id long, ts_s string, value double"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"), "value")
    want = {
        (r.user_id, str(r.session_start), r.n_events, r.sum_v)
        for r in sessionize(batch_df, 1800).collect()
    }
    assert got <= want
    closed = {t for t in want if t[0] != 3}  # every 2024-01-01 session is sealed
    assert closed <= got


def _stream_ta_harness(spark, tmp_path, tag, op, out_field, vals, n_expect, split=3):
    """Feed ``vals`` as two micro-batches through a file stream into
    stateful operator ``op``; return {value: out_field} once
    ``n_expect`` rows have emitted (polling, not a fixed sleep — a
    loaded box made a sleep-based wait flaky). Batch 2 is written only
    once batch 1 has been processed, so state crosses the boundary."""
    src = str(tmp_path / f"in_{tag}")
    os.makedirs(src)

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for key, ts_ns, val in rows:
                f.write(f"{key},{ts_ns},{val}\n")

    write_batch("b1.csv", [("s1", (i + 1) * 10**9, v) for i, v in enumerate(vals[:split])])
    lines = (
        spark.readStream.format("text")
        .load(src)
        .select(F.split("value", ",").alias("p"))
        .select(
            F.col("p")[0].alias("series_key"),
            F.col("p")[1].cast("long").alias("ts_ns"),
            F.timestamp_micros((F.col("p")[1].cast("long") / 1000).cast("long")).alias("ts"),
            F.col("p")[2].cast("double").alias("value"),
        )
    )
    q = (
        op(lines).writeStream.format("memory")
        .queryName(f"ta_{tag}")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        # batch 1 may by design emit nothing (RSI/KAMA need n+1
        # points), so wait for it to be processed, not for a row
        q.processAllAvailable()
        write_batch(
            "b2.csv",
            [("s1", (i + 1 + split) * 10**9, v) for i, v in enumerate(vals[split:])],
        )
        rows = _wait_rows(spark, f"ta_{tag}", n_expect, timeout=120)
    finally:
        q.stop()
    return {float(r.value): getattr(r, out_field) for r in rows}, rows


def _batch_ta_reference(spark, vals, fn, n):
    """The batch TA operator on the same points — the parity oracle."""
    from cflux_spark.operators.ta import ta_transform

    df = spark.createDataFrame(
        [("s1", (i + 1) * 10**9, v) for i, v in enumerate(vals)],
        "series_key string, ts_ns long, value double",
    )
    out = ta_transform(df, ["series_key"], "ts_ns", "value", fn, n)
    return {float(r.value): r._ta for r in out.collect()}


def test_stateful_rsi_matches_batch_across_batches(spark, tmp_path):
    """Streaming RSI == batch RSI on the same points, with the Wilder
    averages carried ACROSS micro-batches (the seed window spans the
    batch boundary: n=3 needs 4 points, batch 1 has 3)."""
    from cflux_spark.streaming.rollup import stateful_rsi

    vals = [10.0, 13.0, 11.0, 16.0, 12.0, 14.0, 9.0]
    got, rows = _stream_ta_harness(
        spark, tmp_path, "rsi", lambda df: stateful_rsi(df, n=3), "rsi", vals, n_expect=4
    )
    want = _batch_ta_reference(spark, vals, "relative_strength_index", 3)
    # emission starts at the (n+1)-th point = 16.0
    assert set(want) == {16.0, 12.0, 14.0, 9.0}
    assert got == want, (got, want)  # bit-equal: same fp shapes


def test_stateful_kama_matches_batch_across_batches(spark, tmp_path):
    """Streaming KAMA == batch KAMA bit-for-bit — the data-dependent
    coefficient (efficiency ratio over the last n points) must see the
    same lookback window across the micro-batch boundary."""
    from cflux_spark.streaming.rollup import stateful_kama

    vals = [10.0, 13.0, 11.0, 16.0, 12.0, 14.0, 9.0, 15.0]
    got, rows = _stream_ta_harness(
        spark, tmp_path, "kama", lambda df: stateful_kama(df, n=3), "kama", vals, n_expect=5
    )
    want = _batch_ta_reference(spark, vals, "kaufmans_adaptive_moving_average", 3)
    assert set(want) == {16.0, 12.0, 14.0, 9.0, 15.0}
    assert got == want, (got, want)


def test_stateful_alerts_transitions_across_batches(spark, tmp_path):
    """Kapacitor-style alerting: a row per LEVEL TRANSITION only — a
    series pinned above crit alerts once; the level carries across the
    micro-batch boundary (the recovery at value 12.0 lands in batch 2,
    so its crit→warn transition depends on remembered state)."""
    from cflux_spark.streaming.rollup import alert_transitions, stateful_alerts

    # levels at crit=15, warn=11: ok ok crit crit warn ok crit
    vals = [10.0, 9.0, 16.0, 18.0, 12.0, 3.0, 20.0]
    got, rows = _stream_ta_harness(
        spark, tmp_path, "alert",
        lambda df: stateful_alerts(df, crit=15.0, warn=11.0),
        "level", vals, n_expect=4,
    )
    trans = [(float(r.value), r.prev_level, r.level) for r in
             sorted(rows, key=lambda r: r.ts)]
    assert trans == [
        (16.0, "ok", "crit"),
        (12.0, "crit", "warn"),
        (3.0, "warn", "ok"),
        (20.0, "ok", "crit"),
    ]
    # batch twin agrees exactly
    df = spark.createDataFrame(
        [("s1", (i + 1) * 10**9, None, v) for i, v in enumerate(vals)],
        "series_key string, ts_ns long, ts timestamp, value double",
    ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
    bt = alert_transitions(df, crit=15.0, warn=11.0).orderBy("ts").collect()
    assert [(float(r.value), r.prev_level, r.level) for r in bt] == trans


def test_stateful_alerts_validation_and_nulls(spark):
    from cflux_spark.streaming.rollup import alert_transitions, stateful_alerts

    import pytest

    df = spark.createDataFrame(
        [("s1", 1, None, 1.0)], "series_key string, ts_ns long, ts timestamp, value double"
    )
    with pytest.raises(ValueError, match="warn threshold"):
        stateful_alerts(df, crit=5.0, warn=6.0)
    with pytest.raises(ValueError, match="warn threshold"):
        alert_transitions(df, crit=5.0, warn=5.0)
    # null values (string points) are skipped, not classified
    df2 = spark.createDataFrame(
        [("s1", 1, None, 1.0), ("s1", 2, None, None), ("s1", 3, None, 9.0)],
        "series_key string, ts_ns long, ts timestamp, value double",
    ).withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
    out = alert_transitions(df2, crit=5.0).collect()
    assert [(r.value, r.level) for r in out] == [(9.0, "crit")]


def test_stateful_ta_rejections(spark):
    from cflux_spark.streaming.rollup import stateful_kama, stateful_rsi

    df = spark.createDataFrame(
        [("s1", 1, None, 1.0)], "series_key string, ts_ns long, ts timestamp, value double"
    )
    import pytest

    with pytest.raises(ValueError, match=">= 1"):
        stateful_rsi(df, 0)
    with pytest.raises(ValueError, match=">= 1"):
        stateful_kama(df, 0)


def test_stateful_ema_matches_batch_across_batches(spark, tmp_path):
    """Streaming EMA must equal the batch TA operator on the same
    points, with state carried ACROSS micro-batches (round 7)."""
    import numpy as np

    from cflux_spark.streaming.rollup import stateful_ema

    src = str(tmp_path / "in_ema")
    os.makedirs(src)

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for key, ts_ns, val in rows:
                f.write(f"{key},{ts_ns},{val}\n")

    vals = [10.0, 13.0, 11.0, 16.0, 12.0]
    write_batch("b1.csv", [("s1", (i + 1) * 10**9, v) for i, v in enumerate(vals[:3])])

    lines = (
        spark.readStream.format("text")
        .load(src)
        .select(F.split("value", ",").alias("p"))
        .select(
            F.col("p")[0].alias("series_key"),
            F.col("p")[1].cast("long").alias("ts_ns"),
            F.timestamp_micros((F.col("p")[1].cast("long") / 1000).cast("long")).alias("ts"),
            F.col("p")[2].cast("double").alias("value"),
        )
    )
    out = stateful_ema(lines, n=3)
    q = (
        out.writeStream.format("memory")
        .queryName("emas")
        .option("checkpointLocation", str(tmp_path / "ckpt_ema"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        rows = _wait_rows(spark, "emas", 3)
        # second batch later: warmup counter and ema must carry over
        write_batch("b2.csv", [("s1", (i + 4) * 10**9, v) for i, v in enumerate(vals[3:])])
        rows = _wait_rows(spark, "emas", 5)
        got = {float(r.value): r.ema for r in rows}
        # batch reference: InfluxDB exponential warmup, alpha_t = 2/(min(t,3)+1)
        e, expect = None, {}
        for t, v in enumerate(vals, 1):
            a = 2.0 / (min(t, 3) + 1.0)
            e = v if e is None else (1 - a) * e + a * v
            expect[v] = e
        for v, e_want in expect.items():
            assert abs(got[v] - e_want) < 1e-9, (v, got[v], e_want)
    finally:
        q.stop()


def test_stateful_deadman_matches_batch_across_batches(spark, tmp_path):
    """Deadman switch: s2 goes silent after t=2s while heartbeat s1
    advances the event-time watermark past s2's deadline (every=10s →
    dead at t=12s), then s2 resumes at t=29s → alive. The batch twin
    over the same points (gaps-and-islands) must agree exactly."""
    from cflux_spark.streaming.rollup import deadman_transitions, stateful_deadman

    src = str(tmp_path / "in_deadman")
    os.makedirs(src)

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for key, sec in rows:
                f.write(f"{key},{sec * 10**9}\n")

    write_batch("b1.csv", [("s1", 1), ("s1", 3), ("s2", 2)])
    lines = (
        spark.readStream.format("text")
        .load(src)
        .select(F.split("value", ",").alias("p"))
        .select(
            F.col("p")[0].alias("series_key"),
            F.col("p")[1].cast("long").alias("ts_ns"),
            F.timestamp_micros((F.col("p")[1].cast("long") / 1000).cast("long")).alias("ts"),
        )
        .withWatermark("ts", "0 seconds")
    )
    q = (
        stateful_deadman(lines, every_seconds=10)
        .writeStream.format("memory")
        .queryName("deadman_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_deadman"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    all_secs = [("s1", 1), ("s1", 3), ("s2", 2)]
    try:
        # heartbeat s1 keeps its own spacing <= every while pushing the
        # watermark past s2's t=12s deadline (watermark lags one batch,
        # and the timeout fires in Spark's no-data batch that follows)
        for i, sec in enumerate([8, 15, 22]):
            write_batch(f"hb{i}.csv", [("s1", sec)])
            all_secs.append(("s1", sec))
            time.sleep(1.5)
        rows = _wait_rows(spark, "deadman_out", 1, timeout=90)
        assert [(r.series_key, str(r.ts), r.level, str(r.last_seen)) for r in rows] == [
            ("s2", "1970-01-01 00:00:12", "dead", "1970-01-01 00:00:02")
        ]
        write_batch("b2.csv", [("s1", 28), ("s2", 29)])
        all_secs += [("s1", 28), ("s2", 29)]
        rows = _wait_rows(spark, "deadman_out", 2, timeout=90)
    finally:
        q.stop()
    got = sorted(
        (r.series_key, str(r.ts), r.level, str(r.last_seen)) for r in rows
    )
    assert got == [
        ("s2", "1970-01-01 00:00:12", "dead", "1970-01-01 00:00:02"),
        ("s2", "1970-01-01 00:00:29", "alive", "1970-01-01 00:00:02"),
    ]
    # batch twin on the same points, "now" = the stream's last event
    df = spark.createDataFrame(
        [(k, s * 10**9) for k, s in all_secs], "series_key string, ts_ns long"
    )
    bt = deadman_transitions(df, 10, now_ts_ns=29 * 10**9).collect()
    assert sorted(
        (r.series_key, str(r.ts), r.level, str(r.last_seen)) for r in bt
    ) == got


def test_deadman_batch_trailing_and_validation(spark):
    from cflux_spark.streaming.rollup import deadman_transitions, stateful_deadman

    df = spark.createDataFrame(
        [("a", 1_000_000_000), ("a", 5_000_000_000), ("b", 2_000_000_000)],
        "series_key string, ts_ns long",
    )
    # no closed gaps at every=10s; with now=30s both series are
    # trailing-dead at last_seen + every
    out = sorted(
        (r.series_key, str(r.ts), r.level)
        for r in deadman_transitions(df, 10, now_ts_ns=30 * 10**9).collect()
    )
    assert out == [
        ("a", "1970-01-01 00:00:15", "dead"),
        ("b", "1970-01-01 00:00:12", "dead"),
    ]
    # without now: closed gaps only
    assert deadman_transitions(df, 10).count() == 0
    out2 = sorted(
        (r.series_key, str(r.ts), r.level)
        for r in deadman_transitions(df, 3).collect()
    )
    assert out2 == [("a", "1970-01-01 00:00:04", "dead"), ("a", "1970-01-01 00:00:05", "alive")]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        deadman_transitions(df, 0)
    with _pytest.raises(ValueError):
        stateful_deadman(df, -5)
    # exact-ns interval (round 10: data-derived intervals need finer
    # than whole seconds) — 3.5 s splits a's 4 s gap, same as every=3
    out3 = sorted(
        (r.series_key, str(r.ts), r.level)
        for r in deadman_transitions(df, every_ns=3_500_000_000).collect()
    )
    assert out3 == [
        ("a", "1970-01-01 00:00:04.500000", "dead"),
        ("a", "1970-01-01 00:00:05", "alive"),
    ]
    with _pytest.raises(ValueError, match="exactly one"):
        deadman_transitions(df, 10, every_ns=3_500_000_000)
    with _pytest.raises(ValueError, match="exactly one"):
        deadman_transitions(df)

"""Technical-analysis transforms vs independent numpy references.

Each oracle below is a straight-line sequential implementation of the
documented recurrence — written separately from the Spark operator so
a shared bug can't hide. Grouped (per-series) and ungrouped (merged
series, segmented path) are both checked.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cflux_spark.operators.ta import ta_transform


def _ema_ref(v, n, warmup="exponential"):
    out = []
    if warmup == "exponential":
        e = 0.0
        for t, x in enumerate(v, start=1):
            a = 2.0 / (min(t, n) + 1)
            e = a * x + (1 - a) * e if t > 1 else x
            out.append(e)
    else:
        a = 2.0 / (n + 1)
        e = 0.0
        for t, x in enumerate(v, start=1):
            if t <= n:
                e = float(np.mean(v[:t][-n:]))
            else:
                e = a * x + (1 - a) * e
            out.append(e)
    return out


def _rsi_ref(v, n):
    d = np.diff(v)
    g, lo = np.maximum(d, 0), np.maximum(-d, 0)
    out = []
    ag = al = 0.0
    for u in range(1, len(d) + 1):
        if u <= n:
            ag, al = float(np.mean(g[:u][-n:])), float(np.mean(lo[:u][-n:]))
        else:
            ag = (ag * (n - 1) + g[u - 1]) / n
            al = (al * (n - 1) + lo[u - 1]) / n
        if u >= n:
            out.append(100.0 if al == 0 else 100.0 - 100.0 / (1 + ag / al))
    return out


def _cmo_ref(v, n):
    d = np.diff(v)
    g, lo = np.maximum(d, 0), np.maximum(-d, 0)
    out = []
    for u in range(n, len(d) + 1):
        sg, sl = g[u - n : u].sum(), lo[u - n : u].sum()
        out.append(0.0 if sg + sl == 0 else 100.0 * (sg - sl) / (sg + sl))
    return out


def _er_ref(v, n):
    out = []
    for t in range(n + 1, len(v) + 1):
        vol = np.abs(np.diff(v[t - n - 1 : t])).sum()
        direction = abs(v[t - 1] - v[t - n - 1])
        out.append(0.0 if vol == 0 else direction / vol)
    return out


def _kama_ref(v, n):
    fast, slow = 2.0 / 3, 2.0 / 31
    ers = _er_ref(v, n)
    out = []
    k = 0.0
    for i, t in enumerate(range(n + 1, len(v) + 1)):
        if i == 0:
            k = v[t - 1]
        else:
            sc = (ers[i] * (fast - slow) + slow) ** 2
            k = k + sc * (v[t - 1] - k)
        out.append(k)
    return out


@pytest.fixture(scope="module")
def frames(spark):
    rng = np.random.default_rng(42)
    rows = []
    series = {}
    for s in ["a", "b"]:
        v = np.round(rng.normal(50, 10, 300), 3)
        series[s] = v
        for i, x in enumerate(v):
            # 90 s spacing -> several 1 h segments per series
            rows.append((s, i * 90_000_000_000 + (7 if s == "b" else 0), float(x)))
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    return df, series


def _check(got_rows, exp_by_key, emitted_from, atol=1e-9):
    got = {}
    for r in got_rows:
        got.setdefault(r.k, []).append((r.ts, r._ta))
    assert set(got) == set(exp_by_key)
    for k, pairs in got.items():
        pairs.sort()
        vals = [p[1] for p in pairs]
        assert len(vals) == len(exp_by_key[k]), (k, len(vals), len(exp_by_key[k]))
        np.testing.assert_allclose(vals, exp_by_key[k], atol=atol, rtol=1e-9)


@pytest.mark.parametrize("warmup", ["exponential", "simple"])
def test_ema_grouped(frames, warmup):
    df, series = frames
    out = ta_transform(df, ["k"], "ts", "v", "exponential_moving_average", 10, warmup=warmup)
    _check(out.collect(), {k: _ema_ref(v, 10, warmup) for k, v in series.items()}, 1)


def test_dema_tema_trix_grouped(frames):
    df, series = frames
    for fn, ref in [
        (
            "double_exponential_moving_average",
            lambda v: [
                2 * e1 - e2
                for e1, e2 in zip(_ema_ref(v, 8), _ema_ref(_ema_ref(v, 8), 8))
            ],
        ),
        (
            "triple_exponential_moving_average",
            lambda v: [
                3 * e1 - 3 * e2 + e3
                for e1, e2, e3 in zip(
                    _ema_ref(v, 8),
                    _ema_ref(_ema_ref(v, 8), 8),
                    _ema_ref(_ema_ref(_ema_ref(v, 8), 8), 8),
                )
            ],
        ),
    ]:
        out = ta_transform(df, ["k"], "ts", "v", fn, 8)
        _check(out.collect(), {k: ref(v) for k, v in series.items()}, 1)
    # TRIX: percent change of the triple EMA, from the 2nd point
    out = ta_transform(df, ["k"], "ts", "v", "triple_exponential_derivative", 8)
    exp = {}
    for k, v in series.items():
        e3 = _ema_ref(_ema_ref(_ema_ref(v, 8), 8), 8)
        exp[k] = [(e3[i] / e3[i - 1] - 1) * 100 for i in range(1, len(e3))]
    _check(out.collect(), exp, 2, atol=1e-8)


def test_rsi_cmo_grouped(frames):
    df, series = frames
    out = ta_transform(df, ["k"], "ts", "v", "relative_strength_index", 14)
    _check(out.collect(), {k: _rsi_ref(v, 14) for k, v in series.items()}, 15, atol=1e-8)
    out = ta_transform(df, ["k"], "ts", "v", "chande_momentum_oscillator", 14)
    _check(out.collect(), {k: _cmo_ref(v, 14) for k, v in series.items()}, 15, atol=1e-8)


def test_ker_kama_grouped(frames):
    df, series = frames
    out = ta_transform(df, ["k"], "ts", "v", "kaufmans_efficiency_ratio", 10)
    _check(out.collect(), {k: _er_ref(v, 10) for k, v in series.items()}, 11)
    out = ta_transform(df, ["k"], "ts", "v", "kaufmans_adaptive_moving_average", 10)
    _check(out.collect(), {k: _kama_ref(v, 10) for k, v in series.items()}, 11, atol=1e-8)


def _dema_ref(v, n, warmup="exponential"):
    e1 = _ema_ref(v, n, warmup)
    return [2 * a - b for a, b in zip(e1, _ema_ref(e1, n, warmup))]


def _tema_ref(v, n, warmup="exponential"):
    e1 = _ema_ref(v, n, warmup)
    e2 = _ema_ref(e1, n, warmup)
    return [3 * a - 3 * b + c for a, b, c in zip(e1, e2, _ema_ref(e2, n, warmup))]


def _trix_ref(v, n, warmup="exponential"):
    e3 = _ema_ref(_ema_ref(_ema_ref(v, n, warmup), n, warmup), n, warmup)
    return [(e3[i] / e3[i - 1] - 1) * 100 for i in range(1, len(e3))]


_UNGROUPED_CASES = [
    ("exponential_moving_average", 10, "exponential"),
    ("relative_strength_index", 14, "exponential"),
    ("kaufmans_adaptive_moving_average", 10, "exponential"),
    ("chande_momentum_oscillator", 14, "exponential"),
    ("double_exponential_moving_average", 8, "exponential"),
    ("triple_exponential_moving_average", 8, "exponential"),
    ("triple_exponential_derivative", 8, "exponential"),
    ("kaufmans_efficiency_ratio", 10, "exponential"),
    ("exponential_moving_average", 10, "simple"),
    ("double_exponential_moving_average", 8, "simple"),
]


@pytest.mark.parametrize(
    "fn,n,warmup",
    [
        pytest.param(fn, n, w, id=f"{fn}-{n}" + ("" if w == "exponential" else f"-{w}"))
        for fn, n, w in _UNGROUPED_CASES
    ],
)
def test_ungrouped_matches_grouped_semantics(frames, fn, n, warmup):
    """keys=[] (merged-series segmented path) equals the single-series
    reference on one series's rows."""
    df, series = frames
    one = df.filter("k = 'a'").drop("k")
    out = ta_transform(one, [], "ts", "v", fn, n, warmup=warmup).collect()
    ref = {
        "exponential_moving_average": lambda v, n: _ema_ref(v, n, warmup),
        "double_exponential_moving_average": lambda v, n: _dema_ref(v, n, warmup),
        "triple_exponential_moving_average": lambda v, n: _tema_ref(v, n, warmup),
        "triple_exponential_derivative": lambda v, n: _trix_ref(v, n, warmup),
        "relative_strength_index": _rsi_ref,
        "chande_momentum_oscillator": _cmo_ref,
        "kaufmans_efficiency_ratio": _er_ref,
        "kaufmans_adaptive_moving_average": _kama_ref,
    }[fn](series["a"], n)
    got = sorted((r.ts, r._ta) for r in out)
    np.testing.assert_allclose([g[1] for g in got], ref, atol=1e-8, rtol=1e-9)


def test_rejects_bad_args(frames):
    df, _ = frames
    with pytest.raises(ValueError):
        ta_transform(df, ["k"], "ts", "v", "exponential_moving_average", 0)
    with pytest.raises(ValueError):
        ta_transform(df, ["k"], "ts", "v", "not_a_fn", 5)
    with pytest.raises(ValueError):
        ta_transform(df, ["k"], "ts", "v", "exponential_moving_average", 5, warmup="none")


# ---------------------------------------------------------------- engine

from cflux_spark.plans.influxql import InfluxQLEngine, InfluxQLError
from cflux_spark.sources.ingest import LPStore

_T0 = 1704067200_000_000_000  # 2024-01-01T00:00:00Z


@pytest.fixture(scope="module")
def ta_engine(spark, tmp_path_factory):
    rng = np.random.default_rng(11)
    root = str(tmp_path_factory.mktemp("ta"))
    store = LPStore(spark, root, db="tadb")
    lines = []
    vals = {"a": [], "b": []}
    for i in range(40):
        for host in ("a", "b"):
            v = round(float(rng.normal(10, 3)), 3)
            vals[host].append(v)
            # 15 s spacing, host=b shifted 1 s so the merged series
            # interleaves deterministically
            ts = _T0 + i * 15_000_000_000 + (1_000_000_000 if host == "b" else 0)
            lines.append(f"px,host={host} v={v} {ts}")
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    store.write_batch(df)
    return InfluxQLEngine(spark, root), vals


def _series_vals(res, i=0):
    return [v[1] for v in res["results"][0]["series"][i]["values"]]


def test_engine_ema_grouped_by_tag(ta_engine):
    eng, vals = ta_engine
    res = eng.execute(
        "SELECT exponential_moving_average(v, 5) FROM px GROUP BY host", db="tadb"
    )
    assert res["results"][0]["series"][0]["columns"][1] == "exponential_moving_average"
    by_host = {s["tags"]["host"]: [v[1] for v in s["values"]] for s in res["results"][0]["series"]}
    for h in ("a", "b"):
        np.testing.assert_allclose(by_host[h], np.round(_ema_ref(vals[h], 5), 6), atol=1e-6)


def test_engine_ema_ungrouped_merges_series(ta_engine):
    eng, vals = ta_engine
    res = eng.execute("SELECT exponential_moving_average(v, 5) FROM px", db="tadb")
    merged = [x for pair in zip(vals["a"], vals["b"]) for x in pair]  # a then b per step
    np.testing.assert_allclose(
        _series_vals(res), np.round(_ema_ref(merged, 5), 6), atol=1e-6
    )


def test_engine_ema_simple_warmup(ta_engine):
    eng, vals = ta_engine
    res = eng.execute(
        "SELECT exponential_moving_average(v, 5, 'simple') FROM px WHERE host = 'a'",
        db="tadb",
    )
    np.testing.assert_allclose(
        _series_vals(res), np.round(_ema_ref(vals["a"], 5, "simple"), 6), atol=1e-6
    )


def test_engine_rsi_over_bucketed_mean(ta_engine):
    eng, vals = ta_engine
    res = eng.execute(
        "SELECT relative_strength_index(mean(v), 3) FROM px WHERE host = 'a' "
        "GROUP BY time(60s)",
        db="tadb",
    )
    # 60 s buckets over 15 s spacing -> mean of 4 points per bucket
    means = [float(np.mean(vals["a"][i : i + 4])) for i in range(0, 40, 4)]
    means = [round(m, 6) for m in means]  # engine rounds bucket values
    np.testing.assert_allclose(
        _series_vals(res), np.round(_rsi_ref(means, 3), 6), atol=1e-5
    )


def test_engine_kama_and_cmo_raw(ta_engine):
    eng, vals = ta_engine
    res = eng.execute(
        "SELECT kaufmans_adaptive_moving_average(v, 6) FROM px WHERE host = 'b'",
        db="tadb",
    )
    np.testing.assert_allclose(
        _series_vals(res), np.round(_kama_ref(np.array(vals["b"]), 6), 6), atol=1e-5
    )
    res = eng.execute(
        "SELECT chande_momentum_oscillator(v, 6) FROM px WHERE host = 'b'", db="tadb"
    )
    np.testing.assert_allclose(
        _series_vals(res), np.round(_cmo_ref(np.array(vals["b"]), 6), 6), atol=1e-5
    )


def test_engine_ta_alias_and_timestamps(ta_engine):
    eng, vals = ta_engine
    res = eng.execute(
        "SELECT triple_exponential_derivative(v, 4) AS trix FROM px WHERE host = 'a'",
        db="tadb",
    )
    se = res["results"][0]["series"][0]
    assert se["columns"] == ["time", "trix"]
    # TRIX emits from the 2nd point, at the points' own timestamps
    assert se["values"][0][0] == (_T0 + 15_000_000_000) // 1_000_000
    e3 = _ema_ref(_ema_ref(_ema_ref(vals["a"], 4), 4), 4)
    exp = [(e3[i] / e3[i - 1] - 1) * 100 for i in range(1, len(e3))]
    np.testing.assert_allclose([v[1] for v in se["values"]], np.round(exp, 6), atol=1e-5)


def test_engine_ta_chunked_matches_unchunked(ta_engine):
    eng, _ = ta_engine
    q = "SELECT exponential_moving_average(mean(v), 5) FROM px GROUP BY time(60s), host"
    plain = eng.execute(q, db="tadb")
    chunks = list(eng.execute_chunked(q, db="tadb", chunk_size=3))
    merged = {}
    for c in chunks:
        for s in c["results"][0].get("series", []):
            key = (s["name"], tuple(sorted((s.get("tags") or {}).items())))
            merged.setdefault(key, []).extend(s["values"])
    plain_map = {
        (s["name"], tuple(sorted((s.get("tags") or {}).items()))): s["values"]
        for s in plain["results"][0]["series"]
    }
    assert merged == plain_map


def test_engine_ta_rejections(ta_engine):
    eng, _ = ta_engine
    with pytest.raises(InfluxQLError, match="HOLD_PERIOD"):
        eng.execute("SELECT exponential_moving_average(v, 5, 3) FROM px", db="tadb")
    with pytest.raises(InfluxQLError, match="warmup"):
        eng.execute("SELECT relative_strength_index(v, 5, 'simple') FROM px", db="tadb")
    with pytest.raises(InfluxQLError, match="warmup"):
        eng.execute("SELECT exponential_moving_average(v, 5, 'none') FROM px", db="tadb")
    with pytest.raises(InfluxQLError, match="period"):
        eng.execute("SELECT kaufmans_efficiency_ratio(v) FROM px", db="tadb")


def test_engine_ta_into_writes_function_named_field(ta_engine):
    """SELECT <ta>(agg(f), N) INTO dst composes through the INTO path:
    the destination measurement carries one float field named after
    the function, with values identical to the direct SELECT."""
    eng, _ = ta_engine
    q = "SELECT exponential_moving_average(mean(v), 5) INTO dst_ta FROM px GROUP BY time(60s)"
    wrote = eng.execute(q, db="tadb")
    n_written = wrote["results"][0]["series"][0]["values"][0][1]
    direct = eng.execute(
        "SELECT exponential_moving_average(mean(v), 5) FROM px GROUP BY time(60s)",
        db="tadb",
    )
    dv = [v[1] for v in direct["results"][0]["series"][0]["values"]]
    assert n_written == len(dv)
    fields = eng.execute("SHOW FIELD KEYS FROM dst_ta", db="tadb")
    assert fields["results"][0]["series"][0]["values"] == [
        ["exponential_moving_average", "float"]
    ]
    back = eng.execute("SELECT exponential_moving_average FROM dst_ta", db="tadb")
    assert [v[1] for v in back["results"][0]["series"][0]["values"]] == dv

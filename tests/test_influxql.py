"""InfluxQL front-end tests: the reference's de facto validation is its
docker rig (Telegraf writes + Chronograf SHOW/SELECT, SURVEY §5);
this mirrors that flow — ingest LP, then exercise every statement.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cflux_spark.plans.influxql import InfluxQLEngine, InfluxQLError, parse_select
from cflux_spark.sources.ingest import LPStore

LINES = [
    "cpu,host=a,region=eu user=0.10,sys=0.01 1704067200000000000",  # 2024-01-01T00:00:00Z
    "cpu,host=a,region=eu user=0.30 1704067230000000000",  # :00:30
    "cpu,host=a,region=eu user=0.50 1704067290000000000",  # :01:30
    "cpu,host=b,region=us user=0.70 1704067200000000000",
    'app,host=a status="ok" 1704067200000000000',
]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("influx"))
    store = LPStore(spark, root, db="mydb")
    lines = spark.createDataFrame([(l,) for l in LINES], "line string")
    store.write_batch(lines)
    return InfluxQLEngine(spark, root)


def _values(res, i=0):
    return res["results"][0]["series"][i]["values"]


def test_show_databases(engine):
    res = engine.execute("SHOW DATABASES")
    assert ["mydb"] in _values(res)


def test_show_measurements(engine):
    res = engine.execute("SHOW MEASUREMENTS", db="mydb")
    assert [v[0] for v in _values(res)] == ["app", "cpu"]


def test_show_field_keys(engine):
    res = engine.execute('SHOW FIELD KEYS FROM "cpu"', db="mydb")
    series = res["results"][0]["series"][0]
    assert series["name"] == "cpu"
    assert sorted(v[0] for v in series["values"]) == ["sys", "user"]
    assert all(v[1] == "float" for v in series["values"])  # reference fidelity


def test_show_tag_keys(engine):
    res = engine.execute("SHOW TAG KEYS FROM cpu", db="mydb")
    assert sorted(v[0] for v in _values(res)) == ["host", "region"]


def test_show_tag_values_with_key(engine):
    res = engine.execute('SHOW TAG VALUES FROM cpu WITH KEY = "host"', db="mydb")
    assert sorted(v[1] for v in _values(res)) == ["a", "b"]


def test_show_tag_values_in(engine):
    res = engine.execute("SHOW TAG VALUES FROM cpu WITH KEY IN (host, region)", db="mydb")
    pairs = {(v[0], v[1]) for v in _values(res)}
    assert ("host", "a") in pairs and ("region", "eu") in pairs


def test_select_raw_points_with_tag_filter_and_limit(engine):
    res = engine.execute("SELECT user FROM cpu WHERE host = 'a' LIMIT 2", db="mydb")
    vals = _values(res)
    assert len(vals) == 2
    assert vals[0] == [1704067200000, 0.10]
    assert vals[1] == [1704067230000, 0.30]


def test_select_mean_group_by_time(engine):
    res = engine.execute(
        "SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(60s)", db="mydb"
    )
    vals = _values(res)
    # minute 0: (0.1+0.3)/2 = 0.2 ; minute 1: 0.5
    assert vals == [[1704067200000, 0.2], [1704067260000, 0.5]]


def test_select_default_minute_bucket(engine):
    # no GROUP BY → the reference's hard-coded 1-minute mean buckets
    res = engine.execute("SELECT mean(user) FROM cpu WHERE host = 'b'", db="mydb")
    assert _values(res) == [[1704067200000, 0.7]]


def test_select_time_range_ns(engine):
    res = engine.execute(
        "SELECT user FROM cpu WHERE host = 'a' AND time >= 1704067230000000000 AND time < 1704067290000000000",
        db="mydb",
    )
    assert _values(res) == [[1704067230000, 0.3]]


def test_select_iso_time_range(engine):
    res = engine.execute(
        "SELECT user FROM cpu WHERE time >= '2024-01-01T00:01:00' AND host = 'a'", db="mydb"
    )
    assert _values(res) == [[1704067290000, 0.5]]


def test_select_string_field(engine):
    res = engine.execute("SELECT status FROM app", db="mydb")
    assert _values(res) == [[1704067200000, "ok"]]  # string-over-float rule


def test_select_multi_aggregates(engine):
    """Multi-field SELECTs merge into ONE series with aligned columns
    (InfluxDB 1.x envelope shape, round 5 — previously one series per
    field)."""
    res = engine.execute("SELECT max(user), count(user) FROM cpu GROUP BY time(1h)", db="mydb")
    series = res["results"][0]["series"]
    assert len(series) == 1
    assert series[0]["columns"] == ["time", "max_user", "count_user"]
    assert series[0]["values"] == [[1704067200000, 0.7, 4.0]]


def test_regex_tag_matcher(engine):
    res = engine.execute("SELECT user FROM cpu WHERE region =~ 'e.*'", db="mydb")
    assert len(_values(res)) == 3  # only host=a (region=eu) points


def test_subscriptions_lifecycle(engine):
    engine.execute(
        "CREATE SUBSCRIPTION \"sub0\" ON mydb.autogen DESTINATIONS ANY 'http://localhost:9999'"
    )
    res = engine.execute("SHOW SUBSCRIPTIONS")
    series = res["results"][0]["series"]
    assert series and series[0]["name"] == "mydb"
    assert series[0]["values"][0][1] == "sub0"


def test_unsupported_statement_returns_empty_envelope(engine):
    # DROP SERIES became a real statement in round 3b; KILL QUERY is
    # still outside the grammar and must keep the M11 empty envelope
    res = engine.execute("KILL QUERY 1")
    assert res == {"results": [{"statement_id": 0}]}  # M11 fidelity


def test_parse_select_rejects_garbage():
    with pytest.raises(InfluxQLError):
        parse_select("SELECT FROM WHERE")
    with pytest.raises(InfluxQLError):
        parse_select("SELECT percentile_nope(x) FROM m")


def test_parse_select_shapes():
    s = parse_select('SELECT mean("user") FROM "db"."autogen"."cpu" WHERE time > now() - 24h GROUP BY time(10s) LIMIT 5')
    assert s.fields == [("mean", "user", None, None, None, None, None, False, None, None)]
    assert s.db == "db" and s.measurement == "cpu"
    assert s.relative_s == 86400
    assert s.group_by_time_s == 10
    assert s.limit == 5


def test_group_by_tag(engine):
    res = engine.execute(
        "SELECT mean(user) FROM cpu GROUP BY time(60s), host", db="mydb"
    )
    series = res["results"][0]["series"]
    assert len(series) == 2
    by_host = {s["tags"]["host"]: s["values"] for s in series}
    assert by_host["a"] == [[1704067200000, 0.2], [1704067260000, 0.5]]
    assert by_host["b"] == [[1704067200000, 0.7]]


def test_group_by_tag_raw(engine):
    res = engine.execute("SELECT user FROM cpu GROUP BY host", db="mydb")
    series = res["results"][0]["series"]
    hosts = {s["tags"]["host"] for s in series}
    assert hosts == {"a", "b"}


def test_order_by_time_desc(engine):
    res = engine.execute("SELECT user FROM cpu WHERE host = 'a' ORDER BY time DESC", db="mydb")
    vals = _values(res)
    assert [v[0] for v in vals] == sorted((v[0] for v in vals), reverse=True)


def test_limit_offset(engine):
    res = engine.execute("SELECT user FROM cpu WHERE host = 'a' LIMIT 1 OFFSET 1", db="mydb")
    assert _values(res) == [[1704067230000, 0.3]]


def test_fill_null_inserts_missing_buckets(engine):
    # host=a has points in minutes 0 and 1 only for 30s buckets 0,30,90
    res = engine.execute(
        "SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(30s) fill(null)", db="mydb"
    )
    vals = _values(res)
    assert [v for v in vals if v[1] is None]  # gap bucket present as null


def test_fill_zero(engine):
    res = engine.execute(
        "SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(30s) fill(0)", db="mydb"
    )
    vals = dict((v[0], v[1]) for v in _values(res))
    assert vals[1704067260000] == 0.0  # the empty 00:01:00-00:01:30 bucket


def test_fill_previous(engine):
    res = engine.execute(
        "SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(30s) fill(previous)", db="mydb"
    )
    vals = dict((v[0], v[1]) for v in _values(res))
    assert vals[1704067260000] == vals[1704067230000]  # forward-filled


def test_upper_bound_now_is_noop(engine):
    """'AND time < now()' must not error (Grafana's standard shape) and
    must behave as a no-op upper bound (cflux.js:689 parity)."""
    res = engine.execute(
        "SELECT user FROM cpu WHERE host = 'a' AND time > now() - 520w AND time < now()",
        db="mydb",
    )
    assert len(_values(res)) == 3


def test_upper_bound_now_minus_duration(engine):
    """'time < now() - d' is a real upper bound, not silently dropped."""
    # data is all of 2024-01; now() - 520w (~10y ago) excludes everything
    res = engine.execute(
        "SELECT user FROM cpu WHERE host = 'a' AND time < now() - 520w", db="mydb"
    )
    assert res["results"][0].get("series", [{}])[0].get("values", []) == []
    # lower bound in the recent past excludes the 2024 data too
    res2 = engine.execute("SELECT user FROM cpu WHERE host = 'a' AND time > now() - 1h", db="mydb")
    assert res2["results"][0].get("series", [{}])[0].get("values", []) == []


def test_absolute_bound_strictness(engine):
    """Strict vs inclusive comparison operators honor InfluxDB
    semantics for boundary-aligned timestamps."""
    lo, hi = 1704067230000000000, 1704067290000000000  # exact point timestamps
    inclusive = engine.execute(
        f"SELECT user FROM cpu WHERE host = 'a' AND time >= {lo} AND time <= {hi}", db="mydb"
    )
    assert [v[1] for v in _values(inclusive)] == [0.3, 0.5]
    strict = engine.execute(
        f"SELECT user FROM cpu WHERE host = 'a' AND time > {lo} AND time < {hi}", db="mydb"
    )
    assert strict["results"][0].get("series", [{}])[0].get("values", []) == []


def test_parse_time_bound_fields():
    s = parse_select("SELECT v FROM m WHERE time < now()")
    assert s.relative_hi_s is None and s.relative_s is None
    s = parse_select("SELECT v FROM m WHERE time < now() - 1h")
    assert s.relative_hi_s == 3600 and not s.relative_hi_inclusive
    s = parse_select("SELECT v FROM m WHERE time <= now() - 30m AND time >= now() - 1d")
    assert s.relative_hi_s == 1800 and s.relative_hi_inclusive
    assert s.relative_s == 86400 and s.relative_lo_inclusive
    s = parse_select("SELECT v FROM m WHERE time > 100 AND time <= 200")
    assert s.time_lo_ns == 101 and s.time_hi_ns == 201
    s = parse_select("SELECT v FROM m WHERE time >= 100 AND time < 200")
    assert s.time_lo_ns == 100 and s.time_hi_ns == 200


def test_per_series_limit_under_group_by_tag(engine):
    """InfluxDB applies LIMIT per series under GROUP BY <tag>."""
    res = engine.execute("SELECT user FROM cpu GROUP BY host LIMIT 1", db="mydb")
    series = res["results"][0]["series"]
    assert {s["tags"]["host"] for s in series} == {"a", "b"}
    for s in series:
        assert len(s["values"]) == 1
        assert s["values"][0][0] == 1704067200000  # first point of each series


def test_per_series_limit_offset_group_by_tag(engine):
    res = engine.execute("SELECT user FROM cpu GROUP BY host LIMIT 2 OFFSET 1", db="mydb")
    series = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    assert [v[1] for v in series["a"]] == [0.3, 0.5]  # rows 2-3 of host=a
    assert "b" not in series or series.get("b") == []  # host=b has 1 point; offset 1 -> none


def test_missing_tag_groups_as_empty_string(engine):
    """Series lacking the GROUP BY tag get tag value '' (InfluxDB
    fidelity), not null."""
    res = engine.execute("SELECT user FROM cpu GROUP BY region, host LIMIT 5", db="mydb")
    tagsets = [s["tags"] for s in res["results"][0]["series"]]
    assert all(v is not None for t in tagsets for v in t.values())
    res2 = engine.execute("SELECT status FROM app GROUP BY region", db="mydb")
    s2 = res2["results"][0]["series"]
    assert s2[0]["tags"] == {"region": ""}  # app series has no region tag


def test_from_regex_measurement(engine):
    """FROM /re/ resolves to one series set per matching measurement."""
    res = engine.execute("SELECT user FROM /^c.u$/", db="mydb")
    series = res["results"][0]["series"]
    assert [s["name"] for s in series] == ["cpu"]
    res2 = engine.execute("SELECT mean(user) FROM /p/ GROUP BY time(1m)", db="mydb")
    # both 'app' and 'cpu' match /p/, but app has no user field —
    # empty results omit the series (InfluxDB envelope shape, round 6)
    assert {s["name"] for s in res2["results"][0]["series"]} == {"cpu"}


def test_group_by_star(engine):
    """GROUP BY * expands to every tag key of the measurement."""
    res = engine.execute("SELECT user FROM cpu GROUP BY *", db="mydb")
    series = res["results"][0]["series"]
    assert all(set(s["tags"]) == {"host", "region"} for s in series)
    assert {(s["tags"]["host"], s["tags"]["region"]) for s in series} == {("a", "eu"), ("b", "us")}


def test_multi_statement(engine):
    res = engine.execute("SHOW MEASUREMENTS; SELECT user FROM cpu WHERE host = 'b'", db="mydb")
    assert [r["statement_id"] for r in res["results"]] == [0, 1]
    assert [v[0] for v in res["results"][0]["series"][0]["values"]] == ["app", "cpu"]
    assert res["results"][1]["series"][0]["values"] == [[1704067200000, 0.7]]


def test_slimit_soffset(engine):
    res = engine.execute("SELECT user FROM cpu GROUP BY host SLIMIT 1", db="mydb")
    series = res["results"][0]["series"]
    assert len(series) == 1 and series[0]["tags"] == {"host": "a"}
    res2 = engine.execute("SELECT user FROM cpu GROUP BY host SLIMIT 1 SOFFSET 1", db="mydb")
    series2 = res2["results"][0]["series"]
    assert len(series2) == 1 and series2[0]["tags"] == {"host": "b"}


def test_fill_linear_interpolates_gap(engine):
    # host=a user points at 30s buckets 0 (0.10), 30 (0.30), 90 (0.50);
    # the empty 60s bucket interpolates to (0.30+0.50)/2 = 0.40
    res = engine.execute(
        "SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(30s) fill(linear)", db="mydb"
    )
    vals = dict((v[0], v[1]) for v in _values(res))
    assert vals[1704067260000] == 0.4
    assert vals[1704067230000] == 0.3 and vals[1704067290000] == 0.5


# ---- InfluxQL function surface: percentile/spread/mode aggregates +
# ---- derivative/moving_average/cumulative_sum transforms.
# host=a user: 0.10 @ :00:00, 0.30 @ :00:30, 0.50 @ :01:30
# → 60s buckets: mean 0.20 @ min0, 0.50 @ min1; sum 0.40, 0.50


def test_percentile_aggregate(engine):
    """round 7: percentile is NEAREST-RANK like InfluxDB (index
    floor(n·p/100+0.5) over sorted values — an actual point value),
    not the interpolated percentile Spark/DuckDB default to."""
    res = engine.execute(
        "SELECT percentile(user, 50) FROM cpu WHERE host = 'a' GROUP BY time(60s)", db="mydb"
    )
    vals = _values(res)
    assert res["results"][0]["series"][0]["columns"][1] == "percentile"
    assert vals[0] == [1704067200000, 0.1]  # rank floor(2*0.5+0.5)=1 of [0.1, 0.3]
    assert vals[1] == [1704067260000, 0.5]
    res = engine.execute(
        "SELECT percentile(user, 100) FROM cpu WHERE host = 'a' GROUP BY time(60s)", db="mydb"
    )
    assert [v[1] for v in _values(res)] == [0.3, 0.5]
    # index floor(n·p+0.5) < 1 → nil (InfluxDB): p=10 over 2- and
    # 1-point buckets is nil in both
    res = engine.execute(
        "SELECT percentile(user, 10) FROM cpu WHERE host = 'a' GROUP BY time(60s)", db="mydb"
    )
    assert all(v[1] is None for v in _values(res))


def test_percentile_lone_returns_original_point(engine):
    """round 7: a LONE ungrouped percentile returns the actual point
    with its original timestamp (InfluxDB selector semantics). All
    cpu.user points: 0.1@:00, 0.3@:30, 0.5@1:30, 0.7@:00 → sorted
    [0.1, 0.3, 0.5, 0.7]; p50 rank floor(4*.5+.5)=2 → 0.3@:30."""
    res = engine.execute("SELECT percentile(user, 50) FROM cpu", db="mydb")
    se = res["results"][0]["series"][0]
    assert se["columns"] == ["time", "percentile"]
    assert se["values"] == [[1704067230000, 0.3]]
    # per tag group: host=a [0.1,0.3,0.5] p50 rank 2 → 0.3@:30;
    # host=b [0.7] rank 1 → 0.7@:00
    res = engine.execute("SELECT percentile(user, 50) FROM cpu GROUP BY host", db="mydb")
    by_host = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    assert by_host == {"a": [[1704067230000, 0.3]], "b": [[1704067200000, 0.7]]}
    # rank < 1 → no point at all (nil)
    res = engine.execute("SELECT percentile(user, 5) FROM cpu", db="mydb")
    assert "series" not in res["results"][0]


def test_spread_aggregate(engine):
    res = engine.execute(
        "SELECT spread(user) FROM cpu WHERE host = 'a' GROUP BY time(60s)", db="mydb"
    )
    vals = _values(res)
    assert vals[0] == [1704067200000, 0.2]
    assert vals[1] == [1704067260000, 0.0]


def test_mode_aggregate(engine):
    res = engine.execute("SELECT mode(user) FROM cpu WHERE host = 'b'", db="mydb")
    assert _values(res) == [[1704067200000, 0.7]]


def test_derivative_of_mean(engine):
    res = engine.execute(
        "SELECT derivative(mean(user), 1s) FROM cpu WHERE host = 'a' GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"][0]
    assert series["columns"][1] == "derivative"
    # (0.50 - 0.20) / 60s * 1s = 0.005; first bucket is dropped
    assert series["values"] == [[1704067260000, 0.005]]


def test_non_negative_derivative_filters(engine):
    # host=b has a single point → derivative empty; use host=a desc order
    res = engine.execute(
        "SELECT non_negative_derivative(mean(user), 60s) FROM cpu WHERE host = 'a' GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"][0]
    assert series["values"] == [[1704067260000, 0.3]]  # (0.5-0.2)/60*60


def test_moving_average_of_mean(engine):
    res = engine.execute(
        "SELECT moving_average(mean(user), 2) FROM cpu WHERE host = 'a' GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"][0]
    assert series["columns"][1] == "moving_average"
    # window fills at the 2nd bucket: (0.20 + 0.50) / 2 = 0.35
    assert series["values"] == [[1704067260000, 0.35]]


def test_cumulative_sum_of_sum(engine):
    res = engine.execute(
        "SELECT cumulative_sum(sum(user)) FROM cpu WHERE host = 'a' GROUP BY time(60s)",
        db="mydb",
    )
    vals = _values(res)
    assert vals == [[1704067200000, 0.4], [1704067260000, 0.9]]


def test_bare_transform_parses_as_raw(tmp_path):
    """derivative(field) with no inner aggregate is the RAW-point
    transform (round 4 — it used to be rejected); malformed arg counts
    still fail loudly."""
    s = parse_select("SELECT derivative(user) FROM cpu")
    assert s.fields[0].agg is None and s.fields[0].tx == "derivative"
    s = parse_select("SELECT derivative(user, 10s) FROM cpu")
    assert s.fields[0].tx_arg == 10.0
    with pytest.raises(InfluxQLError):
        parse_select("SELECT derivative(user, 1s, 2s) FROM cpu")


def test_transform_per_tag_group(engine):
    # GROUP BY host: each series gets its own cumulative sum; host=b
    # has one point so its running sum equals the point
    res = engine.execute(
        "SELECT cumulative_sum(sum(user)) FROM cpu GROUP BY time(60s), host", db="mydb"
    )
    series = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    assert series["a"] == [[1704067200000, 0.4], [1704067260000, 0.9]]
    assert series["b"] == [[1704067200000, 0.7]]


# ---- subqueries (InfluxDB 1.2+; beyond the reference) ----


def test_subquery_mean_of_max(engine):
    # inner: per-host per-minute max → min0: a=0.3, b=0.7; min1: a=0.5
    # outer: mean across hosts per minute → 0.5, 0.5
    res = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host) GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"][0]
    assert series["name"] == "cpu" and series["columns"] == ["time", "mean"]
    assert series["values"] == [[1704067200000, 0.5], [1704067260000, 0.5]]


def test_subquery_outer_group_by_tag(engine):
    res = engine.execute(
        "SELECT sum(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host) GROUP BY time(60s), host",
        db="mydb",
    )
    by_host = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    assert by_host["a"] == [[1704067200000, 0.3], [1704067260000, 0.5]]
    assert by_host["b"] == [[1704067200000, 0.7]]


def test_subquery_time_range_propagates(engine):
    res = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host) "
        "WHERE time >= 1704067260000000000 GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res) == [[1704067260000, 0.5]]  # only minute 1 survives


def test_subquery_field_mismatch_rejected(engine):
    with pytest.raises(InfluxQLError, match="does not match"):
        engine.execute(
            "SELECT mean(user) FROM (SELECT max(user) FROM cpu GROUP BY time(60s))", db="mydb"
        )


def test_subquery_raw_reselection(engine):
    """SELECT <col> FROM (SELECT agg(f) ...) — InfluxDB 1.2+ raw
    re-selection of the subquery's output (round 7; previously
    rejected with "must aggregate")."""
    res = engine.execute(
        "SELECT max FROM (SELECT max(user) FROM cpu GROUP BY time(60s))", db="mydb"
    )
    series = res["results"][0]["series"][0]
    assert series["columns"] == ["time", "max"]
    assert series["values"] == [[1704067200000, 0.7], [1704067260000, 0.5]]
    # GROUP BY time over a raw re-selection has no aggregate to bucket
    with pytest.raises(InfluxQLError, match="requires an aggregate"):
        engine.execute(
            "SELECT max FROM (SELECT max(user) FROM cpu GROUP BY time(60s)) "
            "GROUP BY time(60s)",
            db="mydb",
        )


def test_subquery_having_idiom(engine):
    """WHERE <output> > τ outside the subquery — InfluxQL's HAVING:
    the value predicate filters the subquery's OUTPUT rows (round 7;
    previously the filter was silently dropped)."""
    res = engine.execute(
        "SELECT mean_v FROM (SELECT mean(user) AS mean_v FROM cpu "
        "GROUP BY time(60s), host) WHERE mean_v > 0.3",
        db="mydb",
    )
    # per-(minute, host) means: a min0 = 0.2, b min0 = 0.7, a min1 = 0.5
    # — only the > 0.3 rows survive, merged into one series by time
    assert _values(res) == [[1704067200000, 0.7], [1704067260000, 0.5]]
    # the same predicate composes with an outer aggregate
    res_agg = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host) "
        "WHERE max > 0.4 GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res_agg) == [[1704067200000, 0.7], [1704067260000, 0.5]]
    # a name that is not the subquery's output rejects loudly
    with pytest.raises(InfluxQLError, match="does not match subquery output"):
        engine.execute(
            "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s)) "
            "WHERE nosuch > 1",
            db="mydb",
        )


def test_subquery_transform_over_output(engine):
    """Transform functions over subquery output (round 7; previously
    rejected): derivative/difference run per OUTPUT series over the
    inner buckets, and an outer agg + transform composes both."""
    res = engine.execute(
        "SELECT derivative(mean_v) FROM (SELECT mean(user) AS mean_v FROM cpu "
        "GROUP BY time(60s), host) GROUP BY host",
        db="mydb",
    )
    by_host = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    # host=a means 0.2 -> 0.5 over 60 s = 0.005/s; host=b has one point
    assert by_host == {"a": [[1704067260000, 0.005]]}
    res_d = engine.execute(
        "SELECT difference(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s))",
        db="mydb",
    )
    assert _values(res_d) == [[1704067260000, -0.2]]
    # outer aggregate + transform: cumulative_sum over the re-bucketed sums
    res_cs = engine.execute(
        "SELECT cumulative_sum(sum(max)) FROM (SELECT max(user) FROM cpu "
        "GROUP BY time(60s), host) GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res_cs) == [[1704067200000, 1.0], [1704067260000, 1.5]]


def test_subquery_midlevel_where_applies(engine):
    """A middle nesting level's WHERE filters ITS subquery's output
    (round 7; previously tag/value predicates on mid-levels were
    silently dropped)."""
    res = engine.execute(
        "SELECT mean(mx) FROM (SELECT max(mean_v) AS mx FROM ("
        "SELECT mean(user) AS mean_v FROM cpu GROUP BY time(30s), host"
        ") WHERE host = 'a' GROUP BY time(60s)) GROUP BY time(60s)",
        db="mydb",
    )
    # host=b's 0.7 is filtered at the mid level: a's 30s means are
    # (0.1, 0.3, 0.5) -> minute maxes 0.3, 0.5 -> outer means equal
    assert _values(res) == [[1704067200000, 0.3], [1704067260000, 0.5]]


def test_subquery_raw_inner(engine):
    """Raw (non-aggregated) innermost subqueries (round 8; previously
    rejected with "every subquery field must aggregate"): InfluxDB
    1.2+ field filter / rename passthrough — SELECT mean(user) FROM
    (SELECT user FROM cpu WHERE host = 'a')."""
    res = engine.execute(
        "SELECT mean(user) FROM (SELECT user FROM cpu WHERE host = 'a') "
        "GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res) == [[1704067200000, 0.2], [1704067260000, 0.5]]
    # rename passthrough: the outer references the alias
    res_r = engine.execute(
        "SELECT mean(u) FROM (SELECT user AS u FROM cpu WHERE host = 'a') "
        "GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res_r) == _values(res)
    # ...and the ORIGINAL name no longer matches
    with pytest.raises(InfluxQLError, match="does not match"):
        engine.execute(
            "SELECT mean(user) FROM (SELECT user AS u FROM cpu)", db="mydb"
        )


def test_subquery_raw_inner_reselection_and_having(engine):
    """Raw re-selection and value predicates over a raw inner frame."""
    res = engine.execute(
        "SELECT u FROM (SELECT user AS u FROM cpu WHERE host = 'b')", db="mydb"
    )
    assert _values(res) == [[1704067200000, 0.7]]
    # outer WHERE value predicate filters the inner POINTS
    res_h = engine.execute(
        "SELECT user FROM (SELECT user FROM cpu) WHERE user > 0.4", db="mydb"
    )
    assert _values(res_h) == [[1704067200000, 0.7], [1704067290000, 0.5]]


def test_subquery_raw_inner_group_by_tag(engine):
    """The raw level carries the inner GROUP BY <tag> keys so the
    outer can group on them."""
    res = engine.execute(
        "SELECT mean(user) FROM (SELECT user FROM cpu GROUP BY host) "
        "GROUP BY time(1h), host",
        db="mydb",
    )
    by_host = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    assert by_host["a"] == [[1704067200000, 0.3]]  # (0.1+0.3+0.5)/3
    assert by_host["b"] == [[1704067200000, 0.7]]


def test_subquery_raw_inner_multi_field(engine):
    """Multi-field raw levels align on POINT identity (tag-set hash,
    ts_ns) — joining on bare ms timestamps would cross-join distinct
    series sharing a millisecond (host=a and host=b both have points
    at t0; a naive ts-join would duplicate user rows and corrupt the
    outer means)."""
    res = engine.execute(
        "SELECT mean(user) AS mu, mean(sys) AS ms FROM "
        "(SELECT user, sys FROM cpu) GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"][0]
    assert series["columns"] == ["time", "mu", "ms"]
    # minute 0: user (0.1+0.3+0.7)/3, sys 0.01; minute 1: user 0.5
    assert series["values"] == [
        [1704067200000, 0.366667, 0.01],
        [1704067260000, 0.5, None],
    ]


def test_subquery_raw_inner_wildcard(engine):
    """SELECT * inside a subquery expands to the measurement's field
    keys (previously '*' matched no stored field name and returned
    silently empty)."""
    res = engine.execute(
        "SELECT mean(user) FROM (SELECT * FROM cpu WHERE host = 'a') "
        "GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res) == [[1704067200000, 0.2], [1704067260000, 0.5]]


def test_subquery_raw_inner_nested(engine):
    """Three levels with a raw innermost — the shape the round-7
    grammar fence rejected."""
    res = engine.execute(
        "SELECT mean(mean_v) FROM (SELECT mean(u) AS mean_v FROM "
        "(SELECT user AS u FROM cpu WHERE host = 'a') GROUP BY time(60s)) "
        "GROUP BY time(120s)",
        db="mydb",
    )
    assert _values(res) == [[1704067200000, 0.35]]  # mean(0.2, 0.5)


def test_subquery_raw_inner_level_slice(engine):
    """A raw level's own ORDER BY time DESC LIMIT 1 slices the POINTS
    (the last-point idiom, at full point granularity)."""
    res = engine.execute(
        "SELECT u FROM (SELECT user AS u FROM cpu WHERE host = 'a' "
        "ORDER BY time DESC LIMIT 1)",
        db="mydb",
    )
    assert _values(res) == [[1704067290000, 0.5]]


def test_subquery_raw_inner_rejections(engine):
    # mixing raw and aggregated fields at one level
    with pytest.raises(InfluxQLError, match="mixing aggregate and non-aggregate"):
        engine.execute("SELECT mean(user) FROM (SELECT user, mean(sys) FROM cpu)", db="mydb")
    # raw level under GROUP BY time()
    with pytest.raises(InfluxQLError, match="requires aggregated"):
        engine.execute(
            "SELECT mean(user) FROM (SELECT user FROM cpu GROUP BY time(60s))",
            db="mydb",
        )
    # ::tag columns inside a subquery
    with pytest.raises(InfluxQLError, match="::tag"):
        engine.execute("SELECT host FROM (SELECT user, host::tag FROM cpu)", db="mydb")


def test_subquery_lone_selector_original_timestamp(engine):
    """Lone ungrouped max/min/first/last/percentile over subquery
    output return the single frame row AT ITS OWN timestamp (round 8
    — the round-7 base-path conformance rule extended to subqueries;
    previously folded into default 1-minute buckets)."""
    sub = "(SELECT mean(user) AS mean_v FROM cpu GROUP BY time(60s), host)"
    # frame rows: (a, min0, 0.2), (a, min1, 0.5), (b, min0, 0.7)
    res = engine.execute(f"SELECT max(mean_v) FROM {sub}", db="mydb")
    assert _values(res) == [[1704067200000, 0.7]]
    res = engine.execute(f"SELECT first(mean_v) FROM {sub}", db="mydb")
    assert _values(res) == [[1704067200000, 0.2]]  # ts tie -> value asc
    res = engine.execute(f"SELECT last(mean_v) FROM {sub}", db="mydb")
    assert _values(res) == [[1704067260000, 0.5]]
    res = engine.execute(
        f"SELECT percentile(mean_v, 50) FROM {sub}", db="mydb"
    )
    assert _values(res) == [[1704067260000, 0.5]]  # nearest-rank idx 2 of 3
    # grouped: one point per host
    res = engine.execute(f"SELECT max(mean_v) FROM {sub} GROUP BY host", db="mydb")
    by_host = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    assert by_host == {
        "a": [[1704067260000, 0.5]],
        "b": [[1704067200000, 0.7]],
    }
    # over a RAW inner frame the selector matches the base statement
    res_sub = engine.execute("SELECT max(u) FROM (SELECT user AS u FROM cpu)", db="mydb")
    res_base = engine.execute("SELECT max(user) FROM cpu", db="mydb")
    assert _values(res_sub) == _values(res_base) == [[1704067200000, 0.7]]
    # GROUP BY time keeps the bucketed path (one max per minute)
    res_b = engine.execute(
        f"SELECT max(mean_v) FROM {sub} GROUP BY time(60s)", db="mydb"
    )
    assert _values(res_b) == [[1704067200000, 0.7], [1704067260000, 0.5]]


def test_subquery_raw_tag_propagation(engine):
    """A raw passthrough level preserves per-point series identity, so
    an ENCLOSING GROUP BY <tag> resolves at the facts even when the
    raw level has no GROUP BY of its own (round 8) — InfluxDB's
    `SELECT mean(u) FROM (SELECT user AS u FROM cpu) GROUP BY host`.
    Aggregated inners keep the loud requires-inner-grouping rule."""
    res = engine.execute(
        "SELECT mean(u) FROM (SELECT user AS u FROM cpu) "
        "GROUP BY time(1h), host",
        db="mydb",
    )
    by_host = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    assert by_host["a"] == [[1704067200000, 0.3]]  # (0.1+0.3+0.5)/3
    assert by_host["b"] == [[1704067200000, 0.7]]
    # the request CASCADES through a passthrough mid-level
    res3 = engine.execute(
        "SELECT mean(u2) FROM (SELECT u AS u2 FROM (SELECT user AS u FROM cpu)) "
        "GROUP BY time(1h), host",
        db="mydb",
    )
    by_host3 = {s["tags"]["host"]: s["values"] for s in res3["results"][0]["series"]}
    assert by_host3 == by_host
    # GROUP BY * expands over the raw level's series tags
    res_star = engine.execute(
        "SELECT mean(u) FROM (SELECT user AS u FROM cpu) GROUP BY time(1h), *",
        db="mydb",
    )
    tags = [s["tags"] for s in res_star["results"][0]["series"]]
    assert {t["host"] for t in tags} == {"a", "b"}
    assert all("region" in t for t in tags)  # * = every tag key
    # an AGGREGATED inner still requires the inner grouping (loud)
    with pytest.raises(InfluxQLError, match="not grouped in the"):
        engine.execute(
            "SELECT mean(mean_v) FROM (SELECT mean(user) AS mean_v FROM cpu "
            "GROUP BY time(60s)) GROUP BY time(1h), host",
            db="mydb",
        )


def test_subquery_point_emitters(engine):
    """top/bottom/sample/distinct/elapsed over subquery output
    (round 8; previously rejected): the frame rows are the points."""
    sub = "(SELECT mean(user) AS mean_v FROM cpu GROUP BY time(60s), host)"
    # frame rows: (a, min0, 0.2), (a, min1, 0.5), (b, min0, 0.7)
    res = engine.execute(f"SELECT top(mean_v, 2) FROM {sub}", db="mydb")
    assert _values(res) == [[1704067200000, 0.7], [1704067260000, 0.5]]
    res = engine.execute(f"SELECT bottom(mean_v, 1) FROM {sub}", db="mydb")
    assert _values(res) == [[1704067200000, 0.2]]
    # top per outer time bucket keeps the frame rows' own timestamps
    res = engine.execute(
        f"SELECT top(mean_v, 1) FROM {sub} GROUP BY time(120s)", db="mydb"
    )
    assert _values(res) == [[1704067200000, 0.7]]
    # sample: deterministic picks, a subset of the frame rows
    res = engine.execute(f"SELECT sample(mean_v, 2) FROM {sub}", db="mydb")
    vals = _values(res)
    assert len(vals) == 2 and {v[1] for v in vals} <= {0.2, 0.5, 0.7}
    assert _values(engine.execute(f"SELECT sample(mean_v, 2) FROM {sub}", db="mydb")) == vals
    # distinct over a raw inner: unique values at epoch 0
    res = engine.execute(
        "SELECT distinct(u) FROM (SELECT user AS u FROM cpu WHERE host = 'a')",
        db="mydb",
    )
    assert sorted(_values(res)) == [[0, 0.1], [0, 0.3], [0, 0.5]]
    # elapsed over a raw inner matches the base statement (ms-exact)
    res_sub = engine.execute(
        "SELECT elapsed(u, 1s) FROM (SELECT user AS u FROM cpu WHERE host = 'a')",
        db="mydb",
    )
    res_base = engine.execute("SELECT elapsed(user, 1s) FROM cpu WHERE host = 'a'", db="mydb")
    assert _values(res_sub) == _values(res_base) == [
        [1704067230000, 30],
        [1704067290000, 60],
    ]
    # elapsed over bucketed output gaps the bucket timestamps per host
    res_e = engine.execute(f"SELECT elapsed(mean_v) FROM {sub} GROUP BY host", db="mydb")
    by_host = {s["tags"]["host"]: s["values"] for s in res_e["results"][0]["series"]}
    assert by_host == {"a": [[1704067260000, 60_000_000_000]]}
    with pytest.raises(InfluxQLError, match="only field"):
        engine.execute(f"SELECT top(mean_v, 2), mean(mean_v) FROM {sub}", db="mydb")


def test_subquery_raw_transform_inner(engine):
    """Transforms over raw points INSIDE a subquery (round 8):
    SELECT mean(d) FROM (SELECT derivative(user) AS d FROM cpu ...) —
    the per-point transform frame as a subquery level."""
    res = engine.execute(
        "SELECT mean(d) FROM (SELECT derivative(user) AS d FROM cpu "
        "WHERE host = 'a')",
        db="mydb",
    )
    # derivative: 0.2/30s then 0.2/60s, mean'd into default 1m buckets
    assert _values(res) == [[1704067200000, 0.006667], [1704067260000, 0.003333]]
    # raw re-selection of a transformed level keeps point timestamps
    res_d = engine.execute(
        "SELECT d FROM (SELECT difference(user) AS d FROM cpu WHERE host = 'a')",
        db="mydb",
    )
    assert _values(res_d) == [[1704067230000, 0.2], [1704067290000, 0.2]]
    # TA transforms ride the same frame
    res_e = engine.execute(
        "SELECT e FROM (SELECT exponential_moving_average(user, 3) AS e "
        "FROM cpu WHERE host = 'a') WHERE e > 0.15",
        db="mydb",
    )
    # ema: 0.1 (seed), 0.233333, 0.366667 — the > 0.15 filter drops the seed
    assert [v[1] for v in _values(res_e)] == [0.233333, 0.366667]
    # a second field alongside a raw transform rejects loudly
    with pytest.raises(InfluxQLError, match="only field"):
        engine.execute(
            "SELECT mean(d) FROM (SELECT derivative(user) AS d, "
            "difference(user) AS d2 FROM cpu)",
            db="mydb",
        )
    with pytest.raises(InfluxQLError, match="mixing aggregate and non-aggregate"):
        engine.execute(
            "SELECT mean(d) FROM (SELECT derivative(user) AS d, user FROM cpu)",
            db="mydb",
        )
    # raw transform under an inner GROUP BY time() still rejects
    with pytest.raises(InfluxQLError, match="requires an aggregate argument"):
        engine.execute(
            "SELECT mean(d) FROM (SELECT derivative(user) AS d FROM cpu "
            "GROUP BY time(60s))",
            db="mydb",
        )


def test_subquery_raw_inner_into(spark, tmp_path):
    """INTO composes over a raw innermost subquery (isolated store —
    INTO adds a measurement, which would shift the shared fixture's
    cardinality counts)."""
    root = str(tmp_path / "rawinto")
    store = LPStore(spark, root, db="mydb")
    store.write_batch(spark.createDataFrame([(l,) for l in LINES], "line string"))
    eng = InfluxQLEngine(spark, root)
    eng.execute(
        "SELECT mean(u) AS m INTO raw_sub_dst FROM "
        "(SELECT user AS u FROM cpu WHERE host = 'a') GROUP BY time(60s)",
        db="mydb",
    )
    res = eng.execute("SELECT m FROM raw_sub_dst", db="mydb")
    assert _values(res) == [[1704067200000, 0.2], [1704067260000, 0.5]]


# ---------------------------------------------------------------- round 2b fns


def test_top_selector_global(engine):
    # top-2 of user across all hosts: 0.7@t0, 0.5@t0+90s — selectors
    # keep the points' own timestamps, output ordered by time
    res = engine.execute("SELECT top(user, 2) FROM cpu", db="mydb")
    assert res["results"][0]["series"][0]["columns"] == ["time", "top"]
    assert _values(res) == [[1704067200000, 0.7], [1704067290000, 0.5]]


def test_bottom_selector(engine):
    res = engine.execute("SELECT bottom(user, 1) FROM cpu", db="mydb")
    assert _values(res) == [[1704067200000, 0.1]]


def test_top_per_time_bucket(engine):
    res = engine.execute(
        "SELECT top(user, 1) FROM cpu WHERE host = 'a' GROUP BY time(60s)", db="mydb"
    )
    assert _values(res) == [[1704067230000, 0.3], [1704067290000, 0.5]]


def test_top_requires_integer_n():
    with pytest.raises(InfluxQLError):
        parse_select("SELECT top(user) FROM cpu")


def test_count_distinct(engine):
    res = engine.execute("SELECT count(distinct(user)) FROM cpu GROUP BY time(1h)", db="mydb")
    series = res["results"][0]["series"][0]
    assert series["columns"] == ["time", "count"]
    assert series["values"] == [[1704067200000, 4]]


def test_distinct_values(engine):
    # ungrouped distinct() stamps epoch 0 (InfluxDB behavior)
    res = engine.execute("SELECT distinct(user) FROM cpu WHERE host = 'a'", db="mydb")
    assert _values(res) == [[0, 0.1], [0, 0.3], [0, 0.5]]


def test_elapsed_seconds(engine):
    # gaps 30s then 60s, emitted at the later point's timestamp
    res = engine.execute("SELECT elapsed(user, 1s) FROM cpu WHERE host = 'a'", db="mydb")
    assert _values(res) == [[1704067230000, 30], [1704067290000, 60]]


def test_elapsed_default_ns(engine):
    res = engine.execute("SELECT elapsed(user) FROM cpu WHERE host = 'a'", db="mydb")
    assert _values(res) == [
        [1704067230000, 30_000_000_000],
        [1704067290000, 60_000_000_000],
    ]


def test_integral_trapezoid(engine):
    # (0.1+0.3)/2*30s + (0.3+0.5)/2*60s = 6 + 24 = 30 value-seconds
    res = engine.execute(
        "SELECT integral(user, 1s) FROM cpu WHERE host = 'a' GROUP BY time(1h)", db="mydb"
    )
    assert _values(res) == [[1704067200000, 30.0]]


def test_group_by_time_offset(engine):
    # 60s buckets shifted by 30s: each point of host=a lands alone
    res = engine.execute(
        "SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(60s, 30s)", db="mydb"
    )
    assert _values(res) == [
        [1704067170000, 0.1],
        [1704067230000, 0.3],
        [1704067290000, 0.5],
    ]


def test_group_by_time_zero_rejects_and_subsecond_works(engine):
    """time(0s) must reject like InfluxDB (previously it silently
    clamped to 1 s); sub-second intervals must bucket at their real
    width (previously time(500ms) silently TRUNCATED to 1 s)."""
    with pytest.raises(InfluxQLError, match="must be positive"):
        engine.execute("SELECT mean(user) FROM cpu GROUP BY time(0s)", db="mydb")
    stmt = parse_select("SELECT mean(v) FROM m GROUP BY time(500ms)")
    assert stmt.group_by_time_s == 0.5
    # 500ms buckets over the second-spaced fixture = one point each
    res = engine.execute(
        "SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(500ms) LIMIT 2",
        db="mydb",
    )
    assert _values(res)[0] == [1704067200000, 0.1]


def test_time_equality_and_inequality(engine):
    """WHERE time = <instant> selects the exact point (round 8;
    previously parsed as a FIELD named "time" — silently empty);
    time != rejects loudly."""
    res = engine.execute(
        "SELECT user FROM cpu WHERE time = 1704067230000000000", db="mydb"
    )
    assert _values(res) == [[1704067230000, 0.3]]
    # RFC3339 instants canonicalize the same way
    res2 = engine.execute(
        "SELECT user FROM cpu WHERE time = '2024-01-01T00:00:30Z'", db="mydb"
    )
    assert _values(res2) == [[1704067230000, 0.3]]
    # equality composes with other bounds by intersection (empty here)
    res3 = engine.execute(
        "SELECT user FROM cpu WHERE time = 1704067230000000000 "
        "AND time >= 1704067290000000000",
        db="mydb",
    )
    assert res3["results"][0].get("series", []) == []
    with pytest.raises(InfluxQLError, match="not valid InfluxQL"):
        engine.execute("SELECT user FROM cpu WHERE time != 0", db="mydb")
    with pytest.raises(InfluxQLError, match="use a range"):
        engine.execute("SELECT user FROM cpu WHERE time = now()", db="mydb")


def test_show_tag_values_requires_with_key(engine):
    """InfluxDB grammar: SHOW TAG VALUES without WITH KEY is a parse
    error (round 8; previously listed every key/value pair)."""
    with pytest.raises(InfluxQLError, match="WITH KEY"):
        engine.execute("SHOW TAG VALUES", db="mydb")
    with pytest.raises(InfluxQLError, match="WITH KEY"):
        engine.execute("SHOW TAG VALUES CARDINALITY", db="mydb")


def test_raw_arithmetic_null_emits_no_point(engine):
    """x/0 (and any computed null) emits NO point — InfluxDB binary-op
    semantics (round 8; the base path previously emitted null rows
    while the subquery path dropped them)."""
    res = engine.execute("SELECT user / 0 FROM cpu", db="mydb")
    assert res["results"][0].get("series", []) == []
    res2 = engine.execute("SELECT user * 2 FROM cpu WHERE host = 'b'", db="mydb")
    assert _values(res2) == [[1704067200000, 1.4]]


def test_group_by_time_negative_offset_parses():
    stmt = parse_select("SELECT mean(v) FROM m GROUP BY time(1m, -30s)")
    assert stmt.group_by_time_s == 60
    assert stmt.group_by_time_offset_s == -30.0


# ---------------------------------------------------------- round-3 guards


def test_max_result_rows_guard_raises(spark, engine):
    """An over-limit SELECT must fail loudly instead of materializing
    the result on the driver (scale guard; the reference streams the
    same data unbounded into one process, cflux.js:792-810)."""
    capped = InfluxQLEngine(spark, engine.root, max_result_rows=2)
    with pytest.raises(InfluxQLError, match="max_result_rows"):
        capped.execute("SELECT user FROM cpu", db="mydb")
    # within the cap: fine (host=b has exactly one point)
    res = capped.execute("SELECT user FROM cpu WHERE host = 'b'", db="mydb")
    assert len(_values(res)) == 1
    # an explicit LIMIT keeps an otherwise-over-cap query under the cap
    res = capped.execute("SELECT user FROM cpu LIMIT 2", db="mydb")
    assert len(_values(res)) == 2


def test_default_window_filters_unranged_select(spark, engine):
    """F4 (opt-in): no time constraint → last default_window_s seconds
    (cflux.js:719-726 defaults to 300 s). The 2024 fixture points are
    far outside any recent window, so the result is empty; a query with
    its own absolute range is untouched."""
    windowed = InfluxQLEngine(spark, engine.root, default_window_s=300)
    res = windowed.execute("SELECT user FROM cpu", db="mydb")
    assert all(s["values"] == [] for s in res["results"][0].get("series", []))
    res = windowed.execute(
        "SELECT user FROM cpu WHERE time >= 1704067200000000000 AND time < 1704067300000000000",
        db="mydb",
    )
    assert len(_values(res)) > 0


def test_multi_statement_per_statement_errors(engine):
    """A failing statement produces its own {statement_id, error} entry;
    the other statements still return results (InfluxDB semantics)."""
    res = engine.execute(
        "SELECT mean(user) FROM cpu WHERE host = 'b'; SELECT frobnicate(user) FROM cpu; SHOW MEASUREMENTS",
        db="mydb",
    )
    entries = res["results"]
    assert len(entries) == 3
    assert entries[0]["statement_id"] == 0 and "series" in entries[0]
    assert entries[1]["statement_id"] == 1 and "error" in entries[1]
    assert entries[2]["statement_id"] == 2 and "series" in entries[2]


def test_selector_respects_limit_offset(engine):
    """top/bottom output points honor LIMIT/OFFSET like every other
    series builder (they were silently ignored before round 3)."""
    res = engine.execute("SELECT top(user, 3) FROM cpu WHERE host = 'a' LIMIT 2", db="mydb")
    assert len(_values(res)) == 2
    full = engine.execute("SELECT top(user, 3) FROM cpu WHERE host = 'a'", db="mydb")
    off = engine.execute(
        "SELECT top(user, 3) FROM cpu WHERE host = 'a' LIMIT 2 OFFSET 1", db="mydb"
    )
    assert _values(off) == _values(full)[1:3]


@pytest.mark.parametrize(
    "bad",
    [
        # grammar we reject LOUDLY (InfluxQLError), never silently
        # misparse: ::field casts, db.rp.measurement triplets with
        # quoting edge cases, unknown aggregates, malformed durations
        "SELECT user::bananas FROM cpu",
        "SELECT mean(user) FROM \"db\".\"rp\".\"cpu\" WHERE host = 'a",  # unterminated quote
        "SELECT frobnicate(user) FROM cpu",
        "SELECT mean(user) FROM cpu GROUP BY time(10parsecs)",
        "SELECT mean(user) FROM cpu WHERE time > now() - 10parsecs",
        "SELECT top(user, 1.5) FROM cpu",
        "SELECT FROM cpu",
        "DROP MEASUREMENT /cpu/",  # regex illegal here (round 6)
    ],
)
def test_rejected_grammar_raises_influxql_error(engine, bad):
    """Conformance fence: unsupported grammar raises InfluxQLError with
    a message, so regressions to silent misparse/empty results are
    caught (SURVEY §7 'keep grammar minimal, reject loudly')."""
    with pytest.raises(InfluxQLError):
        engine.execute(bad, db="mydb")


def test_chunked_select_streams_partial_envelopes(spark, engine):
    """execute_chunked: raw points arrive in <=chunk_size envelopes,
    all but the last marked partial; concatenation equals the unchunked
    result; the max_result_rows guard does not apply (streaming is the
    sanctioned unbounded path)."""
    capped = InfluxQLEngine(spark, engine.root, max_result_rows=1)
    envs = list(capped.execute_chunked("SELECT user FROM cpu WHERE host = 'a'", db="mydb", chunk_size=2))
    assert len(envs) == 2
    assert envs[0]["results"][0].get("partial") is True
    assert "partial" not in envs[-1]["results"][0]
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    unchunked = engine.execute("SELECT user FROM cpu WHERE host = 'a'", db="mydb")
    assert vals == _values(unchunked)
    assert all(
        sum(len(s["values"]) for s in e["results"][0]["series"]) <= 2 for e in envs
    )


def test_chunked_aggregates_stream(engine):
    """GROUP BY time(N) aggregates stream through the chunk pump too
    (round 4): <=chunk_size buckets per envelope, all but the last
    partial, concatenation equal to the unchunked result."""
    q = "SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(60s)"
    unchunked = engine.execute(q, db="mydb")
    n_buckets = len(_values(unchunked))
    assert n_buckets >= 2
    envs = list(engine.execute_chunked(q, db="mydb", chunk_size=1))
    assert len(envs) == n_buckets
    assert all(e["results"][0].get("partial") is True for e in envs[:-1])
    assert "partial" not in envs[-1]["results"][0]
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert vals == _values(unchunked)
    # one envelope when everything fits — identical to the plain result
    envs = list(engine.execute_chunked(q, db="mydb"))
    assert len(envs) == 1 and envs[0] == unchunked


def test_chunked_selectors_stream(engine):
    """Selectors stream through the chunk pump (round 7 — previously
    single-envelope fallback): ≤chunk_size rows per envelope, all but
    the last partial, concatenation equal to the unchunked result.
    Single-field subquery statements stream the same way (late
    round 7); multi-field outer selects over subqueries stream ONE
    bucket-aligned merged frame (round 8 — previously a
    single-envelope fallback)."""
    q = "SELECT top(user, 2) FROM cpu WHERE host = 'a'"
    unchunked = engine.execute(q, db="mydb")
    envs = list(engine.execute_chunked(q, db="mydb", chunk_size=1))
    assert len(envs) == 2  # two picked points, one per chunk
    assert envs[0]["results"][0].get("partial") is True
    assert "partial" not in envs[-1]["results"][0]
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert vals == _values(unchunked)
    sub = "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host) GROUP BY time(60s)"
    envs = list(engine.execute_chunked(sub, db="mydb", chunk_size=1))
    assert len(envs) == 2 and envs[0]["results"][0].get("partial") is True
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert vals == _values(engine.execute(sub, db="mydb"))
    multi = (
        "SELECT mean(mx), sum(mn) FROM (SELECT max(user) AS mx, min(user) AS mn "
        "FROM cpu GROUP BY time(60s), host) GROUP BY time(60s)"
    )
    envs = list(engine.execute_chunked(multi, db="mydb", chunk_size=1))
    assert len(envs) == 2 and envs[0]["results"][0].get("partial") is True
    mseries = engine.execute(multi, db="mydb")["results"][0]["series"][0]
    got = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert got == mseries["values"]
    assert all(
        s["columns"] == mseries["columns"]
        for e in envs
        for s in e["results"][0]["series"]
    )


def test_chunked_respects_group_by_tag(engine):
    envs = list(
        engine.execute_chunked("SELECT user FROM cpu GROUP BY host", db="mydb", chunk_size=100)
    )
    assert len(envs) == 1
    tags = {s["tags"]["host"] for s in envs[0]["results"][0]["series"]}
    assert tags == {"a", "b"}


def test_chunked_multi_field_matches_unchunked_merged_series(engine):
    """Round-6 ADVICE: chunked multi-field raw SELECTs must emit the
    same point-aligned MERGED series the unchunked path returns —
    previously they streamed per-field unmerged series (silently
    inconsistent output for the same query depending on chunking)."""
    q = "SELECT user, sys FROM cpu WHERE host = 'a'"
    unchunked = engine.execute(q, db="mydb")
    ucols = unchunked["results"][0]["series"][0]["columns"]
    assert ucols == ["time", "user", "sys"]
    envs = list(engine.execute_chunked(q, db="mydb", chunk_size=1))
    assert all(e["results"][0].get("partial") is True for e in envs[:-1])
    for e in envs:
        for s in e["results"][0]["series"]:
            assert s["columns"] == ucols
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert vals == _values(unchunked)


def test_chunked_tag_column_matches_unchunked(engine):
    """Round-6 ADVICE: chunked 'SELECT user, host::tag' used to
    silently omit the tag column (and skip ::tag validation)."""
    q = "SELECT user, host::tag FROM cpu"
    unchunked = engine.execute(q, db="mydb")
    envs = list(engine.execute_chunked(q, db="mydb", chunk_size=2))
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert vals == _values(unchunked)
    assert envs[0]["results"][0]["series"][0]["columns"] == ["time", "user", "host"]
    # validation fires in chunked mode too
    with pytest.raises(InfluxQLError, match="at least one FIELD"):
        list(engine.execute_chunked("SELECT host::tag FROM cpu", db="mydb"))


def test_chunked_select_star_expands_wildcard(engine):
    """Chunked SELECT * used to filter on the literal field '*' and
    stream nothing (round-6 fix): it must expand like unchunked."""
    q = "SELECT * FROM app"
    unchunked = engine.execute(q, db="mydb")
    envs = list(engine.execute_chunked(q, db="mydb", chunk_size=1))
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert vals == _values(unchunked) and len(vals) > 0


@pytest.mark.parametrize(
    "q",
    [
        "SELECT user FROM cpu",
        "SELECT user FROM cpu ORDER BY time DESC",
        "SELECT user FROM cpu LIMIT 2 OFFSET 1",
        "SELECT user, sys FROM cpu",
        "SELECT user, sys FROM cpu LIMIT 3",
        "SELECT user, host::tag FROM cpu WHERE host = 'a'",
        "SELECT * FROM cpu",
        "SELECT mean(user) FROM cpu GROUP BY time(60s)",
        "SELECT mean(user), mean(sys) FROM cpu GROUP BY time(60s)",
        "SELECT mean(user), max(user) FROM cpu GROUP BY time(60s) fill(previous)",
        "SELECT mean(user), mean(sys) FROM cpu GROUP BY time(60s) LIMIT 2 OFFSET 1",
        "SELECT mean(user) FROM cpu GROUP BY time(60s), host",
        "SELECT mean(user), mean(sys) FROM cpu GROUP BY time(60s), host",
        "SELECT mean(user), mean(sys) FROM cpu GROUP BY time(60s) ORDER BY time DESC",
        # single-frame shapes that stream once the planner is shared
        # (default 1-minute mean, raw arithmetic)
        "SELECT mean(user) FROM cpu GROUP BY host",
        "SELECT user + sys FROM cpu",
        "SELECT mean(user) FROM cpu",
        # the old chunked dispatch named this column 'user'
        "SELECT user AS u FROM cpu",
        # round 7: lone ungrouped selectors (original-timestamp point;
        # chunked falls back to one envelope — must still be equal)
        "SELECT max(user) FROM cpu",
        "SELECT first(user) FROM cpu GROUP BY host",
        "SELECT last(user) FROM cpu",
        # round 7: selectors/distinct/elapsed STREAM through the pump
        "SELECT top(user, 2) FROM cpu GROUP BY host",
        "SELECT bottom(user, 2) FROM cpu",
        "SELECT top(user, 2) FROM cpu GROUP BY time(60s)",
        "SELECT distinct(user) FROM cpu",
        "SELECT distinct(user) FROM cpu GROUP BY time(60s)",
        "SELECT elapsed(user) FROM cpu GROUP BY host",
        "SELECT elapsed(user) FROM cpu",
        "SELECT sample(user, 2) FROM cpu",
        "SELECT top(user, 2) FROM cpu LIMIT 1",
        # round 7: TA transforms over raw points and bucketed aggs,
        # plus Holt-Winters forecasts, through the same pump
        "SELECT exponential_moving_average(user, 3) FROM cpu GROUP BY host",
        "SELECT exponential_moving_average(user, 3) FROM cpu",
        "SELECT relative_strength_index(mean(user), 2) FROM cpu GROUP BY time(60s)",
        "SELECT exponential_moving_average(mean(user), 3), mean(user) "
        "FROM cpu GROUP BY time(60s)",
        "SELECT holt_winters(mean(user), 3, 0) FROM cpu GROUP BY time(60s)",
        # round 7: single-field subquery statements STREAM through the
        # pump (raw re-selection / HAVING / transform / outer agg /
        # arithmetic over outputs); multi-field falls back — equal
        # either way
        "SELECT max FROM (SELECT max(user) FROM cpu GROUP BY time(60s))",
        "SELECT mean_v FROM (SELECT mean(user) AS mean_v FROM cpu "
        "GROUP BY time(60s), host) WHERE mean_v > 0.3",
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host) "
        "GROUP BY time(60s)",
        "SELECT derivative(mean_v) FROM (SELECT mean(user) AS mean_v FROM cpu "
        "GROUP BY time(60s), host) GROUP BY host",
        "SELECT max - min FROM (SELECT max(user), min(user) FROM cpu GROUP BY time(60s))",
        "SELECT mean(mx), sum(mn) FROM (SELECT max(user) AS mx, min(user) AS mn "
        "FROM cpu GROUP BY time(60s), host) GROUP BY time(60s)",
        "SELECT * FROM (SELECT max(user), min(user) FROM cpu GROUP BY time(60s))",
        # rows not unique per bucket once the outer drops host: the
        # parts cannot be joined (the old chunked dispatch cross-joined)
        "SELECT mx, mn FROM (SELECT max(user) AS mx, min(user) AS mn FROM cpu "
        "GROUP BY time(60s), host)",
        "SELECT max FROM (SELECT max(user) FROM cpu GROUP BY time(60s)) LIMIT 1",
        # round 8: raw innermost subqueries through the same pump
        "SELECT mean(user) FROM (SELECT user FROM cpu WHERE host = 'a') "
        "GROUP BY time(60s)",
        "SELECT u FROM (SELECT user AS u FROM cpu)",
        "SELECT user FROM (SELECT user FROM cpu) WHERE user > 0.4",
        "SELECT mean(u) FROM (SELECT user AS u FROM cpu GROUP BY host) "
        "GROUP BY time(60s), host",
        "SELECT mean(user) FROM (SELECT user, sys FROM cpu) GROUP BY time(60s)",
        "SELECT mean(mean_v) FROM (SELECT mean(u) AS mean_v FROM "
        "(SELECT user AS u FROM cpu WHERE host = 'a') GROUP BY time(60s)) "
        "GROUP BY time(120s)",
        # round 8: lone selectors over subquery output (point-ts rows)
        "SELECT max(mean_v) FROM (SELECT mean(user) AS mean_v FROM cpu "
        "GROUP BY time(60s), host)",
        "SELECT percentile(mean_v, 50) FROM (SELECT mean(user) AS mean_v "
        "FROM cpu GROUP BY time(60s), host) GROUP BY host",
        # round 8: point emitters over subquery output
        "SELECT top(mean_v, 2) FROM (SELECT mean(user) AS mean_v FROM cpu "
        "GROUP BY time(60s), host)",
        "SELECT distinct(u) FROM (SELECT user AS u FROM cpu WHERE host = 'a')",
        "SELECT elapsed(mean_v) FROM (SELECT mean(user) AS mean_v FROM cpu "
        "GROUP BY time(60s), host) GROUP BY host",
        # round 7: duplicate output columns disambiguate (_1 suffix)
        "SELECT user, user FROM cpu",
        "SELECT mean(user), mean(user) FROM cpu GROUP BY time(60s)",
        "SELECT exponential_moving_average(mean(user), 2), "
        "exponential_moving_average(mean(user), 4) FROM cpu GROUP BY time(60s)",
    ],
)
def test_chunked_equals_unchunked_sweep(engine, q):
    """Conformance sweep (round 6): for every chunkable statement
    shape, the concatenation of chunked envelopes must equal the
    unchunked result — same columns, same merged series, same values.
    This is the property the round-6 ADVICE finding violated (chunked
    multi-field emitted per-field series) generalized into a fence."""
    unchunked = engine.execute(q, db="mydb")
    envs = list(engine.execute_chunked(q, db="mydb", chunk_size=2))
    useries = unchunked["results"][0].get("series", [])
    # group chunked series by (name, tags) and concatenate values
    merged: dict = {}
    order: list = []
    for e in envs:
        for s in e["results"][0].get("series", []):
            key = (s.get("name"), tuple(sorted((s.get("tags") or {}).items())))
            if key not in merged:
                merged[key] = {"columns": s["columns"], "values": []}
                order.append(key)
            assert merged[key]["columns"] == s["columns"]
            merged[key]["values"].extend(s["values"])
    ukeys = [
        (s.get("name"), tuple(sorted((s.get("tags") or {}).items()))) for s in useries
    ]
    assert order == ukeys, f"series set differs for {q!r}"
    for s in useries:
        key = (s.get("name"), tuple(sorted((s.get("tags") or {}).items())))
        assert merged[key]["columns"] == s["columns"], f"columns differ for {q!r}"
        assert merged[key]["values"] == s["values"], f"values differ for {q!r}"


def test_show_series(engine):
    res = engine.execute("SHOW SERIES", db="mydb")
    keys = [v[0] for v in _values(res)]
    assert "cpu,host=a,region=eu" in keys
    assert "cpu,host=b,region=us" in keys
    assert "app,host=a" in keys
    # FROM narrows to one measurement
    res = engine.execute("SHOW SERIES FROM app", db="mydb")
    assert all(v[0].startswith("app,") for v in _values(res))


def test_show_cardinality_family(engine):
    # fingerprint is per (tags+field): cpu host=a {user,sys} → 2,
    # cpu host=b {user} → 1, app host=a {status} → 1 ⇒ 4 series
    res = engine.execute("SHOW SERIES CARDINALITY", db="mydb")
    assert _values(res) == [[4]]
    res = engine.execute("SHOW SERIES EXACT CARDINALITY FROM cpu", db="mydb")
    assert _values(res) == [[3]]
    res = engine.execute("SHOW MEASUREMENT CARDINALITY", db="mydb")
    assert _values(res) == [[2]]
    res = engine.execute("SHOW TAG KEY CARDINALITY", db="mydb")
    assert _values(res) == [[2]]  # host, region
    # TAG VALUES CARDINALITY (round 8; previously fell through to the
    # VALUES handler and answered with the values — silently wrong)
    res = engine.execute('SHOW TAG VALUES CARDINALITY WITH KEY = "host"', db="mydb")
    assert _values(res) == [[2]]  # host: a, b
    res = engine.execute(
        'SHOW TAG VALUES EXACT CARDINALITY FROM cpu WITH KEY IN (host, region)',
        db="mydb",
    )
    assert _values(res) == [[4]]  # (host,a),(host,b),(region,eu),(region,us)
    # plural misforms reject loudly instead of answering the LIST
    for bad in (
        "SHOW MEASUREMENTS CARDINALITY",
        "SHOW FIELD KEYS CARDINALITY",
        "SHOW TAG KEYS EXACT CARDINALITY",
    ):
        with pytest.raises(InfluxQLError, match="is not InfluxQL"):
            engine.execute(bad, db="mydb")


def test_select_into_downsample_roundtrip(engine):
    """SELECT mean(user) INTO cpu_1m ... GROUP BY time(60s): the
    aggregated points materialize as a new measurement whose rows are
    indistinguishable from ingested points for every query path."""
    res = engine.execute(
        "SELECT mean(user) INTO cpu_1m FROM cpu WHERE host = 'a' GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res) == [[0, 2]]  # two 1-minute buckets written
    back = engine.execute("SELECT mean FROM cpu_1m", db="mydb")
    assert _values(back) == [[1704067200000, 0.2], [1704067260000, 0.5]]
    meas = engine.execute("SHOW MEASUREMENTS", db="mydb")
    assert ["cpu_1m"] in _values(meas)


def test_select_into_preserves_group_tags(engine):
    res = engine.execute(
        "SELECT max(user) INTO cpu_max FROM cpu GROUP BY time(1h), host", db="mydb"
    )
    assert _values(res) == [[0, 2]]  # one bucket per host
    back = engine.execute("SELECT max FROM cpu_max GROUP BY host", db="mydb")
    by_host = {s["tags"]["host"]: s["values"] for s in back["results"][0]["series"]}
    assert by_host["a"] == [[1704067200000, 0.5]]
    assert by_host["b"] == [[1704067200000, 0.7]]


def test_select_into_raw_copy_string_field(engine):
    res = engine.execute("SELECT status INTO app_copy FROM app", db="mydb")
    assert _values(res) == [[0, 1]]
    back = engine.execute("SELECT status FROM app_copy", db="mydb")
    assert _values(back) == [[1704067200000, "ok"]]


def test_continuous_query_lifecycle(spark, tmp_path_factory):
    """CQ registration → incremental watermark runs over COMPLETE
    buckets only → no duplicate rows on rerun → SHOW/DROP."""
    root = str(tmp_path_factory.mktemp("cqstore"))
    store = LPStore(spark, root, db="cqdb")
    lines1 = [
        "cpu,host=a user=0.10 1704067200000000000",  # 00:00:00
        "cpu,host=a user=0.30 1704067230000000000",  # 00:00:30
        "cpu,host=a user=0.50 1704067290000000000",  # 00:01:30 (open bucket)
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines1], "line string"))
    eng = InfluxQLEngine(spark, root)
    eng.execute(
        'CREATE CONTINUOUS QUERY "cq_1m" ON cqdb BEGIN '
        "SELECT mean(user) INTO cpu_1m FROM cpu GROUP BY time(60s) END",
        db="cqdb",
    )
    res = eng.execute("SHOW CONTINUOUS QUERIES")
    assert res["results"][0]["series"][0]["name"] == "cqdb"
    assert res["results"][0]["series"][0]["values"][0][0] == "cq_1m"

    # run 1: only the complete 00:00 bucket materializes
    written = eng.run_continuous_queries("cqdb")
    assert written == {"cq_1m": 1}
    back = eng.execute("SELECT mean FROM cpu_1m", db="cqdb")
    assert _values(back) == [[1704067200000, 0.2]]

    # idempotent rerun with no new data
    assert eng.run_continuous_queries("cqdb") == {"cq_1m": 0}

    # late-arriving next bucket closes 00:01 — rerun writes exactly it
    lines2 = ["cpu,host=a user=0.90 1704067330000000000"]  # 00:02:10
    store.write_batch(spark.createDataFrame([(l,) for l in lines2], "line string"))
    assert eng.run_continuous_queries("cqdb") == {"cq_1m": 1}
    back = eng.execute("SELECT mean FROM cpu_1m", db="cqdb")
    assert _values(back) == [[1704067200000, 0.2], [1704067260000, 0.5]]

    eng.execute('DROP CONTINUOUS QUERY "cq_1m" ON cqdb')
    assert eng.execute("SHOW CONTINUOUS QUERIES")["results"][0].get("series", []) == []


def test_continuous_query_rejects_non_into(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cqbad"))
    eng = InfluxQLEngine(spark, root)
    with pytest.raises(InfluxQLError, match="INTO"):
        eng.execute(
            'CREATE CONTINUOUS QUERY "bad" ON x BEGIN SELECT mean(v) FROM m GROUP BY time(60s) END'
        )
    with pytest.raises(InfluxQLError, match="GROUP BY time"):
        eng.execute(
            'CREATE CONTINUOUS QUERY "bad2" ON x BEGIN SELECT mean(v) INTO m2 FROM m END'
        )


def test_first_last_are_time_ordered(spark, tmp_path_factory):
    """InfluxQL first()/last() pick by TIME, not encounter order: the
    batch is written with timestamps deliberately shuffled so Spark's
    own first()/last() would be storage-order-dependent."""
    root = str(tmp_path_factory.mktemp("flstore"))
    store = LPStore(spark, root, db="fl")
    shuffled = [
        "m,host=a v=0.50 1704067290000000000",  # 00:01:30 (latest)
        "m,host=a v=0.10 1704067200000000000",  # 00:00:00 (earliest)
        "m,host=a v=0.30 1704067230000000000",  # 00:00:30
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in shuffled], "line string"))
    eng = InfluxQLEngine(spark, root)
    res = eng.execute("SELECT first(v), last(v) FROM m GROUP BY time(1h)", db="fl")
    series = res["results"][0]["series"]
    assert len(series) == 1 and series[0]["columns"] == ["time", "first_v", "last_v"]
    assert series[0]["values"] == [[1704067200000, 0.1, 0.5]]


def test_sample_selector_deterministic(engine):
    """sample(f, N): N actual points with their own timestamps;
    deterministic across runs (documented deviation from InfluxDB's
    random pick — the hash_sample discipline)."""
    a = engine.execute("SELECT sample(user, 2) FROM cpu WHERE host = 'a'", db="mydb")
    b = engine.execute("SELECT sample(user, 2) FROM cpu WHERE host = 'a'", db="mydb")
    assert _values(a) == _values(b)
    assert len(_values(a)) == 2
    # sampled values are actual points of the series
    allv = {tuple(v) for v in _values(engine.execute("SELECT user FROM cpu WHERE host = 'a'", db="mydb"))}
    assert {tuple(v) for v in _values(a)} <= allv
    # per-bucket sampling under GROUP BY time
    res = engine.execute("SELECT sample(user, 1) FROM cpu WHERE host = 'a' GROUP BY time(60s)", db="mydb")
    assert len(_values(res)) == 2  # one pick per populated minute


def test_retention_policy_enforcement(spark, tmp_path_factory):
    """CREATE RETENTION POLICY ... DEFAULT registers for real (the
    reference only fakes SHOW) and enforcement drops expired date
    partitions as O(1) directory drops — no scan, no rewrite."""
    import os
    from datetime import date

    root = str(tmp_path_factory.mktemp("rpstore"))
    store = LPStore(spark, root, db="rp")
    lines = [
        "m,host=a v=1.0 1704067200000000000",   # 2024-01-01
        "m,host=a v=2.0 1704931200000000000",   # 2024-01-11
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    parts = lambda: sorted(e for e in os.listdir(store.samples_path) if e.startswith("date="))
    assert parts() == ["date=2024-01-01", "date=2024-01-11"]

    eng = InfluxQLEngine(spark, root)
    eng.execute(
        'CREATE RETENTION POLICY "week" ON rp DURATION 168h REPLICATION 1 DEFAULT'
    )
    res = eng.execute("SHOW RETENTION POLICIES", db="rp")
    by_name = {v[0]: v for v in _values(res)}
    assert by_name["week"][1] == "168h0m0s" and by_name["week"][4] is True
    assert by_name["autogen"][4] is False  # displaced as default

    dropped = eng.enforce_retention_policies("rp", now=date(2024, 1, 12))
    assert dropped == {"rp": ["date=2024-01-01"]}
    assert parts() == ["date=2024-01-11"]
    # queries see only the surviving partition
    res = eng.execute("SELECT v FROM m WHERE time >= 0", db="rp")
    assert _values(res) == [[1704931200000, 2.0]]
    # idempotent
    assert eng.enforce_retention_policies("rp", now=date(2024, 1, 12)) == {"rp": []}


def test_math_on_raw_field(engine):
    res = engine.execute("SELECT abs(user) FROM cpu WHERE host = 'a'", db="mydb")
    series = res["results"][0]["series"][0]
    assert series["columns"][1] == "abs"
    assert [v[1] for v in series["values"]] == [0.1, 0.3, 0.5]


def test_math_round_with_decimals(engine):
    res = engine.execute("SELECT round(user, 1) FROM cpu WHERE host = 'a'", db="mydb")
    assert [v[1] for v in _values(res)] == [0.1, 0.3, 0.5]


def test_math_pow_on_raw_field(engine):
    res = engine.execute("SELECT pow(user, 2) FROM cpu WHERE host = 'b'", db="mydb")
    assert [v[1] for v in _values(res)] == [pytest.approx(0.49)]


def test_math_skips_string_fields(engine):
    res = engine.execute("SELECT sqrt(status) FROM app", db="mydb")
    # string-typed field -> no float rows -> no series (empty results
    # omit the series object, InfluxDB envelope shape)
    assert "series" not in res["results"][0]


def test_math_over_aggregate(engine):
    res = engine.execute(
        "SELECT sqrt(mean(user)) FROM cpu WHERE host = 'a' GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"][0]
    assert series["columns"][1] == "sqrt"
    # bucket means: 0.2 (00:00) and 0.5 (01:00)
    assert [v[1] for v in series["values"]] == [
        pytest.approx(0.447214),
        pytest.approx(0.707107),
    ]


def test_difference_of_mean(engine):
    res = engine.execute(
        "SELECT difference(mean(user)) FROM cpu WHERE host = 'a' GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"][0]
    assert series["columns"][1] == "difference"
    assert series["values"] == [[1704067260000, pytest.approx(0.3)]]


def test_non_negative_difference_filters(engine):
    res = engine.execute(
        "SELECT non_negative_difference(mean(user)) FROM cpu WHERE host = 'a' "
        "GROUP BY time(60s) ORDER BY time DESC",
        db="mydb",
    )
    # descending output ordering, but the transform still runs in time
    # order: one positive delta survives
    series = res["results"][0]["series"][0]
    assert [v[1] for v in series["values"]] == [pytest.approx(0.3)]


def test_math_bad_second_arg_rejected(engine):
    import pytest as _pt

    from cflux_spark.plans.influxql import InfluxQLError

    with _pt.raises(InfluxQLError):
        engine.execute("SELECT round(user, abc) FROM cpu", db="mydb")


def test_field_value_where(spark, tmp_path):
    """WHERE field-value predicates (InfluxQL: bare numeric/boolean RHS
    means field comparison, quoted RHS means tag): per-POINT semantics
    — a condition on one field restricts the same-timestamp points of
    every selected field."""
    root = str(tmp_path / "fieldwhere")
    store = LPStore(spark, root, db="fw")
    lines = [
        "m,host=a v=1,err=0,ok=true 1704067200000000000",
        "m,host=a v=5,err=2,ok=false 1704067210000000000",
        "m,host=a v=9,err=0,ok=true 1704067220000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)

    def vals(q):
        res = eng.execute(q, db="fw")
        if "series" not in res["results"][0]:
            return []
        return [v[1] for v in _values(res)]

    assert vals("SELECT v FROM m WHERE v > 1") == [5.0, 9.0]
    assert vals("SELECT v FROM m WHERE v >= 5") == [5.0, 9.0]
    assert vals("SELECT v FROM m WHERE v < 5") == [1.0]
    assert vals("SELECT v FROM m WHERE v = 5") == [5.0]
    assert vals("SELECT v FROM m WHERE v != 5") == [1.0, 9.0]
    # cross-field: err > 0 picks the middle POINT of v
    assert vals("SELECT v FROM m WHERE err > 0") == [5.0]
    # boolean field comparison rides the message column
    assert vals("SELECT v FROM m WHERE ok = true") == [1.0, 9.0]
    assert vals("SELECT v FROM m WHERE ok != true") == [5.0]
    # AND of field + tag + time conditions composes
    assert vals(
        "SELECT v FROM m WHERE host = 'a' AND v > 1 AND time >= 1704067220000000000"
    ) == [9.0]
    # aggregates see the restriction too
    assert vals("SELECT mean(v) FROM m WHERE err = 0 GROUP BY time(60s)") == [5.0]
    # quoted RHS stays a tag filter (no rows: no tag v='5')
    assert vals("SELECT v FROM m WHERE v = '5'") == []


def test_raw_point_transforms(spark, tmp_path):
    """derivative/difference/cumulative_sum/moving_average over RAW
    points (no aggregate) — per-series, emitted at the points' own
    timestamps, InfluxDB semantics (Grafana rate panels emit these)."""
    root = str(tmp_path / "rawtx")
    store = LPStore(spark, root, db="rt")
    # v = 0,1,4,9,16 at 10 s spacing
    lines = [f"m,host=a v={i*i} {(1704067200 + i*10) * 10**9}" for i in range(5)]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)

    def vals(q):
        return _values(eng.execute(q, db="rt"))

    t0 = 1704067200000
    # derivative: dv/dt per second -> (1-0)/10, (4-1)/10, ...
    assert vals("SELECT derivative(v) FROM m") == [
        [t0 + 10_000, 0.1], [t0 + 20_000, 0.3], [t0 + 30_000, 0.5], [t0 + 40_000, 0.7]
    ]
    # derivative with a unit: per 10 s
    assert [v[1] for v in vals("SELECT derivative(v, 10s) FROM m")] == [1.0, 3.0, 5.0, 7.0]
    assert [v[1] for v in vals("SELECT difference(v) FROM m")] == [1.0, 3.0, 5.0, 7.0]
    assert [v[1] for v in vals("SELECT cumulative_sum(v) FROM m")] == [0.0, 1.0, 5.0, 14.0, 30.0]
    # moving_average(v, 2): emitted from the 2nd point
    assert [v[1] for v in vals("SELECT moving_average(v, 2) FROM m")] == [0.5, 2.5, 6.5, 12.5]
    # non_negative variants drop the dip
    store2 = LPStore(spark, root, db="rt2")
    lines2 = [f"m v={x} {(1704067200 + i*10) * 10**9}" for i, x in enumerate([5, 3, 8])]
    store2.write_batch(spark.createDataFrame([(l,) for l in lines2], "line string"))
    assert [v[1] for v in _values(eng.execute("SELECT non_negative_difference(v) FROM m", db="rt2"))] == [5.0]
    assert [v[1] for v in _values(eng.execute("SELECT non_negative_derivative(v) FROM m", db="rt2"))] == [0.5]
    # per-series under GROUP BY host: each series differentiates alone
    store3 = LPStore(spark, root, db="rt3")
    lines3 = [
        "m,host=a v=0 1704067200000000000",
        "m,host=a v=10 1704067210000000000",
        "m,host=b v=100 1704067200000000000",
        "m,host=b v=100 1704067210000000000",
    ]
    store3.write_batch(spark.createDataFrame([(l,) for l in lines3], "line string"))
    res = eng.execute("SELECT difference(v) FROM m GROUP BY host", db="rt3")
    by_tag = {s["tags"]["host"]: [v[1] for v in s["values"]] for s in res["results"][0]["series"]}
    assert by_tag == {"a": [10.0], "b": [0.0]}
    # a resent batch stores a point twice: the copy does not advance
    # time, so it emits no derivative (InfluxDB) instead of dividing by 0
    store3.write_batch(spark.createDataFrame([(lines3[1],)], "line string"))
    res = eng.execute("SELECT derivative(v) FROM m GROUP BY host", db="rt3")
    by_tag = {s["tags"]["host"]: [v[1] for v in s["values"]] for s in res["results"][0]["series"]}
    assert by_tag == {"a": [1.0], "b": [0.0]}
    # moving_average still requires N
    with pytest.raises(InfluxQLError, match="moving_average"):
        eng.execute("SELECT moving_average(v) FROM m", db="rt")


def test_group_by_time_tz_dst(spark, tmp_path):
    """tz('America/Chicago') day buckets across the 2024-03-10 spring-
    forward: bucket labels are the UTC instants of LOCAL midnights, so
    the DST-crossing local day is 23 h long (CST -6 -> CDT -5)."""
    root = str(tmp_path / "tzstore")
    store = LPStore(spark, root, db="tzdb")
    lines = [
        "m,host=a v=1 1709985600000000000",  # 2024-03-09 12:00 UTC -> local Mar 9 (CST)
        "m,host=a v=2 1710072000000000000",  # 2024-03-10 12:00 UTC -> local Mar 10 (DST day)
        "m,host=a v=4 1710158400000000000",  # 2024-03-11 12:00 UTC -> local Mar 11 (CDT)
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    res = eng.execute(
        "SELECT mean(v) FROM m GROUP BY time(1d) tz('America/Chicago')", db="tzdb"
    )
    vals = _values(res)
    # local midnights: Mar 9/10 at 06:00 UTC (CST), Mar 11 at 05:00 UTC (CDT)
    assert vals == [[1709964000000, 1.0], [1710050400000, 2.0], [1710133200000, 4.0]]
    starts = [v[0] for v in vals]
    assert starts[1] - starts[0] == 86_400_000  # full local day
    assert starts[2] - starts[1] == 82_800_000  # 23 h DST-crossing local day

    # fill(0) grid steps in LOCAL days too: drop the middle point and
    # the gap bucket must appear at the local Mar 10 midnight instant
    store2 = LPStore(spark, root, db="tzdb2")
    store2.write_batch(
        spark.createDataFrame([(lines[0],), (lines[2],)], "line string")
    )
    res = eng.execute(
        "SELECT mean(v) FROM m GROUP BY time(1d) fill(0) tz('America/Chicago')",
        db="tzdb2",
    )
    assert _values(res) == [
        [1709964000000, 1.0],
        [1710050400000, 0.0],
        [1710133200000, 4.0],
    ]


def test_group_by_time_tz_half_hour_zone(spark, tmp_path):
    """Asia/Kolkata (+5:30): hour buckets align to local :30-offset
    boundaries — sub-hour zone offsets exercise the wall-clock (not
    offset-divides-bucket) arithmetic."""
    root = str(tmp_path / "tzhalf")
    store = LPStore(spark, root, db="kdb")
    # 2024-01-01 00:10 UTC = 05:40 IST -> local hour start 05:00 IST
    # = 2023-12-31 23:30 UTC
    store.write_batch(
        spark.createDataFrame([("m v=3 1704068400000000000",)], "line string")
    )
    eng = InfluxQLEngine(spark, root)
    res = eng.execute("SELECT mean(v) FROM m GROUP BY time(1h) tz('Asia/Kolkata')", db="kdb")
    assert _values(res) == [[1704065400000, 3.0]]


def test_tz_unknown_zone_rejected(engine):
    with pytest.raises(InfluxQLError, match="time zone"):
        engine.execute("SELECT mean(user) FROM cpu GROUP BY time(1h) tz('Not/AZone')", db="mydb")
    with pytest.raises(InfluxQLError, match="time zone"):
        # charset fence: no dots/quotes reach the JVM expression string
        engine.execute("SELECT mean(user) FROM cpu GROUP BY time(1h) tz('../evil')", db="mydb")


def test_multi_measurement_from_list(engine):
    res = engine.execute(
        "SELECT mean(user) FROM cpu, app GROUP BY time(60s)", db="mydb"
    )
    series = res["results"][0]["series"]
    # one series set per measurement that has float samples: app's only
    # field is a string -> cpu contributes, app yields no float rows
    names = {s["name"] for s in series}
    assert "cpu" in names
    # all three cpu buckets present (host a two buckets + host b's)
    cpu_vals = [v for s in series if s["name"] == "cpu" for v in s["values"]]
    assert len(cpu_vals) >= 2


def test_multi_measurement_from_db_mismatch_rejected(engine):
    import pytest as _pt

    from cflux_spark.plans.influxql import InfluxQLError

    with _pt.raises(InfluxQLError):
        engine.execute("SELECT mean(user) FROM db1.cpu, db2.mem", db="mydb")


def test_multi_measurement_mixed_qualification_rejected(engine):
    """FROM m1, other.autogen.m2 is ambiguous (which db is m1 in?) —
    rejected loudly instead of silently resolving the bare name in the
    qualified db."""
    import pytest as _pt

    from cflux_spark.plans.influxql import InfluxQLError

    with _pt.raises(InfluxQLError, match="mixes"):
        engine.execute("SELECT mean(user) FROM cpu, other.autogen.mem", db="mydb")
    with _pt.raises(InfluxQLError, match="mixes"):
        engine.execute("SELECT mean(user) FROM other.mem, cpu", db="mydb")


def test_quoted_from_names_with_separators():
    """Quoted identifiers containing ',' or '.' must parse as single
    names, not be shredded by the list/db splits."""
    from cflux_spark.plans.influxql import parse_select

    s = parse_select('SELECT v FROM "a,b"')
    assert s.measurement == "a,b" and s.measurement_regex is None and s.db is None
    s = parse_select('SELECT v FROM "c.d"')
    assert s.measurement == "c.d" and s.db is None
    s = parse_select('SELECT v FROM mydb."e.f"')
    assert s.measurement == "e.f" and s.db == "mydb"
    s = parse_select('SELECT v FROM "a,b", "c.d"')
    assert s.measurement_regex is not None
    import re as _re

    rx = _re.compile(s.measurement_regex)
    assert rx.match("a,b") and rx.match("c.d") and not rx.match("a")


def test_delete_and_drop_measurement(spark, tmp_path):
    """DELETE prunes time ranges (partition drop for covered dates,
    rewrite for partial); DROP MEASUREMENT removes facts + registry."""
    root = str(tmp_path / "delstore")
    store = LPStore(spark, root, db="ddb")
    lines = [
        # two dates for cpu, one for mem
        "cpu,host=a user=0.1 1704067200000000000",   # 2024-01-01
        "cpu,host=a user=0.2 1704153600000000000",   # 2024-01-02
        "mem,host=a used=5 1704067200000000000",     # 2024-01-01
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)

    # time-ranged DELETE on cpu: only the 01-02 point goes (01-01 kept
    # because the partition also holds mem -> measurement-filtered
    # rewrite, not a directory drop)
    res = eng.execute(
        "DELETE FROM cpu WHERE time >= 1704153600000000000", db="ddb"
    )
    stats = res["results"][0]["series"][0]["values"][0]
    assert stats[1] + stats[2] >= 1  # at least one partition touched
    vals = eng.execute("SELECT user FROM cpu", db="ddb")
    assert _values(vals) == [[1704067200000, 0.1]]
    # mem untouched
    assert _values(eng.execute("SELECT used FROM mem", db="ddb")) == [[1704067200000, 5.0]]

    # DROP MEASUREMENT cpu: facts gone, registry purged, mem intact
    eng.execute("DROP MEASUREMENT cpu", db="ddb")
    gone = eng.execute("SELECT user FROM cpu", db="ddb")
    assert not gone["results"][0].get("series") or _values(gone) == []
    meas = eng.execute("SHOW MEASUREMENTS", db="ddb")
    assert [v[0] for v in _values(meas)] == ["mem"]


def test_delete_whole_day_partition_dropped(spark, tmp_path):
    """A DELETE whose range covers a whole date with no measurement
    mix... (single measurement per partition) is an O(1) directory
    drop, not a rewrite."""
    root = str(tmp_path / "delstore2")
    store = LPStore(spark, root, db="ddb")
    lines = [
        "cpu,host=a user=0.1 1704067200000000000",  # 2024-01-01
        "cpu,host=a user=0.2 1704153600000000000",  # 2024-01-02
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    stats = store.delete_where(lo_ns=1704067200 * 10**9, hi_ns=1704153600 * 10**9)
    assert stats == {"partitions_dropped": 1, "partitions_rewritten": 0}
    left = store.read_samples_or_empty().select("ts_ns").collect()
    assert [r.ts_ns for r in left] == [1704153600000000000]


def test_drop_database(spark, tmp_path):
    root = str(tmp_path / "dropdb")
    store = LPStore(spark, root, db="gone")
    store.write_batch(
        spark.createDataFrame([("cpu,host=a user=0.1 1704067200000000000",)], "line string")
    )
    eng = InfluxQLEngine(spark, root)
    assert ["gone"] in _values(eng.execute("SHOW DATABASES"))
    eng.execute("DROP DATABASE gone")
    res = eng.execute("SHOW DATABASES")
    names = [v for s in res["results"][0].get("series", []) for v in s.get("values", [])]
    assert ["gone"] not in names


def test_drop_database_rejects_path_traversal(spark, tmp_path):
    """DROP DATABASE with '../'-style names must not escape the store
    root: the name reaches rmtree, so traversal would delete arbitrary
    directories via the unauthenticated /query edge."""
    victim = tmp_path / "victim"
    victim.mkdir()
    (victim / "keep.txt").write_text("precious")
    root = tmp_path / "travroot"
    root.mkdir()
    eng = InfluxQLEngine(spark, str(root))
    for bad in ("../victim", '"../victim"', "..", "a/b", "a\\b", '"nested/../../victim"'):
        with pytest.raises(InfluxQLError):
            eng.execute(f"DROP DATABASE {bad}")
    assert (victim / "keep.txt").read_text() == "precious"
    # db= request parameter takes the same path via store()
    with pytest.raises(InfluxQLError):
        eng.execute("SELECT v FROM m", db="../victim")
    assert victim.exists()


def test_drop_series_by_tag(spark, tmp_path):
    """DROP SERIES FROM cpu WHERE host='a' removes exactly that
    series' facts and registry rows; host=b survives."""
    root = str(tmp_path / "dropseries")
    store = LPStore(spark, root, db="sdb")
    lines = [
        "cpu,host=a user=0.1 1704067200000000000",
        "cpu,host=a user=0.2 1704153600000000000",
        "cpu,host=b user=0.7 1704067200000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    res = eng.execute("DROP SERIES FROM cpu WHERE host = 'a'", db="sdb")
    assert res["results"][0]["series"][0]["values"][0][1] >= 1  # partitions rewritten
    left = eng.execute("SELECT user FROM cpu", db="sdb")
    assert _values(left) == [[1704067200000, 0.7]]
    tags = eng.execute('SHOW TAG VALUES FROM cpu WITH KEY = "host"', db="sdb")
    assert sorted(v[1] for v in _values(tags)) == ["b"]


def test_drop_series_regex_and_where_only(spark, tmp_path):
    """Round 6: DROP SERIES accepts '=~ /regex/' matchers (previously
    only quoted RHS parsed) and a WHERE-only form without FROM;
    a bare DROP SERIES rejects loudly instead of nuking everything."""
    root = str(tmp_path / "dropre")
    store = LPStore(spark, root, db="rdb")
    lines = [
        "cpu,host=web1 user=0.1 1704067200000000000",
        "cpu,host=web2 user=0.2 1704067200000000000",
        "cpu,host=db1 user=0.3 1704067200000000000",
        "mem,host=web1 free=5 1704067200000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    eng.execute("DROP SERIES FROM cpu WHERE host =~ /^web/", db="rdb")
    left = eng.execute("SELECT user FROM cpu", db="rdb")
    assert [v[1] for v in _values(left)] == [0.3]
    # mem's web1 series survived (FROM scoped the drop)
    mem = eng.execute("SELECT free FROM mem", db="rdb")
    assert [v[1] for v in _values(mem)] == [5.0]
    # FROM /regex/ scopes the drop by measurement pattern (round 6)
    eng.execute("DROP SERIES FROM /^m/ WHERE host = 'web1'", db="rdb")
    mem = eng.execute("SELECT free FROM mem", db="rdb")
    assert "series" not in mem["results"][0]
    # cpu's db1 series survived the regex-scoped drop
    assert [v[1] for v in _values(eng.execute("SELECT user FROM cpu", db="rdb"))] == [0.3]
    # WHERE-only form drops across measurements
    eng.execute("DROP SERIES WHERE host =~ /db/", db="rdb")
    cpu = eng.execute("SELECT user FROM cpu", db="rdb")
    assert "series" not in cpu["results"][0]
    with pytest.raises(InfluxQLError, match="FROM and/or WHERE"):
        eng.execute("DROP SERIES", db="rdb")


def test_select_star_expands_to_field_keys(engine):
    """SELECT * must expand to the measurement's field keys (sys, user
    for cpu) instead of silently matching a field named '*'."""
    res = engine.execute("SELECT * FROM cpu", db="mydb")
    series = res["results"][0]["series"]
    assert len(series) == 1 and series[0]["columns"] == ["time", "sys", "user"]
    user_vals = [v[2] for v in series[0]["values"] if v[2] is not None]
    assert len(user_vals) == 4  # all four cpu user points survive the merge


def test_select_agg_star(engine):
    """mean(*) aggregates every field key."""
    res = engine.execute(
        "SELECT mean(*) FROM cpu WHERE time >= 1704067200000000000 GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"]
    assert len(series) == 1
    assert series[0]["columns"] == ["time", "mean_sys", "mean_user"]


def test_where_tag_regex_matchers(engine):
    """WHERE tag =~ /re/ (InfluxDB's slash form) must strip the
    delimiters and match unanchored (region 'eu' =~ /e.*/); !~
    excludes; a bare unquoted RHS for =~ is rejected loudly."""
    res = engine.execute("SELECT user FROM cpu WHERE region =~ /e.*/", db="mydb")
    vals = [v for s in res["results"][0]["series"] for v in s["values"]]
    assert len(vals) == 3  # the three host=a region=eu user points
    res2 = engine.execute("SELECT user FROM cpu WHERE region !~ /e.*/", db="mydb")
    vals2 = [v for s in res2["results"][0]["series"] for v in s["values"]]
    assert len(vals2) == 1  # host=b region=us
    with pytest.raises(InfluxQLError, match="regex"):
        engine.execute("SELECT user FROM cpu WHERE region =~ eu", db="mydb")


def test_field_arithmetic_unsupported_shapes_reject_loudly(engine):
    """+ - * / over aggregates/fields is in-grammar since round 5;
    what remains outside (%, selectors inside arithmetic, stray
    operators) must error, not silently match a literal field name."""
    with pytest.raises(InfluxQLError, match="unsupported SELECT expression"):
        engine.execute("SELECT max(user) % min(user) FROM cpu", db="mydb")
    with pytest.raises(InfluxQLError, match="only plain aggregates"):
        engine.execute("SELECT top(user, 2) + 1 FROM cpu", db="mydb")
    with pytest.raises(InfluxQLError, match="truncated SELECT expression"):
        engine.execute("SELECT user + FROM cpu", db="mydb")


def test_parenthesized_where_and_or_groups(engine):
    """Grafana wraps template conditions in parens — they must parse;
    a parenthesized OR of tag matchers (the multi-value template
    shape) is a disjunction ANDed with the rest of the WHERE. The
    reference parses OR via ifql-parser (cflux.js:691) then silently
    walks only ANDed conditions (cflux.js:737-743) — silently-empty;
    here the supported shapes evaluate and the rest reject loudly."""
    res = engine.execute("SELECT user FROM cpu WHERE (host = 'a')", db="mydb")
    vals = [v for s in res["results"][0]["series"] for v in s["values"]]
    assert len(vals) == 3
    res2 = engine.execute(
        "SELECT user FROM cpu WHERE (host = 'a' OR host = 'b')", db="mydb"
    )
    vals2 = [v for s in res2["results"][0]["series"] for v in s["values"]]
    assert len(vals2) == 4
    # the OR group ANDs with sibling conditions (host IN (a,b) AND region=us)
    res3 = engine.execute(
        "SELECT user FROM cpu WHERE (host = 'a' OR host = 'b') AND region = 'us'",
        db="mydb",
    )
    vals3 = [v for s in res3["results"][0]["series"] for v in s["values"]]
    assert [v[1] for v in vals3] == [0.7]
    # regex matchers participate in OR groups too
    res4 = engine.execute(
        "SELECT user FROM cpu WHERE (region =~ /^e/ OR host = 'b')", db="mydb"
    )
    vals4 = [v for s in res4["results"][0]["series"] for v in s["values"]]
    assert len(vals4) == 4


def test_where_or_field_predicates(engine):
    """OR over field-value predicates unions the satisfying points:
    user < 0.2 OR user > 0.6 keeps the 0.10 and 0.70 points only."""
    res = engine.execute(
        "SELECT user FROM cpu WHERE (user < 0.2 OR user > 0.6)", db="mydb"
    )
    vals = sorted(v[1] for s in res["results"][0]["series"] for v in s["values"])
    assert vals == [0.1, 0.7]


def test_where_or_unsupported_shapes_reject_loudly(engine):
    """Time bounds inside OR, and tag/field mixes, are outside the
    supported grammar — loud errors, never silently-empty results."""
    with pytest.raises(InfluxQLError, match="OR over time"):
        engine.execute(
            "SELECT user FROM cpu WHERE time > now() - 1h OR host = 'a'", db="mydb"
        )
    with pytest.raises(InfluxQLError, match="mix tag and field"):
        engine.execute(
            "SELECT user FROM cpu WHERE (host = 'a' OR user > 0.5)", db="mydb"
        )


def test_select_as_alias(engine):
    """AS renames the output column for bare fields and aggregates."""
    res = engine.execute("SELECT user AS usage FROM cpu", db="mydb")
    assert res["results"][0]["series"][0]["columns"] == ["time", "usage"]
    res2 = engine.execute(
        "SELECT mean(user) AS avg_u FROM cpu WHERE time >= 1704067200000000000 GROUP BY time(60s)",
        db="mydb",
    )
    assert res2["results"][0]["series"][0]["columns"] == ["time", "avg_u"]


def test_from_autogen_rp_prefix(engine):
    """FROM autogen.cpu — InfluxQL's two-part policy.measurement form
    (the default-RP prefix Grafana's measurement picker emits) — must
    resolve in the request db, not a db named 'autogen'."""
    res = engine.execute("SELECT user FROM autogen.cpu", db="mydb")
    vals = [v for s in res["results"][0]["series"] for v in s["values"]]
    assert len(vals) == 4


def test_from_user_rp_prefix_resolves_at_execute_time(engine):
    """A two-part FROM whose prefix names a USER-created retention
    policy must resolve in the session db (InfluxQL rp.measurement),
    not parse as db='week' and silently return empty; a prefix naming
    neither an RP nor an existing db rejects loudly."""
    engine.execute(
        "CREATE RETENTION POLICY week ON mydb DURATION 1w REPLICATION 1", db="mydb"
    )
    try:
        res = engine.execute('SELECT user FROM "week"."cpu"', db="mydb")
        vals = [v for s in res["results"][0]["series"] for v in s["values"]]
        assert len(vals) == 4
        with pytest.raises(InfluxQLError, match="neither an existing database nor a retention policy"):
            engine.execute('SELECT user FROM "nosuch"."cpu"', db="mydb")
    finally:
        engine.retention_policies.get("mydb", {}).pop("week", None)


def test_retention_policy_duration_format(engine):
    """SHOW RETENTION POLICIES renders durations InfluxDB-style
    (1h0m0s), not raw seconds."""
    engine.execute("CREATE RETENTION POLICY fmt1 ON mydb DURATION 1h REPLICATION 1", db="mydb")
    engine.execute("CREATE RETENTION POLICY fmt2 ON mydb DURATION 90m REPLICATION 1", db="mydb")
    res = engine.execute("SHOW RETENTION POLICIES ON mydb", db="mydb")
    by_name = {v[0]: v[1] for v in res["results"][0]["series"][0]["values"]}
    assert by_name["fmt1"] == "1h0m0s"
    assert by_name["fmt2"] == "1h30m0s"
    assert by_name["autogen"] == "0s"


def test_ungrouped_transforms_across_segment_boundaries(spark, tmp_path):
    """Ungrouped raw-point transforms (one merged series) run through
    the segmented two-phase window (operators/windows.py
    merged_window_stage, 1h segments) — multi-hour data must produce
    exactly the merged-series answer across segment boundaries, and
    cumulative_sum must accumulate across them (segment prefix sums)."""
    root = str(tmp_path / "seg")
    store = LPStore(spark, root, db="segdb")
    base_ns = 1704067200000000000  # 2024-01-01T00:00:00Z
    # 8 points spaced 40 min apart → spans 5 distinct 1h segments,
    # with points landing both inside and on either side of boundaries
    pts = [(base_ns + i * 2400 * 10**9, float(i * i)) for i in range(8)]
    lines = [f"m v={v} {t}" for t, v in pts]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)

    def vals(q):
        res = eng.execute(q, db="segdb")
        return [v for s in res["results"][0]["series"] for v in s["values"]]

    diffs = vals("SELECT difference(v) FROM m")
    assert [v[1] for v in diffs] == [
        round(pts[i][1] - pts[i - 1][1], 6) for i in range(1, 8)
    ]
    cs = vals("SELECT cumulative_sum(v) FROM m")
    expect_cs, acc = [], 0.0
    for _t, v in pts:
        acc += v
        expect_cs.append(round(acc, 6))
    assert [v[1] for v in cs] == expect_cs
    ma = vals("SELECT moving_average(v, 3) FROM m")
    assert [v[1] for v in ma] == [
        round((pts[i][1] + pts[i - 1][1] + pts[i - 2][1]) / 3, 6) for i in range(2, 8)
    ]
    el = vals("SELECT elapsed(v, 1s) FROM m")
    assert [v[1] for v in el] == [2400] * 7
    dv = vals("SELECT derivative(v, 1s) FROM m")
    assert [v[1] for v in dv] == [
        round((pts[i][1] - pts[i - 1][1]) / 2400, 6) for i in range(1, 8)
    ]


def test_subquery_two_level_nesting(engine):
    """3-deep: per-(host,30s) max -> per-host-minute mean -> cross-host
    minute max. Round 5 removed the one-level cap; each level is one
    more groupBy on the same plan."""
    res = engine.execute(
        "SELECT max(mean) FROM ("
        " SELECT mean(max) FROM ("
        "  SELECT max(user) FROM cpu GROUP BY time(30s), host"
        " ) GROUP BY time(60s), host"
        ") GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"][0]
    assert series["name"] == "cpu" and series["columns"] == ["time", "max"]
    # inner 30s maxes: a: (0.1@:00, 0.3@:30, 0.5@1:30), b: 0.7@:00
    # per-host minute means: a min0 = 0.2, a min1 = 0.5, b min0 = 0.7
    # cross-host minute max: min0 = 0.7, min1 = 0.5
    assert series["values"] == [[1704067200000, 0.7], [1704067260000, 0.5]]


def test_subquery_outer_fill(engine):
    """Outer fill() over a subquery (previously rejected): make the
    outer bucket 30s so the grid has a gap to fill."""
    res = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(30s), host) "
        "GROUP BY time(30s) fill(0)",
        db="mydb",
    )
    vals = _values(res)
    # buckets :00, :30, 1:00 (empty -> filled 0), 1:30
    assert vals == [
        [1704067200000, 0.4],
        [1704067230000, 0.3],
        [1704067260000, 0.0],
        [1704067290000, 0.5],
    ]
    res_prev = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(30s), host) "
        "GROUP BY time(30s) fill(previous)",
        db="mydb",
    )
    assert _values(res_prev)[2] == [1704067260000, 0.3]


def test_subquery_depth_cap_rejects_loudly(engine):
    q = "SELECT max(user) FROM cpu GROUP BY time(60s)"
    col = "user"
    for _ in range(9):
        q = f"SELECT max(max) FROM ({q}) GROUP BY time(60s)"
    with pytest.raises(InfluxQLError, match="nesting deeper"):
        engine.execute(q, db="mydb")


def test_subquery_time_range_propagates_to_depth3(engine):
    res = engine.execute(
        "SELECT max(mean) FROM ("
        " SELECT mean(max) FROM ("
        "  SELECT max(user) FROM cpu GROUP BY time(30s), host"
        " ) GROUP BY time(60s), host"
        ") WHERE time >= 1704067260000000000 GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res) == [[1704067260000, 0.5]]


def test_subquery_outer_tag_filter_on_grouped_tag(engine):
    """WHERE host='a' outside a subquery that GROUPs BY host filters
    the inner output series (InfluxDB semantics); a tag the inner
    level did not group by has no column and rejects loudly."""
    res = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host) "
        "WHERE host = 'a' GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res) == [[1704067200000, 0.3], [1704067260000, 0.5]]
    res_or = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host) "
        "WHERE (host = 'a' OR host = 'b') GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res_or) == [[1704067200000, 0.5], [1704067260000, 0.5]]
    with pytest.raises(InfluxQLError, match="requires the subquery to GROUP BY"):
        engine.execute(
            "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s)) "
            "WHERE region = 'eu' GROUP BY time(60s)",
            db="mydb",
        )


def test_select_arithmetic_aggregates(engine):
    """SELECT arithmetic over aggregates (round 5): Grafana's
    percent/spread shapes. Leaves compute their own bucketed frames,
    joined on bucket, combined with column math."""
    res = engine.execute("SELECT max(user) - min(user) FROM cpu GROUP BY time(60s)", db="mydb")
    s0 = res["results"][0]["series"][0]
    assert s0["columns"] == ["time", "max_min"]
    # min0: max 0.7 min 0.1 -> 0.6; min1: only 0.5 -> 0.0
    assert s0["values"] == [[1704067200000, 0.6], [1704067260000, 0.0]]
    res2 = engine.execute("SELECT mean(user) * 100 AS pct FROM cpu GROUP BY time(60s)", db="mydb")
    s2 = res2["results"][0]["series"][0]
    assert s2["columns"] == ["time", "pct"]
    assert s2["values"][0] == [1704067200000, 36.6667]
    # grouped by tag too
    res3 = engine.execute(
        "SELECT (max(user) + min(user)) / 2 FROM cpu GROUP BY time(60s), host", db="mydb"
    )
    by_host = {s["tags"]["host"]: s["values"] for s in res3["results"][0]["series"]}
    assert by_host["a"][0] == [1704067200000, 0.2]
    assert by_host["b"] == [[1704067200000, 0.7]]


def test_select_arithmetic_division_missing_operand(engine):
    """A bucket missing one operand emits nothing without fill();
    fill(0) materializes it. sys exists only at minute 0."""
    res = engine.execute("SELECT mean(sys) / mean(user) FROM cpu GROUP BY time(60s)", db="mydb")
    assert _values(res) == [[1704067200000, 0.027273]]  # 0.01 / (1.1/3)
    res_fill = engine.execute(
        "SELECT mean(sys) / mean(user) FROM cpu GROUP BY time(60s) fill(0)", db="mydb"
    )
    assert _values(res_fill) == [[1704067200000, 0.027273], [1704067260000, 0.0]]


def test_select_arithmetic_raw_fields(engine):
    """Raw pointwise math: single-field scalar ops map per point;
    multi-field ops align on point identity (tag set + ts) and emit
    only points where every operand exists."""
    res = engine.execute("SELECT user * 100 FROM cpu WHERE host = 'a'", db="mydb")
    assert [v[1] for v in _values(res)] == [10.0, 30.0, 50.0]
    res2 = engine.execute("SELECT user + sys AS total FROM cpu", db="mydb")
    s2 = res2["results"][0]["series"][0]
    assert s2["columns"] == ["time", "total"]
    assert [v[1] for v in s2["values"]] == [0.11]  # only the :00 a-point has sys
    with pytest.raises(InfluxQLError, match="may not mix"):
        engine.execute("SELECT mean(user) + user FROM cpu", db="mydb")


def test_select_type_cast_suffixes(engine):
    """user::float strips to the field; host::tag attaches the tag as
    a per-point column alongside fields (tag-only and aggregated
    shapes reject loudly)."""
    res = engine.execute("SELECT user::float FROM cpu WHERE host = 'b'", db="mydb")
    assert _values(res) == [[1704067200000, 0.7]]
    res2 = engine.execute("SELECT user, host::tag FROM cpu", db="mydb")
    s2 = res2["results"][0]["series"][0]
    assert s2["columns"] == ["time", "user", "host"]
    hosts = {(v[0], v[1]): v[2] for v in s2["values"]}
    assert hosts[(1704067200000, 0.7)] == "b"
    assert hosts[(1704067200000, 0.1)] == "a"
    assert hosts[(1704067290000, 0.5)] == "a"
    with pytest.raises(InfluxQLError, match="at least one FIELD"):
        engine.execute("SELECT host::tag FROM cpu", db="mydb")
    with pytest.raises(InfluxQLError, match="raw"):
        engine.execute("SELECT mean(user), host::tag FROM cpu", db="mydb")


def test_where_parenthesized_and_conjunction(engine):
    """(host = 'a' AND region = 'eu') — a parenthesized AND group must
    parse as the two conditions (the AND split is paren-aware since
    round 5), including nested with OR groups alongside."""
    res = engine.execute(
        "SELECT user FROM cpu WHERE (host = 'a' AND region = 'eu')", db="mydb"
    )
    vals = [v for s in res["results"][0]["series"] for v in s["values"]]
    assert len(vals) == 3
    res2 = engine.execute(
        "SELECT user FROM cpu WHERE (host = 'a' AND region = 'eu') AND time >= 1704067230000000000",
        db="mydb",
    )
    vals2 = [v for s in res2["results"][0]["series"] for v in s["values"]]
    assert len(vals2) == 2
    res3 = engine.execute(
        "SELECT user FROM cpu WHERE ((region = 'eu' OR region = 'us') AND host = 'b')",
        db="mydb",
    )
    vals3 = [v for s in res3["results"][0]["series"] for v in s["values"]]
    assert [v[1] for v in vals3] == [0.7]


def test_select_into_arithmetic(spark, tmp_path):
    """SELECT arithmetic INTO (round 6; rejected loudly in round 5):
    aggregate arithmetic writes bucketed results, raw arithmetic
    writes point-aligned results (inner-join operand semantics — a
    point missing any operand emits nothing), both re-queryable."""
    root = str(tmp_path / "intoarith")
    store = LPStore(spark, root, db="adb")
    lines = [
        "cpu,host=a user=0.1,sys=0.2 1704067200000000000",
        "cpu,host=a user=0.3,sys=0.4 1704067230000000000",
        "cpu,host=a user=0.5 1704067260000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    r = eng.execute(
        "SELECT mean(user) * 100 INTO cpu_pct FROM cpu GROUP BY time(60s)", db="adb"
    )
    assert _values(r) == [[0, 2]]
    back = eng.execute("SELECT * FROM cpu_pct", db="adb")
    se = back["results"][0]["series"][0]
    # InfluxDB names arithmetic columns after the first function
    assert se["columns"] == ["time", "mean"]
    assert se["values"] == [[1704067200000, 20.0], [1704067260000, 50.0]]
    r = eng.execute("SELECT user + sys AS total INTO cpu_tot FROM cpu", db="adb")
    assert _values(r) == [[0, 2]]
    back = eng.execute("SELECT total FROM cpu_tot", db="adb")
    se = back["results"][0]["series"][0]
    # the third point has no sys operand and must not be written
    assert se["values"] == [[1704067200000, 0.3], [1704067230000, 0.7]]
    # continuous queries accept arithmetic too (same INTO machinery)
    eng.execute(
        'CREATE CONTINUOUS QUERY "pct" ON adb BEGIN '
        "SELECT mean(user) * 100 INTO cq_pct FROM cpu GROUP BY time(60s) END",
        db="adb",
    )
    assert "pct" in str(eng.execute("SHOW CONTINUOUS QUERIES", db="adb"))


def test_select_into_measurement_backreference(spark, tmp_path):
    """INTO "tgt"."rp".:MEASUREMENT FROM /regex/ (round 6): each
    matched measurement downsampled into a SAME-NAMED measurement of
    the target database — the InfluxDB bulk-downsample idiom. A
    backreference without a distinct target db rejects loudly (RP
    prefixes are ignored, so it would append into its own source)."""
    root = str(tmp_path / "backref")
    store = LPStore(spark, root, db="srcdb")
    lines = [
        "cpu1,host=a v=2 1704067200000000000",
        "cpu1,host=a v=4 1704067230000000000",
        "cpu2,host=a v=10 1704067200000000000",
        "disk,host=a v=99 1704067200000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    r = eng.execute(
        'SELECT mean(v) INTO "arch"."autogen".:MEASUREMENT FROM /^cpu/ GROUP BY time(60s)',
        db="srcdb",
    )
    assert _values(r) == [[0, 2]]  # one bucket row per cpu measurement
    # targets live in db 'arch' under the SAME names; disk untouched
    got1 = eng.execute("SELECT mean FROM cpu1", db="arch")
    assert [v[1] for v in _values(got1)] == [3.0]
    got2 = eng.execute("SELECT mean FROM cpu2", db="arch")
    assert [v[1] for v in _values(got2)] == [10.0]
    assert "series" not in eng.execute("SELECT mean FROM disk", db="arch")["results"][0]
    # source measurements carry no appended aggregate rows
    src = eng.execute("SELECT v FROM cpu1", db="srcdb")
    assert len(_values(src)) == 2
    with pytest.raises(InfluxQLError, match="distinct target database"):
        eng.execute("SELECT mean(v) INTO :MEASUREMENT FROM cpu1 GROUP BY time(60s)", db="srcdb")
    # regex FROM with a fixed target merges all matches into one name
    r = eng.execute(
        'SELECT mean(v) INTO "arch"."autogen"."all_cpu" FROM /^cpu/ GROUP BY time(60s)',
        db="srcdb",
    )
    assert _values(r) == [[0, 2]]
    merged = eng.execute("SELECT mean FROM all_cpu", db="arch")
    assert sorted(v[1] for v in _values(merged)) == [3.0, 10.0]
    # CQ + backreference: rejected at REGISTRATION without a distinct db
    with pytest.raises(InfluxQLError, match="distinct target database"):
        eng.execute(
            'CREATE CONTINUOUS QUERY "bad" ON srcdb BEGIN '
            "SELECT mean(v) INTO :MEASUREMENT FROM /^cpu/ GROUP BY time(60s) END",
            db="srcdb",
        )
    # ...and runs end-to-end with one: a later point closes the first
    # bucket (CQs materialize COMPLETE buckets only)
    store.write_batch(
        spark.createDataFrame([("cpu1,host=a v=6 1704067260000000000",)], "line string")
    )
    eng.execute(
        'CREATE CONTINUOUS QUERY "arch_all" ON srcdb BEGIN '
        'SELECT mean(v) INTO "arch2"."autogen".:MEASUREMENT FROM /^cpu/ '
        "GROUP BY time(60s) END",
        db="srcdb",
    )
    written = eng.run_continuous_queries("srcdb")
    assert written["arch_all"] == 2  # cpu1 + cpu2 first buckets
    got = eng.execute("SELECT mean FROM cpu2", db="arch2")
    assert [v[1] for v in _values(got)] == [10.0]


def test_ungrouped_bucketed_transforms_across_segments(spark, tmp_path):
    """Transforms over UNGROUPED GROUP BY time() buckets (and
    fill(previous)) also route through the segmented merged-series
    machinery — multi-hour bucket grids must produce the exact
    merged answer across 1h segment boundaries."""
    root = str(tmp_path / "segb")
    store = LPStore(spark, root, db="segdb2")
    base_ns = 1704067200000000000
    # one point every 40 min for 6 h -> 10 points; buckets of 20 min
    pts = [(base_ns + i * 2400 * 10**9, float((i * 3) % 7)) for i in range(10)]
    lines = [f"m v={v} {t}" for t, v in pts]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)

    def vals(q):
        res = eng.execute(q, db="segdb2")
        return [v for s in res["results"][0]["series"] for v in s["values"]]

    cs = vals("SELECT cumulative_sum(sum(v)) FROM m GROUP BY time(20m)")
    expect, acc = [], 0.0
    for _t, v in pts:
        acc += v
        expect.append(round(acc, 6))
    assert [v[1] for v in cs] == expect
    d = vals("SELECT difference(sum(v)) FROM m GROUP BY time(20m)")
    assert [v[1] for v in d] == [
        round(pts[i][1] - pts[i - 1][1], 6) for i in range(1, 10)
    ]
    ma = vals("SELECT moving_average(sum(v), 3) FROM m GROUP BY time(20m)")
    assert [v[1] for v in ma] == [
        round((pts[i][1] + pts[i - 1][1] + pts[i - 2][1]) / 3, 6) for i in range(2, 10)
    ]
    # fill(previous) over the same multi-hour grid: every empty 20m
    # bucket carries the last seen value, across hour boundaries
    fp = vals("SELECT sum(v) FROM m GROUP BY time(20m) fill(previous)")
    assert len(fp) == 19  # 9x40min span / 20m buckets + 1
    by_t = dict(fp)
    for i in range(1, 10):
        t_prev_ms = (pts[i - 1][0]) // 10**6
        gap_t = t_prev_ms + 20 * 60 * 1000  # first empty bucket after a point
        assert by_t[gap_t] == pts[i - 1][1]


def test_ungrouped_fill_linear_across_segments(spark, tmp_path):
    """fill(linear) over an ungrouped multi-hour grid routes through
    the segmented bidirectional stitch — interpolated buckets must be
    exact across hour boundaries."""
    root = str(tmp_path / "seglin")
    store = LPStore(spark, root, db="segdb3")
    base_ns = 1704067200000000000
    # two known points 3h apart; 30-min buckets -> 5 interior gaps
    lines = [f"m v=10 {base_ns}", f"m v=70 {base_ns + 3 * 3600 * 10**9}"]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    res = eng.execute(
        "SELECT sum(v) FROM m GROUP BY time(30m) fill(linear)", db="segdb3"
    )
    vals = [v for s in res["results"][0]["series"] for v in s["values"]]
    assert [v[1] for v in vals] == [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0]


def test_subquery_over_raw_arithmetic(engine):
    """The Grafana idiom: aggregate over a raw-arithmetic subquery.
    Only host a's :00 point carries both user and sys, so usage =
    user + sys has exactly one point; the outer mean buckets it."""
    res = engine.execute(
        "SELECT mean(usage) FROM (SELECT user + sys AS usage FROM cpu) GROUP BY time(60s)",
        db="mydb",
    )
    s0 = res["results"][0]["series"][0]
    assert s0["columns"] == ["time", "mean"]
    assert s0["values"] == [[1704067200000, 0.11]]


def test_subquery_over_aggregate_arithmetic(engine):
    """max(v)-min(v) as a subquery level, re-aggregated outside."""
    res = engine.execute(
        "SELECT max(spreadish) FROM ("
        " SELECT max(user) - min(user) AS spreadish FROM cpu GROUP BY time(60s), host"
        ") GROUP BY time(60s)",
        db="mydb",
    )
    vals = _values(res)
    # per-host minute spreads: a min0 = 0.2, b min0 = 0.0, a min1 = 0.0
    assert vals == [[1704067200000, 0.2], [1704067260000, 0.0]]


def test_multi_field_raw_merges_with_null_alignment(engine):
    """SELECT user, sys merges on timestamp: points lacking sys carry
    null in that column (InfluxDB 1.x multi-field envelope)."""
    res = engine.execute("SELECT user, sys FROM cpu WHERE host = 'a'", db="mydb")
    series = res["results"][0]["series"]
    assert len(series) == 1
    assert series[0]["columns"] == ["time", "user", "sys"]
    assert series[0]["values"] == [
        [1704067200000, 0.1, 0.01],
        [1704067230000, 0.3, None],
        [1704067290000, 0.5, None],
    ]


def test_multi_field_raw_point_identity_across_series(engine):
    """Two series sharing a timestamp (host a and b both at :00) must
    pair each point's OWN fields — the point-identity join, not a
    timestamp-only merge that could pair host a's user with host b's
    sys."""
    res = engine.execute("SELECT user, sys FROM cpu", db="mydb")
    series = res["results"][0]["series"]
    assert len(series) == 1 and series[0]["columns"] == ["time", "user", "sys"]
    at_zero = [v for v in series[0]["values"] if v[0] == 1704067200000]
    assert sorted(at_zero) == [
        [1704067200000, 0.1, 0.01],  # host a: user 0.1 WITH sys 0.01
        [1704067200000, 0.7, None],  # host b: user 0.7, no sys
    ]


def test_multi_field_raw_group_by_tag(engine):
    res = engine.execute("SELECT user, sys FROM cpu GROUP BY host", db="mydb")
    by_host = {s["tags"]["host"]: s for s in res["results"][0]["series"]}
    assert by_host["a"]["columns"] == ["time", "user", "sys"]
    assert by_host["a"]["values"][0] == [1704067200000, 0.1, 0.01]
    assert by_host["b"]["values"] == [[1704067200000, 0.7, None]]


def test_mixing_aggregate_and_raw_fields_rejects_loudly(engine):
    """InfluxDB 1.x refuses 'mixing aggregate and non-aggregate
    queries'; a silent timestamp-merge of a raw point stream with a
    bucketed aggregate would misalign shapes."""
    with pytest.raises(InfluxQLError, match="mixing aggregate and non-aggregate"):
        engine.execute("SELECT user, mean(sys) FROM cpu", db="mydb")
    with pytest.raises(InfluxQLError, match="mixing aggregate and non-aggregate"):
        engine.execute("SELECT mean(user), sys FROM cpu GROUP BY time(60s)", db="mydb")


def test_show_family_where_with_limit(engine):
    """SHOW MEASUREMENTS/SERIES/TAG KEYS/TAG VALUES honor WHERE tag
    matchers, WITH MEASUREMENT regex/equality, WITH KEY =~, and
    LIMIT/OFFSET — all previously ignored silently (round-5
    conformance fix); time conditions reject loudly."""
    # NB: module-order-robust — earlier INTO/CQ tests may have
    # materialized extra measurements (cpu_1m, cpu_max) in this store
    allm = [v[0] for v in _values(engine.execute("SHOW MEASUREMENTS", db="mydb"))]
    r = engine.execute("SHOW MEASUREMENTS WITH MEASUREMENT =~ /^c/", db="mydb")
    got = [v[0] for v in _values(r)]
    assert got == [m for m in allm if m.startswith("c")] and "app" not in got
    r = engine.execute("SHOW MEASUREMENTS WHERE host = 'b'", db="mydb")
    got = [v[0] for v in _values(r)]
    assert "cpu" in got and "app" not in got  # app has no host=b series
    r = engine.execute("SHOW MEASUREMENTS LIMIT 1 OFFSET 1", db="mydb")
    assert [v[0] for v in _values(r)] == allm[1:2]
    r = engine.execute("SHOW SERIES WHERE region = 'us'", db="mydb")
    vals = [v for s in r["results"][0]["series"] for v in s["values"]]
    assert vals == [["cpu,host=b,region=us"]]
    r = engine.execute("SHOW TAG VALUES WITH KEY =~ /^ho/", db="mydb")
    vals = {tuple(v) for s in r["results"][0]["series"] for v in s["values"]}
    assert ("host", "a") in vals and ("host", "b") in vals
    assert not any(k == "region" for k, _v in vals)
    r = engine.execute(
        "SHOW TAG VALUES FROM cpu WITH KEY = region WHERE host = 'b'", db="mydb"
    )
    vals = [v for s in r["results"][0]["series"] for v in s["values"]]
    assert vals == [["region", "us"]]
    r = engine.execute("SHOW TAG KEYS WHERE region = 'us'", db="mydb")
    vals = [v for s in r["results"][0]["series"] for v in s["values"]]
    assert sorted(v[0] for v in vals) == ["host", "region"]
    with pytest.raises(InfluxQLError, match="tag matchers only"):
        engine.execute("SHOW MEASUREMENTS WHERE time > now() - 1h", db="mydb")


def test_show_family_quote_aware_clause_parsing(spark, tmp_path):
    """Round-6 ADVICE: SHOW clause carving must be quote-aware — a tag
    value containing ' LIMIT 5' must neither truncate the matcher nor
    apply a bogus limit, and WITH MEASUREMENT = "name with spaces"
    must filter (the old (\\S+) regex silently matched nothing)."""
    root = str(tmp_path / "showq")
    store = LPStore(spark, root, db="qdb")
    lines = [
        r"disk\ usage,host=a used=1 1704067200000000000",
        r"cpu,label=x\ LIMIT\ 5 user=0.1 1704067200000000000",
        "cpu,label=plain user=0.2 1704067200000000000",
        "mem,host=b free=3 1704067200000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    # quoted WHERE value containing ' LIMIT 5': full-value match, no limit
    r = eng.execute("SHOW MEASUREMENTS WHERE label = 'x LIMIT 5'", db="qdb")
    assert [v[0] for v in _values(r)] == ["cpu"]
    # ...and the matcher must not match the 'plain' series either
    r = eng.execute("SHOW TAG VALUES FROM cpu WITH KEY = label WHERE label = 'x LIMIT 5'", db="qdb")
    vals = [v for s in r["results"][0]["series"] for v in s["values"]]
    assert vals == [["label", "x LIMIT 5"]]
    # measurement name with spaces: quoted equality works end-to-end
    r = eng.execute('SHOW MEASUREMENTS WITH MEASUREMENT = "disk usage"', db="qdb")
    assert [v[0] for v in _values(r)] == ["disk usage"]
    # LIMIT/OFFSET now honored on SHOW TAG VALUES (per-series slice)
    r = eng.execute("SHOW TAG VALUES FROM cpu WITH KEY = label LIMIT 1 OFFSET 1", db="qdb")
    vals = [v for s in r["results"][0]["series"] for v in s["values"]]
    assert vals == [["label", "x LIMIT 5"]]
    # malformed tails reject loudly instead of silently ignoring
    with pytest.raises(InfluxQLError, match="bare integer"):
        eng.execute("SHOW MEASUREMENTS LIMIT abc", db="qdb")


def test_multi_field_limit_offset_counts_merged_rows(spark, tmp_path):
    """Round-6 ADVICE: LIMIT/OFFSET on a multi-field SELECT count
    MERGED rows (InfluxDB semantics), not per-field points — with
    disjoint timestamps the old per-field slice skipped the wrong
    points entirely."""
    root = str(tmp_path / "mfl")
    store = LPStore(spark, root, db="mdb")
    lines = [
        "cpu,host=a user=1 1704067200000000000",
        "cpu,host=a sys=2 1704067260000000000",
        "cpu,host=a user=3 1704067320000000000",
        "cpu,host=a sys=4 1704067380000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    r = eng.execute(
        "SELECT mean(user), mean(sys) FROM cpu GROUP BY time(60s) LIMIT 2 OFFSET 1",
        db="mdb",
    )
    se = r["results"][0]["series"][0]
    assert se["columns"] == ["time", "mean_user", "mean_sys"]
    # merged rows are [m0:(1,null), m1:(null,2), m2:(3,null), m3:(null,4)];
    # OFFSET 1 LIMIT 2 must take the middle two MERGED rows
    assert se["values"] == [[1704067260000, None, 2.0], [1704067320000, 3.0, None]]
    r = eng.execute(
        "SELECT mean(user), mean(sys) FROM cpu GROUP BY time(60s) OFFSET 3", db="mdb"
    )
    assert r["results"][0]["series"][0]["values"] == [[1704067380000, None, 4.0]]


def test_delete_from_regex(spark, tmp_path):
    """DELETE FROM /regex/ (round 6: previously the literal slashes
    compared and the statement silently deleted nothing): every
    matching measurement's points in range go; non-matches survive."""
    root = str(tmp_path / "delre")
    store = LPStore(spark, root, db="dr")
    lines = [
        "cpu1,host=a v=1 1704067200000000000",
        "cpu2,host=a v=2 1704067200000000000",
        "mem,host=a v=3 1704067200000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    eng.execute("DELETE FROM /^cpu/", db="dr")
    assert "series" not in eng.execute("SELECT v FROM cpu1", db="dr")["results"][0]
    assert "series" not in eng.execute("SELECT v FROM cpu2", db="dr")["results"][0]
    assert [v[1] for v in _values(eng.execute("SELECT v FROM mem", db="dr"))] == [3.0]
    # tag-conditioned regex delete composes
    store.write_batch(
        spark.createDataFrame(
            [("cpu1,host=a v=5 1704067200000000000",),
             ("cpu1,host=b v=6 1704067200000000000",)], "line string"
        )
    )
    eng.execute("DELETE FROM /cpu/ WHERE host = 'a'", db="dr")
    left = eng.execute("SELECT v FROM cpu1", db="dr")
    assert [v[1] for v in _values(left)] == [6.0]


def test_show_on_database_clause(spark, tmp_path):
    """SHOW ... ON <db> answers from the NAMED database (round 6:
    previously the ON clause was ignored silently and the session db
    answered — wrong-database results)."""
    root = str(tmp_path / "ondb")
    a = LPStore(spark, root, db="dba")
    a.write_batch(spark.createDataFrame([("cpu,host=x v=1 1704067200000000000",)], "line string"))
    b = LPStore(spark, root, db="dbb")
    b.write_batch(spark.createDataFrame([("mem,host=y w=2 1704067200000000000",)], "line string"))
    eng = InfluxQLEngine(spark, root)
    r = eng.execute("SHOW MEASUREMENTS ON dbb", db="dba")
    assert [v[0] for v in _values(r)] == ["mem"]
    r = eng.execute("SHOW TAG VALUES ON dbb WITH KEY = host", db="dba")
    vals = [v for s in r["results"][0]["series"] for v in s["values"]]
    assert vals == [["host", "y"]]
    r = eng.execute("SHOW SERIES ON dba", db="dbb")
    assert [v[0] for v in _values(r)] == ["cpu,host=x"]
    # no ON: the session db answers, as before
    r = eng.execute("SHOW MEASUREMENTS", db="dba")
    assert [v[0] for v in _values(r)] == ["cpu"]
    with pytest.raises(InfluxQLError, match="database name"):
        eng.execute("SHOW MEASUREMENTS ON", db="dba")


def test_show_from_regex(engine):
    """SHOW TAG KEYS/FIELD KEYS/SERIES/TAG VALUES accept FROM /regex/
    (round 6: the slash form used to compare the literal slashes and
    silently match nothing)."""
    r = engine.execute("SHOW FIELD KEYS FROM /^c.u$/", db="mydb")
    assert {s["name"] for s in r["results"][0]["series"]} == {"cpu"}
    r = engine.execute("SHOW TAG KEYS FROM /p/", db="mydb")
    names = {s["name"] for s in r["results"][0]["series"]}
    assert "cpu" in names and "app" in names
    r = engine.execute("SHOW SERIES FROM /^app$/", db="mydb")
    assert all(v[0].startswith("app,") for v in _values(r))
    r = engine.execute("SHOW TAG VALUES FROM /^cpu$/ WITH KEY = region", db="mydb")
    vals = {tuple(v) for s in r["results"][0]["series"] for v in s["values"]}
    assert vals == {("region", "eu"), ("region", "us")}


def test_delete_with_tag_condition(spark, tmp_path):
    """DELETE FROM m WHERE host = 'a' [AND time ...] — tag-conditioned
    point deletion (round 5; previously rejected): the doomed series
    resolve from the registry and only their rows in range are
    removed; registry rows survive (DELETE semantics)."""
    root = str(tmp_path / "tagdel")
    store = LPStore(spark, root, db="tdb")
    lines = [
        "cpu,host=a user=0.1 1704067200000000000",
        "cpu,host=a user=0.2 1704153600000000000",  # next day
        "cpu,host=b user=0.3 1704067200000000000",
        "mem,host=a free=9 1704067200000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    # time-bounded tag delete: only host=a's first-day point goes
    eng.execute(
        "DELETE FROM cpu WHERE host = 'a' AND time < 1704100000000000000", db="tdb"
    )
    left = eng.execute("SELECT user FROM cpu", db="tdb")
    vals = sorted(v[1] for s in left["results"][0]["series"] for v in s["values"])
    assert vals == [0.2, 0.3]
    # mem untouched; registry keeps the host=a cpu series metadata
    mem = eng.execute("SELECT free FROM mem", db="tdb")
    assert [v[1] for s in mem["results"][0]["series"] for v in s["values"]] == [9.0]
    tags = eng.execute('SHOW TAG VALUES FROM cpu WITH KEY = "host"', db="tdb")
    assert sorted(v[1] for v in _values(tags)) == ["a", "b"]
    # unbounded tag delete removes the remaining host=a point
    eng.execute("DELETE FROM cpu WHERE host = 'a'", db="tdb")
    left2 = eng.execute("SELECT user FROM cpu", db="tdb")
    assert [v[1] for s in left2["results"][0]["series"] for v in s["values"]] == [0.3]


def test_tag_matcher_takes_one_literal():
    """A matcher's right-hand side is exactly one literal: a quoted
    string, a /regex/ or a bare token. Text running on past it is no
    matcher, so an OR or a paren group is never read as one matcher
    whose value selects nothing."""
    from cflux_spark.plans.influxql import _parse_tag_matcher

    assert _parse_tag_matcher("host = 'a'") == ("host", "=", "a")
    assert _parse_tag_matcher('"host" =~ /^a\\/b$/') == ("host", "=~", "^a\\/b$")
    assert _parse_tag_matcher("host != web1") == ("host", "!=", "web1")
    for cond in (
        "host = 'a' OR host = 'b'",
        "region = 'eu' AND host = 'a'",
        "host =~ /a/ OR host =~ /b/",
        "host = 'a' 'b'",
    ):
        assert _parse_tag_matcher(cond) is None, cond


SERIES_LINES = [
    f"cpu,host={h},region={r} v={i}.{d} {1704067200 + d * 86400}000000000"
    for i, (h, r) in enumerate([("a", "eu"), ("b", "eu"), ("c", "us"), ("d", "us"), ("e", "eu")])
    for d in range(2)
]


def _by_series(eng, db, where=""):
    res = eng.execute(f"SELECT v FROM cpu {where} GROUP BY host, region", db=db)
    return {
        (s["tags"]["host"], s["tags"]["region"]): s["values"]
        for s in res["results"][0].get("series", [])
    }


@pytest.mark.parametrize("verb", ["DELETE FROM cpu", "DROP SERIES FROM cpu"])
def test_delete_and_drop_series_remove_what_select_selects(spark, tmp_path, verb):
    """DELETE and DROP SERIES read WHERE with SELECT's grammar: OR
    groups and paren groups remove exactly the series the same WHERE
    selects in SELECT (they used to remove nothing)."""
    root = str(tmp_path / "sel")
    LPStore(spark, root, db="s").write_batch(
        spark.createDataFrame([(l,) for l in SERIES_LINES], "line string")
    )
    eng = InfluxQLEngine(spark, root)
    for where in (
        "host = 'a' OR host = 'c'",
        "(region = 'eu' AND host = 'b')",
        "(host = 'd' OR host = 'e') AND region = 'eu'",
    ):
        before = _by_series(eng, "s")
        selected = _by_series(eng, "s", f"WHERE {where}")
        assert selected, where
        eng.execute(f"{verb} WHERE {where}", db="s")
        assert _by_series(eng, "s") == {k: v for k, v in before.items() if k not in selected}
    assert list(_by_series(eng, "s")) == [("d", "us")]
    keys = [v[0] for v in _values(eng.execute("SHOW SERIES", db="s"))]
    # DROP SERIES also purges the registry; DELETE keeps series metadata
    assert len(keys) == (1 if verb.startswith("DROP") else 5)


def test_delete_where_time_equals(spark, tmp_path):
    """DELETE takes SELECT's absolute time forms, ``time = t`` included
    (it used to be read as a matcher on a tag named time)."""
    root = str(tmp_path / "teq")
    lines = [
        "cpu,host=a v=1 1704067200000000000",
        "cpu,host=a v=2 1704067230000000000",
        "cpu,host=b v=3 1704067200000000000",
        "cpu,host=b v=4 1704067230000000000",
    ]
    LPStore(spark, root, db="t").write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    eng.execute("DELETE FROM cpu WHERE time = '2024-01-01T00:00:30Z' AND host = 'a'", db="t")
    assert [v[1] for v in _values(eng.execute("SELECT v FROM cpu", db="t"))] == [1.0, 3.0, 4.0]
    eng.execute("DELETE FROM cpu WHERE time = 1704067200000000000", db="t")
    assert _values(eng.execute("SELECT v FROM cpu", db="t")) == [[1704067230000, 4.0]]


@pytest.mark.parametrize(
    "q",
    [
        "SHOW SERIES WHERE v = 1",
        "SHOW TAG VALUES WITH KEY = host WHERE host = 'a' AND v > 0",
        "DELETE FROM cpu WHERE v = 1",
        "DELETE FROM cpu WHERE (v = 1 OR v = 2)",
        "DROP SERIES FROM cpu WHERE v = 1",
        "DROP SERIES WHERE host = 'a' AND time > 0",
    ],
)
def test_series_statements_reject_field_predicates(spark, tmp_path, q):
    """SHOW, DELETE and DROP SERIES select series by tag: a field
    predicate (a bare number or boolean on the right) is an error, not
    a tag matcher on a tag named after the field; SHOW and DROP SERIES
    reject time bounds too."""
    root = str(tmp_path / "rej")
    LPStore(spark, root, db="r").write_batch(
        spark.createDataFrame([("cpu,host=a v=1 1704067200000000000",)], "line string")
    )
    eng = InfluxQLEngine(spark, root)
    with pytest.raises(InfluxQLError, match="tag matchers"):
        eng.execute(q, db="r")
    assert _values(eng.execute("SELECT v FROM cpu", db="r")) == [[1704067200000, 1.0]]


def test_delete_selecting_no_series_rewrites_nothing(spark, tmp_path):
    """A DELETE, DROP SERIES or DROP MEASUREMENT that selects no series
    or no row answers 0 partitions and leaves every file as it was (it
    used to rewrite every partition)."""
    root = str(tmp_path / "none")
    lines = [f"cpu,host=a v={d} {1704067200 + d * 86400}000000000" for d in range(3)]
    store = LPStore(spark, root, db="n")
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))

    def files():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _dirs, names in os.walk(os.path.join(root, "n"))
            for f in names
        }

    before = files()
    assert sum(p.endswith(".parquet") and "date=" in p for p in before) == 3
    eng = InfluxQLEngine(spark, root)
    res = eng.execute("DELETE FROM cpu WHERE host = 'nosuch'", db="n")
    assert _values(res) == [[0, 0, 0]]
    res = eng.execute("DROP SERIES FROM cpu WHERE host = 'nosuch' OR region = 'x'", db="n")
    assert _values(res) == [[0, 0]]
    res = eng.execute("DELETE FROM nosuch", db="n")
    assert _values(res) == [[0, 0, 0]]
    assert eng.execute("DROP MEASUREMENT nosuch", db="n") == {"results": [{"statement_id": 0}]}
    assert files() == before


def test_delete_rewrites_only_partitions_holding_doomed_rows(spark, tmp_path):
    """A measurement present on 1 of 3 dates: DELETE and DROP
    MEASUREMENT rewrite that one partition and leave the other two
    partitions' files as they were."""
    root = str(tmp_path / "one")
    lines = [f"cpu,host=a v={d} {1704067200 + d * 86400}000000000" for d in range(3)]
    lines.append("mem,host=a used=5 1704067200000000000")  # first date only
    store = LPStore(spark, root, db="o")
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))

    def files(date):
        part = os.path.join(store.samples_path, f"date={date}")
        return {f: os.stat(os.path.join(part, f)).st_mtime_ns for f in os.listdir(part)}

    untouched = {d: files(d) for d in ("2024-01-02", "2024-01-03")}
    eng = InfluxQLEngine(spark, root)
    res = eng.execute("DELETE FROM mem", db="o")
    assert _values(res) == [[0, 0, 1]]
    assert {d: files(d) for d in untouched} == untouched
    assert "series" not in eng.execute("SELECT used FROM mem", db="o")["results"][0]
    assert len(_values(eng.execute("SELECT v FROM cpu", db="o"))) == 3
    store.write_batch(spark.createDataFrame([(lines[-1],)], "line string"))
    eng.execute("DROP MEASUREMENT mem", db="o")
    assert {d: files(d) for d in untouched} == untouched
    assert [v[0] for v in _values(eng.execute("SHOW MEASUREMENTS", db="o"))] == ["cpu"]


def test_regex_from_single_field_wildcard_limit_offset(spark, tmp_path):
    """round-7 ADVICE: SELECT * FROM /re/ over a SINGLE-field
    measurement applied OFFSET twice — once distributed in the
    per-measurement sub-statement, once in the merged-envelope slice
    (the sub is a copy, so the outer stmt kept '*' and re-sliced).
    Every shape must equal its plain-FROM twin."""
    root = str(tmp_path / "rx7")
    store = LPStore(spark, root, db="rdb7")
    lines = [f"mem v={i}.0 170406720{i}000000000" for i in range(4)]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    for tail in ("LIMIT 2 OFFSET 1", "LIMIT 2", "OFFSET 3", "LIMIT 10 OFFSET 2"):
        plain = eng.execute(f"SELECT * FROM mem {tail}", db="rdb7")
        rx = eng.execute(f"SELECT * FROM /^mem$/ {tail}", db="rdb7")
        assert _values(rx) == _values(plain), tail
    assert _values(eng.execute("SELECT * FROM /^mem$/ LIMIT 2 OFFSET 1", db="rdb7")) == [
        [1704067201000, 1.0],
        [1704067202000, 2.0],
    ]


def test_show_regex_bodies_survive_clause_carving(engine):
    """round-7 ADVICE: a word-bounded 'on' (or WHERE/LIMIT/OFFSET)
    inside a FROM or WITH /regex/ was carved as a clause keyword —
    'SHOW FIELD KEYS FROM /on/' died with 'invalid database name'."""
    res = engine.execute("SHOW FIELD KEYS FROM /^(on)?cpu$/", db="mydb")
    series = res["results"][0]["series"][0]
    assert series["name"] == "cpu"
    assert sorted(v[0] for v in series["values"]) == ["sys", "user"]
    res = engine.execute("SHOW MEASUREMENTS WITH MEASUREMENT =~ /on|^cpu$/", db="mydb")
    assert [v[0] for v in _values(res)] == ["cpu"]
    res = engine.execute("SHOW MEASUREMENTS WITH MEASUREMENT =~ /where|limit|^cpu$/", db="mydb")
    assert [v[0] for v in _values(res)] == ["cpu"]
    # no match at all: clean empty envelope, not a parse error
    assert "series" not in engine.execute("SHOW FIELD KEYS FROM /on/", db="mydb")["results"][0]
    # a real ON clause still carves next to a regex FROM
    res = engine.execute("SHOW FIELD KEYS ON mydb FROM /cpu/", db="ignored")
    assert res["results"][0]["series"][0]["name"] == "cpu"


def test_into_backreference_case_insensitive(spark, tmp_path):
    """round-7 ADVICE: 'INTO :measurement' (lowercase) silently wrote
    a literal measurement named ':measurement' AND bypassed the
    same-db guard. The token normalizes at parse time; any other
    ':'-prefixed target rejects as a typo'd backreference."""
    root = str(tmp_path / "bref7")
    store = LPStore(spark, root, db="srcdb")
    lines = [
        "cpu1,host=a v=2 1704067200000000000",
        "cpu1,host=a v=4 1704067230000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    r = eng.execute(
        'SELECT mean(v) INTO "arch"."autogen".:measurement FROM /^cpu/ GROUP BY time(60s)',
        db="srcdb",
    )
    assert _values(r) == [[0, 1]]  # one written bucket row (cpu1 only)
    got = eng.execute("SELECT mean FROM cpu1", db="arch")
    assert [v[1] for v in _values(got)] == [3.0]
    # no literal ':measurement' measurement was created anywhere
    assert ":measurement" not in str(eng.execute("SHOW MEASUREMENTS", db="arch"))
    # the same-db guard fires for the lowercase form too
    with pytest.raises(InfluxQLError, match="distinct target database"):
        eng.execute(
            "SELECT mean(v) INTO :Measurement FROM cpu1 GROUP BY time(60s)", db="srcdb"
        )
    with pytest.raises(InfluxQLError, match="backreference"):
        eng.execute(
            'SELECT mean(v) INTO "arch"."autogen".:measurment FROM cpu1 GROUP BY time(60s)',
            db="srcdb",
        )


def test_ungrouped_selector_returns_original_point(engine):
    """round-7 VERDICT #2: a LONE ungrouped max/min/first/last returns
    the actual point with its ORIGINAL timestamp (InfluxDB), not the
    reference's 1-minute bucket fold (cflux.js:749). Points: host=a
    0.10@:00, 0.30@:30, 0.50@1:30; host=b 0.70@:00."""
    res = engine.execute("SELECT max(user) FROM cpu", db="mydb")
    se = res["results"][0]["series"][0]
    assert se["name"] == "cpu" and se["columns"] == ["time", "max"]
    assert se["values"] == [[1704067200000, 0.7]]
    res = engine.execute("SELECT min(user) FROM cpu", db="mydb")
    assert _values(res) == [[1704067200000, 0.1]]
    # first: two points share :00 — deterministic value-asc tiebreak
    res = engine.execute("SELECT first(user) FROM cpu", db="mydb")
    assert res["results"][0]["series"][0]["columns"] == ["time", "first"]
    assert _values(res) == [[1704067200000, 0.1]]
    res = engine.execute("SELECT last(user) FROM cpu", db="mydb")
    assert _values(res) == [[1704067290000, 0.5]]
    # GROUP BY <tag>: one original-timestamp point per tag group
    res = engine.execute("SELECT max(user) FROM cpu GROUP BY host", db="mydb")
    by_host = {s["tags"]["host"]: s["values"] for s in res["results"][0]["series"]}
    assert by_host == {"a": [[1704067290000, 0.5]], "b": [[1704067200000, 0.7]]}
    # GROUP BY time keeps the bucketed fold (bucket-start timestamps)
    res = engine.execute("SELECT max(user) FROM cpu GROUP BY time(60s)", db="mydb")
    assert _values(res) == [[1704067200000, 0.7], [1704067260000, 0.5]]
    # chunked dispatch falls back to the same single envelope
    chunks = list(engine.execute_chunked("SELECT max(user) FROM cpu", db="mydb"))
    assert len(chunks) == 1
    assert _values(chunks[0]) == [[1704067200000, 0.7]]
    # multiple fields lose point-ness (InfluxDB's own rule): both
    # selectors fold onto the shared bucket grid
    res = engine.execute("SELECT max(user), min(user) FROM cpu", db="mydb")
    se = res["results"][0]["series"][0]
    assert se["columns"] == ["time", "max_user", "min_user"]
    assert all(v[0] % 60000 == 0 for v in se["values"])


def test_duplicate_select_columns_disambiguate(engine):
    """InfluxDB 1.x suffixes repeated output columns (_1, _2):
    SELECT mean(v), mean(v) returns ONE merged series with columns
    [time, mean_v, mean_v_1] — previously the engine emitted two
    ambiguous same-named series (or, with a third distinct field,
    silently collapsed the duplicates onto one merge slot)."""
    res = engine.execute(
        "SELECT mean(user), mean(user), max(user) FROM cpu GROUP BY time(60s)",
        db="mydb",
    )
    series = res["results"][0]["series"]
    assert len(series) == 1
    assert series[0]["columns"] == ["time", "mean_user", "mean_user_1", "max_user"]
    # the duplicated specs carry identical values, the third differs
    for _, m1, m2, mx in series[0]["values"]:
        assert m1 == m2
    # per-tag-group series keep their shared (non-duplicate) name
    res = engine.execute("SELECT mean(user) FROM cpu GROUP BY time(60s), host", db="mydb")
    assert all(
        s["columns"] == ["time", "mean"] for s in res["results"][0]["series"]
    )
    # raw multi-field path suffixes too (point-identity merged frame)
    res = engine.execute("SELECT user, user FROM cpu WHERE host = 'a'", db="mydb")
    assert res["results"][0]["series"][0]["columns"] == ["time", "user", "user_1"]


def test_subquery_multi_field(engine):
    """Multi-field subqueries (round 7; previously 'exactly one
    aggregated field'): per-field bucket frames full-outer-join on
    (series key, bucket), and the outer references columns by name."""
    # the spread idiom: raw arithmetic over two inner aggregates
    res = engine.execute(
        "SELECT max - min FROM (SELECT max(user), min(user) FROM cpu GROUP BY time(60s))",
        db="mydb",
    )
    assert _values(res) == [[1704067200000, 0.6], [1704067260000, 0.0]]
    # outer aggregates over two aliased inner columns merge into one
    # column-aligned series
    res2 = engine.execute(
        "SELECT mean(mx), sum(mn) FROM (SELECT max(user) AS mx, min(user) AS mn "
        "FROM cpu GROUP BY time(60s), host) GROUP BY time(60s)",
        db="mydb",
    )
    s = res2["results"][0]["series"][0]
    assert s["columns"] == ["time", "mean_mx", "sum_mn"]
    assert s["values"] == [[1704067200000, 0.5, 0.8], [1704067260000, 0.5, 0.5]]
    # aggregate arithmetic over subquery outputs
    res3 = engine.execute(
        "SELECT mean(mx) - mean(mn) FROM (SELECT max(user) AS mx, min(user) AS mn "
        "FROM cpu GROUP BY time(60s), host) GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res3) == [[1704067200000, 0.1], [1704067260000, 0.0]]


def test_subquery_star_and_filters_multi(engine):
    """SELECT * over a subquery expands every output column; a value
    filter may reference ANY output column (filter on mn, select mx);
    duplicate unaliased outputs reject loudly."""
    res = engine.execute(
        "SELECT * FROM (SELECT max(user), min(user) FROM cpu GROUP BY time(60s))",
        db="mydb",
    )
    s = res["results"][0]["series"][0]
    assert s["columns"] == ["time", "max", "min"]
    assert s["values"] == [[1704067200000, 0.7, 0.1], [1704067260000, 0.5, 0.5]]
    res2 = engine.execute(
        "SELECT mx FROM (SELECT max(user) AS mx, min(user) AS mn "
        "FROM cpu GROUP BY time(60s), host) WHERE mn > 0.2",
        db="mydb",
    )
    assert _values(res2) == [[1704067200000, 0.7], [1704067260000, 0.5]]
    with pytest.raises(InfluxQLError, match="duplicate subquery output"):
        engine.execute(
            "SELECT mean(max) FROM (SELECT max(user), max(sys) FROM cpu "
            "GROUP BY time(60s))",
            db="mydb",
        )


def test_subquery_rejections_are_loud(engine):
    """Transform-only fields under an outer GROUP BY time (no
    aggregate to re-bucket with) reject loudly instead of silently
    computing something else. (Selectors over subquery output became
    SUPPORTED in round 8 — test_subquery_point_emitters — so the old
    top()-rejection case asserts values now.)"""
    res = engine.execute(
        "SELECT top(max, 2) FROM (SELECT max(user) FROM cpu GROUP BY time(60s))",
        db="mydb",
    )
    # frame rows (merged series): min0 max=0.7, min1 max=0.5
    assert _values(res) == [[1704067200000, 0.7], [1704067260000, 0.5]]
    with pytest.raises(InfluxQLError, match="requires an aggregate argument"):
        engine.execute(
            "SELECT derivative(max) FROM (SELECT max(user) FROM cpu GROUP BY time(30s)) "
            "GROUP BY time(60s)",
            db="mydb",
        )


def test_chunked_subquery_bypasses_result_guard(spark, engine):
    """A subquery result over max_result_rows fails loudly unchunked
    but STREAMS chunked (round 7) — the HAVING idiom's output can be
    bucket-grid sized, and streaming is the sanctioned unbounded
    path."""
    capped = InfluxQLEngine(spark, engine.root, max_result_rows=1)
    q = "SELECT mean_v FROM (SELECT mean(user) AS mean_v FROM cpu GROUP BY time(30s), host)"
    with pytest.raises(InfluxQLError, match="max_result_rows"):
        capped.execute(q, db="mydb")
    envs = list(capped.execute_chunked(q, db="mydb", chunk_size=2))
    assert envs[0]["results"][0].get("partial") is True
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert vals == _values(engine.execute(q, db="mydb"))


def test_subquery_time_ranges_intersect(engine):
    """When both the inner and outer statements carry time bounds,
    they INTERSECT (max lo, min hi) — fill-if-missing alone silently
    ignored a tighter outer range (late round 7)."""
    # inner covers everything from :30; outer tightens to >= 1:00 —
    # only the minute-1 bucket survives
    res = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu "
        "WHERE time >= 1704067230000000000 GROUP BY time(60s), host) "
        "WHERE time >= 1704067260000000000 GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res) == [[1704067260000, 0.5]]
    # and the inner bound still applies when it is the tighter one
    res2 = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu "
        "WHERE time >= 1704067260000000000 GROUP BY time(60s), host) "
        "WHERE time >= 1704067200000000000 GROUP BY time(60s)",
        db="mydb",
    )
    assert _values(res2) == [[1704067260000, 0.5]]


def test_subquery_inner_limit_applies(engine):
    """A subquery level's own LIMIT/OFFSET slices THAT level's output
    (late round 7; previously silently ignored): ORDER BY time DESC
    LIMIT 1 inside FROM is the InfluxDB last-bucket idiom."""
    res = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s) LIMIT 1)",
        db="mydb",
    )
    assert _values(res) == [[1704067200000, 0.7]]
    res_desc = engine.execute(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s) "
        "ORDER BY time DESC LIMIT 1)",
        db="mydb",
    )
    assert _values(res_desc) == [[1704067260000, 0.5]]
    res_off = engine.execute(
        "SELECT max FROM (SELECT max(user) FROM cpu GROUP BY time(60s) LIMIT 1 OFFSET 1)",
        db="mydb",
    )
    assert _values(res_off) == [[1704067260000, 0.5]]
    # per-series when the level groups by tags: each host keeps its
    # own first bucket
    res_tag = engine.execute(
        "SELECT sum(max) FROM (SELECT max(user) FROM cpu GROUP BY time(60s), host "
        "LIMIT 1) GROUP BY time(60s)",
        db="mydb",
    )
    # host=a min0 max=0.3, host=b min0 max=0.7 -> sum 1.0; a's min1 sliced away
    assert _values(res_tag) == [[1704067200000, 1.0]]


def test_subquery_relative_ranges_intersect_and_slimit_rejects(engine):
    """now()-relative lookbacks intersect like absolute bounds (the
    smaller window wins); SLIMIT inside a subquery rejects loudly
    instead of being silently ignored."""
    from cflux_spark.plans.influxql import parse_select

    s = parse_select(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu "
        "WHERE time > now() - 1h GROUP BY time(60s)) WHERE time > now() - 60s"
    )
    assert s.subquery.relative_s == 60.0
    s2 = parse_select(
        "SELECT mean(max) FROM (SELECT max(user) FROM cpu "
        "WHERE time > now() - 60s GROUP BY time(60s)) WHERE time > now() - 1h"
    )
    assert s2.subquery.relative_s == 60.0
    with pytest.raises(InfluxQLError, match="SLIMIT/SOFFSET inside a subquery"):
        engine.execute(
            "SELECT mean(max) FROM (SELECT max(user) FROM cpu "
            "GROUP BY time(60s), host SLIMIT 1)",
            db="mydb",
        )


def test_select_into_from_subquery(engine):
    """INTO from a subquery (late round 7; previously the carved INTO
    clause was silently dropped and the statement ran as a plain
    SELECT): the outer aggregate over the subquery's output writes
    back and reads back like any downsample."""
    res = engine.execute(
        "SELECT mean(max) INTO dst_sub FROM (SELECT max(user) FROM cpu "
        "GROUP BY time(60s), host) GROUP BY time(60s)",
        db="mydb",
    )
    assert res["results"][0]["series"][0]["values"] == [[0, 2]]
    back = engine.execute("SELECT mean FROM dst_sub", db="mydb")
    assert _values(back) == [[1704067200000, 0.5], [1704067260000, 0.5]]
    # multi-field: both output columns write under their field keys
    res2 = engine.execute(
        "SELECT mean(mx), sum(mn) INTO dst_sub2 FROM (SELECT max(user) AS mx, "
        "min(user) AS mn FROM cpu GROUP BY time(60s), host) GROUP BY time(60s)",
        db="mydb",
    )
    assert res2["results"][0]["series"][0]["values"] == [[0, 4]]
    back2 = engine.execute("SELECT mean_mx, sum_mn FROM dst_sub2", db="mydb")
    s = back2["results"][0]["series"][0]
    assert s["columns"] == ["time", "mean_mx", "sum_mn"]
    assert s["values"] == [[1704067200000, 0.5, 0.8], [1704067260000, 0.5, 0.5]]


def test_continuous_query_over_subquery_incremental(spark, tmp_path):
    """A CQ whose body aggregates over a subquery materializes only
    newly CLOSED buckets per run (late round 7: the incremental run
    window must reach the leaf scan — without pushing it down the
    nesting chain every run re-materialized all history and appended
    duplicates)."""
    root = str(tmp_path / "cqsub")
    store = LPStore(spark, root, db="mydb")
    lines = [
        "cpu,host=a user=0.10 1704067200000000000",
        "cpu,host=a user=0.30 1704067230000000000",
        "cpu,host=a user=0.50 1704067290000000000",
        "cpu,host=b user=0.70 1704067200000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    eng.execute(
        "CREATE CONTINUOUS QUERY cqsub ON mydb BEGIN "
        "SELECT mean(max) INTO dstcq FROM (SELECT max(user) FROM cpu "
        "GROUP BY time(60s), host) GROUP BY time(60s) END",
        db="mydb",
    )
    assert eng.run_continuous_queries() == {"cqsub": 1}  # closed minute 0
    assert eng.run_continuous_queries() == {"cqsub": 0}  # idempotent
    back = eng.execute("SELECT mean FROM dstcq", db="mydb")
    assert _values(back) == [[1704067200000, 0.5]]
    # a later point closes minute 1; only that bucket is added
    store.write_batch(
        spark.createDataFrame(
            [("cpu,host=a user=0.90 1704067330000000000",)], "line string"
        )
    )
    assert eng.run_continuous_queries() == {"cqsub": 1}
    back = eng.execute("SELECT mean FROM dstcq", db="mydb")
    assert _values(back) == [[1704067200000, 0.5], [1704067260000, 0.5]]


def test_continuous_query_over_raw_subquery(spark, tmp_path):
    """CQ composition over a RAW innermost subquery (round 8): the
    incremental run window pushes through the raw passthrough level to
    the leaf scan, so each run materializes only newly closed
    buckets."""
    root = str(tmp_path / "cqraw")
    store = LPStore(spark, root, db="mydb")
    lines = [
        "cpu,host=a user=0.10 1704067200000000000",
        "cpu,host=a user=0.30 1704067230000000000",
        "cpu,host=a user=0.50 1704067290000000000",
        "cpu,host=b user=0.70 1704067200000000000",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    eng.execute(
        "CREATE CONTINUOUS QUERY cqraw ON mydb BEGIN "
        "SELECT mean(u) INTO dstraw FROM (SELECT user AS u FROM cpu "
        "WHERE host = 'a') GROUP BY time(60s) END",
        db="mydb",
    )
    assert eng.run_continuous_queries() == {"cqraw": 1}  # closed minute 0
    assert eng.run_continuous_queries() == {"cqraw": 0}  # idempotent
    back = eng.execute("SELECT mean FROM dstraw", db="mydb")
    assert _values(back) == [[1704067200000, 0.2]]  # mean(0.1, 0.3)
    store.write_batch(
        spark.createDataFrame(
            [("cpu,host=a user=0.90 1704067330000000000",)], "line string"
        )
    )
    assert eng.run_continuous_queries() == {"cqraw": 1}  # closes minute 1
    back = eng.execute("SELECT mean FROM dstraw", db="mydb")
    assert _values(back) == [[1704067200000, 0.2], [1704067260000, 0.5]]


def test_explain_select_returns_catalyst_plan(engine):
    """EXPLAIN SELECT: the statement plans end-to-end (parse, registry
    resolution, frame construction) and the envelope carries the
    formatted Catalyst physical plan — scan/pushdown visible — without
    executing the query."""
    res = engine.execute(
        "EXPLAIN SELECT mean(user) FROM cpu WHERE host = 'a' GROUP BY time(1m)",
        db="mydb",
    )
    s = res["results"][0]["series"][0]
    assert s["columns"] == ["QUERY PLAN"]
    plan = "\n".join(v[0] for v in s["values"])
    assert "Physical Plan" in plan or "HashAggregate" in plan
    assert "parquet" in plan.lower()
    # multi-field statements label one plan per field frame
    res2 = engine.execute("EXPLAIN SELECT mean(user), max(sys) FROM cpu", db="mydb")
    plan2 = "\n".join(v[0] for v in res2["results"][0]["series"][0]["values"])
    assert "frame 1/" in plan2
    # a capped engine must not trip its row guard while explaining,
    # and a normal SELECT afterwards still executes (capture mode off)
    capped = InfluxQLEngine(engine.spark, engine.root, max_result_rows=1)
    assert capped.execute("EXPLAIN SELECT user FROM cpu", db="mydb")["results"][0]["series"]
    vals = _values(capped.execute("SELECT mean(user) FROM cpu WHERE host = 'b'", db="mydb"))
    assert len(vals) == 1
    with pytest.raises(InfluxQLError, match="ANALYZE"):
        engine._execute_one("EXPLAIN ANALYZE SELECT user FROM cpu", "mydb")
    with pytest.raises(InfluxQLError, match="SELECT"):
        engine._execute_one("EXPLAIN SHOW MEASUREMENTS", "mydb")


def test_explain_into_does_not_write(spark, tmp_path):
    """EXPLAIN of a SELECT ... INTO statement captures the write
    frame's plan and does NOT mutate the store (round-10 fix: capture
    mode previously intercepted only _bounded_collect, so the INTO
    dispatch still ended in target.write_samples — an EXPLAIN of a
    downsample statement executed the downsample)."""
    root = str(tmp_path / "explinto")
    store = LPStore(spark, root, db="mydb")
    store.write_batch(spark.createDataFrame([(l,) for l in LINES], "line string"))
    eng = InfluxQLEngine(spark, root)
    res = eng.execute(
        "EXPLAIN SELECT mean(user) INTO cpu_1m FROM cpu GROUP BY time(60s)",
        db="mydb",
    )
    plan = "\n".join(v[0] for v in res["results"][0]["series"][0]["values"])
    assert "Physical Plan" in plan or "HashAggregate" in plan
    meas = eng.execute("SHOW MEASUREMENTS", db="mydb")
    assert ["cpu_1m"] not in _values(meas)  # nothing written
    # the subquery-INTO dispatch goes through the same guard
    res2 = eng.execute(
        "EXPLAIN SELECT mean(u) INTO sub_dst FROM "
        "(SELECT user AS u FROM cpu) GROUP BY time(60s)",
        db="mydb",
    )
    assert res2["results"][0]["series"][0]["values"]
    assert ["sub_dst"] not in _values(eng.execute("SHOW MEASUREMENTS", db="mydb"))
    # capture mode off again: the same statement now really writes
    eng.execute("SELECT mean(user) INTO cpu_1m FROM cpu GROUP BY time(60s)", db="mydb")
    assert ["cpu_1m"] in _values(eng.execute("SHOW MEASUREMENTS", db="mydb"))


def test_explain_bare_and_near_miss_raise_influxql_error(engine):
    """Dispatch keys on startswith('EXPLAIN'); a bare EXPLAIN or an
    EXPLAIN-prefixed token must surface the grammar error, not an
    AttributeError from the keyword regex (round-10 fix)."""
    with pytest.raises(InfluxQLError, match="SELECT"):
        engine._execute_one("EXPLAIN", "mydb")
    with pytest.raises(InfluxQLError, match="SELECT"):
        engine._execute_one("EXPLAINXYZ SELECT user FROM cpu", "mydb")


def test_explain_chunked_captures_pump_frames(spark, tmp_path):
    """EXPLAIN + chunked=true (round 10): the chunked dispatch's own
    per-spec frames are captured at the chunk pump's would-have-
    executed point; nothing streams, nothing writes, and a statement
    the chunked path serves as one ordinary envelope still explains."""
    root = str(tmp_path / "explchunk")
    store = LPStore(spark, root, db="mydb")
    store.write_batch(spark.createDataFrame([(l,) for l in LINES], "line string"))
    eng = InfluxQLEngine(spark, root)
    # raw-point statement → its one frame streams through the chunk pump
    envs = list(eng.execute_chunked("EXPLAIN SELECT user FROM cpu", db="mydb"))
    assert len(envs) == 1  # one explain envelope, not row chunks
    s = envs[0]["results"][0]["series"][0]
    assert s["columns"] == ["QUERY PLAN"]
    plan = "\n".join(v[0] for v in s["values"])
    assert "parquet" in plan.lower()
    # multi-field aggregate → the chunked sink streams ONE merged
    # bucket-aligned frame (per-spec frames full-outer-joined), so the
    # chunked EXPLAIN shows a single plan — unlike the unchunked path's
    # one-plan-per-field — which is exactly the fidelity the feature is
    # for: the plan the statement would really get under chunked=true
    envs2 = list(
        eng.execute_chunked(
            "EXPLAIN SELECT mean(user), max(sys) FROM cpu GROUP BY time(60s)",
            db="mydb",
        )
    )
    plan2 = "\n".join(v[0] for v in envs2[0]["results"][0]["series"][0]["values"])
    assert "frame 1/" not in plan2 and "Physical Plan" in plan2
    # a non-chunkable statement (SLIMIT) falls back to the unchunked
    # envelope path and still explains through _bounded_collect
    envs3 = list(
        eng.execute_chunked("EXPLAIN SELECT user FROM cpu SLIMIT 1", db="mydb")
    )
    assert envs3[0]["results"][0]["series"][0]["values"]
    # ANALYZE still rejected on the chunked path
    with pytest.raises(InfluxQLError, match="ANALYZE"):
        list(eng.execute_chunked("EXPLAIN ANALYZE SELECT user FROM cpu", db="mydb"))


def test_chunked_select_into_writes(spark, tmp_path):
    """chunked=true + SELECT ... INTO must still perform the write and
    return the written-count envelope (round-10 fix: the chunked
    dispatch ignored stmt.into and streamed the source rows instead,
    silently skipping the write)."""
    root = str(tmp_path / "intochunk")
    store = LPStore(spark, root, db="mydb")
    store.write_batch(spark.createDataFrame([(l,) for l in LINES], "line string"))
    eng = InfluxQLEngine(spark, root)
    envs = list(
        eng.execute_chunked(
            "SELECT mean(user) INTO cpu_1m FROM cpu WHERE host = 'a' "
            "GROUP BY time(60s)",
            db="mydb",
        )
    )
    assert len(envs) == 1
    assert _values(envs[0]) == [[0, 2]]  # written-count envelope
    back = eng.execute("SELECT mean FROM cpu_1m", db="mydb")
    assert _values(back) == [[1704067200000, 0.2], [1704067260000, 0.5]]
    # raw-copy INTO through the chunked entry too
    envs2 = list(eng.execute_chunked("SELECT user INTO cpu_raw FROM cpu", db="mydb"))
    assert _values(envs2[0])[0][1] >= 1
    assert ["cpu_raw"] in _values(eng.execute("SHOW MEASUREMENTS", db="mydb"))


@pytest.fixture(scope="module")
def into_engine(spark, tmp_path_factory):
    """An isolated store for INTO round trips: INTO adds measurements,
    which would shift the shared fixture's cardinality counts."""
    root = str(tmp_path_factory.mktemp("intomatch"))
    store = LPStore(spark, root, db="mydb")
    store.write_batch(spark.createDataFrame([(l,) for l in LINES], "line string"))
    return InfluxQLEngine(spark, root)


@pytest.mark.parametrize(
    "q",
    [
        "SELECT mean(user) AS mu FROM cpu GROUP BY time(60s)",
        "SELECT user AS u FROM cpu",
        "SELECT max(user) FROM cpu",
        "SELECT abs(user) FROM cpu",
        "SELECT derivative(user) FROM cpu GROUP BY host",
        "SELECT top(user, 2) FROM cpu",
        "SELECT distinct(user) FROM cpu",
        "SELECT elapsed(user) FROM cpu WHERE host = 'a'",
        "SELECT mean(user), sys FROM cpu GROUP BY time(60s)",
        "SELECT mean(user) FROM cpu GROUP BY time(60s) LIMIT 1",
    ],
)
def test_into_writes_what_select_returns(into_engine, q):
    """SELECT ... INTO writes exactly the rows the same SELECT returns
    — field key = output column name, tags = GROUP BY tags, time = the
    row's time — and rejects what the SELECT rejects, with the same
    message."""
    import zlib

    dst = f"dst_{zlib.crc32(q.encode())}"
    into = q.replace(" FROM ", f" INTO {dst} FROM ", 1)
    try:
        want = into_engine.execute(q, db="mydb")
    except InfluxQLError as exc:
        with pytest.raises(InfluxQLError) as got:
            into_engine.execute(into, db="mydb")
        assert str(got.value) == str(exc)
        return
    into_engine.execute(into, db="mydb")
    back = into_engine.execute(f"SELECT * FROM {dst} GROUP BY *", db="mydb")

    def by_series(res):
        return {
            tuple(sorted(s.get("tags", {}).items())): (s["columns"], sorted(s["values"]))
            for s in res["results"][0].get("series", [])
        }

    assert by_series(want)  # the statement answers something
    assert by_series(back) == by_series(want)


def test_into_rejects_limit_it_cannot_apply(into_engine):
    """Point-emitting fields do not join into one frame, so INTO cannot
    apply the LIMIT their merged rows owe: it rejects rather than
    write every row."""
    with pytest.raises(InfluxQLError, match="LIMIT/OFFSET"):
        into_engine.execute(
            "SELECT user + sys AS t, user * 2 AS u INTO dst_limit FROM cpu LIMIT 1", db="mydb"
        )


def test_into_raw_copy_keeps_ns_and_type(spark, tmp_path):
    """A raw copy and raw arithmetic INTO keep each point's exact
    epoch-ns timestamp, and a raw copy keeps the stored type: floats
    in ``value``, strings in ``message`` even when they read as a
    number."""
    root = str(tmp_path / "intotyped")
    store = LPStore(spark, root, db="mydb")
    lines = [
        'm,host=a user=0.5,sys=0.25,code="1.5" 1704067200000123456',
        "m,host=a user=0.75,sys=0.5 1704067201000654321",
    ]
    store.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    eng = InfluxQLEngine(spark, root)
    eng.execute("SELECT user, code INTO cp FROM m", db="mydb")
    eng.execute("SELECT user + sys AS t INTO ca FROM m", db="mydb")

    def samples(meas):
        rows = store.read_samples().filter(f"measurement = '{meas}'").collect()
        return sorted((r.field, r.ts_ns, r.value, r.message) for r in rows)

    assert samples("cp") == [
        ("code", 1704067200000123456, None, "1.5"),
        ("user", 1704067200000123456, 0.5, None),
        ("user", 1704067201000654321, 0.75, None),
    ]
    assert samples("ca") == [
        ("t", 1704067200000123456, 0.75, None),
        ("t", 1704067201000654321, 1.25, None),
    ]

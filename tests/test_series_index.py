"""The driver-side series index behind the SHOW family
(``sources/series_index.py``): the index and the Spark path give the
same envelopes, the index stays fresh across writes, rewrites and
drops without an engine restart, it runs no Spark job, and an
unreadable registry is an error, never an empty store."""

import json
import os
import sys
import threading
import urllib.error
import urllib.parse
import urllib.request
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cflux_spark.api.http import serve
from cflux_spark.plans.influxql import InfluxQLEngine, InfluxQLError
from cflux_spark.sources import series_index
from cflux_spark.sources.ingest import LPStore
from perfbench.gen import dashboard_statements

LINES = [
    "cpu,host=a,region=eu user=0.10,sys=0.01 1704067200000000000",
    "cpu,host=a,region=eu user=0.30 1704067230000000000",
    "cpu,host=a,region=eu user=0.50 1704067290000000000",
    "cpu,host=b,region=us user=0.70 1704067200000000000",
    'app,host=a status="ok" 1704067200000000000',
    # no host tag: `host != 'x'` must not match it
    "disk,region=eu used=5 1704067200000000000",
]
QUOTED_LINES = [
    r"disk\ usage,host=a used=1 1704067200000000000",
    r"cpu,label=x\ LIMIT\ 5 user=0.1 1704067200000000000",
    "cpu,label=plain user=0.2 1704067200000000000",
    "mem,host=b free=3 1704067200000000000",
]

# (statement, db): every SHOW statement of the SHOW tests in
# tests/test_influxql.py, plus missing-tag, case-insensitive, anchored,
# Java-only regex and unknown-db cases
PARITY = [
    ("SHOW MEASUREMENTS", "mydb"),
    ('SHOW FIELD KEYS FROM "cpu"', "mydb"),
    ("SHOW FIELD KEYS", "mydb"),
    ("SHOW TAG KEYS FROM cpu", "mydb"),
    ('SHOW TAG VALUES FROM cpu WITH KEY = "host"', "mydb"),
    ("SHOW TAG VALUES FROM cpu WITH KEY IN (host, region)", "mydb"),
    ("SHOW TAG VALUES WITH KEY = host", "mydb"),
    ("SHOW TAG VALUES", "mydb"),
    ("SHOW TAG VALUES CARDINALITY", "mydb"),
    ("SHOW SERIES", "mydb"),
    ("SHOW SERIES FROM app", "mydb"),
    ("SHOW SERIES CARDINALITY", "mydb"),
    ("SHOW SERIES EXACT CARDINALITY FROM cpu", "mydb"),
    ("SHOW MEASUREMENT CARDINALITY", "mydb"),
    ("SHOW FIELD KEY CARDINALITY", "mydb"),
    ("SHOW TAG KEY CARDINALITY", "mydb"),
    ('SHOW TAG VALUES CARDINALITY WITH KEY = "host"', "mydb"),
    ("SHOW TAG VALUES EXACT CARDINALITY FROM cpu WITH KEY IN (host, region)", "mydb"),
    ("SHOW MEASUREMENTS CARDINALITY", "mydb"),
    ("SHOW FIELD KEYS CARDINALITY", "mydb"),
    ("SHOW TAG KEYS EXACT CARDINALITY", "mydb"),
    ("SHOW MEASUREMENTS WITH MEASUREMENT =~ /^c/", "mydb"),
    ("SHOW MEASUREMENTS WHERE host = 'b'", "mydb"),
    ("SHOW MEASUREMENTS LIMIT 1 OFFSET 1", "mydb"),
    ("SHOW SERIES WHERE region = 'us'", "mydb"),
    ("SHOW TAG VALUES WITH KEY =~ /^ho/", "mydb"),
    ("SHOW TAG VALUES FROM cpu WITH KEY = region WHERE host = 'b'", "mydb"),
    ("SHOW TAG KEYS WHERE region = 'us'", "mydb"),
    ("SHOW MEASUREMENTS WHERE time > now() - 1h", "mydb"),
    ("SHOW MEASUREMENTS WHERE label = 'x LIMIT 5'", "qdb"),
    ("SHOW TAG VALUES FROM cpu WITH KEY = label WHERE label = 'x LIMIT 5'", "qdb"),
    ('SHOW MEASUREMENTS WITH MEASUREMENT = "disk usage"', "qdb"),
    ("SHOW TAG VALUES FROM cpu WITH KEY = label LIMIT 1 OFFSET 1", "qdb"),
    ("SHOW MEASUREMENTS LIMIT abc", "qdb"),
    ("SHOW MEASUREMENTS ON qdb", "mydb"),
    ("SHOW TAG VALUES ON qdb WITH KEY = host", "mydb"),
    ("SHOW SERIES ON mydb", "qdb"),
    ("SHOW MEASUREMENTS ON", "mydb"),
    ("SHOW FIELD KEYS FROM /^c.u$/", "mydb"),
    ("SHOW TAG KEYS FROM /p/", "mydb"),
    ("SHOW SERIES FROM /^app$/", "mydb"),
    ("SHOW TAG VALUES FROM /^cpu$/ WITH KEY = region", "mydb"),
    ("SHOW FIELD KEYS FROM /^(on)?cpu$/", "mydb"),
    ("SHOW MEASUREMENTS WITH MEASUREMENT =~ /on|^cpu$/", "mydb"),
    ("SHOW MEASUREMENTS WITH MEASUREMENT =~ /where|limit|^cpu$/", "mydb"),
    ("SHOW FIELD KEYS FROM /on/", "mydb"),
    ("SHOW FIELD KEYS ON mydb FROM /cpu/", "ignored"),
    ("SHOW MEASUREMENTS WHERE host != 'x'", "mydb"),
    ("SHOW SERIES WHERE host !~ /x/", "mydb"),
    ("SHOW TAG VALUES WITH KEY = region WHERE host != 'x'", "mydb"),
    ("SHOW SERIES CARDINALITY WHERE host =~ /^a$/", "mydb"),
    ("SHOW MEASUREMENTS WITH MEASUREMENT =~ /(?i)^CPU$/", "mydb"),
    ("SHOW TAG VALUES WITH KEY =~ /(?i)^HOST$/", "mydb"),
    ("SHOW TAG KEYS FROM /^app$/", "mydb"),
    ("SHOW MEASUREMENTS WITH MEASUREMENT =~ /^\\p{Lower}+$/", "mydb"),
    ("SHOW MEASUREMENTS", "nosuch"),
    ("SHOW SERIES", "nosuch"),
    ("SHOW FIELD KEYS", "nosuch"),
    ("SHOW TAG KEYS", "nosuch"),
    ("SHOW TAG VALUES WITH KEY = host", "nosuch"),
    ("SHOW SERIES CARDINALITY", "nosuch"),
    ("SHOW TAG VALUES CARDINALITY WITH KEY = host", "nosuch"),
    ("SHOW MEASUREMENTS WHERE time > 0", "nosuch"),
    # OR groups and paren groups: SELECT's WHERE grammar
    ("SHOW TAG VALUES WITH KEY = host WHERE host = 'a' OR host = 'b'", "mydb"),
    ("SHOW SERIES WHERE (region = 'eu' AND host = 'a')", "mydb"),
    ("SHOW MEASUREMENTS WHERE (host = 'a' OR host = 'b') AND region = 'eu'", "mydb"),
    # a row without host: its missing tag is null, and null OR true holds
    ("SHOW SERIES WHERE host = 'b' OR region = 'eu'", "mydb"),
]


def count_jobs(spark, fn):
    """(fn's result, number of Spark jobs fn ran), counted through a
    job group on this thread."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(spark, root, db, lines):
    LPStore(spark, root, db=db).write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))


@pytest.fixture(scope="module")
def root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sidx"))
    _write(spark, root, "mydb", LINES)
    _write(spark, root, "qdb", QUOTED_LINES)
    return root


def _answer(eng, q, db):
    try:
        return eng.execute(q, db=db)
    except InfluxQLError as exc:
        return ("InfluxQLError", str(exc))


def test_index_and_spark_path_give_identical_envelopes(spark, root, monkeypatch):
    eng = InfluxQLEngine(spark, root)
    fallback = {"SHOW MEASUREMENTS WITH MEASUREMENT =~ /^\\p{Lower}+$/"}  # not Python regex
    indexed = {}
    for q, db in PARITY:
        indexed[q, db], jobs = count_jobs(spark, lambda: _answer(eng, q, db))
        assert (jobs > 0) == (q in fallback), (q, db, jobs)
    monkeypatch.setattr(series_index, "SERIES_INDEX_MAX_ROWS", 0)
    for q, db in PARITY:
        spark_path, jobs = count_jobs(spark, lambda: _answer(eng, q, db))
        assert spark_path == indexed[q, db], (q, db)
        if db != "nosuch" and not isinstance(spark_path, tuple):
            assert jobs > 0, (q, db)
    # spot-check the answers themselves, so parity is not two empties
    assert indexed["SHOW MEASUREMENTS WHERE host != 'x'", "mydb"]["results"][0]["series"][0][
        "values"
    ] == [["app"], ["cpu"]]
    assert indexed["SHOW MEASUREMENTS WITH MEASUREMENT =~ /^\\p{Lower}+$/", "mydb"]["results"][0][
        "series"
    ][0]["values"] == [["app"], ["cpu"], ["disk"]]
    assert indexed["SHOW SERIES ON mydb", "qdb"]["results"][0]["series"][0]["values"] == [
        ["app,host=a"], ["cpu,host=a,region=eu"], ["cpu,host=b,region=us"], ["disk,region=eu"],
    ]
    assert indexed["SHOW TAG VALUES WITH KEY = host WHERE host = 'a' OR host = 'b'", "mydb"][
        "results"
    ][0]["series"] == [
        {"name": "app", "columns": ["key", "value"], "values": [["host", "a"]]},
        {"name": "cpu", "columns": ["key", "value"], "values": [["host", "a"], ["host", "b"]]},
    ]
    assert indexed["SHOW SERIES WHERE host = 'b' OR region = 'eu'", "mydb"]["results"][0][
        "series"
    ][0]["values"] == [["cpu,host=a,region=eu"], ["cpu,host=b,region=us"], ["disk,region=eu"]]


def test_show_reflects_writes_rewrites_and_drops(spark, tmp_path):
    root = str(tmp_path / "fresh")
    srv, app, port = serve(spark, root)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"

    def post(path, body=b""):
        req = urllib.request.Request(base + path, data=body, method="POST")
        with urllib.request.urlopen(req) as r:
            return r.status

    def show(q, db="f"):
        with urllib.request.urlopen(base + f"/query?db={db}&q=" + urllib.parse.quote(q)) as r:
            res = json.loads(r.read())["results"][0]
        return [v for s in res.get("series", []) for v in s["values"]]

    try:
        assert post("/write?db=f", "\n".join(LINES[:5]).encode()) == 204
        assert show("SHOW MEASUREMENTS") == [["app"], ["cpu"]]
        assert show("SHOW TAG VALUES FROM cpu WITH KEY = host") == [["host", "a"], ["host", "b"]]
        # a /write that adds a measurement and a tag value
        assert post("/write?db=f", b"net,host=c bytes=1 1704067200000000000") == 204
        assert show("SHOW MEASUREMENTS") == [["app"], ["cpu"], ["net"]]
        assert show("SHOW TAG VALUES WITH KEY = host") == [
            ["host", "a"], ["host", "a"], ["host", "b"], ["host", "c"],
        ]
        # DROP SERIES and DROP MEASUREMENT rewrite the registry
        q = urllib.parse.quote("DROP SERIES FROM cpu WHERE host = 'b'")
        assert post(f"/query?db=f&q={q}") == 200
        assert show("SHOW TAG VALUES FROM cpu WITH KEY = host") == [["host", "a"]]
        assert post("/query?db=f&q=" + urllib.parse.quote("DROP MEASUREMENT app")) == 200
        assert show("SHOW MEASUREMENTS") == [["cpu"], ["net"]]
        # a write through a second LPStore on the same root
        _write(spark, root, "f", ["mem,host=d free=1 1704067200000000000"])
        assert show("SHOW MEASUREMENTS") == [["cpu"], ["mem"], ["net"]]
        assert show("SHOW SERIES CARDINALITY") == [[4]]
        # DROP DATABASE, then a write that recreates the database
        assert post("/query?q=" + urllib.parse.quote("DROP DATABASE f")) == 200
        assert show("SHOW MEASUREMENTS") == []
        assert post("/write?db=f", b"disk,host=e used=2 1704067200000000000") == 204
        assert show("SHOW MEASUREMENTS") == [["disk"]]
        assert show("SHOW TAG VALUES WITH KEY = host") == [["host", "e"]]
    finally:
        srv.shutdown()


def test_unreadable_registry_is_an_error_not_an_empty_store(spark, tmp_path):
    root = str(tmp_path / "corrupt")
    srv, app, port = serve(spark, root)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"

    def status(path, body=None):
        req = urllib.request.Request(base + path, data=body, method="POST" if body else "GET")
        try:
            with urllib.request.urlopen(req) as r:
                return r.status
        except urllib.error.HTTPError as exc:
            return exc.code

    reg_dir = os.path.join(root, "bad", "time_series")
    try:
        assert status("/write?db=bad", "\n".join(LINES).encode()) == 204
        parts = [n for n in os.listdir(reg_dir) if not n.startswith(("_", "."))]
        assert parts
        for n in parts:
            with open(os.path.join(reg_dir, n), "wb") as f:
                f.write(b"not a parquet file at all")
        before = sorted(os.listdir(reg_dir))
        show = "/query?db=bad&q=" + urllib.parse.quote("SHOW MEASUREMENTS")
        assert not 200 <= status(show) < 300
        with pytest.raises(Exception):
            LPStore(spark, root, db="bad").read_registry_raw()
        body = b"cpu,host=z user=1 1704067200000000000"
        assert not 200 <= status("/write?db=bad", body) < 300
        assert sorted(os.listdir(reg_dir)) == before
    finally:
        srv.shutdown()


def test_perfbench_show_panels_run_no_spark_job(spark, tmp_path, monkeypatch):
    """perfbench's three SHOW panels answer from the index with 0 Spark
    jobs, cold (a new engine) and warm; with the cap at 0 they run the
    Spark path."""
    root = str(tmp_path / "panels")
    _write(spark, root, "telegraf", LINES)
    shows = [q for _name, q in dashboard_statements(1) if q.startswith("SHOW")]
    assert len(shows) == 3
    eng = InfluxQLEngine(spark, root)
    for _ in ("cold", "warm"):
        for q in shows:
            res, jobs = count_jobs(spark, lambda: eng.execute(q, db="telegraf"))
            assert res["results"][0]["series"] and jobs == 0, (q, jobs)
    monkeypatch.setattr(series_index, "SERIES_INDEX_MAX_ROWS", 0)
    for q in shows:
        _res, jobs = count_jobs(spark, lambda: eng.execute(q, db="telegraf"))
        assert jobs > 0, q


def test_select_registry_lookups_run_no_spark_job(spark, root, monkeypatch):
    """``SELECT ... FROM /regex/`` expansion and ``GROUP BY *`` key
    discovery look the registry up through the series index with no
    Spark job; with the cap at 0 the same lookups run on Spark."""
    eng = InfluxQLEngine(spark, root)
    lookup = eng._lookup
    jobs: list[int] = []

    def counted(db, answer):
        out, n = count_jobs(spark, lambda: lookup(db, answer))
        jobs.append(n)
        return out

    monkeypatch.setattr(eng, "_lookup", counted)
    for cap in ("index", "spark"):
        jobs.clear()
        res = eng.execute("SELECT mean(user) FROM /^c.u$|^app$/", db="mydb")
        assert [s["name"] for s in res["results"][0]["series"]] == ["cpu"]
        res = eng.execute("SELECT mean(user) FROM cpu GROUP BY *", db="mydb")
        assert [s["tags"] for s in res["results"][0]["series"]] == [
            {"host": "a", "region": "eu"}, {"host": "b", "region": "us"},
        ]
        assert len(jobs) == 2 and all((n == 0) == (cap == "index") for n in jobs), (cap, jobs)
        monkeypatch.setattr(series_index, "SERIES_INDEX_MAX_ROWS", 0)


def test_concurrent_show_while_registry_grows(spark, tmp_path):
    """Many threads answer SHOW from one engine while registry files
    keep arriving: each thread's answers only grow, and once the
    writer stops every thread sees every measurement."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "stress")
    reg_dir = os.path.join(root, "s", "time_series")
    os.makedirs(reg_dir)
    tags_type = pa.map_(pa.string(), pa.string())

    def add_file(i):
        t = pa.table({
            "date": pa.array([19723], pa.int32()).cast(pa.date32()),
            "fingerprint": pa.array([i], pa.int64()),
            "measurement": [f"m{i:03d}"],
            "name": [f"m{i:03d}.v"],
            "tags": pa.array([[("host", f"h{i}")]], tags_type),
            "labels": ["{}"],
        })
        tmp = os.path.join(reg_dir, f".part-{i:05d}.parquet")
        pq.write_table(t, tmp)
        os.rename(tmp, os.path.join(reg_dir, f"part-{i:05d}.parquet"))

    add_file(0)
    eng = InfluxQLEngine(spark, root)
    n_files, errors, done = 300, [], threading.Event()
    seen: dict[int, list[int]] = {}

    def reader(k):
        try:
            while True:
                finished = done.is_set()
                r = eng.execute("SHOW MEASUREMENTS", db="s")
                seen[k].append(len(r["results"][0]["series"][0]["values"]))
                if finished:
                    return
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = []
        for k in range((os.cpu_count() or 4) * 2):
            seen[k] = []
            threads.append(threading.Thread(target=reader, args=(k,), daemon=True))
        for th in threads:
            th.start()
        for i in range(1, n_files):
            add_file(i)
        done.set()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not errors
    assert not any(th.is_alive() for th in threads)
    for counts in seen.values():
        assert counts == sorted(counts) and counts[-1] == n_files

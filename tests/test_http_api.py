"""HTTP edge integration: the Telegraf/Chronograf flow over the wire
(reference /write cflux.js:298, /query :375, /ping :861, subscription
fan-out :313-315) — POST the LP corpus, query it back, assert the
mirror target received the raw body.
"""

import http.server
import json
import os
import sys
import threading
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from cflux_spark.api.http import serve

LINES = (
    "cpu,host=a,region=eu user=0.64,sys=0.11 1545424651000000000\n"
    "cpu,host=b,region=us user=0.32 1545424652000000000\n"
    "cpu,host=a,region=eu user=0.70 1545424711000000000\n"
    'app,host=a status="ok" 1545424651000000000'
)


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("httpstore"))
    srv, app, port = serve(spark, root)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{port}", app
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return r.status, r.read()


def test_ping(server):
    url, _ = server
    with urllib.request.urlopen(url + "/ping") as r:
        assert r.status == 204
        assert "cflux-spark" in r.headers["X-Influxdb-Version"]


def test_write_then_query_roundtrip(server):
    url, _ = server
    req = urllib.request.Request(url + "/write?db=web", data=LINES.encode(), method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.status == 204

    status, body = _get(url + "/query?db=web&q=SHOW%20MEASUREMENTS")
    assert status == 200
    names = [v[0] for v in json.loads(body)["results"][0]["series"][0]["values"]]
    assert names == ["app", "cpu"]

    q = "SELECT user FROM cpu WHERE host = 'a'"
    status, body = _get(url + "/query?db=web&q=" + urllib.request.quote(q))
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert vals == [[1545424651000, 0.64], [1545424711000, 0.7]]


def test_query_via_post_form(server):
    url, _ = server
    data = b"db=web&q=SHOW%20FIELD%20KEYS%20FROM%20cpu"
    req = urllib.request.Request(url + "/query", data=data, method="POST")
    with urllib.request.urlopen(req) as r:
        series = json.loads(r.read())["results"][0]["series"][0]
    assert sorted(v[0] for v in series["values"]) == ["sys", "user"]


def test_bad_query_is_400_not_crash(server):
    url, _ = server
    q = urllib.request.quote("SELECT FROM")
    try:
        urllib.request.urlopen(url + f"/query?db=web&q={q}")
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "error" in json.loads(e.read())


def test_subscription_fanout_posts_raw_body(server):
    url, app = server
    received: list[bytes] = []
    got = threading.Event()

    class Collector(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            received.append(self.rfile.read(int(self.headers["Content-Length"])))
            self.send_response(204)
            self.end_headers()
            got.set()

        def log_message(self, *a):
            pass

    sink = http.server.HTTPServer(("127.0.0.1", 0), Collector)
    threading.Thread(target=sink.serve_forever, daemon=True).start()
    target = f"http://127.0.0.1:{sink.server_port}/receive"

    q = urllib.request.quote(
        f"CREATE SUBSCRIPTION \"mirror\" ON web.autogen DESTINATIONS ANY '{target}'"
    )
    _get(url + f"/query?db=web&q={q}")

    body = b"cpu,host=c user=0.5 1545424800000000000"
    req = urllib.request.Request(url + "/write?db=web", data=body, method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.status == 204
    assert got.wait(timeout=10), f"mirror never received the body; errors={app.forward_errors}"
    assert received == [body]
    sink.shutdown()


def test_concurrent_writes_serialized(spark, tmp_path_factory):
    """Single-writer rule (SURVEY §7 'registry upsert races'): /write
    holds an in-process lock, so concurrent POSTs — even through a
    threaded front — serialize. Every row lands exactly once and the
    registry has no duplicate fingerprints."""
    from urllib.parse import quote

    root = str(tmp_path_factory.mktemp("concstore"))
    srv, app, port = serve(spark, root)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    try:
        bodies = [
            f"m,host=h{i} v={i}.5 17040672{i:02d}000000000".encode() for i in range(6)
        ]

        errs = []

        def post(b: bytes) -> None:
            try:
                req = urllib.request.Request(base + "/write?db=conc", data=b, method="POST")
                with urllib.request.urlopen(req) as r:
                    assert r.status == 204
            except Exception as exc:  # noqa: BLE001
                errs.append(exc)

        threads = [threading.Thread(target=post, args=(b,)) for b in bodies]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
        assert not errs
        q = quote("SELECT v FROM m WHERE time >= 0")
        status, body = _get(base + f"/query?db=conc&q={q}")
        assert status == 200
        series = json.loads(body)["results"][0]["series"]
        vals = [v for s in series for v in s["values"]]
        assert len(vals) == 6
        # registry: one fingerprint per distinct series, no duplicates
        reg = app.engine._registry("conc")
        fps = [r.fingerprint for r in reg.select("fingerprint").collect()]
        assert len(fps) == len(set(fps)) == 6
    finally:
        srv.shutdown()


def test_subscription_scheme_allowlist(spark, tmp_path_factory):
    """Non-http(s) fan-out targets are refused at forward time and
    recorded, not fetched (SSRF fence on the unauthenticated API)."""
    root = str(tmp_path_factory.mktemp("ssrfstore"))
    srv, app, port = serve(spark, root)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    try:
        from urllib.parse import quote

        q = quote("CREATE SUBSCRIPTION \"bad\" ON evil.autogen DESTINATIONS ANY 'file:///etc/passwd'")
        status, _ = _get(base + f"/query?db=evil&q={q}")
        assert status == 200
        req = urllib.request.Request(
            base + "/write?db=evil", data=b"m v=1 1704067200000000000", method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 204
        deadline = 50
        while not app.forward_errors and deadline:
            import time

            time.sleep(0.1)
            deadline -= 1
        assert any("not allowed" in e for e in app.forward_errors)
    finally:
        srv.shutdown()


def test_forward_errors_bounded_and_counted(tmp_path):
    """A dead mirror target fails on every write for the life of the
    server: the kept messages stay bounded while the total counts
    every failure, with no update lost across recording threads."""
    from cflux_spark.api.http import CFluxApp

    app = CFluxApp(None, str(tmp_path))  # no Spark: only the error log is used
    n_threads, per_thread = 16, 500

    def fail_many() -> None:
        for i in range(per_thread):
            app._forward_failed(f"http://dead.invalid: failure {i}")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fail_many) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert app.forward_errors_total == n_threads * per_thread
    assert len(app.forward_errors) == CFluxApp.FORWARD_ERRORS_KEPT


def test_chunked_query_over_the_wire(server):
    """/query?chunked=true streams newline-delimited JSON envelopes."""
    from urllib.parse import quote

    url, _ = server
    req = urllib.request.Request(url + "/write?db=chunkdb", data=LINES.encode(), method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.status == 204
    q = quote("SELECT user FROM cpu WHERE host = 'a'")
    status, body = _get(url + f"/query?db=chunkdb&q={q}&chunked=true&chunk_size=1")
    assert status == 200
    envs = [json.loads(line) for line in body.decode().strip().split("\n")]
    assert len(envs) == 2  # host=a has two user points in the corpus
    assert envs[0]["results"][0].get("partial") is True
    vals = [v for e in envs for s in e["results"][0]["series"] for v in s["values"]]
    assert len(vals) == 2
    # an unparsable chunk_size keeps the default (InfluxDB), not a 500
    status, body = _get(url + f"/query?db=chunkdb&q={q}&chunked=true&chunk_size=abc")
    assert status == 200
    assert [len(json.loads(line)["results"][0]["series"][0]["values"])
            for line in body.decode().strip().split("\n")] == [2]


def test_chunked_multi_field_over_the_wire(server):
    """Round 6: chunked multi-field responses stream the MERGED series
    (columns [time, user, sys]) over the wire — the per-field series
    a client would mis-concatenate are gone."""
    from urllib.parse import quote

    url, _ = server
    req = urllib.request.Request(
        url + "/write?db=chunkdb2", data=LINES.encode(), method="POST"
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 204
    q = quote("SELECT user, sys FROM cpu WHERE host = 'a'")
    status, body = _get(url + f"/query?db=chunkdb2&q={q}&chunked=true&chunk_size=1")
    assert status == 200
    envs = [json.loads(line) for line in body.decode().strip().split("\n")]
    for e in envs:
        for s in e["results"][0]["series"]:
            assert s["columns"] == ["time", "user", "sys"]
    n_rows = sum(
        len(s["values"]) for e in envs for s in e["results"][0]["series"]
    )
    assert n_rows >= 2


def test_epoch_param_converts_time_values(server):
    """epoch= response-precision knob (InfluxDB API; the reference
    ignores it and hard-emits ms — cflux.js:795). Default stays ms."""
    from urllib.parse import quote

    url, _ = server
    q = quote("SELECT user FROM cpu WHERE host = 'b'")
    _, body_ms = _get(url + f"/query?db=web&q={q}")
    t_ms = json.loads(body_ms)["results"][0]["series"][0]["values"][0][0]
    _, body_s = _get(url + f"/query?db=web&q={q}&epoch=s")
    t_s = json.loads(body_s)["results"][0]["series"][0]["values"][0][0]
    _, body_ns = _get(url + f"/query?db=web&q={q}&epoch=ns")
    t_ns = json.loads(body_ns)["results"][0]["series"][0]["values"][0][0]
    assert t_s == t_ms // 1000
    assert t_ns == t_ms * 1_000_000


def test_delete_and_drop_over_the_wire(server):
    """The deletion family works through the HTTP /query edge like any
    other statement (InfluxDB clients issue DROP/DELETE via POST)."""
    import urllib.parse

    url, _ = server
    lines = (
        "tmp_m,host=x v=1 1545424651000000000\n"
        "tmp_m,host=y v=2 1545424652000000000"
    )
    req = urllib.request.Request(url + "/write?db=deldb", data=lines.encode(), method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.status == 204

    q = urllib.parse.quote("DROP SERIES FROM tmp_m WHERE host = 'x'")
    req = urllib.request.Request(url + f"/query?db=deldb&q={q}", data=b"", method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.status == 200

    status, body = _get(url + "/query?db=deldb&q=" + urllib.parse.quote("SELECT v FROM tmp_m"))
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert vals == [[1545424652000, 2.0]]

    q = urllib.parse.quote("DROP MEASUREMENT tmp_m")
    req = urllib.request.Request(url + f"/query?db=deldb&q={q}", data=b"", method="POST")
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
    status, body = _get(url + "/query?db=deldb&q=" + urllib.parse.quote("SHOW MEASUREMENTS"))
    res = json.loads(body)["results"][0]
    names = [v[0] for s in res.get("series", []) for v in s.get("values", [])]
    assert "tmp_m" not in names


def test_write_precision_ms(server):
    """/write?precision=ms: Telegraf-style millisecond timestamps are
    scaled to ns at ingest (the reference ignores the param and
    misreads them 10^6 too old)."""
    import urllib.parse

    url, _ = server
    line = b"prec_m,host=p v=1 1545424651000"  # ms epoch
    req = urllib.request.Request(
        url + "/write?db=precdb&precision=ms", data=line, method="POST"
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 204
    status, body = _get(
        url + "/query?db=precdb&q=" + urllib.parse.quote("SELECT v FROM prec_m")
    )
    vals = json.loads(body)["results"][0]["series"][0]["values"]
    assert vals == [[1545424651000, 1.0]]  # response epoch-ms matches


def test_write_bad_precision_rejected(server):
    import urllib.error

    url, _ = server
    req = urllib.request.Request(
        url + "/write?db=precdb&precision=parsec", data=b"m v=1 1", method="POST"
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected HTTP 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_module_entrypoint_boots_and_pings(spark, tmp_path_factory):
    """python -m cflux_spark boots the same edge: main() with
    run_forever=False returns a bound server; /ping answers 204 and a
    write/query roundtrip works through the module path."""
    import threading
    import urllib.parse
    import urllib.request

    from cflux_spark.__main__ import main

    root = str(tmp_path_factory.mktemp("cliroot"))
    server, app, port = main(["--root", root, "--port", "0"], run_forever=False)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        req = urllib.request.Request(f"http://127.0.0.1:{port}/ping")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 204
        body = b"cpu,host=cli value=1.5 1704067200000000000"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/write?db=clidb", data=body, method="POST"
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 204
        q = urllib.parse.quote("SELECT * FROM cpu")
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/query?db=clidb&q={q}"
        ) as resp:
            import json as _json

            payload = _json.loads(resp.read())
            series = payload["results"][0]["series"]
            assert series and series[0]["name"] == "cpu"
    finally:
        server.shutdown()
        server.server_close()


def test_gzip_write_body(server):
    """Telegraf-style gzip'd /write bodies decompress and ingest; a
    corrupt gzip body is a 400, not a garbage measurement."""
    import gzip
    import urllib.error

    url, _ = server
    body = gzip.compress(b"gz,host=z value=9 1704067200000000000")
    req = urllib.request.Request(
        url + "/write?db=gzdb", data=body, method="POST",
        headers={"Content-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 204
    q = urllib.request.quote("SELECT value FROM gz")
    with urllib.request.urlopen(url + f"/query?db=gzdb&q={q}") as resp:
        payload = json.loads(resp.read())
        assert payload["results"][0]["series"][0]["values"] == [[1704067200000, 9.0]]
    bad = urllib.request.Request(
        url + "/write?db=gzdb", data=b"not-gzip", method="POST",
        headers={"Content-Encoding": "gzip"},
    )
    try:
        urllib.request.urlopen(bad)
        raise AssertionError("corrupt gzip accepted")
    except urllib.error.HTTPError as e:
        assert e.code == 400


def _wsgi(app, method: str, path: str, query: str = "", body: bytes = b""):
    """Call the WSGI app in the calling thread, as a threaded server
    would; returns (status, body)."""
    import io

    status = []
    env = {
        "REQUEST_METHOD": method,
        "PATH_INFO": path,
        "QUERY_STRING": query,
        "CONTENT_LENGTH": str(len(body)),
        "wsgi.input": io.BytesIO(body),
    }
    out = b"".join(app(env, lambda s, _h: status.append(s)))
    return int(status[0].split()[0]), out


def test_corrupt_store_is_an_error_not_empty(spark, tmp_path):
    """Samples files that do not parse fail the SELECT with a 5xx; only
    a store with no data file (here: retention dropped every
    partition) answers empty."""
    from datetime import date
    from urllib.parse import quote

    root = str(tmp_path / "corrupt")
    srv, app, port = serve(spark, root)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{port}"
    q = quote("SELECT v FROM cpu WHERE time >= 0")
    try:
        for db in ("bad", "expired"):
            body = b"cpu,host=a v=1 1704067200000000000\ncpu,host=a v=2 1704153600000000000"
            req = urllib.request.Request(base + f"/write?db={db}", data=body, method="POST")
            with urllib.request.urlopen(req) as r:
                assert r.status == 204
        for d, _dirs, names in os.walk(os.path.join(root, "bad", "samples")):
            for n in names:
                if n.endswith(".parquet"):
                    with open(os.path.join(d, n), "wb") as fh:
                        fh.write(b"not a parquet file")
        with pytest.raises(urllib.error.HTTPError) as err:
            _get(base + f"/query?db=bad&q={q}")
        assert err.value.code >= 500

        app.engine.execute('CREATE RETENTION POLICY "d" ON expired DURATION 1d REPLICATION 1 DEFAULT')
        dropped = app.engine.enforce_retention_policies("expired", now=date(2024, 2, 1))
        assert dropped == {"expired": ["date=2024-01-01", "date=2024-01-02"]}
        status, body = _get(base + f"/query?db=expired&q={q}")
        assert status == 200 and json.loads(body) == {"results": [{"statement_id": 0}]}
    finally:
        srv.shutdown()


def test_write_during_delete_rewrite_is_kept(spark, tmp_path, monkeypatch):
    """A /write into a date partition that a DELETE is rewriting, sent
    from a second thread while the rewrite is held at its swap, waits
    for the DELETE to commit and is then readable: the engine runs one
    writer for /write and every mutating statement."""
    from urllib.parse import quote

    from cflux_spark.api.http import CFluxApp

    app = CFluxApp(spark, str(tmp_path / "locked"))
    body = b"cpu,host=a v=1 1704067200000000000\ncpu,host=b v=2 1704067201000000000"
    assert _wsgi(app, "POST", "/write", "db=w", body)[0] == 204

    at_swap, release = threading.Event(), threading.Event()
    real_rename = os.rename

    def held_rename(src, dst, *a, **k):
        if os.path.basename(str(src)).startswith("date=") and not at_swap.is_set():
            at_swap.set()
            release.wait(120)
        return real_rename(src, dst, *a, **k)

    monkeypatch.setattr(os, "rename", held_rename)
    results = {}

    def delete():
        q = "db=w&q=" + quote("DELETE FROM cpu WHERE host = 'a'")
        results["delete"] = _wsgi(app, "POST", "/query", q)

    def write():
        point = b"cpu,host=c v=3 1704067202000000000"
        results["write"] = _wsgi(app, "POST", "/write", "db=w", point)

    deleter = threading.Thread(target=delete)
    deleter.start()
    assert at_swap.wait(120)
    writer = threading.Thread(target=write)
    writer.start()
    writer.join(2)  # a /write that does not wait lands in the live partition now
    release.set()
    deleter.join(120)
    writer.join(120)
    monkeypatch.undo()
    assert not deleter.is_alive() and not writer.is_alive()
    # a thread that raised left no status
    assert [results.get(k, (None,))[0] for k in ("delete", "write")] == [200, 204]
    q = "db=w&q=" + quote("SELECT v FROM cpu WHERE time >= 0 GROUP BY host")
    status, out = _wsgi(app, "GET", "/query", q)
    series = json.loads(out)["results"][0]["series"]
    assert status == 200
    assert {s["tags"]["host"]: s["values"] for s in series} == {
        "b": [[1704067201000, 2.0]],
        "c": [[1704067202000, 3.0]],
    }


def test_threaded_writes_and_deletes_lose_nothing(spark, tmp_path):
    """More writer threads than cores on one app, switching often:
    /write and DELETE into one date partition all take effect, and the
    registry holds each series once."""
    from urllib.parse import quote

    from cflux_spark.api.http import CFluxApp

    app = CFluxApp(spark, str(tmp_path / "stress"))
    old = "\n".join(f"cpu,host=old{i} v={i} 170406720{i}000000000" for i in range(3))
    assert _wsgi(app, "POST", "/write", "db=x", old.encode())[0] == 204
    jobs = [("POST", "/write", "db=x", f"cpu,host=new{i} v=1{i} 170406721{i}000000000".encode())
            for i in range(4)]
    jobs += [("POST", "/query", "db=x&q=" + quote(f"DELETE FROM cpu WHERE host = 'old{i}'"), b"")
             for i in range(2)]
    statuses = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda j=j: statuses.append(_wsgi(app, *j)[0]))
                   for j in jobs]
        for th in threads:
            th.start()
        for th in threads:
            th.join(300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert sorted(statuses) == [200, 200, 204, 204, 204, 204]
    q = "db=x&q=" + quote("SELECT v FROM cpu WHERE time >= 0 GROUP BY host")
    series = json.loads(_wsgi(app, "GET", "/query", q)[1])["results"][0]["series"]
    assert sorted(s["tags"]["host"] for s in series) == ["new0", "new1", "new2", "new3", "old2"]
    fps = [r.fingerprint for r in app.engine._registry("x").select("fingerprint").collect()]
    assert len(fps) == len(set(fps)) == 7

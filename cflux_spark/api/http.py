"""HTTP edge: the InfluxDB 1.x wire surface of the reference.

Endpoints (reference citations):

- ``POST /write?db=``  — line-protocol body → ingest  (cflux.js:298-352)
- ``GET|POST /query``  — InfluxQL → JSON envelope     (cflux.js:375-393)
- ``GET /ping``        — liveness, X-Influxdb-Version (cflux.js:861-864)
- subscription fan-out — every raw /write body mirrored via HTTP POST
  to each registered target, fire-and-forget with a timeout
  (cflux.js:313-315, axios timeout 5000 ms at :273)

Stdlib-WSGI only (no framework dependency): the app is a plain WSGI
callable, served by ``wsgiref`` for tests/dev; production would front
it with any WSGI server. The HTTP layer is a THIN shim — all query
planning and ingest runs through the same `InfluxQLEngine` / `LPStore`
library surface the rest of the engine uses; Telegraf/Chronograf/
Grafana speak to this endpoint exactly as they would to the reference.
"""

from __future__ import annotations

import json
import threading
from collections import deque
import urllib.request
from typing import Any
from urllib.parse import parse_qs
from wsgiref.simple_server import WSGIRequestHandler, WSGIServer, make_server

from pyspark.sql import SparkSession

from cflux_spark.plans.influxql import InfluxQLEngine, InfluxQLError


class CFluxApp:
    """WSGI application exposing the reference's HTTP API over the
    engine. One app per store root; databases are lazy, per ``?db=``
    (cflux.js:304-311).

    TRUST MODEL: the API is unauthenticated (so is the reference's),
    and ``CREATE SUBSCRIPTION`` registers a URL that every subsequent
    ``/write`` body is mirrored to — on an exposed listener that is an
    SSRF/data-mirroring vector. This app is built for localhost/dev
    (``serve`` binds 127.0.0.1); a production mount must sit behind
    authentication, and fan-out targets are restricted by
    ``allowed_forward_schemes`` (http/https only by default — file:,
    gopher: etc. are rejected at registration use-time)."""

    #: failed mirror POSTs kept as messages; older failures only count
    #: toward ``forward_errors_total``, so a long-running server with a
    #: dead subscription target keeps bounded memory
    FORWARD_ERRORS_KEPT = 100

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        forward_timeout_s: float = 5.0,
        allowed_forward_schemes: tuple[str, ...] = ("http", "https"),
    ):
        self.spark = spark
        self.engine = InfluxQLEngine(spark, root)
        self.forward_timeout_s = forward_timeout_s
        self.allowed_forward_schemes = allowed_forward_schemes
        # mirror targets whose POST failed, for observability (the
        # reference swallows forward errors silently, cflux.js:870-872)
        self.forward_errors: deque[str] = deque(maxlen=self.FORWARD_ERRORS_KEPT)
        self.forward_errors_total = 0
        self._forward_errors_lock = threading.Lock()

    # ------------------------------------------------------------- WSGI

    def __call__(self, environ: dict, start_response) -> list[bytes]:
        path = environ.get("PATH_INFO", "")
        method = environ.get("REQUEST_METHOD", "GET")
        params = parse_qs(environ.get("QUERY_STRING", ""))
        try:
            if path == "/ping":
                return self._respond(start_response, 204, b"", [("X-Influxdb-Version", "1.8-cflux-spark")])
            if path == "/write" and method == "POST":
                return self._write(environ, params, start_response)
            if path == "/query":
                return self._query(environ, method, params, start_response)
            return self._respond(start_response, 404, b'{"error":"not found"}')
        except InfluxQLError as exc:
            body = json.dumps({"error": str(exc)}).encode()
            return self._respond(start_response, 400, body)

    def _respond(self, start_response, status: int, body: bytes, extra_headers=()) -> list[bytes]:
        reasons = {200: "OK", 204: "No Content", 400: "Bad Request", 404: "Not Found"}
        headers = [("Content-Type", "application/json"), ("Content-Length", str(len(body)))]
        headers.extend(extra_headers)
        start_response(f"{status} {reasons[status]}", headers)
        return [body]

    # ------------------------------------------------------------ /write

    def _write(self, environ: dict, params: dict, start_response) -> list[bytes]:
        db = params.get("db", ["default"])[0]
        precision = params.get("precision", ["ns"])[0]
        length = int(environ.get("CONTENT_LENGTH") or 0)
        raw = environ["wsgi.input"].read(length) if length else b""
        # Telegraf's influxdb output can send gzip bodies
        # (content_encoding = "gzip"); InfluxDB accepts them on /write
        if environ.get("HTTP_CONTENT_ENCODING", "").lower() == "gzip":
            import gzip as _gzip
            import zlib as _zlib

            # gzip.decompress raises OSError for bad magic, EOFError for
            # truncated streams (connection cut mid-body), zlib.error for
            # corrupt deflate data — all are client errors, all → 400.
            try:
                raw = _gzip.decompress(raw)
            except (OSError, EOFError, _zlib.error):
                return self._respond(
                    start_response, 400, b'{"error":"bad gzip body"}'
                )
        body = raw.decode("utf-8", errors="replace")
        # ST5: mirror the UNPARSED body first, like the reference
        # forwards before parsing (cflux.js:313-315)
        self._forward(db, raw)
        lines = [(l,) for l in body.split("\n") if l.strip()]
        if lines:
            # the engine's single writer (write_batch races on the registry)
            with self.engine.write_lock:
                store = self.engine.store(db)
                df = self.spark.createDataFrame(lines, "line string")
                try:
                    store.write_batch(df, collect_stats=False, precision=precision)
                except ValueError as exc:
                    return self._respond(
                        start_response, 400, json.dumps({"error": str(exc)}).encode()
                    )
        # 204-before-flush in the reference (cflux.js:351) is
        # at-most-once; here the write completed before the 204 —
        # the durability upgrade documented in SURVEY §2.9 ST2
        return self._respond(start_response, 204, b"")

    def _forward(self, db: str, raw: bytes) -> None:
        for _sid, target in self.engine.subscriptions.get(db, []):
            scheme = target.split(":", 1)[0].lower() if ":" in target else ""
            if scheme not in self.allowed_forward_schemes:
                self._forward_failed(f"{target}: scheme {scheme!r} not allowed")
                continue
            def post(url: str = target) -> None:
                try:
                    req = urllib.request.Request(url, data=raw, method="POST")
                    urllib.request.urlopen(req, timeout=self.forward_timeout_s).read()
                except Exception as exc:  # noqa: BLE001 — fire-and-forget, but record
                    self._forward_failed(f"{url}: {exc}")

            threading.Thread(target=post, daemon=True).start()

    def _forward_failed(self, msg: str) -> None:
        with self._forward_errors_lock:
            self.forward_errors.append(msg)
            self.forward_errors_total += 1

    # ------------------------------------------------------------ /query

    def _query(self, environ: dict, method: str, params: dict, start_response) -> list[bytes]:
        q = params.get("q", [None])[0]
        db = params.get("db", [None])[0]
        if q is None and method == "POST":
            length = int(environ.get("CONTENT_LENGTH") or 0)
            form = parse_qs(environ["wsgi.input"].read(length).decode("utf-8")) if length else {}
            q = form.get("q", [None])[0]
            db = db or form.get("db", [None])[0]
        if not q:
            return self._respond(start_response, 400, b'{"error":"missing q parameter"}')
        # epoch=: InfluxDB's response-precision knob. The reference
        # ignores it and hard-emits ms (cflux.js:795); we keep ms as the
        # default for parity and honor the knob when a client sends it.
        epoch = params.get("epoch", [None])[0]
        if params.get("chunked", ["false"])[0].lower() in ("true", "1"):
            # InfluxDB chunked responses: newline-delimited JSON
            # envelopes, each ≤ chunk_size rows, streamed as produced —
            # driver memory stays O(chunk_size) for raw-point SELECTs
            try:
                kw = {"chunk_size": int(params["chunk_size"][0])}
            except (KeyError, ValueError):
                # InfluxDB's handler keeps the default chunk size when
                # chunk_size is absent or does not parse
                kw = {}
            gen = self.engine.execute_chunked(q, db=db, **kw)
            start_response("200 OK", [("Content-Type", "application/json")])
            return (json.dumps(_apply_epoch(env, epoch)).encode() + b"\n" for env in gen)
        result = _apply_epoch(self.engine.execute(q, db=db), epoch)
        return self._respond(start_response, 200, json.dumps(result).encode())


# ms → requested epoch unit (InfluxDB: ns/u/µ/ms/s/m/h). Multipliers
# are exact ints; divisions truncate like InfluxDB's integer epochs.
_EPOCH_FROM_MS = {"ns": 1_000_000, "u": 1_000, "µ": 1_000}
_EPOCH_DIV_MS = {"s": 1_000, "m": 60_000, "h": 3_600_000}


def _apply_epoch(envelope: dict, epoch: str | None) -> dict:
    if epoch is None or epoch == "ms":
        return envelope
    mul = _EPOCH_FROM_MS.get(epoch)
    div = _EPOCH_DIV_MS.get(epoch)
    if mul is None and div is None:
        return envelope  # unknown unit: ignore, like other bad params
    for res in envelope.get("results", []):
        for series in res.get("series", []):
            if not series.get("columns", [None])[0] == "time":
                continue
            for v in series.get("values", []):
                if v and isinstance(v[0], int):
                    v[0] = v[0] * mul if mul else v[0] // div
    return envelope


class _QuietHandler(WSGIRequestHandler):
    def log_message(self, *args: Any) -> None:  # no per-request stderr spam
        pass


def serve(spark: SparkSession, root: str, host: str = "127.0.0.1", port: int = 0):
    """Start a dev/test HTTP server; returns (server, app, bound_port).
    Run ``server.serve_forever()`` (e.g. in a thread). Requests are
    served serially; a threaded WSGI mount of ``CFluxApp`` still runs
    one writer per engine (``InfluxQLEngine.write_lock``)."""
    app = CFluxApp(spark, root)
    server = make_server(host, port, app, server_class=WSGIServer, handler_class=_QuietHandler)
    return server, app, server.server_port

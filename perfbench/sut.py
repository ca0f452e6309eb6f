"""System under test for the benchmark, run in its own process.

Starts a Spark session, serves the engine's InfluxDB-compatible HTTP
edge (``cflux_spark.api.http.serve``) over a fresh store root, and adds
two benchmark-only routes beside it:

- ``POST /bench/curate`` runs one corpus-curation batch job through the
  library entry points (``dedup.minhash_lsh_pairs`` → ``dedup_clusters``
  → ``keep_canonical`` → ``pipeline.curate_corpus``) and writes parquet;
- ``POST /bench/shutdown`` stops serving; the process then stops Spark
  and exits.

Every other request goes to the engine's own WSGI app unchanged. With
``--trace`` the public functions of each layer are wrapped in spans and
each request's Spark jobs carry the request id as their job group.

    python3 perfbench/sut.py --root STORE_DIR --work WORK_DIR [--trace]

It prints one JSON line ``{"port": ..., "session_start_ms": ...}`` once
it is listening.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CANDIDATE_MIN_JACCARD = 0.5


def curate(spark, req: dict) -> dict:
    from pyspark.sql import functions as F

    from cflux_spark.extensions import dedup, pipeline

    docs = spark.read.parquet(req["corpus"])
    bench = spark.read.parquet(req["bench"])
    cand = dedup.minhash_lsh_pairs(docs).cache()
    n_cand = cand.count()
    pairs = cand.filter(F.col("est_jaccard") >= CANDIDATE_MIN_JACCARD)
    # the cluster labels are a stage output of their own: written, then
    # read back by the keep-one-per-cluster and export stages
    dedup.dedup_clusters(docs, pairs=pairs).write.mode("overwrite").parquet(
        req["out"] + "/clusters")
    cand.unpersist()
    clusters = spark.read.parquet(req["out"] + "/clusters")
    kept = dedup.keep_canonical(docs, clusters).drop("cluster_id")
    out = pipeline.curate_corpus(kept, bench)
    out.select("doc_id", "shard").write.mode("overwrite").parquet(req["out"] + "/kept")
    return {"candidate_pairs": n_cand}


class BenchApp:
    """WSGI wrapper: benchmark routes, then the engine's app."""

    def __init__(self, app, spark, server, tracer=None):
        self.app = app
        self.spark = spark
        self.server = server
        self.tracer = tracer

    def __call__(self, environ, start_response):
        rid = environ.get("HTTP_X_BENCH_ID")
        span = None
        if self.tracer is not None and rid:
            entered = time.time()
            self.spark.sparkContext.setJobGroup(rid, rid)
            attrs = {}
            sent = environ.get("HTTP_X_BENCH_SENT")
            if sent:
                attrs["queue_wait_ms"] = (entered - float(sent)) * 1000
            span = self.tracer.begin("api", rid=rid, **attrs)
        try:
            return self._route(environ, start_response)
        finally:
            if self.tracer is not None:
                self.tracer.end(span)

    def _route(self, environ, start_response):
        path = environ.get("PATH_INFO", "")
        if path == "/bench/shutdown":
            threading.Thread(target=self.server.shutdown).start()
            return _json(start_response, {})
        if path == "/bench/curate":
            length = int(environ.get("CONTENT_LENGTH") or 0)
            req = json.loads(environ["wsgi.input"].read(length))
            return _json(start_response, curate(self.spark, req))
        return self.app(environ, start_response)


def _json(start_response, obj) -> list[bytes]:
    body = json.dumps(obj).encode()
    start_response("200 OK", [("Content-Type", "application/json"),
                              ("Content-Length", str(len(body)))])
    return [body]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", required=True, help="store root (created fresh)")
    ap.add_argument("--work", required=True, help="directory for the span file")
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    from cflux_spark.api.http import serve
    from cflux_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    session_start_ms = (time.time() - t0) * 1000
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer, install_layer_spans

        tracer = Tracer()
        install_layer_spans(tracer)
    server, app, port = serve(spark, args.root)
    server.set_app(BenchApp(app, spark, server, tracer))
    print(json.dumps({"port": port, "session_start_ms": session_start_ms}), flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()
        if tracer is not None:
            tracer.dump(os.path.join(args.work, "spans.json"))
        spark.stop()


if __name__ == "__main__":
    main()

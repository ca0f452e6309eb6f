"""Traced-run plumbing.

Two halves:

- ``Tracer`` runs inside the system-under-test process. It wraps public
  functions of the engine's layers so each call records a span
  (name, start, end, parent, request id), keeps the spans in memory and
  writes them out once, at exit.
- ``span_metrics`` and ``eventlog_metrics`` run in the load generator
  after the system under test has exited. They turn the span file and
  Spark's event log (tagged by job group = request id) into per-layer
  numbers.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, rid: str | None = None, **attrs) -> dict | None:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is not None and parent["name"] == name:
            return None  # re-entrant call (e.g. nested parse): keep the outer span
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        span = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(span)
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording a ``name`` span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def install_layer_spans(tracer: Tracer) -> None:
    """Spans around the public entry points of each engine layer."""
    from pyspark.sql import readwriter
    from pyspark.sql.classic import dataframe as classic_df

    from cflux_spark.extensions import dedup, pipeline
    from cflux_spark.plans import influxql
    from cflux_spark.sources import ingest

    tracer.wrap(influxql.InfluxQLEngine, "execute", "influxql.execute")
    tracer.wrap(influxql, "parse_select", "influxql.parse")
    tracer.wrap(ingest.LPStore, "write_batch", "ingest.write_batch")
    tracer.wrap(ingest.LPStore, "read_registry_raw", "ingest.read_registry")
    tracer.wrap(ingest.LPStore, "read_samples", "ingest.read_samples")
    for fn in ("minhash_lsh_pairs", "dedup_clusters"):
        tracer.wrap(dedup, fn, f"extensions.{fn}")
    tracer.wrap(pipeline, "curate_corpus", "extensions.curate_corpus")
    for action in ("collect", "toPandas", "count", "toLocalIterator", "take", "first", "head",
                   "isEmpty"):
        tracer.wrap(classic_df.DataFrame, action, "action")
    tracer.wrap(readwriter.DataFrameWriter, "parquet", "action")


# ------------------------------------------------------------ generator side


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time in ms: its duration minus the part of it that
    its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) * 1000 - _union_ms(children[s["id"]])
        for s in spans
    }


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def span_metrics(spans: list[dict], measured: set[str]) -> dict[str, float]:
    """Per-layer span numbers over the measured requests: for each span
    name the median per request of its total time and of its self time
    (``<name>_ms`` and ``<name>.self_ms``)."""
    spans = [s for s in spans if s["rid"] in measured and s["end"] is not None]
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    total = defaultdict(lambda: defaultdict(float))
    own = defaultdict(lambda: defaultdict(float))
    under_execute = defaultdict(float)
    for s in spans:
        total[s["name"]][s["rid"]] += (s["end"] - s["start"]) * 1000
        own[s["name"]][s["rid"]] += selfs[s["id"]]
        if s["name"] == "action":
            p = by_id.get(s["parent"])
            while p is not None and p["name"] != "influxql.execute":
                p = by_id.get(p["parent"])
            if p is not None:
                under_execute[s["rid"]] += (s["end"] - s["start"]) * 1000
    out = {}
    for name in total:
        out[f"{name}_ms"] = _median(total[name].values())
        out[f"{name}.self_ms"] = _median(own[name].values())
    queries = [r for r in total.get("influxql.execute", {})]
    out["influxql.action_ms"] = _median(under_execute[r] for r in queries)
    # app entry → write_batch entry: body decode, createDataFrame, lock
    api_start = {s["rid"]: s["start"] for s in spans if s["name"] == "api"}
    prep = [(s["start"] - api_start[s["rid"]]) * 1000 for s in spans
            if s["name"] == "ingest.write_batch" and s["rid"] in api_start]
    out["api.write_prep_ms"] = _median(prep)
    waits = [s["queue_wait_ms"] for s in spans if s["name"] == "api" and "queue_wait_ms" in s]
    out["api.queue_wait_ms"] = _median(waits)
    return out


def _scopes(stage_info: dict) -> set[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope).get("name", ""))
            except ValueError:
                pass
        names.add(rdd.get("Name", ""))
    return names


_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "PythonUDF")


def _count_nodes(plan: dict, prefix: str) -> int:
    n = 1 if plan.get("nodeName", "").startswith(prefix) else 0
    return n + sum(_count_nodes(c, prefix) for c in plan.get("children", []))


def eventlog_metrics(eventlog_dir: str, group_kind) -> dict[str, dict[str, float]]:
    """Aggregate Spark's event log per job group. ``group_kind`` maps a
    job group id to a kind name (or None to skip the group). Returns
    kind → totals and per-request counts."""
    # one file per application, or a directory of rolled "events_*" files
    files = sorted(p for p in glob.glob(os.path.join(eventlog_dir, "**"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    job_group: dict[int, str] = {}
    job_exec: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    stage_python: set[int] = set()
    exec_plan: dict[str, dict] = {}
    tasks = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    gid = props.get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    job_group[ev["Job ID"]] = gid
                    if props.get("spark.sql.execution.id") is not None:
                        job_exec[ev["Job ID"]] = props["spark.sql.execution.id"]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    stage_submit[sid] = info.get("Submission Time") or 0
                    if any(n in s for s in _scopes(info) for n in _PYTHON_NODES):
                        stage_python.add(sid)
                elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                    exec_plan[str(ev["executionId"])] = ev.get("sparkPlanInfo") or {}
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    groups: dict[str, set[str]] = defaultdict(set)
    group_jobs: dict[str, set[int]] = defaultdict(set)
    for job, gid in job_group.items():
        k = group_kind(gid)
        if k is None:
            continue
        groups[k].add(gid)
        group_jobs[gid].add(job)
        out[k]["jobs"] += 1
    for sid, job in stage_job.items():
        k = group_kind(job_group.get(job, ""))
        if k is not None:
            out[k]["stages"] += 1
    delays = defaultdict(list)
    for ev in tasks:
        sid = ev["Stage ID"]
        k = group_kind(job_group.get(stage_job.get(sid, -1), ""))
        if k is None:
            continue
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        o = out[k]
        o["tasks"] += 1
        run_ms = m.get("Executor Run Time", 0)
        o["gc_ms"] += m.get("JVM GC Time", 0)
        o["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        o["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        if sid in stage_python:
            o["python_stage_ms"] += run_ms
        if stage_submit.get(sid):
            delays[k].append(info.get("Launch Time", 0) - stage_submit[sid])
    for k, gids in groups.items():
        execs = {job_exec[j] for g in gids for j in group_jobs[g] if j in job_exec}
        out[k]["exchanges"] = sum(_count_nodes(exec_plan.get(e, {}), "Exchange") for e in execs)
        out[k]["requests"] = len(gids)
        out[k]["scheduler_delay_ms"] = statistics.mean(delays[k]) if delays[k] else 0.0
    return {k: dict(v) for k, v in out.items()}

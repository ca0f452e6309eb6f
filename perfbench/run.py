"""Benchmark launcher and load generator for cflux_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It starts the system under test
(``perfbench/sut.py``: the engine's HTTP edge over a fresh store) in its
own process, drives one seeded workload over real HTTP from this single
process, checks every answer, stops the system under test and prints
one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the system under test records spans and Spark's event
log, and the metrics are the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import http.client
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
RESULTS = os.path.join(ROOT, ".bench_work", "results")
LINES_PER_BODY = 1000
# Every run times the same requests against the same store growth, so a
# faster engine is not handed more (and later, larger-store) passes.
# ``--seconds`` is only a floor: whole passes are added while it has not
# passed, which a pass of several seconds never lets happen.
TIMED_PASSES = 2
TIMED_JOBS = 2
# The engine keeps getting faster for minutes as the JIT compiles its hot
# paths: over eight passes of the mixed script in one session each pass
# ran faster than the one before, 60% faster by the last. A run that
# times the steep part of that curve measures how much CPU the JIT got,
# so set-up runs a whole pass first (more would not fit the time a run
# has). A curation job is some 50 Spark jobs, so one job does as much
# warming as several passes; the first also spends 20-30 s in codegen and
# Python worker start-up.
WARMUP_PASSES = 1
WARMUP_JOBS = 1
CURATION_DOCS = 1200
CURATION_FAMILIES = 60
CURATION_CONTAMINATED = 24
CURATION_RECALL_FLOOR = 0.9
REQUEST_TIMEOUT_S = 120
# The engine's default driver heap is 8 GB. With it, the tree under test
# reached 8.0 GB of memory on a curation run and 3.7 GB on the next seed,
# on a 16 GB machine shared with other work: the JVM grows its heap
# lazily, so the peak tracks garbage-collection timing, not the work. Every
# workload here fits in 2 GB.
DRIVER_HEAP = "2g"


class Failure(Exception):
    pass


# ------------------------------------------------------------ environment


def md5_gbps(nbytes: int = 64 << 20) -> float:
    buf = b"\x5a" * nbytes
    t = time.perf_counter()
    hashlib.md5(buf).digest()
    return nbytes / (time.perf_counter() - t) / 1e9


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``before``: on a shared VM the main source of run-to-run noise."""
    d = [b - a for a, b in zip(before, cpu_ticks())]
    return 100 * d[7] / sum(d) if sum(d) else 0.0


def source_hash() -> str:
    """SHA-1 over the engine's and the benchmark's Python sources."""
    h = hashlib.sha1()
    for top in ("cflux_spark", "perfbench"):
        for base, _dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(base, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def environment(seed: int) -> dict:
    commit = "unknown"  # a source checkout without git history
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    # best of two single-thread passes: a one-off stall must not lower it
    return {
        "nproc": NPROC, "loadavg": [float(x) for x in load], "commit": commit,
        "source_sha1": source_hash(), "seed": seed,
        "md5_single_thread_gbps": max(md5_gbps(), md5_gbps()),
    }


# ------------------------------------------------------------ process under test


def _procs(field: int, value: int) -> list[int]:
    """Live pids whose /proc stat ``field`` (after the command name)
    equals ``value``: 1 is the parent pid, 2 the process group."""
    found = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if rest[0] != "Z" and int(rest[field]) == value:
                found.append(int(name))
    return found


def _children(pid: int) -> list[int]:
    return _procs(1, pid)


def _group_members(pgid: int) -> list[int]:
    return _procs(2, pgid)


def tree_pss_mb(pid: int) -> float:
    """Resident memory of the process tree under test (driver, JVM and
    Python workers) now: the sum of each process's Pss, which splits a
    page shared by forked workers among them instead of counting it in
    each."""
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
        todo.extend(_children(p))
    return total_kb / 1024


class MemorySampler(threading.Thread):
    """Samples the tree's memory every ``period`` seconds from start-up
    until stopped, as (time, MB) pairs."""

    def __init__(self, pid: int, period: float = 0.25):
        super().__init__(daemon=True)
        self.pid = pid
        self.period = period
        self.samples: list[tuple[float, float]] = []
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.samples.append((time.time(), tree_pss_mb(self.pid)))
            self._done.wait(self.period)

    def stop(self) -> None:
        self._done.set()
        self.join()

    def peak(self) -> tuple[float, float]:
        """The largest sample, and when it was taken in seconds after
        start-up."""
        mb, t = max((mb, t) for t, mb in self.samples)
        return mb, t - self.samples[0][0]


class SystemUnderTest:
    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.store = os.path.join(work, "store")
        self.eventlog = os.path.join(work, "eventlog")
        self.proc = None
        self.port = None
        self.session_start_ms = 0.0

    def start(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        for d in (self.store, tmp, self.eventlog):
            os.makedirs(d, exist_ok=True)
        conf = [os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""), "spark.ui.showConsoleProgress=false"]
        if self.trace:
            conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                     f"spark.eventLog.dir=file://{self.eventlog}"]
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(NPROC),
            "SPARK_DRIVER_MEM": DRIVER_HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_GRAFT_EXTRA_CONF": ";".join(c for c in conf if c),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        })
        cmd = [sys.executable, os.path.join(HERE, "sut.py"), "--root", self.store,
               "--work", self.work] + (["--trace"] if self.trace else [])
        self.log = open(os.path.join(self.work, "sut.log"), "wb")
        self.proc = subprocess.Popen(cmd, cwd=self.work, env=env, stdout=subprocess.PIPE,
                                     stderr=self.log, start_new_session=True)
        self.memory = MemorySampler(self.proc.pid)
        self.memory.start()
        line = self.proc.stdout.readline()
        if not line:
            raise Failure("system under test exited before listening; see sut.log")
        hello = json.loads(line)
        self.port = hello["port"]
        self.session_start_ms = hello["session_start_ms"]
        status, _ = self.request("GET", "/ping")
        if status != 204:
            raise Failure(f"/ping answered {status}")

    def request(self, method: str, path: str, body: bytes | None = None,
                rid: str | None = None) -> tuple[int, bytes]:
        hdrs = {}
        if rid is not None:
            hdrs["X-Bench-Id"] = rid
            hdrs["X-Bench-Sent"] = repr(time.time())
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
        try:
            conn.request(method, path, body=body, headers=hdrs)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def stop(self) -> None:
        if self.proc is None:
            return
        self.memory.stop()
        if self.proc.poll() is None and self.port is not None:
            try:
                self.request("POST", "/bench/shutdown")
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired, http.client.HTTPException):
                pass
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, signal.SIGTERM)
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, signal.SIGKILL)
                self.proc.wait()
        # the JVM and Python workers are in the same process group; make
        # sure none outlives the run
        deadline = time.time() + 30
        while _group_members(self.proc.pid) and time.time() < deadline:
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.2)
        self.proc.stdout.close()
        self.log.close()


# ------------------------------------------------------------ load


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least 10 samples beyond it."""
    return max(0, min(99, math.floor(100 * (1 - 10 / n)))) if n >= 20 else 0


def quantile(xs: list[float], pct: int) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, math.ceil(pct / 100 * len(xs)) - 1))]


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        # the engine rounds aggregates to 6 decimals
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_series(got: list[dict], want: list[dict]) -> str | None:
    """None when the answer matches, else what differs."""
    if len(got) != len(want):
        return f"{len(got)} series, expected {len(want)}"
    for g, w in zip(got, want):
        for key in ("name", "columns"):
            if g.get(key) != w.get(key):
                return f"{key} {g.get(key)!r} != {w.get(key)!r}"
        if (g.get("tags") or None) != (w.get("tags") or None):
            return f"tags {g.get('tags')!r} != {w.get('tags')!r}"
        gv, wv = g.get("values", []), w.get("values", [])
        if len(gv) != len(wv):
            return f"{g.get('tags')}: {len(gv)} rows, expected {len(wv)}"
        for gr, wr in zip(gv, wv):
            if len(gr) != len(wr) or not all(close(a, b) for a, b in zip(gr, wr)):
                return f"row {gr!r} != {wr!r}"
    return None


class Workload:
    name = ""

    def __init__(self, sut: SystemUnderTest, seed: int, seconds: float):
        self.sut = sut
        self.seed = seed
        self.seconds = seconds
        self.ops: list[dict] = []  # the timed phase's operations
        self.failures: list[str] = []
        self.checks = 0
        self.passes = 0  # timed passes (script passes or jobs) started
        self.extra: dict = {}

    def prepare(self) -> None:
        """Generate inputs (before the system under test starts)."""

    def setup(self) -> None:
        """Preload and warm up (counted in setup_s)."""

    def measure(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Checks after the timed phase (the system under test still runs)."""

    def add(self, op: dict) -> None:
        self.ops.append(op)
        if op["error"]:
            self.failures.append(op["error"])

    def measured_ops(self) -> list[dict]:
        return [op for op in self.ops if not op["error"]]

    def summary(self) -> dict:
        ops = self.measured_ops()
        if not ops:
            raise Failure("no operation completed in the timed phase")
        lat = [op["ms"] for op in ops]
        pct = tail_percentile(len(lat))
        by_name: dict[str, list[float]] = {}
        by_pass: dict[int, list[dict]] = {}
        for op in ops:
            by_name.setdefault(op["name"], []).append(op["ms"])
            by_pass.setdefault(op["pass"], []).append(op)
        # On a shared VM a burst of stolen CPU slows whatever runs during
        # it; the fastest of a type's timings is the one it spared.
        fastest = {k: min(v) for k, v in sorted(by_name.items())}
        pass_rates = [sum(op["work"] for op in p)
                      / (max(op["end"] for op in p) - min(op["start"] for op in p))
                      for p in by_pass.values()]
        return {
            # The median over all requests falls where fast and slow request
            # types meet and jumps between them from run to run; a geometric
            # mean over the types weighs every type alike.
            "op_ms": statistics.geometric_mean(fastest.values()),
            "op_fastest_ms": fastest,
            "op_p50_ms": statistics.median(lat),
            "work_per_s": max(pass_rates),
            "pass_work_per_s": pass_rates,
            "tail_pct": pct,
            "tail_ms": quantile(lat, pct) if pct else None,
            "samples": len(lat),
        }


class Mixed(Workload):
    """One closed-loop client on a preloaded store, replaying a script in
    which a Telegraf agent flushes a 1000-line body, a Grafana-like panel
    set refreshes, and a count checks the rows written so far."""

    name = "mixed"
    db = "metrics"

    def prepare(self) -> None:
        self.lines = gen.dashboard_lines(self.seed)
        self.preload_rows = sum(map(gen.field_rows, self.lines))
        panels = gen.dashboard_statements(self.seed)
        self.expected = gen.dashboard_expected(self.seed, self.lines)
        self.expected["written_count"] = None  # checked against acknowledged writes
        count = ("written_count",
                 f"SELECT count(usage_user) FROM cpu WHERE time >= {gen.DASH_END_NS}")
        self.script = [("write", None)] + panels + [count]
        agent = gen.TelegrafAgent(self.seed + 1, range(gen.N_HOSTS), gen.DASH_END_NS)
        self.bodies = gen.bodies(agent, LINES_PER_BODY)
        self.acked_rows = 0
        self.acked_cpu_lines = 0
        self.lp_bytes = 0
        self.writes_done = 0
        self.k = 0  # request counter, for unique request ids

    def _write(self, rid: str) -> tuple[str | None, dict]:
        body, n_lines, rows = next(self.bodies)
        try:
            status, text = self.sut.request("POST", f"/write?db={self.db}", body, rid=rid)
        except (OSError, http.client.HTTPException) as exc:
            return f"/write: {exc!r}", {}
        if status != 204:
            return f"/write {status}: {text[:200]!r}", {}
        self.writes_done += 1
        self.acked_rows += rows
        self.acked_cpu_lines += body.count(b"\ncpu,") + body.startswith(b"cpu,")
        self.lp_bytes += len(body)
        return None, {"lines": n_lines, "rows": rows}

    def _query(self, name: str, stmt: str, rid: str) -> tuple[str | None, dict]:
        path = f"/query?db={self.db}&q=" + urllib.parse.quote(stmt)
        try:
            status, text = self.sut.request("GET", path, rid=rid)
        except (OSError, http.client.HTTPException) as exc:
            return f"{name}: {exc!r}", {}
        if status != 200:
            return f"{name}: status {status}: {text[:200]!r}", {}
        res = json.loads(text)["results"][0]
        if "error" in res:
            return f"{name}: {res['error']}", {}
        series = res.get("series", [])
        if name == "written_count":
            # the engine answers a bare aggregate per minute bucket: add them up
            got = sum(v[1] for s in series for v in s["values"])
            diff = (None if got == self.acked_cpu_lines
                    else f"count {got}, acknowledged {self.acked_cpu_lines}")
        else:
            diff = same_series(series, self.expected[name])
        rows = sum(len(s.get("values", [])) for s in series)
        return (f"{name}: {diff}" if diff else None), {"rows": rows}

    def step(self, name: str, stmt: str | None, rid_prefix: str) -> dict:
        kind = "write" if name == "write" else "query"
        rid = f"{rid_prefix}-{kind}-{self.k}"
        self.k += 1
        t = time.time()
        if kind == "write":
            err, info = self._write(rid)
        else:
            err, info = self._query(name, stmt, rid)
        end = time.time()
        return {"rid": rid, "kind": kind, "name": name, "ms": (end - t) * 1000, "start": t,
                "end": end, "pass": self.passes, "work": 1, "error": err, **info}

    def setup(self) -> None:
        status, text = self.sut.request("POST", f"/write?db={self.db}",
                                        "\n".join(self.lines).encode(), rid="w-preload")
        if status != 204:
            self.failures.append(f"preload {status}: {text[:200]!r}")
        self.writes_done += 1
        for _ in range(WARMUP_PASSES):
            for name, stmt in self.script:
                op = self.step(name, stmt, "w")
                self.checks += 1
                if op["error"]:
                    self.failures.append("warm-up " + op["error"])
        self.series_before = self._registry_rows()

    def measure(self) -> None:
        deadline = time.time() + self.seconds
        while self.passes < TIMED_PASSES or time.time() < deadline:
            for name, stmt in self.script:
                self.add(self.step(name, stmt, "m"))
            self.passes += 1

    def _registry_rows(self) -> int:
        import duckdb

        path = os.path.join(self.sut.store, self.db, "time_series", "*.parquet")
        with duckdb.connect() as con:
            return con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]

    def check(self) -> None:
        """Every acknowledged row is on disk: a recount with DuckDB over
        the store's parquet files, outside the engine's process."""
        import duckdb

        path = os.path.join(self.sut.store, self.db, "samples", "**", "*.parquet")
        with duckdb.connect() as con:
            stored = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        self.checks += 1
        expected = self.preload_rows + self.acked_rows
        if stored != expected:
            self.failures.append(f"recount: {stored} rows stored, {expected} acknowledged")
        store_bytes = sum(os.path.getsize(os.path.join(b, f))
                          for b, _, fs in os.walk(os.path.join(self.sut.store, self.db))
                          for f in fs)
        ops = self.measured_ops()
        self.extra.update({
            "rows_stored": stored,
            "new_series": self._registry_rows() - self.series_before,
            "store_bytes_per_lp_byte": store_bytes / (self.lp_bytes + len("\n".join(self.lines))),
            "write_p50_ms": _op_median([o for o in ops if o["kind"] == "write"], "ms"),
            "query_p50_ms": _op_median([o for o in ops if o["kind"] == "query"], "ms"),
            "lines_in": sum(o.get("lines", 0) for o in ops),
            "rows_in": sum(o.get("rows", 0) for o in ops if o["kind"] == "write"),
            "rows_returned": sum(o.get("rows", 0) for o in ops if o["kind"] == "query"),
        })


class Curation(Workload):
    """A long-running session that runs corpus-curation batch jobs one
    after another, as new crawl shards arrive."""

    name = "curation"

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        c = gen.corpus(self.seed, CURATION_DOCS, CURATION_FAMILIES, CURATION_CONTAMINATED)
        self.corpus = c
        self.planted = gen.planted_pairs(c["families"])
        self.paths = {"corpus": os.path.join(self.sut.work, "corpus.parquet"),
                      "bench": os.path.join(self.sut.work, "bench.parquet")}
        doc_id, text, n_chars = zip(*c["docs"])
        pq.write_table(pa.table({"doc_id": pa.array(doc_id, pa.int64()), "text": text,
                                 "n_chars": pa.array(n_chars, pa.int64())}), self.paths["corpus"])
        bid, btext = zip(*c["bench"])
        pq.write_table(pa.table({"doc_id": pa.array(bid, pa.int64()), "text": btext}),
                       self.paths["bench"])
        # the kept set of an earlier run of the same sources with this seed
        earlier = previous_result("curation", self.seed)
        self.kept_digest = (earlier.get("kept_sha1")
                            if earlier.get("env", {}).get("source_sha1") == source_hash() else None)

    def _job(self, rid: str) -> tuple[str | None, dict]:
        import pyarrow.parquet as pq

        out = os.path.join(self.sut.work, rid)
        req = json.dumps({**self.paths, "out": out}).encode()
        try:
            status, text = self.sut.request("POST", "/bench/curate", req, rid=rid)
        except (OSError, http.client.HTTPException) as exc:
            return f"curate: {exc!r}", {}
        if status != 200:
            return f"curate: status {status}", {}
        stats = json.loads(text)
        kept = pq.read_table(out + "/kept").to_pydict()
        clusters = pq.read_table(out + "/clusters").to_pydict()
        shutil.rmtree(out)
        pairs = sorted(zip(kept["doc_id"], kept["shard"]))
        digest = hashlib.sha1(json.dumps(pairs).encode()).hexdigest()
        label = dict(zip(clusters["doc_id"], clusters["cluster_id"]))
        hit = sum(1 for a, b in self.planted if label.get(a) == label.get(b) is not None)
        stats.update({
            "planted_recall": hit / len(self.planted),
            "kept": len(pairs),
            "pairs_per_planted_pair": stats["candidate_pairs"] / len(self.planted),
            "kept_sha1": digest,
        })
        if self.kept_digest is None:
            self.kept_digest = digest
        leaked = set(self.corpus["contaminated"]) & set(kept["doc_id"])
        if digest != self.kept_digest:
            return "curate: kept set differs from an earlier job's with this seed", stats
        if stats["planted_recall"] < CURATION_RECALL_FLOOR:
            return f"curate: planted recall {stats['planted_recall']:.3f}", stats
        if leaked:
            return f"curate: {len(leaked)} contaminated documents kept", stats
        return None, stats

    def setup(self) -> None:
        for k in range(WARMUP_JOBS):
            err, _ = self._job(f"w-curate-{k}")
            self.checks += 1
            if err:
                self.failures.append("warm-up " + err)

    def measure(self) -> None:
        deadline = time.time() + self.seconds
        while self.passes < TIMED_JOBS or time.time() < deadline:
            rid = f"m-curate-{self.passes}"
            t = time.time()
            err, stats = self._job(rid)
            end = time.time()
            self.add({"rid": rid, "kind": "curate", "name": "curate", "ms": (end - t) * 1000,
                      "start": t, "end": end, "pass": self.passes, "work": CURATION_DOCS,
                      "error": err, **stats})
            self.passes += 1
        self.extra["kept_sha1"] = self.kept_digest


WORKLOADS = {w.name: w for w in (Mixed, Curation)}


def results_path(workload: str, seed: int, traced: bool) -> str:
    return os.path.join(RESULTS, f"{workload}-s{seed}-t{int(traced)}.json")


def previous_result(workload: str, seed: int, traced: bool = False) -> dict:
    try:
        with open(results_path(workload, seed, traced)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _op_median(ops, key) -> float:
    vals = [op[key] for op in ops if key in op]
    return statistics.median(vals) if vals else 0.0


# ------------------------------------------------------------ traced run


def layer_metrics(w: Workload, sut: SystemUnderTest) -> dict[str, float]:
    """Per-layer numbers of a traced run. Layers a workload does not
    enter read 0."""
    from perfbench import trace

    with open(os.path.join(sut.work, "spans.json")) as f:
        spans = json.load(f)
    sp = trace.span_metrics(spans, {op["rid"] for op in w.ops})
    ev = trace.eventlog_metrics(
        sut.eventlog, lambda gid: gid.split("-")[1] if gid.startswith("m-") else None)
    q, wr, cu = ev.get("query", {}), ev.get("write", {}), ev.get("curate", {})

    def per(d, key):
        return d.get(key, 0) / d["requests"] if d.get("requests") else 0.0

    ops = w.measured_ops()
    x = w.extra
    store = os.path.join(sut.store, getattr(w, "db", "none"))

    def parquet_files(sub):
        return sum(f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(store, sub))
                   for f in fs)

    sample_files, registry_files = parquet_files("samples"), parquet_files("time_series")
    rows_returned = x.get("rows_returned", 0)
    tasks = sum(d.get("tasks", 0) for d in ev.values())
    delays = [d["scheduler_delay_ms"] for d in ev.values() if d.get("tasks")]
    return {
        "api.requests": len(w.ops),
        "api.failed": len(w.failures),
        "api.busy_ms": sp.get("api_ms", 0.0),
        "api.self_ms": sp.get("api.self_ms", 0.0),
        "api.queue_wait_ms": sp.get("api.queue_wait_ms", 0.0),
        "api.write_prep_ms": sp.get("api.write_prep_ms", 0.0),
        "api.write_p50_ms": x.get("write_p50_ms", 0.0),
        "api.query_p50_ms": x.get("query_p50_ms", 0.0),
        "influxql.execute_ms": sp.get("influxql.execute_ms", 0.0),
        "influxql.self_ms": sp.get("influxql.execute.self_ms", 0.0),
        "influxql.parse_ms": sp.get("influxql.parse_ms", 0.0),
        "influxql.action_ms": sp.get("influxql.action_ms", 0.0),
        "influxql.jobs": per(q, "jobs"),
        "influxql.tasks": per(q, "tasks"),
        "influxql.rows_scanned_per_row_returned":
            q.get("records_read", 0) / rows_returned if rows_returned else 0.0,
        "operators.exchanges": per(q, "exchanges"),
        "operators.shuffle_bytes": per(q, "shuffle_bytes"),
        "ingest.write_batch_ms": sp.get("ingest.write_batch_ms", 0.0),
        "ingest.write_batch.self_ms": sp.get("ingest.write_batch.self_ms", 0.0),
        "ingest.registry_read_ms": sp.get("ingest.read_registry_ms", 0.0),
        "ingest.samples_read_ms": sp.get("ingest.read_samples_ms", 0.0),
        "ingest.jobs": per(wr, "jobs"),
        "ingest.stages": per(wr, "stages"),
        "ingest.tasks": per(wr, "tasks"),
        "ingest.shuffle_bytes": per(wr, "shuffle_bytes"),
        "ingest.new_series": x.get("new_series", 0),
        "ingest.sample_files": sample_files,
        "ingest.registry_files": registry_files,
        "ingest.files_per_write": ((sample_files + registry_files) / w.writes_done
                                   if getattr(w, "writes_done", 0) else 0.0),
        "ingest.store_bytes_per_lp_byte": x.get("store_bytes_per_lp_byte", 0.0),
        "lineprotocol.lines_in": x.get("lines_in", 0),
        "lineprotocol.rows_out": x.get("rows_in", 0),
        "lineprotocol.stage_ms": per(wr, "python_stage_ms"),
        "extensions.minhash_lsh_pairs_ms": sp.get("extensions.minhash_lsh_pairs_ms", 0.0),
        "extensions.dedup_clusters_ms": sp.get("extensions.dedup_clusters_ms", 0.0),
        "extensions.curate_corpus_ms": sp.get("extensions.curate_corpus_ms", 0.0),
        "extensions.action_ms": sp.get("action_ms", 0.0) if cu else 0.0,
        "extensions.candidate_pairs": _op_median(ops, "candidate_pairs"),
        "extensions.pairs_per_planted_pair": _op_median(ops, "pairs_per_planted_pair"),
        "extensions.planted_recall": _op_median(ops, "planted_recall"),
        "extensions.python_stage_ms": per(cu, "python_stage_ms"),
        "extensions.shuffle_bytes": per(cu, "shuffle_bytes"),
        "extensions.spill_bytes": per(cu, "spill_bytes"),
        "extensions.jobs": per(cu, "jobs"),
        "extensions.tasks": per(cu, "tasks"),
        "session.start_ms": sut.session_start_ms,
        "session.peak_rss_mb": sut.memory.peak()[0],
        "session.gc_ms": sum(d.get("gc_ms", 0) for d in ev.values()) / len(ops) if ops else 0.0,
        "session.scheduler_delay_ms": statistics.mean(delays) if delays else 0.0,
        "session.tasks": tasks / len(ops) if ops else 0.0,
    }


# ------------------------------------------------------------ main


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    env = environment(seed)
    ticks = cpu_ticks()
    sut = SystemUnderTest(work, traced)
    w = WORKLOADS[workload](sut, seed, seconds)
    try:
        w.prepare()
        t0 = time.time()
        sut.start()
        w.setup()
        setup_s = time.time() - t0
        t_timed = time.time()
        w.measure()
        sut.memory.stop()
        summary = w.summary()
        # The peak caught short spikes: on curation it ranged from 2.1 to
        # 4.4 GB over seeds of the same code. The median over the timed
        # phase is the memory the work holds.
        summary["rss_mb"] = statistics.median(
            mb for t, mb in sut.memory.samples if t >= t_timed)
        summary["peak_rss_mb"], summary["peak_rss_at_s"] = sut.memory.peak()
        w.check()
        summary["setup_s"] = setup_s
    finally:
        sut.stop()
    env["cpu_steal_pct"] = steal_pct(ticks)
    failures = w.failures
    attempted = len(w.ops) + w.checks
    record = {"workload": workload, "trace": traced, "env": env, **summary, **w.extra,
              "attempted": attempted, "failed": len(failures),
              "failed_frac": len(failures) / attempted, "failures": failures[:20]}
    if traced:
        record["layers"] = layer_metrics(w, sut)
    shutil.rmtree(work, ignore_errors=True)
    with open(results_path(workload, seed, traced), "w") as f:
        json.dump(record, f, indent=1)
    return record


def result_line(spec: dict, rec: dict, traced: bool) -> dict:
    """The last stdout line: the per-layer metrics of a traced run, else
    the end-to-end ones, each with its unit from BENCHMARK.json."""
    if traced:
        metrics = {m["name"]: {"value": rec["layers"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": rec[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the system under test (run's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "cflux_spark", "api", "http.py")):
        print("cflux_spark is not next to perfbench/: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rec = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({k: v for k, v in rec.items() if k not in ("layers", "failures")}),
          flush=True)
    for msg in rec["failures"]:
        print("FAILED:", msg, flush=True)
    if args.trace:
        untraced = previous_result(args.workload, args.seed)
        if untraced:
            print("tracing overhead (traced - untraced): " + json.dumps(
                {m["name"]: rec[m["name"]] - untraced[m["name"]] for m in spec["end_to_end"]}),
                flush=True)
    print(json.dumps(result_line(spec, rec, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

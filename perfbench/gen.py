"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical line-protocol bodies, dashboard statements, expected
answers and curation corpus. Nothing in this module talks to the
system under test.
"""

from __future__ import annotations

import math
import random
from collections import defaultdict

NS = 1_000_000_000
INTERVAL_NS = 10 * NS  # Telegraf's default collection interval
N_HOSTS = 200
N_REGIONS = 4
CORES = ("cpu0", "cpu1", "cpu2", "cpu3", "cpu-total")
CPU_FIELDS = (
    "usage_user", "usage_system", "usage_idle", "usage_iowait", "usage_irq",
    "usage_softirq", "usage_steal", "usage_guest", "usage_guest_nice", "usage_nice",
)
MEM_FIELDS = ("total", "available", "used", "free", "used_percent", "available_percent")
DISK_PATHS = ("/", "/data")
DISK_FIELDS = ("total", "free", "used", "used_percent", "inodes_free")
NET_FIELDS = ("bytes_sent", "bytes_recv", "packets_sent", "packets_recv", "err_in", "err_out")
SYSTEM_FIELDS = ("load1", "load5", "load15", "n_cpus", "uptime")
CHURN_SHARE = 0.05  # lines that carry a never-seen-before `pod` tag

# The dashboard store spans midnight, so it has two date partitions.
DASH_MIDNIGHT_NS = 1_704_153_600 * NS  # 2024-01-02T00:00:00Z
DASH_START_NS = DASH_MIDNIGHT_NS - 10 * NS
DASH_INTERVALS = 3  # 30 s of data at 10 s
DASH_END_NS = DASH_START_NS + DASH_INTERVALS * INTERVAL_NS


def host_name(h: int) -> str:
    return f"host-{h:03d}"


def region_name(h: int) -> str:
    return f"r{h % N_REGIONS}"


def _num(x: float) -> str:
    return repr(round(x, 2))


class TelegrafAgent:
    """One Telegraf-like agent reporting the default system inputs
    (cpu per core + total, mem, disk, net, system) for a set of hosts.
    ``lines()`` yields line-protocol lines in timestamp order, one
    collection interval after another, forever."""

    def __init__(self, seed: int, hosts: range, start_ns: int, churn_base: int = 0):
        self.rng = random.Random(seed)
        self.hosts = hosts
        self.start_ns = start_ns
        self.churn = churn_base

    def _tags(self, h: int, extra: str = "") -> str:
        tags = f"host={host_name(h)}{extra},region={region_name(h)}"
        if self.rng.random() < CHURN_SHARE:
            self.churn += 1
            tags += f",pod=p{self.churn}"
        return tags

    def interval(self, k: int) -> list[str]:
        rng = self.rng
        ts = self.start_ns + k * INTERVAL_NS
        out = []
        for h in self.hosts:
            for core in CORES:
                vals = ",".join(f"{f}={_num(rng.uniform(0, 100))}" for f in CPU_FIELDS)
                out.append(f"cpu,{self._tags(h, ',cpu=' + core)} {vals} {ts}")
            vals = ",".join(f"{f}={_num(rng.uniform(0, 1e9))}" for f in MEM_FIELDS)
            out.append(f"mem,{self._tags(h)} {vals} {ts}")
            for path in DISK_PATHS:
                vals = ",".join(f"{f}={_num(rng.uniform(0, 1e11))}" for f in DISK_FIELDS)
                out.append(f"disk,{self._tags(h, ',path=' + path)} {vals} {ts}")
            vals = ",".join(f"{f}={_num(rng.uniform(0, 1e9))}" for f in NET_FIELDS)
            out.append(f"net,{self._tags(h, ',interface=eth0')} {vals} {ts}")
            vals = ",".join(f"{f}={_num(rng.uniform(0, 16))}" for f in SYSTEM_FIELDS)
            out.append(f"system,{self._tags(h)} {vals} {ts}")
        return out

    def lines(self):
        k = 0
        while True:
            yield from self.interval(k)
            k += 1


def field_rows(line: str) -> int:
    """Field rows one generated line fans out to (no escaped commas or
    spaces occur in generated lines)."""
    return line.split(" ")[1].count(",") + 1


def bodies(agent: TelegrafAgent, lines_per_body: int):
    """Bodies of ``lines_per_body`` lines (Telegraf's metric_batch_size
    is 1000) as (bytes, n_lines, n_field_rows), forever."""
    it = agent.lines()
    while True:
        chunk = [next(it) for _ in range(lines_per_body)]
        yield "\n".join(chunk).encode(), len(chunk), sum(map(field_rows, chunk))


# ------------------------------------------------------------ dashboard


def dashboard_lines(seed: int) -> list[str]:
    agent = TelegrafAgent(seed, range(N_HOSTS), DASH_START_NS)
    out: list[str] = []
    for k in range(DASH_INTERVALS):
        out.extend(agent.interval(k))
    return out


def cpu_points(lines: list[str]) -> list[tuple]:
    """(ts_ns, host, region, cpu, usage_user, usage_system) per cpu line."""
    pts = []
    for line in lines:
        if not line.startswith("cpu,"):
            continue
        head, fields, ts = line.split(" ")
        tags = dict(kv.split("=", 1) for kv in head.split(",")[1:])
        fv = dict(kv.split("=", 1) for kv in fields.split(","))
        pts.append((int(ts), tags["host"], tags["region"], tags["cpu"],
                    float(fv["usage_user"]), float(fv["usage_system"])))
    return pts


def _ms(ns: int) -> int:
    return ns // 1_000_000


def dashboard_statements(seed: int) -> list[tuple[str, str]]:
    """The fixed Grafana-like panel set, with seeded tag choices and
    absolute time ranges inside the preloaded data. (name, statement)."""
    rng = random.Random(seed + 7)
    a, b = DASH_START_NS, DASH_END_NS
    rng_t = f"time >= {a} AND time < {b}"
    region = region_name(rng.randrange(N_REGIONS))
    host = host_name(rng.randrange(N_HOSTS))
    thr = rng.choice((90, 92, 94))
    return [
        ("mean_1m", f"SELECT mean(usage_user) FROM cpu WHERE {rng_t} GROUP BY time(1m)"),
        ("region_10s_host",
         f"SELECT mean(usage_user) FROM cpu WHERE region = '{region}' AND {rng_t} "
         "GROUP BY time(10s), host"),
        ("max_mean_region",
         f"SELECT max(usage_user) AS max_user, mean(usage_system) AS mean_system FROM cpu "
         f"WHERE {rng_t} "
         "GROUP BY time(1m), region"),
        ("raw_host",
         f"SELECT usage_user, usage_system FROM cpu WHERE host = '{host}' "
         f"AND cpu = 'cpu-total' AND {rng_t} LIMIT 12"),
        ("having",
         "SELECT mean(max) FROM (SELECT max(usage_user) FROM cpu "
         f"WHERE {rng_t} GROUP BY time(1m), host) WHERE max > {thr} GROUP BY time(1m)"),
        ("tag_values", "SHOW TAG VALUES WITH KEY = host"),
        ("measurements", "SHOW MEASUREMENTS"),
        ("field_keys", "SHOW FIELD KEYS"),
    ]


def _buckets(a: int, b: int, width_ns: int) -> list[int]:
    return list(range(a - a % width_ns, b, width_ns))


def dashboard_expected(seed: int, lines: list[str]) -> dict[str, list[dict]]:
    """Recompute every dashboard answer from the generated points, in the
    shape of InfluxDB's ``series`` list (ms timestamps)."""
    stmts = dict(dashboard_statements(seed))
    pts = cpu_points(lines)
    minute = 60 * NS
    exp: dict[str, list[dict]] = {}

    def mean(xs):
        return math.fsum(xs) / len(xs)

    by_min = defaultdict(list)
    for ts, _h, _r, _c, u, _s in pts:
        by_min[ts - ts % minute].append(u)
    exp["mean_1m"] = [{
        "name": "cpu", "tags": None, "columns": ["time", "mean"],
        "values": [[_ms(t), mean(by_min[t])] for t in _buckets(DASH_START_NS, DASH_END_NS, minute)],
    }]

    region = stmts["region_10s_host"].split("region = '")[1].split("'")[0]
    by_host = defaultdict(lambda: defaultdict(list))
    for ts, h, r, _c, u, _s in pts:
        if r == region:
            by_host[h][ts - ts % INTERVAL_NS].append(u)
    exp["region_10s_host"] = [{
        "name": "cpu", "tags": {"host": h}, "columns": ["time", "mean"],
        "values": [[_ms(t), mean(by_host[h][t])]
                   for t in _buckets(DASH_START_NS, DASH_END_NS, INTERVAL_NS)],
    } for h in sorted(by_host)]

    by_reg = defaultdict(lambda: defaultdict(list))
    for ts, _h, r, _c, u, s in pts:
        by_reg[r][ts - ts % minute].append((u, s))
    exp["max_mean_region"] = [{
        "name": "cpu", "tags": {"region": r}, "columns": ["time", "max_user", "mean_system"],
        "values": [[_ms(t), max(u for u, _ in by_reg[r][t]), mean([s for _, s in by_reg[r][t]])]
                   for t in _buckets(DASH_START_NS, DASH_END_NS, minute)],
    } for r in sorted(by_reg)]

    host = stmts["raw_host"].split("host = '")[1].split("'")[0]
    raw = sorted((ts, u, s) for ts, h, _r, c, u, s in pts if h == host and c == "cpu-total")
    exp["raw_host"] = [{
        "name": "cpu", "tags": None, "columns": ["time", "usage_user", "usage_system"],
        "values": [[_ms(ts), u, s] for ts, u, s in raw[:12]],
    }]

    thr = float(stmts["having"].split("WHERE max > ")[1].split(" ")[0])
    hmax = defaultdict(lambda: float("-inf"))
    for ts, h, _r, _c, u, _s in pts:
        key = (ts - ts % minute, h)
        hmax[key] = max(hmax[key], u)
    kept = defaultdict(list)
    for (t, _h), m in hmax.items():
        if m > thr:
            kept[t].append(m)
    exp["having"] = [{
        "name": "cpu", "tags": None, "columns": ["time", "mean"],
        "values": [[_ms(t), mean(kept[t]) if kept[t] else None]
                   for t in _buckets(DASH_START_NS, DASH_END_NS, minute)],
    }]

    hosts = sorted({host_name(h) for h in range(N_HOSTS)})
    meas = sorted({line.split(",", 1)[0] for line in lines})
    exp["tag_values"] = [{"name": m, "columns": ["key", "value"],
                          "values": [["host", h] for h in hosts]} for m in meas]
    exp["measurements"] = [{"name": "measurements", "columns": ["name"],
                            "values": [[m] for m in meas]}]
    fields = {"cpu": CPU_FIELDS, "disk": DISK_FIELDS, "mem": MEM_FIELDS,
              "net": NET_FIELDS, "system": SYSTEM_FIELDS}
    exp["field_keys"] = [{"name": m, "columns": ["fieldKey", "fieldType"],
                          "values": [[f, "float"] for f in sorted(fields[m])]}
                         for m in meas]
    return exp


# ------------------------------------------------------------ curation

_SYLL = ("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "da", "fe", "go")


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def corpus(seed: int, n_docs: int, n_families: int, n_contaminated: int,
           n_bench: int = 20) -> dict:
    """A document corpus with planted near-duplicate families (each
    member is its base document with ~1% of tokens replaced, so MinHash-LSH
    finds every pair and each family is one clique), a planted
    subset that quotes a benchmark passage, and a few junk documents
    the quality gate drops. Returns doc rows (doc_id, text, n_chars),
    benchmark rows, the planted families and the contaminated ids."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 800)
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(vocab))]

    def text(n_tok: int) -> list[str]:
        return rng.choices(vocab, weights, k=n_tok)

    bench = [" ".join(text(40)) for _ in range(n_bench)]
    docs: list[list[str]] = []
    families: list[list[int]] = []
    for _ in range(n_families):
        base = text(rng.randint(80, 140))
        fam = []
        for _m in range(rng.randint(2, 5)):
            toks = list(base)
            for i in rng.sample(range(len(toks)), max(1, len(toks) // 100)):
                toks[i] = rng.choice(vocab)
            fam.append(len(docs))
            docs.append(toks)
        families.append(fam)
    while len(docs) < n_docs:
        docs.append(text(rng.randint(60, 140)))
    # junk: too short, or one word repeated
    for i in rng.sample(range(sum(map(len, families)), n_docs), n_docs // 50):
        docs[i] = text(5) if rng.random() < 0.5 else [vocab[3]] * 60
    contaminated = sorted(rng.sample(range(sum(map(len, families)), n_docs), n_contaminated))
    for i in contaminated:
        quote = bench[rng.randrange(n_bench)].split(" ")[:12]
        at = rng.randrange(len(docs[i]) + 1)
        docs[i] = docs[i][:at] + quote + docs[i][at:]
    # shuffle ids so families are not contiguous
    perm = list(range(len(docs)))
    rng.shuffle(perm)
    new_id = {old: new for new, old in enumerate(perm)}
    rows = [None] * len(docs)
    for old, toks in enumerate(docs):
        t = " ".join(toks)
        rows[new_id[old]] = (new_id[old], t, len(t))
    return {
        "docs": rows,
        "bench": [(i, t) for i, t in enumerate(bench)],
        "families": [sorted(new_id[d] for d in fam) for fam in families],
        "contaminated": sorted(new_id[d] for d in contaminated),
    }


def planted_pairs(families: list[list[int]]) -> list[tuple[int, int]]:
    return [(f[i], f[j]) for f in families for i in range(len(f)) for j in range(i + 1, len(f))]

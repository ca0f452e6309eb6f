"""The store's one commit protocol (``sources/commit.py``): a crash at
any rename or remove step of any store mutation leaves, after the next
open, the committed directory all-before or all-after and ``_commit/``
empty.

Each operation below changes one directory. An operation over several
partitions commits each partition on its own, so a crash between two of
them leaves some partitions before and some after."""

import os
import shutil
import sys
from datetime import date

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cflux_spark.extensions import dedup
from cflux_spark.sources.ingest import LPStore

DAY = 86_400 * 10**9
T0 = 1704067200 * 10**9  # 2024-01-01

LINES = [
    f"{m},host=h{j} v={d}.{j} {T0 + d * DAY + j * 10**9}"
    for d in range(3)
    for m in ("cpu", "mem")
    for j in range(2)
]


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _samples(s):
    return _rows(s.read_samples_or_empty())


def _registry(s):
    return _rows(s.read_registry_raw())


def _drop_series(s):
    fps = s.read_registry().filter("measurement = 'cpu'").select("fingerprint")
    return s.delete_series(fps)


#: operation → (protocol, path marker of the directory it commits,
#: run it on a store, state of the committed directory)
OPS = {
    "compact": ("replace", "date=", lambda s: s.compact(), _samples),
    "delete-rewrite": (
        "replace", "date=",
        lambda s: s.delete_where(measurement="cpu", lo_ns=T0 + 2 * DAY), _samples,
    ),
    "delete-drop": (
        "drop", "date=", lambda s: s.delete_where(lo_ns=T0, hi_ns=T0 + DAY), _samples,
    ),
    "retention": (
        "drop", "date=", lambda s: s.enforce_retention(1, now=date(2024, 1, 3)), _samples,
    ),
    "drop-series": ("replace", "time_series", _drop_series, _registry),
    "minhash-compact": (
        "replace", "signatures", lambda idx: idx.compact(), lambda idx: _rows(idx.signatures()),
    ),
}
STEPS = {
    "replace": [("rename", 1), ("rename", 2), ("rmtree", 1)],
    "drop": [("rename", 1), ("rmtree", 1)],
}
CASES = [
    pytest.param(op, kind, n, id=f"{op}-{kind}{n}")
    for op, (protocol, *_rest) in OPS.items()
    for kind, n in STEPS[protocol]
]


def _build(spark, op, path):
    if op == "minhash-compact":
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
        corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
        idx = dedup.MinHashIndex.build(spark, corpus, path)
        extra = spark.createDataFrame(
            [(2, "totally different words about columnar storage layouts " * 6)],
            "doc_id long, text string",
        )
        idx.append(extra)
        idx.append(extra)  # a replayed batch: compaction dedups it
        return idx
    store = LPStore(spark, path, db="s")
    for half in (LINES[::2], LINES[1::2]):  # two files per partition
        store.write_batch(spark.createDataFrame([(l,) for l in half], "line string"))
    return store


def _reopen(spark, op, path):
    if op == "minhash-compact":
        return dedup.MinHashIndex(spark, path)
    return LPStore(spark, path, db="s")


def _commit_dir(op, path):
    base = path if op == "minhash-compact" else os.path.join(path, "s")
    return os.path.join(base, "_commit")


@pytest.mark.parametrize("op,kind,n", CASES)
def test_fault_at_each_protocol_step(spark, tmp_path, monkeypatch, op, kind, n):
    """Inject an OSError at the ``n``-th ``kind`` step (rename or
    remove) on the operation's committed directory, then reopen: the
    directory reads as before or after the operation, and ``_commit/``
    is empty. An interrupted remove deletes one file before it fails."""
    _protocol, marker, run, state = OPS[op]
    path = str(tmp_path / "store")
    target = _build(spark, op, path)
    before = state(target)
    twin_path = str(tmp_path / "twin")
    shutil.copytree(path, twin_path)
    twin = _reopen(spark, op, twin_path)
    run(twin)
    after = state(_reopen(spark, op, twin_path))
    assert after != before or op == "compact"

    real = {"rename": os.rename, "replace": os.replace, "rmtree": shutil.rmtree}
    seen = {"rename": 0, "rmtree": 0}

    def injector(name):
        step = "rmtree" if name == "rmtree" else "rename"

        def fn(src, *args, **kwargs):
            if marker in str(src):
                seen[step] += 1
                if (step, seen[step]) == (kind, n):
                    if step == "rmtree":
                        for d, _dirs, files in os.walk(src):
                            for f in files:
                                os.remove(os.path.join(d, f))
                                raise OSError(f"injected crash in rmtree({src!r})")
                    raise OSError(f"injected crash at {step} {n} of {src!r}")
            return real[name](src, *args, **kwargs)

        return fn

    for name, mod in (("rename", os), ("replace", os), ("rmtree", shutil)):
        monkeypatch.setattr(mod, name, injector(name))
    with pytest.raises(OSError, match="injected crash"):
        run(target)
    monkeypatch.undo()

    assert state(_reopen(spark, op, path)) in (before, after)
    commit_dir = _commit_dir(op, path)
    assert not os.path.exists(commit_dir) or not os.listdir(commit_dir)


def test_engine_recovers_a_failed_commit_on_next_statement(spark, tmp_path, monkeypatch):
    """A DELETE whose swap-in fails leaves its partition moved aside;
    the engine's next statement reopens the store, whose recovery
    adopts the complete rewrite."""
    from cflux_spark.plans.influxql import InfluxQLEngine

    root = str(tmp_path / "store")
    _build(spark, "compact", root)
    eng = InfluxQLEngine(spark, root)
    q = "SELECT v FROM cpu WHERE time >= 0 GROUP BY host"
    before = eng.execute(q, db="s")
    real_rename = os.rename

    def failing_rename(src, dst, *a, **k):
        if os.path.join("_commit", "new") in str(src):
            raise OSError("injected failure of the swap-in")
        return real_rename(src, dst, *a, **k)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected failure"):
        eng.execute(f"DELETE FROM cpu WHERE host = 'h0' AND time < {T0 + DAY}", db="s")
    monkeypatch.undo()
    h0, h1 = before["results"][0]["series"]
    h0["values"] = h0["values"][1:]
    assert eng.execute(q, db="s") == {"results": [{"statement_id": 0, "series": [h0, h1]}]}

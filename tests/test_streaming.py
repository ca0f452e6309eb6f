"""Streaming ingest tests (ST1/ST2/ST4/ST5): file source → foreachBatch
→ facts+registry parquet, with checkpoint resume and subscription
mirroring."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cflux_spark.sources.ingest import LPStore
from cflux_spark.streaming.pipeline import StreamingIngest, file_line_source

BATCH1 = [
    "cpu,host=a user=0.1 1704067200000000000",
    "cpu,host=b user=0.2 1704067201000000000",
    "mem,host=a used=50 1704067200000000000",
]
BATCH2 = [
    "cpu,host=a user=0.3 1704067260000000000",
    "disk,host=a free=9 1704067260000000000",
]


def _write_lines(dir_path, name, lines):
    os.makedirs(dir_path, exist_ok=True)
    with open(os.path.join(dir_path, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_streaming_ingest_end_to_end(spark, tmp_path):
    src = str(tmp_path / "in")
    store = LPStore(spark, str(tmp_path / "store"), db="stream")
    mirrored = []
    ingest = StreamingIngest(
        store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        subscription_sink=lambda df: mirrored.extend(r.line for r in df.collect()),
    )

    _write_lines(src, "b1.lp", BATCH1)
    q = ingest.start(file_line_source(spark, src), available_now=True)
    q.awaitTermination(120)

    facts = store.read_samples()
    assert facts.count() == 3
    reg = store.read_registry()
    assert reg.count() == 3  # cpu.user×2 hosts + mem.used
    assert sorted(mirrored) == sorted(BATCH1)  # ST5 raw-body mirror

    # second batch: checkpoint resumes, only new file processed (ST2)
    _write_lines(src, "b2.lp", BATCH2)
    q2 = ingest.start(file_line_source(spark, src), available_now=True)
    q2.awaitTermination(120)

    assert store.read_samples().count() == 5
    reg2 = store.read_registry()
    # cpu,host=a user is NOT a new series; disk.free is → 3 + 1
    assert reg2.count() == 4
    names = sorted(r.name for r in reg2.collect())
    assert names == ["cpu.user", "cpu.user", "disk.free", "mem.used"]


def test_streaming_restart_no_reprocess(spark, tmp_path):
    """Restarting against the same checkpoint must not re-ingest old
    files (at-least-once upgrade over the reference's buffer loss)."""
    src = str(tmp_path / "in")
    store = LPStore(spark, str(tmp_path / "store"), db="stream")
    ingest = StreamingIngest(store, checkpoint_dir=str(tmp_path / "ckpt"))
    _write_lines(src, "b1.lp", BATCH1)
    ingest.start(file_line_source(spark, src), available_now=True).awaitTermination(120)
    n1 = store.read_samples().count()
    # restart with no new data
    ingest.start(file_line_source(spark, src), available_now=True).awaitTermination(120)
    assert store.read_samples().count() == n1


def test_compact_preserves_data(spark, tmp_path):
    """Compaction rewrites many small files into few, preserving rows."""
    store = LPStore(spark, str(tmp_path / "store"), db="c")
    for i in range(4):  # 4 appends -> many small files
        lines = spark.createDataFrame(
            [(f"m,host=h{j} v={i}.{j} 17040672{i:02d}000000000",) for j in range(5)],
            "line string",
        )
        store.write_batch(lines, collect_stats=False)
    import pathlib
    before_files = len(list(pathlib.Path(store.samples_path).rglob("*.parquet")))
    before = store.read_samples().orderBy("fingerprint", "ts_ns").collect()
    store.compact()
    after_files = len(list(pathlib.Path(store.samples_path).rglob("*.parquet")))
    after = store.read_samples().orderBy("fingerprint", "ts_ns").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    assert after_files < before_files


def test_backfill_write_mode(spark, tmp_path):
    """Backfill mode spreads a multi-date load across tasks and
    produces identical data to the micro-batch path."""
    lines_list = [
        (f"m,host=h{j} v={d}.{j} {(1704067200 + d * 86400) * 10**9}",)
        for d in range(6)  # several distinct dates
        for j in range(3)
    ]
    a = LPStore(spark, str(tmp_path / "a"), db="x")
    b = LPStore(spark, str(tmp_path / "b"), db="x")
    df = spark.createDataFrame(lines_list, "line string")
    a.write_batch(df, collect_stats=False)
    b.write_batch(df, collect_stats=False, backfill=True)
    ra = sorted(tuple(r) for r in a.read_samples().collect())
    rb = sorted(tuple(r) for r in b.read_samples().collect())
    assert ra == rb and len(ra) == len(lines_list)


def test_compact_crash_recovery(spark, tmp_path):
    """A crash at any point mid-compact leaves a state the next store
    construction repairs, with the data intact."""
    import pathlib
    import shutil

    root = str(tmp_path / "store")
    store = LPStore(spark, root, db="c")
    lines = spark.createDataFrame(
        [(f"m,host=h{j} v=1.{j} 1704067200000000000",) for j in range(5)], "line string"
    )
    store.write_batch(lines, collect_stats=False)
    expect = sorted(tuple(r) for r in store.read_samples().collect())

    new = os.path.join(root, "c", "_commit", "new", "samples")
    old = os.path.join(root, "c", "_commit", "old", "samples")
    # crash between rename-aside and swap-in: samples gone, old + new present
    shutil.copytree(store.samples_path, new)
    os.makedirs(os.path.dirname(old), exist_ok=True)
    pathlib.Path(store.samples_path).rename(old)
    recovered = LPStore(spark, root, db="c")  # __init__ runs recovery
    assert sorted(tuple(r) for r in recovered.read_samples().collect()) == expect
    assert not pathlib.Path(old).exists()
    assert not pathlib.Path(new).exists()

    # crash after swap-in, before cleanup: both samples and old present
    shutil.copytree(store.samples_path, old)
    recovered2 = LPStore(spark, root, db="c")
    assert sorted(tuple(r) for r in recovered2.read_samples().collect()) == expect
    assert not pathlib.Path(old).exists()


@pytest.mark.parametrize(
    "kind,fault", [("rewrite", "rmtree"), ("drop", "rmtree"), ("rewrite", "swap-in")]
)
def test_delete_crash_recovery(spark, tmp_path, monkeypatch, kind, fault):
    """A crash inside ``delete_where`` — an rmtree that deletes one
    file and fails, or a failed swap-in of the rewrite — leaves a state
    the next store construction repairs: the partition reads all of its
    rows from before the delete or all from after, never a part."""
    import shutil

    root = str(tmp_path / "store")
    store = LPStore(spark, root, db="d")
    for j in range(2):  # two writes: the one date partition holds two files
        lines = [(f"m,host=h{j}{k} v={j}.{k} {1704067200 + k}000000000",) for k in range(3)]
        store.write_batch(spark.createDataFrame(lines, "line string"), collect_stats=False)

    def rows(s):
        return sorted(tuple(r) for r in s.read_samples_or_empty().collect())

    before = rows(store)
    if kind == "rewrite":
        lo = 1704067201 * 10**9
        kwargs = {"measurement": "m", "lo_ns": lo}
        after = sorted(tuple(r) for r in store.read_samples().collect() if r.ts_ns < lo)
    else:
        kwargs = {"lo_ns": 1704067200 * 10**9, "hi_ns": 1704153600 * 10**9}
        after = []
    assert len(before) == 6 and len(after) == (2 if kind == "rewrite" else 0)

    real_rmtree, real_rename = shutil.rmtree, os.rename

    def crash_rmtree(path, *a, **k):
        for d, _dirs, names in os.walk(path):
            for n in sorted(names):
                if n.endswith(".parquet"):
                    os.remove(os.path.join(d, n))
                    raise OSError(f"injected crash in rmtree({path!r})")
        raise OSError(f"injected crash in rmtree({path!r})")

    def crash_rename(src, dst, *a, **k):
        if os.path.join("_commit", "new") in str(src):
            raise OSError("injected crash before the swap-in")
        return real_rename(src, dst, *a, **k)

    if fault == "rmtree":
        monkeypatch.setattr(shutil, "rmtree", crash_rmtree)
    else:
        monkeypatch.setattr(os, "rename", crash_rename)
    with pytest.raises(OSError, match="injected crash"):
        store.delete_where(**kwargs)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    monkeypatch.setattr(os, "rename", real_rename)
    recovered = LPStore(spark, root, db="d")  # __init__ runs recovery
    assert rows(recovered) in (before, after)
    assert not os.path.exists(os.path.join(root, "d", "_commit", "new"))
    assert not os.path.exists(os.path.join(root, "d", "_commit", "old"))


def test_registry_rewrite_crash_recovery(spark, tmp_path):
    """A crash at any point mid-registry-rewrite (delete_series /
    purge_registry) leaves a state the next store construction
    repairs — series metadata is never lost. The naive
    rmtree-then-replace swap had a window that dropped the whole
    registry."""
    import pathlib
    import shutil

    root = str(tmp_path / "store")
    store = LPStore(spark, root, db="r")
    lines = spark.createDataFrame(
        [(f"m,host=h{j} v=1.{j} 1704067200000000000",) for j in range(4)], "line string"
    )
    store.write_batch(lines, collect_stats=False)
    expect = sorted(tuple(r) for r in store.read_registry().collect())
    reg = store.registry_path
    new = os.path.join(root, "r", "_commit", "new", "time_series")
    old = os.path.join(root, "r", "_commit", "old", "time_series")

    # crash before move-aside (tmp possibly mid-write): original live
    shutil.copytree(reg, new)
    rec = LPStore(spark, root, db="r")
    assert sorted(tuple(r) for r in rec.read_registry().collect()) == expect
    assert not pathlib.Path(new).exists()

    # crash between move-aside and swap-in: adopt the complete rewrite
    shutil.copytree(reg, new)
    os.makedirs(os.path.dirname(old), exist_ok=True)
    pathlib.Path(reg).rename(old)
    rec = LPStore(spark, root, db="r")
    assert sorted(tuple(r) for r in rec.read_registry().collect()) == expect
    assert not pathlib.Path(old).exists()
    assert not pathlib.Path(new).exists()

    # crash between move-aside and swap-in with NO tmp copy (write
    # finished + tmp adopted is impossible, but belt-and-braces:
    # restore the original)
    os.makedirs(os.path.dirname(old), exist_ok=True)
    pathlib.Path(reg).rename(old)
    rec = LPStore(spark, root, db="r")
    assert sorted(tuple(r) for r in rec.read_registry().collect()) == expect

    # crash after swap-in, before cleanup: new registry is live
    shutil.copytree(reg, old)
    rec = LPStore(spark, root, db="r")
    assert sorted(tuple(r) for r in rec.read_registry().collect()) == expect
    assert not pathlib.Path(old).exists()


def test_streaming_dedupe_within_watermark(spark, tmp_path):
    """Retransmitted lines (at-least-once upstream) are dropped across
    micro-batches when dedupe_window_s is set; state stays bounded by
    the watermark. The reference double-inserts duplicates (no write
    dedup in cflux.js) — this is the streaming-upgrade path."""
    src = str(tmp_path / "in")
    _write_lines(src, "a.txt", BATCH1)
    # b.txt retransmits all of BATCH1 (exact duplicates) + one new line
    _write_lines(src, "b.txt", BATCH1 + ["cpu,host=c user=0.9 1704067205000000000"])
    store = LPStore(spark, str(tmp_path / "store"), db="db")
    ingest = StreamingIngest(
        store, str(tmp_path / "ckpt"), dedupe_window_s=3600
    )
    import pyspark.sql.functions as F

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(src)
        .select(F.col("value").alias("line"))
    )
    q = ingest.start(stream, available_now=True)
    q.awaitTermination(120)
    facts = store.read_samples_or_empty()
    # 3 unique BATCH1 lines + 1 new line = 4 facts (one field each)
    assert facts.count() == 4
    assert ingest.batches_seen >= 2  # maxFilesPerTrigger=1 -> 2 batches


def test_streaming_dedupe_timestampless_numeric_field(spark, tmp_path):
    """A timestamp-less line whose LAST FIELD VALUE is numeric
    ('cpu v=1' / 'm v=1.5') must fall back to processing time, not
    have its trailing digits misread as a ~1970 event time — that
    would silently drop the line once other lines advance the
    watermark past 1970."""
    src = str(tmp_path / "in")
    lines = [
        "cpu,host=a user=1 1704067200000000000",  # 2024, advances watermark
        "cpu,host=b user=1",       # no ts; last char digit — the trap
        "mem,host=b free=1.5",     # no ts; trailing '5' after the dot
    ]
    _write_lines(src, "a.txt", lines)
    store = LPStore(spark, str(tmp_path / "store"), db="db")
    ingest = StreamingIngest(
        store, str(tmp_path / "ckpt"), dedupe_window_s=60, default_ts_ns=1704067300 * 10**9
    )
    stream = file_line_source(spark, src)
    q = ingest.start(stream, available_now=True)
    q.awaitTermination(120)
    facts = store.read_samples_or_empty()
    # all three lines survive: the timestamp-less ones took the
    # processing-time fallback instead of a 1970 event time
    assert facts.count() == 3


def test_kafka_transform_chain_parse_parity(spark):
    """The Kafka source itself needs a broker + the kafka jar (neither
    in this sandbox), but its post-source transform chain
    (binary value -> cast string -> line -> parse) is pure DataFrame
    code: feed the LP corpus through kafka_records_to_lines from a
    Kafka-shaped binary frame and assert row identity with the file
    source's (already line-shaped) parse."""
    from pyspark.sql import functions as F

    from cflux_spark.sources.ingest import parse_lp_df
    from cflux_spark.streaming.pipeline import kafka_records_to_lines

    lines = [
        "cpu,host=a,region=eu user=0.64,sys=0.11 1545424651000000000",
        "cpu,host=b user=0.32 1545424652000000000",
        'app,host=a status="ok",code=200 1545424651000000000',
        "up,host=a ok=true 1545424651000000000",
        "weird,host=é väl=1.5 1545424651000000000",  # non-ascii survives the byte round-trip
        "bad line that should error",
    ]
    kafka_shaped = spark.createDataFrame(
        [(f"key{i}".encode(), l.encode("utf-8"), "lp", 0, i) for i, l in enumerate(lines)],
        "key binary, value binary, topic string, partition int, offset long",
    )
    via_kafka = kafka_records_to_lines(kafka_shaped)
    assert via_kafka.columns == ["line"]
    file_shaped = spark.createDataFrame([(l,) for l in lines], "line string")

    def canon(df):
        parsed = parse_lp_df(df)
        return sorted(
            (
                r.measurement,
                tuple(sorted((r.tags or {}).items())),
                tuple(sorted((r.float_fields or {}).items())),
                tuple(sorted((r.string_fields or {}).items())),
                r.ts_ns,
                r.error,
            )
            for r in parsed.collect()
        )

    assert canon(via_kafka) == canon(file_shaped)


# ------------------------------------------- streaming dedup (round 7)


def test_streaming_dedup_screens_across_batches(spark, tmp_path):
    """Two micro-batches of documents: batch 1's near-dup of the
    standing corpus is dropped; batch 2's near-dup of a batch-1
    SURVIVOR is dropped too (the index grew between batches); novel
    docs and in-batch dups behave per the batch operator."""
    import json

    from cflux_spark.extensions.dedup import MinHashIndex
    from cflux_spark.streaming.dedup_stream import StreamingDedup

    base = "the standing corpus document about shuffle partitions " * 8
    novel = "a brand new crawl page discussing parquet bloom filters " * 8
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    idx = MinHashIndex.build(spark, corpus, str(tmp_path / "idx"))

    src = str(tmp_path / "docs_in")
    os.makedirs(src, exist_ok=True)

    def write_docs(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    stream_schema = "doc_id long, text string"
    sd = StreamingDedup(
        idx, str(tmp_path / "out"), str(tmp_path / "ckpt"), threshold=0.5
    )

    # batch 1: corpus dup (10), novel survivor (11), in-batch dup of 11 (12)
    write_docs("b1.json", [
        (10, base.replace("shuffle", "shufle", 1)),
        (11, novel),
        (12, novel.replace("bloom", "blom", 1)),
    ])
    q = sd.start(spark.readStream.schema(stream_schema).json(src), available_now=True)
    q.awaitTermination(120)

    # batch 2: near-dup of batch-1 survivor (20), novel (21)
    write_docs("b2.json", [
        (20, novel.replace("parquet", "parkay", 1)),
        (21, "entirely fresh content on broadcast joins and skew salting " * 8),
    ])
    q = sd.start(spark.readStream.schema(stream_schema).json(src), available_now=True)
    q.awaitTermination(120)

    out = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r.doc_id for r in out.collect()) == [11, 21]
    # the index holds corpus + both survivors
    assert sorted(r.doc_id for r in idx.signatures().select("doc_id").collect()) == [1, 11, 21]


def test_streaming_dedup_replay_is_idempotent(spark, tmp_path):
    """A crash-replayed micro-batch must not match its own
    first-attempt signatures and vanish (exclude_same_id), and must
    overwrite only its own output partition."""
    from cflux_spark.extensions.dedup import MinHashIndex
    from cflux_spark.streaming.dedup_stream import StreamingDedup

    corpus = spark.createDataFrame(
        [(1, "the standing corpus document about shuffle partitions " * 8)],
        "doc_id long, text string",
    )
    idx = MinHashIndex.build(spark, corpus, str(tmp_path / "idx"))
    sd = StreamingDedup(idx, str(tmp_path / "out"), str(tmp_path / "ckpt"))

    batch = spark.createDataFrame(
        [(11, "a brand new crawl page discussing parquet bloom filters " * 8)],
        "doc_id long, text string",
    )
    sd._process_batch(batch, 0)
    sd._process_batch(batch, 0)  # replay after simulated crash

    out = spark.read.parquet(str(tmp_path / "out"))
    assert [r.doc_id for r in out.collect()] == [11]  # one row, not two
    # signatures appended twice (at-least-once) — harmless: identical
    # rows produce identical candidates, and future probes still hit
    sigs = [r.doc_id for r in idx.signatures().select("doc_id").collect()]
    assert sorted(sigs) == [1, 11, 11]

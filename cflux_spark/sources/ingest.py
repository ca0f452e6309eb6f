"""Batch ingest: line-protocol text → facts + series registry parquet.

Reference pipeline (SURVEY.md §3.1, cflux.js:298-371): split body,
parse each line, fan out one row per field, fingerprint the
(tags + field name) set, buffer, bulk-insert facts per measurement and
new series into ``time_series``.

Spark shape:

    text lines DataFrame (one column `line`)
      → mapInPandas(parse)          # Arrow-batched pure-Python parser
      → fan out fields              # explode over the field maps, JVM-side
      → fingerprint = xxhash64(canonical labels json)   # codegen'd
      → facts: append, partitioned by `date`, sorted by (fingerprint, ts)
      → registry: distinct new fingerprints left-anti existing, append

The per-field fan-out and fingerprinting stay JVM-side (explode +
to_json + xxhash64) — only the character-level LP parse runs in Python,
Arrow-batched. At 100 TB the parse is embarrassingly parallel
(per-line), and every downstream op is a narrow transformation until
the registry anti-join (whose right side is the distinct-fingerprint
set — small relative to facts, broadcastable).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cflux_spark.model.fingerprint import NAME_LABEL
from cflux_spark.model.schemas import PARSED_LINE_SCHEMA
from cflux_spark.sources.lineprotocol import parse_line
from cflux_spark.sources.series_index import registry_files

# epoch(ns) to use when a line carries no timestamp; injected as a
# literal so the whole batch is deterministic & testable (the reference
# stamps arrival time, cflux.js:360).
_INGEST_TS_COL = "_ingest_ts_ns"


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: list[dict[str, Any]] = []
        for line in pdf["line"]:
            p = parse_line(line)
            if p is None:
                continue
            rows.append(
                {
                    "measurement": p.measurement,
                    "tags": p.tags,
                    "float_fields": p.float_fields,
                    "string_fields": p.string_fields,
                    "ts_ns": p.ts_ns,
                    "error": p.error,
                }
            )
        yield pd.DataFrame(
            rows,
            columns=["measurement", "tags", "float_fields", "string_fields", "ts_ns", "error"],
        )


PRECISION_NS: dict[str, int] = {
    "ns": 1, "n": 1, "u": 1_000, "us": 1_000, "ms": 1_000_000,
    "s": 1_000_000_000, "m": 60_000_000_000, "h": 3_600_000_000_000,
}


def parse_lp_df(lines: DataFrame, default_ts_ns: int = 0, precision: str = "ns") -> DataFrame:
    """`lines` has a single string column `line`; returns PARSED_LINE_SCHEMA
    rows with missing timestamps filled with `default_ts_ns`.

    ``precision`` is InfluxDB's /write knob (ns default; Telegraf
    commonly posts ms or s): a line's trailing integer timestamp is in
    that unit and is scaled to ns BEFORE the missing-timestamp default
    applies (the default is already ns). The reference ignores the
    param and misreads non-ns writes — not copied.

    The input is fanned out to the session's full parallelism before
    the Python-side parse: sources often arrive as one partition (a
    single HTTP body / one text file), which would otherwise pin the
    whole parse to a single core."""
    factor = PRECISION_NS.get(precision)
    if factor is None:
        raise ValueError(f"bad precision {precision!r} (one of {sorted(PRECISION_NS)})")
    target = lines.sparkSession.sparkContext.defaultParallelism
    if lines.rdd.getNumPartitions() < target:
        lines = lines.repartition(target)
    parsed = lines.mapInPandas(_parse_batches, schema=PARSED_LINE_SCHEMA)
    return parsed.withColumn(
        "ts_ns", F.coalesce(F.col("ts_ns") * F.lit(factor), F.lit(default_ts_ns))
    )


def explode_fields(parsed: DataFrame) -> DataFrame:
    """Fan out one fact row per field (cflux.js:321-332,356-371), all
    JVM-side, in ONE pass: both field maps become a single array of
    (field, value, message) structs, then one explode. (A union of two
    explode branches would execute the upstream Python parse twice —
    each branch is its own stage over the same input.)"""
    ok = parsed.filter(F.col("error").isNull())
    fan = F.concat(
        F.transform(
            F.map_entries("float_fields"),
            lambda e: F.struct(
                e["key"].alias("field"),
                e["value"].alias("value"),
                F.lit(None).cast("string").alias("message"),
            ),
        ),
        F.transform(
            F.map_entries("string_fields"),
            lambda e: F.struct(
                e["key"].alias("field"),
                F.lit(None).cast("double").alias("value"),
                e["value"].alias("message"),
            ),
        ),
    )
    both = ok.select(
        "measurement",
        "tags",
        "ts_ns",
        F.timestamp_micros(F.expr("ts_ns div 1000")).alias("ts"),
        F.explode(fan).alias("fvm"),
    ).select(
        "measurement",
        "tags",
        "ts_ns",
        "ts",
        F.col("fvm.field").alias("field"),
        F.col("fvm.value").alias("value"),
        F.col("fvm.message").alias("message"),
    )
    return attach_identity(both)


def attach_identity(both: DataFrame) -> DataFrame:
    """Derive (name, labels, fingerprint) on a frame of
    (measurement, tags, ts_ns, ts, field, value, message) rows.

    Canonical labels json = sorted-key map of tags + __name__:
    "<measurement>.<field>" (reference uses the field key as
    time_series.name with the measurement as table name; we qualify
    with the measurement so names are global, SURVEY §1.1)."""
    name = F.concat_ws(".", "measurement", "field")
    labels_map = F.map_concat(
        F.coalesce(F.col("tags"), F.from_json(F.lit("{}"), "map<string,string>")),
        F.create_map(F.lit(NAME_LABEL), name),
    )
    # to_json of a map does NOT sort keys; sort via map_from_entries(array_sort(map_entries))
    canonical = F.to_json(F.map_from_entries(F.array_sort(F.map_entries(labels_map))))
    return (
        both.withColumn("name", name)
        .withColumn("labels", canonical)
        .withColumn("fingerprint", F.xxhash64("labels"))
    )


def fact_rows(exploded: DataFrame) -> DataFrame:
    return exploded.select(
        "fingerprint",
        "ts",
        "ts_ns",
        "value",
        "message",
        "field",
        "measurement",
        F.to_date("ts").alias("date"),
    )


def registry_rows(exploded: DataFrame) -> DataFrame:
    """One row per distinct series in the batch (ST4 new-series path)."""
    return (
        exploded.select(
            F.to_date("ts").alias("date"),
            "fingerprint",
            "measurement",
            "name",
            "tags",
            "labels",
        )
        .dropDuplicates(["fingerprint"])
    )


def dedup_registry(registry: DataFrame) -> DataFrame:
    """Latest-wins per fingerprint — ReplacingMergeTree FINAL semantics
    (cflux.js:164,754). Window dedup, not dropDuplicates, so *latest*
    (max date) wins deterministically."""
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy(F.col("date").desc())
    return (
        registry.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def validate_db_name(name: str) -> str:
    """Reject database names that could escape the store root.

    Database names come straight off the unauthenticated HTTP edge
    (``?db=`` and CREATE/DROP DATABASE statements) and are joined onto
    the store root to form filesystem paths — a name like ``../../etc``
    would otherwise read or rmtree outside the store. Path separators,
    NUL, ``.``/``..`` components, and empty names are refused loudly.
    """
    if (
        not name
        or name in (".", "..")
        or "/" in name
        or "\\" in name
        or "\x00" in name
    ):
        raise ValueError(f"invalid database name: {name!r}")
    return name


class LPStore:
    """Filesystem layout + write/read orchestration for one 'database'.

    facts at  <root>/<db>/samples/      (parquet, partitioned by date)
    registry  <root>/<db>/time_series/  (parquet, append; dedup on read)
    """

    def __init__(self, spark: SparkSession, root: str, db: str = "default"):
        self.spark = spark
        self.root = root
        self.db = validate_db_name(db)
        self._recover_compact()
        self._recover_delete()
        self._recover_registry()

    @property
    def samples_path(self) -> str:
        return os.path.join(self.root, self.db, "samples")

    @property
    def registry_path(self) -> str:
        return os.path.join(self.root, self.db, "time_series")

    def write_batch(
        self,
        lines: DataFrame,
        default_ts_ns: int = 0,
        collect_stats: bool = True,
        backfill: bool = False,
        precision: str = "ns",
    ) -> dict[str, int]:
        """Ingest a batch of LP lines.

        `backfill=True` switches the facts write from
        ``repartition("date")`` (one task per date — right for
        micro-batches spanning 1-2 dates) to
        ``repartitionByRange(parallelism, date, fingerprint)`` so a
        historical load spanning hundreds of dates parallelizes across
        the cluster instead of serializing per date (SCALE.md)."""
        # cache the PARSED frame (one Python-parse pass); the JVM-side
        # explode/fingerprint downstream is cheap to recompute for the
        # facts and registry consumers.
        parsed = parse_lp_df(lines, default_ts_ns, precision=precision).cache()
        try:
            return self._append_exploded(explode_fields(parsed), backfill, collect_stats)
        finally:
            parsed.unpersist()

    def _append_exploded(
        self, exploded: DataFrame, backfill: bool = False, collect_stats: bool = True
    ) -> dict[str, int]:
        """Append facts + new-series registry rows from an identity-
        attached frame (the shared tail of batch ingest and
        SELECT INTO)."""
        # read the registry before any file lands, so an unreadable
        # registry fails the write instead of leaving unregistered facts
        existing = self.read_registry_raw()
        facts = fact_rows(exploded)
        # sortWithinPartitions(fingerprint, ts) mirrors the MergeTree
        # ORDER BY (cflux.js:152): parquet row-group min/max stats then
        # skip on fingerprint/time predicates at read.
        if backfill:
            par = self.spark.sparkContext.defaultParallelism
            distributed = facts.repartitionByRange(par, "date", "fingerprint")
        else:
            distributed = facts.repartition("date")
        (
            distributed.sortWithinPartitions("fingerprint", "ts")
            .write.mode("append")
            .partitionBy("date")
            .parquet(self.samples_path)
        )
        new_series = registry_rows(exploded)
        if existing is not None:
            new_series = new_series.join(
                existing.select("fingerprint").distinct(), "fingerprint", "left_anti"
            )
        new_series.write.mode("append").parquet(self.registry_path)
        if not collect_stats:
            return {"facts": -1, "new_series": -1}
        return {"facts": facts.count(), "new_series": new_series.count()}

    def write_samples(self, rows: DataFrame, collect_stats: bool = True) -> dict[str, int]:
        """Append pre-shaped sample rows — columns (measurement,
        tags map<string,string>, ts_ns long, field, value double,
        message string) — deriving series identity the same way the LP
        path does. This is the sink behind ``SELECT ... INTO``
        (downsample materialization): results written here are
        indistinguishable from ingested points for every query path."""
        both = rows.select(
            "measurement",
            "tags",
            "ts_ns",
            F.timestamp_micros(F.expr("ts_ns div 1000")).alias("ts"),
            "field",
            "value",
            "message",
        )
        return self._append_exploded(attach_identity(both), collect_stats=collect_stats)

    def compact(self, target_file_mb: int = 128) -> int:
        """Maintenance: rewrite each date partition of the fact table
        into size-targeted files sorted by (fingerprint, ts) —
        MergeTree-merge / OPTIMIZE analogue. Streaming appends produce
        one small file per (micro-batch × date); compaction restores
        scan efficiency and re-establishes the sort for row-group
        skipping. Returns the number of partitions rewritten.

        Crash safety: the new data is written to a ``._compact``
        sibling, the live directory is renamed ASIDE (``._old``), the
        sibling renamed in, and only then is the old data deleted — a
        crash at any point leaves a recoverable state that
        ``_recover_compact`` (run on store construction) repairs. The
        brief window between the two renames is not atomic for
        concurrent readers; single-writer maintenance is assumed."""
        import shutil

        if not os.path.isdir(self.samples_path):
            return 0
        df = self.read_samples()
        dates = [r.date for r in df.select("date").distinct().collect()]
        tmp_path = self.samples_path + "._compact"
        old_path = self.samples_path + "._old"
        bytes_total = sum(
            f.stat().st_size for f in __import__("pathlib").Path(self.samples_path).rglob("*.parquet")
        )
        n_files = max(1, bytes_total // (target_file_mb * 1024 * 1024))
        (
            df.repartitionByRange(int(n_files), "date", "fingerprint")
            .sortWithinPartitions("fingerprint", "ts")
            .write.mode("overwrite")
            .partitionBy("date")
            .parquet(tmp_path)
        )
        os.rename(self.samples_path, old_path)
        os.rename(tmp_path, self.samples_path)
        shutil.rmtree(old_path)
        return len(dates)

    def _recover_compact(self) -> None:
        """Repair any state a crash mid-``compact()`` left behind.
        Invariant: the original data survives until the rewritten copy
        is in place, so recovery always restores a readable store."""
        import shutil

        samples = self.samples_path
        old, tmp = samples + "._old", samples + "._compact"
        if not os.path.isdir(samples) and os.path.isdir(old):
            # crashed between rename-aside and swap-in: restore original
            os.rename(old, samples)
        if os.path.isdir(samples) and os.path.isdir(old):
            # crashed after swap-in, before cleanup: new data is live
            shutil.rmtree(old)
        if os.path.isdir(tmp):
            # incomplete (or superseded) compaction output
            shutil.rmtree(tmp)

    def enforce_retention(self, keep_days: float, now: "date | None" = None) -> list[str]:
        """Drop whole date partitions older than ``now - keep_days`` —
        the InfluxDB retention-policy enforcement step, expressed as
        the O(1)-per-partition directory drop the date partitioning
        exists for (no scan, no rewrite; the same reason ClickHouse
        partitions by time, cflux.js:152). Registry rows are kept:
        series metadata outlives expired points, as in InfluxDB until a
        DROP SERIES. Returns the dropped partition names."""
        import shutil
        from datetime import date, timedelta

        cutoff = (now or date.today()) - timedelta(days=keep_days)
        dropped: list[str] = []
        if not os.path.isdir(self.samples_path):
            return dropped
        for entry in sorted(os.listdir(self.samples_path)):
            if not entry.startswith("date="):
                continue
            try:
                d = date.fromisoformat(entry.split("=", 1)[1])
            except ValueError:
                continue
            if d < cutoff:
                shutil.rmtree(os.path.join(self.samples_path, entry))
                dropped.append(entry)
        return dropped

    def delete_where(
        self,
        measurement: str | None = None,
        lo_ns: int | None = None,
        hi_ns: int | None = None,
        fingerprints: "DataFrame | None" = None,
    ) -> dict[str, int]:
        """Targeted deletion (InfluxDB ``DELETE FROM m WHERE time ...``
        / ``DROP MEASUREMENT``): per date partition —

        - partitions wholly OUTSIDE the time range: untouched (free);
        - partitions wholly INSIDE it, with no measurement filter:
          O(1) directory drop (same machinery as retention);
        - everything else: filtered rewrite of ONLY the touched
          partitions, written aside and atomically moved into place.

        At 100 TB a time-ranged delete touches at most two edge
        partitions plus O(1) drops — never a full-table rewrite.
        Registry rows are kept for DELETE (series metadata outlives
        points, as in InfluxDB); DROP MEASUREMENT purges them via
        ``purge_registry``. Single-writer discipline applies (same rule
        as write_batch).

        ``fingerprints`` (round 5) narrows the deletion to a series
        set (``DELETE FROM m WHERE host = 'a' [AND time ...]``): the
        doomed set is broadcast into each touched partition's rewrite
        — no O(1) drop shortcut (one series' rows spread across every
        partition). An empty set deletes nothing and rewrites nothing.

        Crash safety: a rewrite is written complete to ``_delete_tmp``,
        the live partition is renamed aside to ``_delete_old`` (both
        outside ``samples/``, where a leftover directory would break
        partition discovery), the rewrite is renamed in, and only then
        is the aside copy removed; a dropped partition is renamed aside
        and removed. ``_recover_delete`` (run on store construction)
        repairs a crash at any point: each partition reads all of its
        rows from before the delete or all from after."""
        import shutil
        from datetime import date

        DAY_NS = 86_400_000_000_000
        lo = lo_ns if lo_ns is not None else -(2**62)
        hi = hi_ns if hi_ns is not None else 2**62
        dropped = rewritten = 0
        if not os.path.isdir(self.samples_path) or (
            fingerprints is not None and fingerprints.isEmpty()
        ):
            return {"partitions_dropped": 0, "partitions_rewritten": 0}
        tmp_root, aside_root = self._delete_dirs
        os.makedirs(aside_root, exist_ok=True)
        for entry in sorted(os.listdir(self.samples_path)):
            if not entry.startswith("date="):
                continue
            try:
                d = date.fromisoformat(entry.split("=", 1)[1])
            except ValueError:
                continue
            part_lo = int((d - date(1970, 1, 1)).total_seconds()) * 1_000_000_000
            part_hi = part_lo + DAY_NS
            if part_hi <= lo or part_lo >= hi:
                continue  # untouched
            part_dir = os.path.join(self.samples_path, entry)
            aside = os.path.join(aside_root, entry)
            if measurement is None and fingerprints is None and lo <= part_lo and part_hi <= hi:
                os.rename(part_dir, aside)
                shutil.rmtree(aside)
                dropped += 1
                continue
            dcond = (F.col("ts_ns") >= F.lit(lo)) & (F.col("ts_ns") < F.lit(hi))
            if measurement is not None:
                dcond = dcond & (F.col("measurement") == measurement)
            part = self.spark.read.parquet(part_dir)
            if fingerprints is not None:
                doomed = F.broadcast(
                    fingerprints.select("fingerprint")
                    .distinct()
                    .withColumn("_doom", F.lit(True))
                )
                part = part.join(doomed, "fingerprint", "left")
                dcond = dcond & F.col("_doom").isNotNull()
            kept = part.filter(~dcond)
            if fingerprints is not None:
                kept = kept.drop("_doom")
            tmp = os.path.join(tmp_root, entry)
            (
                kept.sortWithinPartitions("fingerprint", "ts_ns")
                .write.mode("overwrite")
                .parquet(tmp)
            )
            os.rename(part_dir, aside)
            os.rename(tmp, part_dir)
            shutil.rmtree(aside)
            rewritten += 1
        for d in (tmp_root, aside_root):
            shutil.rmtree(d, ignore_errors=True)
        return {"partitions_dropped": dropped, "partitions_rewritten": rewritten}

    @property
    def _delete_dirs(self) -> tuple[str, str]:
        """``delete_where``'s rewrite and aside directories."""
        base = os.path.join(self.root, self.db)
        return os.path.join(base, "_delete_tmp"), os.path.join(base, "_delete_old")

    def _recover_delete(self) -> None:
        """Finish an interrupted ``delete_where``, per partition: absent
        with a rewrite present, the rewrite is complete (the live copy
        moves aside only after it is written) and is adopted; absent
        with none, the aside copy was a drop, which is finished. A
        rewrite whose partition is still live is unadopted and goes, as
        does an aside copy the rewrite already replaced."""
        import shutil

        tmp_root, aside_root = self._delete_dirs
        if os.path.isdir(tmp_root):
            for entry in os.listdir(tmp_root):
                dst = os.path.join(self.samples_path, entry)
                if not os.path.exists(dst):
                    os.replace(os.path.join(tmp_root, entry), dst)
        for d in (tmp_root, aside_root):
            shutil.rmtree(d, ignore_errors=True)

    def delete_series(self, fingerprints: DataFrame) -> int:
        """DROP SERIES support: remove all facts and registry rows for
        the given fingerprint set (a one-column ``fingerprint`` frame).
        Facts go through ``delete_where``, whose every touched partition
        is rewritten with the set broadcast (InfluxDB pays the same cost
        as tombstone compactions); the registry is rewritten without
        the set. Returns the rewritten-partition count; an empty set
        rewrites nothing."""
        if fingerprints.isEmpty():
            return 0
        rewritten = self.delete_where(fingerprints=fingerprints)["partitions_rewritten"]
        raw = self.read_registry_raw()
        if raw is not None:
            doomed = F.broadcast(fingerprints.select("fingerprint").distinct())
            self._rewrite_registry(raw.join(doomed, "fingerprint", "left_anti"))
        return rewritten

    def purge_registry(self, measurement: str) -> None:
        """Remove a measurement's series metadata (DROP MEASUREMENT
        companion). The registry is orders of magnitude smaller than
        facts — a filtered rewrite-aside is the honest cost."""
        raw = self.read_registry_raw()
        if raw is None:
            return
        self._rewrite_registry(raw.filter(F.col("measurement") != measurement))

    def _rewrite_registry(self, kept: DataFrame) -> None:
        """Crash-safe registry rewrite — the compact() swap discipline:
        write the new copy aside, move the old registry aside, swap the
        new one in, THEN delete the old. The original metadata survives
        on disk until the rewrite is live, so a crash at any point
        leaves a state ``_recover_registry`` restores (the naive
        rmtree-then-replace had a window that lost ALL series
        metadata)."""
        import shutil

        tmp = self.registry_path + ".rewrite"
        old = self.registry_path + "._old"
        kept.write.mode("overwrite").parquet(tmp)
        os.rename(self.registry_path, old)
        os.rename(tmp, self.registry_path)
        shutil.rmtree(old)

    def _recover_registry(self) -> None:
        """Repair a crash mid-``_rewrite_registry``. Mirrors
        ``_recover_compact``: rewrite-complete states adopt the new
        copy, earlier crashes keep the original; either way the store
        comes back with a readable registry."""
        import shutil

        reg = self.registry_path
        old, tmp = reg + "._old", reg + ".rewrite"
        if not os.path.isdir(reg) and os.path.isdir(old):
            # crashed between move-aside and swap-in: the tmp copy is
            # complete (we only move aside after its write finishes)
            if os.path.isdir(tmp):
                os.rename(tmp, reg)
            else:
                os.rename(old, reg)
        if os.path.isdir(reg) and os.path.isdir(old):
            # crashed after swap-in, before cleanup: new registry live
            shutil.rmtree(old)
        if os.path.isdir(tmp):
            # crash before move-aside (possibly mid-write): original
            # registry still live; the tmp is unadopted — discard
            shutil.rmtree(tmp)

    def read_registry_raw(self) -> DataFrame | None:
        """The registry's appended rows; None only when the registry
        directory is absent or holds no data file. Any other read error
        propagates: an unreadable registry is an error, never an empty
        store whose next write re-registers every series."""
        if not registry_files(self.registry_path):
            return None
        return self.spark.read.parquet(self.registry_path)

    def read_registry(self) -> DataFrame | None:
        raw = self.read_registry_raw()
        return None if raw is None else dedup_registry(raw)

    def read_samples(self) -> DataFrame:
        return self.spark.read.parquet(self.samples_path)

    def read_samples_or_empty(self) -> DataFrame:
        """Samples, or an empty frame when the db has never been
        written (the reference creates DBs lazily and answers queries
        on unknown tables with empty results)."""
        try:
            return self.read_samples()
        except Exception:
            from cflux_spark.model.schemas import SAMPLES_SCHEMA

            return self.spark.createDataFrame([], SAMPLES_SCHEMA.add("date", "date"))

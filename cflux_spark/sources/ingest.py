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

Every mutation but an append commits through ``sources/commit.py``.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator
from datetime import date
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cflux_spark.model.fingerprint import NAME_LABEL
from cflux_spark.model.schemas import PARSED_LINE_SCHEMA, SAMPLES_SCHEMA
from cflux_spark.sources import commit
from cflux_spark.sources.lineprotocol import parse_line
from cflux_spark.sources.series_index import registry_files

_DAY_NS = 86_400_000_000_000


def _day_ns(d: date) -> int:
    """Epoch ns at the start of UTC day ``d``."""
    return (d - date(1970, 1, 1)).days * _DAY_NS


def _doomed_set(fingerprints: DataFrame) -> DataFrame:
    """A fingerprint set, distinct and broadcast for a join into facts
    or registry."""
    return F.broadcast(fingerprints.select("fingerprint").distinct())


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
    staging   <root>/<db>/_commit/      (``sources/commit.py``)

    Writes append files; rewrites and drops commit one directory (a
    ``date=`` partition or the registry) at a time, and construction
    runs ``commit.recover``. One writer per store (in one process, the
    engine's ``write_lock``).
    """

    def __init__(self, spark: SparkSession, root: str, db: str = "default"):
        self.spark = spark
        self.root = root
        self.db = validate_db_name(db)
        self.base = os.path.join(root, self.db)
        commit.recover(self.base)

    @property
    def samples_path(self) -> str:
        return os.path.join(self.base, "samples")

    @property
    def registry_path(self) -> str:
        return os.path.join(self.base, "time_series")

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
        skipping. One partition at a time, each its own commit, so the
        hot partition can be compacted on its own cadence without
        copying the table. Returns the number of partitions rewritten."""
        parts = [entry for entry, _d, _covered in self._date_partitions()]
        for entry in parts:
            self._rewrite_partition(entry, target_file_mb=target_file_mb)
        return len(parts)

    def enforce_retention(self, keep_days: float, now: date | None = None) -> list[str]:
        """Drop whole date partitions older than ``now - keep_days`` —
        the InfluxDB retention-policy enforcement step, expressed as
        the O(1)-per-partition directory drop the date partitioning
        exists for (no scan, no rewrite; the same reason ClickHouse
        partitions by time, cflux.js:152). Registry rows are kept:
        series metadata outlives expired points, as in InfluxDB until a
        DROP SERIES. Returns the dropped partition names."""
        from datetime import timedelta

        cutoff = (now or date.today()) - timedelta(days=keep_days)
        parts = self._date_partitions(hi_ns=_day_ns(cutoff))
        dropped = [entry for entry, _d, covered in parts if covered]
        for entry in dropped:
            commit.drop_dir(self.base, os.path.join("samples", entry))
        return dropped

    def delete_where(
        self,
        measurement: str | None = None,
        lo_ns: int | None = None,
        hi_ns: int | None = None,
        fingerprints: "DataFrame | None" = None,
    ) -> dict[str, int]:
        """Targeted deletion (InfluxDB ``DELETE FROM m WHERE time ...``
        / ``DROP MEASUREMENT``): date partitions wholly inside the time
        range, with no measurement or series filter, are O(1) directory
        drops (retention's walk and drop); of the others, one Spark job
        finds those that hold a doomed row, and only they are rewritten.
        A delete that dooms no row touches no file, and a time-ranged
        one never rewrites the table. Registry rows are kept (series
        metadata outlives points, as in InfluxDB); DROP MEASUREMENT
        purges them via ``purge_registry``.

        ``fingerprints`` narrows the deletion to a series set
        (``DELETE FROM m WHERE host = 'a'``), broadcast into each
        rewrite; it disables the drop shortcut (one series' rows spread
        across every partition)."""
        lo = lo_ns if lo_ns is not None else -(2**62)
        hi = hi_ns if hi_ns is not None else 2**62
        drop = measurement is None and fingerprints is None
        candidates = {}
        dropped = 0
        for entry, d, covered in self._date_partitions(lo, hi):
            if drop and covered:
                commit.drop_dir(self.base, os.path.join("samples", entry))
                dropped += 1
            else:
                candidates[d] = entry
        doomed = (F.col("ts_ns") >= F.lit(lo)) & (F.col("ts_ns") < F.lit(hi))
        if measurement is not None:
            doomed = doomed & (F.col("measurement") == measurement)
        hit: list[date] = []
        if candidates:
            rows = self.read_samples().filter(F.col("date").isin(list(candidates)) & doomed)
            if fingerprints is not None:
                rows = rows.join(_doomed_set(fingerprints), "fingerprint", "left_semi")
            hit = sorted(r.date for r in rows.select("date").distinct().collect())
        for d in hit:
            self._rewrite_partition(candidates[d], doomed, fingerprints)
        return {"partitions_dropped": dropped, "partitions_rewritten": len(hit)}

    def _date_partitions(
        self, lo_ns: int = -(2**62), hi_ns: int = 2**62
    ) -> Iterator[tuple[str, date, bool]]:
        """``(entry, date, covered)`` for each ``date=`` partition that
        overlaps ``[lo_ns, hi_ns)``, in date order; ``covered`` when the
        range holds the partition's whole day."""
        if not os.path.isdir(self.samples_path):
            return
        for entry in sorted(os.listdir(self.samples_path)):
            if not entry.startswith("date="):
                continue
            try:
                d = date.fromisoformat(entry.split("=", 1)[1])
            except ValueError:
                continue
            part_lo = _day_ns(d)
            part_hi = part_lo + _DAY_NS
            if part_lo < hi_ns and lo_ns < part_hi:
                yield entry, d, lo_ns <= part_lo and part_hi <= hi_ns

    def _rewrite_partition(
        self,
        entry: str,
        doomed: Column | None = None,
        fingerprints: DataFrame | None = None,
        target_file_mb: int = 128,
    ) -> None:
        """Rewrite one date partition without its ``doomed`` rows (of
        the ``fingerprints`` series, when given) into size-targeted
        files sorted by (fingerprint, ts_ns) — the one rewrite behind
        compaction, which dooms none, and DELETE."""
        part_dir = os.path.join(self.samples_path, entry)
        part = self.spark.read.parquet(part_dir)
        if fingerprints is not None:
            part = part.join(
                _doomed_set(fingerprints).withColumn("_doom", F.lit(True)), "fingerprint", "left"
            )
            doomed = doomed & F.col("_doom").isNotNull()
        size = sum(e.stat().st_size for e in os.scandir(part_dir) if e.is_file())
        n_files = max(1, size // (target_file_mb * 1024 * 1024))
        kept = part if doomed is None else part.filter(~doomed).drop("_doom")
        commit.replace_dir(
            self.base,
            os.path.join("samples", entry),
            kept.repartitionByRange(int(n_files), "fingerprint")
            .sortWithinPartitions("fingerprint", "ts_ns")
            .write.parquet,
        )

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
            kept = raw.join(_doomed_set(fingerprints), "fingerprint", "left_anti")
            commit.replace_dir(self.base, "time_series", kept.write.parquet)
        return rewritten

    def purge_registry(self, measurement: str) -> None:
        """Remove a measurement's series metadata (DROP MEASUREMENT
        companion). The registry is orders of magnitude smaller than
        facts — a filtered rewrite is the honest cost, paid only when
        the measurement has a registry row."""
        raw = self.read_registry_raw()
        if raw is None or raw.filter(F.col("measurement") == measurement).isEmpty():
            return
        kept = raw.filter(F.col("measurement") != measurement)
        commit.replace_dir(self.base, "time_series", kept.write.parquet)

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
        """Samples, or an empty frame when ``samples/`` is absent or
        holds no data file: a db never written (the reference creates
        DBs lazily and answers queries on unknown tables with empty
        results), or one whose partitions were all dropped. Any other
        read error propagates: a corrupt store is an error, never an
        empty store."""
        # a data file: a partition's entry not named _* or .* (Spark's
        # rule); the search stops at the first
        files = glob.iglob(os.path.join(glob.escape(self.samples_path), "[!_.]*", "[!_.]*"))
        if next(files, None):
            return self.read_samples()
        return self.spark.createDataFrame(
            [], T.StructType([*SAMPLES_SCHEMA.fields, T.StructField("date", T.DateType())])
        )


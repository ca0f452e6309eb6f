"""Metadata operators — the SHOW family (SURVEY.md §2.11).

Each compiles to a distinct/explode over the series registry, exactly
as the reference compiles SHOW statements to GROUP BY / ARRAY JOIN
queries over ``time_series`` (cflux.js:450-657). The registry is tiny
relative to facts, so these are cheap; at scale they never touch the
fact table at all.

The registry contract here: columns
(fingerprint, measurement, name, tags map<string,string>).
For the driver's `events` fixture a registry is derived via
`events_registry` (user_id → series key, event_type → name, props →
tags), per FIXTURES.md.

The InfluxQL engine looks the registry up through one of two registry
views with the same methods, each turning registry rows into sorted
distinct rows (the clause carving, LIMIT/OFFSET and envelope stay in
``plans/influxql.py``). They answer SHOW, and the registry lookups of
other statements: the measurements of ``SELECT``/``DELETE FROM
/regex/`` and the tag keys of ``GROUP BY *``. ``SparkRegistry.where``
also selects the fingerprint set that ``DROP SERIES`` and a
tag-conditioned ``DELETE`` remove.

- ``ArrowRegistry`` — the driver-side series index
  (``sources/series_index.py``), vectorized with ``pyarrow.compute``:
  no Spark job. Sorts are in UTF-8 byte order, Spark's string order;
  regex matchers use Python's ``re.search`` (find-anywhere, like
  ``rlike``).
- ``SparkRegistry`` — the latest-wins registry DataFrame, one Spark
  action per answer; used above the index's row cap and for a regex
  Python cannot compile.
"""

from __future__ import annotations

import re
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cflux_spark.functions.scalars import matcher_cond, props_map


def events_registry(events: DataFrame) -> DataFrame:
    """Derive a series registry from the events fixture: one row per
    (user_id, event_type) 'series', tags from the earliest props JSON
    (min = deterministic pick, mirrors ReplacingMergeTree latest-wins
    as a stable dedup)."""
    return (
        events.groupBy("user_id", "event_type")
        .agg(F.min("props").alias("labels"))
        .select(
            "user_id",
            "event_type",
            F.xxhash64(F.col("user_id").cast("string"), "event_type").alias("fingerprint"),
            F.col("event_type").alias("measurement"),
            F.col("event_type").alias("name"),
            props_map("labels").alias("tags"),
            "labels",
        )
    )


def show_measurements(registry: DataFrame) -> DataFrame:
    """M2 — `select measurement .. GROUP BY measurement` (cflux.js:645)."""
    return registry.select("measurement").distinct().orderBy("measurement")


def show_field_keys(registry: DataFrame, measurement: str) -> DataFrame:
    """M3 — field keys of a measurement; the reference hard-codes every
    type to "float" (cflux.js:461,468) — kept for API fidelity."""
    return (
        registry.filter(F.col("measurement") == measurement)
        .select(F.col("name").alias("fieldKey"))
        .distinct()
        .withColumn("fieldType", F.lit("float"))
        .orderBy("fieldKey")
    )


def show_tag_keys(registry: DataFrame, measurement: str | None = None) -> DataFrame:
    """M4 — ARRAY JOIN labelname + GROUP BY (cflux.js:506,528) →
    explode map keys + distinct."""
    df = registry if measurement is None else registry.filter(F.col("measurement") == measurement)
    return (
        df.select(F.explode(F.map_keys("tags")).alias("tagKey"))
        .distinct()
        .orderBy("tagKey")
    )


def show_tag_values(
    registry: DataFrame,
    measurement: str | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """M5/M6 — zipped ARRAY JOIN (labelname, labelvalue) [+ WITH KEY IN]
    (cflux.js:553,576,600,622) → explode map entries (pairing preserved
    by construction) + isin + distinct."""
    df = registry if measurement is None else registry.filter(F.col("measurement") == measurement)
    kv = df.select(F.explode("tags").alias("key", "value"))
    if keys is not None:
        kv = kv.filter(F.col("key").isin(keys))
    return kv.distinct().orderBy("key", "value")


def show_series(registry: DataFrame, measurement: str | None = None) -> DataFrame:
    """``SHOW SERIES`` — one row per series, keyed the InfluxDB way:
    ``measurement,tag1=v1,tag2=v2`` with tag keys sorted. Beyond the
    reference (its dispatch ladder has no SHOW SERIES arm → empty
    envelope via M11); Grafana's variable editor issues it, so it is
    first-class here. Distributed: sort the map entries per row with a
    higher-order function, no explode/regroup shuffle."""
    df = registry if measurement is None else registry.filter(F.col("measurement") == measurement)
    kv = F.transform(
        F.array_sort(F.map_entries("tags")),
        lambda e: F.concat(e["key"], F.lit("="), e["value"]),
    )
    key = F.concat_ws(",", F.array(F.col("measurement")), kv)
    return df.select(key.alias("key")).distinct().orderBy("key")


def show_cardinality(registry: DataFrame, what: str, measurement: str | None = None) -> DataFrame:
    """``SHOW {SERIES|MEASUREMENT|FIELD KEY|TAG KEY} [EXACT] CARDINALITY``
    — InfluxDB 1.x capacity-planning statements (absent in the
    reference). All are exact counts over the registry (count-distinct,
    one small agg); at 100 TB the registry is still the only input."""
    df = registry if measurement is None else registry.filter(F.col("measurement") == measurement)
    if what == "series":
        c = df.select("fingerprint").distinct().count()
    elif what == "measurement":
        c = df.select("measurement").distinct().count()
    elif what == "field key":
        c = df.select("measurement", "name").distinct().count()
    elif what == "tag key":
        c = df.select(F.explode(F.map_keys("tags"))).distinct().count()
    else:
        raise ValueError(f"unknown cardinality subject {what!r}")
    spark = df.sparkSession
    return spark.createDataFrame([(c,)], "count long")


def slash_regex(text: str | None) -> str | None:
    """The body of a ``/regex/`` literal, or None for any other text."""
    if text is not None and len(text) >= 2 and text.startswith("/") and text.endswith("/"):
        return text[1:-1]
    return None


def measurement_filter(registry: DataFrame, meas: str | None) -> DataFrame:
    """``FROM m`` / ``FROM /regex/`` over registry rows."""
    if meas is None:
        return registry
    rx = slash_regex(meas)
    if rx is not None:
        return registry.filter(F.col("measurement").rlike(rx))
    return registry.filter(F.col("measurement") == meas)


class SparkRegistry:
    """SHOW answers over the latest-wins registry DataFrame: each answer
    is one distinct/orderBy/collect (or count) Spark action."""

    def __init__(self, df: DataFrame):
        self.df = df

    def where(self, matchers: list[tuple[str, str, str]], or_groups=()) -> "SparkRegistry":
        """Tag matchers ANDed with each OR group; a missing tag matches
        none of the four ops (``element_at`` gives NULL)."""
        cond = matcher_cond(matchers, or_groups, lambda key: F.element_at(F.col("tags"), key))
        return self if cond is None else SparkRegistry(self.df.filter(cond))

    def from_measurement(self, meas: str | None) -> "SparkRegistry":
        return SparkRegistry(measurement_filter(self.df, meas))

    def measurements(self, op: str | None = None, pattern: str | None = None) -> list[str]:
        names = self.df.select("measurement").distinct()
        if op == "=~":
            names = names.filter(F.col("measurement").rlike(pattern))
        elif op == "=":
            names = names.filter(F.col("measurement") == pattern)
        return [r.measurement for r in names.orderBy("measurement").collect()]

    def field_keys(self) -> list[tuple]:
        rows = self.df.select("measurement", "name").distinct().orderBy("measurement", "name")
        return [tuple(r) for r in rows.collect()]

    def tag_keys(self) -> list[tuple]:
        rows = (
            self.df.select("measurement", F.explode(F.map_keys("tags")).alias("tagKey"))
            .distinct()
            .orderBy("measurement", "tagKey")
        )
        return [tuple(r) for r in rows.collect()]

    def _kv(self, keys: list[str] | None, key_rx: str | None) -> DataFrame:
        kv = self.df.select("measurement", F.explode("tags").alias("key", "value"))
        if keys is not None:
            kv = kv.filter(F.col("key").isin(keys))
        if key_rx is not None:
            kv = kv.filter(F.col("key").rlike(key_rx))
        return kv

    def tag_values(self, keys: list[str] | None, key_rx: str | None) -> list[tuple]:
        rows = self._kv(keys, key_rx).distinct().orderBy("measurement", "key", "value")
        return [tuple(r) for r in rows.collect()]

    def tag_value_count(self, keys: list[str] | None, key_rx: str | None) -> int:
        return self._kv(keys, key_rx).select("key", "value").distinct().count()

    def series_keys(self) -> list[str]:
        return [r.key for r in show_series(self.df).collect()]

    def cardinality(self, subject: str) -> int:
        return show_cardinality(self.df, subject).collect()[0]["count"]


_ENTRIES = pa.list_(pa.struct([("key", pa.string()), ("value", pa.string())]))


def _regex_hits(values, pattern: str):
    """Boolean mask: ``re.search(pattern, v)`` per value (False for
    null), evaluated once per distinct value. ``re.error`` propagates
    for a pattern Python cannot compile."""
    rx = re.compile(pattern)
    uniq = pc.unique(values).drop_null().to_pylist()
    hits = pa.array([u for u in uniq if rx.search(u)], pa.string())
    return pc.is_in(values, value_set=hits)


def _arrow_match(values, op: str, pattern: str):
    """``label_matcher`` over an arrow string array; null (a missing
    tag) never matches."""
    if op == "=":
        return pc.equal(values, pattern)
    if op == "!=":
        return pc.not_equal(values, pattern)
    if op in ("=~", "!~"):
        hit = _regex_hits(values, pattern)
        if op == "!~":
            hit = pc.invert(hit)
        return pc.and_(hit, pc.is_valid(values))
    raise ValueError(f"unknown matcher op {op!r}")


def _distinct_sorted(t: pa.Table) -> list[tuple]:
    """Distinct rows of ``t``, ordered by its columns left to right in
    byte order, nulls first (Spark's ``distinct().orderBy(...)``)."""
    cols = t.column_names
    d = t.group_by(cols).aggregate([])
    d = d.sort_by([(c, "ascending") for c in cols], null_placement="at_start")
    return list(zip(*(d[c].to_pylist() for c in cols)))


class ArrowRegistry:
    """SHOW answers over the series index's table, vectorized with
    ``pyarrow.compute``: no Spark job."""

    def __init__(self, table: pa.Table):
        self.t = table

    def where(self, matchers: list[tuple[str, str, str]], or_groups=()) -> "ArrowRegistry":
        """Tag matchers ANDed with each OR group, through ``map_lookup``
        and Spark's three-valued logic: a missing tag matches none of
        the four ops."""
        def one(key: str, op: str, val: str):
            tag = pc.map_lookup(self.t["tags"], pa.scalar(key, pa.string()), "first")
            return _arrow_match(tag, op, val)

        groups = [[m] for m in matchers] + list(or_groups)
        masks = [reduce(pc.or_kleene, (one(*m) for m in g)) for g in groups]
        return ArrowRegistry(self.t.filter(reduce(pc.and_kleene, masks))) if masks else self

    def from_measurement(self, meas: str | None) -> "ArrowRegistry":
        if meas is None:
            return self
        rx = slash_regex(meas)
        col = self.t["measurement"]
        mask = pc.equal(col, meas) if rx is None else _regex_hits(col, rx)
        return ArrowRegistry(self.t.filter(mask))

    def measurements(self, op: str | None = None, pattern: str | None = None) -> list[str]:
        names = pc.unique(self.t["measurement"])
        if op == "=~":
            names = names.filter(_regex_hits(names, pattern))
        elif op == "=":
            names = names.filter(pc.equal(names, pattern))
        return [m for (m,) in _distinct_sorted(pa.table({"measurement": names}))]

    def field_keys(self) -> list[tuple]:
        return _distinct_sorted(self.t.select(["measurement", "name"]))

    def _entries(self, keys: list[str] | None = None, key_rx: str | None = None) -> pa.Table:
        """The explode of ``tags``: (row, measurement, key, value) per
        map entry whose key is in ``keys`` / matches ``key_rx`` (all
        when both are None); ``row`` indexes the entry's registry row."""
        ent = self.t["tags"].combine_chunks().cast(_ENTRIES)
        parent = pc.list_parent_indices(ent)
        flat = pc.list_flatten(ent)
        key, value = flat.field("key"), flat.field("value")
        mask = None
        if keys is not None:
            mask = pc.is_in(key, value_set=pa.array(keys, pa.string()))
        if key_rx is not None:
            mask = _regex_hits(key, key_rx)
        if mask is not None:
            key, value, parent = key.filter(mask), value.filter(mask), parent.filter(mask)
        return pa.table(
            {
                "row": parent,
                "measurement": self.t["measurement"].take(parent),
                "key": key,
                "value": value,
            }
        )

    def tag_keys(self) -> list[tuple]:
        return _distinct_sorted(self._entries().select(["measurement", "key"]))

    def tag_values(self, keys: list[str] | None, key_rx: str | None) -> list[tuple]:
        return _distinct_sorted(self._entries(keys, key_rx).select(["measurement", "key", "value"]))

    def tag_value_count(self, keys: list[str] | None, key_rx: str | None) -> int:
        return self._entries(keys, key_rx).group_by(["key", "value"]).aggregate([]).num_rows

    def series_keys(self) -> list[str]:
        """``measurement,k1=v1,k2=v2`` with each row's entries sorted by
        key (``show_series``'s ``array_sort(map_entries)``); an entry
        with a null value is skipped, as ``concat_ws`` skips it."""
        e = self._entries()
        e = e.append_column("pair", pc.binary_join_element_wise(e["key"], e["value"], "="))
        e = e.filter(pc.is_valid(e["pair"])).sort_by([("row", "ascending"), ("key", "ascending")])
        counts = np.bincount(e["row"].to_numpy(), minlength=self.t.num_rows)
        offsets = pa.array(np.concatenate([[0], np.cumsum(counts)]), pa.int32())
        joined = pc.binary_join(pa.ListArray.from_arrays(offsets, e["pair"].combine_chunks()), ",")
        meas = self.t["measurement"].combine_chunks()
        keys = pc.if_else(pa.array(counts > 0), pc.binary_join_element_wise(meas, joined, ","), meas)
        return [k for (k,) in _distinct_sorted(pa.table({"key": keys}))]

    def cardinality(self, subject: str) -> int:
        if subject == "series":
            return self.t.num_rows  # the index keeps one row per fingerprint
        if subject == "measurement":
            return pc.count_distinct(self.t["measurement"], mode="all").as_py()
        if subject == "field key":
            return self.t.group_by(["measurement", "name"]).aggregate([]).num_rows
        if subject == "tag key":
            return pc.count_distinct(self._entries()["key"], mode="all").as_py()
        raise ValueError(f"unknown cardinality subject {subject!r}")

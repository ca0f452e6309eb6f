"""Metadata operators — the SHOW family (SURVEY.md §2.11).

Each compiles to a distinct/explode over the series registry, exactly
as the reference compiles SHOW statements to GROUP BY / ARRAY JOIN
queries over ``time_series`` (cflux.js:450-657). The registry is tiny
relative to facts, so these are cheap; at scale they never touch the
fact table at all.

The registry DataFrame contract here: columns
(fingerprint, measurement, name, tags map<string,string>).
For the driver's `events` fixture a registry is derived via
`events_registry` (user_id → series key, event_type → name, props →
tags), per FIXTURES.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cflux_spark.functions.scalars import props_map


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

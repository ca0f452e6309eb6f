"""Distributed frequency sketches (SURVEY.md §2.13 X46).

COUNT-MIN SKETCH (Cormode & Muthukrishnan 2005, J. Algorithms —
public paper): the fixed-size frequency summary a 100 TB token pass
ships instead of its full vocabulary. depth×width counters; each item
increments one counter per row at position h_i(x); a point query
reads min_i counter[i][h_i(x)] — an overestimate, never an under-
estimate (the CMS guarantee), with error ≤ εN at probability 1−δ for
width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.

Engine shape: the sketch IS a DataFrame of (row, col, cnt) — built by
one groupBy over the k-exploded occurrences (map-side combine makes
each partition's contribution a partial sketch; Spark's shuffle ADDS
partial sketches, which is exactly the CMS merge operation — the
reason sketches scale). depth·width ≤ a few thousand rows broadcast
back for point queries; the corpus never shuffles on anything wider
than the (row, col) counter key. All arithmetic is integer (md5-
derived Kirsch–Mitzenmacher positions, exact counts, min over k
longs), so the SQL oracle replays it bit-for-bit — the HLL tier
(q_hll_rollup) stays the approximate-cardinality sibling.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _positions(item, depth: int, width: int):
    """Kirsch–Mitzenmacher double hashing off one md5: position of
    ``item`` in sketch row i is (h1 + i·h2) mod width — the same
    two-hash recipe as the Bloom tier, so both engines derive
    identical counter coordinates."""
    h1 = F.conv(F.substring(F.md5(item), 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(item), 9, 8), 16, 10).cast("long").bitwiseOR(
        F.lit(1)
    )
    return [((h1 + F.lit(i) * h2) % width).alias(f"_p{i}") for i in range(depth)]


def cms_build(
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 4096,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a count-min sketch over an item frame — one row per
    occurrence, or (with ``weight_col``) one row per DISTINCT item
    carrying its count. The weighted form yields bit-identical
    counters while hashing each item once instead of once per
    occurrence — at sf1 that cut the q_cms_topk build from
    per-occurrence md5 over ~15M tokens to vocabulary-sized work
    (measured 11.3× → see SCALE.md). Returns the (row, col, cnt)
    counter frame — depth·width counters at most, usually far fewer
    (zero counters carry no row; point queries COALESCE absent
    counters to 0)."""
    pos = _positions(F.col(item_col), depth, width)
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    exploded = items.select(
        w.alias("_w"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row"), p.alias("col"))
                    for i, p in enumerate(pos)
                ]
            )
        ).alias("_rc"),
    ).select(F.col("_rc.row").alias("row"), F.col("_rc.col").alias("col"), "_w")
    return exploded.groupBy("row", "col").agg(F.sum("_w").alias("cnt"))


#: 32-bit hashed universe, branching factor 4 → 16 dyadic levels
#: (level ℓ key = u >> 2ℓ; level 15 has 4 root nodes)
HH_LEVELS = 16


def _node_positions(lvl_col, key_col, depth: int, width: int):
    """KM positions of a dyadic node: the hashed string is
    'L<lvl>:<key>' so every level gets independent rows — identical
    construction in the SQL oracle."""
    s = F.concat(
        F.lit("L"), lvl_col.cast("string"), F.lit(":"), key_col.cast("string")
    )
    return _positions(s, depth, width)


def cms_heavy_hitters(
    items: DataFrame,
    item_col: str = "item",
    phi: float = 0.002,
    depth: int = 4,
    width: int = 2048,
    weight_col: str | None = None,
) -> DataFrame:
    """All items with frequency ≥ φ·N, found by the dyadic count-min
    descent (Cormode & Muthukrishnan 2005 §4 — the range-query /
    heavy-hitter construction): items hash into a 32-bit universe; a
    CMS per dyadic LEVEL (branch 4, 16 levels — level ℓ summarizes
    the prefix u >> 2ℓ) summarizes range counts; the query walks from
    the 4 root nodes down, expanding only children whose estimate ≥
    T = ⌈φN⌉. Because CMS never underestimates, every TRUE heavy
    hitter's whole ancestor path passes — NO FALSE NEGATIVES, the
    guarantee pinned by the unit test; false positives are bounded by
    the per-level εN overcount.

    The descent is equivalent to "keep an item iff ALL 16 of its
    ancestor nodes estimate ≥ T" (a leaf is reached iff every
    ancestor passed) — the flat form the SQL oracle replays with zero
    recursion. All arithmetic is exact integers (md5-derived
    positions, long counters), so both engines agree bit-for-bit.

    Scale shape (100 TB): the level sketches build from ONE weighted
    vocabulary aggregate (md5 once per distinct item per level, the
    q_cms_topk lesson) via a single (lvl, row, col) counter groupBy —
    map-side partials ARE the merge. The sketch is FIXED-SIZE by
    construction (≤ levels·depth·width counters, independent of
    corpus size — asserted), so it is collected and the descent runs
    driver-side in Python (frontier ≤ 4/φ + false positives per
    level), exactly as a production heavy-hitter query holds its
    summary locally; the corpus reappears once at the end,
    semi-joined against the ≤ 1/φ surviving leaf buckets (broadcast).
    Output: (item, exact, estimate, true_heavy) where estimate is the
    leaf-level CMS estimate and true_heavy = exact ≥ T.

    The returned plan reads the vocabulary CACHE — the caller owns it
    and should ``.unpersist()`` when done (the graph.pagerank
    contract)."""
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    vocab = (
        items.select(F.col(item_col).alias("item"), w.alias("_w"))
        .groupBy("item")
        .agg(F.sum("_w").alias("exact"))
        .withColumn(
            "_u", F.conv(F.substring(F.md5("item"), 1, 8), 16, 10).cast("long")
        )
        .persist()
    )
    thr = vocab.agg(
        F.ceil(F.lit(float(phi)) * F.sum("exact")).cast("long").alias("_t")
    )
    # all 16 level sketches in one pass off the vocabulary: each item
    # contributes its count to its node's cells at every level
    leveled = vocab.select(
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(l).alias("lvl"),
                        F.shiftrightunsigned(F.col("_u"), 2 * l).alias("key"),
                    )
                    for l in range(HH_LEVELS)
                ]
            )
        ).alias("_n"),
    ).select("exact", F.col("_n.lvl").alias("lvl"), F.col("_n.key").alias("key"))
    pos = _node_positions(F.col("lvl"), F.col("key"), depth, width)
    sketch = (
        leveled.select(
            "exact",
            "lvl",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("row"), p.alias("col"))
                        for i, p in enumerate(pos)
                    ]
                )
            ).alias("_rc"),
        )
        .select("lvl", F.col("_rc.row").alias("row"), F.col("_rc.col").alias("col"), "exact")
        .groupBy("lvl", "row", "col")
        .agg(F.sum("exact").alias("cnt"))
        .persist()
    )
    # The level sketches are FIXED-SIZE by construction (≤ levels ·
    # depth · width counters, independent of corpus size), so they
    # are legitimately driver-memory-sized — exactly the summary a
    # production heavy-hitter query holds locally. The descent is
    # therefore pure Python over the collected counters: the first
    # implementation walked the 16 levels as chained DataFrame jobs
    # and paid 16 sequential stage latencies for ≤ 4/φ-row frames
    # (measured 10.1 s at sf0.1 — the most expensive sweep key);
    # this form is 3 Spark jobs total (vocab agg, sketch agg + the
    # bounded collect, final semi-join). Same integer arithmetic,
    # same output, same SQL oracle.
    import hashlib

    max_cells = HH_LEVELS * depth * width
    counters: dict[tuple[int, int, int], int] = {
        (r["lvl"], r["row"], r["col"]): r["cnt"] for r in sketch.collect()
    }
    assert len(counters) <= max_cells, "CMS sketch exceeded its fixed-size bound"
    t_val = int(thr.first()["_t"])

    def _est(lvl: int, key: int) -> int:
        d = hashlib.md5(f"L{lvl}:{key}".encode()).hexdigest()
        h1 = int(d[:8], 16)
        h2 = int(d[8:16], 16) | 1
        return min(
            counters.get((lvl, i, (h1 + i * h2) % width), 0) for i in range(depth)
        )

    frontier = [k for k in range(4) if _est(HH_LEVELS - 1, k) >= t_val]
    for l in range(HH_LEVELS - 2, -1, -1):
        frontier = [
            c
            for k in frontier
            for c in (4 * k, 4 * k + 1, 4 * k + 2, 4 * k + 3)
            if _est(l, c) >= t_val
        ]
    spark = items.sparkSession
    leaves = spark.createDataFrame(
        [(int(u), _est(0, u)) for u in frontier] or [(-1, 0)],
        "_u long, estimate long",
    )
    return (
        vocab.join(F.broadcast(leaves), "_u")
        .crossJoin(F.broadcast(thr))
        .select(
            "item",
            "exact",
            "estimate",
            (F.col("exact") >= F.col("_t")).alias("true_heavy"),
        )
    )


def kmv_overlap(
    df: DataFrame,
    elem_col: str,
    group_col: str,
    k: int = 128,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise set-overlap matrix between groups via K-MINIMUM-VALUES
    sketches (Bar-Yossef et al. 2002, RANDOM — public paper; the
    bottom-k Jaccard estimator of Cohen & Kaplan 2007): each group
    keeps only its k smallest element hashes; for a pair, the fraction
    of the UNION's k smallest present in BOTH sketches is an unbiased
    Jaccard estimate. The cross-source contamination/redundancy audit
    a pipeline runs before mixing corpora — without ever joining the
    corpora themselves.

    Everything is exact integer arithmetic on 60-bit md5 hashes
    (deterministic ranks; hash ties collapse identically in both
    engines because sketches hold DISTINCT (group, hash) rows), so
    the SQL oracle replays estimates bit-for-bit. The output also
    carries the EXACT Jaccard per pair — cheap at fixture scale and
    the estimator-quality pin; at 100 TB you drop it and keep the
    sketch path, whose cost is groups·k regardless of corpus size.

    Scale shape: one distinct + one per-group top-k window (the only
    per-group sort); sketches are groups·k rows — broadcast-sized for
    thousands of groups; pair expansion is sketch×pairs, never
    corpus-sized. The exact tier's element self-join shuffles on the
    element hash and fans out at most groups² per hot element.

    Output: (src_a, src_b, inter_topk, jaccard_est, jaccard_exact)
    for each unordered group pair a < b.

    The distinct (group, hash) element frame feeds four downstream
    consumers (sketch, group list, exact tier, sizes), so it is
    cached — the returned plan reads that cache; the caller owns it
    and should ``.unpersist()`` when done (the graph.pagerank
    contract)."""
    from pyspark.sql import Window

    # distinct FIRST, hash second (round-12): the old hash-then-
    # distinct computed md5 per element OCCURRENCE on the scan's
    # partitioning (one task off a single-file scan); deduping the
    # raw (group, element) pairs first runs the md5 on DISTINCT
    # elements only, after the distinct's exchange — parallel and
    # strictly less hashing. Set-identical: {h(e) for distinct e} =
    # {h(e) for all e}, and the second distinct collapses hash
    # collisions exactly as the old form did.
    h = F.conv(F.substring(F.md5(F.col("_e")), 1, 15), 16, 10).cast("long")
    elems = (
        df.select(F.col(group_col).alias("grp"), F.col(elem_col).alias("_e"))
        .distinct()
        .select("grp", h.alias("h"))
        .distinct()
        .persist()
    )
    # Materialize the cache from a DRIVER THREAD (round 13, guide §2.6
    # — the classifier's proven overlap pattern): the returned plan's
    # four consumers (sketch, group list, exact tier, sizes) otherwise
    # RACE to compute the unmaterialized cache — measured round 12 as
    # ~20 s of overlapping duplicate job time inside 3.6 s wall at
    # sf0.1 (free locally on idle cores, real duplicated work on a
    # busy cluster). The fill starts now and overlaps the caller's
    # remaining plan construction and early jobs; consumers that reach
    # a partition mid-fill block on its cache lock instead of
    # recomputing the whole upstream. This makes the cluster-correct
    # shape the DEFAULT rather than a docstring note (VERDICT r12 #5);
    # the eager SERIAL barrier variant was measured and rejected in
    # r12 (2.60 -> 3.06 s) — this one costs no wall time locally.
    from pyspark import InheritableThread

    def _fill() -> None:
        try:
            elems.count()
        except Exception:  # noqa: BLE001 — the fill is best-effort
            # the first consumer recomputes (a session torn down before
            # the fill ran lands here too): log it, do not raise
            logging.getLogger(__name__).debug("kmv_overlap cache fill failed", exc_info=True)

    InheritableThread(target=_fill, daemon=True).start()
    w = Window.partitionBy("grp").orderBy("h")
    sk = (
        elems.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .drop("_r")
    )
    groups = elems.select("grp").distinct()
    pairs = (
        groups.select(F.col("grp").alias("src_a"))
        .crossJoin(groups.select(F.col("grp").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    pa = pairs.join(sk.withColumnRenamed("grp", "src_a"), "src_a").select(
        "src_a", "src_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    pb = pairs.join(sk.withColumnRenamed("grp", "src_b"), "src_b").select(
        "src_a", "src_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    pu = (
        pa.union(pb)
        .groupBy("src_a", "src_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("src_a", "src_b").orderBy("h")
    est = (
        pu.withColumn("_r", F.row_number().over(wu))
        .filter(F.col("_r") <= k)
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.col("in_a") * F.col("in_b")).alias("inter_topk"),
            # when the union has fewer than k distinct hashes the
            # union is fully known — the estimator divides by the
            # realized sketch size, not the nominal k
            F.count("*").alias("_union_k"),
        )
    )
    # exact tier: element-hash self-join restricted to a < b
    ei = (
        elems.select(F.col("grp").alias("src_a"), "h")
        .join(elems.select(F.col("grp").alias("src_b"), "h"), "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("_inter"))
    )
    sz = elems.groupBy("grp").agg(F.count("*").alias("_n"))
    return (
        pairs.join(est, ["src_a", "src_b"], "left")
        .join(ei, ["src_a", "src_b"], "left")
        .join(F.broadcast(sz.withColumnRenamed("grp", "src_a").withColumnRenamed("_n", "_na")), "src_a")
        .join(F.broadcast(sz.withColumnRenamed("grp", "src_b").withColumnRenamed("_n", "_nb")), "src_b")
        .select(
            "src_a",
            "src_b",
            F.coalesce(F.col("inter_topk"), F.lit(0)).alias("inter_topk"),
            F.round(
                F.coalesce(F.col("inter_topk"), F.lit(0))
                / F.coalesce(F.col("_union_k"), F.lit(1)).cast("double"),
                round_to,
            ).alias("jaccard_est"),
            F.round(
                F.coalesce(F.col("_inter"), F.lit(0))
                / (F.col("_na") + F.col("_nb") - F.coalesce(F.col("_inter"), F.lit(0))),
                round_to,
            ).alias("jaccard_exact"),
        )
    )


def cms_point_query(
    sketch: DataFrame,
    queries: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 4096,
) -> DataFrame:
    """Point-estimate each queried item's frequency: min over the
    sketch's depth rows of the counter at that item's position
    (0 when the counter row is absent). Output: (item, estimate).
    The estimate NEVER underestimates the true count — the CMS
    guarantee a contamination/top-k budget relies on, pinned by the
    oracle against exact counts."""
    pos = _positions(F.col(item_col), depth, width)
    probes = queries.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row"), p.alias("col"))
                    for i, p in enumerate(pos)
                ]
            )
        ).alias("_rc"),
    ).select(F.col(item_col), F.col("_rc.row").alias("row"), F.col("_rc.col").alias("col"))
    return (
        probes.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("estimate"))
    )

"""Deduplication operators for training-data pipelines (SURVEY.md §2.13).

Four tiers, each the right tool at a different scale/fidelity point:

- exact:     hash-groupBy on the full text. One shuffle on a
             well-distributed key; at 100 TB use `md5(text)` as the
             group key so the shuffle rows carry a 16-byte digest, not
             the document body.
- ngram_jaccard: exact Jaccard over token shingles via explode +
             self-join on shingle. Quadratic in bucket size — correct
             gold standard at small scale, the oracle for the
             approximate tiers.
- minhash_lsh: shingle → minhash signatures → band-bucket join.
             Near-linear: candidate pairs only form inside identical
             (band, bucket-hash) groups. This is the 100 TB path.
- simhash:   64-bit rotational fingerprint; hamming-near duplicates
             join on band keys similarly.

All are pure DataFrame ops (explode / groupBy / join) — no Python in
the hot path except the hash primitives, which use built-in xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cflux_spark.sources import commit


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X1 — keep the lowest id per exact text. groupBy(min) rather than
    dropDuplicates so the survivor is deterministic."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, text_col)
    )


def tokenize(text: Column, lower: bool = True) -> Column:
    t = F.lower(text) if lower else text
    return F.filter(F.split(t, r"\s+"), lambda x: x != "")


def shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Word-n-gram shingles per document: (id, shingle).

    `distinct=False` skips the dedup shuffle — correct for consumers
    whose aggregation is duplicate-idempotent (MinHash: min over a
    multiset equals min over its set)."""
    # Each intermediate (token array, gram array) is MATERIALIZED as a
    # column before re-use: Catalyst does no common-subexpression
    # elimination across HOF expressions, so referencing the tokenize
    # expr at every use site re-runs the regex split per reference
    # (measured 5.6× on the contamination op; same class here).
    # Pinned-count spread of the doc-level rows (round-12,
    # functions/partitioning.py): a single-file scan would run the
    # whole zip+concat gram build in one task; downstream doc-keyed
    # aggregations reuse this partitioning, so the exchange count is
    # unchanged.
    from cflux_spark.functions.partitioning import spread_by

    base = spread_by(
        df.select(F.col(id_col), tokenize(F.col(text_col)).alias("_toks")), id_col
    )
    toks = F.col("_toks")
    # sliding n-gram via arrays_zip of n shifted views of the token
    # array — one zip + one transform, instead of a slice+concat per
    # position (which is quadratic-ish in interpreted HOF calls).
    # Shorter-than-n docs yield one truncated shingle (zip pads the
    # shifted arrays with null; concat_ws skips nulls).
    shifted = [F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(1))) for i in range(n)]
    zipped = F.arrays_zip(*shifted)
    grams_all = F.transform(zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    staged = base.select(F.col(id_col), F.size(toks).alias("_nt"), grams_all.alias("_g"))
    # drop the trailing (n-1) partial shingles for docs longer than n
    grams = F.when(
        F.col("_nt") >= n,
        F.slice(F.col("_g"), 1, F.greatest(F.col("_nt") - (n - 1), F.lit(1))),
    ).otherwise(F.slice(F.col("_g"), 1, 1))
    out = staged.select(F.col(id_col), F.explode(grams).alias("shingle")).filter(
        F.col("shingle") != ""
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (a < b) with
    |A∩B| / |A∪B| ≥ threshold. Output: id_a, id_b, jaccard.

    Scale: the self-join explodes on hot shingles; at 100 TB run the
    MinHash-LSH tier instead and reserve this as the verifier on
    candidate pairs (where it is linear in candidates).

    ``max_shingle_df`` is the candidate-budget knob for running this
    tier directly on a corpus whose hot shingles would otherwise
    quadratify the self-join (measured: the sf1 recipe's planted
    10-doc clusters alone take the verifier 12–16× super-linear —
    pair_growth_probe --jaccard): shingles occurring in more than
    ``max_shingle_df`` documents are excluded from CANDIDATE
    GENERATION ONLY, bounding join fan-out per shingle to
    C(max_shingle_df, 2); the intersection count is then recomputed
    over the FULL shingle sets of the surviving candidate pairs
    (linear in candidates — the verifier shape), so every reported
    jaccard is exact. The only loss is recall for a pair whose
    overlap is exclusively stop-shingles — the documented contract of
    every capped dedup pipeline (the ExactSubstr / MinHash literature
    drops super-common grams for the same reason). For guaranteed
    recall at scale use the MinHash-LSH or SemDeDup tiers."""
    sh = shingles(df, n, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if max_shingle_df is None:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        capped = sh.join(rare, "shingle", "left_semi")
        cand = (
            capped.select(F.col(id_col).alias("id_a"), "shingle")
            .join(capped.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        inter = (
            cand.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), round_to),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    sh: DataFrame,
    num_hashes: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature per doc: min over the doc's shingles of
    `num_hashes` independent hash functions.

    The variable-length shingle string is hashed ONCE (xxhash64);
    the i-th function is then derived by hashing the (fixed-width)
    base long with the index — 64 long-hashes per shingle instead of
    64 string-hashes, all inside whole-stage codegen. One groupBy with
    map-side partial min keeps the shuffle at one row per doc.

    The 64 aggregate expressions build as SQL strings (round-12,
    guide §7.3 "planning time itself can become the bottleneck"): the
    nested-Column construction paid ~4 py4j round-trips per hash —
    hundreds of driver RPCs before a single task ran; one parsed
    string per aggregate is ~4× cheaper to construct, byte-identical
    in semantics (int literals stay INT, so xxhash64 seeds hash the
    same types)."""
    based = sh.withColumn("_base", F.xxhash64("shingle"))
    aggs = [F.expr(f"min(xxhash64(_base, {i})) AS h{i}") for i in range(num_hashes)]
    return based.groupBy(id_col).agg(*aggs)


def _band_stack(sig: DataFrame, num_hashes: int, bands: int, id_col: str) -> DataFrame:
    """LSH banding of a signature frame → (id, band_id, bh): each
    band's hash folds its rows_per_band signature components with one
    more xxhash64, then the per-band columns stack via explode. All
    codegen — a map over the signature frame, no shuffle."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.expr(
            "xxhash64("
            + ", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
            + f") AS band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    structs = ", ".join(
        f"struct({b} AS band_id, band{b} AS bh)" for b in range(bands)
    )
    return banded.select(
        F.col(id_col), F.expr(f"explode(array({structs})) AS bb")
    ).select(F.col(id_col), F.col("bb.band_id"), F.col("bb.bh"))


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 — MinHash + LSH banding candidate pairs (id_a < id_b,
    est_jaccard = fraction of matching minhashes).

    bands=16 × rows=4 over 64 hashes → s-curve threshold ≈ (1/16)^(1/4)
    ≈ 0.5. Candidates form only within equal band-signatures: the join
    is an equi-join on (band_id, band_hash) — shuffle-partitionable,
    no quadratic blowup except inside genuine near-dup clusters."""
    # distinct=False: MinHash min is idempotent to duplicate shingles,
    # so the dedup shuffle is pure overhead here
    sig = minhash_signatures(
        shingles(df, n, text_col, id_col, distinct=False), num_hashes, id_col
    ).cache()
    stacked = _band_stack(sig, num_hashes, bands, id_col)
    a = stacked.select(F.col(id_col).alias("id_a"), "band_id", "bh")
    b = stacked.select(F.col(id_col).alias("id_b"), "band_id", "bh")
    cand = (
        a.join(b, ["band_id", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # estimate similarity from full signatures for the surviving pairs
    # (selectExpr strings + one parsed match-count expression — the
    # minhash_signatures py4j-cost note applies to these 64-wide
    # projections too)
    sa = sig.selectExpr(
        f"{id_col} AS id_a", *[f"h{i} AS a{i}" for i in range(num_hashes)]
    )
    sb = sig.selectExpr(
        f"{id_col} AS id_b", *[f"h{i} AS b{i}" for i in range(num_hashes)]
    )
    matches = F.expr(
        " + ".join(f"CAST((a{i} = b{i}) AS INT)" for i in range(num_hashes))
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", matches / F.lit(num_hashes))
        .select("id_a", "id_b", "est_jaccard")
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iter: int = 20,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Cluster assignment over near-duplicate pairs: connected
    components, every document labeled with the MIN doc id reachable
    through the pair graph (singletons label themselves). Output:
    (doc_id, cluster_id) — the keep-one-per-cluster step downstream of
    any pair generator (exact Jaccard by default; pass `pairs` from
    MinHash-LSH / SimHash at scale).

    Iterative min-label propagation: each round every node takes the
    min of its own and its neighbors' labels — converges in
    O(graph diameter) rounds, and near-dup clusters are shallow (dozens
    of docs, diameter ≪ 20). Each round is one join + groupBy on the
    edge list; the driver-side loop does one tiny `limit(1).count()`
    convergence probe per round — the standard Spark shape for an
    iterative fixpoint (this is the one operator family where a driver
    loop is the design, not an accident). Every ``checkpoint_every``
    rounds the label frame localCheckpoints (round 6): caching reuses
    computed partitions but the LOGICAL plan still nests one
    join-per-round, so planning time and lineage depth grow linearly
    — at 20 rounds on a large graph the analyzer becomes the
    bottleneck and executor loss recomputes the whole chain;
    truncating lineage bounds both."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, n, threshold, text_col, id_col)
    half = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().cache()
    labels = (
        df.select(F.col(id_col).alias("node")).distinct().withColumn("label", F.col("node")).cache()
    )
    labels.count()
    cached = labels  # the materialized frame to unpersist next round
    converged = False
    for it in range(max_iter):
        nbr = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        # the changed-flag rides the propagation join itself (round 6:
        # the old shape paid a SECOND labels⋈new_labels join per round
        # just to probe convergence)
        staged = (
            labels.join(nbr, labels.node == nbr.dst, "left")
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias(
                    "new_label"
                ),
                (F.col("nbr_min") < F.col("label")).alias("_chg"),
            )
            .cache()
        )
        staged.count()
        changed = staged.filter(F.col("_chg")).limit(1).count()
        cached.unpersist()
        labels = staged.select(F.col("node"), F.col("new_label").alias("label"))
        cached = staged
        if changed == 0:
            converged = True
            break
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            # truncate lineage: the cached plan still nests one join
            # per round logically; localCheckpoint materializes the
            # current labels and resets the plan tree
            labels = labels.localCheckpoint(eager=True)
            cached.unpersist()
            cached = labels
    edges.unpersist()
    if not converged:
        # exiting on iteration exhaustion with labels still moving would
        # silently split long chains into several clusters — fail loudly
        # so the caller raises max_iter (diameter > max_iter is a data
        # smell for near-dup graphs, whose components are shallow)
        raise RuntimeError(
            f"dedup_clusters: label propagation did not converge within "
            f"max_iter={max_iter} rounds; a component's diameter exceeds "
            f"the bound — raise max_iter"
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))


def keep_canonical(
    df: DataFrame,
    clusters: DataFrame,
    order_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """One representative document per near-duplicate cluster — the
    "keep longest" curation policy (max ``order_col``, min doc id on
    ties, both deterministic): dedup pipelines keep the richest copy
    of a near-dup family rather than an arbitrary member. Input:
    the corpus plus any (doc_id, cluster_id) labeling
    (:func:`dedup_clusters`; MinHash/SimHash clusters at scale).
    Output: the kept rows, cluster_id attached.

    Scale: one shuffle keyed on cluster_id for the rank window;
    near-dup clusters are shallow (dozens of docs), so no partition
    holds more than one cluster's worth of contention — skew would
    require a single cluster of ~10^8 near-identical docs, which the
    upstream pair threshold makes structurally impossible.

    Docs absent from ``clusters`` are singletons and KEPT with
    cluster_id = their own id — LSH labelings typically cover only
    clustered docs, and an inner join would silently drop every
    unclustered doc from the kept set (round-7 ADVICE; same
    coalesce-to-self semantics as pipeline.curate_corpus)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    labeled = df.join(clusters.select(id_col, "cluster_id"), id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    packed: bool = False,
) -> DataFrame:
    """SimHash fingerprint per document: sign-sum of per-token hash
    bits. Pure column ops: explode tokens → per-bit ±1 votes → sum →
    sign bits → binary fingerprint.

    ``packed=True`` packs 3 bit-counters into 21-bit lanes of one
    long, so the 64 per-bit vote sums become 22 aggregate buffers —
    ~3× less aggregation state and shuffle payload (23 vs 65 longs per
    doc), which is the term that matters when the agg shuffle is
    network-bound on a real cluster. It is NOT the default because on
    local[32] it measures neutral standalone and ~30% SLOWER inside
    simhash_near_pairs: the fingerprint reconstruction is a deep
    nested expression, and CollapseProject inlines it once per band
    consumer (bench-measured round 4; the flat per-bit whens of the
    unpacked path tolerate that duplication better). Lane width 21 is
    chosen so the SUM ACCUMULATOR itself fits a signed long right up
    to the lane capacity: worst case n·(2^0+2^21+2^42) < 2^63 exactly
    while n < 2^21 (4×16-bit lanes would hit ANSI long overflow at
    n·2^48 ≥ 2^63 ≈ 32k tokens, far below their 65k lane cap). A
    document with ≥ 2^21 ≈ 2M tokens would corrupt its lane neighbors,
    so the plan RAISES (raise_error folded into the fingerprint
    expression — it cannot be optimized away) and routes you to
    ``packed=False``, whose plain per-bit sums have no width limit.
    Both modes are bit-identical (asserted in tests)."""
    # materialize the token hash ONCE as a projected column — inlining
    # xxhash64 into each of the 64 aggregate expressions would hash
    # every token 64× (no CSE across aggregate buffers). Doc-level
    # rows spread with a pinned count before the explode (round-12,
    # functions/partitioning.py) so the 65-buffer partial aggregation
    # parallelizes off a single-file scan; the doc-keyed final
    # aggregation reuses the partitioning — no extra exchange.
    from cflux_spark.functions.partitioning import spread_by

    toks = spread_by(
        df.select(F.col(id_col), tokenize(F.col(text_col)).alias("_tk")), id_col
    ).select(F.col(id_col), F.explode(F.col("_tk")).alias("tok")).select(
        F.col(id_col), F.xxhash64("tok").alias("_h")
    )
    h = F.col("_h")
    if not packed:
        # majority vote per bit via ones-count: vote_i > 0 ⇔ 2·ones_i > n.
        # Plain sums of extracted bits (no conditionals) keep the 64 agg
        # expressions inside whole-stage codegen; map-side partial agg
        # shrinks the shuffle to 65 longs per doc. The 64 aggregates and
        # the 64-term fingerprint reconstruction build as SQL strings
        # (round-12, guide §7.3): the nested-Column construction spent
        # ~1.3 s of DRIVER time per call on py4j round-trips before any
        # task ran — measured 2.3 s → 0.85 s end-to-end at sf0.1,
        # bit-identical output.
        votes = toks.groupBy(id_col).agg(
            F.expr("count(*) AS _n"),
            *[F.expr(f"sum(shiftright(_h, {i}) & 1) AS b{i}") for i in range(bits)],
        )
        # shiftleft (not a 1 << i literal) — 1 << 63 overflows a long
        fp = " + ".join(
            f"(CASE WHEN b{i} * 2 > _n THEN shiftleft(CAST(1 AS BIGINT), {i}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for i in range(bits)
        )
        return votes.select(F.col(id_col), F.expr(fp).alias("simhash"))

    lanes = 3
    lane_w = 21
    n_aggs = (bits + lanes - 1) // lanes  # 22 packed sums for 64 bits
    aggs = []
    for k in range(n_aggs):
        expr = None
        for j in range(lanes):
            bit = k + n_aggs * j  # agg k carries bits k, k+22, k+44
            if bit >= bits:
                continue
            term = F.shiftleft(F.shiftright(h, bit).bitwiseAND(F.lit(1)), lane_w * j)
            expr = term if expr is None else expr + term
        aggs.append(F.sum(expr).alias(f"p{k}"))
    votes = toks.groupBy(id_col).agg(F.count("*").alias("_n"), *aggs)
    lane_mask = (1 << lane_w) - 1
    fp = F.when(
        F.col("_n") >= F.lit(1 << lane_w),
        F.raise_error(
            F.lit(
                f"simhash(packed=True): document exceeds {(1 << lane_w) - 1} tokens "
                "(21-bit vote lanes would overflow); use packed=False"
            )
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    for k in range(n_aggs):
        for j in range(lanes):
            bit = k + n_aggs * j
            if bit >= bits:
                continue
            ones = F.shiftright(F.col(f"p{k}"), lane_w * j).bitwiseAND(F.lit(lane_mask))
            fp = fp + F.when(
                ones * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), bit)
            ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_py(text: str, bits: int = 64) -> int:
    """Bit-exact pure-Python twin of :func:`simhash` (unpacked path):
    whitespace-tokenize lowered text, XXH64(seed=42) per token — the
    same public algorithm Spark's ``xxhash64`` implements, via the
    `_xxh64` twin that already backs the C8 fingerprint parity
    (model/fingerprint.py) — majority-vote per bit. Exists so the
    operator can be ORACLE-checked: DuckDB has no xxhash64, so the
    q_simhash contract recomputes a sample's fingerprints with this
    twin and pins Spark-vs-twin equality in-plan."""
    import re as _re

    from cflux_spark.model.fingerprint import _xxh64

    toks = [t for t in _re.split(r"\s+", text.lower()) if t]
    n = len(toks)
    ones = [0] * bits
    for t in toks:
        h = _xxh64(t.encode("utf-8"), seed=42)
        for i in range(bits):
            ones[i] += (h >> i) & 1
    fp = 0
    for i in range(bits):
        if ones[i] * 2 > n:
            fp |= 1 << i
    return fp - (1 << 64) if fp >= (1 << 63) else fp


# Corpus size past which the minimal (d+1)-block pigeonhole's short
# single-block keys measurably collide and the auto-selector upgrades
# to Manku combination banding. Calibrated by scripts/pair_growth_probe:
# at 50k docs the 4-block tier's 16-bit keys proposed 22.8M accidental
# candidates for 210k genuine pairs (~m^2 growth); at <=5k docs (every
# test SF) the accidental tier is negligible and the minimal explode
# wins.
_AUTO_BANDING_THRESHOLD = 20_000


def _block_widths(bits: int, nb: int) -> list[int]:
    """BALANCED fingerprint partition: the first bits%nb blocks get
    ⌈bits/nb⌉ bits, the rest ⌊bits/nb⌋ — every block within one bit of
    even. The ceil-width scheme this replaced (round 11) left a runt
    trailing block whenever nb ∤ bits — e.g. 9 blocks of ceil(64/9)=8
    bits puts block 8 at width ZERO, a band key that matches the whole
    corpus (measured: the d=8 tier at 50k docs ran 2× slower than its
    own r10 baseline through that degenerate band)."""
    base, extra = divmod(bits, nb)
    return [base + 1] * extra + [base] * (nb - extra)


def _auto_n_blocks(n_docs: int, max_hamming: int, bits: int = 64) -> int:
    """Pick the banding tier for :func:`hamming_near_pairs` from corpus
    size — pure function, unit-tested directly.

    Below ``_AUTO_BANDING_THRESHOLD`` docs: the minimal pigeonhole
    (``d + 1`` blocks, one block per key — smallest explode). Past it:
    the smallest feasible ``nb`` whose combination keys are wide enough
    that the EXPECTED accidental candidate tier stays well under the
    corpus size — key bits ≥ log2(n) + log2(C(nb, nb−d)) + 8, i.e.
    sum over tables of n²/2^keybits ≤ n/256. Feasibility = key fits a
    long (≤ 63 bits) and explode ≤ 64 tables. If no feasible tier
    meets the bound (large ``max_hamming`` exhausts the 64 fingerprint
    bits), falls back to the MINIMAL ``d + 1`` pigeonhole and warns —
    candidates stay exact-recall either way, only the tier size grows
    (measured: wider combos cut d=8 candidates only 694M→477M for a
    5× explode, so the minimal tier is the better trade)."""
    import math
    import warnings
    from math import comb

    d = max_hamming
    if n_docs < _AUTO_BANDING_THRESHOLD:
        return d + 1
    need = math.log2(max(n_docs, 2))
    for nb in range(d + 1, min(d + 7, bits + 1)):
        widths = _block_widths(bits, nb)
        keep = nb - d
        # the collision rate is governed by the NARROWEST combination
        # key — sum of the keep smallest block widths (the round-11
        # lesson: ceil-width blocks left a runt block whose combos
        # collided like keys 2^6 narrower than the nominal keep×width)
        worst = sum(sorted(widths)[:keep])
        widest = sum(sorted(widths, reverse=True)[:keep])
        ncombos = comb(nb, keep)
        if widest > 63 or ncombos > 64:
            continue
        if worst >= need + math.log2(ncombos) + 8:
            return nb
    # No tier meets the bound (large max_hamming exhausts the 64
    # fingerprint bits — Manku's construction targets d≈3; d≈8 wants
    # 128-bit fingerprints). Fall back to the MINIMAL explode: at this
    # radius genuine hamming-d neighborhoods dominate the candidate
    # tier, so wider combination keys buy little (measured at sf1,
    # d=8, 50k docs: 694M candidates at 9 tables vs 477M at 45 tables)
    # while multiplying the explode 5×; and the verified path is
    # tier-independent anyway — Catalyst pushes the popcount filter
    # below the candidate distinct (12.8 s vs 15.3 s measured).
    warnings.warn(
        f"hamming_near_pairs: no banding tier fully covers {n_docs} docs at "
        f"max_hamming={d} with {bits}-bit fingerprints; keeping the minimal "
        f"{d + 1}-block pigeonhole — recall stays exact but the candidate "
        "tier may grow superlinearly (consider a wider fingerprint or the "
        "MinHash tier)",
        stacklevel=3,
    )
    return d + 1


def hamming_near_pairs(
    fp: DataFrame,
    max_hamming: int = 3,
    fp_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 64,
    keep_all_candidates: bool = False,
    n_blocks: int | None = None,
    corpus_size: int | None = None,
) -> DataFrame:
    """Hamming-near pairs over ANY 64-bit-fingerprint column:
    (id_a < id_b, hamming ≤ max_hamming). Output: id_a, id_b, hamming.
    Shared engine behind :func:`simhash_near_pairs` (text) and
    :func:`~cflux_spark.extensions.multimodal.image_dhash` pairing
    (perceptual image dedup) — any signature whose similarity is
    Hamming distance plugs in.

    Candidate generation is EXACT (pigeonhole, not probabilistic): the
    fingerprint splits into ``n_blocks`` bit-blocks (default
    max_hamming + 1) and each candidate table keys on a COMBINATION of
    (n_blocks − max_hamming) blocks — a pair at hamming distance ≤ d
    leaves ≥ n_blocks − d blocks untouched, so at least one combination
    key matches exactly (Manku et al. 2007, WWW — the web-scale simhash
    dedup construction). Candidates form via an equi-join on
    (band_id, band_bits); popcount(xor) then verifies exactly.

    ``n_blocks=None`` (the default) AUTO-SELECTS the tier from corpus
    size (:func:`_auto_n_blocks`): the minimal (d+1)-block pigeonhole
    below ``_AUTO_BANDING_THRESHOLD`` docs, Manku combination banding
    (e.g. 6 → C(6,3)=20 tables keyed on 33 bits for d=3) past it —
    because the round-10 probe measured the 4-block tier's 16-bit keys
    colliding into 22.8M accidental candidates for 210k genuine pairs
    at 50k docs (~m² growth). Pass ``corpus_size=`` to skip the
    ``fp.count()`` the auto path otherwise runs (one column-pruned
    pass), or pin ``n_blocks=`` explicitly to bypass auto-selection. Same join shape either way: one band-key shuffle,
    nothing quadratic outside genuine clusters.

    ``keep_all_candidates=True`` skips the hamming cutoff and returns
    every pigeonhole candidate with its exact distance — for tuning
    ``max_hamming``/``n_blocks`` against a corpus, and for measuring
    the verifier tier's size directly (scripts/pair_growth_probe.py)."""
    from itertools import combinations

    d = max_hamming
    if n_blocks is not None:
        nb = n_blocks
    else:
        n_docs = corpus_size if corpus_size is not None else fp.count()
        nb = _auto_n_blocks(n_docs, d, bits)
    if nb <= d:
        raise ValueError(f"n_blocks must exceed max_hamming ({d})")
    if nb > bits:
        raise ValueError(f"n_blocks={nb} exceeds the {bits} fingerprint bits")
    widths = _block_widths(bits, nb)
    offsets = [sum(widths[:i]) for i in range(nb)]
    keep = nb - d  # blocks per combination key
    if sum(sorted(widths, reverse=True)[:keep]) > 63:
        raise ValueError(
            f"combination key spans {sum(sorted(widths, reverse=True)[:keep])} "
            "bits — does not fit a long; raise n_blocks or max_hamming"
        )
    combos = list(combinations(range(nb), keep))
    if len(combos) > 64:
        raise ValueError(
            f"{len(combos)} candidate tables (C({nb},{keep})) — explode too wide; "
            "lower n_blocks"
        )

    def block(i: int) -> str:
        mask = (1 << widths[i]) - 1
        # arithmetic shiftright sign-extends, but the mask truncates to
        # the block width — equivalent to a logical shift
        return f"(shiftright({fp_col}, {offsets[i]}) & {mask})"

    # band keys as SQL strings (round-12, guide §7.3 — the py4j-chatter
    # note on minhash_signatures; semantics unchanged: INT literals,
    # BIGINT fingerprint arithmetic)
    band_structs = []
    for band_id, combo in enumerate(combos):
        key = "CAST(0 AS BIGINT)"
        pos = 0
        for blk in combo:
            key = f"({key} | shiftleft({block(blk)}, {pos}))"
            pos += widths[blk]
        band_structs.append(f"struct({band_id} AS band_id, {key} AS band_bits)")
    stacked = fp.select(
        F.col(id_col),
        F.col(fp_col).alias("_fp"),
        F.expr(f"explode(array({', '.join(band_structs)})) AS bb")
    ).select(F.col(id_col), "_fp", F.col("bb.band_id"), F.col("bb.band_bits"))
    a = stacked.select(
        F.col(id_col).alias("id_a"), F.col("_fp").alias("fp_a"), "band_id", "band_bits"
    )
    b = stacked.select(
        F.col(id_col).alias("id_b"), F.col("_fp").alias("fp_b"), "band_id", "band_bits"
    )
    cand = (
        a.join(b, ["band_id", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
    out = cand.withColumn("hamming", ham)
    if not keep_all_candidates:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out.select("id_a", "id_b", "hamming")


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    keep_all_candidates: bool = False,
    n_blocks: int | None = None,
    corpus_size: int | None = None,
) -> DataFrame:
    """Hamming-near duplicate pairs from SimHash fingerprints — see
    :func:`hamming_near_pairs` for the banding/verification shape and
    the ``n_blocks`` scale knob (combination banding auto-selected from
    corpus size when 16-bit single-block keys would collide). When the
    auto path needs the corpus size it counts the RAW ``df`` here — a
    column-pruned (often metadata-only) scan — rather than the simhash
    frame, which would run the fingerprint computation twice.

    Round 10 fix: ``keep_all_candidates=True`` previously still applied
    the hamming cutoff (the flag was accepted but unused), so the
    pair-growth probe's simhash "candidate" counts silently equalled
    its verified counts. The flag is real now (honored in
    hamming_near_pairs) and the probe re-run pins the genuine
    candidate tier."""
    if n_blocks is None and corpus_size is None:
        corpus_size = df.count()
    return hamming_near_pairs(
        simhash(df, text_col, id_col, bits),
        max_hamming=max_hamming,
        fp_col="simhash",
        id_col=id_col,
        bits=bits,
        keep_all_candidates=keep_all_candidates,
        n_blocks=n_blocks,
        corpus_size=corpus_size,
    )


def edit_similarity_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Edit-distance verification tier for near-duplicate CANDIDATE
    pairs: normalized Levenshtein similarity
    ``1 - lev(a, b) / max(len(a), len(b))`` per pair — the
    character-level confirmation a fuzzy-dedup pipeline runs behind a
    banded candidate generator (MinHash/SimHash buckets propose,
    Levenshtein confirms).

    Spark's built-in ``levenshtein`` runs JVM-side in codegen — no
    Python. Cost is O(len_a × len_b) PER PAIR, which is exactly why
    this is the verifier tier: `pairs` is candidate-sized (LSH-bucket
    output), never corpus². The two doc-id joins re-attach text; at
    scale AQE broadcasts the candidate side. Rounding uses the
    engine-portable floor(x·10^r + 0.5)/10^r so both engines hash
    identically.

    Output: (id_a, id_b, edit_sim)."""
    scale = float(10 ** round_to)
    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    sim = 1 - F.levenshtein("_ta", "_tb") / F.greatest(F.length("_ta"), F.length("_tb"))
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.floor(sim * scale + F.lit(0.5)) / scale).alias("edit_sim"),
        )
    )


class MinHashIndex:
    """Persisted MinHash-LSH index for INCREMENTAL dedup: build once
    over the standing corpus, then screen each incoming batch (a daily
    crawl) against it without touching the corpus text again — the
    continuous-pipeline counterpart of :func:`minhash_lsh_pairs`,
    which re-signs the whole corpus on every call.

    Artifacts under ``path``:

    - ``signatures/``: (doc_id, h0..h{num_hashes-1}) parquet — the
      only big artifact, 8·num_hashes B/doc (512 B at 64 hashes:
      ~5 TB for a 10^10-doc corpus, ~20× smaller than its text).
    - ``meta.json``: shingle ``n``, ``num_hashes``, ``bands`` — a
      probe hashed with different parameters would silently match
      nothing, so ``__init__`` reads them back and probes can never
      run mismatched.

    Scale shape (the 100 TB story): ``probe(batch)`` scans the index
    and never shuffles it —
      1. band join: the index's banded projection (a codegen map over
         the signature scan) hash-joins the batch's banded keys, with
         the batch side BROADCAST — parallelism = index partitions,
         zero index movement;
      2. verify: the candidate corpus ids (near-dup-bounded, tiny)
         broadcast-semi-join the signature table to pull just those
         rows for the est_jaccard check.
    The batch is small by construction relative to the corpus;
    nothing quadratic, nothing driver-side. ``probe`` enforces the
    small-batch contract loudly (``MAX_BROADCAST_BAND_ROWS``) instead
    of letting an oversized broadcast OOM the executors."""

    #: banded keys a probe batch may broadcast (docs × bands); past
    #: this the probe raises with the big-batch alternatives rather
    #: than OOMing executors on the broadcast (the repo's
    #: guarded-collect discipline — cf. bpe.word_frequencies,
    #: similarity sample caps).
    MAX_BROADCAST_BAND_ROWS = 2_000_000

    def __init__(self, spark, path: str):
        import json
        import os

        self.spark = spark
        self.path = path.rstrip("/")
        commit.recover(self.path)
        with open(os.path.join(self.path, "meta.json")) as fh:
            meta = json.load(fh)
        self.n = int(meta["n"])
        self.num_hashes = int(meta["num_hashes"])
        self.bands = int(meta["bands"])

    @classmethod
    def build(
        cls,
        spark,
        corpus: DataFrame,
        path: str,
        n: int = 3,
        num_hashes: int = 64,
        bands: int = 16,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> "MinHashIndex":
        import json
        import os

        if num_hashes % bands:
            raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
        sig = minhash_signatures(
            shingles(corpus, n, text_col, id_col, distinct=False), num_hashes, id_col
        )
        root = path.rstrip("/")
        sig.withColumnRenamed(id_col, "doc_id").write.mode("overwrite").parquet(
            root + "/signatures"
        )
        os.makedirs(root, exist_ok=True)
        with open(os.path.join(root, "meta.json"), "w") as fh:
            json.dump({"n": n, "num_hashes": num_hashes, "bands": bands}, fh)
        return cls(spark, root)

    def signatures(self) -> DataFrame:
        return self.spark.read.parquet(self.path + "/signatures")

    def append(self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> None:
        """Add new documents' signatures (e.g. a screened batch's
        survivors) so the next batch deduplicates against them too."""
        sig = minhash_signatures(
            shingles(docs, self.n, text_col, id_col, distinct=False),
            self.num_hashes,
            id_col,
        )
        sig.withColumnRenamed(id_col, "doc_id").write.mode("append").parquet(
            self.path + "/signatures"
        )

    def compact(self) -> int:
        """Rewrite the signature table once: appended micro-batches
        accumulate small parquet files (one per batch per partition)
        and at-least-once replays can append a doc's identical
        signature twice — both only cost scan time, but a
        long-running streaming index should compact periodically.
        Dedups by doc_id (signatures of a given doc are identical by
        construction — same text, same hash family) and swaps the
        rewrite in through the store's commit protocol
        (``sources/commit.py``), which ``__init__`` recovers. Returns
        the compacted row count. On an object store (S3A et al.) rename
        is copy+delete, so compact there in a probe-quiet window."""
        sig = self.signatures().groupBy("doc_id").agg(
            *[F.expr(f"first(h{i}) AS h{i}") for i in range(self.num_hashes)]
        )
        commit.replace_dir(self.path, "signatures", sig.write.parquet)
        return self.signatures().count()

    def probe(
        self,
        batch: DataFrame,
        threshold: float = 0.5,
        text_col: str = "text",
        id_col: str = "doc_id",
        exclude_same_id: bool = False,
    ) -> DataFrame:
        """Near-duplicate matches of ``batch`` docs against the
        indexed corpus → (batch_id, corpus_id, est_jaccard ≥
        threshold). est_jaccard is the matching-component fraction of
        the two full signatures — same estimator as
        :func:`minhash_lsh_pairs`, so a batch-vs-corpus probe and a
        one-shot corpus run agree on shared pairs bit for bit.

        ``exclude_same_id=True`` drops batch_id == corpus_id matches —
        for re-probing docs whose signatures are already indexed
        (crash-replayed streaming batches must not match themselves
        and vanish)."""
        # guard BEFORE signing: the batch row count bounds the banded
        # keys exactly (each signed doc emits `bands` rows; docs whose
        # text yields no shingles only make this an over-estimate), so
        # the cap check costs one plain scan of the batch — not a
        # minhash pass
        n_band_rows = batch.count() * self.bands
        if n_band_rows > self.MAX_BROADCAST_BAND_ROWS:
            raise ValueError(
                f"probe batch expands to {n_band_rows:,} banded keys "
                f"(cap {self.MAX_BROADCAST_BAND_ROWS:,}): the probe broadcasts "
                "the batch's bands into the index scan, which assumes "
                "batch ≪ corpus. Slice the batch and dedup_batch() per "
                "slice, or raise MinHashIndex.MAX_BROADCAST_BAND_ROWS if the "
                "executors can hold the broadcast."
            )
        bsig = minhash_signatures(
            shingles(batch, self.n, text_col, id_col, distinct=False),
            self.num_hashes,
            id_col,
        ).cache()
        isig = self.signatures()
        ibands = _band_stack(isig, self.num_hashes, self.bands, "doc_id").withColumnRenamed(
            "doc_id", "corpus_id"
        )
        bbands = _band_stack(bsig, self.num_hashes, self.bands, id_col).withColumnRenamed(
            id_col, "batch_id"
        )
        cand = (
            ibands.join(F.broadcast(bbands), ["band_id", "bh"])
            .select("batch_id", "corpus_id")
            .distinct()
        )
        if exclude_same_id:
            cand = cand.filter(F.col("batch_id") != F.col("corpus_id"))
        hits = cand.select("corpus_id").distinct().withColumnRenamed("corpus_id", "doc_id")
        a = isig.join(F.broadcast(hits), "doc_id", "left_semi").selectExpr(
            "doc_id AS corpus_id",
            *[f"h{i} AS a{i}" for i in range(self.num_hashes)],
        )
        b = bsig.selectExpr(
            f"{id_col} AS batch_id",
            *[f"h{i} AS b{i}" for i in range(self.num_hashes)],
        )
        matches = F.expr(
            " + ".join(
                f"CAST((a{i} = b{i}) AS INT)" for i in range(self.num_hashes)
            )
        )
        return (
            cand.join(a, "corpus_id")
            .join(b, "batch_id")
            .withColumn("est_jaccard", matches / F.lit(self.num_hashes))
            .filter(F.col("est_jaccard") >= threshold)
            .select("batch_id", "corpus_id", "est_jaccard")
        )

    def dedup_batch(
        self,
        batch: DataFrame,
        threshold: float = 0.5,
        text_col: str = "text",
        id_col: str = "doc_id",
        append: bool = False,
    ) -> DataFrame:
        """Screen a batch: drop docs near-duplicating the corpus, then
        near-dups WITHIN the batch (keep-lowest-id per candidate pair
        — conservative: never keeps two ≥-threshold near-dups;
        transitive chains may drop a doc whose only link was itself
        dropped). ``append=True`` registers the survivors' signatures
        so subsequent batches dedup against them too."""
        corpus_dups = self.probe(batch, threshold, text_col, id_col).select(
            F.col("batch_id").alias(id_col)
        ).distinct()
        kept = batch.join(corpus_dups, id_col, "left_anti")
        internal = minhash_lsh_pairs(
            kept, self.n, self.num_hashes, self.bands, text_col, id_col
        ).filter(F.col("est_jaccard") >= threshold)
        losers = internal.select(F.col("id_b").alias(id_col)).distinct()
        kept = kept.join(losers, id_col, "left_anti")
        if append:
            # pin the survivors BEFORE appending their signatures:
            # kept's plan reads the signature parquet lazily, so a
            # re-evaluation after the append would match the batch
            # against itself and return nothing
            kept = kept.localCheckpoint(eager=True)
            self.append(kept, text_col, id_col)
        return kept


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram OVERLAP-COEFFICIENT similarity join
    (Szymkiewicz–Simpson): pairs (a < b) with
    |A∩B| / min(|A|, |B|) ≥ threshold — the SUBSET-duplicate
    detector Jaccard structurally misses: a document embedded
    verbatim inside a 10× longer one has Jaccard ≤ 0.1 but overlap
    1.0 (the Broder 1997 containment variant of resemblance; the
    quote/aggregator-page case in training-corpus dedup).

    Same machinery and contracts as :func:`ngram_jaccard_pairs` —
    exact integer intersection counts, one division, candidate
    self-join on shingles with the optional ``max_shingle_df``
    candidate budget (exclusion applies to candidate generation
    only; reported overlaps recompute over full shingle sets).
    Output: (id_a, id_b, overlap) — also emits the directional
    containments (containment_a = |A∩B|/|A|, containment_b
    symmetric) so the caller can tell WHICH side is the subset."""
    sh = shingles(df, n, text_col, id_col)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    if max_shingle_df is None:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        capped = sh.join(rare, "shingle", "left_semi")
        cand = (
            capped.select(F.col(id_col).alias("id_a"), "shingle")
            .join(capped.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        inter = (
            cand.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "overlap",
            F.round(F.col("n_common") / F.least("n_a", "n_b"), round_to),
        )
        .filter(F.col("overlap") >= threshold)
        .select(
            "id_a",
            "id_b",
            "overlap",
            F.round(F.col("n_common") / F.col("n_a"), round_to).alias("containment_a"),
            F.round(F.col("n_common") / F.col("n_b"), round_to).alias("containment_b"),
        )
    )

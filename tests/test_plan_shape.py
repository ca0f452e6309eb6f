"""Plan-shape regression tests: the scale properties SCALE.md claims
must hold in the actual executed plans, not just in prose —
predicate pushdown to the parquet scan, column pruning, broadcast
registry joins, and no Python in relational hot paths.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cflux_spark.sources.ingest import LPStore  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("planstore"))
    s = LPStore(spark, root, db="plan")
    lines = [
        f"cpu,host=h{i % 4} user={i / 10} 17040672{i:02d}000000000" for i in range(60)
    ]
    s.write_batch(spark.createDataFrame([(l,) for l in lines], "line string"))
    return s


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _final_plan(df) -> str:
    """Executed sections only: AQE's toString nests an
    "== Initial Plan ==" block per adaptive node (broadcast subtrees
    have their own), still showing pre-adaptive operators the runtime
    replaced — drop each block by indentation, since the enclosing
    Final plan resumes at a shallower indent without a new marker."""
    lines, skip_indent = [], None
    for line in _plan(df).splitlines():
        indent = len(line) - len(line.lstrip())
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        lines.append(line)
    return "\n".join(lines)


def test_ns_time_predicate_pushed_to_scan(store):
    """F2: the raw ts_ns long filter must reach PushedFilters — at
    100 TB this is row-group skipping vs a full scan."""
    df = store.read_samples().filter(
        (F.col("ts_ns") >= 1704067210000000000) & (F.col("ts_ns") < 1704067240000000000)
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(ts_ns" in plan, plan


def test_projection_prunes_read_schema(store):
    """F7: a 2-column projection must not read the full 7-column row."""
    df = store.read_samples().select("fingerprint", "value")
    plan = _plan(df)
    m = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert m and "message" not in m[0] and "measurement" not in m[0], m


def test_registry_slice_join_broadcasts(spark, store):
    """J1: the filtered registry slice joins facts as a broadcast —
    zero shuffle on the fact side."""
    from cflux_spark.operators.joins import any_inner_join

    reg = store.read_registry()
    facts = store.read_samples()
    out = any_inner_join(facts, reg.select("fingerprint", "name"), "fingerprint")
    out.collect()
    plan = _plan(out)
    # broadcast join = the fact side never shuffles; the only Exchanges
    # allowed are on the small build side (dedup + broadcast)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_minute_avg_hot_path_is_jvm_only(spark, sf_dir):
    """A1 flagship: the aggregation pipeline must stay in whole-stage
    codegen — no BatchEvalPython / ArrowEvalPython / mapInPandas nodes
    (Python is reserved for the LP parse and extension UDFs)."""
    from cflux_spark.plans.queries import QUERIES

    df = QUERIES["q_minute_avg"](spark, sf_dir)
    df.collect()  # finalize the AQE plan so codegen stages are visible
    plan = _plan(df)
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, f"{node} in flagship plan:\n{plan}"
    assert "*(" in plan  # WholeStageCodegen stage markers


def test_driver_events_time_filter_pushed_to_scan(spark):
    """The regenerated driver events table stores µs timestamps: the
    flagship's time bounds must reach the parquet scan on the RAW ts
    attribute (the nanos-as-long layout pushed on ts_ns instead; both
    layouts must end with a pushed time filter — row-group skipping is
    the whole time-series scale story)."""
    from cflux_spark.plans.queries import QUERIES

    df = QUERIES["q_minute_avg"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert (
        "GreaterThanOrEqual(ts," in plan or "GreaterThanOrEqual(ts_ns," in plan
    ), plan


def test_pq_encode_is_map_only(spark):
    """PQ encoding is a single map-only Arrow pass over the corpus —
    any Exchange in its plan means the 32×-compression pass acquired a
    shuffle it must not have at 100 TB."""
    from cflux_spark.extensions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = similarity.pq_train(emb.limit(100), m=8, ksub=16)
    codes = similarity.pq_encode(emb, books)
    codes.collect()
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_duplicate_spans_hash_keyed_join(spark):
    """The dup-window join must key on the 8-byte gram hash, not gram
    text: no string n-gram column may ride a shuffle (at 100 TB the
    shuffle payload difference is ~20×)."""
    from cflux_spark.extensions import contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = contamination.duplicate_spans(docs, n=20)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Exchange partitions on the hash/doc keys — never on 'gram'
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "gram#" not in line, line


def test_contamination_corpus_side_broadcast_join(spark):
    """X6: the benchmark gram set must broadcast — the exploded corpus
    side never shuffles for the contamination join."""
    from cflux_spark.extensions import contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = contamination.benchmark_ngrams(docs.filter(F.col("doc_id") % 37 == 0))
    out = contamination.flag_contamination(docs, bench)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_semdedup_one_shuffle_keyed_by_cluster(spark):
    """SemDeDup's executed plan must be: map-only normalize+assign →
    exactly ONE Exchange (keyed by cluster) → grouped pandas dedup.
    A second Exchange means the keep_vec pass-through regressed to a
    corpus re-join; a key other than cluster breaks the bounded-
    quadratic contract."""
    from cflux_spark.extensions import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = similarity.semdedup(emb, threshold=0.35, k=4)
    out.collect()
    # AQE's toString appends the pre-adaptive "Initial Plan" — count
    # Exchanges only in the final executed section
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exchanges) == 1, plan
    assert "cluster#" in exchanges[0], exchanges[0]
    assert "FlatMapGroupsInPandas" in plan, plan


def test_or_group_filter_is_one_scan_with_pushdown(spark):
    """q_tag_filter_or's disjunctive predicate must plan as ONE parquet
    scan with the IN filter pushed (no union of per-branch scans) —
    the whole point of expressing OR as a composite predicate."""
    from cflux_spark.plans.queries import QUERIES

    df = QUERIES["q_tag_filter_or"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "In(event_type, [click,view])" in plan, plan


def test_merged_window_engine_path_no_unpartitioned_fact_window(spark, tmp_path):
    """SELECT difference(v) FROM m without GROUP BY must not plan a
    no-partition WindowExec over the fact rows (VERDICT r4 weak #2) —
    asserted through the public helper the dispatch routes through."""
    from cflux_spark.operators.windows import merged_window_stage

    df = spark.range(0, 100000).selectExpr(
        "id * 45000000000 as ts_ns", "cast(id % 97 as double) as value"
    )
    staged, w, fin = merged_window_stage(df)
    out = fin(staged.withColumn("_v", F.col("value") - F.lag("value").over(w)))
    plan = _plan(out)
    fact_windows = [ln for ln in plan.splitlines() if "Window" in ln and "lag(value" in ln]
    assert fact_windows and all("_dseg" in ln for ln in fact_windows), plan


@pytest.fixture(scope="module")
def ta_parquet(spark, tmp_path_factory):
    """40 points for each of two keys, read back from parquet so each
    use of the input shows as a scan node in the plan."""
    path = str(tmp_path_factory.mktemp("ta_plan") / "px")
    rows = [
        (k, i * 15_000_000_000 + (10**9 if k == "b" else 0), float((i * 7 + len(k)) % 11))
        for i in range(40)
        for k in ("a", "b")
    ]
    spark.createDataFrame(rows, "k string, ts long, v double").write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize(
    "fn,warmup",
    [
        ("exponential_moving_average", "exponential"),
        ("double_exponential_moving_average", "exponential"),
        ("triple_exponential_moving_average", "exponential"),
        ("triple_exponential_derivative", "exponential"),
        ("relative_strength_index", "exponential"),
        ("chande_momentum_oscillator", "exponential"),
        ("kaufmans_efficiency_ratio", "exponential"),
        ("kaufmans_adaptive_moving_average", "exponential"),
        ("exponential_moving_average", "simple"),
        ("double_exponential_moving_average", "simple"),
        ("triple_exponential_moving_average", "simple"),
    ],
)
def test_ungrouped_ta_plan_linear_in_stages(ta_parquet, fn, warmup):
    """A TA transform over ONE merged series must not copy its input
    plan per stage: the ungrouped plan reads the parquet input at most
    twice as often as the per-series (grouped) plan of the same
    function. Plan-only — nothing executes."""
    from cflux_spark.operators.ta import ta_transform
    from cflux_spark.plans.influxql import _explain_string

    def scans(keys, df):
        out = ta_transform(df, keys, "ts", "v", fn, 3, warmup=warmup)
        return _explain_string(out).count("Scan parquet")

    grouped = scans(["k"], ta_parquet)
    ungrouped = scans([], ta_parquet.filter(F.col("k") == "a").drop("k"))
    assert 0 < ungrouped <= 2 * grouped, (grouped, ungrouped)


def test_minhash_index_probe_never_shuffles_index(spark, tmp_path):
    """MinHashIndex.probe (round 7): the persisted signature table —
    the 100 TB-side artifact — must never be hash-repartitioned. The
    band join broadcasts the BATCH side into the index scan, and the
    verify fetches candidate signatures by broadcast semi-join; the
    only Exchange allowed is on the (batch_id, corpus_id) candidate
    pairs, which are near-dup-bounded."""
    import tempfile

    from cflux_spark.extensions import dedup

    rows = [(i, f"word{i} " * 30 + "common tail of tokens here " * 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = dedup.MinHashIndex.build(
        spark, df.filter(F.col("doc_id") % 5 != 0), str(tmp_path / "mhidx")
    )
    out = idx.probe(df.filter(F.col("doc_id") % 5 == 0), threshold=0.1)
    out.collect()
    plan = _final_plan(out)
    assert "BroadcastHashJoin [band_id" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "LeftSemi, BuildRight" in plan, plan  # candidate-id fetch is broadcast
    # the allowed Exchanges: the BATCH's signature groupBy (doc_id of
    # the in-memory batch) and the candidate-pair distinct — never the
    # band keys, which would mean the index's banded projection was
    # repartitioned for a merge join
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "bh#" not in line and "band_id#" not in line, line


def test_subquery_nesting_is_one_plan(spark, store):
    """A 3-level subquery must compose as ONE Catalyst plan — scan →
    inner agg → mid agg → outer agg — with nothing collected between
    levels: the frame the engine would collect at the envelope edge
    plans as a chain of hash aggregates over one parquet scan."""
    from cflux_spark.plans.influxql import InfluxQLEngine, parse_select

    eng = InfluxQLEngine(spark, store.root)
    stmt = parse_select(
        "SELECT max(mean) FROM ("
        " SELECT mean(max) FROM ("
        "  SELECT max(user) FROM cpu GROUP BY time(30s), host"
        " ) GROUP BY time(60s), host"
        ") GROUP BY time(60s)"
    )
    stmt.db = "plan"
    st = eng._stmt_store(stmt, "plan")
    frame, _g, _t, outputs = eng._subquery_frame(stmt.subquery, st, st.read_registry())
    colmap = dict(outputs)
    grouped, _name = eng._spec_frame_over(stmt, stmt.fields[0], frame, colmap, [], False)
    grouped.collect()
    plan = _final_plan(grouped)
    # one parquet scan of the facts (the registry broadcast for the
    # inner GROUP BY host is the only other scan); no Python, no
    # driver round-trip between levels
    fact_scans = [l for l in plan.splitlines() if "Scan parquet" in l and "samples" in l]
    assert len(fact_scans) == 1, plan
    assert "FlatMapGroupsInPandas" not in plan and "mapInPandas" not in plan.lower(), plan
    # three aggregation levels = three partial/final HashAggregate pairs
    assert plan.count("HashAggregate") >= 6, plan


def test_subquery_raw_inner_collapses_to_filtered_agg(spark, store):
    """A RAW innermost subquery (round 8) is a per-point projection —
    Catalyst must collapse SELECT mean(u) FROM (SELECT user AS u FROM
    cpu WHERE host='h1') GROUP BY time(60s) into ONE filtered scan →
    aggregate, indistinguishable from the non-subquery statement: one
    fact scan, no extra Exchange for the passthrough level, no
    Python."""
    from cflux_spark.plans.influxql import InfluxQLEngine, parse_select

    eng = InfluxQLEngine(spark, store.root)
    stmt = parse_select(
        "SELECT mean(u) FROM (SELECT user AS u FROM cpu WHERE host = 'h1') "
        "GROUP BY time(60s)"
    )
    stmt.db = "plan"
    st = eng._stmt_store(stmt, "plan")
    frame, _g, _t, outputs = eng._subquery_frame(stmt.subquery, st, st.read_registry())
    grouped, _name = eng._spec_frame_over(
        stmt, stmt.fields[0], frame, dict(outputs), [], False
    )
    grouped.collect()
    plan = _final_plan(grouped)
    fact_scans = [l for l in plan.splitlines() if "Scan parquet" in l and "samples" in l]
    assert len(fact_scans) == 1, plan
    assert "FlatMapGroupsInPandas" not in plan and "mapInPandas" not in plan.lower(), plan
    # field/measurement filters reach the parquet scan through the
    # passthrough level
    assert "EqualTo(field,user)" in plan and "EqualTo(measurement,cpu)" in plan, plan
    # exactly one aggregation level on the FACT path: the outer
    # bucketed mean — the raw level contributes a filter/project, not
    # a shuffle (any other Exchange belongs to the registry build side
    # of the broadcast tag-filter semi-join, keyed by fingerprint)
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    agg_ex = [l for l in exchanges if "_groupingexpression" in l]
    assert len(agg_ex) == 1, plan
    for line in exchanges:
        assert "_groupingexpression" in line or "fingerprint#" in line, line


def test_winnow_single_window_no_join(spark, sf_dir):
    """X34 (tightened in round 12): the winnowing selection is MAP-ONLY —
    the sliding min runs inside the per-doc token array (packed
    (hash, -pos) long key), so the plan may contain no self-join tier,
    no sort-based Window, and no aggregate Exchange; the only exchange
    is the doc-level parallelism spread before the gram build."""
    from cflux_spark.extensions.text import winnow_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _final_plan(winnow_fingerprints(docs))
    assert "Join" not in plan  # no self-join tier at all
    assert "Window" not in plan  # sliding min is array-internal, not a sort
    # the gram build runs AFTER the doc_id exchange (parallel off a
    # single-file scan), and that spread is the ONLY exchange
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1 and "hashpartitioning(doc_id" in exchanges[0], plan


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """X30: the per-bucket log-ratio table (<= n_buckets rows) must
    reach the gram occurrences as a broadcast, never a sort-merge
    shuffle of the corpus side."""
    from cflux_spark.extensions.dsir import dsir_log_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tgt = docs.filter(F.col("source") == "src0")
    plan = _final_plan(dsir_log_weights(docs, tgt))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_image_dedup_pairing_is_band_keyed(spark, sf_dir):
    """X29: dHash pairing must join on (band_id, band_bits) — one
    band-key shuffle, no cartesian of the fingerprint set."""
    from cflux_spark.extensions.dedup import hamming_near_pairs
    from cflux_spark.extensions.multimodal import image_dhash, synthetic_family_images

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    fp = image_dhash(synthetic_family_images(docs)).select("media_id", "dhash")
    plan = _final_plan(hamming_near_pairs(fp, fp_col="dhash", id_col="media_id"))
    assert "band_bits" in plan and "Join" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_mmr_pairwise_sims_stay_within_shortlist(spark, sf_dir):
    """X32: the only allowed quadratic term is pool^2 per query — the
    pairwise-sim join must key on query_id (shortlist x shortlist),
    and the corpus side must never cross-join itself."""
    from cflux_spark.extensions.retrieval import mmr_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _final_plan(mmr_topk(emb.filter(F.col("vec_id") < 2), emb, k=3, pool=5))
    # exactly one cross join: the broadcast of the tiny query side in
    # brute_force_topk (corpus x broadcast(queries) is the rel scan)
    assert plan.count("CartesianProduct") == 0
    assert "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan  # the greedy kernel


def test_nb_classifier_weights_broadcast_no_collect(spark, sf_dir):
    """X39: the NB weight/prior frames must reach the scoring pass as
    broadcasts — no sort-merge shuffle of the corpus side, no
    cartesian beyond the 1-row prior crossJoin."""
    from cflux_spark.extensions.classifier import score_quality, train_nb_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = docs.withColumn("label", (F.col("doc_id") % 2 == 0).cast("double"))
    w, prior = train_nb_weights(labeled)
    plan = _final_plan(score_quality(docs, w, prior))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_filter_broadcasts(spark, sf_dir):
    """X41: the word-frame filter must broadcast onto the probe side;
    the corpus never shuffles for the membership join."""
    from cflux_spark.extensions.contamination import bloom_build, bloom_probe

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _final_plan(bloom_probe(docs, bloom_build(bench, n=8), n=8))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_iteration_join_shape(spark, sf_dir):
    """X42: each iteration is an edges-ranks equi-join + dst-keyed
    aggregation — no cartesian products anywhere in the final frame."""
    from cflux_spark.extensions.graph import pagerank

    edges = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(50)
        .select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % 50).alias("dst"))
    )
    plan = _final_plan(pagerank(edges, iterations=2))
    assert "CartesianProduct" not in plan
    # ranks persist between iterations: the returned frame reads the
    # cached final iteration, not a recomputed lineage chain
    assert "InMemoryTableScan" in plan


def test_bleu_gram_counting_no_self_join(spark, sf_dir):
    """X40: gram counting must shuffle on the (pair, n, gram) key
    only; candidate and reference sides join per pair — never a
    corpus-wide cartesian."""
    from cflux_spark.extensions.evaluation import bleu_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("candidate"),
        F.col("text").alias("reference"),
    )
    plan = _final_plan(bleu_scores(pairs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_hits_no_cartesian(spark, sf_dir):
    """X45: each HITS half-step is an equi-join + keyed Σ — no
    cartesian beyond the broadcast 1-row normalizers."""
    from cflux_spark.extensions.graph import hits

    edges = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(50)
        .select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % 50).alias("dst"))
    )
    plan = _final_plan(hits(edges, iterations=2))
    assert "CartesianProduct" not in plan


def test_corr_matrix_single_aggregate_no_join(spark, sf_dir):
    """X53: the matrix assembles from one aggregation pass — no join
    anywhere in the plan, exactly one shuffle (the agg exchange)."""
    from cflux_spark.extensions.stats import corr_matrix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "n_chars", (F.col("doc_id") % 7).alias("a"), (F.col("doc_id") % 11).alias("b")
    )
    plan = _final_plan(corr_matrix(docs, ["n_chars", "a", "b"]))
    assert "Join" not in plan


def test_auc_window_over_histogram_not_rows(spark, sf_dir):
    """X55: the cumulative window must consume the (group, score)
    AGGREGATE — the plan aggregates before it windows."""
    from cflux_spark.extensions.evaluation import auc_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", F.col("n_chars").alias("s"), (F.col("doc_id") % 2 == 0).alias("y")
    )
    plan = _final_plan(auc_scores(docs, "s", "y", group_col="source"))
    assert "Join" not in plan
    # plans print root-first: the Window must sit ABOVE an aggregate
    # child (i.e. appear earlier in the string than the HashAggregate
    # that feeds it) — a row-level window would have the scan as its
    # direct child instead
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_zorder_partition_is_one_range_shuffle(spark, sf_dir):
    """X52: the layout rewrite must be exactly one range-partitioning
    exchange + a partition-local sort — no global sort, no extra
    shuffle for the key expression (it's map-side bit ops)."""
    from cflux_spark.extensions.layout import zorder_partition

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.col("o_custkey").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    plan = _final_plan(zorder_partition(orders, [F.col("x"), F.col("y")], 8))
    assert "rangepartitioning" in plan.lower()
    assert plan.lower().count("exchange") == 1
    assert "global=false" in plan.lower() or "Sort" in plan


def test_cms_heavy_hitters_descent_broadcasts(spark, sf_dir):
    """X46b: the descent must never shuffle the vocabulary against
    the frontier — level sketches and surviving leaves broadcast;
    the only crossJoins are 1-row threshold frames."""
    from cflux_spark.extensions.sketches import cms_heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
        ).alias("item")
    )
    plan = _final_plan(cms_heavy_hitters(toks))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rouge_l_map_only_no_shuffle(spark, sf_dir):
    """X50: the LCS DP is map-only off the scan — no Exchange, no
    join anywhere; the Arrow kernel shows up as one MapInPandas over
    JVM-tokenized arrays."""
    from cflux_spark.extensions.evaluation import rouge_l_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = docs.select(
        F.col("doc_id").alias("pair_id"),
        F.col("text").alias("candidate"),
        F.col("text").alias("reference"),
    )
    plan = _final_plan(rouge_l_scores(pairs))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_cms_sketch_broadcasts_to_probes(spark, sf_dir):
    """X46: the counter frame must broadcast onto the probe side —
    point queries never shuffle the query set on anything wider than
    the (row, col) key."""
    from cflux_spark.extensions.sketches import cms_build, cms_point_query

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
        ).alias("item")
    )
    sk = cms_build(toks)
    plan = _final_plan(cms_point_query(sk, toks.limit(20)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_robust_scale_single_group_shuffle(spark, sf_dir):
    """X49: per-source stats broadcast back; the corpus-side join must
    be a broadcast join, not a sort-merge shuffle of the doc frame."""
    from cflux_spark.extensions.stats import robust_scale
    from cflux_spark.extensions.text import token_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", token_count(F.col("text")).alias("n")
    )
    plan = _final_plan(robust_scale(docs, "n"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_window_funnel_single_shuffle_no_join(spark, sf_dir):
    """X63: the funnel DP is chained Window execs over ONE user-keyed
    sort — no join of any kind, exactly one Exchange for the window
    partitioning (plus the final aggregate's)."""
    from cflux_spark.extensions.behavior import window_funnel
    from cflux_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    plan = _final_plan(window_funnel(ev, ["view", "click", "purchase"], "6 hours"))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan
    assert plan.count("Window") >= 1


def test_welch_ttest_single_pass_no_join(spark, sf_dir):
    """X64: both arms fold in ONE aggregation pass — no join, no
    second scan of events."""
    from cflux_spark.extensions.stats import welch_ttest
    from cflux_spark.sources.readers import load_table

    plan = _final_plan(welch_ttest(load_table(spark, sf_dir, "events")))
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert j not in plan
    assert plan.count("Scan parquet") == 1


def test_js_divergence_pair_frame_broadcasts(spark, sf_dir):
    """X65: the group-totals pair frame must broadcast onto the
    histogram; only the vocab-keyed hist-hist join may shuffle."""
    from cflux_spark.extensions.text import js_divergence

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _final_plan(js_divergence(docs))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pmi_top_k_is_take_ordered_not_global_sort(spark, sf_dir):
    """X69: the top-k must compile to TakeOrdered — never a full
    global Sort of the scored bigram frame."""
    from cflux_spark.extensions.text import pmi_collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _final_plan(pmi_collocations(docs))
    assert "TakeOrdered" in plan


def test_cusum_spine_no_cartesian(spark, sf_dir):
    """X69: the dense bucket spine joins back on (group, bucket) —
    an equi-join, never a cartesian blow-up."""
    from cflux_spark.extensions.stats import cusum_alerts
    from cflux_spark.sources.readers import load_table

    plan = _final_plan(cusum_alerts(load_table(spark, sf_dir, "events")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

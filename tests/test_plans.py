"""Physical-plan regression tests (SURVEY.md §4): the properties that make
the engine survive 100 TB are plan properties — filters reaching the scan,
small dims broadcast, whole-stage codegen unbroken by Python, partition
pruning on partitioned outputs. Lock them in so a refactor can't silently
regress them.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.plans.all import REGISTRY


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_broadcast_join_for_small_dims(spark, sf_dir):
    """Dim joins (region/nation vs customer) must be broadcast, not
    sort-merge — no shuffle of the fact side at scale."""
    plan = plan_of(REGISTRY["join_broadcast_dims"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_star_join_broadcasts_every_dim(spark, sf_dir):
    """Q7's five-way star join: supplier/customer/nation(x2) all broadcast;
    only the lineitem-orders fact join may shuffle. A SortMergeJoin on a
    dim side would shuffle the fact table once per dim at scale."""
    plan = plan_of(REGISTRY["q7_volume_shipping"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    """The keyless interval join must plan as an equi-join on the time
    bucket — BroadcastNestedLoopJoin here is O(points x intervals) and the
    exact failure mode the bucketing exists to prevent."""
    plan = plan_of(REGISTRY["join_interval_bucketed"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_parquet_filter_pushdown(spark, sf_dir, tmp_path):
    """A predicate on a parquet scan must reach the reader as PushedFilters
    (row-group pruning), and the projection must prune the read schema."""
    path = str(tmp_path / "cust")
    spark.read.parquet(f"{sf_dir}/customer.parquet").write.parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("c_custkey") > 100)
        .select("c_custkey", "c_name")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(c_custkey), GreaterThan(c_custkey,100)]" in plan
    # column pruning: only the two projected columns are read
    assert "c_acctbal" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_partition_pruning_on_partitioned_output(spark, sf_dir, tmp_path):
    """The splitter's partitioned layout must enable partition pruning: a
    filter on the partition key shows up as PartitionFilters and prunes to
    one directory."""
    path = str(tmp_path / "bymkt")
    spark.read.parquet(f"{sf_dir}/customer.parquet").write.partitionBy(
        "c_mktsegment"
    ).parquet(path)
    df = spark.read.parquet(path).filter(F.col("c_mktsegment") == "BUILDING")
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    assert "c_mktsegment" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_envelope_filter_is_catalyst_not_python(spark, sf_dir):
    """The reference's table filter was an opaque Python lambda
    (README.md:260-263) that defeated pushdown; ours must be a Column
    expression — no Python evaluation node anywhere in the split plan."""
    plan = plan_of(REGISTRY["split_roundtrip_customer"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "window_running_sum",
        "dedup_minhash_lsh",
        "text_token_counts",
        "events_sessionize",
        "q7_volume_shipping",
        "q9_product_type_profit",
        "text_c4_clean",
        "sample_dsir_scores",
    ],
)
def test_core_queries_stay_jvm_side(spark, sf_dir, name):
    """Core operators keep the hot path in the JVM: no row-at-a-time Python
    UDF nodes. (Deliberate pandas paths — pandas_udf_revenue, multimodal,
    sim_pairs_topk — are exempt by design and not listed here.)"""
    plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan


def test_wholestage_codegen_spans_agg(spark, sf_dir):
    """With AQE the codegen markers only appear in the finalized plan —
    execute, then inspect the executed plan."""
    df = REGISTRY["q1_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark whole-stage-codegen stages in the compact form
    assert "*(" in plan
    # and the scan is the vectorized parquet reader
    assert "Batched: true" in plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Co-located join: both sides bucketed+sorted on the join key → the
    sort-merge join runs with NO shuffle (the 100 TB fact-fact join
    strategy)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode("overwrite").saveAsTable("b_orders")
    cust.write.bucketBy(8, "c_custkey").sortBy("c_custkey").mode("overwrite").saveAsTable("b_cust")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(
            spark.table("b_cust"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must not change the result set (only its distribution)."""
    from split_kinesis_streams_with_glue_spark.operators.skew import salted_join

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # manufacture skew: dump 80% of rows onto one key
    skewed = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 5 != 0, F.lit(1)).otherwise(F.col("o_custkey")),
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    plain = skewed.join(cust, skewed.o_custkey == cust.c_custkey).select("o_orderkey", "c_name")
    salted = salted_join(
        skewed.withColumnRenamed("o_custkey", "k"),
        cust.withColumnRenamed("c_custkey", "k"),
        on="k",
    ).select("o_orderkey", "c_name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    from split_kinesis_streams_with_glue_spark.operators.skew import salted_agg

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {
        (r["l_returnflag"]): (r["n"], round(r["qty"], 4))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
        .collect()
    }
    salted = {
        (r["l_returnflag"]): (r["n"], round(r["qty"], 4))
        for r in salted_agg(
            li, "l_returnflag", {"n": "count", "qty": "sum:l_quantity"}
        ).collect()
    }
    assert plain == salted


def test_sampling_ops_are_narrow_and_push_down(spark, sf_dir):
    """hash_split adds no Exchange (pure projection); stratified_sample's
    class predicate reaches the parquet reader as a pushed filter."""
    from split_kinesis_streams_with_glue_spark.operators.sampling import (
        hash_split,
        stratified_sample,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split_plan = plan_of(hash_split(d))
    assert "Exchange" not in split_plan
    assert "BatchEvalPython" not in split_plan
    strat_plan = plan_of(stratified_sample(d, {"en": 0.5}))
    assert "Exchange" not in strat_plan
    assert "PushedFilters" in strat_plan and "lang" in strat_plan.split("PushedFilters")[1].splitlines()[0]


def test_tfidf_scans_corpus_text_once(spark, sf_dir):
    """The TF-IDF plan must contain exactly one scan that reads the text
    column (doc-frequency is derived from the TF agg, not a second explode
    scan); the corpus-count scan reads no data columns and joins broadcast."""
    from split_kinesis_streams_with_glue_spark.operators.text import tfidf_top_terms

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(tfidf_top_terms(d))
    text_scans = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln and "text" in ln
    ]
    assert len(text_scans) == 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_lint_flags_python_udf_and_cartesian(spark, sf_dir):
    from pyspark.sql.types import LongType

    from split_kinesis_streams_with_glue_spark.plans.lint import (
        assert_scales,
        lint_plan,
    )

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    bad_udf = F.udf(lambda x: x + 1, LongType())
    finds = lint_plan(c.select(bad_udf("c_custkey")))
    assert any("python-row-udf" in f for f in finds)

    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    finds = lint_plan(c.crossJoin(n))
    assert any("cartesian-product" in f for f in finds)

    finds = lint_plan(c.orderBy("c_acctbal"))
    assert any("global-sort" in f for f in finds)

    # a Python-UDF predicate keeps the filter off the reader -> flagged
    finds = lint_plan(c.filter(bad_udf("c_custkey") > 0))
    assert any("unpushed-scan-filter" in f for f in finds)

    # ...but a HAVING over an aggregate is a filter on DERIVED rows — it
    # can never reach the scan, so the ancestor walk must NOT flag it
    having = (
        c.groupBy("c_nationkey").agg(F.sum("c_acctbal").alias("s")).filter("s > 0")
    )
    assert not any("unpushed-scan-filter" in f for f in lint_plan(having))

    with pytest.raises(AssertionError):
        assert_scales(c.crossJoin(n))


def test_lint_flags_scan_multiplicity_of_unpinned_iteration(spark, sf_dir):
    """The round-9 raking_ipf class, fenced mechanically: an iterative
    loop that references its own frame twice per step (directly + through
    a marginal aggregate) doubles the scan count each iteration — 5
    unpinned iterations embed 2^5 = 32 FileScans of the corpus. The
    linter must flag the unpinned form and pass the localCheckpoint-pinned
    form of the SAME loop (the red-then-green proof the oracle-type guard
    shipped with in round 9)."""
    from split_kinesis_streams_with_glue_spark.plans.lint import lint_plan

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")

    def one_step(frame):
        marg = frame.groupBy("c_nationkey").agg(F.sum("w").alias("ws"))
        return (
            frame.join(F.broadcast(marg), "c_nationkey")
            .withColumn("w", F.col("w") / F.col("ws"))
            .drop("ws")
        )

    unpinned = c.select("c_nationkey", F.lit(1.0).alias("w"))
    for _ in range(5):
        unpinned = one_step(unpinned)
    finds = lint_plan(unpinned)
    assert any("scan-multiplicity" in f for f in finds), finds

    pinned = c.select("c_nationkey", F.lit(1.0).alias("w"))
    for _ in range(5):
        pinned = one_step(pinned).localCheckpoint(eager=True)
    assert not any("scan-multiplicity" in f for f in lint_plan(pinned))

    # the fixed production operator stays under the ceiling end-to-end
    from split_kinesis_streams_with_glue_spark.operators.sampling import (
        raking_ipf,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert not any(
        "scan-multiplicity" in f
        for f in lint_plan(raking_ipf(docs, "lang", "source"))
    )


def test_lint_passes_core_queries(spark, sf_dir):
    """The engine's own flagship plans must lint clean."""
    from split_kinesis_streams_with_glue_spark.plans.lint import lint_plan

    for name in ["q1_pricing_summary", "q3_shipping_priority",
                 "join_broadcast_dims", "topk_orders"]:
        df = REGISTRY[name].fn(spark, sf_dir)
        assert lint_plan(df) == [], name


def test_sort_within_partitions_adds_no_exchange(spark, sf_dir):
    """Clustering files for min/max pruning uses a partition-local sort:
    sortWithinPartitions must plan a Sort with global=false and no shuffle."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.sortWithinPartitions("l_shipdate")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "Exchange" not in plan
    assert "Sort [l_shipdate" in plan and "], false, 0" in plan


def _aggregates_by_codegen(df, marker: str) -> tuple[list[str], list[str]]:
    """Execute ``df``; return the final AQE plan's HashAggregate lines that
    contain ``marker``, and those of them without the ``*(n)`` whole-stage
    codegen marker."""
    import re

    df.collect()  # finalize the adaptive plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    # the AQE toString appends the pre-execution "== Initial Plan ==",
    # which never carries codegen markers — inspect the final plan only
    final = final.split("== Initial Plan ==")[0]
    aggs = [ln for ln in final.splitlines() if "HashAggregate" in ln and marker in ln]
    return aggs, [ln for ln in aggs if not re.search(r"\*\(\d+\) HashAggregate", ln)]


def test_minhash_band_aggregate_is_codegened(spark, sf_dir):
    """The MinHash band HashAggregate (``minhash_bands``: r min lanes per
    (id, band)) must run inside whole-stage codegen: an operator that falls
    out of it is evaluated INTERPRETED, which measured ~4 s vs ~0.7 s stage
    floor at sf0.1 for the former 128-lane signature aggregate (r14). The
    final AQE plan must carry the ``*(n)`` codegen marker on the
    HashAggregate nodes, so a width or expression regression is caught
    here rather than as a silent slowdown. The whole ``minhash_near_dups``
    path must also stay free of lambda functions (interpreted per
    element): every SQL execution it starts, the shingle pin included, is
    checked for ``lambdafunction``."""
    from split_kinesis_streams_with_glue_spark.operators.dedup import (
        minhash_bands,
        minhash_near_dups,
        shingle_sets,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aggs, interpreted = _aggregates_by_codegen(minhash_bands(shingle_sets(d)), "pmod")
    assert aggs, "band aggregate not found in executed plan"
    assert not interpreted, (
        "MinHash band aggregate fell out of whole-stage codegen "
        f"(interpreted min-fold, ~3x slower):\n" + "\n".join(interpreted)
    )

    # the store keeps only the newest spark.sql.ui.retainedExecutions, so
    # select this call's executions by id, not by count
    store = spark._jsparkSession.sharedState().statusStore()

    def newest(k):
        n = store.executionsCount()
        runs = store.executionsList(max(n - k, 0), min(n, k))
        return [runs.apply(i) for i in range(runs.size())]

    last = max((e.executionId() for e in newest(1)), default=-1)
    minhash_near_dups(d).collect()
    plans = [e.physicalPlanDescription() for e in newest(100) if e.executionId() > last]
    assert plans, "no SQL execution recorded for minhash_near_dups"
    assert not [p for p in plans if "lambdafunction" in p]


def test_wide_centroid_aggregate_is_codegened(spark, sf_dir):
    """``sim_silhouette_simplified``'s per-label centroid mean over the
    64-dim embeddings is a 129-field partial HashAggregate (label + 64
    sum/count pairs), the widest registry aggregate under the session's
    ``spark.sql.codegen.maxFields=160``. At Spark's default of 100 both its
    aggregates run interpreted; this pins the conf."""
    df = REGISTRY["sim_silhouette_simplified"].fn(spark, sf_dir)
    aggs, interpreted = _aggregates_by_codegen(df, "embedding")
    assert aggs, "centroid aggregate not found in executed plan"
    assert not interpreted, "\n".join(ln[:200] for ln in interpreted)


#: Every lint finding a registry query is ALLOWED to carry, with the reason.
#: Anything not listed here failing lint is a scale regression. One-way
#: subset check: an allowance that stops firing is fine (plan improved).
_LINT_ALLOWANCES: dict[str, set[str]] = {
    # deliberate surface-completion query; the anti-pattern IS its subject
    "udf_python_rowwise": {"python-row-udf"},
    # deliberate 5x5 cross join of two tiny dims
    "join_cross_small": {"cartesian-product"},
    # salt replication: crossJoin of a broadcast `salt`-row spine is the
    # mechanism; join key is a computed CASE so no scan pushdown exists
    "join_salted_skew": {"cartesian-product", "unpushed-scan-filter"},
    # crossJoin(broadcast(<1-row corpus-size agg>)) — bounded by design
    "text_tfidf_topterms": {"cartesian-product"},
    # crossJoin(broadcast(<k centroid rows>)) — bounded by design
    "sim_ann_ivf_topk": {"cartesian-product"},
    "sim_ann_recall_contract": {"cartesian-product"},
    # centroid crossJoin + three 1-row recall aggregates — bounded by design
    "sim_ann_quantized_ivf_contract": {"cartesian-product"},
    # crossJoin(broadcast(<1-row bounds agg>)) — bounded by design
    "events_hll_rollup_contract": {"cartesian-product"},
    # centroid crossJoin bounded as above; the unpartitioned window is
    # kmeans_centroids' final centroid renumbering (similarity.py) — a
    # row_number over the ≤k-row codebook.  Since round 11 pinned each
    # Lloyd iteration's codebook with localCheckpoint (executed-plan
    # audit: 21→14 FileScans in the PQ contract), that window sits on a
    # checkpoint RDD scan, so the linter can no longer see the bounding
    # Aggregate below it; boundedness (k rows by construction) is
    # asserted here, the same contract as every entry in the
    # unpartitioned-window block below
    "dedup_semantic": {"cartesian-product", "unpartitioned-window"},
    # crossJoin(broadcast(<1-row corpus-size agg>)) — bounded by design
    "text_unigram_logprob": {"cartesian-product"},
    # crossJoin(broadcast(<1-row raw/target total aggs>)) — bounded by design
    "sample_dsir_scores": {"cartesian-product"},
    # content-hash (md5) filters are functions of a column — semantically
    # un-pushable; the scan itself is still column-pruned
    "sample_stratified_lang": {"unpushed-scan-filter"},
    "multimodal_frame_sample": {"unpushed-scan-filter"},
    "multimodal_feature_ann": {"unpushed-scan-filter"},
    # envelope queries filter on fields parsed out of the JSON wire value —
    # nothing exists at the scan to push into
    "split_roundtrip_customer": {"unpushed-scan-filter"},
    "split_flatten_orders_ts": {"unpushed-scan-filter"},
    "cdc_compact_customer": {"unpushed-scan-filter"},
    "split_stats_customer": {"unpushed-scan-filter"},
    "cdc_scd2_customer": {"unpushed-scan-filter"},
    "split_multi_table": {"unpushed-scan-filter"},
    "choice_make_struct": {"unpushed-scan-filter"},
    # filter applies to generator/set-op output, not a scan column
    "set_except_all": {"unpushed-scan-filter"},
    "explode_words": {"unpushed-scan-filter"},
    "subquery_scalar": {"unpushed-scan-filter"},
    # --- round-3 scale queries: every crossJoin below is a broadcast of a
    # 1-row aggregate (stream total / bloom filter / z-bounds / PPS total
    # weight) or the k-row recall aggregates — bounded by design
    "events_heavy_hitters_contract": {"cartesian-product"},
    "text_bloom_decontaminate": {"cartesian-product"},
    "layout_zorder_key": {"cartesian-product"},
    "layout_zorder3_key": {"cartesian-product"},
    "layout_stats_prune": {"cartesian-product"},
    "sim_ann_pq_contract": {"cartesian-product"},
    "sample_weighted_pps": {"cartesian-product"},
    # (events_quantile_sketch_contract: see the unpartitioned-window block)
    # presentational sort over the space-saving summary table, which is
    # <= capacity (64) rows by construction — bounded at any stream volume
    "events_stream_topk": {"global-sort"},
    # --- round-4 queries ---
    # crossJoin(broadcast(<1-row survivor-count aggregates>)) — the
    # containment contract compares two scalar counts
    # (unpartitioned-window: the same pinned-codebook renumbering window
    # as dedup_semantic above — k rows by construction)
    "dedup_semantic_contract": {"cartesian-product", "unpartitioned-window"},
    # crossJoin of the 1-row CMS estimate, 1-row exact join size, and
    # 1-row |A|/|B| aggregates — bounded by design
    "join_cms_size_contract": {"cartesian-product"},
    # crossJoin(broadcast(<1-row N/avgdl corpus-stats agg>)); the
    # query-term IN filter applies under the token explode (Generate
    # output), so there is no scan column to push it into
    "text_bm25_search": {"cartesian-product", "unpushed-scan-filter"},
    # planted-change modulo predicates and the md5-derived dirty-bucket
    # semi-join filter are functions of a column — semantically
    # un-pushable; the scan itself is still column-pruned
    "cdc_merkle_diff": {"unpushed-scan-filter"},
    # envelope query (like cdc_scd2_customer): filters on fields parsed
    # out of the JSON wire value — nothing exists at the scan to push into
    "join_point_in_time": {"unpushed-scan-filter"},
    # crossJoin(broadcast(<1-row distinct-user-count agg>)) — bounded
    "events_cooccurrence_lift": {"cartesian-product"},
    # crossJoin(broadcast(<1-row joint-total agg>)) — bounded
    "events_mutual_information": {"cartesian-product"},
    # crossJoin of the 1-row sketch-estimate and 1-row exact aggregates
    "events_hll_intersection": {"cartesian-product"},
    # --- unpartitioned-window allowances (round-5 lint category): each
    # global window below runs over an AGGREGATE output whose row count is
    # structurally independent of table size — the linter cannot see
    # cardinality, so boundedness is asserted here, per query ---
    # n_bins-row histogram CDF (256 bins merged across days)
    "events_quantile_sketch_contract": {
        "cartesian-product",
        "unpartitioned-window",
    },
    # n_bins-row CDF windows inside the PSI binning (reference vs current)
    "quality_psi_drift": {"unpartitioned-window"},
    "quality_psi_categorical": {"unpartitioned-window"},
    # moments/CDF window over the per-column stats frame (#columns rows)
    "agg_distribution_stats": {"unpartitioned-window"},
    # day-grain series: window over the per-day aggregate (#days rows)
    "events_wma_trend": {"unpartitioned-window"},
    # weekday indices: window over the 7-row weekday aggregate
    "events_seasonal_indices": {"unpartitioned-window"},
    # global NTILE(4) is the query's SEMANTIC (equal-count quartiles over
    # the whole table, the SQL-surface demo); at 100 TB the same answer
    # comes from approx_percentile boundaries + a comparison bucket —
    # documented trade-off, kept as the exact-NTILE surface exercise
    "window_ntile": {"unpartitioned-window"},
    # --- round-5 queries ---
    # crossJoin(broadcast(<1-row digit total>)) — bounded by design
    "quality_benford_digits": {"cartesian-product"},
    # crossJoins of the 1-row mean/denominator and the 7-row lag spine
    # against the calendar-bounded day series; the isnotnull join filter
    # applies to the DERIVED to_date(nanos-normalized ts) column, so there
    # is nothing at the scan to push it into
    "events_acf": {"cartesian-product", "unpushed-scan-filter"},
    # trend window + centering run over the calendar-bounded day series
    # (same class as events_wma_trend)
    "events_stl_decompose": {"unpartitioned-window"},
    # crossJoin(broadcast(<1-row corpus-total agg>)) — bounded by design
    # (same shape as text_unigram_logprob)
    "text_bigram_logprob": {"cartesian-product"},
    # crossJoin(broadcast(<1-row CI agg over the B-row replicate frame>))
    "agg_bootstrap_ci": {"cartesian-product"},
    # crossJoin(broadcast(<1-row total-weight agg over the strata frame>))
    "sample_neyman_allocation": {"cartesian-product"},
    # crossJoin(broadcast(<1-row corpus-doc-count agg>)) feeding the IDF
    "dedup_idf_weighted": {"cartesian-product"},
    # crossJoin(broadcast(<1-row total-transitions agg>)) — bounded
    "events_entropy_rate": {"cartesian-product"},
    # crossJoin(broadcast(<1-row contingency-total agg>)); the join's
    # isnotnull filter applies to the DERIVED weekday (pmod of datediff
    # of the nanos-normalized ts) — nothing at the scan to push into
    "quality_chi2_independence": {"cartesian-product", "unpushed-scan-filter"},
    # crossJoin(broadcast(<1-row group-totals agg>)); CDF window over the
    # n_bins-row frame (same class as the PSI queries)
    "quality_ks_binned": {"cartesian-product", "unpartitioned-window"},
    # neighbor window over the calendar-bounded day aggregate
    "events_peak_days": {"unpartitioned-window"},
    # --- round-6 queries ---
    # crossJoin of the 1-row sign-sum agg with the 1-row tie-term agg;
    # the join's isnotnull filter applies to the DERIVED day (to_date of
    # the nanos-normalized ts) — nothing at the scan to push into (same
    # classes as events_acf)
    "events_mann_kendall": {"cartesian-product", "unpushed-scan-filter"},
    # rank/order windows over the calendar-bounded day aggregate
    "events_spearman_daily": {"unpartitioned-window"},
    "events_gini_daily": {"unpartitioned-window"},
    # midrank window over the distinct-value histogram frame (same class
    # as quality_ks_binned's CDF window)
    "quality_mann_whitney": {"unpartitioned-window"},
    # crossJoins of the 1-row concordant/discordant agg with the two 1-row
    # tie aggs; isnotnull filter on the DERIVED day — same classes as
    # events_mann_kendall
    "events_kendall_tau": {"cartesian-product", "unpushed-scan-filter"},
    # crossJoin(broadcast(<1-row tie-term agg>)); midrank window over the
    # distinct-value histogram (same classes as quality_mann_whitney)
    "quality_kruskal_wallis": {"cartesian-product", "unpartitioned-window"},
    # trailing/cumulative windows over the calendar-bounded day aggregate
    "events_rolling_zscore": {"unpartitioned-window"},
    "events_user_accretion": {"unpartitioned-window"},
    # crossJoin(broadcast(<1-row corpus-doc-count agg>)) feeding the IDF
    # (same shape as dedup_idf_weighted)
    "dedup_tfidf_cosine": {"cartesian-product"},
    # crossJoin of the 1-row pairwise-mean agg onto the 1-row centroid
    # summary — both bounded by design
    "sim_sample_diversity": {"cartesian-product"},
    # contingency-domain crossJoins (groups x sensitive-values,
    # marginal x marginal) plus 1-row total broadcasts — all bounded by
    # the category counts, never data rows
    "quality_t_closeness": {"cartesian-product"},
    "quality_chi2_residuals": {"cartesian-product"},
    # isnotnull filter on the DERIVED day (to_date of the nanos-normalized
    # ts) feeding the Walsh self-union — same class as events_acf
    "events_hodges_lehmann": {"unpushed-scan-filter"},
    # crossJoin of the 1-row corpus totals with the 1-row top-k mass agg
    "text_ngram_coverage": {"cartesian-product"},
    # crossJoin(broadcast(<1-row corpus-doc-count agg>)) feeding the PMI
    "text_pmi_pairs": {"cartesian-product"},
    # contingency-domain crossJoins via the chi2_residuals machinery
    # (same class as quality_chi2_residuals)
    "sample_split_balance_contract": {"cartesian-product"},
    # crossJoins of the 1-row quantile/moment stats and 1-row MAD aggs
    "quality_outlier_overlap": {"cartesian-product"},
    # crossJoin(broadcast(<1-row base-size agg>)); the planted-change
    # modulo predicates and the md5 dirty-bucket semi-join filter are
    # functions of a column — same classes as cdc_merkle_diff
    "cdc_churn_summary": {"cartesian-product", "unpushed-scan-filter"},
    # crossJoin(broadcast(<1-row high-water-mark agg>)) — bounded
    "events_freshness_audit": {"cartesian-product"},
    # crossJoin(broadcast(<1-row total/max agg over the 168-cell frame>))
    "events_dow_hour_profile": {"cartesian-product"},
    # lag/trailing windows over the calendar-bounded day aggregate
    "events_forecast_backtest": {"unpartitioned-window"},
    # --- round-7 queries ---
    # crossJoin(broadcast(<1-row top-10 hot-key-mass agg>)) — bounded
    "join_skew_advisor": {"cartesian-product"},
    # crossJoin(broadcast(<1-row corpus token-total agg>)) — bounded
    # (same shape as text_unigram_logprob)
    "text_label_logodds": {"cartesian-product"},
    # crossJoins of the 1-row corpus moments / family-size / step-up-rank
    # aggs; the BH ranking window runs over the hypothesis FAMILY (one
    # row per language), whose size is structurally independent of the
    # data volume — same bounded-global-window class as quality_psi_drift
    "quality_bh_fdr": {"cartesian-product", "unpartitioned-window"},
    # ordinal + prefix-sum windows over the calendar-bounded day
    # aggregate (same class as events_wma_trend); the O(D^2) minimax
    # pair frame is quadratic in the CALENDAR only
    "events_isotonic_trend": {"unpartitioned-window"},
    # crossJoins of the 1-row corpus-count / per-iteration norm /
    # Rayleigh-quotient / trace aggregates — all bounded by design
    "sim_pca_power_iteration": {"cartesian-product"},
    # at-risk suffix sum + product-limit prefix fold over the bounded
    # distinct-duration frame (same bounded-global-window class as the
    # PSI/CDF queries)
    "events_survival_km": {"unpartitioned-window"},
    # crossJoin(broadcast(<1-row query-vector frame>)) for the cosine leg
    # — bounded by design; the Catalyst-inferred tokenize constraint
    # (size(filter(split(text))) > 0, from the BM25 leg's explode) is a
    # lambda HOF no parquet reader can accept — same nothing-to-push
    # class as the derived-day filters (events_mann_kendall)
    "sim_rrf_fusion": {"cartesian-product", "unpushed-scan-filter"},
    # cumulative class-count window over the distinct-value histogram
    # frame (same bounded-global-window class as quality_mann_whitney)
    "quality_info_gain_split": {"unpartitioned-window"},
    # crossJoin of the 1-row observed-agreement agg with the 1-row
    # expected-agreement (marginal product-sum) agg — both bounded
    "quality_rater_kappa": {"cartesian-product"},
    # --- round-8 queries ---
    # the rank-offset window runs over the #partitions-row count frame
    # (one row per range partition — bounded by the partition count, not
    # data); the per-row ranks themselves use PARTITIONED windows by
    # design (the two-pass range rank replaces the naive global
    # row_number precisely to avoid a single-partition WindowExec)
    "dedup_sorted_neighborhood": {"unpartitioned-window"},
    # cumulative-mean windows over the calendar-bounded day aggregate
    # (same class as events_wma_trend)
    "events_changepoint_mean": {"unpartitioned-window"},
    # running-total window over the bounded per-source frame (sources
    # number in the hundreds at any corpus size — scorecard class)
    "pipeline_token_budget_fill": {"unpartitioned-window"},
    # the ranking window runs over a scored EVAL SLICE (candidate list /
    # labeled holdout — bounded by the operator's documented contract,
    # same re-ranker-not-corpus class as sim_mmr_select)
    "quality_average_precision": {"unpartitioned-window"},
    # crossJoin(broadcast(<1-row method-of-moments agg over the bounded
    # per-group rate frame>)) — bounded by design
    "quality_eb_shrinkage": {"cartesian-product"},
    # crossJoin(broadcast(<1-row group-totals agg>)); ECDF + lead windows
    # over the distinct-value histogram (same classes as
    # quality_mann_whitney / quality_ks_binned)
    "quality_wasserstein_drift": {"cartesian-product", "unpartitioned-window"},
    # crossJoin(broadcast(<1-row (k+1)-th order statistic>)) against the
    # k-row head of the Zipf-small term histogram — bounded by design
    "text_hill_tail_index": {"cartesian-product"},
    # crossJoin(broadcast(<1-row corpus type/token totals>)) — bounded
    "text_sttr_diversity": {"cartesian-product"},
    # two ranking windows over the scored EVAL SLICE (bounded by the
    # operator's documented contract — same class as
    # quality_average_precision)
    "quality_ndcg": {"unpartitioned-window"},
    # crossJoins of the three 1-row count aggregates (candidates, truth,
    # hits) — bounded by design; the inner SNM rank-offset window runs
    # over the #partitions-row count frame (same classes as
    # dedup_sorted_neighborhood)
    "dedup_blocking_metrics": {"cartesian-product", "unpartitioned-window"},
    # --- round-9 queries ---
    # cumulative-rank window over the distinct-score histogram (same
    # class as quality_ks_binned's CDF window)
    "quality_auc_roc": {"unpartitioned-window"},
    # crossJoin(broadcast(<1-row contingency-total agg>)) per pair —
    # bounded (same class as quality_chi2_independence)
    "quality_cramers_v": {"cartesian-product"},
    # crossJoin(broadcast(<1-row bigram-type-count agg>)) — bounded
    # (same class as text_bigram_logprob)
    "text_kneser_ney_bigram": {"cartesian-product"},
    # prefix-max window over the per-distinct-x threshold frame (the
    # operator's documented bounded-cardinality contract); the
    # size(tokens) > 0 filter applies to a DERIVED array — nothing at
    # the scan to push into
    "profile_pareto_skyline": {"unpartitioned-window", "unpushed-scan-filter"},
    # global_rank's offset window over the #partitions-row count frame
    # (same class as dedup_sorted_neighborhood)
    "sample_quantile_normalize": {"unpartitioned-window"},
    # crossJoin(broadcast(<1-row mean-vector / total-distance aggs>)) —
    # bounded by design
    "sample_coreset_lightweight": {"cartesian-product"},
    # per-slice 1-row group-total crossJoins + ECDF windows over the
    # distinct-projection histograms (same classes as
    # quality_wasserstein_drift)
    "sim_sliced_wasserstein": {"cartesian-product", "unpartitioned-window"},
    # crossJoin(broadcast(<1-row total/row-count agg>)) onto the bounded
    # cell frame — bounded by design
    "sample_raking_ipf": {"cartesian-product"},
    # crossJoin(broadcast(<1-row base-rate agg>)) — bounded by design
    "quality_brier_decomposition": {"cartesian-product"},
    # crossJoins of the three 1-row combinatoric aggregates — bounded
    "dedup_cluster_ari": {"cartesian-product"},
    # --- round-10 queries ---
    # crossJoin(broadcast(<1-row grand-total agg over the k-group frame>))
    "quality_brown_forsythe": {"cartesian-product"},
    # crossJoins of the three 1-row entropy folds + the 1-row cell totals
    "quality_theil_u": {"cartesian-product"},
    # crossJoin(broadcast(<1-row id-range agg>)); cumulative window over
    # the <= n_buckets-row checkpoint frame — bounded by construction
    "text_heaps_law": {"cartesian-product", "unpartitioned-window"},
    # crossJoin(broadcast(<1-row size/count totals>)) onto the k×dims
    # moment frame — bounded by design
    "sim_calinski_harabasz": {"cartesian-product"},
    # crossJoin of the 11-row lag spine against the calendar-bounded day
    # series; isnotnull join filter on the DERIVED to_date of the
    # nanos-normalized ts — same classes as events_acf
    "events_cross_correlation": {"cartesian-product", "unpushed-scan-filter"},
    # crossJoins of the 1-row min-day agg and the 4-row level spine
    # against the calendar-bounded day series
    "events_haar_energy": {"cartesian-product"},
    # global_rank's offset window over the #partitions-row count frame
    # (same class as sample_quantile_normalize)
    "sample_systematic_interval": {"unpartitioned-window"},
    # --- round-11 queries ---
    # crossJoins of the 1-row mean/denominator/count aggregates and the
    # 7-row lag spine against the calendar-bounded day series — the acf
    # geometry (same classes as events_cross_correlation)
    "events_ljung_box": {"cartesian-product"},
    # row_number + lag windows over the calendar-bounded day frame (the
    # documented single-partition moment); median/count broadcasts
    "events_runs_test": {"cartesian-product", "unpartitioned-window"},
    # row_number index over the calendar-bounded hour frame; 1-row count
    # and <= 4-row scale-spine broadcasts (the haar_energy geometry)
    "events_hurst_rs": {"cartesian-product", "unpartitioned-window"},
    # lead windows over the calendar-bounded hour frame; 1-row pattern
    # total broadcast against the <= 6-row pattern histogram
    "events_permutation_entropy": {"cartesian-product", "unpartitioned-window"},
    # crossJoins of the 1-row J fold and the 1-row group/tie moment
    # aggregates — bounded by design
    "quality_jonckheere": {"cartesian-product"},
    # --- round-12 queries ---
    # crossJoins of the 1-row bounds/moments aggregates and the 9-row
    # period spine against the calendar-bounded day frame — bounded
    "events_aov_periodogram": {"cartesian-product"},
    # crossJoin(broadcast(<1-row totals agg>)); prefix-sum/row-number
    # windows over the calendar-bounded day aggregate (the
    # events_rolling_zscore class); the argmax is orderBy().limit(1)
    "events_changepoint_bridge": {
        "cartesian-product",
        "unpartitioned-window",
    },
    # BM25 side: 1-row N/avgdl stats broadcast + query-term IN filter
    # under the token explode (text_bm25_search's exact classes), plus
    # the <= C(20,2)-row overlap pair join (l.id < r.id nested loop over
    # two <= 20-row top-k lists — bounded by the top-k contract, the
    # jonckheere pair-join class)
    "retrieval_rank_agreement": {
        "cartesian-product",
        "unpushed-scan-filter",
    },
    # --- round-13 queries ---
    # BM25 side: the rank_agreement classes (1-row N/avgdl broadcast +
    # query-term IN filter under the token explode), plus the 20-row
    # depth spine's non-equi join against the <= 20-row overlap frame
    # — bounded by the top-k contract on both sides
    "retrieval_rbo": {"cartesian-product", "unpushed-scan-filter"},
    # the D x D day-pair sign join (day grain, the mann_kendall /
    # hodges_lehmann documented boundedness contract) + the 1-row count
    # broadcast; row-number / prefix-sum windows over the
    # calendar-bounded day frame; the argmax is orderBy().limit(1)
    # (the events_changepoint_bridge classes)
    "events_pettitt_changepoint": {
        "cartesian-product",
        "unpartitioned-window",
    },
    # crossJoins of the two 1-row median-band aggregates (each fed by a
    # TakeOrderedAndProject prefix) onto the row frame — bounded
    "quality_mood_median": {"cartesian-product"},
}


def test_every_registry_plan_passes_lint(spark, sf_dir):
    """Registry-wide scale gate: every query's physical plan must be free of
    the linter's anti-patterns except its explicitly-justified allowances.
    This is what keeps 'works at sf0.01' aligned with 'works at 100 TB'."""
    from split_kinesis_streams_with_glue_spark.plans.lint import lint_plan

    bad: list[str] = []
    for name, spec in sorted(REGISTRY.items()):
        findings = lint_plan(spec.fn(spark, sf_dir))
        cats = {f.split(":", 1)[0] for f in findings}
        extra = cats - _LINT_ALLOWANCES.get(name, set())
        if extra:
            bad.append(f"{name}: {sorted(extra)}")
    assert not bad, "unexpected lint findings:\n" + "\n".join(bad)


def test_analyze_table_feeds_planner_stats(spark, sf_dir, tmp_path):
    """ANALYZE TABLE statistics reach the planner: after analyze, the
    catalog reports an exact rowCount and the optimized plan's size
    estimate is based on stats, not raw file size guesses."""
    from split_kinesis_streams_with_glue_spark.sources.catalog import (
        analyze_table,
        register_parquet,
    )

    # external table in tmp_path: immune to stale spark-warehouse dirs
    # left by interrupted runs (managed CREATE fails on leftover paths)
    path = str(tmp_path / "stats_nation")
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.parquet(path)
    spark.sql("DROP TABLE IF EXISTS stats_nation")
    register_parquet(spark, "stats_nation", path, temp=False)
    analyze_table(spark, "stats_nation", columns=["n_nationkey", "n_name"])
    detail = spark.sql("DESCRIBE TABLE EXTENDED stats_nation").collect()
    stats_row = [r for r in detail if r["col_name"] == "Statistics"]
    assert stats_row, "no Statistics row after ANALYZE"
    assert "25 rows" in stats_row[0]["data_type"]
    col_detail = spark.sql(
        "DESCRIBE TABLE EXTENDED stats_nation n_nationkey"
    ).collect()
    ndv = {r["info_name"]: r["info_value"] for r in col_detail}
    assert ndv.get("distinct_count") == "25"
    spark.sql("DROP TABLE stats_nation")


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """AQE must collapse the 32 static shuffle partitions of a tiny
    aggregate into a few runtime partitions (AQEShuffleRead coalesced) —
    the mechanism that makes a fixed spark.sql.shuffle.partitions safe to
    oversize at any scale."""
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .count()
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan
    assert "coalesced" in plan


def test_dpp_prunes_fact_partitions_at_runtime(spark, sf_dir):
    """join_dpp_dates exists to prove dynamic partition pruning reaches the
    fact scan: the physical plan must carry a dynamicpruningexpression in
    the fact side's PartitionFilters — without it the query would scan
    every partition and filter after the join (the 100 TB failure mode)."""
    df = REGISTRY["join_dpp_dates"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "no dynamicpruningexpression in the plan — DPP did not fire"
    )


# Round-12 institutionalization of the executed-plan audit (round-11
# verdict item 4): the analyzed-plan linter cannot see what an iterative
# operator's loop does to the EXECUTED plan — unpinned per-step frames
# re-embed every prior step's corpus scan in the next step's lineage
# (raking_ipf r9, PCA power r10, kmeans/pq_train r11: 21 FileScan leaves
# where 14 belong). Each entry below is an iterative or pinned-frame
# registry query with its measured FileScan-leaf ceiling at sf0.001; a
# pin that falls off shows up here as the count exploding past the
# ceiling. Eagerly-pinned loops (pagerank, raking, minhash, PCA power,
# global_rank consumers) measure 0 because the checkpoint materialized
# their scans before the final plan; ceilings of 1 leave room for an
# eager→lazy pin refactor without weakening the explosion guard.
# Contract queries legitimately hold 10-20 scans across their
# exact-vs-approx branches — their ceilings pin today's shape exactly.
_EXECUTED_SCAN_CEILINGS: dict[str, int] = {
    "sample_raking_ipf": 1,  # IPF scaling loop (r9 defect class)
    "sim_pca_power_iteration": 1,  # power-iteration loop (r10 defect class)
    "dedup_pagerank_centrality": 1,  # pagerank rounds (graph.py eager pins)
    "dedup_minhash_lsh": 1,  # shingle-array frame (eager pin)
    "sample_systematic_interval": 1,  # global_rank two-pass consumer
    "sample_quantile_normalize": 4,  # global_rank + INTEGER index mapping
    "dedup_semantic": 4,  # kmeans Lloyd loop (r11 defect, pinned)
    "dedup_semantic_contract": 15,  # kmeans + survivor-count branches
    "sim_ann_pq_contract": 14,  # pq_train Lloyd loops + exact-vs-ADC branches
    "graph_kcore_copurchase": 1,  # k-core peel rounds (eager pins per round)
    "graph_label_prop_communities": 1,  # LPA rounds (eager pins per round)
}


@pytest.mark.parametrize("name", sorted(_EXECUTED_SCAN_CEILINGS))
def test_iterative_operator_executed_plan_scan_ceiling(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("FileScan")
    assert n <= _EXECUTED_SCAN_CEILINGS[name], (
        f"{name}: {n} FileScan leaves in the EXECUTED plan exceeds the "
        f"audited ceiling {_EXECUTED_SCAN_CEILINGS[name]} — an iteration "
        f"pin likely fell off (localCheckpoint the bounded per-step frame)"
    )


def test_lloyd_iterations_do_not_reembed_corpus_scan(spark, sf_dir):
    """Round-11 executed-plan audit: the un-pinned Lloyd loops in
    kmeans_centroids and pq_train re-embedded every prior iteration's
    corpus scan in the next assignment's lineage (21 FileScan leaves in
    the PQ contract query). Each iteration's bounded codebook is now
    localCheckpoint-pinned; the trained codebook's own executed plan must
    hold at most the final materialization's scans."""
    from split_kinesis_streams_with_glue_spark.operators.quantize import pq_train
    from split_kinesis_streams_with_glue_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, 4, n_iters=3)
    cents.collect()
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 2, plan

    cb = pq_train(emb, m=4, ksub=4, n_iters=3)
    cb.collect()
    plan = cb._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 2, plan

"""Incremental JOIN-view maintenance (streaming/join_view.py): per-epoch
parity with a from-scratch join recompute, and dirty-bucket-only partial
rewrites."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.envelope import generate_cdc_envelopes
from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import read_table
from split_kinesis_streams_with_glue_spark.streaming.join_view import (
    bucket_copy,
    make_cdc_join_view_merger,
    read_join_view,
)


def _setup(spark, sf_dir, tmp_path, num_buckets=8):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    facts = str(tmp_path / "facts")
    bucket_copy(orders, "o_custkey", facts, num_buckets)
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    merge = make_cdc_join_view_merger(
        str(tmp_path / "tbl"),
        str(tmp_path / "agg"),
        facts,
        "customer",
        ["c_custkey"],
        dim_key="c_custkey",
        fact_key="o_custkey",
        group_cols=["c_mktsegment"],
        value_expr=(
            F.col("o_totalprice").cast("decimal(18,2)")
            + F.col("c_acctbal").cast("decimal(18,2)")
        ),
        num_buckets=num_buckets,
    )
    return env, orders, merge


def test_join_view_tracks_cdc_through_updates_and_deletes(spark, sf_dir, tmp_path):
    env, orders, merge = _setup(spark, sf_dir, tmp_path)
    op = F.col("metadata.operation")
    for epoch, phase in enumerate(["load", "update", "delete"]):
        merge(env.filter(op == phase), epoch)
        # scratch recompute over the materialized dim table at this epoch
        dim = read_table(spark, str(tmp_path / "tbl"))
        want = {
            (r["c_mktsegment"], r["n"], r["total"])
            for r in dim.join(
                orders, orders["o_custkey"] == dim["c_custkey"]
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(
                    F.col("o_totalprice").cast("decimal(18,2)")
                    + F.col("c_acctbal").cast("decimal(18,2)")
                ).alias("total"),
            )
            .collect()
        }
        got = {
            (r["c_mktsegment"], r["n"], r["total"])
            for r in read_join_view(
                spark, str(tmp_path / "agg"), ["c_mktsegment"]
            ).collect()
        }
        assert got == want, f"epoch {epoch} ({phase}) diverged"


def test_join_view_rewrites_only_dirty_partials(spark, sf_dir, tmp_path):
    env, _, merge = _setup(spark, sf_dir, tmp_path)
    op = F.col("metadata.operation")
    merge(env.filter(op == "load"), 0)
    agg = str(tmp_path / "agg")
    mtimes = {
        d: os.path.getmtime(os.path.join(agg, d))
        for d in os.listdir(agg)
        if d.startswith("__bucket=")
    }
    one_key = env.filter(
        (op == "update") & (F.col("data.c_custkey") == 5)
    )
    assert one_key.count() == 1
    merge(one_key, 1)
    rewritten = [
        d
        for d in os.listdir(agg)
        if d.startswith("__bucket=")
        and os.path.getmtime(os.path.join(agg, d)) != mtimes.get(d)
    ]
    assert len(rewritten) == 1, f"expected 1 dirty partial partition, got {rewritten}"


def test_symmetric_join_view_tracks_both_streams(spark, sf_dir, tmp_path):
    """Both sides stream: after EVERY interleaved epoch the folded view
    equals joining the two materialized tables from scratch — including
    the half-initialized state (one side empty → empty view)."""
    from split_kinesis_streams_with_glue_spark.streaming.join_view import (
        make_symmetric_join_view_mergers,
        read_join_view,
    )

    cenv = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    oenv = generate_cdc_envelopes(spark, sf_dir, "orders", "o_orderkey", "o_totalprice")
    op = F.col("metadata.operation")
    cust_p, ord_p, agg = (
        str(tmp_path / "cust"),
        str(tmp_path / "ord"),
        str(tmp_path / "agg"),
    )
    value = F.col("o_totalprice").cast("decimal(18,2)") + F.col("c_acctbal").cast(
        "decimal(18,2)"
    )
    lm, rm = make_symmetric_join_view_mergers(
        cust_p, ord_p, agg, "customer", "orders",
        ["c_custkey"], ["o_orderkey"],
        left_key="c_custkey", right_key="o_custkey",
        group_cols=["c_mktsegment"], value_expr=value, num_buckets=8,
    )

    def scratch():
        try:
            dim = read_table(spark, cust_p)
            fact = read_table(spark, ord_p)
        except Exception:
            return set()
        return {
            (r["c_mktsegment"], r["n"], r["total"])
            for r in dim.join(fact, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(value).alias("total"),
            )
            .collect()
        }

    def view():
        try:
            return {
                (r["c_mktsegment"], r["n"], r["total"])
                for r in read_join_view(spark, agg, ["c_mktsegment"]).collect()
            }
        except Exception:
            return set()

    steps = [
        (lm, cenv.filter(op == "load"), 0),
        (rm, oenv.filter(op == "load"), 0),
        (lm, cenv.filter(op == "update"), 1),
        (rm, oenv.filter(op == "update"), 1),
        (lm, cenv.filter(op == "delete"), 2),
        (rm, oenv.filter(op == "delete"), 2),
    ]
    for i, (m, batch, epoch) in enumerate(steps):
        m(batch, epoch)
        assert view() == scratch(), f"diverged after interleaved step {i}"


def test_join_view_stream_end_to_end(spark, sf_dir, tmp_path):
    """The streaming wrapper drains a file-source envelope backlog through
    the join-view merger; the folded view equals the from-scratch join of
    the final materialized state."""
    from split_kinesis_streams_with_glue_spark.plans.registry import stage_phases
    from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
        infer_envelope_schema,
    )
    from split_kinesis_streams_with_glue_spark.streaming.join_view import (
        join_view_stream,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    facts = str(tmp_path / "facts")
    bucket_copy(orders, "o_custkey", facts, 8)
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    src = str(tmp_path / "src")
    op = F.col("metadata.operation")
    stage_phases(src, [env.filter(op == p) for p in ["load", "update", "delete"]])
    stream = (
        spark.readStream.schema(infer_envelope_schema(spark, src))
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    value = F.col("o_totalprice").cast("decimal(18,2)") + F.col("c_acctbal").cast(
        "decimal(18,2)"
    )
    q = join_view_stream(
        stream,
        str(tmp_path / "tbl"),
        str(tmp_path / "agg"),
        facts,
        str(tmp_path / "ckpt"),
        "customer",
        ["c_custkey"],
        dim_key="c_custkey",
        fact_key="o_custkey",
        group_cols=["c_mktsegment"],
        value_expr=value,
        num_buckets=8,
    )
    q.awaitTermination()
    dim = read_table(spark, str(tmp_path / "tbl"))
    want = {
        (r["c_mktsegment"], r["n"], r["total"])
        for r in dim.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum(value).alias("total"))
        .collect()
    }
    got = {
        (r["c_mktsegment"], r["n"], r["total"])
        for r in read_join_view(spark, str(tmp_path / "agg"), ["c_mktsegment"]).collect()
    }
    assert got == want


def test_join_view_non_pk_join_key_buckets_by_the_key(spark, sf_dir, tmp_path):
    """ADVICE r4 (medium): the dim table must bucket by the JOIN key, not
    the pk — here the streamed side is orders (pk o_orderkey) joined on
    o_custkey to a customer fact table bucketed by c_custkey. With pk
    bucketing, the dirty-bucket fact filter prunes the WRONG customer
    partitions and the partials silently corrupt; keyed bucketing keeps
    the view exact through every CDC phase."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_mktsegment",
        "c_acctbal",
    )
    facts = str(tmp_path / "cust_facts")
    bucket_copy(cust, "c_custkey", facts, 8)
    oenv = generate_cdc_envelopes(spark, sf_dir, "orders", "o_orderkey", "o_totalprice")
    value = F.col("o_totalprice").cast("decimal(18,2)")
    merge = make_cdc_join_view_merger(
        str(tmp_path / "tbl"),
        str(tmp_path / "agg"),
        facts,
        "orders",
        ["o_orderkey"],          # pk != join key — the bug's trigger
        dim_key="o_custkey",
        fact_key="c_custkey",
        group_cols=["c_mktsegment"],
        value_expr=value,
        num_buckets=8,
    )
    op = F.col("metadata.operation")
    for epoch, phase in enumerate(["load", "update", "delete"]):
        merge(oenv.filter(op == phase), epoch)
        dim = read_table(spark, str(tmp_path / "tbl"))
        want = {
            (r["c_mktsegment"], r["n"], r["total"])
            for r in dim.join(cust, dim["o_custkey"] == cust["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(value).alias("total"),
            )
            .collect()
        }
        got = {
            (r["c_mktsegment"], r["n"], r["total"])
            for r in read_join_view(
                spark, str(tmp_path / "agg"), ["c_mktsegment"]
            ).collect()
        }
        assert got == want, f"epoch {epoch} ({phase}) diverged"


def test_join_view_shared_key_name_is_not_ambiguous(spark, sf_dir, tmp_path):
    """ADVICE r4 (low): when both sides use the SAME key column name (the
    common case — customer_id on both tables), the unaliased join condition
    was ambiguous and raised AnalysisException at merge time. The aliased
    join must run and stay exact."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey"),  # shared name on purpose
        "o_totalprice",
    )
    facts = str(tmp_path / "facts")
    bucket_copy(orders, "c_custkey", facts, 8)
    cenv = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    value = F.col("o_totalprice").cast("decimal(18,2)")
    merge = make_cdc_join_view_merger(
        str(tmp_path / "tbl"),
        str(tmp_path / "agg"),
        facts,
        "customer",
        ["c_custkey"],
        dim_key="c_custkey",
        fact_key="c_custkey",
        group_cols=["c_mktsegment"],
        value_expr=value,
        num_buckets=8,
    )
    op = F.col("metadata.operation")
    for epoch, phase in enumerate(["load", "delete"]):
        merge(cenv.filter(op == phase), epoch)
    dim = read_table(spark, str(tmp_path / "tbl"))
    want = {
        (r["c_mktsegment"], r["n"], r["total"])
        for r in dim.alias("d")
        .join(orders.alias("f"), F.col("d.c_custkey") == F.col("f.c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum(value).alias("total"))
        .collect()
    }
    got = {
        (r["c_mktsegment"], r["n"], r["total"])
        for r in read_join_view(spark, str(tmp_path / "agg"), ["c_mktsegment"]).collect()
    }
    assert got == want


def test_symmetric_join_view_shared_key_name(spark, sf_dir, tmp_path):
    """Symmetric mergers with left_key == right_key: the qualified join
    condition must resolve (the unaliased form raised), and the view stays
    exact as both streams apply their loads."""
    from split_kinesis_streams_with_glue_spark.envelope import wrap
    from split_kinesis_streams_with_glue_spark.streaming.join_view import (
        make_symmetric_join_view_mergers,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),  # shared name on purpose
        "o_totalprice",
    )
    cust_p, ord_p, agg = (
        str(tmp_path / "cust"),
        str(tmp_path / "ord"),
        str(tmp_path / "agg"),
    )
    value = F.col("o_totalprice").cast("decimal(18,2)")
    lm, rm = make_symmetric_join_view_mergers(
        cust_p, ord_p, agg, "customer", "orders",
        ["c_custkey"], ["o_orderkey"],
        left_key="c_custkey", right_key="c_custkey",
        group_cols=["c_mktsegment"], value_expr=value, num_buckets=8,
    )
    lm(wrap(cust, "customer", "load", seq=F.lit(0)), 0)
    rm(wrap(orders, "orders", "load", seq=F.lit(0)), 0)
    want = {
        (r["c_mktsegment"], r["n"], r["total"])
        for r in cust.alias("l")
        .join(orders.alias("r"), F.col("l.c_custkey") == F.col("r.c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"), F.sum(value).alias("total"))
        .collect()
    }
    got = {
        (r["c_mktsegment"], r["n"], r["total"])
        for r in read_join_view(spark, agg, ["c_mktsegment"]).collect()
    }
    assert got == want


def test_merger_epoch_leaves_session_overwrite_mode_alone(spark, tmp_path):
    """Merger epochs overwrite their dirty buckets with a per-write option,
    never by switching the session to dynamic partition overwrite, and a
    later ``bucket_copy`` re-run over fewer keys in the same session still
    replaces every old bucket directory."""
    from split_kinesis_streams_with_glue_spark.envelope import wrap
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_cdc_merger,
    )

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key)
    facts = str(tmp_path / "facts")
    bucket_copy(spark.range(64).withColumnRenamed("id", "k"), "k", facts, 8)
    rows = spark.createDataFrame(
        [(i, 10.0) for i in range(20)], "c_custkey long, c_acctbal double"
    )
    merge = make_cdc_merger(str(tmp_path / "tbl"), "customer", ["c_custkey"], 8)
    merge(wrap(rows, "customer", "load", seq=F.lit(0)), 0)
    bucket_copy(spark.range(1).withColumnRenamed("id", "k"), "k", facts, 8)
    buckets = [d for d in os.listdir(facts) if d.startswith("__bucket=")]
    assert len(buckets) == 1, f"stale buckets survived the overwrite: {buckets}"
    assert spark.conf.get(mode_key) == mode_before


def test_fact_read_starts_no_footer_inference_job(spark, sf_dir, tmp_path, monkeypatch):
    """``bucket_copy`` records the ``_schema`` sidecar, so the hook's fact
    read in a later epoch builds its DataFrame from the listing alone and
    starts no Parquet footer-inference job."""
    from split_kinesis_streams_with_glue_spark.streaming import state_table

    env, _, merge = _setup(spark, sf_dir, tmp_path)
    op = F.col("metadata.operation")
    merge(env.filter(op == "load"), 0)

    sc = spark.sparkContext
    group = "join-view-fact-read"
    read, tables = state_table.read, []

    def read_in_group(spark, path, col="__bucket"):
        sc.setJobGroup(group, "join view state read")
        try:
            tables.append(path.rsplit("/", 1)[-1])
            return read(spark, path, col)
        finally:
            sc.setJobGroup(f"{group}-done", "")

    monkeypatch.setattr(state_table, "read", read_in_group)
    merge(env.filter(op == "update"), 1)
    assert "facts" in tables
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

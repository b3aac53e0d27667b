"""Bookkeeping cost of the bucketed state table (streaming/state_table.py):
a read lists its buckets on the driver, a merge epoch takes its dirty
census from the batch pin's own job, and the census holds at its edges."""

from __future__ import annotations

import os
import pathlib
import re
import threading

from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.envelope import wrap
from split_kinesis_streams_with_glue_spark.operators.compact import event_time
from split_kinesis_streams_with_glue_spark.operators.split import split_one
from split_kinesis_streams_with_glue_spark.streaming import state_table
from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
    make_cdc_merger,
    read_table,
)
from split_kinesis_streams_with_glue_spark.streaming.markers import read_marker

REPO = pathlib.Path(__file__).resolve().parents[1]
STREAMING = REPO / "split_kinesis_streams_with_glue_spark" / "streaming"
SCHEMA = "c_custkey long, c_name string, c_acctbal double"


def _customers(spark, n=2000):
    return spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(n)], SCHEMA
    )


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return each job's task count."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "state-table job count")
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}-done", "")
    st = sc.statusTracker()
    return [
        sum(st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds)
        for j in st.getJobIdsForGroup(group)
    ]


def _bucket_files(path):
    return {
        os.path.join(d, f): os.path.getmtime(os.path.join(path, d, f))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
        for f in os.listdir(os.path.join(path, d))
    }


def _loaded_64_bucket_table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=64)
    cust = _customers(spark)
    merge(wrap(cust, "customer", "load", seq=F.lit(0)), 0)
    assert len([d for d in os.listdir(path) if d.startswith("__bucket=")]) == 64
    return path, merge, cust


def test_reads_of_a_64_bucket_table_start_no_job(spark, tmp_path):
    """Building the lazy DataFrame lists the 64 bucket dirs on the driver;
    at Spark's default threshold (32) it starts a 64-task listing job."""
    path, _, _ = _loaded_64_bucket_table(spark, tmp_path)
    assert _jobs(spark, "st-read", lambda: state_table.read(spark, path)) == []
    assert _jobs(spark, "st-read-table", lambda: read_table(spark, path)) == []


def test_merge_epoch_dirtying_every_bucket_runs_no_bucket_wide_job(
    spark, tmp_path
):
    path, merge, cust = _loaded_64_bucket_table(spark, tmp_path)
    update = cust.withColumn("c_acctbal", F.col("c_acctbal") + 1)
    tasks = _jobs(
        spark,
        "st-merge",
        lambda: merge(wrap(update, "customer", "update", seq=F.lit(1)), 1),
    )
    assert tasks and max(tasks) < 64, tasks
    assert read_table(spark, path).agg(F.sum("c_acctbal")).first()[0] == sum(
        i + 1.0 for i in range(2000)
    )


def test_epoch_without_rows_for_the_table_touches_no_bucket(spark, tmp_path):
    """Envelopes holding only other tables' records: the census is empty,
    reading it does not block, no bucket file is rewritten, and the epoch
    still commits."""
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=8)
    cust = _customers(spark, 200)
    merge(wrap(cust, "customer", "load", seq=F.lit(0)), 0)
    before = _bucket_files(path)
    other = wrap(cust, "orders", "load", seq=F.lit(1))
    errors: list = []

    def run():
        try:
            merge(other, 1)
        except Exception as e:  # noqa: BLE001 - re-raised in the test thread
            errors.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "the merge epoch blocked"
    assert errors == []
    assert _bucket_files(path) == before
    assert read_marker(spark, f"{path}/_last_epoch") == 1
    assert read_table(spark, path).count() == 200


def test_pin_census_equals_the_distinct_buckets(spark, sf_dir, tmp_path):
    """For a normal epoch the census the merger hands ``on_merged`` is the
    batch's distinct ``__bucket`` values."""
    from split_kinesis_streams_with_glue_spark.envelope import generate_cdc_envelopes

    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    seen: list = []
    merge = make_cdc_merger(
        str(tmp_path / "tbl"),
        "customer",
        ["c_custkey"],
        num_buckets=64,
        on_merged=lambda merged, dirty: seen.append(dirty),
    )
    merge(env.filter(op == "load"), 0)
    update = env.filter(op == "update")
    merge(update, 1)
    delta = event_time(
        split_one(update, "customer", keep_operation=True, prune=False)
    ).withColumn("__bucket", F.pmod(F.xxhash64("c_custkey"), F.lit(64)))
    want = {r[0] for r in delta.select("__bucket").distinct().collect()}
    assert 0 < len(want) < 64
    assert seen[1] == want
    pinned, census = state_table.pin(delta)
    assert census == want and pinned.count() == delta.count()


def test_no_distinct_collect_census_in_streaming():
    """A census of a pinned frame comes from ``state_table.pin``'s
    observation, not from a ``.distinct().collect()`` of its own (two AQE
    jobs each)."""
    offenders = [
        f"{path.relative_to(REPO)}: {m.group(0)!r}"
        for path in sorted(STREAMING.rglob("*.py"))
        for m in re.finditer(r"\.distinct\(\)\s*\.collect\(\)", path.read_text())
    ]
    assert offenders == []


def test_no_hand_written_epoch_outside_state_table():
    """The dirty-partition epoch (pin, stored read, prune, union, write) is
    ``state_table.merge``; no other streaming module pools a delta into its
    stored rows or joins them against a broadcast dirty set by hand."""
    offenders = [
        f"{path.relative_to(REPO)}: {m.group(0)!r}"
        for path in sorted(STREAMING.rglob("*.py"))
        if path.name != "state_table.py"
        for m in re.finditer(
            r"unionByName\(\s*delta|F\.broadcast\(dirty\)", path.read_text()
        )
    ]
    assert offenders == []

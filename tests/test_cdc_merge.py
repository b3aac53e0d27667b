"""Incremental CDC merge-apply (streaming/cdc_merge.py).

Covers the three contract points: (1) incremental apply equals one-shot
full-history compaction, (2) replaying an epoch is a no-op (at-least-once
foreachBatch), (3) a batch rewrites only the key-hash buckets it touches.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.envelope import generate_cdc_envelopes
from split_kinesis_streams_with_glue_spark.operators.compact import compact, event_time
from split_kinesis_streams_with_glue_spark.operators.split import split_one
from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
    make_cdc_merger,
    read_table,
)


def _phases(spark, sf_dir):
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    return env, [
        env.filter(op == "load"),
        env.filter(op == "update"),
        env.filter(op == "delete"),
    ]


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_incremental_apply_equals_full_compaction(spark, sf_dir, tmp_path):
    env, phases = _phases(spark, sf_dir)
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=8)
    for epoch, ph in enumerate(phases):
        merge(ph, epoch)
    got = read_table(spark, path)
    want = compact(
        event_time(split_one(env, "customer", keep_operation=True, prune=False)),
        ["c_custkey"],
    )
    assert _sorted_rows(got) == _sorted_rows(want.select(*got.columns))


def test_epoch_replay_is_noop(spark, sf_dir, tmp_path):
    _, phases = _phases(spark, sf_dir)
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=8)
    merge(phases[0], 0)
    merge(phases[1], 1)
    before = _sorted_rows(read_table(spark, path))
    merge(phases[1], 1)  # at-least-once redelivery
    merge(phases[0], 0)  # stale epoch
    assert _sorted_rows(read_table(spark, path)) == before


def test_only_dirty_buckets_rewritten(spark, sf_dir, tmp_path):
    _, phases = _phases(spark, sf_dir)
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=8)
    merge(phases[0], 0)
    # one single-key batch → exactly one dirty bucket
    one_key = phases[1].filter(F.col("data.c_custkey") == 5)  # %5 only, not %10
    assert one_key.count() == 1
    mtimes_before = {
        d: os.path.getmtime(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
    }
    merge(one_key, 1)
    rewritten = [
        d
        for d in os.listdir(path)
        if d.startswith("__bucket=")
        and os.path.getmtime(os.path.join(path, d)) != mtimes_before.get(d)
    ]
    assert len(rewritten) == 1, f"expected 1 dirty bucket, rewrote {rewritten}"
    # and the merged value is the updated one
    row = (
        read_table(spark, path).filter(F.col("c_custkey") == 5).collect()[0]
    )
    orig = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_custkey") == 5)
        .collect()[0]
    )
    assert abs(row["c_acctbal"] - (orig["c_acctbal"] + 100.0)) < 1e-9


def test_schema_drift_mid_stream(spark, sf_dir, tmp_path):
    """A column appearing mid-stream must survive the merge: earlier rows
    null-fill, later rows carry it, and buckets not rewritten since the
    drift still read correctly (mergeSchema)."""
    from split_kinesis_streams_with_glue_spark.envelope import wrap

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    batch0 = wrap(cust, "customer", "load", seq=F.lit(0))
    evolved = cust.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "c_tier", F.lit("gold")
    )
    batch1 = wrap(evolved, "customer", "update", seq=F.lit(1))
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=4)
    merge(batch0, 0)
    merge(batch1, 1)
    out = read_table(spark, path)
    assert "c_tier" in out.columns
    rows = {r["c_custkey"]: r["c_tier"] for r in out.collect()}
    assert all(v == "gold" for k, v in rows.items() if k % 2 == 0)
    assert all(v is None for k, v in rows.items() if k % 2 == 1)
    assert len(rows) == cust.count()


def test_deletes_emptying_a_bucket_drop_its_partition(spark, sf_dir, tmp_path):
    """ADVICE r2 (high): dynamic overwrite only replaces partitions present
    in the output, so a batch whose deletes empty an entire bucket must
    explicitly remove the stale __bucket=N directory — otherwise the
    deleted rows resurrect in read_table."""
    from split_kinesis_streams_with_glue_spark.envelope import wrap

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    path = str(tmp_path / "tbl")
    # num_buckets=1: every key lands in bucket 0, so deleting ALL keys
    # empties the only bucket
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=1)
    merge(wrap(cust, "customer", "load", seq=F.lit(0)), 0)
    assert read_table(spark, path).count() == cust.count()
    merge(wrap(cust, "customer", "delete", seq=F.lit(1)), 1)
    assert not os.path.isdir(os.path.join(path, "__bucket=0"))
    assert read_table(spark, path).count() == 0


def test_partial_bucket_delete_keeps_survivors(spark, sf_dir, tmp_path):
    """Deleting only some keys of a bucket must keep the partition with the
    surviving rows (the empty-bucket cleanup must not over-delete)."""
    from split_kinesis_streams_with_glue_spark.envelope import wrap

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=1)
    merge(wrap(cust, "customer", "load", seq=F.lit(0)), 0)
    doomed = cust.filter(F.col("c_custkey") % 2 == 0)
    merge(wrap(doomed, "customer", "delete", seq=F.lit(1)), 1)
    got = {r["c_custkey"] for r in read_table(spark, path).collect()}
    want = {r["c_custkey"] for r in cust.filter(F.col("c_custkey") % 2 == 1).collect()}
    assert got == want


def test_unreadable_stored_table_fails_the_batch(spark, sf_dir, tmp_path):
    """ADVICE r2 (medium): only PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA mean
    'first batch'. Any other AnalysisException from reading the stored table
    (e.g. incompatible type drift across bucket files) must propagate so the
    stream retries, instead of silently treating pool = delta and
    dynamic-overwriting away the stored rows of every dirty bucket."""
    import pytest
    from split_kinesis_streams_with_glue_spark.envelope import wrap

    path = str(tmp_path / "tbl")
    # fabricate a stored table whose bucket files carry irreconcilable
    # types for the same column: int vs array<int> cannot schema-merge
    spark.range(5).selectExpr(
        "id AS c_custkey", "CAST(id AS INT) AS c_acctbal", "0 AS __bucket"
    ).write.partitionBy("__bucket").parquet(path, mode="overwrite")
    spark.range(5).selectExpr(
        "id + 10 AS c_custkey", "array(CAST(id AS INT)) AS c_acctbal", "1 AS __bucket"
    ).write.partitionBy("__bucket").parquet(path, mode="append")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=2)
    # surfaces as SparkException [CANNOT_MERGE_SCHEMAS] — the point is that
    # it propagates (fails the batch) instead of being swallowed into
    # pool = delta
    with pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        merge(wrap(cust, "customer", "update", seq=F.lit(0)), 0)
    # stored rows untouched by the failed batch
    assert spark.read.parquet(path + "/__bucket=0").count() == 5


# --------------------------------------------- CDC-aware incremental rollup


def _rollup_merge(spark, tmp_path, num_buckets=8):
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_cdc_rollup_merger,
    )

    path, agg = str(tmp_path / "tbl"), str(tmp_path / "agg")
    merge = make_cdc_rollup_merger(
        path,
        agg,
        "customer",
        ["c_custkey"],
        ["c_mktsegment"],
        F.col("c_acctbal").cast("decimal(18,2)"),
        num_buckets=num_buckets,
    )
    return path, agg, merge


def test_cdc_rollup_tracks_table_through_updates_and_deletes(
    spark, sf_dir, tmp_path
):
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        read_rollup,
    )

    _, phases = _phases(spark, sf_dir)
    path, agg, merge = _rollup_merge(spark, tmp_path)
    for epoch, ph in enumerate(phases):
        merge(ph, epoch)
        # invariant after EVERY batch: the rollup equals re-aggregating the
        # materialized row table (updates retract implicitly, deletes drop)
        want = _sorted_rows(
            read_table(spark, path)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("total"),
            )
        )
        got = _sorted_rows(read_rollup(spark, agg, ["c_mktsegment"]))
        assert got == want, f"epoch {epoch}"


def test_cdc_rollup_emptied_bucket_partials_removed(spark, tmp_path):
    from split_kinesis_streams_with_glue_spark.envelope import wrap
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_cdc_rollup_merger,
        read_rollup,
    )

    rows = spark.createDataFrame(
        [(i, f"n{i}", 0, 10.0, "SEG") for i in range(20)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    )
    path, agg = str(tmp_path / "t2"), str(tmp_path / "a2")
    merge = make_cdc_rollup_merger(
        path, agg, "customer", ["c_custkey"], ["c_mktsegment"],
        F.col("c_acctbal").cast("decimal(18,2)"), num_buckets=4,
    )
    merge(wrap(rows, "customer", "load", seq=F.lit(0)), 0)
    [r0] = read_rollup(spark, agg, ["c_mktsegment"]).collect()
    assert r0["n"] == 20
    # delete EVERY key: all buckets empty out; partial partitions must go
    merge(wrap(rows, "customer", "delete", seq=F.lit(1)), 1)
    assert read_rollup(spark, agg, ["c_mktsegment"]).count() == 0


def test_cdc_rollup_replay_is_noop(spark, sf_dir, tmp_path):
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        read_rollup,
    )

    _, phases = _phases(spark, sf_dir)
    _, agg, merge = _rollup_merge(spark, tmp_path)
    merge(phases[0], 0)
    merge(phases[1], 1)
    before = _sorted_rows(read_rollup(spark, agg, ["c_mktsegment"]))
    merge(phases[1], 1)
    merge(phases[0], 0)
    assert _sorted_rows(read_rollup(spark, agg, ["c_mktsegment"])) == before


def test_compat_policy_blocks_incompatible_drift(spark, tmp_path):
    from split_kinesis_streams_with_glue_spark.envelope import wrap
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_cdc_merger,
        read_table,
    )

    import pytest

    base = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)],
        "c_custkey long, c_name string, c_acctbal double",
    )
    retyped = spark.createDataFrame(
        [(3, "c", "not-a-number")],
        "c_custkey long, c_name string, c_acctbal string",
    )
    widened = spark.createDataFrame(
        [(4, "d", 9.5, "extra")],
        "c_custkey long, c_name string, c_acctbal double, c_note string",
    )
    path = str(tmp_path / "t")
    merge = make_cdc_merger(
        path, "customer", ["c_custkey"], num_buckets=4,
        compat_policy={"full", "backward"},
    )
    merge(wrap(base, "customer", "load", seq=F.lit(0)), 0)
    # incompatible retype fails the batch BEFORE any write
    with pytest.raises(ValueError, match="schema drift verdict 'none'"):
        merge(wrap(retyped, "customer", "insert", seq=F.lit(1)), 1)
    assert read_table(spark, path).count() == 2  # table untouched
    # additive (backward-compatible) drift passes the gate
    merge(wrap(widened, "customer", "insert", seq=F.lit(1)), 1)
    got = read_table(spark, path)
    assert got.count() == 3
    assert "c_note" in got.columns


def test_out_of_order_batches_converge_with_tombstones(spark, sf_dir, tmp_path):
    """out_of_order=True: applying [load, DELETES, updates] — the deletes
    arrive BEFORE older-event-time updates — must still converge to the
    in-order final state: the delete tombstones' later event times beat
    the late updates, so deleted keys do not resurrect. The ordered-mode
    merger fed the same scrambled order demonstrably gets this wrong
    (that is the documented delivery requirement it trades away)."""
    env, phases = _phases(spark, sf_dir)
    want = compact(
        event_time(split_one(env, "customer", keep_operation=True, prune=False)),
        ["c_custkey"],
    )
    scrambled = [phases[0], phases[2], phases[1]]  # load, deletes, updates

    ooo = str(tmp_path / "ooo")
    merge = make_cdc_merger(
        ooo, "customer", ["c_custkey"], num_buckets=8, out_of_order=True
    )
    for epoch, ph in enumerate(scrambled):
        merge(ph, epoch)
    got = read_table(spark, ooo)
    assert _sorted_rows(got) == _sorted_rows(want.select(*got.columns))

    ordered = str(tmp_path / "ord")
    merge_ord = make_cdc_merger(ordered, "customer", ["c_custkey"], num_buckets=8)
    for epoch, ph in enumerate(scrambled):
        merge_ord(ph, epoch)
    resurrected = read_table(spark, ordered)
    assert len(_sorted_rows(resurrected)) > len(_sorted_rows(got)), (
        "ordered mode should resurrect deleted keys under disorder — if it "
        "doesn't, this test isn't exercising the tombstone path"
    )


def test_expire_tombstones_drops_only_expired_buckets(spark, sf_dir, tmp_path):
    """After out-of-order merging, expire_tombstones with a horizon past
    every delete drops all tombstones (file-level: only buckets that held
    tombstones are rewritten); the visible table is unchanged; a fresh
    late update older than the horizon would now land — which is exactly
    the contract: the horizon declares such lateness impossible."""
    import os as _os

    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        expire_tombstones,
    )

    _, phases = _phases(spark, sf_dir)
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(
        path, "customer", ["c_custkey"], num_buckets=8, out_of_order=True
    )
    for epoch, ph in enumerate([phases[0], phases[2], phases[1]]):
        merge(ph, epoch)
    before = _sorted_rows(read_table(spark, path))
    raw = spark.read.option("mergeSchema", "true").parquet(path)
    n_tombs = raw.filter(F.col("operation") == "delete").count()
    assert n_tombs > 0
    tomb_buckets = {
        r[0]
        for r in raw.filter(F.col("operation") == "delete")
        .select("__bucket")
        .distinct()
        .collect()
    }
    clean = {
        int(d.split("=")[1])
        for d in _os.listdir(path)
        if d.startswith("__bucket=")
    } - tomb_buckets
    mtimes = {
        d: _os.path.getmtime(_os.path.join(path, d))
        for d in _os.listdir(path)
        if d.startswith("__bucket=")
    }
    dropped = expire_tombstones(spark, path, "2030-01-01 00:00:00")
    assert dropped == n_tombs
    after_raw = spark.read.option("mergeSchema", "true").parquet(path)
    assert after_raw.filter(F.col("operation") == "delete").count() == 0
    assert _sorted_rows(read_table(spark, path)) == before
    for d, t in mtimes.items():
        b = int(d.split("=")[1])
        if b in clean:
            assert _os.path.getmtime(_os.path.join(path, d)) == t, (
                f"clean bucket {b} was rewritten"
            )
    # horizon earlier than every tombstone: nothing to drop
    assert expire_tombstones(spark, path, "2030-01-01 00:00:00") == 0


def test_incremental_fingerprint_equals_scratch_recompute(spark, sf_dir, tmp_path):
    """After every epoch the incrementally-maintained fingerprint must
    equal recomputing the row hashes from the materialized table itself
    (same fold), and clean fingerprint partitions must not be rewritten
    by a single-bucket batch."""
    import os as _os

    from split_kinesis_streams_with_glue_spark.operators.diff import row_hash_expr
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_fingerprinted_merger,
        read_fingerprint,
    )

    _, phases = _phases(spark, sf_dir)
    tbl, fp = str(tmp_path / "tbl"), str(tmp_path / "fp")
    repr_cols = [
        F.col("c_custkey"),
        F.col("c_name"),
        F.col("c_acctbal").cast("decimal(12,2)"),
    ]
    merge = make_fingerprinted_merger(
        tbl, fp, "customer", ["c_custkey"], repr_cols, num_buckets=8
    )
    for epoch, ph in enumerate(phases):
        merge(ph, epoch)
        cert = read_fingerprint(spark, fp).collect()[0]
        scratch = (
            read_table(spark, tbl)
            .select(row_hash_expr(repr_cols).alias("h"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("h").cast("decimal(38,0)").alias("c"),
            )
            .collect()[0]
        )
        assert (cert["n_rows"], cert["checksum"]) == (scratch["n"], scratch["c"])

    mtimes = {
        d: _os.path.getmtime(_os.path.join(fp, d))
        for d in _os.listdir(fp)
        if d.startswith("__bucket=")
    }
    one_key = phases[1].filter(F.col("data.c_custkey") == 5)
    merge(one_key, 10)
    rewritten = [
        d
        for d in _os.listdir(fp)
        if d.startswith("__bucket=")
        and _os.path.getmtime(_os.path.join(fp, d)) != mtimes.get(d)
    ]
    assert len(rewritten) == 1, f"expected 1 dirty fp partition, got {rewritten}"


def test_scd2_incremental_matches_batch_and_replays(spark, sf_dir, tmp_path):
    """Per-epoch the incremental SCD2 equals scd2_history over everything
    delivered so far; replaying an epoch is a no-op; a batch-3 update to
    one key extends that key's chain and closes the prior version."""
    from split_kinesis_streams_with_glue_spark.operators.compact import scd2_history
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_scd2_merger,
        read_scd2,
    )

    env, phases = _phases(spark, sf_dir)
    log, scd2 = str(tmp_path / "log"), str(tmp_path / "scd2")
    merge = make_scd2_merger(log, scd2, "customer", ["c_custkey"], num_buckets=8)

    delivered = None
    for epoch, ph in enumerate(phases):
        merge(ph, epoch)
        delivered = ph if delivered is None else delivered.unionByName(ph)
        want = scd2_history(
            event_time(
                split_one(delivered, "customer", keep_operation=True, prune=False)
            ),
            ["c_custkey"],
        )
        got = read_scd2(spark, scd2)
        assert _sorted_rows(got) == _sorted_rows(want.select(*got.columns)), (
            f"epoch {epoch} diverged"
        )

    before = _sorted_rows(read_scd2(spark, scd2))
    merge(phases[1], 1)  # replay
    assert _sorted_rows(read_scd2(spark, scd2)) == before


def test_scd2_stream_end_to_end(spark, sf_dir, tmp_path):
    """The streaming SCD2 wrapper drains a file-source backlog; the
    resulting validity table equals the one-shot scd2_history."""
    from split_kinesis_streams_with_glue_spark.operators.compact import scd2_history
    from split_kinesis_streams_with_glue_spark.plans.registry import stage_phases
    from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
        infer_envelope_schema,
    )
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        read_scd2,
        scd2_stream,
    )

    env, phases = _phases(spark, sf_dir)
    src = str(tmp_path / "src")
    stage_phases(src, phases)
    stream = (
        spark.readStream.schema(infer_envelope_schema(spark, src))
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = scd2_stream(
        stream,
        str(tmp_path / "log"),
        str(tmp_path / "scd2"),
        str(tmp_path / "ckpt"),
        "customer",
        ["c_custkey"],
        num_buckets=8,
    )
    q.awaitTermination()
    got = read_scd2(spark, str(tmp_path / "scd2"))
    want = scd2_history(
        event_time(split_one(env, "customer", keep_operation=True, prune=False)),
        ["c_custkey"],
    )
    assert _sorted_rows(got) == _sorted_rows(want.select(*got.columns))


def test_fingerprint_sweeps_tombstone_only_buckets_out_of_order(
    spark, sf_dir, tmp_path
):
    """ADVICE r4 (high): with out_of_order=True, a dirty bucket whose live
    rows are ALL deleted still holds tombstones — it survives in the row
    table, but the fingerprint (live rows only) emits no replacement rows
    for it. Sweeping dirty - surviving skipped exactly that bucket, so its
    stale fingerprint partition persisted and read_fingerprint over-counted
    (reproduced upstream as n_rows=129 for a 128-row table). The sweep must
    key off the buckets PRESENT IN THE FINGERPRINT OUTPUT instead."""
    from split_kinesis_streams_with_glue_spark.envelope import wrap
    from split_kinesis_streams_with_glue_spark.operators.diff import row_hash_expr
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_fingerprinted_merger,
        read_fingerprint,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    n_buckets = 8
    bucket = F.pmod(F.xxhash64("c_custkey"), F.lit(n_buckets))
    target = int(
        cust.select(bucket.alias("b")).groupBy("b").count().orderBy("b").first()["b"]
    )
    tbl, fp = str(tmp_path / "tbl"), str(tmp_path / "fp")
    repr_cols = [F.col("c_custkey"), F.col("c_name")]
    merge = make_fingerprinted_merger(
        tbl, fp, "customer", ["c_custkey"], repr_cols,
        num_buckets=n_buckets, out_of_order=True,
    )
    merge(wrap(cust, "customer", "load", seq=F.lit(0)), 0)
    # delete EVERY key of the target bucket, later event time: the bucket
    # keeps only tombstones afterwards
    doomed = cust.filter(bucket == target)
    assert doomed.count() > 0
    merge(wrap(doomed, "customer", "delete", seq=F.lit(3)), 1)

    raw = spark.read.option("mergeSchema", "true").parquet(tbl)
    assert (
        raw.filter(F.col("__bucket") == target)
        .filter(F.col("operation") != "delete")
        .count()
        == 0
    ), "test setup: the target bucket must hold only tombstones"

    cert = read_fingerprint(spark, fp).collect()[0]
    scratch = (
        read_table(spark, tbl)
        .select(row_hash_expr(repr_cols).alias("h"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("h").cast("decimal(38,0)").alias("c"),
        )
        .collect()[0]
    )
    assert (cert["n_rows"], cert["checksum"]) == (scratch["n"], scratch["c"]), (
        "fingerprint must not retain the stale partition of a "
        "tombstone-only bucket"
    )
    assert not os.path.isdir(os.path.join(fp, f"__bucket={target}"))


# ------------------------------------------------- _schema sidecar validation


def _truncated(sidecar: str) -> str:
    return sidecar[: len(sidecar) // 2]


def _without_bucket(sidecar: str) -> str:
    schema = json.loads(sidecar)
    schema["fields"] = [f for f in schema["fields"] if f["name"] != "__bucket"]
    return json.dumps(schema)


@pytest.mark.parametrize(
    "corrupt", [_truncated, _without_bucket], ids=["truncated", "no_bucket_column"]
)
def test_invalid_schema_sidecar_falls_back_to_merge_schema(
    spark, sf_dir, tmp_path, corrupt
):
    """A sidecar that is not a schema holding the partition column (a torn
    write, a foreign file) is ignored: the read infers the schema from the
    data files instead, and returns exactly the rows it returned before."""
    from split_kinesis_streams_with_glue_spark.streaming.markers import (
        read_text_marker,
        write_text_marker,
    )

    _, phases = _phases(spark, sf_dir)
    path = str(tmp_path / "tbl")
    merge = make_cdc_merger(path, "customer", ["c_custkey"], num_buckets=8)
    merge(phases[0], 0)
    merge(phases[1], 1)
    before = _sorted_rows(read_table(spark, path))
    sidecar = f"{path}/_schema"
    # through the Hadoop API, so the local filesystem's checksum file
    # matches the corrupted content
    write_text_marker(spark, sidecar, corrupt(read_text_marker(spark, sidecar)))
    assert _sorted_rows(read_table(spark, path)) == before

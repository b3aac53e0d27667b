"""M4: Structured Streaming splitter — micro-batch fan-out, checkpoint
restart idempotence, DLQ routing, windowed counts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.envelope import (
    DEFAULT_FIXTURE_TABLES,
    write_envelope_fixture,
)
from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
    infer_envelope_schema,
)
from split_kinesis_streams_with_glue_spark.streaming.split_stream import (
    run_split_stream_to_completion,
    windowed_event_counts,
)


@pytest.fixture()
def stream_dirs(spark, sf_dir, tmp_path):
    src = str(tmp_path / "stream_src")
    write_envelope_fixture(spark, sf_dir, src, n_files=4)
    return {
        "source_dir": src,
        "out_dir": str(tmp_path / "target"),
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "dlq_dir": str(tmp_path / "dlq"),
        "schema": infer_envelope_schema(spark, src),
    }


def test_sampled_inference_matches_full(spark, sf_dir, tmp_path):
    """Pins the contract behind the queries' ``sampling_ratio=0.05``
    inference (r14): on a SINGLE-TABLE envelope fixture — where every data
    line carries the full payload struct — a sampled inference must produce
    the exact union schema of the full parse, for both fixture layouts the
    queries build (wire lines with control + corrupt records, and the
    per-phase CDC file layout). If a fixture ever gains a field that only
    rare lines carry, this test turns red BEFORE the sampled queries can
    silently drop the field."""
    import os

    from split_kinesis_streams_with_glue_spark.envelope import (
        control_records,
        generate_cdc_envelopes,
        to_json_lines,
        wrap,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # layout 1: stream_split_customer's wire fixture
    src1 = str(tmp_path / "wire")
    lines = to_json_lines(wrap(cust, "customer"))
    lines = lines.unionByName(to_json_lines(control_records(spark, ["customer"])))
    lines = lines.unionByName(
        spark.createDataFrame([("{not json",), ('{"data": bad',)], "value string")
    )
    lines.repartition(3).write.mode("overwrite").text(src1)
    assert infer_envelope_schema(spark, src1, sampling_ratio=0.05) == (
        infer_envelope_schema(spark, src1)
    )
    # layout 2: the CDC mergers' per-phase file layout
    src2 = str(tmp_path / "phases")
    os.makedirs(src2)
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    for phase in ["load", "update", "delete"]:
        to_json_lines(env.filter(op == phase)).coalesce(1).write.mode("append").text(src2)
    assert infer_envelope_schema(spark, src2, sampling_ratio=0.05) == (
        infer_envelope_schema(spark, src2)
    )


def test_stream_split_end_to_end(spark, sf_dir, stream_dirs):
    tables = sorted(DEFAULT_FIXTURE_TABLES)
    run_split_stream_to_completion(
        spark, tables=tables, keep_timestamp=False, **stream_dirs
    )
    # every table materialized with full-load + cdc rows
    for t in tables:
        out = spark.read.parquet(f"{stream_dirs['out_dir']}/dms_sample/{t}")
        src = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        assert out.count() >= src.count(), t
    # load-phase rows of nation match the source exactly
    # (nation has no CDC phase in the fixture: load + control only)
    nation = spark.read.parquet(f"{stream_dirs['out_dir']}/dms_sample/nation")
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    got = {tuple(r) for r in nation.select(*sorted(src.columns)).collect()}
    want = {tuple(r) for r in src.select(*sorted(src.columns)).collect()}
    assert got == want
    # corrupt lines routed to DLQ with batch ids
    dlq = spark.read.json(stream_dirs["dlq_dir"])
    assert dlq.count() == 2
    assert "batch_id" in dlq.columns


def test_stream_restart_is_idempotent(spark, sf_dir, stream_dirs):
    """Re-running with the same checkpoint must not duplicate rows; new
    files appearing after the first drain are picked up exactly once."""
    tables = ["nation"]
    args = dict(stream_dirs)
    run_split_stream_to_completion(spark, tables=tables, keep_timestamp=False, **args)
    n1 = spark.read.parquet(f"{args['out_dir']}/dms_sample/nation").count()

    # restart with no new input: nothing reprocessed
    run_split_stream_to_completion(spark, tables=tables, keep_timestamp=False, **args)
    n2 = spark.read.parquet(f"{args['out_dir']}/dms_sample/nation").count()
    assert n2 == n1

    # add a new envelope file, restart: only the delta lands
    from split_kinesis_streams_with_glue_spark.envelope import to_json_lines, wrap

    extra = spark.read.parquet(f"{sf_dir}/nation.parquet").limit(5)
    to_json_lines(wrap(extra, "nation", "insert")).coalesce(1).write.mode(
        "append"
    ).text(args["source_dir"])
    run_split_stream_to_completion(spark, tables=tables, keep_timestamp=False, **args)
    n3 = spark.read.parquet(f"{args['out_dir']}/dms_sample/nation").count()
    assert n3 == n1 + 5


def test_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: delivering the SAME batch id twice
    (crash-before-checkpoint-commit replay) must not duplicate rows in any
    table output or the DLQ, while a NEW batch id must append."""
    from split_kinesis_streams_with_glue_spark.envelope import generate_cdc_envelopes
    from split_kinesis_streams_with_glue_spark.sources.memory import json_roundtrip
    from split_kinesis_streams_with_glue_spark.streaming.split_stream import (
        make_batch_processor,
    )

    batch = json_roundtrip(
        generate_cdc_envelopes(spark, sf_dir, "nation", "n_nationkey", "n_regionkey")
    )
    out = str(tmp_path / "replay_out")
    dlq = str(tmp_path / "replay_dlq")
    process = make_batch_processor(out, ["nation"], dlq_dir=dlq, keep_timestamp=False)

    process(batch, 0)
    n1 = spark.read.parquet(f"{out}/dms_sample/nation").count()
    process(batch, 0)  # replay: same id again
    assert spark.read.parquet(f"{out}/dms_sample/nation").count() == n1
    process(batch, 1)  # genuinely new batch appends
    assert spark.read.parquet(f"{out}/dms_sample/nation").count() == 2 * n1


def test_marker_lost_between_delete_and_rename_still_guards(spark, sf_dir, tmp_path):
    """A marker write that crashed after deleting the old marker but before
    renaming its (complete) temp file into place leaves no marker, only
    ``<marker>.tmp`` holding the new id. The read must take that id, so a
    replay of the batch appends nothing to any output."""
    from split_kinesis_streams_with_glue_spark.envelope import generate_cdc_envelopes
    from split_kinesis_streams_with_glue_spark.sources.memory import json_roundtrip
    from split_kinesis_streams_with_glue_spark.streaming.markers import (
        _fs,
        read_marker,
    )
    from split_kinesis_streams_with_glue_spark.streaming.split_stream import (
        make_batch_processor,
    )

    batch = json_roundtrip(
        generate_cdc_envelopes(spark, sf_dir, "nation", "n_nationkey", "n_regionkey")
    )
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    process = make_batch_processor(out, ["nation"], dlq_dir=dlq, keep_timestamp=False)
    process(batch, 0)
    process(batch, 1)
    n_rows = spark.read.parquet(f"{out}/dms_sample/nation").count()
    n_dlq = spark.read.json(dlq).count()
    for marker in (f"{out}/dms_sample/nation/_last_batch", f"{dlq}/_last_batch"):
        # the crash state: the old marker deleted, the temp file not renamed
        fs, p, jvm = _fs(spark, marker)
        assert fs.rename(p, jvm.org.apache.hadoop.fs.Path(marker + ".tmp"))
        assert not fs.exists(p)
        assert read_marker(spark, marker) == 1
    process(batch, 1)  # the replay after the crash
    assert spark.read.parquet(f"{out}/dms_sample/nation").count() == n_rows
    assert spark.read.json(dlq).count() == n_dlq


def test_once_skips_committed_epochs_and_commits_last(spark, tmp_path):
    """``markers.once``: a replayed or stale epoch never reaches the step;
    a step that raises commits nothing, so the retry sees the same
    committed id; with ``slots`` only the committed slot survives."""
    import os

    from split_kinesis_streams_with_glue_spark.streaming.markers import (
        once,
        read_marker,
        slot,
    )

    marker, root = str(tmp_path / "_last_epoch"), str(tmp_path / "state")
    calls, fail = [], {"epoch": None}

    def step(df, epoch_id, last):
        calls.append((epoch_id, last))
        df.write.mode("overwrite").parquet(slot(root, epoch_id))
        if epoch_id == fail["epoch"]:
            raise RuntimeError("injected step failure")

    run = once(marker, step, slots=root)
    df = spark.range(1)
    run(df, 0)
    run(df, 1)
    run(df, 1)  # replay
    run(df, 0)  # stale
    assert calls == [(0, None), (1, 0)]
    assert read_marker(spark, marker) == 1

    fail["epoch"] = 2
    with pytest.raises(RuntimeError):
        run(df, 2)
    assert read_marker(spark, marker) == 1, "a failed step must commit nothing"
    fail["epoch"] = None
    run(df, 2)  # the retry derives from the same committed epoch
    assert calls[-2:] == [(2, 1), (2, 1)]
    assert read_marker(spark, marker) == 2
    assert sorted(d for d in os.listdir(root) if d.startswith("__v=")) == ["__v=2"]


def test_windowed_event_counts_batch_stream_parity(spark, sf_dir, tmp_path):
    """The same windowed-agg code runs in batch and streaming and agrees."""
    from split_kinesis_streams_with_glue_spark.plans.registry import load

    ev = load(spark, sf_dir, "events")
    batch_out = windowed_event_counts(ev).collect()

    src = str(tmp_path / "win_src")
    ev.coalesce(2).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema(spark.read.json(src).schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = str(tmp_path / "win_out")
    q = (
        windowed_event_counts(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_out = spark.read.parquet(out).collect()
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    b = {key(r): r["n_events"] for r in batch_out}
    s = {key(r): r["n_events"] for r in stream_out}
    # append mode emits only windows closed by the watermark; every emitted
    # window must match the batch result exactly
    assert s and all(b[k] == v for k, v in s.items())


def test_hopping_event_counts_overlap_invariant(spark, sf_dir):
    """Hopping windows (1h width, 30m hop) assign every event to exactly
    two windows: total hopping counts are exactly 2x the tumbling total,
    and each tumbling hour is covered by the two hops that span it."""
    from split_kinesis_streams_with_glue_spark.streaming.split_stream import (
        hopping_event_counts,
    )

    from split_kinesis_streams_with_glue_spark.plans.registry import load

    ev = load(spark, sf_dir, "events")
    n_events = ev.count()
    hop = hopping_event_counts(ev).collect()
    assert sum(r["n_events"] for r in hop) == 2 * n_events
    for r in hop:  # every window is width 1h and starts on a 30m boundary
        assert (r["window_end"] - r["window_start"]).total_seconds() == 3600
        assert r["window_start"].minute in (0, 30)
        assert r["window_start"].second == 0


def test_stream_split_date_partitioned_layout(spark, sf_dir, stream_dirs):
    """Firehose-style date layout: output lands under ingest_date=YYYY-MM-DD
    partitions and a date filter prunes to those directories."""
    import os

    run_split_stream_to_completion(
        spark,
        tables=["customer"],
        keep_timestamp=False,
        partition_by_ingest_date=True,
        **stream_dirs,
    )
    table_dir = os.path.join(stream_dirs["out_dir"], "dms_sample", "customer")
    parts = [d for d in os.listdir(table_dir) if d.startswith("ingest_date=")]
    assert parts, f"no date partitions in {os.listdir(table_dir)}"
    back = spark.read.parquet(table_dir)
    assert "ingest_date" in back.columns
    one_date = parts[0].split("=", 1)[1]
    import contextlib, io

    df = back.filter(F.col("ingest_date") == one_date)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()


def test_rollup_merge_is_idempotent_on_epoch_replay(spark, sf_dir, tmp_path):
    """Re-delivering the same epoch (at-least-once foreachBatch) must not
    double-count; a NEW epoch with the same rows must."""
    from split_kinesis_streams_with_glue_spark.plans.registry import load
    from split_kinesis_streams_with_glue_spark.streaming.rollup import make_merger

    ev = load(spark, sf_dir, "events").limit(200).select("ts", "event_type", "value")
    out = str(tmp_path / "rollup")
    merge = make_merger(out)

    merge(ev, 0)
    first = {(r["bucket"], r["event_type"]): (r["n"], r["total"])
             for r in spark.read.parquet(out).collect()}
    merge(ev, 0)  # replay of epoch 0 — must be a no-op
    replay = {(r["bucket"], r["event_type"]): (r["n"], r["total"])
              for r in spark.read.parquet(out).collect()}
    assert replay == first

    merge(ev, 1)  # genuinely new epoch — counts double
    doubled = {k: v[0] for k, v in
               {(r["bucket"], r["event_type"]): (r["n"], r["total"])
                for r in spark.read.parquet(out).collect()}.items()}
    assert doubled == {k: 2 * v[0] for k, v in first.items()}


def test_stream_metrics_side_channel(spark, sf_dir, stream_dirs, tmp_path):
    """Per-batch split metrics (the live DMS-console view): per-batch
    (schema, table, operation) counts plus corrupt rows, summing exactly
    to the source envelope stream's composition."""
    from split_kinesis_streams_with_glue_spark.operators.split import split_stats

    tables = sorted(DEFAULT_FIXTURE_TABLES)
    metrics_dir = str(tmp_path / "metrics")
    run_split_stream_to_completion(
        spark,
        tables=tables,
        keep_timestamp=False,
        metrics_dir=metrics_dir,
        **stream_dirs,
    )
    m = spark.read.parquet(metrics_dir)
    assert {"schema_name", "table_name", "operation", "n_records", "batch_id"} <= set(
        m.columns
    )
    assert m.select("batch_id").distinct().count() >= 2  # multiple micro-batches
    # totals across batches == one-shot batch stats over the full stream
    env = spark.read.schema(stream_dirs["schema"]).json(stream_dirs["source_dir"])
    want = {
        (r["schema_name"], r["table_name"], r["operation"]): r["n_records"]
        for r in split_stats(env).collect()
    }
    got_rows = (
        m.filter(F.col("table_name") != "_corrupt")
        .groupBy("schema_name", "table_name", "operation")
        .agg(F.sum("n_records").alias("n"))
        .collect()
    )
    got = {(r["schema_name"], r["table_name"], r["operation"]): r["n"] for r in got_rows}
    assert got == want
    # the two corrupt fixture lines are visible in the metrics too
    corrupt_total = (
        m.filter(F.col("table_name") == "_corrupt").agg(F.sum("n_records")).first()[0]
    )
    assert corrupt_total == 2


# ------------------------------------------------------ streaming top-k


def _mk_batches(spark, counts_per_batch):
    """counts_per_batch: list of dicts key->n; build one frame per batch."""
    out = []
    for d in counts_per_batch:
        rows = [(k,) for k, n in d.items() for _ in range(n)]
        out.append(spark.createDataFrame(rows, "k string"))
    return out


def test_topk_exact_when_under_capacity(spark, tmp_path):
    from split_kinesis_streams_with_glue_spark.streaming.topk import (
        make_topk_merger,
        read_topk,
    )

    path = str(tmp_path / "tk")
    merge = make_topk_merger(path, "k", capacity=16)
    batches = _mk_batches(
        spark, [{"a": 5, "b": 2}, {"a": 3, "c": 7}, {"b": 1, "c": 1}]
    )
    for e, b in enumerate(batches):
        merge(b, e)
    got = {r["key"]: (r["cnt"], r["err"]) for r in read_topk(spark, path).collect()}
    assert got == {"a": (8, 0), "b": (3, 0), "c": (8, 0)}


def test_topk_capacity_bound_and_guarantees(spark, tmp_path):
    from split_kinesis_streams_with_glue_spark.streaming.topk import (
        make_topk_merger,
        read_topk,
    )

    path = str(tmp_path / "tk2")
    cap = 8
    merge = make_topk_merger(path, "k", capacity=cap)
    # heavy keys h0..h3 appear every batch; 30 distinct light keys churn
    true_counts: dict[str, int] = {}
    batches = []
    for e in range(5):
        d = {f"h{i}": 20 for i in range(4)}
        d.update({f"l{e}_{j}": 1 for j in range(6)})
        for k, n in d.items():
            true_counts[k] = true_counts.get(k, 0) + n
        batches.append(d)
    for e, b in enumerate(_mk_batches(spark, batches)):
        merge(b, e)
    rows = read_topk(spark, path).collect()
    assert len(rows) <= cap
    got = {r["key"]: r for r in rows}
    # every heavy key present, never undercounted, lower bound never over
    for i in range(4):
        k = f"h{i}"
        assert k in got
        assert got[k]["cnt"] >= true_counts[k]
        assert got[k]["cnt"] - got[k]["err"] <= true_counts[k]


def test_topk_replay_is_noop(spark, tmp_path):
    from split_kinesis_streams_with_glue_spark.streaming.topk import (
        make_topk_merger,
        read_topk,
    )

    path = str(tmp_path / "tk3")
    merge = make_topk_merger(path, "k", capacity=4)
    batches = _mk_batches(spark, [{"a": 3}, {"a": 2, "b": 1}])
    merge(batches[0], 0)
    merge(batches[1], 1)
    before = sorted(map(tuple, read_topk(spark, path).collect()))
    merge(batches[1], 1)
    merge(batches[0], 0)
    assert sorted(map(tuple, read_topk(spark, path).collect())) == before


def test_topk_crash_between_snapshot_and_marker_recovers_exactly(
    spark, tmp_path
):
    """Simulate the at-least-once crash window: epoch 1's snapshot was
    written but its marker never committed. The re-delivered epoch must
    rebuild the snapshot from epoch 0's (still present) state — counts
    exact, no double-add."""
    from split_kinesis_streams_with_glue_spark.streaming.markers import slot
    from split_kinesis_streams_with_glue_spark.streaming.topk import (
        make_topk_merger,
        read_topk,
    )

    path = str(tmp_path / "tk4")
    merge = make_topk_merger(path, "k", capacity=8)
    b0, b1 = _mk_batches(spark, [{"a": 3, "b": 1}, {"a": 2, "c": 4}])
    merge(b0, 0)
    # a torn epoch-1 snapshot from the "crashed" attempt (wrong contents)
    spark.createDataFrame(
        [("a", 999, 0)], "key string, cnt long, err long"
    ).write.mode("overwrite").parquet(slot(path, 1))
    merge(b1, 1)  # redelivery: must overwrite the torn snapshot, not trust it
    got = {r["key"]: r["cnt"] for r in read_topk(spark, path).collect()}
    assert got == {"a": 5, "b": 1, "c": 4}


def test_psi_monitor_empty_batch_and_replay(spark, sf_dir, tmp_path):
    """An EMPTY micro-batch must not crash the monitor (eps floors both
    distributions; the row records 0 rows and flags drift — an empty
    trigger IS maximally unlike the reference); replays are no-ops."""
    from pyspark.sql import functions as F

    from split_kinesis_streams_with_glue_spark.streaming.monitor import (
        make_psi_monitor,
        read_psi_metrics,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    path = str(tmp_path / "metrics")
    monitor = make_psi_monitor(cust, "c_acctbal", -1000.0, 10000.0, path)
    monitor(cust.filter(F.lit(False)), 0)  # empty batch
    monitor(cust, 1)
    monitor(cust, 1)  # replay
    rows = {r["epoch"]: r for r in read_psi_metrics(spark, path).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["n_rows"] == 0 and rows[0]["drifted"]
    assert rows[1]["psi"] == 0.0 and not rows[1]["drifted"]


def test_psi_monitor_replay_after_lost_marker_writes_one_row(spark, sf_dir, tmp_path):
    """A crash between the metrics write and the marker replays the epoch:
    its row is overwritten, not appended a second time."""
    from split_kinesis_streams_with_glue_spark.streaming.monitor import (
        make_psi_monitor,
        read_psi_metrics,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    path = str(tmp_path / "metrics")
    monitor = make_psi_monitor(cust, "c_acctbal", -1000.0, 10000.0, path)
    monitor(cust, 0)
    os.remove(f"{path}/_last_epoch")
    monitor(cust, 0)
    rows = read_psi_metrics(spark, path).collect()
    assert [(r["epoch"], r["psi"]) for r in rows] == [(0, 0.0)]


def test_novelty_monitor_counts_replays_and_partial_failure(
    spark, sf_dir, tmp_path, monkeypatch
):
    """make_novelty_monitor (ADVICE r4 medium + VERDICT item 4): exact
    per-epoch new-key counts across overlapping batches; a replayed
    trigger is a no-op; and — the crash-window fix — an epoch that dies
    AFTER staging its Bloom state but BEFORE its marker commits must
    recompute the identical n_new on redelivery (the old in-place state
    overwrite made the replay see the merged filter and record n_new=0)."""
    from pyspark.sql import functions as F

    import split_kinesis_streams_with_glue_spark.streaming.markers as markers
    import split_kinesis_streams_with_glue_spark.streaming.monitor as mon

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    metrics, state = str(tmp_path / "metrics"), str(tmp_path / "state")
    monitor = mon.make_novelty_monitor("c_custkey", metrics, state)

    n_lt_800 = cust.filter(k < 800).count()
    n_800_1200 = cust.filter((k >= 800) & (k < 1200)).count()

    monitor(cust.filter(k < 800), 0)
    monitor(cust.filter(k < 800), 0)  # replay: no-op

    # epoch 1 crashes between the state stage and the marker commit
    real_write_marker = markers.write_marker

    def crash_before_marker(spark_, marker_path, epoch_id):
        raise RuntimeError("injected crash before marker commit")

    # the commit call ``markers.once`` makes after the epoch's writes
    monkeypatch.setattr(markers, "write_marker", crash_before_marker)
    batch1 = cust.filter((k >= 400) & (k < 1200))
    try:
        monitor(batch1, 1)
    except RuntimeError:
        pass
    monkeypatch.setattr(markers, "write_marker", real_write_marker)

    # redelivery: must count against the COMMITTED epoch-0 state
    monitor(batch1, 1)

    rows = {r["epoch"]: r for r in mon.read_psi_metrics(spark, metrics).collect()}
    assert set(rows) == {0, 1}, "one metrics row per epoch — no duplicates"
    assert rows[0]["n_new"] == n_lt_800
    assert rows[1]["n_new"] == n_800_1200, (
        "replay after partial failure must re-derive n_new from the last "
        "COMMITTED state, not the staged one"
    )
    assert rows[1]["n_batch_keys"] == batch1.count()

    # epoch 2: everything beyond 1200 is new; superseded versions GC'd
    monitor(cust, 2)
    rows = {r["epoch"]: r for r in mon.read_psi_metrics(spark, metrics).collect()}
    assert rows[2]["n_new"] == cust.filter(k >= 1200).count()
    import os as _os

    versions = [d for d in _os.listdir(state) if d.startswith("__v=")]
    assert versions == ["__v=2"], f"superseded state versions not GC'd: {versions}"


def test_ewma_monitor_empty_batch_and_partial_failure(
    spark, sf_dir, tmp_path, monkeypatch
):
    """make_ewma_monitor: an empty batch carries the level forward without
    alarming; a crash between the staged state and the marker commit
    replays to the identical row (versioned-slot protocol, same as the
    novelty monitor); replays are no-ops."""
    from pyspark.sql import functions as F

    import split_kinesis_streams_with_glue_spark.streaming.markers as markers
    import split_kinesis_streams_with_glue_spark.streaming.monitor as mon

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    metrics, state = str(tmp_path / "m"), str(tmp_path / "s")
    monitor = mon.make_ewma_monitor(
        "c_acctbal", metrics, state, alpha=0.5, threshold=1e9
    )
    b0 = cust.filter(F.col("c_custkey") % 2 == 0)
    b1 = cust.filter(F.lit(False))  # empty trigger
    b2 = cust

    monitor(b0, 0)
    monitor(b0, 0)  # replay: no-op
    monitor(b1, 1)

    real = markers.write_marker
    monkeypatch.setattr(
        markers, "write_marker",
        lambda *a: (_ for _ in ()).throw(RuntimeError("injected crash")),
    )
    try:
        monitor(b2, 2)
    except RuntimeError:
        pass
    monkeypatch.setattr(markers, "write_marker", real)
    monitor(b2, 2)  # redelivery after the partial failure

    rows = {r["epoch"]: r for r in mon.read_psi_metrics(spark, metrics).collect()}
    assert set(rows) == {0, 1, 2}

    def mean(df):
        s = df.agg(
            F.sum(F.col("c_acctbal").cast("decimal(27,2)")).cast("double").alias("s"),
            F.count("c_acctbal").alias("n"),
        ).collect()[0]
        return float(s["s"]) / int(s["n"])

    m0, m2 = mean(b0), mean(b2)
    assert abs(rows[0]["ewma"] - m0) < 1e-9 and not rows[0]["alarm"]
    # empty batch: level carried, no alarm, no deviation
    assert rows[1]["batch_mean"] is None
    assert abs(rows[1]["ewma"] - m0) < 1e-9 and not rows[1]["alarm"]
    assert rows[1]["deviation"] is None and rows[1]["n_rows"] == 0
    # epoch 2 recomputed against the COMMITTED epoch-1 state after the crash
    assert abs(rows[2]["ewma"] - (0.5 * m2 + 0.5 * m0)) < 1e-9
    assert abs(rows[2]["deviation"] - abs(m2 - m0)) < 1e-9


def test_ewma_monitor_first_epoch_empty_seeds_on_first_data(spark, sf_dir, tmp_path):
    """A stream whose FIRST epoch is empty commits ewma=NULL state; the
    first non-empty epoch must treat that as 'no baseline yet' and seed
    from its own mean instead of crash-looping on None arithmetic
    (round-5 ADVICE: state+marker are already committed, so a TypeError
    here would replay forever)."""
    from pyspark.sql import functions as F

    import split_kinesis_streams_with_glue_spark.streaming.monitor as mon

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    metrics, state = str(tmp_path / "m"), str(tmp_path / "s")
    monitor = mon.make_ewma_monitor(
        "c_acctbal", metrics, state, alpha=0.5, threshold=0.0
    )
    monitor(cust.filter(F.lit(False)), 0)  # first epoch empty
    monitor(cust.filter(F.lit(False)), 1)  # still empty: NULL carries
    monitor(cust, 2)  # first data: seeds the baseline, never alarms
    monitor(cust, 3)  # second data epoch scores against the seed

    rows = {r["epoch"]: r for r in mon.read_psi_metrics(spark, metrics).collect()}
    m = cust.agg(
        F.sum(F.col("c_acctbal").cast("decimal(27,2)")).cast("double").alias("s"),
        F.count("c_acctbal").alias("n"),
    ).collect()[0]
    mean = float(m["s"]) / int(m["n"])
    assert rows[0]["ewma"] is None and not rows[0]["alarm"]
    assert rows[1]["ewma"] is None and not rows[1]["alarm"]
    assert abs(rows[2]["ewma"] - mean) < 1e-9
    assert not rows[2]["alarm"] and rows[2]["deviation"] is None
    # identical batch → deviation 0, NOT > threshold=0 → still no alarm
    assert abs(rows[3]["ewma"] - mean) < 1e-9 and not rows[3]["alarm"]
    assert rows[3]["deviation"] == 0.0


def test_quality_monitor_rates_empty_batch_and_replay(spark, sf_dir, tmp_path):
    """Keep-rate per epoch is exact; an empty batch records (0, 0, NULL);
    replays are no-ops (idempotent epoch partition + marker)."""
    from pyspark.sql import functions as F

    from split_kinesis_streams_with_glue_spark.streaming.monitor import (
        make_quality_monitor,
        read_psi_metrics,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    path = str(tmp_path / "m")
    monitor = make_quality_monitor(F.col("c_acctbal") > 0, path)
    b0 = cust.filter(F.col("c_custkey") % 2 == 0)
    monitor(b0, 0)
    monitor(b0, 0)  # replay
    monitor(cust.filter(F.lit(False)), 1)  # empty trigger
    rows = {r["epoch"]: r for r in read_psi_metrics(spark, path).collect()}
    assert set(rows) == {0, 1}
    want_k = b0.filter(F.col("c_acctbal") > 0).count()
    assert rows[0]["n_rows"] == b0.count() and rows[0]["n_keep"] == want_k
    assert rows[0]["keep_rate"] == round(want_k / b0.count(), 6)
    assert rows[1]["n_rows"] == 0 and rows[1]["keep_rate"] is None


def test_opsmix_monitor_alarm_replay_and_empty(spark, sf_dir, tmp_path):
    """Delete-dominated batch alarms, mixed batch does not, empty batch
    records (0, NULL, no alarm); replays are no-ops (idempotent epoch
    partition + marker-last)."""
    from pyspark.sql import functions as F

    import split_kinesis_streams_with_glue_spark.streaming.monitor as mon
    from split_kinesis_streams_with_glue_spark.envelope import generate_cdc_envelopes

    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    metrics = str(tmp_path / "m")
    monitor = mon.make_opsmix_monitor(op, metrics, delete_alarm_frac=0.5)

    mixed = env  # all phases: deletes are a minority
    deletes = env.filter(op == "delete")
    empty = env.filter(F.lit(False))

    monitor(mixed, 0)
    monitor(mixed, 0)  # replay: no-op
    monitor(deletes, 1)
    monitor(empty, 2)

    rows = {r["epoch"]: r for r in mon.read_psi_metrics(spark, metrics).collect()}
    assert set(rows) == {0, 1, 2}
    assert not rows[0]["alarm"] and rows[0]["n_delete"] < rows[0]["n_rows"]
    assert rows[1]["alarm"] and rows[1]["delete_frac"] == 1.0
    assert rows[2]["n_rows"] == 0 and rows[2]["delete_frac"] is None
    assert rows[2]["alarm"] is False

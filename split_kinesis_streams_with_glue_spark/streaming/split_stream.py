"""Streaming stream-split (SURVEY.md M4/T5): the reference pipeline's
Kinesis → Firehose → Glue ETL chain as one Structured Streaming job.

Design (SURVEY.md §3.2 engine equivalents):

- **Source**: file-source micro-batches over envelope JSON (the local,
  testable stand-in for the Kinesis connector — see ``sources.kinesis``);
  explicit schema; PERMISSIVE corrupt-record capture.
- **foreachBatch fan-out**: one pass per micro-batch; within the batch the
  envelope frame is persisted once and every table's filter+flatten+append
  runs against it, plus the DLQ append — the multi-sink idiom Structured
  Streaming supports.
- **Idempotence**: foreachBatch is at-least-once — after a crash the same
  batch id is re-delivered, and manual appends carry none of the built-in
  file sink's commit-log protection. Each output directory (every table,
  the DLQ, the metrics) is therefore appended through its own
  ``_last_batch`` marker under the replay contract of
  ``streaming/markers.py`` (``once``: skip committed batches, commit the
  marker last); a replayed batch skips every output whose marker already
  covers it. The remaining exposure is a crash between ONE output's append
  and its marker write — that single table can duplicate one batch on
  replay. Closing that last window needs an ACID table format
  (Iceberg/Delta) or batch-keyed subdirectories; append-only parquet
  cannot do better (verified by the restart and replay tests).
- **Triggers**: ``availableNow`` drains the backlog then stops (test mode);
  ``processingTime`` mirrors Firehose's 600 s buffering (reference
  README.md:78-81).

Scale: per-batch work is the batch splitter (single pass, broadcastable
filters); checkpoint state is file-source offsets only — no unbounded state.
Stateful operators (dedup) bound their state with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from split_kinesis_streams_with_glue_spark.envelope import SCHEMA_NAME
from split_kinesis_streams_with_glue_spark.operators.split import (
    split_one,
    split_stats,
    table_filter,
)
from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
    CORRUPT_COL,
    corrupt_records,
    read_envelope_stream,
)
from split_kinesis_streams_with_glue_spark.streaming.markers import once


def make_batch_processor(
    out_dir: str,
    tables: list[str],
    schema_name: str = SCHEMA_NAME,
    dlq_dir: str | None = None,
    keep_timestamp: bool = True,
    partition_by_ingest_date: bool = False,
    metrics_dir: str | None = None,
):
    """The (batch_df, batch_id) -> None fan-out used by
    ``start_split_stream`` — exposed so replay idempotence is directly
    testable without driving a full stream restart."""

    def append_table(t: str):
        table_dir = f"{out_dir}/{schema_name}/{t}"

        def step(batch_df: DataFrame, batch_id: int, last) -> None:
            split = split_one(
                batch_df,
                t,
                schema_name,
                # date layout needs the event timestamp
                keep_timestamp=keep_timestamp or partition_by_ingest_date,
                prune=False,  # streaming: schema fixed by contract,
                # not re-derived per batch (prune scans the batch)
            )
            writer = split.write.mode("append")
            if partition_by_ingest_date:
                # the Firehose !{timestamp:yyyy-MM-dd} prefix layout
                # (reference README.md:76) as Hive partitioning —
                # enables partition pruning on date-ranged queries
                split = split.withColumn(
                    "ingest_date", F.to_date(F.to_timestamp("timestamp"))
                )
                if not keep_timestamp:
                    split = split.drop("timestamp")
                writer = split.write.mode("append").partitionBy("ingest_date")
            writer.parquet(table_dir)

        return once(f"{table_dir}/_last_batch", step)

    def append_dlq(batch_df: DataFrame, batch_id: int, last) -> None:
        corrupt_records(batch_df).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").json(dlq_dir)

    def append_metrics(batch_df: DataFrame, batch_id: int, last) -> None:
        # live DMS-console view (image/image3.png): per-batch
        # (schema, table, operation) counts plus a corrupt-row
        # count — one tiny aggregate over the already-persisted
        # batch, appended with the same replay guard as the data
        m = split_stats(batch_df).unionByName(
            corrupt_records(batch_df)
            .agg(F.count(F.lit(1)).alias("n_records"))
            .select(
                F.lit(schema_name).alias("schema_name"),
                F.lit("_corrupt").alias("table_name"),
                F.lit("error").alias("operation"),
                "n_records",
            )
        )
        m.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.mode(
            "append"
        ).parquet(metrics_dir)

    # one guarded output per table, then the DLQ and the metrics: a
    # replayed batch skips every output whose marker already covers it
    outputs = [append_table(t) for t in tables]
    if dlq_dir is not None:
        outputs.append(once(f"{dlq_dir}/_last_batch", append_dlq))
    if metrics_dir is not None:
        outputs.append(once(f"{metrics_dir}/_last_batch", append_metrics))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            for output in outputs:
                output(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return process_batch


def start_split_stream(
    spark,
    source_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    tables: list[str],
    schema_name: str = SCHEMA_NAME,
    dlq_dir: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = 1,
    keep_timestamp: bool = True,
    partition_by_ingest_date: bool = False,
    metrics_dir: str | None = None,
) -> StreamingQuery:
    """Launch the streaming splitter; returns the StreamingQuery.

    ``tables`` must be explicit in streaming mode (per-batch discovery would
    make output schemas batch-dependent); run ``discover_tables`` on a batch
    sample first if you need the wildcard.
    """
    env = read_envelope_stream(
        spark, source_dir, schema, max_files_per_trigger=max_files_per_trigger
    )
    process_batch = make_batch_processor(
        out_dir,
        tables,
        schema_name=schema_name,
        dlq_dir=dlq_dir,
        keep_timestamp=keep_timestamp,
        partition_by_ingest_date=partition_by_ingest_date,
        metrics_dir=metrics_dir,
    )
    writer = (
        env.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def run_split_stream_to_completion(spark, **kwargs) -> None:
    """availableNow run: drain the current backlog, then stop."""
    q = start_split_stream(spark, available_now=True, **kwargs)
    q.awaitTermination()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window counts with late-data tolerance (T6) —
    works identically on a batch frame (window without watermark) and a
    stream. A tumbling window is a hopping one whose slide is its width."""
    return hopping_event_counts(events, window, window, ts_col, watermark)


def hopping_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding (hopping) event-time windows: each event lands in
    ``window/slide`` overlapping windows — Spark's ``F.window`` expands the
    assignment JVM-side (one Expand node, no self-join), so the cost is a
    constant small output multiplier before the partial aggregate, not an
    extra shuffle. Same code runs on a watermarked stream."""
    base = (
        events.withWatermark(ts_col, watermark) if events.isStreaming else events
    )
    return (
        base.groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )

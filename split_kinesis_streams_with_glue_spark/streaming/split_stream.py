"""Streaming stream-split (SURVEY.md M4/T5): the reference pipeline's
Kinesis → Firehose → Glue ETL chain as one Structured Streaming job.

Design (SURVEY.md §3.2 engine equivalents):

- **Source**: file-source micro-batches over envelope JSON (the local,
  testable stand-in for the Kinesis connector — see ``sources.kinesis``);
  explicit schema; PERMISSIVE corrupt-record capture.
- **foreachBatch fan-out**: one pass per micro-batch, whatever the number
  of tables. The envelope frame is persisted once; the data records of
  every listed table (``table_filter``) are tagged with their table name
  and written by ONE job, Hive-partitioned by that tag; the DLQ rows (and
  the per-batch metrics) are one more write each. Every table receives the
  union ``data.*`` columns (plus ``timestamp``), as ``split_one(...,
  prune=False)`` would give it: the streaming schema is fixed by contract,
  not re-derived per batch.
- **Staged publish, one commit**: foreachBatch is at-least-once — after a
  crash the same batch id is re-delivered, and manual appends carry none
  of the built-in file sink's commit-log protection. So batch N's writes
  go to a hidden staging dir, ``{out_dir}/_staging/bN``, which works as a
  redo log: once every staged write has completed, a ``_staged`` flag is
  created in it, and then each staged data file is renamed into its
  table's dir (or the DLQ or metrics dir) under a batch-keyed name,
  ``bN-part-...``. Only then does the one ``{out_dir}/{schema}/_last_batch``
  marker commit the batch under the replay contract of
  ``streaming/markers.py`` (``once``), and the staging dir is removed. A
  replay of an uncommitted batch finds either no flag (nothing was
  published: the stage is rewritten from scratch) or the flag (the stage
  is complete: the files not yet moved are moved), so it ends with
  exactly one copy of the batch's rows wherever the crash happened, and
  no table dir is ever listed. The marker commits before the staging dir
  goes: the other order would let a crash between the two re-stage and
  re-publish the batch. A rename is a metadata move, so the DLQ and
  metrics dirs must be on the same filesystem as ``out_dir``.
- **Empty tables**: a listed table with no rows in a batch gets no file,
  unless it has no dir yet; then it gets one schema-only file, so that it
  reads as zero rows. The date layout writes none (a root-level file
  beside ``ingest_date=`` dirs would break partition discovery).
- **Triggers**: ``availableNow`` drains the backlog then stops (test mode);
  ``processingTime`` mirrors Firehose's 600 s buffering (reference
  README.md:78-81).

Scale: per-batch work is one filtered write of the persisted batch plus
the DLQ write, whatever the number of tables; checkpoint state is
file-source offsets only — no unbounded state. Stateful operators (dedup)
bound their state with watermarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from split_kinesis_streams_with_glue_spark.envelope import SCHEMA_NAME, meta_col
from split_kinesis_streams_with_glue_spark.operators.split import (
    split_stats,
    table_filter,
)
from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
    corrupt_records,
    read_envelope_stream,
)
from split_kinesis_streams_with_glue_spark.streaming.markers import _fs, once


def _move(fs, src, dst) -> None:
    """Rename the staged file ``src`` to ``dst`` (a Hadoop Path whose
    parent dir exists)."""
    if not fs.rename(src, dst):
        raise IOError(f"publish rename failed: {src} -> {dst}")


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
    staging = f"{out_dir}/_staging"
    table_dirs = {t: f"{out_dir}/{schema_name}/{t}" for t in tables}

    def stage(batch_df: DataFrame, batch_id: int, root: str, parts: dict) -> None:
        """Write every output of the batch under ``root``: the tables as
        the ``__table=`` partitions (``parts``: dir -> table dir) of one
        write, the DLQ and the metrics as the ``dlq`` and ``metrics``
        subdirs."""
        cols = [F.col("data.*")]
        if keep_timestamp or partition_by_ingest_date:  # the date needs it
            cols.append(meta_col("timestamp").alias("timestamp"))
        rows = batch_df.filter(table_filter(list(tables), schema_name)).select(
            *cols, meta_col("table-name").alias("__table")
        )
        partition_by = ["__table"]
        if partition_by_ingest_date:
            # the Firehose !{timestamp:yyyy-MM-dd} prefix layout
            # (reference README.md:76) as Hive partitioning —
            # enables partition pruning on date-ranged queries
            rows = rows.withColumn(
                "ingest_date", F.to_date(F.to_timestamp("timestamp"))
            )
            if not keep_timestamp:
                rows = rows.drop("timestamp")
            partition_by.append("ingest_date")
        rows.write.partitionBy(*partition_by).parquet(root)
        if not partition_by_ingest_date:
            fs, p, jvm = _fs(batch_df.sparkSession, root)
            staged = {st.getPath().getName() for st in fs.listStatus(p)}
            for part, table_dir in parts.items():
                if part not in staged and not fs.exists(
                    jvm.org.apache.hadoop.fs.Path(table_dir)
                ):
                    # no rows and no dir yet: a schema-only file keeps the
                    # table readable as zero rows
                    rows.drop("__table").limit(0).write.parquet(f"{root}/{part}")
        if dlq_dir is not None:
            corrupt_records(batch_df).withColumn(
                "batch_id", F.lit(batch_id)
            ).write.json(f"{root}/dlq")
        if metrics_dir is not None:
            # live DMS-console view (image/image3.png): per-batch
            # (schema, table, operation) counts plus a corrupt-row
            # count — one tiny aggregate over the already-persisted batch
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
            m.withColumn("batch_id", F.lit(batch_id)).coalesce(1).write.parquet(
                f"{root}/metrics"
            )

    def publish(spark, batch_id: int, root: str, routes: dict) -> None:
        """Move every staged data file left under ``root`` into the dir
        its top staging dir routes to, as ``b{batch_id}-{name}``, keeping
        the dirs below it (``ingest_date=``)."""
        fs, p, jvm = _fs(spark, root)
        base = fs.makeQualified(p).toUri().getPath()
        made = set()
        files = fs.listFiles(p, True)
        while files.hasNext():
            src = files.next().getPath()
            rel = src.toUri().getPath()[len(base) + 1 :].split("/")
            if len(rel) < 2 or rel[0] not in routes or rel[-1].startswith(("_", ".")):
                continue  # the flag, _SUCCESS files
            top, *sub, name = rel
            parent = "/".join([routes[top], *sub])
            if parent not in made:
                fs.mkdirs(jvm.org.apache.hadoop.fs.Path(parent))
                made.add(parent)
            dst = jvm.org.apache.hadoop.fs.Path(f"{parent}/b{batch_id}-{name}")
            _move(fs, src, dst)

    def fan_out(batch_df: DataFrame, batch_id: int, last) -> None:
        spark = batch_df.sparkSession
        root = f"{staging}/b{batch_id}"
        escape = (
            spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        ).escapePathName
        # staged dir -> output dir; tables map back through the list,
        # never by unescaping a dir name
        parts = {f"__table={escape(t)}": d for t, d in table_dirs.items()}
        fs, flag, jvm = _fs(spark, f"{root}/_staged")
        if not fs.exists(flag):
            # nothing of this batch is published yet: (re)write its stage,
            # dropping whatever an interrupted attempt left
            fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)
            stage(batch_df, batch_id, root, parts)
            fs.create(flag, True).close()
        # an output left unset (None) has no staged dir
        routes = {**parts, "dlq": dlq_dir, "metrics": metrics_dir}
        publish(spark, batch_id, root, routes)

    commit = once(f"{out_dir}/{schema_name}/_last_batch", fan_out)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            commit(batch_df, batch_id)
        finally:
            batch_df.unpersist()
        # committed, now or by an earlier run: the stage is spent
        fs, p, _ = _fs(batch_df.sparkSession, staging)
        fs.delete(p, True)

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

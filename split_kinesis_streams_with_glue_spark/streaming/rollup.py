"""Continuous aggregate maintenance ("hypertable rollup"): keep a
time-bucketed aggregate table incrementally up to date as an append-only
stream arrives.

Per micro-batch: partial-aggregate the batch by (bucket, keys), merge with
the stored aggregate rows OF THE TOUCHED BUCKETS ONLY, and rewrite exactly
those bucket partitions — one ``state_table.merge`` epoch over the
bucketed state-table layout of ``streaming/state_table.py``, partitioned
on ``bucket``. The touched-bucket census comes from the pin of the batch's
partial aggregate, in the pin's own job. At scale the
cost per trigger is O(batch + dirty-bucket rows), independent of the total
history size — the property that makes a rollup usable on an unbounded
stream. Counts and sums merge associatively, so partial agg + merge is
exact regardless of how rows split across micro-batches.

Replay safety: foreachBatch is at-least-once — after a failure the same
epoch is re-delivered, and naively re-merging it would double-count. The
merger runs under the replay contract of ``streaming/markers.py``
(``once``): the last applied epoch is recorded in ``_last_epoch`` under the
output path (underscore-prefixed, so readers ignore it), epochs already
applied are skipped, and the marker commits after the data write, so a
crash between the two re-merges at most the one epoch whose write already
succeeded — the standard best-effort contract of a non-transactional sink.
The (path, checkpoint) pair must be kept together: a fresh checkpoint over
an existing output restarts epoch numbering and the guard would skip real
batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.streaming import state_table
from split_kinesis_streams_with_glue_spark.streaming.markers import once, start


def make_merger(
    path: str,
    bucket_expr=None,
    keys: list[str] | None = None,
    value_col: str = "value",
):
    """Build the idempotent (batch, epoch_id) -> None merge function used by
    ``continuous_rollup`` (exposed for direct testing of replay behavior)."""
    bucket = bucket_expr if bucket_expr is not None else F.to_date("ts")
    keys = keys or ["event_type"]

    def merge(batch: DataFrame, epoch_id: int, last) -> None:
        delta = batch.groupBy(bucket.alias("bucket"), *keys).agg(
            F.count(F.lit(1)).alias("n"), F.sum(value_col).alias("total")
        )
        # every dirty bucket is in the re-aggregate (counts only grow), so
        # the write's sweep deletes nothing
        state_table.merge(
            delta,
            path,
            lambda pool: pool.groupBy("bucket", *keys).agg(
                F.sum("n").alias("n"), F.sum("total").alias("total")
            ),
            "bucket",
        )

    return once(f"{path}/_last_epoch", merge)


def continuous_rollup(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    bucket_expr=None,
    keys: list[str] | None = None,
    value_col: str = "value",
):
    """Maintain (bucket, *keys) -> (n, total) under ``path``; returns the
    started StreamingQuery. ``bucket_expr`` defaults to the event date."""
    return start(stream, make_merger(path, bucket_expr, keys, value_col), checkpoint)

"""Streaming top-k (space-saving summary) maintained across micro-batches.

"Which keys are the heaviest, ever, over an unbounded stream" cannot be
answered by windowed aggregation (state grows with distinct keys) or by the
CMS alone (it answers point queries, not "which keys"). The space-saving
summary (Metwally et al. 2005; merge rules per Agarwal et al., Mergeable
Summaries, 2013) keeps a FIXED ``capacity`` of (key, cnt, err) rows with
the classic guarantees: estimates never undercount, every key whose true
count exceeds N/capacity is present, and est - true <= the admission
threshold recorded alongside.

Batch-merge form (foreachBatch; the versioned-slot replay contract of
``streaming/markers.py`` — see ``make_topk_merger``): per trigger the
batch's exact per-key counts fold into the stored summary — keys already
present add their counts; new keys are admitted at the current
threshold (the count mass they could have accumulated while evicted, which
is exactly their ``err``); the summary is cut back to the top ``capacity``
rows and the threshold advances to the minimum surviving count once full.
All DataFrame ops; the summary table is ``capacity`` rows forever, the
per-trigger cost is O(batch + capacity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.streaming.markers import (
    once,
    read_marker,
    slot,
    start,
)


def make_topk_merger(path: str, key_col: str, capacity: int = 256):
    """Idempotent ``(batch, epoch_id) -> None``: fold the batch into the
    stored summary under ``path``. Exposed for direct replay testing.

    Replay safety differs from rollup/cdc_merge in a crucial way: their
    per-epoch write is a RECOMPUTATION of dirty state, so re-running an
    epoch is harmless; this merge is INCREMENTAL (counts add), so writing
    into one summary location would double-count an epoch replayed after a
    crash between data write and marker write. Each epoch therefore writes
    its own versioned slot ``slot(path, N)`` derived from ``slot(path,
    last)`` (``once(..., slots=path)``) — re-running epoch N reproduces its
    slot byte-identically from the untouched committed one. The admission
    threshold is DERIVED from the stored summary (min count once at
    capacity — monotone non-decreasing), not kept as separate mutable
    state that could desync. Every other slot is deleted after the marker
    commits, so disk holds at most two capacity-row summaries."""

    def merge(batch: DataFrame, epoch_id: int, last) -> None:
        spark = batch.sparkSession
        delta = batch.groupBy(F.col(key_col).alias("key")).agg(
            F.count(F.lit(1)).alias("__d_cnt")
        )
        stored_rows = []
        if last is not None:
            stored = spark.read.parquet(slot(path, last))
            stored_rows = stored.collect()  # bounded: <= capacity rows
        thresh = (
            min(r["cnt"] for r in stored_rows)
            if len(stored_rows) >= capacity
            else 0
        )
        if not stored_rows:
            pool = delta.select(
                "key",
                (F.col("__d_cnt") + F.lit(thresh)).alias("cnt"),
                F.lit(thresh).cast("bigint").alias("err"),
            )
        else:
            stored = spark.createDataFrame(stored_rows)
            j = stored.join(delta, "key", "full_outer")
            pool = j.select(
                "key",
                (
                    F.coalesce(F.col("cnt"), F.lit(thresh))
                    + F.coalesce(F.col("__d_cnt"), F.lit(0))
                ).alias("cnt"),
                F.coalesce(F.col("err"), F.lit(thresh)).cast("bigint").alias("err"),
            )
        # top-`capacity` by count (ties by key for determinism); capacity is
        # small, so this is a TakeOrdered, not a global sort
        kept = pool.orderBy(F.col("cnt").desc(), F.col("key")).limit(capacity)
        kept.coalesce(1).write.mode("overwrite").parquet(slot(path, epoch_id))

    # the slot GC runs AFTER the marker: readers resolve via the marker, and
    # a replay of the committed epoch no longer needs the previous slot
    return once(f"{path}/_last_epoch", merge, slots=path)


def stream_topk(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str,
    capacity: int = 256,
):
    """Maintain the summary from a streaming frame; returns the started
    StreamingQuery."""
    return start(stream, make_topk_merger(path, key_col, capacity), checkpoint)


def read_topk(spark, path: str, k: int | None = None) -> DataFrame:
    """The current summary: (key, cnt, err), heaviest first. ``cnt`` never
    undercounts the true total; ``cnt - err`` never overcounts it. Resolves
    the epoch pointer, so readers always see a complete snapshot."""
    last = read_marker(spark, f"{path}/_last_epoch")
    if last is None:
        raise FileNotFoundError(f"no top-k summary committed under {path}")
    df = spark.read.parquet(slot(path, last)).orderBy(
        F.col("cnt").desc(), F.col("key")
    )
    return df.limit(k) if k is not None else df

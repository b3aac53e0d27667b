"""Incrementally maintained JOIN-view aggregates under CDC.

``make_cdc_rollup_merger`` (cdc_merge.py) keeps a single-table aggregate
exact under updates/deletes. This module extends the same dirty-bucket
decomposition to a JOIN view — the materialized ``dim ⋈ fact`` aggregate
(e.g. revenue per customer segment) staying exact while the dimension
side changes through CDC:

- The fact side is prepared ONCE with ``bucket_copy``: partitioned on
  disk by the SAME key-hash bucket function the CDC merger uses for the
  dimension (``pmod(xxhash64(join_key), num_buckets)``). Equal keys land
  in equal bucket ids on both sides — the co-location that makes
  incremental join maintenance local.
- Per epoch, after the row merge, only the dirty buckets' partials are
  recomputed: the freshly merged dimension rows of those buckets join the
  fact rows of THE SAME bucket partitions (partition pruning after the
  listing — clean fact buckets' files are never opened), aggregate to
  per-(bucket, group) partials, and dynamic-overwrite those partial
  partitions. Retraction is
  implicit: a deleted/updated dimension row simply isn't in the merged
  bucket anymore, so its old join contributions vanish with the rewrite.
- ``read_join_view`` folds the bounded partial table (num_buckets ×
  |groups| rows); the fact table is never rescanned at read time.

Cost per trigger: O(batch + dirty-bucket dim rows + dirty-bucket fact
rows) — independent of total table sizes. If the FACT side also streams,
both sides need the merger (one per table, shared bucket function) and the
view recomputes buckets dirty on EITHER side:
``make_symmetric_join_view_mergers``.

The partial table and the merged row tables follow the bucketed layout
contract of ``streaming/state_table.py`` (dirty-bucket overwrite, the
``_schema`` sidecar, the emptied-bucket sweep, a key's bucket never
changes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.streaming import state_table
from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
    _stored,
    make_cdc_merger,
    read_rollup,
)
from split_kinesis_streams_with_glue_spark.streaming.markers import _fs, start


def bucket_copy(df: DataFrame, key_col: str, path: str, num_buckets: int) -> None:
    """One-time preparation of the fact side: write ``df`` Hive-partitioned
    by the merger's key-hash bucket of ``key_col``. At 100 TB this is the
    usual one-off layout job (and the same bucketed layout serves every
    view keyed on this column). A re-copy replaces the whole table; the
    ``_schema`` sidecar the write records lets every epoch's fact read skip
    the footer-inference job."""
    fs, root, _ = _fs(df.sparkSession, path)
    if fs.exists(root):
        fs.delete(root, True)
    bucketed = df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets))
    )
    state_table.write(bucketed, path, ())


def make_cdc_join_view_merger(
    path: str,
    agg_path: str,
    fact_path: str,
    table: str,
    pk_cols: list[str],
    dim_key: str,
    fact_key: str,
    group_cols: list[str],
    value_expr,
    num_buckets: int = 64,
):
    """CDC merger whose ``on_merged`` hook maintains the join-view partial
    table. ``value_expr`` is aggregated with SUM over the joined rows (use
    DECIMAL for engine-exact money math); a COUNT of joined rows rides
    along. The dimension's CDC phases keep the view exact: updates change
    the dim columns ``value_expr``/``group_cols`` read, deletes remove all
    of a key's joined contributions.

    The dim table is bucketed by ``dim_key`` (NOT by the pk): the fact
    side was laid out by ``pmod(xxhash64(fact_key), n)``, so the dirty-
    bucket fact filter is only correct when the dim side buckets by the
    JOIN key with the same function — with pk bucketing, any composite pk
    (or a join on a non-pk column) would prune the WRONG fact partitions
    and silently corrupt the partials. ``xxhash64`` is type-sensitive:
    ``dim_key`` and ``fact_key`` must have identical types on both sides
    (cast before ``bucket_copy`` if they differ)."""

    def on_merged(merged: DataFrame, dirty_ids: set) -> None:
        spark = merged.sparkSession
        dirty = [int(b) for b in dirty_ids]
        dim = merged.filter(F.col("operation") != "delete").withColumnRenamed(
            "__bucket", "__dim_bucket"
        )
        facts = _stored(spark, fact_path).filter(F.col("__bucket").isin(dirty))
        # alias both sides: with unaliased frames a shared key name (the
        # common case — e.g. customer_id on both tables) makes
        # F.col(dim_key) ambiguous and the merge raises AnalysisException
        joined = dim.alias("d").join(
            facts.alias("f"), F.col(f"d.{dim_key}") == F.col(f"f.{fact_key}")
        )
        partials = joined.groupBy(
            F.col("__dim_bucket").alias("__bucket"), *group_cols
        ).agg(F.count(F.lit(1)).alias("n"), F.sum(value_expr).alias("total"))
        # dirty buckets whose dim rows vanished (or join to nothing) leave
        # no partial rows; the write sweeps their stale partitions
        state_table.write(partials, agg_path, dirty_ids)

    return make_cdc_merger(
        path, table, pk_cols, num_buckets,
        on_merged=on_merged, bucket_cols=[dim_key],
    )


def read_join_view(spark, agg_path: str, group_cols: list[str]) -> DataFrame:
    """The user-facing join aggregate: fold the per-bucket partials
    (bounded by num_buckets × |groups| — the fact table is never
    rescanned). The partial table has ``read_rollup``'s layout, so it folds
    the same way."""
    return read_rollup(spark, agg_path, group_cols)


def make_symmetric_join_view_mergers(
    left_path: str,
    right_path: str,
    agg_path: str,
    left_table: str,
    right_table: str,
    left_pk: list[str],
    right_pk: list[str],
    left_key: str,
    right_key: str,
    group_cols: list[str],
    value_expr,
    num_buckets: int = 64,
):
    """BOTH sides streaming: two CDC mergers sharing one bucket function
    (each bucketed by its JOIN key — immutable per row, see
    ``make_cdc_merger``'s ``bucket_cols`` contract) and one view updater.
    Whichever side merges, the view recomputes partials for the buckets
    THAT epoch dirtied, joining the two materialized tables' rows of
    those buckets only (both reads prune the listed partitions, so only
    dirty buckets' files are opened). Clean
    buckets' partials stay exactly valid because neither side's rows in
    them changed — the co-bucketing invariant. Returns
    ``(left_merge, right_merge)``; read with ``read_join_view``.

    Cost per trigger on either stream: O(batch + dirty-bucket rows of
    BOTH tables) — still independent of total table sizes.

    Single-writer discipline: the two mergers share the partial table, so
    their triggers must not run CONCURRENTLY (a hook reading the other
    side mid-write could recompute a bucket from a half-merged state).
    Sequential availableNow drains (the tested mode) satisfy this; for
    two live processingTime streams, serialize the foreachBatch bodies
    (same driver lock or alternating triggers)."""

    def _side(spark, path, dirty):
        df = state_table.read(spark, path)
        if df is None:
            return None  # that side has seen no epoch yet
        df = df.filter(F.col("__bucket").isin(dirty))
        if "operation" in df.columns:
            df = df.filter(F.col("operation") != "delete")
        return df

    def update_view(spark, dirty_ids: set) -> None:
        dirty = [int(b) for b in dirty_ids]
        left = _side(spark, left_path, dirty)
        right = _side(spark, right_path, dirty)
        if left is None or right is None:
            # the view is empty until both sides exist, and nothing ever
            # wrote it while one side was absent: no partials to refresh
            return
        l = left.withColumnRenamed("__bucket", "__b").drop("timestamp", "operation")
        r = right.drop("__bucket", "timestamp", "operation")
        # qualified join condition: when left_key == right_key (the common
        # case) an unaliased F.col(key) == F.col(key) is ambiguous and
        # raises at merge time
        joined = l.alias("l").join(
            r.alias("r"), F.col(f"l.{left_key}") == F.col(f"r.{right_key}")
        )
        partials = joined.groupBy(F.col("__b").alias("__bucket"), *group_cols).agg(
            F.count(F.lit(1)).alias("n"), F.sum(value_expr).alias("total")
        )
        state_table.write(partials, agg_path, dirty)

    def hook(merged: DataFrame, dirty_ids: set) -> None:
        update_view(merged.sparkSession, dirty_ids)

    left_merge = make_cdc_merger(
        left_path, left_table, left_pk, num_buckets,
        on_merged=hook, bucket_cols=[left_key],
    )
    right_merge = make_cdc_merger(
        right_path, right_table, right_pk, num_buckets,
        on_merged=hook, bucket_cols=[right_key],
    )
    return left_merge, right_merge


def join_view_stream(
    stream: DataFrame,
    path: str,
    agg_path: str,
    fact_path: str,
    checkpoint: str,
    table: str,
    pk_cols: list[str],
    dim_key: str,
    fact_key: str,
    group_cols: list[str],
    value_expr,
    num_buckets: int = 64,
):
    """Run the join-view merger as a Structured Streaming sink
    (availableNow drain; same foreachBatch replay contract as
    cdc_merge_stream). Returns the started StreamingQuery."""
    merge = make_cdc_join_view_merger(
        path, agg_path, fact_path, table, pk_cols,
        dim_key, fact_key, group_cols, value_expr, num_buckets,
    )
    return start(stream, merge, checkpoint)

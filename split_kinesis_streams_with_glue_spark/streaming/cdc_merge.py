"""Incremental CDC merge-apply: a MERGE-INTO for plain Parquet tables.

``compact`` (operators/compact.py) materializes latest-row-per-key from a
FULL change history — fine for backfills, wrong for a live table: at 100 TB
you cannot re-window the whole history per micro-batch. This operator keeps
the materialized table incrementally up to date: per batch it touches only
the key-hash buckets the batch's keys land in, merges the stored rows of
those buckets with the batch delta, and dynamic-overwrites exactly those
bucket partitions. Cost per trigger is O(batch + dirty-bucket rows),
independent of total table size — the property that makes CDC apply usable
on an unbounded stream (the reference's envelopes carry
``metadata.operation`` for exactly this; reference README.md:205, the demo
defers the apply to consumers).

Scale notes:

- ``num_buckets`` bounds rewrite amplification: a batch whose keys hit k
  buckets rewrites ~k/num_buckets of the table. Size it so one bucket ≈
  one comfortable task (100 TB table, 4096 buckets → ~25 GB buckets; CDC
  key locality — hot rows are recent rows — keeps k small in practice).
- Uniform hash bucketing means a pathological batch can touch every
  bucket; that degrades to a full rewrite, never to wrong results. The
  production escape hatch at that point is a merge-on-read table format
  (Delta/Iceberg/Hudi); this operator is the format-free equivalent for
  plain Parquet.
- Ordered mode (default) requires per-key ordered delivery across batches
  — which the reference's pipeline provides (Kinesis partition key =
  primary key, README.md:216). Same-batch ties resolve by event time then
  operation rank (delete wins), via ``compact``. ``out_of_order=True``
  drops that delivery requirement: winning deletes are retained as
  TOMBSTONES (event time + operation kept in the stored rows), so a
  late-arriving older change loses against the tombstone instead of
  resurrecting the row; reads filter tombstones out. Tombstones accumulate
  until ``expire_tombstones`` rewrites (only) the buckets holding ones
  older than a chosen safety horizon — the usual watermark-style bound on
  how late a change may arrive.
- Replay safety: every merger here runs under the replay contract of
  ``streaming/markers.py`` (``once``): the last applied epoch is recorded
  in a ``_last_epoch`` marker that commits after the writes, and an epoch
  at or below it is skipped. Re-merging the LATEST epoch is harmless (the
  same input gives the same winners), which is why the crash window
  between data write and marker write re-merges one epoch without harm.
  What the guard prevents is a STALE epoch re-delivered after newer ones
  re-merging its older rows: ordered mode keeps no tombstones, so a row a
  later epoch deleted would come back (``test_epoch_replay_is_noop``
  replays a stale epoch and pins the table unchanged).

The on-disk layout — dirty-bucket dynamic overwrite, the ``_schema``
sidecar, the emptied-bucket sweep, and the rule that a key's bucket
column is immutable — is ``streaming/state_table.py``'s contract; every
writer and reader here goes through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from split_kinesis_streams_with_glue_spark.operators.compact import (
    compact,
    event_time,
    scd2_history,
)
from split_kinesis_streams_with_glue_spark.operators.split import split_one
from split_kinesis_streams_with_glue_spark.streaming import state_table
from split_kinesis_streams_with_glue_spark.streaming.markers import once, start

META_COLS = ("timestamp", "operation", "__bucket")


def _bucketed_delta(
    env_batch: DataFrame, table: str, bucket_cols: list[str], num_buckets: int
) -> DataFrame:
    """The batch's change rows of ``table`` with their event time and their
    key-hash ``__bucket`` of ``bucket_cols``."""
    # prune=False: batch-local all-null column pruning would make the
    # stored schema depend on which batch wrote first
    rows = event_time(split_one(env_batch, table, keep_operation=True, prune=False))
    return rows.withColumn(
        "__bucket",
        F.pmod(F.xxhash64(*[F.col(c) for c in bucket_cols]), F.lit(num_buckets)),
    )


def make_cdc_merger(
    path: str,
    table: str,
    pk_cols: list[str],
    num_buckets: int = 64,
    on_merged=None,
    compat_policy: set[str] | None = None,
    out_of_order: bool = False,
    bucket_cols: list[str] | None = None,
):
    """Build the idempotent ``(envelope_batch, epoch_id) -> None`` merge
    function (exposed for direct replay testing, as rollup's is).

    ``bucket_cols`` (default: the pk) chooses the key-hash bucketing
    columns — set it to a JOIN key (e.g. the fact table's foreign key) so
    derived join-view state (streaming/join_view.py) is co-located with
    the other side. The chosen columns must be IMMUTABLE per pk (true of
    pks and of foreign keys in practice): if an update could move a row
    between buckets, its old version would be stranded in the old bucket.

    ``on_merged(merged, dirty_ids)`` runs after the row table is
    written but BEFORE the epoch marker commits — derived state (e.g. the
    partial-aggregate table of ``make_cdc_rollup_merger``) therefore shares
    the merge's replay contract: a crash between the two re-runs one epoch,
    and both writes are idempotent recomputations of the same dirty
    buckets.

    ``compat_policy``: optional schema-drift gate (schema/compat.py) —
    e.g. ``{"full", "backward"}`` lets additive/widening drift through and
    FAILS the batch on anything else, BEFORE any file is written (the
    stream retries; a human widens the policy or fixes the producer).
    ``None`` keeps the mechanical tolerance (mergeSchema + null-fill)."""

    def merge(env_batch: DataFrame, epoch_id: int, last) -> None:
        spark = env_batch.sparkSession
        delta = _bucketed_delta(env_batch, table, bucket_cols or pk_cols, num_buckets)
        stored = state_table.read(spark, path) if compat_policy is not None else None
        if stored is not None:
            from split_kinesis_streams_with_glue_spark.schema.compat import (
                compatibility,
            )

            # classify the PAYLOAD only: the merge's bookkeeping columns
            # (event time, operation, bucket) are engine artifacts whose
            # types/nullability vary by code path, not producer drift
            def _payload(schema):
                return StructType([f for f in schema.fields if f.name not in META_COLS])

            verdict = compatibility(_payload(stored.schema), _payload(delta.schema))
            if verdict not in compat_policy:
                raise ValueError(
                    f"schema drift verdict '{verdict}' not in allowed "
                    f"policy {sorted(compat_policy)} for table {table!r} "
                    f"(epoch {epoch_id}); batch failed before any write"
                )
        # the gate needs only delta.schema (no job) and runs before the
        # merge pins the batch: a rejected batch pays no materialization
        dirty = state_table.merge(
            delta,
            path,
            lambda pool: compact(
                pool, pk_cols, drop_meta=False, keep_deletes=out_of_order
            ),
        )
        if on_merged is not None:
            # the write IS the merge's materialization: the hook gets a
            # partition-pruned read-back of the dirty buckets just written,
            # not a localCheckpoint of the merged pool
            back = state_table.read(spark, path).filter(
                F.col("__bucket").isin(list(dirty))
            )
            on_merged(back, dirty)

    return once(f"{path}/_last_epoch", merge)


def cdc_merge_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    table: str,
    pk_cols: list[str],
    num_buckets: int = 64,
    out_of_order: bool = False,
):
    """Maintain the latest-row-per-key table for ``table`` under ``path``
    from an envelope stream; returns the started StreamingQuery."""
    merge = make_cdc_merger(path, table, pk_cols, num_buckets, out_of_order=out_of_order)
    return start(stream, merge, checkpoint)


def _stored(spark, path: str) -> DataFrame:
    """The state table at ``path`` for a user-facing read; a table no
    epoch has written yet is an error, not an empty result."""
    df = state_table.read(spark, path)
    if df is None:
        raise FileNotFoundError(f"no state table at {path}")
    return df


def read_table(spark, path: str) -> DataFrame:
    """The user-facing materialized table (merge bookkeeping columns
    dropped), read through ``state_table.read``: the ``_schema`` sidecar
    equals what mergeSchema would infer without the footer sweep over
    every file, and it keeps a table whose rows were ALL deleted readable
    as zero rows."""
    df = _stored(spark, path)
    if "operation" in df.columns:
        # out-of-order tables store delete tombstones; they are merge
        # bookkeeping, not user rows (no-op on ordered tables)
        df = df.filter(F.col("operation") != "delete")
    return df.drop(*[c for c in META_COLS if c in df.columns])


def make_cdc_rollup_merger(
    path: str,
    agg_path: str,
    table: str,
    pk_cols: list[str],
    group_cols: list[str],
    value_expr,
    num_buckets: int = 64,
):
    """Incrementally maintained EXACT aggregate over a CDC stream — the op
    an append-only rollup (streaming/rollup.py) cannot be: updates and
    deletes must retract their old contribution, and CDC envelopes carry no
    before-image to retract with.

    The trick is the same bucket decomposition the row merge uses: keep a
    PARTIAL aggregate per (key-hash bucket, group) in ``agg_path``. After
    each merge, the dirty buckets' partials are recomputed wholesale from
    their freshly merged rows (so retraction is implicit — the old row
    simply isn't there anymore) and dynamic-overwritten; untouched buckets'
    partials remain exactly valid. ``read_rollup`` folds the partial table
    (num_buckets x |groups| rows, tiny) into the final aggregate. Cost per
    trigger stays O(batch + dirty-bucket rows); correctness is exact for
    any associative aggregate (count/sum here — pass a DECIMAL
    ``value_expr`` for engine-exact money sums)."""

    def on_merged(merged: DataFrame, dirty_ids: set) -> None:
        partials = merged.groupBy("__bucket", *group_cols).agg(
            F.count(F.lit(1)).alias("n"), F.sum(value_expr).alias("total")
        )
        # buckets emptied by deletes leave no partial rows either — the
        # write sweeps their stale agg partitions like the row table's
        state_table.write(partials, agg_path, dirty_ids)

    return make_cdc_merger(path, table, pk_cols, num_buckets, on_merged=on_merged)


def read_rollup(spark, agg_path: str, group_cols: list[str]) -> DataFrame:
    """The user-facing aggregate view: fold the per-bucket partials. The
    scan is the partial table (bounded by num_buckets x |groups|), never
    the row table. A partial table that deletes emptied reads as zero rows
    (same contract as ``read_table``)."""
    partials = _stored(spark, agg_path)
    return (
        partials.groupBy(*group_cols)
        .agg(F.sum("n").cast("bigint").alias("n"), F.sum("total").alias("total"))
    )


def expire_tombstones(spark, path: str, older_than: str) -> int:
    """Bound out-of-order tombstone retention: rewrite ONLY the buckets
    holding delete tombstones whose event time is before ``older_than``
    (an ISO timestamp string — the caller's lateness horizon, the same
    contract as a streaming watermark: changes later than this are
    declared impossible, so their tombstones can never matter again).
    Buckets with no expired tombstone keep their files untouched; a bucket
    left empty is removed like the merger's emptied-bucket sweep. Returns
    the number of tombstones dropped.

    Scale: the census scan projects (``__bucket``, operation, timestamp)
    only, and the rewrite is dirty-buckets only — the vacuum never touches
    the clean majority of a large table."""
    cutoff = F.to_timestamp(F.lit(older_than))
    stored = state_table.read(spark, path)
    if stored is None or "operation" not in stored.columns:
        return 0
    expired = (F.col("operation") == "delete") & (F.col("timestamp") < cutoff)
    census = (
        stored.filter(expired)
        .groupBy("__bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )  # metadata-sized: ≤ num_buckets rows
    if not census:
        return 0
    dirty = {int(r["__bucket"]) for r in census}
    kept = stored.filter(F.col("__bucket").isin(list(dirty))).filter(~expired)
    state_table.write(kept, path, dirty)
    return sum(int(r["n"]) for r in census)


def make_fingerprinted_merger(
    path: str,
    fp_path: str,
    table: str,
    pk_cols: list[str],
    repr_cols,
    num_buckets: int = 64,
    out_of_order: bool = False,
):
    """CDC merger that keeps the table SELF-CERTIFYING: alongside each
    merge it maintains a per-bucket Merkle fingerprint (operators/diff.py
    row hash — order-independent exact SUM of 48-bit md5 row hashes) of
    the materialized rows, recomputed for DIRTY buckets only and
    dynamic-overwritten like the rollup merger's partials.

    ``repr_cols`` is the ordered list of columns/Column expressions that
    define a row's canonical form (pre-cast engine-dependent string forms
    — float/timestamp — per ``row_hash_expr``'s contract). ``read_
    fingerprint`` folds the per-bucket summaries to one (n_rows, checksum)
    row that any other engine can recompute from its replica of the table
    — continuous replica reconciliation at O(dirty buckets) per epoch,
    with no full-table scan ever."""
    from split_kinesis_streams_with_glue_spark.operators.diff import row_hash_expr

    def on_merged(merged: DataFrame, dirty_ids: set) -> None:
        live = merged.filter(F.col("operation") != "delete")  # skip tombstones
        fp = (
            live.select("__bucket", row_hash_expr(repr_cols).alias("__h"))
            .groupBy("__bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("__h").alias("checksum"))
        )
        # The sweep keys on the FINGERPRINT output, not on the row table's
        # survivors: out-of-order mode keeps tombstones, so a bucket whose
        # live rows were all deleted still survives in the row table yet
        # emits no fp rows — its stale fingerprint must still go.
        state_table.write(fp, fp_path, dirty_ids)

    return make_cdc_merger(
        path, table, pk_cols, num_buckets, on_merged=on_merged, out_of_order=out_of_order
    )


def read_fingerprint(spark, fp_path: str) -> DataFrame:
    """Fold the per-bucket fingerprint partials to the table-level
    (n_rows, checksum) pair — the kilobyte certificate a replica compares
    against its own recomputation. Scans only the summary table
    (≤ num_buckets rows). Sidecar-first like ``read_table`` — no
    inference job."""
    partials = _stored(spark, fp_path)
    return partials.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("checksum").cast("decimal(38,0)").alias("checksum"),
    )


def make_scd2_merger(
    log_path: str,
    scd2_path: str,
    table: str,
    pk_cols: list[str],
    num_buckets: int = 64,
):
    """Incrementally maintained SCD2 history — ``scd2_history``
    (operators/compact.py) without ever re-windowing the full change log.

    Two bucketed stores: the raw VERSION LOG (every change row, kept — a
    key's delete must stay on record to close validity for versions that
    arrive later) and the derived SCD2 table (valid_from / valid_to /
    is_current rows). Per epoch, dirty buckets' log partitions merge in
    the delta (exact-duplicate rows dropped, so replays and at-least-once
    delivery stay idempotent) and the SCD2 windows recompute from those
    buckets' logs alone — validity is a per-key computation and a key
    lives in exactly one bucket, so clean buckets' derived rows stay
    exactly valid. O(batch + dirty-bucket log rows) per trigger."""

    def merge(env_batch: DataFrame, epoch_id: int, last) -> None:
        spark = env_batch.sparkSession
        # exact-duplicate drop = replay idempotence for the append-ish log.
        # The log write IS the pool's materialization (write-first, as in
        # make_cdc_merger): the SCD2 recompute reads the written dirty
        # buckets back instead of a localCheckpoint of the whole pool.
        dirty = state_table.merge(
            _bucketed_delta(env_batch, table, pk_cols, num_buckets),
            log_path,
            DataFrame.distinct,
        )
        log_back = state_table.read(spark, log_path).filter(
            F.col("__bucket").isin(list(dirty))
        )
        # a bucket whose keys were ALL deleted still has log rows (the
        # deletes), but may emit no scd2 rows — the write sweeps it
        state_table.write(scd2_history(log_back, pk_cols), scd2_path, dirty)

    return once(f"{log_path}/_last_epoch", merge)


def read_scd2(spark, scd2_path: str) -> DataFrame:
    """The user-facing SCD2 table (bucket column dropped). Sidecar-first
    like ``read_table`` — no inference job."""
    return _stored(spark, scd2_path).drop("__bucket")


def scd2_stream(
    stream: DataFrame,
    log_path: str,
    scd2_path: str,
    checkpoint: str,
    table: str,
    pk_cols: list[str],
    num_buckets: int = 64,
):
    """Run the incremental SCD2 merger as a Structured Streaming sink
    (availableNow drain; same foreachBatch replay contract as
    cdc_merge_stream). Returns the started StreamingQuery."""
    merge = make_scd2_merger(log_path, scd2_path, table, pk_cols, num_buckets)
    return start(stream, merge, checkpoint)

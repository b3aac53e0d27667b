"""Bucketed state tables: the one on-disk layout every CDC merger keeps.

A state table is Hive-partitioned Parquet under ``path``, partitioned by
one column (``__bucket``, the key-hash bucket, for the CDC mergers and
their derived tables; ``bucket``, the time bucket, for the continuous
rollup). An epoch recomputes only its DIRTY partitions and rewrites
exactly those — the per-batch deterministic recompute of D-Streams — so
the cost per trigger is O(batch + dirty-partition rows), independent of
the table's size. The contract:

- **Dirty-partition overwrite.** ``write`` replaces the partitions present
  in its output with the per-write ``partitionOverwriteMode=dynamic``
  option; partitions it does not emit stay on disk untouched. The option
  is per write, never a session conf: a session-wide ``dynamic`` would
  turn every later full ``overwrite`` in the same session (a publish)
  into a partial one.
- **Emptied-partition sweep.** A dirty partition whose rows were all
  deleted emits nothing, so dynamic overwrite would leave its stale
  directory behind and the deleted rows would resurrect. ``write``
  observes the partitions it emitted (an ``Observation`` that rides the
  write — no extra job) and deletes ``dirty - present``.
- **Schema sidecar.** ``write`` (and ``append``, which the append-only
  tables of the dedup index use) records the output schema in ``_schema``
  (underscore-prefixed, so Spark's listing ignores it) BEFORE the data, so
  every table it created has one and the sidecar covers every data file:
  a merger's schema only grows, so it is what ``mergeSchema`` would infer,
  and files written before a drift null-fill the newer columns. ``read``
  takes that explicit schema instead of a per-read ``mergeSchema`` footer
  sweep over every file, and it keeps a table whose rows were all deleted
  readable as zero rows. ``read`` trusts the sidecar only if it parses to
  a schema holding the partition column; otherwise (a torn or foreign
  file, a table written before sidecars existed) it falls back to
  ``mergeSchema``.
- **Listing.** ``read`` builds its lazy DataFrame by listing every
  partition directory. ``session.get_spark`` sets Spark's
  parallel-discovery threshold to 1024 partition dirs, so a table of up
  to 1024 buckets is listed on the driver and the read starts no Spark
  job; a larger one (4096 buckets for 100 TB) is listed by a parallel
  job. A partition filter (``isin`` on the partition column) prunes
  after the listing: the scan opens only the dirty partitions' files.
- **Census from the pin.** ``pin`` materializes an epoch's batch once
  (``localCheckpoint``) and returns the set of partition values it holds,
  from an ``Observation`` that rides the checkpoint's own job: the dirty
  census costs no job of its own.
- **One epoch.** ``merge`` is the whole dirty-partition epoch every
  merger runs: pin the batch's delta (census from the pin), read the
  stored table, keep only its dirty partitions, union the delta in
  (``allowMissingColumns``: a column added or dropped mid-stream
  null-fills on the side that lacks it), and ``write`` the merger's
  ``combine`` of that pool over the dirty partitions, sweep included.
  The CDC, SCD2 and rollup mergers differ only in ``combine``. The first
  batch (no stored table yet) skips the pin: it writes ``combine(delta)``
  in one pass, and the partitions written are its dirty set.
- **The partition column is immutable per key.** An update that moved a
  key to another partition would strand its old version in the old one,
  which no epoch dirties again. Key-hash buckets of a primary or foreign
  key, and event-time buckets of an append-only stream, satisfy this.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from split_kinesis_streams_with_glue_spark.streaming.markers import (
    _fs,
    read_text_marker,
    write_text_marker,
)


def pin(df: DataFrame, *cols: str | Column) -> tuple[DataFrame, set]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with the set of
    values that ``cols`` (default: ``__bucket``) take in it, observed by
    the checkpoint's own job. Meant for metadata-sized censuses (bucket or
    shard ids) of a bounded frame such as one micro-batch. The pin's
    blocks are not replicated: losing an executor mid-epoch fails the
    batch, and the stream retries it."""
    obs = Observation()
    censuses = [
        F.collect_set(c).alias(f"v{i}") for i, c in enumerate(cols or ["__bucket"])
    ]
    pinned = df.observe(obs, *censuses).localCheckpoint(eager=True)
    return pinned, set().union(*obs.get.values())


def write(df: DataFrame, path: str, dirty: Iterable, col: str = "__bucket") -> set:
    """Dynamic-overwrite the ``col`` partitions present in ``df``, record
    the ``_schema`` sidecar, and delete the ``dirty`` partitions ``df`` no
    longer emits. Returns the set of partition values written."""
    spark = df.sparkSession
    write_text_marker(spark, f"{path}/_schema", df.schema.json())
    obs = Observation()
    (
        df.observe(obs, F.collect_set(col).alias("present"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )
    present = set(obs.get["present"])
    # the directory name is built unescaped: right for the integer bucket
    # ids the sweep is used with, not for strings Hive would %-escape
    for value in set(dirty) - present:
        fs, part, _ = _fs(spark, f"{path}/{col}={value}")
        fs.delete(part, True)
    return present


def merge(
    delta: DataFrame,
    path: str,
    combine: Callable[[DataFrame], DataFrame],
    col: str = "__bucket",
) -> set:
    """One dirty-partition epoch: pin ``delta`` (its census is the dirty
    set), pool the stored rows of the dirty ``col`` partitions with it, and
    ``write`` ``combine(pool)`` over exactly those partitions. Returns the
    dirty set. The pin keeps the batch source from being evaluated twice,
    and ``isin`` on the partition column prunes the listed partitions, so
    the scan never opens an untouched partition's files."""
    # None only when nothing was ever written at path: the first batch. Any
    # other read failure propagates and fails the batch, so the stream
    # retries: treating it as pool = delta would overwrite every dirty
    # partition with the delta alone, dropping the stored rows.
    stored = read(delta.sparkSession, path, col)
    if stored is None:
        # delta is read once and there is nothing to sweep: no pin, and the
        # partitions written stand in for the census
        return write(combine(delta), path, (), col)
    delta, dirty = pin(delta, col)
    pool = stored.filter(F.col(col).isin(list(dirty))).unionByName(
        delta, allowMissingColumns=True
    )
    write(combine(pool), path, dirty, col)
    return dirty


def append(df: DataFrame, path: str, col: str | None = None) -> None:
    """Append ``df`` to the table at ``path`` (Hive-partitioned by ``col``
    if given), recording the ``_schema`` sidecar first, so that ``read``
    needs no footer-inference job. For append-only tables whose schema
    does not change between appends."""
    write_text_marker(df.sparkSession, f"{path}/_schema", df.schema.json())
    writer = df.write.mode("append")
    (writer.partitionBy(col) if col else writer).parquet(path)


def read(
    spark: SparkSession, path: str, col: str | None = "__bucket"
) -> DataFrame | None:
    """The state table at ``path``, or None if nothing was ever written
    there (a filesystem check; no Spark read of an absent path). ``col``
    is the partition column the sidecar must hold (None: unpartitioned)."""
    fs, root, _ = _fs(spark, path)
    if not fs.exists(root):
        return None
    sidecar = read_text_marker(spark, f"{path}/_schema")
    try:
        schema = StructType.fromJson(json.loads(sidecar)) if sidecar else None
    except (ValueError, KeyError, TypeError):  # not a schema: torn or foreign
        schema = None
    if schema is None or (col and col not in schema.fieldNames()):
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(schema).parquet(path)

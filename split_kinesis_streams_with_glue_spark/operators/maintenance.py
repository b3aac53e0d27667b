"""Table maintenance: small-file compaction for partitioned Parquet.

Streaming sinks (streaming/split_stream.py) and incremental mergers write
a few files per trigger; after a week a hot partition holds thousands of
kilobyte files and every reader pays open/footer/seek costs per file — the
classic small-file problem. This operator is the OPTIMIZE-style fix:
per partition, if the file census crosses a threshold, rewrite that
partition's data as ceil(bytes / target) right-sized files — touching ONLY
offending partitions (dynamic overwrite), so routine runs are cheap and
idempotent (a compacted partition no longer crosses the threshold).

The census is driver-side Hadoop FS metadata: one listing, bounded by file
count, no data read. The rewrite reads each offending partition once and
coalesces — no shuffle (coalesce narrows), preserving any within-file sort
the writer established.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from split_kinesis_streams_with_glue_spark.streaming.markers import _fs as _fs_path


def file_census(spark: SparkSession, path: str) -> dict[str, tuple[int, int]]:
    """{partition_dir_name: (n_files, total_bytes)} for a one-level
    Hive-partitioned table (metadata only)."""
    fs, root, _ = _fs_path(spark, path)
    census: dict[str, tuple[int, int]] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not st.isDirectory() or "=" not in name:
            continue
        n, size = 0, 0
        for f in fs.listStatus(st.getPath()):
            fname = f.getPath().getName()
            if f.isFile() and not fname.startswith(("_", ".")):
                n += 1
                size += f.getLen()
        census[name] = (n, size)
    return census


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
    zorder_cols: tuple[str, str] | None = None,
) -> list[dict]:
    """Compact every partition holding at least ``min_files`` files into
    ``ceil(total_bytes / target_bytes)`` files. Returns a per-partition
    report [{partition, files_before, files_after}] for the partitions
    rewritten (driver-side metadata-sized).

    ``zorder_cols=(a, b)``: the OPTIMIZE ... ZORDER BY form — since the
    rewrite is touching the bytes anyway, cluster them along the Morton
    curve over the two hot filter columns for free, so each output file's
    footer stats become a tight 2-D bounding box (operators/layout.py).
    Multi-file outputs switch the narrow coalesce for a z-range shuffle of
    just that partition's rows."""
    report: list[dict] = []
    fs, _, _ = _fs_path(spark, path)
    for part, (n, size) in sorted(file_census(spark, path).items()):
        if n < min_files:
            continue
        # guard the documented scope: one level of partitioning with a
        # concrete value. A null-value partition dir can't round-trip
        # through a literal re-attach, and a nested layout would silently
        # flatten — skip both rather than corrupt.
        if part.endswith("=__HIVE_DEFAULT_PARTITION__"):
            continue
        _, ppath, _ = _fs_path(spark, f"{path}/{part}")
        if any(st.isDirectory() for st in fs.listStatus(ppath)):
            continue
        n_out = max(1, math.ceil(size / target_bytes))
        if n_out >= n:
            continue  # already right-sized
        col, val = part.split("=", 1)
        # Hive escapes special chars in partition dir names (%3A for ':',
        # %25 for '%', ...). The re-attached literal must be the LOGICAL
        # value — re-attaching the escaped string verbatim would get
        # re-escaped on write, forking a double-escaped duplicate dir while
        # the original survives. unquote inverts Hive's %XX encoding and
        # leaves non-escape '%' sequences untouched.
        from urllib.parse import unquote

        val = unquote(val)
        # read ONLY this partition (partition pruning via the dir path),
        # re-attach the partition column for the dynamic overwrite; the
        # string literal round-trips through the directory name, so the
        # reader's partition-type inference is unchanged
        from pyspark.sql import functions as F

        part_df: DataFrame = spark.read.parquet(f"{path}/{part}")
        if zorder_cols is not None:
            from split_kinesis_streams_with_glue_spark.operators.layout import (
                zorder_repartition,
            )

            part_df = zorder_repartition(part_df, *zorder_cols, n_out).drop("zval")
        else:
            part_df = part_df.coalesce(n_out)
        part_df = part_df.withColumn(col, F.lit(val))
        writer = part_df.write.option("partitionOverwriteMode", "dynamic")
        writer.mode("overwrite").partitionBy(col).parquet(path)
        report.append(
            {"partition": part, "files_before": n, "files_after": n_out}
        )
    return report

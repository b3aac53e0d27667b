"""SparkSession factory with scale-oriented defaults.

Local test profile mirrors what we'd set fleet-wide on a real cluster:

- AQE on (runtime coalesce of shuffle partitions, skew-join splitting) —
  at 100 TB the static ``spark.sql.shuffle.partitions`` is always wrong for
  some stage; AQE re-plans from actual map output sizes.
- Arrow on for the (rare) pandas-UDF paths.
- UTC session timezone so timestamp semantics match the DuckDB oracle.

On a real cluster you would additionally size ``spark.sql.shuffle.partitions``
to ~2-3x total cores and rely on AQE coalescing, and set
``spark.sql.files.maxPartitionBytes`` (default 128 MB) so a 100 TB scan yields
~800k input splits — fine for a 1000-executor fleet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "split_kinesis_streams_with_glue_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) for
    tests; on a cluster you pass the real master URL / rely on spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime row-level pruning for shuffle joins: build a bloom filter
        # on the small side's join keys and push it into the big side's
        # scan. At 100 TB this is the difference between shuffling a full
        # fact table and shuffling only rows that can actually join.
        # (runtimeFilter.semiJoinReduction looks tempting too, but enabling
        # it hangs the very first job on this Spark build — optimizer loop)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # The driver fixtures' events.parquet stores TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects; read as long and convert
        # (truncate to micros — matching what DuckDB's reader does).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Whole-stage codegen gives up on operators wider than maxFields
        # (default 100). The widest registry aggregate that fits under 160
        # is sim_silhouette_simplified's per-label centroid mean over the
        # 64-dim embeddings: its partial HashAggregate is 129 fields (label
        # + 64 sum/count buffer pairs), so at 100 both its partial and final
        # aggregates run INTERPRETED (executed-plan proof: they gain *(n)
        # markers at 160). Width is a property of the PLAN, not the cluster,
        # so this holds at any scale/core count. 160 (not unbounded) keeps
        # genuinely enormous plans on the interpreted path where codegen
        # class size would hurt compile time: approx_count_distinct's HLL
        # buffers make ~1640-field aggregates. (scripts/widest_aggregates.py
        # scans every registry query's aggregates for their width.)
        .config("spark.sql.codegen.maxFields", "160")
        # A path with more partition dirs than this threshold (default 32)
        # is listed by a Spark job of one task per dir, every time a lazy
        # DataFrame over it is built. Every read of a 64-bucket state table
        # (streaming/state_table.py) paid that. On a 4-CPU VM (local[3],
        # warm, three builds each), building the DataFrame took 0.53-0.55 s
        # and one 64-task job over 64 bucket dirs, and 4.6-4.8 s over 1024;
        # listed on the driver it took 0.05 s and 0.15-0.19 s, with no job.
        # A 4096-bucket table (the 100 TB sizing in streaming/cdc_merge.py)
        # still lists in parallel.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

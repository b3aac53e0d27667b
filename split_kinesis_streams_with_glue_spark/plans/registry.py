"""Query registry — one named entry per implemented operator (SURVEY.md §2).

Each entry pairs a PySpark query builder ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) an equivalent ANSI-SQL oracle string for DuckDB.
The driver hash-compares both at sf0.01 (order-insensitive, columns sorted by
name) — so every computed column is aliased identically on both sides.

Determinism rules used throughout:
- Aggregates over doubles are either cast to DECIMAL before summing (exact,
  engine-independent) or rounded after aggregation.
- Rounding-after-aggregation is only safe while the rounding grain exceeds
  the accumulation-order error (~sqrt(n) * ulp(total)): the TPC-H money
  sums round at 2 dp (grain 5e-3) against ~1e-3 error at sf0.1 — verified
  by full tri-scale sweeps — but a 6-dp rounding of a 1e9-magnitude sum is
  FINER than the error and diverges across engines (seen in
  sample_horvitz_thompson at sf0.1). When in doubt, sum 6-dp-rounded terms
  as DECIMAL(38,6) on both sides: exact and order-free at any scale.
- ROUND of a value that can terminate exactly on a half boundary (a
  2-decimal price over a 2^a*5^b quantity; a subtraction landing on zero)
  needs canonicalization on BOTH sides: `+ 5e-10` before the round for
  quotient ties (q2), `+ 0.0` after it for signed zeros (text script_mix).
- Decimal ARITHMETIC (not just decimal sums) is engine-specific: a
  DECIMAL(38,s>0) * LONG product overflows Spark's 38-digit precision and
  triggers allowPrecisionLoss scale reduction — the product silently
  re-rounds at scale 6 while DuckDB keeps full scale (caught by the
  sf0.001 parity run of raking_ipf's decimal-state draft, round 9).
  Decimals are safe as exact term-SUM accumulators (scale fixed, no
  arithmetic) and as scale-0 integer carriers; anything iterative keeps
  its state in plain INTEGERS (nano-unit fixed point) instead.
- A float ROUND of an exact k-dp decimal state is a TIE GENERATOR: with
  9-dp states, digits 7-9 == "500" (probability ~1e-3 per value) is a
  genuine half boundary that the engines resolve oppositely. Integer
  states round in integer space — (w9 + 500) div 1000 — which has no
  such class.
- Ties in top-k orderings are broken by a unique key column.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.envelope import to_json_lines
from split_kinesis_streams_with_glue_spark.partitioning import rebalance
from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
    infer_envelope_schema,
)

#: tables whose queries run interpreted per-row expressions (regex
#: tokenization, HOF lambdas, hash lanes, vector math) — a one-task scan
#: serializes those, so the rebalance shuffle pays for itself many times
#: over. Pure-codegen tables (lineitem etc.) aggregate faster unshuffled at
#: fixture scale; tiny dims stay unshuffled for broadcast joins.
_REBALANCE_TABLES = {"documents", "embeddings"}


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    since: int = 0  # round the query first registered in (0 = rounds 1-2)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, since: int = 0):
    """Register a driver-facing query. ``oracle=None`` marks a genuinely
    non-SQL-expressible operator (weaker rows-only check). ``since`` tags
    queries added in round N so the rotation-coverage test can tell a
    brand-new query (allowed to wait one round for a window slot) from a
    backlogged one (must be inside the window)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, since)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read a driver fixture table, normalizing physical quirks.

    ``events.ts`` is written as TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a long that we
    truncate to microseconds — byte-identical to what DuckDB's Parquet reader
    yields for the same column, keeping oracles comparable.
    """
    if table == "events":
        # runtime-settable; required even on sessions the engine didn't build
        # (the driver harness hands us its own SparkSession)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint" and table == "events":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if table in _REBALANCE_TABLES:
        # driver fixtures are single-row-group parquet → a 1-task scan would
        # serialize all downstream CPU (SURVEY.md §4.2); no-op on real
        # many-split inputs
        df = rebalance(df)
    return df


_ROOT: str | None = None


def workspace(name: str) -> str:
    """A fresh directory for one builder call's inputs, checkpoints and
    outputs, so a builder called twice never shares a checkpoint. Every
    directory lives under one ``sgs_`` root per process, made on first use
    under ``tempfile.gettempdir()`` and removed when the process exits
    normally — not sooner, because a returned DataFrame reads its files
    lazily until then. A killed process leaves its root behind."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="sgs_")
        atexit.register(shutil.rmtree, _ROOT, True)
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_ROOT)


def drain_parquet(stream: DataFrame, base: str) -> DataFrame:
    """Run ``stream`` over its whole backlog (availableNow) into a parquet
    sink at ``{base}/out``, checkpointed at ``{base}/ckpt``, and read the
    output back."""
    (
        stream.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stream.sparkSession.read.parquet(f"{base}/out")


def stage_phases(src: str, frames: list[DataFrame]) -> None:
    """Write each frame of ``frames`` under the new directory ``src`` as
    one JSON-lines file with strictly increasing mtimes, so a
    ``maxFilesPerTrigger=1`` file source delivers the frames in list order
    (oldest-modified first), one epoch each."""
    os.makedirs(src)
    for i, frame in enumerate(frames):
        before = set(os.listdir(src))
        to_json_lines(frame).coalesce(1).write.mode("append").text(src)
        t = 1_600_000_000 + i
        for f in set(os.listdir(src)) - before:
            os.utime(os.path.join(src, f), (t, t))


def stage_cdc_phases(
    spark: SparkSession, src: str, phases: list[DataFrame]
) -> DataFrame:
    """Stage the CDC envelope frames of ``phases`` under ``src``
    (``stage_phases``) and open a one-file-per-trigger stream over them."""
    stage_phases(src, phases)
    return (
        # sampled inference: single-table envelope — every data line carries
        # the full table payload, so a 5% line sample infers the same union
        # schema as the full parse (pinned by
        # test_streaming.test_sampled_inference_matches_full) at ~1/20 the
        # JSON-parse cost of the inference pass
        spark.readStream.schema(infer_envelope_schema(spark, src, sampling_ratio=0.05))
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )

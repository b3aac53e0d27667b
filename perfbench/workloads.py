"""The benchmark's workloads: closed loops with one caller.

Each op places its input (untimed), calls the program's public entry point
and waits for it. A workload has ``write_inputs`` and ``prepare(k)`` (the
benchmark's own input writing, kept out of every timing), ``setup`` (the
program's set-up), ``op(k)`` (the timed call), ``op_layers`` (per-layer
numbers of the last op, read in traced runs) and ``check`` (the outputs
against what ``gen`` computed apart from the program).
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

import gen
import oracle
from oracle import CheckFailed


@dataclass
class OpResult:
    records: int  # envelope data records (or fixture rows) the op processed
    pipeline_s: float  # wall of the incremental runs, or of the queries
    epoch_s: float = 0.0  # wall of the incremental runs (0: no streaming)
    queries: int = 0
    query_s: float = 0.0


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


class PipelineWorkload:
    """The paper's pipeline on one mixed envelope stream. Each op lands one
    file, runs ``start_split_stream`` (four tables plus a DLQ) and
    ``cdc_merge_stream`` (the customer table kept current), each as one
    ``availableNow`` incremental run over the same source directory -- a
    scheduled job with bookmarks -- then asks ``read_table`` a point lookup,
    a group-by aggregate and a count."""

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.src = f"{root}/src"
        self.staged = f"{root}/staged"
        self.out = f"{root}/split"
        self.dlq = f"{root}/dlq"
        self.table = f"{root}/cdc/customer"
        self.split_ckpt = f"{root}/ckpt/split"
        self.cdc_ckpt = f"{root}/ckpt/cdc"
        os.makedirs(self.src)
        os.makedirs(self.staged)
        self.state = gen.CdcState()
        self.expect = gen.SplitExpect()
        self.records: dict[int, int] = {}
        self.lookup: dict[int, int] = {}
        self.expected: dict[int, dict] = {}

    def outputs(self) -> list[str]:
        return [self.out, self.dlq, self.table]

    #: untimed ops run in set-up, after the initial load
    first_op = 1

    def write_inputs(self) -> None:
        self.prepare(-1)  # the initial full load
        # the warm-up ops' files, landed in set-up once the initial load is in
        for k in range(self.first_op):
            self.prepare(k, self.staged)

    def prepare(self, k: int, into: str | None = None) -> None:
        before = sum(t.rows for t in self.expect.tables.values())
        lines = gen.pipeline_file(self.seed, k, self.state, self.expect)
        # data records only: control records and the corrupt line are not applied
        self.records[k] = sum(t.rows for t in self.expect.tables.values()) - before
        _write_lines(f"{into or self.src}/op-{k + 1:05d}.json", lines)
        if k >= 0:
            # look up a customer key this op changed (an update, a delete or
            # an insert), so the answer shows whether the op is visible
            key = random.Random(f"lookup:{self.seed}:{k}").choice(self.state.changed)
            self.lookup[k] = key
            self.expected[k] = gen.cdc_expected_queries(self.state, key)

    def _split(self, spark):
        from split_kinesis_streams_with_glue_spark.streaming.split_stream import (
            start_split_stream,
        )

        q = start_split_stream(
            spark, source_dir=self.src, schema=self.schema, out_dir=self.out,
            checkpoint_dir=self.split_ckpt, tables=list(gen.SPLIT_TABLES),
            dlq_dir=self.dlq,
        )
        q.awaitTermination()
        return q

    def _merge(self, spark):
        from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
            read_envelope_stream,
        )
        from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
            cdc_merge_stream,
        )

        stream = read_envelope_stream(spark, self.src, self.schema)
        q = cdc_merge_stream(stream, self.table, self.cdc_ckpt, "customer", [gen.CDC_KEY])
        q.awaitTermination()
        return q

    def setup(self, spark) -> dict:
        """Infer the envelope schema from the initial full load, run both
        streams over it once, then land the warm-up file and run one op."""
        from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
            infer_envelope_schema,
        )

        t = time.perf_counter()
        self.schema = infer_envelope_schema(spark, f"{self.src}/op-00000.json")
        infer_s = time.perf_counter() - t
        self._split(spark)
        self._merge(spark)
        for k in range(self.first_op):
            name = f"op-{k + 1:05d}.json"
            os.rename(f"{self.staged}/{name}", f"{self.src}/{name}")
            self.op(spark, k, lambda *_: None)
        return {"sources.json_envelope.infer_s": infer_s}

    def op(self, spark, k: int, on_query) -> OpResult:
        from pyspark.sql import functions as F

        from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import read_table

        t0 = time.perf_counter()
        self.split_query = self._split(spark)
        t1 = time.perf_counter()
        self.merge_query = self._merge(spark)
        t2 = time.perf_counter()
        df = read_table(spark, self.table)
        t3 = time.perf_counter()
        cents = F.round(F.col("c_acctbal") * 100).cast("long")
        hit = (
            df.filter(F.col(gen.CDC_KEY) == self.lookup[k])
            .select("c_name", cents.alias("cents")).collect()
        )
        seg = (
            df.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
            .collect()
        )
        count = df.count()
        t4 = time.perf_counter()
        self.split_s, self.merge_s, self.read_table_s = t1 - t0, t2 - t1, t3 - t2
        got = {
            "lookup": (hit[0]["c_name"], hit[0]["cents"]) if hit else None,
            "by_segment": {r["c_mktsegment"]: (r["n"], r["cents"])
                           for r in sorted(seg, key=lambda r: r["c_mktsegment"])},
            "count": count,
        }
        if len(hit) > 1 or got != self.expected[k]:
            raise CheckFailed(f"op {k}: queries gave {got}, replay {self.expected[k]}")
        return OpResult(self.records[k], t2 - t0, epoch_s=t2 - t0, queries=3,
                        query_s=t4 - t2)

    def op_layers(self, since: float) -> dict:
        """Streaming phases, run walls and files written by the last op
        (files whose mtime is at or after wall time ``since``)."""
        split, merge = _phases(self.split_query), _phases(self.merge_query)
        out = {f"streaming.split_stream.{p}_ms": split.get(p, 0.0) for p in PHASES}
        out.update({
            "streaming.split_stream.run_s": self.split_s,
            "streaming.split_stream.start_stop_ms":
                1000 * self.split_s - split.get("triggerExecution", 0.0),
            "streaming.split_stream.files_written": _files_since([self.out, self.dlq], since),
            "streaming.cdc_merge.run_s": self.merge_s,
            "streaming.cdc_merge.addBatch_ms": merge.get("addBatch", 0.0),
            "streaming.cdc_merge.read_table_s": self.read_table_s,
            "streaming.cdc_merge.files_written": _files_since([self.table], since),
        })
        return out

    def check(self) -> None:
        oracle.check_split(self.out, self.dlq, self.expect)
        oracle.check_cdc_table(self.table, self.state)


PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
          "commitOffsets")


def _phases(query) -> dict[str, float]:
    """Summed ``durationMs`` phases of a finished query's progress reports."""
    out: dict[str, float] = {}
    for p in query.recentProgress:
        for k, v in (p.durationMs or {}).items():
            out[k] = out.get(k, 0.0) + v
    return out


def _files_since(roots: list[str], since: float) -> int:
    """Data files under ``roots`` written at or after wall time ``since``."""
    n = 0
    for root in roots:
        for d, _, names in os.walk(root):
            n += sum(1 for f in names if not f.startswith(("_", "."))
                     and os.path.getmtime(os.path.join(d, f)) >= since)
    return n


#: analytics_mix's fixed cycle of registered queries
ANALYTICS_CYCLE = ["sim_pairs_topk", "dedup_minhash_lsh"]
#: the fixture table each query reads (its rows make the op's records)
ANALYTICS_INPUTS = {"sim_pairs_topk": "embeddings", "dedup_minhash_lsh": "documents"}


class AnalyticsWorkload:
    """One op runs the fixed cycle of registered queries in the session and
    collects every result (each is at most a few hundred rows), which
    ``check`` compares with the query's registered DuckDB oracle. There is
    no warm-up: the first op pays each query's code generation, as an
    ad-hoc user's first run does."""

    first_op = 0  # no warm-up: each op is the session's first run of the cycle

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.fixtures = f"{root}/fixtures"
        self.results: list[dict] = []

    def outputs(self) -> list[str]:
        return []

    def prepare(self, k: int) -> None:
        pass

    def write_inputs(self) -> None:
        import pyarrow.parquet as pq

        os.makedirs(self.fixtures)
        self.rows = {}
        for name, table in gen.analytics_tables(self.seed).items():
            pq.write_table(table, f"{self.fixtures}/{name}.parquet")
            self.rows[name] = table.num_rows

    def setup(self, spark) -> dict:
        import __spark_entry__

        self.fns = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        return {}

    def op(self, spark, k: int, on_query) -> OpResult:
        total, records, results = 0.0, 0, {}
        for name in ANALYTICS_CYCLE:
            t = time.perf_counter()
            df = self.fns[name](spark, self.fixtures)
            results[name] = (df.columns, df.collect())
            dt = time.perf_counter() - t
            total += dt
            records += self.rows[ANALYTICS_INPUTS[name]]
            on_query(name, dt)
        self.results.append(results)
        return OpResult(records, total, queries=len(ANALYTICS_CYCLE), query_s=total)

    def op_layers(self, since: float) -> dict:
        return {}  # per-query numbers come through on_query

    def check(self) -> None:
        for name in ANALYTICS_CYCLE:
            want = oracle.oracle_rows(name, self.oracles[name], self.fixtures)
            for results in self.results:
                oracle.check_query(name, *results[name], want)

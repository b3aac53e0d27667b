"""Driver-facing queries for the core split/CDC pipeline (SURVEY.md §2.1-2.4).

Each query synthesizes DMS envelopes from the driver parquet tables
(deterministically — every phase keyed off ``pk % k``), pushes them through
the real wire round-trip (to_json → from_json) and the engine's split /
compact operators, and is checked against a DuckDB oracle that reproduces the
same final state in pure SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.envelope import generate_cdc_envelopes, wrap
from split_kinesis_streams_with_glue_spark.operators.compact import compact, event_time
from split_kinesis_streams_with_glue_spark.operators.split import (
    split_one,
    split_stats,
)
from split_kinesis_streams_with_glue_spark.plans.registry import (
    load,
    query,
    stage_cdc_phases,
    workspace,
)
from split_kinesis_streams_with_glue_spark.sources.memory import json_roundtrip


@query(
    "split_roundtrip_customer",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def split_roundtrip_customer(spark, sf_dir):
    """Full-load envelopes → JSON wire round-trip → filter+flatten (the
    reference's P1+P2, README.md:259-279) recovers the source table."""
    env = json_roundtrip(wrap(load(spark, sf_dir, "customer"), "customer"))
    # prune=False: single-table envelope by construction — the all-null-column
    # probe would re-run the wire parse end to end just to learn there is
    # nothing to prune (r13 optimization; split_multi_table keeps the probe)
    return split_one(env, "customer", keep_timestamp=False, prune=False)


@query(
    "split_flatten_orders_ts",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def split_flatten_orders_ts(spark, sf_dir):
    """Timestamp columns survive the JSON wire as ISO strings (reference
    image/image5.png) and re-parse losslessly (source is ms-precision; the
    wire format carries ms)."""
    env = json_roundtrip(wrap(load(spark, sf_dir, "orders"), "orders"))
    return split_one(env, "orders", keep_timestamp=False, prune=False)


@query(
    "cdc_compact_customer",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0
                            WHEN c_custkey % 5 = 0 THEN 100.0
                            ELSE 0.0 END AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 7 <> 0
    """,
)
def cdc_compact_customer(spark, sf_dir):
    """Full-load + CDC stream → split → latest-per-PK compaction with delete
    handling (T7) reproduces the exact final table state."""
    env = json_roundtrip(
        generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    )
    cust = split_one(env, "customer", keep_operation=True, prune=False)
    return compact(event_time(cust), ["c_custkey"])


@query(
    "cdc_merge_apply",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0
                            WHEN c_custkey % 5 = 0 THEN 100.0
                            ELSE 0.0 END AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 7 <> 0
    """,
)
def cdc_merge_apply(spark, sf_dir):
    """Incremental CDC apply (streaming/cdc_merge.py): the envelope phases
    arrive as THREE ordered micro-batches (load / updates / deletes) and
    the materialized table is merged incrementally — per batch, only the
    touched key-hash buckets are rewritten (dynamic partition overwrite),
    never the whole table. Must equal the one-shot full-history compaction
    (cdc_compact_customer's oracle) row for row."""
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        cdc_merge_stream,
        read_table,
    )

    base = workspace("merge")
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    # one epoch per phase, in CDC order
    stream = stage_cdc_phases(spark, f"{base}/src", [
        env.filter(op == "load"),
        env.filter(op == "update"),  # both update passes, one batch: ts tie-break
        env.filter(op == "delete"),
    ])
    q = cdc_merge_stream(
        stream,
        f"{base}/tbl",
        f"{base}/ckpt",
        "customer",
        ["c_custkey"],
        num_buckets=16,
    )
    q.awaitTermination()
    return read_table(spark, f"{base}/tbl")


@query(
    "split_stats_customer",
    oracle="""
    SELECT 'dms_sample' AS schema_name, 'customer' AS table_name,
           'load' AS operation, count(*) AS n_records FROM customer
    UNION ALL
    SELECT 'dms_sample', 'customer', 'update',
           (SELECT count(*) FROM customer WHERE c_custkey % 5 = 0)
         + (SELECT count(*) FROM customer WHERE c_custkey % 10 = 0)
    UNION ALL
    SELECT 'dms_sample', 'customer', 'delete', count(*)
    FROM customer WHERE c_custkey % 7 = 0
    """,
)
def split_stats_customer(spark, sf_dir):
    """Per-(schema, table, operation) record counts — the DMS console view
    (image/image3.png) as a query."""
    env = json_roundtrip(
        generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    )
    return split_stats(env)


@query(
    "stream_split_customer",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def stream_split_customer(spark, sf_dir):
    """The full streaming path, end to end: envelope JSON files (with
    corrupt lines) → Structured Streaming file source → foreachBatch fan-out
    → parquet sink → read back. availableNow trigger drains the backlog;
    corrupt lines go to the DLQ, not the table."""
    from split_kinesis_streams_with_glue_spark.envelope import (
        control_records,
        to_json_lines,
    )
    from split_kinesis_streams_with_glue_spark.sources.json_envelope import (
        infer_envelope_schema,
    )
    from split_kinesis_streams_with_glue_spark.streaming.split_stream import (
        run_split_stream_to_completion,
    )

    base = workspace("stream")
    src = f"{base}/src"
    lines = to_json_lines(wrap(load(spark, sf_dir, "customer"), "customer"))
    lines = lines.unionByName(to_json_lines(control_records(spark, ["customer"])))
    lines = lines.unionByName(
        spark.createDataFrame([("{not json",), ('{"data": bad',)], "value string")
    )
    lines.repartition(3).write.mode("overwrite").text(src)
    run_split_stream_to_completion(
        spark,
        source_dir=src,
        # sampled inference — same single-table argument and pin as above
        schema=infer_envelope_schema(spark, src, sampling_ratio=0.05),
        out_dir=f"{base}/target",
        checkpoint_dir=f"{base}/ckpt",
        dlq_dir=f"{base}/dlq",
        tables=["customer"],
        keep_timestamp=False,
        max_files_per_trigger=None,  # drain in one batch (bench profile)
    )
    return spark.read.parquet(f"{base}/target/dms_sample/customer")


@query(
    "choice_resolution_totalprice",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderkey % 3 = 0 THEN CAST(FLOOR(o_totalprice) AS BIGINT)
                     ELSE o_totalprice END AS DOUBLE) AS o_totalprice
    FROM orders
    """,
)
def choice_resolution_totalprice(spark, sf_dir):
    """Glue ``choice{double,int}`` semantics (image/image2.png): a field
    serialized as JSON integer on some records and double on others resolves
    to double (widen policy, SURVEY.md §4.3)."""
    from split_kinesis_streams_with_glue_spark.schema.choices import resolve_choices
    from split_kinesis_streams_with_glue_spark.sources.memory import parse_envelope_lines
    from split_kinesis_streams_with_glue_spark.envelope import to_json_lines

    src = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    as_int = src.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.floor("o_totalprice").cast("long")
    )
    as_dbl = src.filter(F.col("o_orderkey") % 3 != 0)
    # two incompatible payload schemas → serialize separately, merge as lines
    lines = to_json_lines(wrap(as_int, "orders")).unionByName(
        to_json_lines(wrap(as_dbl, "orders"))
    )
    env = parse_envelope_lines(lines, wrap(as_dbl, "orders").schema)
    flat = split_one(env, "orders", keep_timestamp=False, prune=False)
    return resolve_choices(flat, {"o_totalprice": "double"})


@query(
    "choice_make_struct",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0
                THEN CAST(FLOOR(o_totalprice) AS BIGINT) END AS price_int,
           CASE WHEN o_orderkey % 3 <> 0
                THEN o_totalprice END AS price_double
    FROM orders
    """,
)
def choice_make_struct(spark, sf_dir):
    """Glue ``resolveChoice`` ``make_struct`` policy (image/image2.png): the
    conflicted field — serialized as JSON integer on some records, double on
    others — becomes a struct with exactly one non-null branch per record,
    preserving which serialized form each record had (the lossless
    resolution ``widen`` destroys). The field is parsed as STRING so the raw
    form survives the wire; output flattens the branches for the oracle."""
    from split_kinesis_streams_with_glue_spark.envelope import to_json_lines
    from split_kinesis_streams_with_glue_spark.schema.choices import resolve_choices
    from split_kinesis_streams_with_glue_spark.sources.memory import parse_envelope_lines

    src = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    as_int = src.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.floor("o_totalprice").cast("long")
    )
    as_dbl = src.filter(F.col("o_orderkey") % 3 != 0)
    lines = to_json_lines(wrap(as_int, "orders")).unionByName(
        to_json_lines(wrap(as_dbl, "orders"))
    )
    raw_schema = wrap(
        src.withColumn("o_totalprice", F.col("o_totalprice").cast("string")), "orders"
    ).schema
    env = parse_envelope_lines(lines, raw_schema)
    flat = split_one(env, "orders", keep_timestamp=False, prune=False)
    resolved = resolve_choices(flat, {"o_totalprice": "make_struct"})
    return resolved.select(
        "o_orderkey",
        F.col("o_totalprice.int").alias("price_int"),
        F.col("o_totalprice.double").alias("price_double"),
    )


@query(
    "catalog_sql_over_split",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def catalog_sql_over_split(spark, sf_dir):
    """S7 end-to-end: split output written to parquet, registered in the
    catalog, queried BY NAME with spark.sql — the Athena workflow
    (image/image7.png) as engine code."""
    from split_kinesis_streams_with_glue_spark.sources.catalog import register_parquet

    base = workspace("cat")
    env = wrap(load(spark, sf_dir, "customer"), "customer")
    split_one(env, "customer", keep_timestamp=False, prune=False).write.mode("overwrite").parquet(
        f"{base}/customer"
    )
    register_parquet(spark, "target_customer_q", f"{base}/customer")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS total_bal
        FROM target_customer_q GROUP BY c_mktsegment
        """
    )


@query(
    "schema_drift_merge",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal,
           CASE WHEN c_custkey % 2 = 1 THEN 'tier_' || CAST(c_custkey % 3 AS VARCHAR) END AS loyalty_tier
    FROM customer
    """,
)
def schema_drift_merge(spark, sf_dir):
    """M2 schema drift: a later batch adds a column the early batch lacks
    (the source table gained a field mid-stream). mergeSchema unions the
    parquet footers; early rows surface NULL for the new column — the
    crawler-re-inference behavior as one declarative read."""
    base = workspace("drift")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    v1 = cust.filter(F.col("c_custkey") % 2 == 0)
    v2 = cust.filter(F.col("c_custkey") % 2 == 1).withColumn(
        "loyalty_tier",
        F.concat(F.lit("tier_"), (F.col("c_custkey") % 3).cast("string")),
    )
    v1.write.mode("append").parquet(f"{base}/t")
    v2.write.mode("append").parquet(f"{base}/t")
    return spark.read.option("mergeSchema", "true").parquet(f"{base}/t")


@query(
    "cdc_scd2_customer",
    oracle="""
    WITH v AS (
      SELECT c_custkey, c_acctbal AS bal, 0 AS seq, FALSE AS is_del FROM customer
      UNION ALL
      SELECT c_custkey, c_acctbal + 100, 1, FALSE FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey, c_acctbal + 200, 2, FALSE FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, NULL, 3, TRUE FROM customer WHERE c_custkey % 7 = 0
    ), h AS (
      SELECT *, LEAD(seq) OVER (PARTITION BY c_custkey ORDER BY seq) AS next_seq
      FROM v
    )
    SELECT c_custkey, ROUND(bal, 2) AS c_acctbal,
           seq AS valid_from_seq, next_seq AS valid_to_seq,
           next_seq IS NULL AS is_current
    FROM h WHERE NOT is_del
    """,
)
def cdc_scd2_customer(spark, sf_dir):
    """SCD2 history materialization from the CDC stream: every surviving
    version of every customer row with its validity interval; deletes close
    intervals without emitting rows. Seq = seconds since the fixture epoch
    (wrap() encodes CDC phase order as +seq seconds)."""
    from split_kinesis_streams_with_glue_spark.envelope import BASE_TS
    from split_kinesis_streams_with_glue_spark.operators.compact import scd2_history

    env = json_roundtrip(
        generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    )
    cust = event_time(split_one(env, "customer", keep_operation=True, prune=False))
    hist = scd2_history(cust, ["c_custkey"])
    base = F.unix_timestamp(F.to_timestamp(F.lit(BASE_TS)))
    return hist.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        (F.unix_timestamp("valid_from") - base).alias("valid_from_seq"),
        (F.unix_timestamp("valid_to") - base).alias("valid_to_seq"),
        "is_current",
    )


@query(
    "split_multi_table",
    oracle="""
    SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
           COUNT(DISTINCT c_mktsegment) AS n_distinct FROM customer
    UNION ALL
    SELECT 'orders', COUNT(*), COUNT(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'nation', COUNT(*), COUNT(DISTINCT n_regionkey) FROM nation
    """,
)
def split_multi_table(spark, sf_dir):
    """T5 at full width: a MIXED three-table envelope stream demultiplexed
    in one pass (wildcard table discovery, single persisted scan), each
    output verified by shape. The reference re-scans the source per table;
    this is the single-pass form."""
    from split_kinesis_streams_with_glue_spark.operators.split import split_tables

    env = None
    for t in ["customer", "orders", "nation"]:
        e = wrap(load(spark, sf_dir, t), t)
        env = e if env is None else env.unionByName(e, allowMissingColumns=True)
    env = json_roundtrip(env)
    frames = split_tables(env, "%", keep_timestamp=False)
    stats = {
        "customer": ("c_mktsegment",),
        "orders": ("o_orderstatus",),
        "nation": ("n_regionkey",),
    }
    out = None
    for t, df in sorted(frames.items()):
        s = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(stats[t][0]).alias("n_distinct"),
        ).select(F.lit(t).alias("table_name"), "n_rows", "n_distinct")
        out = s if out is None else out.unionByName(s)
    return out


@query(
    "pipeline_training_data_prep",
    oracle="""
    WITH ws AS (
      SELECT doc_id, lang, n_chars, text,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> '')) AS n_tokens,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ), keep AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM ws WHERE n_tokens >= 10 AND lang IN ('en', 'de', 'fr')
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM keep WHERE rn = 1
    GROUP BY lang
    """,
)
def pipeline_training_data_prep(spark, sf_dir):
    """The composite LLM-training-data pipeline as ONE plan: token-count
    quality gate → language filter → exact dedup (min-id per fingerprint)
    → per-language corpus stats. Single scan, two shuffles (dedup window +
    final agg) — the shape that matters at 100 TB."""
    from split_kinesis_streams_with_glue_spark.functions.textfns import (
        fingerprint,
        whitespace_tokens,
    )

    d = load(spark, sf_dir, "documents")
    enriched = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(whitespace_tokens(F.col("text"))).alias("n_tokens"),
        fingerprint(F.col("text")).alias("fp"),
    )
    gated = enriched.filter(
        (F.col("n_tokens") >= 10) & F.col("lang").isin("en", "de", "fr")
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = gated.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@query(
    "formats_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def formats_csv_roundtrip(spark, sf_dir):
    """CSV ingestion path (crawler format claim, SURVEY S5): the customer
    table written as headered CSV and read back with an explicit schema is
    byte-identical. CSV is the interchange format; schema comes from the
    catalog, never re-inferred per read."""
    base = workspace("csv")
    c = load(spark, sf_dir, "customer")
    c.write.mode("overwrite").option("header", True).csv(base)
    return spark.read.schema(c.schema).option("header", True).csv(base)


@query(
    "formats_orc_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def formats_orc_roundtrip(spark, sf_dir):
    """ORC ingestion path (timestamps included): orders written as ORC and
    read back — the columnar alternative the reference's crawler claims to
    handle; Spark's vectorized ORC reader gives the same pushdown/pruning
    economics as parquet."""
    base = workspace("orc")
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").orc(base)
    return spark.read.orc(base)


@query(
    "catalog_analyze_stats",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS row_count, 'analyzed' AS source
    FROM nation
    """,
)
def catalog_analyze_stats(spark, sf_dir):
    """Planner statistics round-trip (sources/catalog.py analyze_table —
    the Glue-crawler-stats analog): register a split output as a managed
    table, ANALYZE it, and read the exact row count back out of the
    catalog's Statistics entry — proving the stats the static planner
    sizes joins with are collected and correct."""
    import re

    from split_kinesis_streams_with_glue_spark.sources.catalog import (
        analyze_table,
        register_parquet,
    )

    # external table at a fresh location: robust to stale warehouse dirs
    # from earlier sessions (a managed CREATE fails on a leftover path)
    path = workspace("stats") + "/nation"
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.parquet(path)
    spark.sql("DROP TABLE IF EXISTS q_stats_nation")
    register_parquet(spark, "q_stats_nation", path, temp=False)
    analyze_table(spark, "q_stats_nation", columns=["n_nationkey"])
    detail = spark.sql("DESCRIBE TABLE EXTENDED q_stats_nation").collect()
    stats = next(r["data_type"] for r in detail if r["col_name"] == "Statistics")
    rows = int(re.search(r"(\d+) rows", stats).group(1))
    return spark.createDataFrame([(rows, "analyzed")], "row_count bigint, source string")


@query(
    "pipeline_data_quality",
    oracle="""
    SELECT 'completeness(o_custkey)' AS check,
           ROUND(CAST(count(o_custkey) AS DOUBLE) / count(*), 6) AS observed,
           count(o_custkey) = count(*) AS passed
    FROM orders
    UNION ALL
    SELECT 'uniqueness(o_orderkey)',
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE),
           count(o_orderkey) = count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'bounds(o_totalprice)',
           CAST((SELECT count(*) FROM orders
                 WHERE o_totalprice IS NOT NULL
                   AND (o_totalprice < 0 OR o_totalprice > 1000000)) AS DOUBLE),
           (SELECT count(*) FROM orders
            WHERE o_totalprice IS NOT NULL
              AND (o_totalprice < 0 OR o_totalprice > 1000000)) = 0
    UNION ALL
    SELECT 'referential(l_orderkey)',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey IS NOT NULL
                   AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS DOUBLE),
           (SELECT count(*) FROM lineitem
            WHERE l_orderkey IS NOT NULL
              AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
    """,
)
def pipeline_data_quality(spark, sf_dir):
    """Declarative constraint gate (operators/quality_checks.py): PK
    completeness + uniqueness and a value-bounds check fuse into ONE
    aggregation pass over orders; lineitem->orders referential integrity
    is one broadcast anti-join. The publish-blocking check a production
    split pipeline runs on every output table."""
    from split_kinesis_streams_with_glue_spark.operators.quality_checks import (
        bounds,
        check_table,
        completeness,
        referential,
        uniqueness,
    )

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    out = check_table(
        orders,
        [
            completeness("o_custkey"),
            uniqueness("o_orderkey"),
            bounds("o_totalprice", 0.0, 1_000_000.0),
        ],
    )
    ref = check_table(li, [referential("l_orderkey", orders, "o_orderkey")])
    return out.unionByName(ref)


@query(
    "cdc_table_diff",
    oracle="""
    SELECT 'delete' AS operation, c_custkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT 'update', c_custkey,
           c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0 ELSE 100.0 END,
           c_mktsegment
    FROM customer WHERE c_custkey % 7 <> 0 AND c_custkey % 5 = 0
    UNION ALL
    SELECT 'insert', c_custkey + 1000000, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey < 10
    """,
)
def cdc_table_diff(spark, sf_dir):
    """Snapshot diff -> change feed (operators/diff.py): old = the raw
    customer table, new = the post-CDC final state plus a few brand-new
    keys. The diff must emit exactly the deletes (%7 keys), the updates
    (%5 keys with bumped balances), and the inserts — and nothing for the
    untouched majority. One full-outer pk join, |changes|-sized output."""
    from split_kinesis_streams_with_glue_spark.operators.diff import table_diff

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    bumped = F.col("c_acctbal") + F.when(
        F.col("c_custkey") % 10 == 0, 200.0
    ).when(F.col("c_custkey") % 5 == 0, 100.0).otherwise(0.0)
    new = (
        cust.filter(F.col("c_custkey") % 7 != 0)
        .withColumn("c_acctbal", bumped)
        .unionByName(
            cust.filter(F.col("c_custkey") < 10).withColumn(
                "c_custkey", F.col("c_custkey") + 1_000_000
            )
        )
    )
    return table_diff(cust, new, ["c_custkey"])


@query(
    "pipeline_publish_gated",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def pipeline_publish_gated(spark, sf_dir):
    """Write-audit-publish (operators/publish.py): the snapshot stages
    into a versioned directory, the quality gate audits the staged files,
    and only then does the atomic _CURRENT pointer advance — readers (this
    query's read_published) must see exactly the audited snapshot. A
    deliberately corrupted second publish (duplicated keys) is blocked and
    must leave readers on the good version."""
    from split_kinesis_streams_with_glue_spark.operators.publish import (
        PublishBlocked,
        read_published,
        write_audit_publish,
    )
    from split_kinesis_streams_with_glue_spark.operators.quality_checks import (
        completeness,
        uniqueness,
    )

    path = workspace("pub") + "/customer"
    cust = load(spark, sf_dir, "customer")
    checks = [completeness("c_custkey"), uniqueness("c_custkey")]
    write_audit_publish(cust, path, checks)
    try:  # corrupt publish attempt must be blocked
        write_audit_publish(cust.unionByName(cust.limit(5)), path, checks)
        raise AssertionError("corrupt publish was not blocked")
    except PublishBlocked:
        pass
    return read_published(spark, path)


@query(
    "cdc_fingerprint_buckets",
    since=4,
    oracle="""
    WITH r AS (
      SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4)) AS BIGINT)
             % 64 AS bucket,
             CAST(('0x' || substr(md5(
               CAST(c_custkey AS VARCHAR) || chr(31) ||
               coalesce(c_name, chr(0)) || chr(31) ||
               coalesce(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), chr(0))
             ), 1, 12)) AS BIGINT) AS h
      FROM customer
    )
    SELECT bucket, count(*) AS n_rows,
           CAST(SUM(h) AS BIGINT) AS checksum
    FROM r GROUP BY bucket
    """,
)
def cdc_fingerprint_buckets(spark, sf_dir):
    """Merkle-style table fingerprint (operators/diff.py): per-bucket
    (n_rows, checksum) summary whose md5 arithmetic must be BIT-EXACT
    cross-engine — the strongest oracle form available. The double
    c_acctbal is pre-cast to DECIMAL(12,2) so its string form is
    engine-independent, per table_fingerprint's documented contract.

    Output convention (round-5 verdict #1): the engine keeps checksums
    DECIMAL(38,0) internally, but the query surface casts to BIGINT on
    BOTH sides — the per-bucket sums of 48-bit hashes fit int64 at any
    fixture SF, and the driver's hasher canonicalizes wide decimals
    differently per engine even when values are identical."""
    from split_kinesis_streams_with_glue_spark.operators.diff import table_fingerprint

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal")
    )
    fp = table_fingerprint(cust, ["c_custkey"], num_buckets=64)
    return fp.withColumn("checksum", F.col("checksum").cast("bigint"))


@query(
    "cdc_merkle_diff",
    since=4,
    oracle="""
    SELECT 'delete' AS operation, c_custkey, c_name,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS c_acctbal
    FROM customer WHERE c_custkey % 11 = 0
    UNION ALL
    SELECT 'update', c_custkey, c_name,
           CAST(CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 50.25 AS DECIMAL(12,2))
                AS DOUBLE)
    FROM customer WHERE c_custkey % 11 <> 0 AND c_custkey % 13 = 0
    UNION ALL
    SELECT 'insert', c_custkey + 2000000, c_name,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE)
    FROM customer WHERE c_custkey % 17 = 0
    """,
)
def cdc_merkle_diff(spark, sf_dir):
    """Anti-entropy diff (operators/diff.py merkle_diff): fingerprints
    localize the changed buckets, the row-level full-outer join runs on
    dirty-bucket rows only — and the output must STILL be exactly the full
    diff (deletes %11, updates %13, inserts %17), because a clean bucket
    provably hides no change. The oracle is the change feed itself."""
    from split_kinesis_streams_with_glue_spark.operators.diff import merkle_diff

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("decimal(12,2)").alias("c_acctbal")
    )
    new = (
        cust.filter(F.col("c_custkey") % 11 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 13 == 0,
                (F.col("c_acctbal") + F.lit(50.25).cast("decimal(12,2)")).cast(
                    "decimal(12,2)"
                ),
            ).otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 17 == 0).withColumn(
                "c_custkey", F.col("c_custkey") + 2_000_000
            )
        )
    )
    diff = merkle_diff(cust, new, ["c_custkey"], num_buckets=128)
    # driver-surface convention (round-5 verdict #1): DECIMAL(12,2) is exact
    # as DOUBLE at these magnitudes; raw decimals hash engine-dependently
    return diff.withColumn("c_acctbal", F.col("c_acctbal").cast("double"))


@query(
    "cdc_merge_out_of_order",
    since=4,
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0
                            WHEN c_custkey % 5 = 0 THEN 100.0
                            ELSE 0.0 END AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 7 <> 0
    """,
)
def cdc_merge_out_of_order(spark, sf_dir):
    """Out-of-order CDC apply (streaming/cdc_merge.py out_of_order=True):
    the DELETE phase is delivered BEFORE the older-event-time update
    phase, violating the ordered-delivery requirement the default merger
    carries. Delete tombstones (retained with their event times) beat the
    late updates, so the final table must STILL equal the in-order
    result — the same oracle as cdc_merge_apply. Without tombstones the
    %35 keys (deleted AND updated) would resurrect."""
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        cdc_merge_stream,
        read_table,
    )

    base = workspace("merge_ooo")
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    # one epoch per phase, in DELIVERY order (which here is NOT event-time
    # order)
    stream = stage_cdc_phases(spark, f"{base}/src", [
        env.filter(op == "load"),
        env.filter(op == "delete"),  # arrives before the updates it outranks
        env.filter(op == "update"),
    ])
    q = cdc_merge_stream(
        stream,
        f"{base}/tbl",
        f"{base}/ckpt",
        "customer",
        ["c_custkey"],
        num_buckets=16,
        out_of_order=True,
    )
    q.awaitTermination()
    return read_table(spark, f"{base}/tbl")


@query(
    "join_point_in_time",
    since=4,
    oracle="""
    WITH v AS (
      SELECT c_custkey, c_acctbal AS bal, 0 AS seq, FALSE AS is_del FROM customer
      UNION ALL
      SELECT c_custkey, c_acctbal + 100, 1, FALSE FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey, c_acctbal + 200, 2, FALSE FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, NULL, 3, TRUE FROM customer WHERE c_custkey % 7 = 0
    ), h AS (
      SELECT *, LEAD(seq) OVER (PARTITION BY c_custkey ORDER BY seq) AS next_seq
      FROM v
    ), live AS (SELECT * FROM h WHERE NOT is_del),
    p AS (SELECT event_id, user_id, event_id % 5 AS probe_seq FROM events)
    SELECT p.event_id, p.user_id, p.probe_seq,
           ROUND(live.bal, 2) AS acctbal_pit
    FROM p LEFT JOIN live
      ON live.c_custkey = p.user_id
     AND live.seq <= p.probe_seq
     AND (live.next_seq IS NULL OR p.probe_seq < live.next_seq)
    """,
)
def join_point_in_time(spark, sf_dir):
    """Point-in-time join (operators/asof.py point_in_time_join): each
    event probes the customer SCD2 history at BASE_TS + (event_id % 5)
    seconds and must see exactly the version valid THEN — pre-creation
    and post-delete probes yield NULL (no leakage, no resurrection). The
    oracle is the interval join the fanout-free asof formulation avoids."""
    from split_kinesis_streams_with_glue_spark.envelope import BASE_TS
    from split_kinesis_streams_with_glue_spark.operators.asof import (
        point_in_time_join,
    )
    from split_kinesis_streams_with_glue_spark.operators.compact import scd2_history

    env = json_roundtrip(
        generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    )
    cust = event_time(split_one(env, "customer", keep_operation=True, prune=False))
    hist = scd2_history(cust, ["c_custkey"]).select(
        F.col("c_custkey"), "c_acctbal", "valid_from", "valid_to"
    )
    probes = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("event_id") % 5).alias("probe_seq"),
        F.timestamp_add(
            "SECOND", (F.col("event_id") % 5).cast("long"), F.to_timestamp(F.lit(BASE_TS))
        ).alias("probe_ts"),
    )
    out = point_in_time_join(
        probes.withColumnRenamed("user_id", "c_custkey"),
        hist,
        on="c_custkey",
        ts_col="probe_ts",
    )
    return out.select(
        "event_id",
        F.col("c_custkey").alias("user_id"),
        "probe_seq",
        F.round("c_acctbal_pit", 2).alias("acctbal_pit"),
    )


@query(
    "cdc_merge_verified",
    since=4,
    oracle="""
    WITH final AS (
      SELECT c_custkey, c_name,
             CAST(c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0
                                   WHEN c_custkey % 5 = 0 THEN 100.0
                                   ELSE 0.0 END AS DECIMAL(12,2)) AS bal
      FROM customer WHERE c_custkey % 7 <> 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(md5(
             CAST(c_custkey AS VARCHAR) || chr(31) ||
             coalesce(c_name, chr(0)) || chr(31) ||
             coalesce(CAST(bal AS VARCHAR), chr(0))
           ), 1, 12)) AS BIGINT)) AS BIGINT) AS checksum
    FROM final
    """,
)
def cdc_merge_verified(spark, sf_dir):
    """Self-certifying CDC apply (streaming/cdc_merge.py
    make_fingerprinted_merger): the merger maintains a per-bucket Merkle
    fingerprint of the materialized table incrementally (dirty buckets
    only, every epoch). The folded (n_rows, checksum) certificate must
    BIT-EXACTLY equal what the oracle recomputes from scratch over the
    final CDC state — proving the incremental maintenance path equals the
    full recomputation any replica would run."""
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_fingerprinted_merger,
        read_fingerprint,
    )

    base = workspace("merge_fp")
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    merge = make_fingerprinted_merger(
        f"{base}/tbl",
        f"{base}/fp",
        "customer",
        ["c_custkey"],
        repr_cols=[
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("c_acctbal").cast("decimal(12,2)"),
        ],
        num_buckets=16,
    )
    for epoch, phase in enumerate(["load", "update", "delete"]):
        merge(env.filter(op == phase), epoch)
    # surface cast per round-5 verdict #1: the folded 48-bit-hash sum fits
    # int64; raw DECIMAL(38,0) output hashes engine-dependently
    return read_fingerprint(spark, f"{base}/fp").withColumn(
        "checksum", F.col("checksum").cast("bigint")
    )


@query(
    "pipeline_publish_group_atomic",
    since=4,
    oracle="""
    SELECT c_mktsegment,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) / count(*), 2)
             AS avg_acctbal
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def pipeline_publish_group_atomic(spark, sf_dir):
    """Cross-table atomic publish (operators/publish.py
    write_audit_publish_group): customer+orders publish together as group
    v1; a second group attempt pairs a PASSING customer (balances +1000)
    with a CORRUPT orders (duplicated keys) and must block BOTH — the
    join read through the group marker must still see v1's consistent
    pair. If per-table semantics leaked through, the +1000 balances would
    shift avg_acctbal; if staged files leaked, order counts would double."""
    from split_kinesis_streams_with_glue_spark.operators.publish import (
        PublishBlocked,
        read_published_group,
        write_audit_publish_group,
    )
    from split_kinesis_streams_with_glue_spark.operators.quality_checks import (
        uniqueness,
    )

    base = workspace("pub_grp") + "/snap"
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    v = write_audit_publish_group(
        {
            "customer": (cust, [uniqueness("c_custkey")]),
            "orders": (orders, [uniqueness("o_orderkey")]),
        },
        base,
    )
    assert v == 1
    cust2 = cust.withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
    bad_orders = orders.unionByName(orders.limit(100))
    try:
        write_audit_publish_group(
            {
                "customer": (cust2, [uniqueness("c_custkey")]),
                "orders": (bad_orders, [uniqueness("o_orderkey")]),
            },
            base,
        )
        raise AssertionError("corrupt group publish was not blocked")
    except PublishBlocked:
        pass
    c = read_published_group(spark, base, "customer")
    o = read_published_group(spark, base, "orders")
    return (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
                / F.count(F.lit(1)),
                2,
            )
            .cast("double")
            .alias("avg_acctbal"),
        )
    )


@query(
    "cdc_join_view_apply",
    since=4,
    oracle="""
    WITH final AS (
      SELECT c_custkey, c_mktsegment,
             c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0
                              WHEN c_custkey % 5 = 0 THEN 100.0
                              ELSE 0.0 END AS bal
      FROM customer WHERE c_custkey % 7 <> 0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                    + CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def cdc_join_view_apply(spark, sf_dir):
    """Incrementally maintained JOIN view (streaming/join_view.py): orders
    is co-bucketed once by the merger's key-hash of o_custkey; per CDC
    epoch only the dirty buckets' (dim ⋈ fact) partials are recomputed —
    clean fact buckets are never opened. After load/update/delete the
    folded view must equal recomputing the join aggregate over the final
    customer state from scratch (the oracle): updates shift the summed
    balances, deletes retract every joined contribution of their keys."""
    from split_kinesis_streams_with_glue_spark.streaming.join_view import (
        bucket_copy,
        make_cdc_join_view_merger,
        read_join_view,
    )

    base = workspace("join_view")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bucket_copy(orders, "o_custkey", f"{base}/facts", num_buckets=16)
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    merge = make_cdc_join_view_merger(
        f"{base}/tbl",
        f"{base}/agg",
        f"{base}/facts",
        "customer",
        ["c_custkey"],
        dim_key="c_custkey",
        fact_key="o_custkey",
        group_cols=["c_mktsegment"],
        value_expr=(
            F.col("o_totalprice").cast("decimal(18,2)")
            + F.col("c_acctbal").cast("decimal(18,2)")
        ),
        num_buckets=16,
    )
    for epoch, phase in enumerate(["load", "update", "delete"]):
        merge(env.filter(op == phase), epoch)
    # surface cast per round-5 verdict #1: the exact DECIMAL(18,2) fold is
    # integer-cents < 2^53, so the double is bit-exact on both engines
    return read_join_view(spark, f"{base}/agg", ["c_mktsegment"]).withColumn(
        "total", F.col("total").cast("double")
    )


@query(
    "cdc_join_view_symmetric",
    since=4,
    oracle="""
    WITH cf AS (
      SELECT c_custkey, c_mktsegment,
             c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0
                              WHEN c_custkey % 5 = 0 THEN 100.0
                              ELSE 0.0 END AS bal
      FROM customer WHERE c_custkey % 7 <> 0
    ),
    ofin AS (
      SELECT o_custkey,
             o_totalprice + CASE WHEN o_orderkey % 10 = 0 THEN 200.0
                                 WHEN o_orderkey % 5 = 0 THEN 100.0
                                 ELSE 0.0 END AS price
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2)) + CAST(bal AS DECIMAL(18,2)))
                AS DOUBLE) AS total
    FROM cf JOIN ofin ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def cdc_join_view_symmetric(spark, sf_dir):
    """BOTH-sides-streaming join view (streaming/join_view.py
    make_symmetric_join_view_mergers): customer AND orders each arrive as
    their own CDC stream (load/update/delete), interleaved; the shared
    view recomputes only the buckets each epoch dirties, joining both
    materialized tables' dirty-bucket rows. The folded view must equal
    the join of the two FINAL states — deletes on either side retract,
    updates on either side re-price."""
    from split_kinesis_streams_with_glue_spark.streaming.join_view import (
        make_symmetric_join_view_mergers,
        read_join_view,
    )

    base = workspace("join_sym")
    cenv = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    oenv = generate_cdc_envelopes(spark, sf_dir, "orders", "o_orderkey", "o_totalprice")
    op = F.col("metadata.operation")
    lm, rm = make_symmetric_join_view_mergers(
        f"{base}/cust",
        f"{base}/ord",
        f"{base}/agg",
        "customer",
        "orders",
        ["c_custkey"],
        ["o_orderkey"],
        left_key="c_custkey",
        right_key="o_custkey",
        group_cols=["c_mktsegment"],
        value_expr=(
            F.col("o_totalprice").cast("decimal(18,2)")
            + F.col("c_acctbal").cast("decimal(18,2)")
        ),
        num_buckets=16,
    )
    # interleaved delivery: each side's epochs advance independently
    lm(cenv.filter(op == "load"), 0)
    rm(oenv.filter(op == "load"), 0)
    lm(cenv.filter(op == "update"), 1)
    rm(oenv.filter(op == "update"), 1)
    lm(cenv.filter(op == "delete"), 2)
    rm(oenv.filter(op == "delete"), 2)
    # surface cast per round-5 verdict #1 (same class as cdc_join_view_apply:
    # this one happened to hash green in r5, but the driver's decimal
    # canonicalization is value-dependent — don't rely on it)
    return read_join_view(spark, f"{base}/agg", ["c_mktsegment"]).withColumn(
        "total", F.col("total").cast("double")
    )


@query(
    "quality_psi_drift",
    since=4,
    oracle="""
    WITH ref AS (SELECT c_acctbal AS v FROM customer WHERE c_acctbal IS NOT NULL),
    cur AS (
      SELECT c_acctbal + CASE WHEN c_custkey % 2 = 0 THEN 1500.0 ELSE 0.0 END AS v
      FROM customer WHERE c_acctbal IS NOT NULL
    ),
    rb AS (
      SELECT CASE WHEN v < -1000.0 THEN 0 WHEN v >= 10000.0 THEN 11
                  ELSE CAST(floor((v - (-1000.0)) / 1100.0) AS INT) + 1 END AS bin,
             count(*) AS n_ref
      FROM ref GROUP BY 1
    ),
    cb AS (
      SELECT CASE WHEN v < -1000.0 THEN 0 WHEN v >= 10000.0 THEN 11
                  ELSE CAST(floor((v - (-1000.0)) / 1100.0) AS INT) + 1 END AS bin,
             count(*) AS n_cur
      FROM cur GROUP BY 1
    ),
    j AS (
      SELECT coalesce(rb.bin, cb.bin) AS bin,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM rb FULL OUTER JOIN cb ON rb.bin = cb.bin
    ),
    t AS (
      SELECT greatest(n_ref * 1.0 / SUM(n_ref) OVER (), 1e-6) AS p,
             greatest(n_cur * 1.0 / SUM(n_cur) OVER (), 1e-6) AS q
      FROM j
    )
    SELECT 'c_acctbal' AS feature,
           ROUND(SUM((p - q) * ln(p / q)), 6) AS psi,
           SUM((p - q) * ln(p / q)) > 0.2 AS drifted
    FROM t
    """,
)
def quality_psi_drift(spark, sf_dir):
    """Population-stability drift monitor (operators/quality_checks.py
    psi_drift): half the customers' balances shift +1500 between the
    reference and current snapshots; the fixed-bin PSI must flag the
    drift, and the value itself is reproduced in SQL bin for bin (fixed
    equi-width bins keep the whole computation a pure function of the
    values — deterministic cross-engine)."""
    from split_kinesis_streams_with_glue_spark.operators.quality_checks import (
        psi_drift,
    )

    ref = load(spark, sf_dir, "customer")
    cur = ref.withColumn(
        "c_acctbal",
        F.col("c_acctbal")
        + F.when(F.col("c_custkey") % 2 == 0, 1500.0).otherwise(0.0),
    )
    return psi_drift(ref, cur, "c_acctbal", -1000.0, 10000.0, n_bins=10)


@query(
    "quality_psi_categorical",
    since=4,
    oracle="""
    WITH ref AS (SELECT coalesce(c_mktsegment, chr(0) || 'null') AS cat FROM customer),
    cur AS (
      SELECT coalesce(CASE WHEN c_custkey % 3 = 0 THEN 'MACHINERY'
                           ELSE c_mktsegment END, chr(0) || 'null') AS cat
      FROM customer
    ),
    rb AS (SELECT cat, count(*) AS n_ref FROM ref GROUP BY 1),
    cb AS (SELECT cat, count(*) AS n_cur FROM cur GROUP BY 1),
    j AS (
      SELECT coalesce(rb.cat, cb.cat) AS cat,
             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
      FROM rb FULL OUTER JOIN cb ON rb.cat = cb.cat
    ),
    t AS (
      SELECT greatest(n_ref * 1.0 / SUM(n_ref) OVER (), 1e-6) AS p,
             greatest(n_cur * 1.0 / SUM(n_cur) OVER (), 1e-6) AS q
      FROM j
    )
    SELECT 'c_mktsegment' AS feature,
           ROUND(SUM((p - q) * ln(p / q)), 6) AS psi,
           SUM((p - q) * ln(p / q)) > 0.2 AS drifted
    FROM t
    """,
)
def quality_psi_categorical(spark, sf_dir):
    """Categorical-drift twin of quality_psi_drift: a third of the
    customers flip to MACHINERY between snapshots; the per-category PSI
    must flag the segment-mix shift, reproduced category for category in
    SQL."""
    from split_kinesis_streams_with_glue_spark.operators.quality_checks import (
        psi_drift_categorical,
    )

    ref = load(spark, sf_dir, "customer")
    cur = ref.withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 3 == 0, "MACHINERY").otherwise(
            F.col("c_mktsegment")
        ),
    )
    return psi_drift_categorical(ref, cur, "c_mktsegment")


@query(
    "cdc_scd2_incremental",
    since=4,
    oracle="""
    WITH v AS (
      SELECT c_custkey, c_acctbal AS bal, 0 AS seq, FALSE AS is_del FROM customer
      UNION ALL
      SELECT c_custkey, c_acctbal + 100, 1, FALSE FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey, c_acctbal + 200, 2, FALSE FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, NULL, 3, TRUE FROM customer WHERE c_custkey % 7 = 0
    ), h AS (
      SELECT *, LEAD(seq) OVER (PARTITION BY c_custkey ORDER BY seq) AS next_seq
      FROM v
    )
    SELECT c_custkey, ROUND(bal, 2) AS c_acctbal,
           seq AS valid_from_seq, next_seq AS valid_to_seq,
           next_seq IS NULL AS is_current
    FROM h WHERE NOT is_del
    """,
)
def cdc_scd2_incremental(spark, sf_dir):
    """Incrementally maintained SCD2 (streaming/cdc_merge.py
    make_scd2_merger): the change phases arrive as three epochs and the
    validity table is recomputed per epoch for DIRTY BUCKETS ONLY (a
    key's validity chain lives in one bucket) — never re-windowing the
    full log. Must equal the one-shot scd2_history over the whole stream
    (cdc_scd2_customer's oracle)."""
    from split_kinesis_streams_with_glue_spark.envelope import BASE_TS
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_scd2_merger,
        read_scd2,
    )

    base = workspace("scd2_inc")
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    merge = make_scd2_merger(
        f"{base}/log", f"{base}/scd2", "customer", ["c_custkey"], num_buckets=16
    )
    for epoch, phase in enumerate(["load", "update", "delete"]):
        merge(env.filter(op == phase), epoch)
    hist = read_scd2(spark, f"{base}/scd2")
    epoch0 = F.unix_timestamp(F.to_timestamp(F.lit(BASE_TS)))
    return hist.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        (F.unix_timestamp("valid_from") - epoch0).alias("valid_from_seq"),
        (F.unix_timestamp("valid_to") - epoch0).alias("valid_to_seq"),
        "is_current",
    )


@query(
    "pipeline_cdc_optimize",
    since=4,
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0
                            WHEN c_custkey % 5 = 0 THEN 100.0
                            ELSE 0.0 END AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 7 <> 0
    """,
)
def pipeline_cdc_optimize(spark, sf_dir):
    """Live-table maintenance composition: CDC merge (three epochs, each
    fragmenting the bucket partitions with small files) followed by
    OPTIMIZE-style small-file compaction over the merged table. The
    compaction must rewrite at least one partition's layout (asserted)
    while leaving the readable rows EXACTLY the final CDC state — the
    same oracle as cdc_merge_apply, now read through the compacted
    files."""
    from split_kinesis_streams_with_glue_spark.operators.maintenance import (
        compact_small_files,
    )
    from split_kinesis_streams_with_glue_spark.streaming.cdc_merge import (
        make_cdc_merger,
        read_table,
    )

    base = workspace("cdc_opt")
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    merge = make_cdc_merger(f"{base}/tbl", "customer", ["c_custkey"], num_buckets=4)
    for epoch, phase in enumerate(["load", "update", "delete"]):
        merge(env.filter(op == phase), epoch)
    # fragment each bucket into many small files — the state a streaming
    # merger reaches after enough triggers (AQE keeps the 3-epoch fixture
    # run too tidy to show it naturally)
    frag = spark.read.parquet(f"{base}/tbl").repartition(16).localCheckpoint()
    writer = frag.write.option("partitionOverwriteMode", "dynamic")
    writer.mode("overwrite").partitionBy("__bucket").parquet(f"{base}/tbl")
    report = compact_small_files(spark, f"{base}/tbl", min_files=4)
    assert report, "compaction rewrote nothing — fixture didn't fragment"
    return read_table(spark, f"{base}/tbl")


def _psi_epoch_sql(epoch: int, cur_from: str) -> str:
    """One epoch's PSI row vs the customer c_acctbal reference, bins
    [-1000, 10000) x 10 (+under/overflow), mirroring streaming/monitor.py."""
    bin_case = (
        "CASE WHEN v < -1000.0 THEN 0 WHEN v >= 10000.0 THEN 11 "
        "ELSE CAST(floor((v - (-1000.0)) / 1100.0) AS INT) + 1 END"
    )
    return f"""
    SELECT {epoch} AS epoch,
           ROUND(SUM((p - q) * ln(p / q)), 6) AS psi,
           SUM((p - q) * ln(p / q)) > 0.2 AS drifted,
           CAST(MAX(nc) AS BIGINT) AS n_rows
    FROM (
      SELECT greatest(coalesce(n_ref, 0) * 1.0 / SUM(coalesce(n_ref, 0)) OVER (), 1e-6) AS p,
             greatest(coalesce(n_cur, 0) * 1.0 / SUM(coalesce(n_cur, 0)) OVER (), 1e-6) AS q,
             SUM(coalesce(n_cur, 0)) OVER () AS nc
      FROM (
        SELECT {bin_case} AS bin, count(*) AS n_ref
        FROM (SELECT c_acctbal AS v FROM customer WHERE c_acctbal IS NOT NULL)
        GROUP BY 1
      ) r
      FULL OUTER JOIN (
        SELECT {bin_case} AS bin, count(*) AS n_cur
        FROM ({cur_from}) c
        GROUP BY 1
      ) cu USING (bin)
    )
    """


_PSI_MONITOR_ORACLE = " UNION ALL ".join(
    [
        _psi_epoch_sql(0, "SELECT c_acctbal AS v FROM customer WHERE c_acctbal IS NOT NULL"),
        _psi_epoch_sql(
            1,
            "SELECT c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 200.0 ELSE 100.0 END AS v "
            "FROM customer WHERE c_custkey % 5 = 0 AND c_acctbal IS NOT NULL",
        ),
        _psi_epoch_sql(
            2,
            "SELECT c_acctbal AS v FROM customer WHERE c_custkey % 7 = 0 AND c_acctbal IS NOT NULL",
        ),
    ]
)


@query("stream_psi_monitor", since=4, oracle=_PSI_MONITOR_ORACLE)
def stream_psi_monitor(spark, sf_dir):
    """Drift monitoring at ingest (streaming/monitor.py): every
    micro-batch is PSI-scored against the frozen reference as it
    arrives — the load batch scores ~0, the shifted update batch spikes,
    the delete-phase subset stays near-reference. One metrics row per
    epoch with the replay guard; the oracle recomputes each batch's PSI
    bin for bin."""
    from split_kinesis_streams_with_glue_spark.streaming.monitor import (
        make_psi_monitor,
        read_psi_metrics,
    )

    base = workspace("psi_mon")
    cust = load(spark, sf_dir, "customer")
    monitor = make_psi_monitor(
        cust, "c_acctbal", -1000.0, 10000.0, f"{base}/metrics"
    )
    batches = [
        cust,
        cust.filter(F.col("c_custkey") % 5 == 0).withColumn(
            "c_acctbal",
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 10 == 0, 200.0).otherwise(100.0),
        ),
        cust.filter(F.col("c_custkey") % 7 == 0),
    ]
    for epoch, b in enumerate(batches):
        monitor(b, epoch)
        monitor(b, epoch)  # replayed trigger must be a no-op
    return read_psi_metrics(spark, f"{base}/metrics")


@query(
    "stream_novelty_monitor",
    since=4,
    oracle="""
    SELECT 0 AS epoch, CAST(count(*) AS BIGINT) AS n_new,
           CAST(count(*) AS BIGINT) AS n_batch_keys
    FROM customer WHERE c_custkey < 800
    UNION ALL
    SELECT 1,
           (SELECT count(*) FROM customer
             WHERE c_custkey >= 800 AND c_custkey < 1200),
           count(*)
    FROM customer WHERE c_custkey >= 400 AND c_custkey < 1200
    UNION ALL
    SELECT 2,
           (SELECT count(*) FROM customer WHERE c_custkey >= 1200),
           count(*)
    FROM customer
    """,
)
def stream_novelty_monitor(spark, sf_dir):
    """Identity-drift monitoring at ingest (streaming/monitor.py
    make_novelty_monitor): three overlapping key-range batches arrive;
    the persisted Bloom of seen keys must credit each epoch exactly its
    genuinely-new keys (no false negatives; the 32 KB filter's fp rate is
    < 1e-9 per key at fixture cardinality, so the counts are exact).
    Replayed triggers are no-ops (exercised in-query)."""
    from split_kinesis_streams_with_glue_spark.streaming.monitor import (
        make_novelty_monitor,
        read_psi_metrics,
    )

    base = workspace("novelty")
    cust = load(spark, sf_dir, "customer")
    monitor = make_novelty_monitor(
        "c_custkey", f"{base}/metrics", f"{base}/state"
    )
    k = F.col("c_custkey")
    batches = [
        cust.filter(k < 800),
        cust.filter((k >= 400) & (k < 1200)),
        cust,
    ]
    for epoch, b in enumerate(batches):
        monitor(b, epoch)
        monitor(b, epoch)  # replayed trigger must be a no-op
    return read_psi_metrics(spark, f"{base}/metrics")


@query(
    "stream_ewma_monitor",
    since=5,
    oracle="""
    WITH b0 AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(c_acctbal) AS m, COUNT(c_acctbal) AS n
      FROM customer WHERE c_custkey % 3 = 0
    ),
    b1 AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(c_acctbal) AS m, COUNT(c_acctbal) AS n
      FROM customer WHERE c_custkey % 3 = 1
    ),
    b2 AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(c_acctbal) AS m, COUNT(c_acctbal) AS n
      FROM customer
    )
    SELECT 0 AS epoch, ROUND(b0.m, 6) AS batch_mean, ROUND(b0.m, 6) AS ewma,
           CAST(NULL AS DOUBLE) AS deviation, FALSE AS alarm,
           CAST(b0.n AS BIGINT) AS n_rows
    FROM b0
    UNION ALL
    SELECT 1, ROUND(b1.m, 6), ROUND(0.5 * b1.m + 0.5 * b0.m, 6),
           ROUND(ABS(b1.m - b0.m), 6), ABS(b1.m - b0.m) > 50.0,
           CAST(b1.n AS BIGINT)
    FROM b0, b1
    UNION ALL
    SELECT 2, ROUND(b2.m, 6),
           ROUND(0.5 * b2.m + 0.5 * (0.5 * b1.m + 0.5 * b0.m), 6),
           ROUND(ABS(b2.m - (0.5 * b1.m + 0.5 * b0.m)), 6),
           ABS(b2.m - (0.5 * b1.m + 0.5 * b0.m)) > 50.0,
           CAST(b2.n AS BIGINT)
    FROM b0, b1, b2
    """,
)
def stream_ewma_monitor(spark, sf_dir):
    """Level-shift monitoring at ingest (streaming/monitor.py
    make_ewma_monitor): per micro-batch, the exact-DECIMAL batch mean of
    c_acctbal scored against the EWMA of all previous batch means —
    completing the ingest-monitor family (PSI = distribution, novelty =
    identity, EWMA = level). alpha = 0.5 so every fold is an exact binary
    operation on both engines; the oracle recomputes the three-epoch
    recursion in closed form. Replayed triggers are no-ops (exercised
    in-query); state commits versioned-slot / marker-last."""
    from split_kinesis_streams_with_glue_spark.streaming.monitor import (
        make_ewma_monitor,
        read_psi_metrics,
    )

    base = workspace("ewma")
    cust = load(spark, sf_dir, "customer")
    monitor = make_ewma_monitor(
        "c_acctbal", f"{base}/metrics", f"{base}/state",
        alpha=0.5, threshold=50.0,
    )
    k = F.col("c_custkey")
    # modulo batches: non-empty at EVERY scale factor (range-based splits
    # empty out at sf0.001, where c_custkey only reaches 150)
    batches = [
        cust.filter(k % 3 == 0),
        cust.filter(k % 3 == 1),
        cust,
    ]
    for epoch, b in enumerate(batches):
        monitor(b, epoch)
        monitor(b, epoch)  # replayed trigger must be a no-op
    return read_psi_metrics(spark, f"{base}/metrics").select(
        "epoch",
        F.round("batch_mean", 6).alias("batch_mean"),
        F.round("ewma", 6).alias("ewma"),
        F.round("deviation", 6).alias("deviation"),
        "alarm",
        "n_rows",
    )


@query(
    "stream_quality_monitor",
    since=5,
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\s+'),
                             w -> w <> '')) AS nw
      FROM documents
    )
    SELECT 0 AS epoch,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN nw >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           ROUND(SUM(CASE WHEN nw >= 30 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS keep_rate
    FROM t WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nw >= 30 THEN 1 ELSE 0 END) AS BIGINT),
           ROUND(SUM(CASE WHEN nw >= 30 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
    FROM t WHERE doc_id % 3 = 1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN nw >= 30 THEN 1 ELSE 0 END) AS BIGINT),
           ROUND(SUM(CASE WHEN nw >= 30 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
    FROM t WHERE doc_id % 3 = 2
    """,
)
def stream_quality_monitor(spark, sf_dir):
    """Quality-gate monitoring at ingest (streaming/monitor.py
    make_quality_monitor): per micro-batch pass rate of a keep rule (here
    a word-count gate) appended as one idempotent metrics row — a
    collapsing keep-rate is the earliest symptom of an upstream format
    change. Completes the ingest-monitor family: PSI = values, novelty =
    identities, EWMA = level, this = fitness-for-purpose. Replayed
    triggers are no-ops (exercised in-query)."""
    from split_kinesis_streams_with_glue_spark.functions.textfns import (
        whitespace_tokens,
    )
    from split_kinesis_streams_with_glue_spark.streaming.monitor import (
        make_quality_monitor,
        read_psi_metrics,
    )

    base = workspace("qmon")
    docs = load(spark, sf_dir, "documents")
    keep = F.size(whitespace_tokens(F.lower(F.col("text")))) >= 30
    monitor = make_quality_monitor(keep, f"{base}/metrics")
    for epoch in range(3):
        b = docs.filter(F.col("doc_id") % 3 == epoch)
        monitor(b, epoch)
        monitor(b, epoch)  # replayed trigger must be a no-op
    return read_psi_metrics(spark, f"{base}/metrics").select(
        "epoch", "n_rows", "n_keep", "keep_rate"
    )


@query(
    "stream_opsmix_monitor",
    since=6,
    oracle="""
    SELECT 0 AS epoch, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_load,
           CAST(0 AS BIGINT) AS n_insert, CAST(0 AS BIGINT) AS n_update,
           CAST(0 AS BIGINT) AS n_delete,
           CAST(0.0 AS DOUBLE) AS delete_frac, FALSE AS alarm
    FROM customer
    UNION ALL
    -- the generator emits TWO update sub-phases in one epoch:
    -- %5 (+100, seq 1) and %10 (+200, seq 2) envelope rows
    SELECT 1,
           CAST(SUM(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END)
                + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(SUM(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END)
                + SUM(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), FALSE
    FROM customer
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(COUNT(*) AS BIGINT),
           CAST(1.0 AS DOUBLE), TRUE
    FROM customer WHERE c_custkey % 7 = 0
    """,
)
def stream_opsmix_monitor(spark, sf_dir):
    """Operation-mix monitoring at ingest (streaming/monitor.py
    make_opsmix_monitor): per micro-batch CDC operation counts and the
    delete fraction, alarming when deletes dominate — the delete-storm
    tripwire (retention-job fat-finger, source truncation, replayed
    tombstones) firing on the trigger that carried it. The CDC fixture's
    load/update/delete phases drive three epochs: the pure-delete epoch
    must alarm, the others must not; replayed triggers are no-ops
    (exercised in-query). Fifth member of the ingest-monitor family."""
    from split_kinesis_streams_with_glue_spark.streaming.monitor import (
        make_opsmix_monitor,
        read_psi_metrics,
    )

    base = workspace("opsmix")
    env = generate_cdc_envelopes(spark, sf_dir, "customer", "c_custkey", "c_acctbal")
    op = F.col("metadata.operation")
    monitor = make_opsmix_monitor(op, f"{base}/metrics", delete_alarm_frac=0.5)
    for epoch, phase in enumerate(["load", "update", "delete"]):
        b = env.filter(op == phase)
        monitor(b, epoch)
        monitor(b, epoch)  # replayed trigger must be a no-op
    return read_psi_metrics(spark, f"{base}/metrics").select(
        "epoch",
        "n_rows",
        "n_load",
        "n_insert",
        "n_update",
        "n_delete",
        "delete_frac",
        "alarm",
    )


@query(
    since=8,
    name="pipeline_token_budget_fill",
    oracle="""
    WITH per AS (
      SELECT source AS "group", SUM(n_chars) AS gt,
             ROUND(AVG(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END), 6)
               AS quality
      FROM documents GROUP BY 1
    ),
    c AS (
      SELECT "group", quality, gt,
             COALESCE(SUM(gt) OVER (ORDER BY quality DESC, "group" ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS cum_before
      FROM per
    )
    SELECT "group", quality,
           CAST(gt AS BIGINT) AS group_tokens,
           CAST(cum_before AS BIGINT) AS cum_before,
           CAST(LEAST(gt, GREATEST(60000 - cum_before, 0)) AS BIGINT)
             AS take_tokens,
           ROUND(CAST(LEAST(gt, GREATEST(60000 - cum_before, 0)) AS DOUBLE)
                 / CAST(gt AS DOUBLE), 6) AS take_fraction
    FROM c WHERE LEAST(gt, GREATEST(60000 - cum_before, 0)) > 0
    """,
)
def pipeline_token_budget_fill(spark, sf_dir):
    """NEW OPERATOR (round 8): quality-greedy token-budget allocation
    (operators/sampling.py token_budget_fill; the fractional-knapsack
    greedy, Dantzig 1957) — fill a 60k-token budget best-quality-first
    across sources (quality = English share), whole groups until the
    budget breaks, then one fractional take. The mixture-BUILDING step
    the pipeline family lacked: scorecards rank sources and samplers
    subset rows, but a training mix is an ALLOCATION (per-source take
    fractions against a token budget). One grouped pass to the bounded
    source frame; running-total window over that frame only; integer
    token arithmetic so every cumulative comparison is exact."""
    from split_kinesis_streams_with_glue_spark.operators.sampling import (
        token_budget_fill,
    )

    return token_budget_fill(
        load(spark, sf_dir, "documents").withColumn(
            "q", (F.col("lang") == "en").cast("double")
        ),
        "source",
        "n_chars",
        "q",
        budget=60000,
    )

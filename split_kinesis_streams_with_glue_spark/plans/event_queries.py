"""Event-time queries over the ``events`` stream table (SURVEY.md T6):
tumbling windows, sessionization — batch forms of the streaming operators,
oracle-checked; plus the native ``session_window`` operator (rows-only).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from split_kinesis_streams_with_glue_spark.plans.registry import (
    drain_parquet,
    load,
    query,
    stage_phases,
    workspace,
)
from split_kinesis_streams_with_glue_spark.streaming.split_stream import (
    hopping_event_counts,
    windowed_event_counts,
)


@query(
    "events_tumbling_counts",
    oracle="""
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS window_end,
           event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_tumbling_counts(spark, sf_dir):
    """Tumbling 1-hour event-time windows — identical code runs on the
    stream with a watermark (see streaming.split_stream tests)."""
    return windowed_event_counts(load(spark, sf_dir, "events"))


@query(
    "events_hopping_counts",
    oracle="""
    SELECT CAST(DATE_TRUNC('hour', ts) - (k * INTERVAL 30 MINUTE) AS TIMESTAMP)
             + CASE WHEN ts - DATE_TRUNC('hour', ts) >= INTERVAL 30 MINUTE
                    THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
             AS window_start,
           CAST(DATE_TRUNC('hour', ts) - (k * INTERVAL 30 MINUTE) AS TIMESTAMP)
             + CASE WHEN ts - DATE_TRUNC('hour', ts) >= INTERVAL 30 MINUTE
                    THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
             + INTERVAL 1 HOUR
             AS window_end,
           event_type, COUNT(*) AS n_events
    FROM events, UNNEST([0, 1]) AS t(k)
    GROUP BY 1, 2, 3
    """,
)
def events_hopping_counts(spark, sf_dir):
    """Sliding (hopping) windows: 1-hour width, 30-minute hop — every event
    counts in exactly two overlapping windows. The oracle reconstructs the
    window pair arithmetically: the newest containing window starts at the
    event's 30-minute bucket, the other one hop earlier."""
    return hopping_event_counts(load(spark, sf_dir, "events"))


#: gaps-and-islands sessionization — shared by the batch query AND the
#: stateful-streaming query, which must produce identical rows.
_SESSIONIZE_SQL = """
    WITH x AS (
      SELECT user_id, event_id, value,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es,
             LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_es
      FROM events
    ), y AS (
      SELECT *, CASE WHEN prev_es IS NULL OR es - prev_es > 900 THEN 1 ELSE 0 END AS new_s
      FROM x
    ), z AS (
      -- CAST: DuckDB SUM(int) yields HUGEINT, whose hash differs from
      -- Spark's bigint in the driver's type-sensitive compare
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY es, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM y
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(es) AS session_start_es,
           MAX(es) AS session_end_es,
           ROUND(SUM(value), 4) AS session_value
    FROM z GROUP BY user_id, session_id
    """


@query("events_sessionize", oracle=_SESSIONIZE_SQL)
def events_sessionize(spark, sf_dir):
    """Sessionization (15-min inactivity gap) as gaps-and-islands window
    SQL — the batch twin of stateful streaming sessions. One shuffle on
    user_id shared by both window functions and the final aggregation."""
    ev = load(spark, sf_dir, "events").withColumn(
        "es", F.unix_timestamp("ts")
    )
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = W.partitionBy("user_id").orderBy("es", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sess = (
        ev.withColumn("prev_es", F.lag("es").over(wo))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev_es").isNull() | (F.col("es") - F.col("prev_es") > 900), 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_s").over(wrun))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("es").alias("session_start_es"),
        F.max("es").alias("session_end_es"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


@query(
    "events_session_window",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), y AS (
      -- session_window's interval is [start, last+gap) EXCLUSIVE: an event
      -- at exactly last+gap opens a NEW session, hence >= not >
      SELECT *, CASE WHEN prev_ts IS NULL
                      OR EPOCH(ts) - EPOCH(prev_ts) >= 900 THEN 1 ELSE 0 END AS new_s
      FROM x
    ), z AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM y
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM z GROUP BY user_id, sid
    """,
)
def events_session_window(spark, sf_dir):
    """Native ``session_window`` operator, oracle-checked: the merge-on-gap
    semantics ARE expressible as gaps-and-islands once the boundary rule is
    stated precisely — a session's interval is [first, last+gap) exclusive,
    so an event landing exactly ``gap`` after its predecessor starts a new
    session (``>=`` in the oracle, vs ``>`` in the second-truncated
    events_sessionize formulation)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "15 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@query("events_sessionize_stateful", oracle=_SESSIONIZE_SQL)
def events_sessionize_stateful(spark, sf_dir):
    """The custom stateful streaming operator (applyInPandasWithState,
    event-time timeouts, bounded per-user state) run over the events table
    as a 3-micro-batch time-ordered stream with a final flush sentinel —
    and verified against the SAME SQL oracle as the batch sessionization:
    streaming and batch must agree row-for-row."""
    from split_kinesis_streams_with_glue_spark.streaming.stateful import (
        FLUSH_EVENT,
        sessionize_stream,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = workspace("sess")
    # three time-ordered chunks → three micro-batches with real state
    # carry-over (sessions spanning batch boundaries)
    # ts reads as TIMESTAMP_NTZ from parquet (no UTC adjustment), which has
    # no direct numeric cast — go through unix_timestamp like the filters do
    b1, b2 = ev.selectExpr(
        "percentile(unix_timestamp(ts), 0.33)", "percentile(unix_timestamp(ts), 0.66)"
    ).first()
    chunks = [
        ev.filter(F.unix_timestamp("ts").cast("double") <= b1),
        ev.filter(
            (F.unix_timestamp("ts").cast("double") > b1)
            & (F.unix_timestamp("ts").cast("double") <= b2)
        ),
        ev.filter(F.unix_timestamp("ts").cast("double") > b2),
    ]
    flush = ev.groupBy("user_id").agg(
        (F.max(F.unix_timestamp("ts")) + F.lit(90 * 24 * 3600)).alias("fes")
    ).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.to_timestamp(F.from_unixtime("fes")).alias("ts"),
        "user_id",
        F.lit(FLUSH_EVENT).alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    # one epoch per frame, in time order, the flush last
    stage_phases(f"{base}/src", [*chunks, flush])
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(f"{base}/src")
    )
    return drain_parquet(sessionize_stream(stream, gap_seconds=900), base)


@query(
    "events_stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 6) AS value
    FROM events
    """,
)
def events_stream_dedup(spark, sf_dir):
    """Streaming exact dedup with watermark-bounded state
    (dropDuplicatesWithinWatermark): the events table doubled, streamed,
    deduped back to exactly the original rows."""
    from split_kinesis_streams_with_glue_spark.streaming.stateful import (
        dedup_stream_within_watermark,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = workspace("sdedup")
    ev.unionAll(ev).coalesce(2).write.mode("overwrite").json(f"{base}/src")
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(f"{base}/src")
    deduped = dedup_stream_within_watermark(stream, ["event_id"]).select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    return drain_parquet(deduped, base)


@query(
    "join_asof_attribution",
    oracle="""
    SELECT p.event_id, p.user_id, ROUND(p.value, 4) AS purchase_value,
           v.event_id AS view_event_id, ROUND(v.value, 4) AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def join_asof_attribution(spark, sf_dir):
    """As-of join (attribution): each purchase event picks up the most
    recent prior view by the same user. Custom operator (Spark has no
    native ASOF) — union-tag + one keyed window pass, a single shuffle;
    DuckDB's native ASOF JOIN is the oracle."""
    from split_kinesis_streams_with_glue_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("v_event_id"), F.col("value").alias("v_value")
    )
    res = asof_join(purchases, views, on="user_id", left_ts="ts", right_ts="ts",
                    right_cols=["v_event_id", "v_value"], suffix="")
    return res.select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("purchase_value"),
        F.col("v_event_id").alias("view_event_id"),
        F.round("v_value", 4).alias("view_value"),
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS event_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(datediff('day', f.cohort_week, a.event_week) / 7 AS INT)
             AS week_offset,
           count(DISTINCT a.user_id) AS n_users
    FROM act a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-event week, counted
    in each later week they were active. Shape at scale: per-user min agg
    and per-(user, week) distinct both partial-aggregate map-side; the join
    re-uses the user_id hash distribution; final agg keys are tiny."""
    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("event_week")
    ).distinct()
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("event_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


@query(
    "events_stream_stream_join",
    oracle="""
    SELECT p.event_id, p.user_id, v.event_id AS view_event_id,
           CAST(datediff('second', v.ts, p.ts) AS BIGINT) AS lag_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    """,
)
def events_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream interval join (purchases x views within a
    2-hour lookback, per user). The interval predicate + watermarks bound
    the join state, so it runs on unbounded streams; replayed here through
    the file source with availableNow, checked against the batch range-join
    oracle."""
    from split_kinesis_streams_with_glue_spark.streaming.stateful import (
        stream_interval_join,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    base = workspace("ssj")
    ev.filter(F.col("event_type") == "purchase").coalesce(2).write.mode(
        "overwrite"
    ).json(f"{base}/purchases")
    ev.filter(F.col("event_type") == "view").coalesce(2).write.mode(
        "overwrite"
    ).json(f"{base}/views")
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    p = spark.readStream.schema(schema).json(f"{base}/purchases")
    v = (
        spark.readStream.schema(schema)
        .json(f"{base}/views")
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("r_ts"),
            F.col("user_id").alias("r_user_id"),
        )
    )
    joined = stream_interval_join(p, v, on="user_id", lookback="2 hours", watermark="2 hours").select(
        "event_id",
        "user_id",
        "view_event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("r_ts")).alias("lag_sec"),
    )
    return drain_parquet(joined, base)


@query(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
       AND e.ts <= s1.t + INTERVAL 1 DAY
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
       AND e.ts <= s2.t + INTERVAL 1 DAY
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT 1 AS step, 'view' AS event_type,
           (SELECT count(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered 3-step funnel (view -> click -> purchase, first-touch, 1-day
    conversion window per step): one filtered scan, then a co-partitioned
    min-agg/join chain on user_id."""
    from split_kinesis_streams_with_glue_spark.operators.funnel import funnel

    return funnel(load(spark, sf_dir, "events"), ["view", "click", "purchase"],
                  within="1 day")


@query(
    "events_continuous_rollup",
    oracle="""
    SELECT CAST(ts AS DATE) AS bucket, event_type,
           count(*) AS n, ROUND(sum(value), 4) AS total
    FROM events GROUP BY 1, 2
    """,
)
def events_continuous_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: the events stream is replayed
    in many small micro-batches (maxFilesPerTrigger=1 over 8 files), each
    merging into a date-partitioned rollup where only the touched date
    partitions are rewritten (dynamic partition overwrite). The end state
    must equal the one-shot batch GROUP BY."""
    from split_kinesis_streams_with_glue_spark.streaming.rollup import (
        continuous_rollup,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    base = workspace("rollup")
    ev.repartition(8).write.mode("overwrite").json(f"{base}/src")
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(f"{base}/src")
    )
    q = continuous_rollup(stream, f"{base}/out", f"{base}/ckpt")
    q.awaitTermination()
    return spark.read.parquet(f"{base}/out").select(
        "bucket", "event_type", "n", F.round("total", 4).alias("total")
    )


@query(
    "events_anomaly_zscore",
    oracle="""
    WITH h AS (
      SELECT event_type, CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS bucket,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT *, AVG(n_events) OVER (PARTITION BY event_type) AS mu,
             STDDEV_SAMP(n_events) OVER (PARTITION BY event_type) AS sd
      FROM h
    )
    SELECT event_type, bucket, CAST(n_events AS BIGINT) AS n_events,
           ROUND((n_events - mu) / sd, 6) AS zscore
    FROM s
    WHERE sd > 0 AND ABS((n_events - mu) / sd) >= 2
    """,
)
def events_anomaly_zscore(spark, sf_dir):
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against that type's own distribution, keeping |z| >= 2 — the monitoring
    query a streaming pipeline runs over its own throughput. Aggregate
    first (corpus → #types×#hours rows), THEN window over the small
    aggregate: the expensive shuffle is the groupBy; the stats window rides
    on rows already reduced by orders of magnitude."""
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    wt = W.partitionBy("event_type")
    scored = hourly.withColumns(
        {
            "mu": F.avg("n_events").over(wt),
            "sd": F.stddev_samp("n_events").over(wt),
        }
    )
    z = (F.col("n_events") - F.col("mu")) / F.col("sd")
    return (
        scored.filter((F.col("sd") > 0) & (F.abs(z) >= 2))
        .select("event_type", "bucket", "n_events", F.round(z, 6).alias("zscore"))
    )


@query(
    "events_stream_enrich",
    oracle="""
    SELECT event_id, user_id, c_mktsegment, ROUND(value, 6) AS value
    FROM events JOIN customer ON c_custkey = user_id
    WHERE event_type = 'purchase'
    """,
)
def events_stream_enrich(spark, sf_dir):
    """Stream-static enrichment join: a streaming fact (purchase events)
    picks up dimension attributes from a static broadcast table per
    micro-batch — the standard streaming star-join shape. No watermark or
    state needed (the static side is re-broadcast each batch, so it can
    even be swapped under the stream); the dimension filter and join stay
    fully inside codegen."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = workspace("enrich")
    ev.coalesce(2).write.mode("overwrite").json(f"{base}/src")
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double"
    ).json(f"{base}/src")
    enriched = (
        stream.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "user_id", "c_mktsegment", F.round("value", 6).alias("value"))
    )
    return drain_parquet(enriched, base)


@query(
    "events_hll_rollup_contract",
    oracle="""
    SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS error_ok
    FROM events
    """,
)
def events_hll_rollup_contract(spark, sf_dir):
    """Mergeable-sketch rollup contract (operators/sketches.py): per-day
    HLL sketches of user_id, merged to answer a 30-day-range distinct
    count WITHOUT rescanning events, must land within 5% of the exact
    COUNT(DISTINCT) over the same range (HLL++ lgConfigK=12 standard
    error is ~1.6%, so the floor tests the merge path, not luck). The
    sketch bytes are engine-specific, hence a contract query rather than
    a value oracle.

    Fused per round-2 verdict: ONE events scan builds the deduped
    (day, user) frame (localCheckpoint, ≤ days x users rows); bounds,
    the sketch rollup, the merged estimate, and the exact range count all
    derive from it, and the error check is a plan-side expression — the
    whole contract is a single returned plan instead of 4 driver jobs."""
    from split_kinesis_streams_with_glue_spark.operators.sketches import (
        bucket_sketches,
        range_distinct,
    )

    ev = load(spark, sf_dir, "events")
    # HLL of user_id per day is invariant under (day, user) dedup, so the
    # pairs frame serves sketch-build AND exact-count without rescanning
    # events
    pairs = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    bounds = pairs.agg(
        F.min("day").alias("lo"),
        F.count_distinct("day").alias("n_days"),
    )
    in_range = (F.col("day") >= F.col("lo")) & (
        F.col("day") <= F.date_add("lo", 29)
    )
    daily = bucket_sketches(pairs, F.col("day"), "user_id").crossJoin(
        F.broadcast(bounds)
    )
    approx = range_distinct(
        daily,
        (F.col("bucket") >= F.col("lo"))
        & (F.col("bucket") <= F.date_add("lo", 29)),
        group_cols=["n_days"],
    )
    exact = (
        pairs.crossJoin(F.broadcast(bounds))
        .filter(in_range)
        .agg(F.count_distinct("user_id").alias("exact"))
    )
    return approx.crossJoin(exact).select(
        F.col("n_days").cast("long").alias("n_days"),
        (
            F.abs(F.col("approx_distinct") - F.col("exact"))
            <= 0.05 * F.greatest(F.col("exact"), F.lit(1))
        ).alias("error_ok"),
    )


@query(
    "events_wma_trend",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ),
    days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    actual AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    filled AS (
      SELECT d.day, COALESCE(a.n, 0) AS n
      FROM days d LEFT JOIN actual a USING (day)
    )
    SELECT day, CAST(n AS BIGINT) AS n_purchases,
           ROUND((7.0 * n
                  + 6.0 * LAG(n, 1) OVER w + 5.0 * LAG(n, 2) OVER w
                  + 4.0 * LAG(n, 3) OVER w + 3.0 * LAG(n, 4) OVER w
                  + 2.0 * LAG(n, 5) OVER w + 1.0 * LAG(n, 6) OVER w) / 28.0,
                 4) AS wma7
    FROM filled
    WINDOW w AS (ORDER BY day)
    """,
)
def events_wma_trend(spark, sf_dir):
    """Trailing 7-day linearly-weighted moving average over the DENSE daily
    purchase series (gap-fill spine first — a WMA over a sparse series
    silently skips calendar days). NULL until 7 days exist, identically in
    both engines. The global window is over the day-grain aggregate
    (|days| rows), not the events — bounded at any event volume."""
    ev = load(spark, sf_dir, "events")
    spine = ev.agg(
        F.to_date(F.min("ts")).alias("lo"), F.to_date(F.max("ts")).alias("hi")
    ).select(F.explode(F.sequence("lo", "hi")).alias("day"))
    actual = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    filled = spine.join(actual, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    from pyspark.sql import Window

    w = Window.orderBy("day")
    n = F.col("n")
    wma = (
        7.0 * n
        + 6.0 * F.lag("n", 1).over(w) + 5.0 * F.lag("n", 2).over(w)
        + 4.0 * F.lag("n", 3).over(w) + 3.0 * F.lag("n", 4).over(w)
        + 2.0 * F.lag("n", 5).over(w) + 1.0 * F.lag("n", 6).over(w)
    ) / 28.0
    return filled.select(
        "day",
        n.cast("bigint").alias("n_purchases"),
        F.round(wma, 4).alias("wma7"),
    )


@query(
    "events_stream_stream_left_join",
    oracle="""
    SELECT p.event_id, p.user_id, v.event_id AS view_event_id,
           CAST(datediff('second', v.ts, p.ts) AS BIGINT) AS lag_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    """,
)
def events_stream_stream_left_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER interval join: purchases with
    no view in the 2-hour lookback emit null-extended — which the engine
    may only declare once the watermark passes the purchase's match
    window. A far-future sentinel event pushed through BOTH streams in a
    final micro-batch advances the watermark so every pending outer row
    flushes before the drain ends (then the sentinel is filtered out);
    result must equal the batch LEFT JOIN exactly."""
    from split_kinesis_streams_with_glue_spark.streaming.stateful import (
        stream_interval_join,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    base = workspace("sslj")
    sentinel = ev.agg(
        F.max(F.unix_timestamp("ts")).alias("m")
    ).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.to_timestamp(F.from_unixtime(F.col("m") + 30 * 24 * 3600)).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
    )
    pdir, vdir = f"{base}/purchases", f"{base}/views"
    stage_phases(pdir, [ev.filter(F.col("event_type") == "purchase"), sentinel])
    stage_phases(vdir, [ev.filter(F.col("event_type") == "view"), sentinel])
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    p = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(pdir)
    )
    v = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(vdir)
        .select(
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("r_ts"),
            F.col("user_id").alias("r_user_id"),
        )
    )
    joined = stream_interval_join(
        p, v, on="user_id", lookback="2 hours", watermark="2 hours",
        how="left_outer",
    ).select(
        "event_id",
        "user_id",
        "view_event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("r_ts")).alias("lag_sec"),
    )
    # drop the sentinel purchase row (its null-extended self) and any
    # sentinel-vs-sentinel pairing
    return drain_parquet(joined, base).filter(F.col("event_id") != -1)


@query(
    "events_interpolate_gaps",
    since=4,
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) / COUNT(*) AS DOUBLE) AS v
      FROM events
      WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ),
    sparse AS (SELECT * FROM daily WHERE day(day) % 3 = 1),
    spine AS (
      SELECT event_type,
             CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT event_type, min(day) AS lo, max(day) AS hi
            FROM sparse GROUP BY 1)
    ),
    j AS (
      SELECT s.event_type, s.day, sp.v
      FROM spine s LEFT JOIN sparse sp USING (event_type, day)
    ),
    w AS (
      SELECT event_type, day, v,
        last_value(v IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
        first_value(v IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER (
          PARTITION BY event_type ORDER BY day
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT event_type, day,
           ROUND(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv) *
                           (date_diff('day', pd, day) * 1.0 /
                            date_diff('day', pd, nd)) END, 6) AS value,
           v IS NULL AS interpolated
    FROM w
    """,
)
def events_interpolate_gaps(spark, sf_dir):
    """Linear interpolation over a sparse daily gauge
    (operators/timeseries.py): daily decimal-exact mean of `value` per
    event type, thinned to every third day-of-month, then densified with
    missing days linearly interpolated between known neighbors (edges
    carry the nearest value). Window work runs over the day-grain
    aggregate only — bounded at any event volume."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        interpolate_gaps,
    )

    ev = load(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)")) / F.count(F.lit(1))
            )
            .cast("double")
            .alias("v")
        )
    )
    sparse = daily.filter(F.dayofmonth("day") % 3 == 1)
    out = interpolate_gaps(sparse, "event_type", day_col="day", value_col="v")
    return out.select(
        "event_type", "day", F.round("v", 6).alias("value"), "interpolated"
    )


@query(
    "events_regression_slope",
    since=4,
    oracle="""
    WITH p AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             CAST(value AS DECIMAL(18,6)) AS y
      FROM events
    ),
    a AS (
      SELECT event_type, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM p GROUP BY 1
    )
    SELECT event_type, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE) /
                 CAST(n * sxx - sx * sx AS DOUBLE), 9) AS slope
    FROM a
    """,
)
def events_regression_slope(spark, sf_dir):
    """Per-type OLS trend slope of `value` over epoch-day — the
    closed-form regression (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) computed from
    DECIMAL-EXACT sufficient statistics (one grouped aggregation,
    map-side combined; the only floating-point op is the final division,
    bit-identical cross-engine). The distributed-regression shape: at any
    scale the shuffle carries five numbers per group."""
    ev = load(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("long")
    y = F.col("value").cast("decimal(18,6)")
    a = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return a.select("event_type", "n", F.round(num / den, 9).alias("slope"))


@query(
    "events_hll_sliding_distinct",
    since=4,
    oracle="""
    WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM pairs)
    SELECT d.day,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS exact_distinct,
           TRUE AS error_ok
    FROM days d
    JOIN pairs p ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
    """,
)
def events_hll_sliding_distinct(spark, sf_dir):
    """Trailing-7-day distinct-user series from MERGED daily HLL sketches
    (operators/sketches.py): the mergeable-summary property turned into a
    time series — every day's window answer comes from unioning 7 daily
    sketches, never rescanning events. Contract: each day's estimate
    within 5% of the exact windowed COUNT(DISTINCT) (lgConfigK=12 std
    error ~1.6%). The events scan happens once (the deduped (day, user)
    frame feeds both the sketches and the exact side); the sliding merge
    runs over ≤ n_days x 7 sketch rows — bounded at any event volume."""
    from split_kinesis_streams_with_glue_spark.operators.sketches import (
        bucket_sketches,
    )

    ev = load(spark, sf_dir, "events")
    pairs = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    daily = bucket_sketches(pairs, F.col("day"), "user_id")
    spine = pairs.select("day").distinct().withColumnRenamed("day", "d")
    in_window = (F.col("bucket") >= F.date_sub(F.col("d"), 6)) & (
        F.col("bucket") <= F.col("d")
    )
    approx = (
        spine.join(daily, in_window)
        .groupBy("d")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx")
        )
    )
    exact = (
        spine.join(
            pairs,
            (F.col("day") >= F.date_sub(F.col("d"), 6))
            & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return (
        approx.join(exact, "d")
        .select(
            F.col("d").alias("day"),
            "exact_distinct",
            (
                F.abs(F.col("approx") / F.col("exact_distinct") - 1.0) <= 0.05
            ).alias("error_ok"),
        )
    )


@query(
    "events_cooccurrence_lift",
    since=4,
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
    per_type AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           ROUND((n_ab * 1.0 / n_users) /
                 ((ta.n_t * 1.0 / n_users) * (tb.n_t * 1.0 / n_users)), 6)
             AS lift
    FROM pairs
    JOIN per_type ta ON ta.event_type = type_a
    JOIN per_type tb ON tb.event_type = type_b
    CROSS JOIN n
    """,
)
def events_cooccurrence_lift(spark, sf_dir):
    """Market-basket first pass: per event-type pair, how many users did
    both, and the lift vs independence — the frequent-itemset support/
    lift statistics. The user×type frame is the deduped reduction (one
    shuffle); the pair self-join runs over it, bounded by |types| per
    user, never over raw events. The 1-row user-count aggregate
    broadcasts."""
    ev = load(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint(eager=True)
    n = ev.agg(F.count_distinct("user_id").alias("n_users"))
    per_type = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.withColumnRenamed("event_type", "type_a")
    b = ut.withColumnRenamed("event_type", "type_b")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ta = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("__na")
    )
    tb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("__nb")
    )
    return (
        pairs.join(ta, "type_a")
        .join(tb, "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                (F.col("n_ab") / F.col("n_users"))
                / (
                    (F.col("__na") / F.col("n_users"))
                    * (F.col("__nb") / F.col("n_users"))
                ),
                6,
            ).alias("lift"),
        )
    )


@query(
    "events_markov_transitions",
    since=4,
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS n_from FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type, CAST(n AS BIGINT) AS n,
           ROUND(n * 1.0 / n_from, 6) AS p
    FROM t JOIN tot USING (from_type)
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order behavioral transition matrix: per user, each event's
    successor (event-time order, event_id tiebreak) → (from, to) counts
    and transition probabilities. One user-keyed window pass over events;
    the matrix itself is |types|² rows — bounded at any volume."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = t.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return t.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("n_from"), 6).alias("p"),
    )


@query(
    "events_mutual_information",
    since=4,
    oracle="""
    WITH j AS (
      SELECT event_type AS a, dayofweek(CAST(ts AS DATE)) AS b, count(*) AS n_ab
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n_ab) AS n FROM j),
    ma AS (SELECT a, SUM(n_ab) AS n_a FROM j GROUP BY 1),
    mb AS (SELECT b, SUM(n_ab) AS n_b FROM j GROUP BY 1)
    SELECT ROUND(SUM((n_ab * 1.0 / n) *
                     ln((n_ab * 1.0 / n) /
                        ((n_a * 1.0 / n) * (n_b * 1.0 / n)))), 6) AS mi_nats
    FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
    """,
)
def events_mutual_information(spark, sf_dir):
    """Exact mutual information (nats) between event type and day-of-week
    — the dependence screen run during feature selection. One grouped
    count builds the joint table; marginals and the MI fold run over the
    bounded |A|x|B| frame (the 1-row total broadcasts). All fractions
    exact before the one ln per cell."""
    ev = load(spark, sf_dir, "events")
    j = (
        ev.groupBy(
            F.col("event_type").alias("a"),
            F.dayofweek(F.to_date("ts")).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .localCheckpoint(eager=True)
    )
    tot = j.agg(F.sum("n_ab").alias("n"))
    ma = j.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    mb = j.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    p_ab = F.col("n_ab") / F.col("n")
    p_a = F.col("n_a") / F.col("n")
    p_b = F.col("n_b") / F.col("n")
    return (
        j.join(ma, "a")
        .join(mb, "b")
        .crossJoin(F.broadcast(tot))
        .agg(F.round(F.sum(p_ab * F.log(p_ab / (p_a * p_b))), 6).alias("mi_nats"))
    )


@query(
    "events_cusum_changepoint",
    since=4,
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, SUM(n) / COUNT(*) AS mean FROM daily GROUP BY 1
    ),
    d AS (
      SELECT daily.event_type, n, mean * 1.1 AS thresh,
             row_number() OVER (PARTITION BY daily.event_type ORDER BY day) AS i
      FROM daily JOIN m USING (event_type)
    ),
    r AS (
      SELECT event_type, i, GREATEST(0.0, n - thresh) AS s, thresh FROM d WHERE i = 1
      UNION ALL
      SELECT d.event_type, d.i, GREATEST(0.0, r.s + d.n - d.thresh), d.thresh
      FROM r JOIN d ON d.event_type = r.event_type AND d.i = r.i + 1
    )
    SELECT r.event_type, ROUND(MAX(s), 6) AS cusum_max,
           MAX(s) > MAX(thresh) AS alarm
    FROM r GROUP BY r.event_type
    """,
)
def events_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point statistic per event type: the one-sided
    cumulative-sum recursion S_t = max(0, S_{t-1} + x_t − 1.1·mean) over
    the day-ordered volume series, reporting the peak statistic and an
    alarm when it exceeds the mean-level threshold — the sequential
    drift/level-shift detector EWMA smooths over. The recursion folds a
    STRUCT accumulator (running value + running max) over each type's
    bounded day-grain array; the oracle reproduces it with a recursive
    CTE — same arithmetic, different mechanism, equal values."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("day", "n"))), lambda x: x["n"]
    )
    per_type = daily.groupBy("event_type").agg(vals.alias("__vals"))
    mean = F.aggregate(
        F.col("__vals"), F.lit(0.0), lambda acc, x: acc + x
    ) / F.size("__vals")
    with_thresh = per_type.withColumn("__thresh", mean * 1.1)
    zero = F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("mx"))

    def step(acc, x):
        s = F.greatest(F.lit(0.0), acc["s"] + x - F.col("__thresh"))
        return F.struct(s.alias("s"), F.greatest(acc["mx"], s).alias("mx"))

    folded = F.aggregate(F.col("__vals"), zero, step)
    return with_thresh.select(
        "event_type",
        F.round(folded["mx"], 6).alias("cusum_max"),
        (folded["mx"] > F.col("__thresh")).alias("alarm"),
    )


@query(
    "events_holt_trend",
    since=4,
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      FROM daily
    ),
    r AS (
      SELECT event_type, i, n AS s, CAST(0.0 AS DOUBLE) AS b FROM d WHERE i = 1
      UNION ALL
      SELECT d.event_type, d.i,
             0.5 * d.n + 0.5 * (r.s + r.b),
             0.3 * ((0.5 * d.n + 0.5 * (r.s + r.b)) - r.s) + 0.7 * r.b
      FROM r JOIN d ON d.event_type = r.event_type AND d.i = r.i + 1
    ),
    last AS (
      SELECT event_type, s, b,
             row_number() OVER (PARTITION BY event_type ORDER BY i DESC) AS rn
      FROM r
    )
    SELECT event_type, ROUND(s, 6) AS level, ROUND(b, 6) AS trend,
           ROUND(s + b, 6) AS forecast_1
    FROM last WHERE rn = 1
    """,
)
def events_holt_trend(spark, sf_dir):
    """Holt's double exponential smoothing (level + trend) of daily event
    volume — the two-state recursion neither a fixed-window WMA nor
    single-EWMA expresses (init s_1 = x_1, b_1 = 0; alpha 0.5, beta 0.3).
    Folds a struct accumulator over each type's bounded day-grain array;
    recursive-CTE oracle, same arithmetic per step. Reports the final
    level, trend, and one-step forecast."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("day", "n"))), lambda x: x["n"]
    )
    per_type = daily.groupBy("event_type").agg(vals.alias("__vals"))
    zero = F.struct(
        F.element_at(F.col("__vals"), 1).alias("s"), F.lit(0.0).alias("b")
    )

    def step(acc, x):
        s = F.lit(0.5) * x + F.lit(0.5) * (acc["s"] + acc["b"])
        b = F.lit(0.3) * (s - acc["s"]) + F.lit(0.7) * acc["b"]
        return F.struct(s.alias("s"), b.alias("b"))

    folded = F.aggregate(
        F.slice(F.col("__vals"), 2, F.greatest(F.size("__vals") - 1, F.lit(0))),
        zero,
        step,
    )
    return per_type.select(
        "event_type",
        F.round(folded["s"], 6).alias("level"),
        F.round(folded["b"], 6).alias("trend"),
        F.round(folded["s"] + folded["b"], 6).alias("forecast_1"),
    )


@query(
    "events_hll_intersection",
    since=4,
    oracle="""
    WITH h AS (
      SELECT user_id, CAST(ts AS DATE) < DATE '2024-01-16' AS first_half
      FROM events
    )
    SELECT CAST(count(DISTINCT CASE WHEN first_half THEN user_id END) AS BIGINT)
             AS n_a,
           CAST(count(DISTINCT CASE WHEN NOT first_half THEN user_id END) AS BIGINT)
             AS n_b,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_union,
           TRUE AS error_ok
    FROM h
    """,
)
def events_hll_intersection(spark, sf_dir):
    """Approximate set INTERSECTION from mergeable sketches via
    inclusion-exclusion: |A∩B| ≈ |A| + |B| − |A∪B| with every term an
    HLL estimate (A = first-half actives, B = second-half; the union
    sketch is the two period sketches merged — no rescan). Contract: the
    estimated intersection within 15% of the exact retained-user count
    (inclusion-exclusion compounds three ~1.6% errors against a smaller
    target, hence the wider band). Exact per-term counts ride along as
    the value-checked columns."""
    from split_kinesis_streams_with_glue_spark.operators.sketches import (
        bucket_sketches,
    )

    ev = load(spark, sf_dir, "events")
    pairs = (
        ev.select(
            (F.to_date("ts") < F.lit("2024-01-16").cast("date")).alias("first_half"),
            "user_id",
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sk = bucket_sketches(pairs, F.col("first_half"), "user_id")
    est = sk.agg(
        F.hll_sketch_estimate(
            F.max(F.when(F.col("bucket"), F.col("sketch")))
        ).alias("ea"),
        F.hll_sketch_estimate(
            F.max(F.when(~F.col("bucket"), F.col("sketch")))
        ).alias("eb"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("eu"),
    )
    exact = pairs.agg(
        F.count_distinct(F.when(F.col("first_half"), F.col("user_id"))).alias("n_a"),
        F.count_distinct(F.when(~F.col("first_half"), F.col("user_id"))).alias("n_b"),
        F.count_distinct("user_id").alias("n_union"),
    )
    return (
        est.crossJoin(exact)
        .select(
            "n_a",
            "n_b",
            "n_union",
            (
                F.abs(
                    (F.col("ea") + F.col("eb") - F.col("eu"))
                    - (F.col("n_a") + F.col("n_b") - F.col("n_union"))
                )
                <= 0.15 * (F.col("n_a") + F.col("n_b") - F.col("n_union"))
            ).alias("error_ok"),
        )
    )


@query(
    "agg_distribution_stats",
    since=4,
    oracle="""
    WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
    t AS (SELECT SUM(n) AS tot FROM c)
    SELECT 'event_type' AS feature,
           ROUND(-SUM((n * 1.0 / tot) * ln(n * 1.0 / tot)), 6) AS entropy_nats,
           ROUND(1.0 - SUM((n * 1.0 / tot) * (n * 1.0 / tot)), 6) AS gini,
           ROUND(SUM((n * 1.0 / tot) * (n * 1.0 / tot)), 6) AS hhi,
           CAST(count(*) AS BIGINT) AS n_categories
    FROM c, t
    """,
)
def agg_distribution_stats(spark, sf_dir):
    """Categorical concentration profile in one aggregation pass: Shannon
    entropy (nats), Gini impurity, and the Herfindahl index of the
    event-type mix — the balance diagnostics run before stratifying or
    temperature-mixing a corpus. Exact fractions from the bounded
    category-count frame; the only floats are one ln/square per
    category."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    tot = F.sum("n").over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    p = F.col("n") / tot
    per = c.select(p.alias("p"))
    return per.agg(
        F.lit("event_type").alias("feature"),
        F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy_nats"),
        F.round(1.0 - F.sum(F.col("p") * F.col("p")), 6).alias("gini"),
        F.round(F.sum(F.col("p") * F.col("p")), 6).alias("hhi"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
    )


@query(
    "events_seasonal_indices",
    since=4,
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, dayofweek(CAST(ts AS DATE)) AS dow,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    per_dow AS (
      SELECT dow, SUM(n) AS tot, count(*) AS n_days FROM daily GROUP BY 1
    ),
    overall AS (SELECT SUM(tot) * 1.0 / SUM(n_days) AS mean_daily FROM per_dow)
    SELECT dow, CAST(n_days AS BIGINT) AS n_days,
           ROUND((tot * 1.0 / n_days) / mean_daily, 6) AS seasonal_index
    FROM per_dow, overall
    """,
)
def events_seasonal_indices(spark, sf_dir):
    """Day-of-week seasonal indices: each weekday's mean daily volume
    relative to the overall mean daily volume (index 1.0 = no weekly
    seasonality) — the classical decomposition first step. Two bounded
    aggregations over the day-grain reduction; exact integer sums, one
    float division per index. NOTE: the dow NUMBER is engine-local
    (Spark Sunday=1 vs DuckDB Sunday=0 conventions differ) so the Spark
    side emits DuckDB's numbering explicitly via date arithmetic."""
    ev = load(spark, sf_dir, "events")
    # DuckDB dayofweek: Sunday=0..Saturday=6. Reconstruct that exact
    # numbering from the epoch day (1970-01-01 was a Thursday=4).
    epoch_day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    dow = F.pmod(epoch_day + 4, F.lit(7))
    daily = ev.groupBy(F.to_date("ts").alias("day"), dow.alias("dow")).agg(
        F.count(F.lit(1)).alias("n")
    )
    per_dow = daily.groupBy("dow").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_days")
    )
    from pyspark.sql import Window as W

    whole = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    mean_daily = F.sum("tot").over(whole) / F.sum("n_days").over(whole)
    return per_dow.select(
        "dow",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round((F.col("tot") / F.col("n_days")) / mean_daily, 6).alias(
            "seasonal_index"
        ),
    )


@query(
    "events_burstiness",
    since=4,
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, count(*) AS d, SUM(n) AS sn, SUM(n * n) AS snn
      FROM daily GROUP BY 1
    )
    SELECT event_type, CAST(d AS BIGINT) AS n_days,
           ROUND(CAST(d * snn - sn * sn AS DOUBLE) /
                 CAST(d AS DOUBLE) / CAST(d AS DOUBLE) /
                 (CAST(sn AS DOUBLE) / CAST(d AS DOUBLE)), 6) AS fano
    FROM s
    """,
)
def events_burstiness(spark, sf_dir):
    """Burstiness per event type: the Fano factor (daily-count variance /
    mean; 1 = Poisson arrivals, >1 = bursty) from integer-exact
    sufficient statistics over the day-grain reduction — the float ops
    are three divisions in a fixed order, bit-identical cross-engine."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("d"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("snn"),
    )
    num = (F.col("d") * F.col("snn") - F.col("sn") * F.col("sn")).cast("double")
    d = F.col("d").cast("double")
    mean = F.col("sn").cast("double") / d
    return s.select(
        "event_type",
        F.col("d").cast("bigint").alias("n_days"),
        F.round(num / d / d / mean, 6).alias("fano"),
    )


@query(
    since=5,
    name="events_acf",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d, COUNT(*) AS x
      FROM events GROUP BY 1
    ),
    m AS (SELECT AVG(x) AS mu FROM s),
    c AS (SELECT d, x - mu AS cdev FROM s CROSS JOIN m),
    den AS (SELECT SUM(cdev * cdev) AS denom FROM c),
    l AS (SELECT CAST(UNNEST(range(1, 8)) AS INTEGER) AS lag),
    p AS (
      SELECT l.lag, a.cdev * b.cdev AS prod
      FROM c a CROSS JOIN l JOIN c b ON b.d = a.d + l.lag
    )
    SELECT lag, ROUND(SUM(prod) / (SELECT denom FROM den), 6) AS acf
    FROM p GROUP BY lag
    """,
)
def events_acf(spark, sf_dir):
    """Sample autocorrelation of the daily event-count series at lags 1-7
    (operators/timeseries.py autocorrelation): the weekly cycle planted in
    the fixture surfaces as the lag-7 spike — the one-query seasonality
    detector that tells a pipeline WHICH period its rollups should use.
    All heavy work is the day-grain reduction; the ACF itself runs on the
    calendar-bounded series via an equi-join on date_add (no global
    window), with the mean/denominator as 1-row broadcasts."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        autocorrelation,
    )

    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return autocorrelation(series, "day", "x", max_lag=7)


@query(
    since=5,
    name="events_theil_sen",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT CAST(d - (SELECT MIN(d) FROM s) AS DOUBLE) AS t, x FROM s
    ),
    p AS (
      SELECT (b.x - a.x) / (b.t - a.t) AS slope
      FROM t a JOIN t b ON b.t > a.t
    )
    SELECT ROUND(MEDIAN(slope), 6) AS slope,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p
    """,
)
def events_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend of the daily event-count series
    (operators/timeseries.py theil_sen_slope): the median of all pairwise
    slopes — the outlier-proof companion to events_regression_slope (OLS),
    unmoved by up to ~29% arbitrary spike days. The quadratic pair set is
    over the CALENDAR (d days -> d(d-1)/2 pairs), not the corpus, so the
    cross join is metadata-sized at any fact-table scale. Slopes are exact
    rationals of integer counts/day-offsets, so the median is
    engine-exact; both engines interpolate even-length medians the same
    way."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        theil_sen_slope,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    mind = s.agg(F.min("d").alias("__d0"))
    series = s.crossJoin(F.broadcast(mind)).select(
        F.datediff("d", "__d0").cast("double").alias("t"), "x"
    )
    return theil_sen_slope(series, "t", "x")


@query(
    since=5,
    name="events_stl_decompose",
    oracle="""
    WITH s AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT day, x,
             CASE WHEN COUNT(*) OVER w = 7 THEN AVG(x) OVER w END AS trend
      FROM s
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    d AS (SELECT *, x - trend AS det, dayofweek(day) AS dow FROM t),
    sr AS (SELECT *, AVG(det) OVER (PARTITION BY dow) AS sraw FROM d),
    c AS (SELECT *, sraw - AVG(sraw) OVER () AS seasonal FROM sr)
    SELECT day, x,
           ROUND(trend, 6) AS trend,
           ROUND(seasonal, 6) AS seasonal,
           ROUND(x - trend - seasonal, 6) AS residual
    FROM c
    """,
)
def events_stl_decompose(spark, sf_dir):
    """Classical seasonal decomposition of the daily event-count series
    (operators/timeseries.py stl_decompose): trend = centered 7-day
    moving average, seasonal = centered per-weekday mean of the detrended
    series, residual = the alerting signal (what's left after trend and
    weekly cycle are explained). Completes the seasonality family:
    events_seasonal_indices names the cycle, events_acf finds its period,
    this splits every observation into the three components. All windows
    run over the calendar-bounded day-grain aggregate (documented
    allowance, like events_wma_trend)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        stl_decompose,
    )

    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    return stl_decompose(series, "day", "x")


@query(
    since=5,
    name="join_asof_nearest",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    r AS (
      SELECT user_id, ts AS rts, value AS rvalue
      FROM events WHERE event_type = 'click'
    ),
    cand AS (
      SELECT l.event_id, r.rts, r.rvalue,
             ABS(date_diff('microsecond', l.ts, r.rts)) AS d,
             CASE WHEN r.rts <= l.ts THEN 0 ELSE 1 END AS dir
      FROM l JOIN r ON l.user_id = r.user_id
        AND r.rts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts + INTERVAL 1 HOUR
    ),
    best AS (
      SELECT event_id, rvalue, d,
             ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY d, dir) AS rk
      FROM cand
    )
    SELECT l.event_id, l.user_id,
           ROUND(b.rvalue, 6) AS click_value,
           CAST(b.d AS BIGINT) AS distance_us_near
    FROM l LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (event_id)
    """,
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-event as-of join with tolerance (operators/asof.py
    asof_nearest): each purchase picks up the same user's CLOSEST click
    within ±1 hour, either direction, ties backward — the
    sensor-alignment / attribution primitive backward-only asof can't
    express. One union + one window pass per key (both directions carried
    in the same sort) — one shuffle, no range-join fanout; distances
    compare in exact integer microseconds. The oracle is the quadratic
    tolerance join ranked by (distance, direction)."""
    from split_kinesis_streams_with_glue_spark.operators.asof import asof_nearest

    ev = load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_nearest(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        tolerance_seconds=3600, right_cols=["value"], suffix="_near",
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("value_near", 6).alias("click_value"),
        "distance_us_near",
    )


@query(
    since=5,
    name="events_entropy_rate",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    t AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS n_from FROM t GROUP BY 1),
    alln AS (SELECT SUM(n) AS n_all FROM t)
    SELECT t.from_type,
           CAST(tot.n_from AS BIGINT) AS n_from,
           ROUND(tot.n_from * 1.0 / (SELECT n_all FROM alln), 6) AS p_from,
           ROUND(-SUM((n * 1.0 / n_from) * ln(n * 1.0 / n_from)), 6)
             AS h_cond
    FROM t JOIN tot USING (from_type)
    GROUP BY t.from_type, tot.n_from
    """,
)
def events_entropy_rate(spark, sf_dir):
    """Per-state conditional entropy of the behavioral Markov chain
    (follows events_markov_transitions' verified transition counts): for
    each current event type, H(next | current) in nats plus the state's
    occupancy p_from — the sequence-predictability profile (the
    chain's entropy rate is Σ p_from·h_cond). A state whose h_cond
    collapses means behavior after it became deterministic — a bot or an
    instrumentation bug. One user-keyed window pass; everything after is
    folds over the |types|²-row matrix."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = t.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    alln = t.agg(F.sum("n").alias("__n_all"))
    p = F.col("n") / F.col("n_from")
    return (
        t.join(tot, "from_type")
        .groupBy("from_type", "n_from")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("h_cond"))
        .crossJoin(F.broadcast(alln))
        .select(
            "from_type",
            F.col("n_from").cast("bigint").alias("n_from"),
            F.round(F.col("n_from") / F.col("__n_all"), 6).alias("p_from"),
            "h_cond",
        )
    )


@query(
    since=5,
    name="events_peak_days",
    oracle="""
    WITH s AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1
    ),
    n AS (
      SELECT day, x,
             LAG(x) OVER (ORDER BY day) AS prev,
             LEAD(x) OVER (ORDER BY day) AS next
      FROM s
    )
    SELECT day, CAST(x AS BIGINT) AS n_events
    FROM n
    WHERE prev IS NOT NULL AND next IS NOT NULL AND x > prev AND x > next
    """,
)
def events_peak_days(spark, sf_dir):
    """Local-maximum days of the event-volume series (strictly above both
    calendar neighbors; series endpoints excluded — no one-sided
    'peaks') — the campaign/incident spotter that feeds the CUSUM/STL
    family. The window is over the calendar-bounded day aggregate
    (documented allowance class)."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = W.orderBy("day")
    n = s.withColumn("prev", F.lag("x").over(w)).withColumn(
        "next", F.lead("x").over(w)
    )
    return n.filter(
        F.col("prev").isNotNull()
        & F.col("next").isNotNull()
        & (F.col("x") > F.col("prev"))
        & (F.col("x") > F.col("next"))
    ).select("day", F.col("x").cast("bigint").alias("n_events"))


@query(
    since=6,
    name="events_mann_kendall",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    sp AS (
      SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS DOUBLE) AS s
      FROM s a JOIN s b ON b.d > a.d
    ),
    ties AS (
      SELECT SUM(t * (t - 1) * (2 * t + 5)) AS tie_term, SUM(t) AS n
      FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM s GROUP BY x) q
    ),
    j AS (SELECT * FROM sp CROSS JOIN ties)
    SELECT CAST(s AS BIGINT) AS s_statistic,
           CASE WHEN n > 1
                 AND (n * (n - 1) * (2 * n + 5) - tie_term) > 0
                THEN ROUND(
                  (CASE WHEN s > 0 THEN s - 1
                        WHEN s < 0 THEN s + 1 ELSE 0 END)
                  / sqrt((n * (n - 1) * (2 * n + 5) - tie_term) / 18), 6)
           END AS z_score,
           CAST(n AS BIGINT) AS n
    FROM j
    """,
)
def events_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test of the daily event-count series
    (operators/timeseries.py mann_kendall): the nonparametric 'is there
    ANY trend?' gate that pairs with events_theil_sen (which estimates
    the slope this test detects) — sign-based, so spike days can't swamp
    it the way they swamp the OLS slope's t-test. Pairwise work is
    quadratic in the CALENDAR (30 days -> 435 sign pairs), never the
    fact table; the tie correction folds from the value histogram. All
    terms are exact integer counts in double, z's float ops in one fixed
    order — engine-exact under ROUND 6."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        mann_kendall,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    return mann_kendall(s, "d", "x")


@query(
    since=6,
    name="events_spearman_daily",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x,
             CAST(SUM(CAST(value AS DECIMAL(27, 6))) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT RANK() OVER (ORDER BY x)
               + (COUNT(*) OVER (PARTITION BY x) - 1) / 2 AS rx,
             RANK() OVER (ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY y) - 1) / 2 AS ry
      FROM s
    ),
    a AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy, SUM(rx * ry) AS sxy,
             SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
      FROM r
    )
    SELECT CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN ROUND((n * sxy - sx * sy)
                           / sqrt((n * sxx - sx * sx)
                                  * (n * syy - sy * sy)), 6)
           END AS spearman_rho,
           CAST(n AS BIGINT) AS n
    FROM a
    """,
)
def events_spearman_daily(spark, sf_dir):
    """Spearman rank correlation between daily event VOLUME and daily
    summed VALUE (operators/timeseries.py spearman_corr): does money move
    with traffic monotonically at all — robust to outlier days and to any
    monotone rescaling, the screen to run before trusting the Pearson
    correlation matrix. Daily value totals are DECIMAL-exact before the
    double cast, so both engines rank identical numbers; midranks use
    the exact tie identity rank + (ties-1)/2. The two rank windows run
    over the calendar-bounded day frame (documented allowance class)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        spearman_corr,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("y"),
    )
    return spearman_corr(s, "x", "y")


@query(
    since=6,
    name="events_gini_daily",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(27, 6))) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS i FROM s)
    SELECT CASE WHEN SUM(x) > 0 THEN
             ROUND(2 * SUM(i * x) / (COUNT(*) * SUM(x))
                   - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*), 6)
           END AS gini,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r
    """,
)
def events_gini_daily(spark, sf_dir):
    """Gini concentration coefficient of daily summed value
    (operators/timeseries.py gini_lorenz): how unevenly is volume spread
    across the month — the Lorenz-curve statistic (0 = uniform, ->1 = one
    day carries everything) that complements events_type_gini's gini
    IMPURITY (a diversity index over categories, different statistic).
    Daily totals are DECIMAL-exact before the double cast so both
    engines order identical numbers; the single ordering window runs
    over the calendar-bounded day frame (documented allowance class)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        gini_lorenz,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("x")
    )
    return gini_lorenz(s, "x")


@query(
    since=6,
    name="events_kendall_tau",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x,
             CAST(SUM(CAST(value AS DECIMAL(27, 6))) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    cd AS (
      SELECT SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END)
               AS c,
             SUM(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END)
               AS dd
      FROM s a JOIN s b ON b.d > a.d
    ),
    tx AS (
      SELECT SUM(t * (t - 1) / 2) AS tx, SUM(t) AS n
      FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM s GROUP BY x) q
    ),
    ty AS (
      SELECT SUM(t * (t - 1) / 2) AS ty
      FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM s GROUP BY y) q
    ),
    j AS (SELECT * FROM cd CROSS JOIN tx CROSS JOIN ty)
    SELECT CASE WHEN (n * (n - 1) / 2 - tx) * (n * (n - 1) / 2 - ty) > 0
                THEN ROUND((c - dd)
                           / sqrt((n * (n - 1) / 2 - tx)
                                  * (n * (n - 1) / 2 - ty)), 6)
           END AS tau_b,
           CAST(c AS BIGINT) AS n_concordant,
           CAST(dd AS BIGINT) AS n_discordant,
           CAST(n AS BIGINT) AS n
    FROM j
    """,
)
def events_kendall_tau(spark, sf_dir):
    """Kendall's tau-b between daily event volume and daily summed value
    (operators/timeseries.py kendall_tau_b): the pairwise-concordance
    companion to events_spearman_daily — tau reads directly as
    P(concordant) − P(discordant) and degrades more gracefully under
    heavy ties. Pair enumeration is quadratic in the CALENDAR (the day
    key orders the pairs), tie corrections fold from per-column value
    histograms; daily totals are DECIMAL-exact before the double cast so
    both engines compare identical numbers."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        kendall_tau_b,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("y"),
    )
    return kendall_tau_b(s, "x", "y", "d")


@query(
    since=6,
    name="events_rolling_zscore",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT day, x,
             COUNT(*) OVER win AS n,
             AVG(x) OVER win AS m,
             STDDEV_SAMP(x) OVER win AS sd
      FROM s
      WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, x,
           CASE WHEN n = 7 THEN ROUND(m, 6) END AS mean_prev,
           CASE WHEN n = 7 THEN ROUND(sd, 6) END AS std_prev,
           CASE WHEN n = 7 AND sd > 0
                THEN ROUND((x - m) / sd, 6) END AS z,
           COALESCE(CASE WHEN n = 7 AND sd > 0
                         THEN ABS((x - m) / sd) > 2.0 END,
                    FALSE) AS anomaly
    FROM w
    """,
)
def events_rolling_zscore(spark, sf_dir):
    """Trailing-window anomaly score of the daily event-count series
    (operators/timeseries.py rolling_zscore): each day against the
    mean/std of its PRECEDING 7 days (a spike never dilutes its own
    baseline) — the day-grain pager-rule complement to CUSUM (sequential
    drift) and the STL residual (seasonality-aware). z is NULL until a
    full baseline exists or when the baseline is constant; the window
    runs over the calendar-bounded day frame (documented allowance
    class)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        rolling_zscore,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    return rolling_zscore(s, "day", "x", window=7, threshold=2.0)


@query(
    since=6,
    name="events_user_accretion",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(DATE_TRUNC('day', ts) AS DATE)) AS d0
      FROM events GROUP BY 1
    ),
    nw AS (SELECT d0 AS day, COUNT(*) AS new_users FROM f GROUP BY 1),
    act AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             COUNT(DISTINCT user_id) AS active_users
      FROM events GROUP BY 1
    )
    SELECT act.day,
           CAST(COALESCE(nw.new_users, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(nw.new_users, 0))
                OVER (ORDER BY act.day) AS BIGINT) AS cumulative_users,
           CAST(act.active_users AS BIGINT) AS active_users
    FROM act LEFT JOIN nw ON nw.day = act.day
    """,
)
def events_user_accretion(spark, sf_dir):
    """User-accretion curve: per day, first-ever-seen users, the
    cumulative distinct-user count, and that day's active users — the
    growth-vs-churn diagnostic (flat accretion + steady actives = a
    stable cohort; the corpus analogue tracks new-document inflow per
    source). First-touch is one per-user MIN aggregate; the day-grain
    join and the cumulative window run over the calendar-bounded frame
    (documented allowance class) — the fact table is scanned twice with
    map-side combine, never windowed."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    nw = first.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    act = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("active_users")
    )
    j = act.join(nw, "day", "left").select(
        "day",
        F.coalesce("new_users", F.lit(0)).alias("__nu"),
        "active_users",
    )
    cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return j.select(
        "day",
        F.col("__nu").cast("bigint").alias("new_users"),
        F.sum("__nu").over(cum).cast("bigint").alias("cumulative_users"),
        F.col("active_users").cast("bigint").alias("active_users"),
    )


@query(
    since=6,
    name="events_hodges_lehmann",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT (a.x + b.x) / 2 AS w FROM s a JOIN s b ON b.d > a.d
      UNION ALL
      SELECT x FROM s
    )
    SELECT ROUND(MEDIAN(w), 6) AS hl_estimate,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM w
    """,
)
def events_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann pseudo-median of the daily event-count series
    (operators/timeseries.py hodges_lehmann): the median of all Walsh
    averages — the robust LOCATION estimate completing the robust trio
    (Theil-Sen = slope, Mann-Kendall/Mann-Whitney = tests, HL = level):
    outlier days move it nowhere, yet it keeps ~95% of the mean's
    efficiency on clean data (the plain median keeps ~64%). Walsh pairs
    enumerate by the day key (value-comparison pairing would
    double-count tied days), quadratic in the CALENDAR only."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        hodges_lehmann,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    return hodges_lehmann(s, "x", "d")


@query(
    since=6,
    name="events_funnel_latency",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY 1
    ),
    lat AS (
      SELECT epoch_us(t3) - epoch_us(t1) AS us
      FROM s3 JOIN s1 USING (user_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(us, 0.5) / 1e6, 6) AS p50_seconds,
           ROUND(quantile_cont(us, 0.9) / 1e6, 6) AS p90_seconds,
           ROUND(MAX(us) / 1e6, 6) AS max_seconds
    FROM lat
    """,
)
def events_funnel_latency(spark, sf_dir):
    """Conversion-latency distribution for the view->click->purchase
    funnel (operators/funnel.py funnel_latency): for users completing
    all steps in order (same greedy first-touch walk as events_funnel),
    the first-step-to-completion time as count/median/p90/max seconds —
    the abandonment-window number the step-count funnel can't give.
    Latencies compare in exact integer microseconds; the percentile
    runs over the per-USER converted frame, with the iterative
    exact-quantile machinery the documented swap-in at extreme user
    counts."""
    from split_kinesis_streams_with_glue_spark.operators.funnel import (
        funnel_latency,
    )

    ev = load(spark, sf_dir, "events")
    return funnel_latency(ev, ["view", "click", "purchase"])


@query(
    since=6,
    name="events_interarrival_cv",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id) AS gap
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(gap AS HUGEINT)) AS s,
             SUM(CAST(gap AS HUGEINT) * gap) AS ss
      FROM g WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
           ROUND(CAST(s AS DOUBLE) / n / 1e6, 6) AS mean_gap_s,
           CASE WHEN n > 1 AND s > 0 THEN
             ROUND(sqrt(CAST(n * ss - s * s AS DOUBLE)
                        / (CAST(n AS DOUBLE) * (n - 1)))
                   / (CAST(s AS DOUBLE) / n), 6)
           END AS cv
    FROM s
    """,
)
def events_interarrival_cv(spark, sf_dir):
    """Per-type inter-arrival coefficient of variation
    (operators/timeseries.py interarrival_cv): gaps between consecutive
    events within each (user, type) stream — CV ≈ 1 is Poisson-like
    arrival, ≫ 1 is bursts/batch flushes, ≪ 1 a heartbeat; each implies
    a different ingest-buffer sizing. The burstiness diagnostic at the
    EVENT grain (the Fano factor sees daily counts). Lag windows
    partition by the key tuple (scales); Σgap² exceeds a double's 53-bit
    mantissa, so the variance folds from DECIMAL/HUGEINT-exact sums with
    only the final sqrt/divisions in float."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        interarrival_cv,
    )

    ev = load(spark, sf_dir, "events")
    return interarrival_cv(
        ev, ["event_type", "user_id"], order_tiebreak="event_id"
    )


@query(
    since=6,
    name="events_session_stats",
    oracle="""
    WITH base AS (""" + _SESSIONIZE_SQL + """)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(quantile_cont(n_events, 0.5), 6) AS p50_events,
           ROUND(quantile_cont(session_end_es - session_start_es, 0.5), 6)
             AS p50_duration_s,
           ROUND(quantile_cont(session_end_es - session_start_es, 0.9), 6)
             AS p90_duration_s
    FROM base
    """,
)
def events_session_stats(spark, sf_dir):
    """Session-grain distribution card on top of the sessionization
    machinery (events_sessionize's exact frame): session count, median
    events per session, median and p90 duration — the engagement-shape
    numbers a 'sessions' table exists to answer, and the sizing input
    for the stateful streaming session operator's state bounds. The
    percentile runs over the SESSION frame (already one row per
    session), with the iterative exact-quantile machinery the documented
    swap-in at extreme session counts."""
    from split_kinesis_streams_with_glue_spark.plans.registry import REGISTRY

    sess = REGISTRY["events_sessionize"].fn(spark, sf_dir)
    return sess.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.round(F.expr("percentile(n_events, 0.5)"), 6).alias("p50_events"),
        F.round(
            F.expr(
                "percentile(session_end_es - session_start_es, 0.5)"
            ),
            6,
        ).alias("p50_duration_s"),
        F.round(
            F.expr(
                "percentile(session_end_es - session_start_es, 0.9)"
            ),
            6,
        ).alias("p90_duration_s"),
    )


@query(
    since=6,
    name="events_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT n, row_number() OVER (ORDER BY day) AS i FROM daily
    ),
    pre AS (SELECT list(n ORDER BY i) AS xs FROM d),
    base AS (
      SELECT xs, len(xs) AS L,
             list_sum(list_transform(range(1, 8), j -> xs[j])) / 7 AS s0
      FROM pre
    ),
    init AS (
      SELECT xs, L, s0 AS s, CAST(0.0 AS DOUBLE) AS b,
             list_transform(range(1, 8), j -> xs[j] - s0) AS c,
             7 AS t
      FROM base
    ),
    r AS (
      SELECT xs, L, s, b, c, t FROM init
      UNION ALL
      SELECT xs, L, ns,
             0.25 * (ns - s) + 0.75 * b,
             list_transform(range(1, 8),
               j -> CASE WHEN j = (t % 7) + 1
                         THEN 0.25 * (xs[t + 1] - ns) + 0.75 * c[j]
                         ELSE c[j] END),
             t + 1
      FROM (
        SELECT xs, L, s, b, c, t,
               0.5 * (xs[t + 1] - c[(t % 7) + 1]) + 0.5 * (s + b) AS ns
        FROM r WHERE t < L
      ) q
    ),
    last AS (
      SELECT s, b, c, t, row_number() OVER (ORDER BY t DESC) AS rn FROM r
    )
    SELECT ROUND(s, 6) AS level, ROUND(b, 6) AS trend,
           ROUND(c[(t % 7) + 1], 6) AS next_seasonal,
           ROUND(s + b + c[(t % 7) + 1], 6) AS forecast_1
    FROM last WHERE rn = 1
    """,
)
def events_holt_winters(spark, sf_dir):
    """Holt-Winters additive TRIPLE exponential smoothing of daily event
    volume (7-day season; alpha=0.5, beta=gamma=0.25 — binary-exact
    factors): the level+trend+seasonal recursion that completes the
    WMA/EWMA/Holt smoothing ladder — the one-step forecast now carries
    the weekday shape, so Monday isn't an 'anomaly' every week. Classic
    init (level = first-week mean, trend 0, seasonals = first-week
    deviations); the fold is a struct accumulator with the 7-slot
    seasonal array rebuilt per step via an indexed transform — all
    row-local array HOFs over the calendar-bounded day series, mirrored
    step-for-step by the recursive-CTE oracle. Reports the final state
    and the one-step forecast."""
    m = 7
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("day", "n"))), lambda x: x["n"]
    )
    per = daily.agg(vals.alias("__vals"))
    pre = F.slice(F.col("__vals"), 1, m)
    s0 = F.aggregate(pre, F.lit(0.0), lambda a, x: a + x) / m
    state = per.select(
        "__vals",
        F.struct(
            s0.alias("s"),
            F.lit(0.0).alias("b"),
            F.transform(pre, lambda x: x - s0).alias("c"),
            F.lit(m).alias("t"),
        ).alias("__z"),
    )

    def step(acc, x):
        idx = F.pmod(acc["t"], F.lit(m)) + 1  # 1-based seasonal slot
        cprev = F.element_at(acc["c"], idx)
        s = F.lit(0.5) * (x - cprev) + F.lit(0.5) * (acc["s"] + acc["b"])
        b = F.lit(0.25) * (s - acc["s"]) + F.lit(0.75) * acc["b"]
        cnew = F.lit(0.25) * (x - s) + F.lit(0.75) * cprev
        c = F.transform(
            acc["c"], lambda v, j: F.when(j + 1 == idx, cnew).otherwise(v)
        )
        return F.struct(
            s.alias("s"), b.alias("b"), c.alias("c"), (acc["t"] + 1).alias("t")
        )

    folded = F.aggregate(
        F.slice(
            F.col("__vals"), m + 1, F.greatest(F.size("__vals") - m, F.lit(0))
        ),
        F.col("__z"),
        step,
    )
    nxt = F.element_at(folded["c"], F.pmod(folded["t"], F.lit(m)) + 1)
    return state.select(
        F.round(folded["s"], 6).alias("level"),
        F.round(folded["b"], 6).alias("trend"),
        F.round(nxt, 6).alias("next_seasonal"),
        F.round(folded["s"] + folded["b"] + nxt, 6).alias("forecast_1"),
    )


@query(
    since=6,
    name="events_forecast_backtest",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT day, x,
             lag(x, 1) OVER (ORDER BY day) AS p_naive,
             lag(x, 7) OVER (ORDER BY day) AS p_snaive,
             AVG(x) OVER (ORDER BY day
                          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS p_ma7,
             COUNT(*) OVER (ORDER BY day
                            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS nb
      FROM s
    ),
    scored AS (SELECT * FROM w WHERE p_snaive IS NOT NULL AND nb = 7)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_scored,
           ROUND(AVG(ABS(x - p_naive)), 6) AS mae_naive,
           ROUND(AVG(ABS(x - p_snaive)), 6) AS mae_seasonal_naive,
           ROUND(AVG(ABS(x - p_ma7)), 6) AS mae_ma7,
           CASE WHEN ROUND(AVG(ABS(x - p_snaive)), 6)
                     <= least(ROUND(AVG(ABS(x - p_naive)), 6),
                              ROUND(AVG(ABS(x - p_ma7)), 6))
                THEN 'seasonal_naive'
                WHEN ROUND(AVG(ABS(x - p_naive)), 6)
                     <= ROUND(AVG(ABS(x - p_ma7)), 6)
                THEN 'naive'
                ELSE 'ma7' END AS best_model
    FROM scored
    """,
)
def events_forecast_backtest(spark, sf_dir):
    """One-step-ahead forecast backtest over the daily series: MAE of the
    three standard baselines — naive (yesterday), seasonal-naive (same
    weekday last week), trailing 7-day mean — scored on the days where
    all three are defined. The model-selection gate the smoothing family
    (WMA/EWMA/Holt/Holt-Winters) must beat before anyone trusts its
    forecast in an alerting rule; seasonal-naive winning is itself the
    cheapest seasonality proof. Windows over the calendar-bounded day
    frame; the winner CASE compares the ROUNDED MAEs with a fixed
    preference order, deterministic cross-engine."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    wo = W.orderBy("day")
    wb = W.orderBy("day").rowsBetween(-7, -1)
    scored = (
        s.withColumn("p_naive", F.lag("x", 1).over(wo))
        .withColumn("p_snaive", F.lag("x", 7).over(wo))
        .withColumn("p_ma7", F.avg("x").over(wb))
        .withColumn("nb", F.count(F.lit(1)).over(wb))
        .filter(F.col("p_snaive").isNotNull() & (F.col("nb") == 7))
    )
    mae = lambda p: F.round(F.avg(F.abs(F.col("x") - F.col(p))), 6)  # noqa: E731
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_scored"),
        mae("p_naive").alias("mae_naive"),
        mae("p_snaive").alias("mae_seasonal_naive"),
        mae("p_ma7").alias("mae_ma7"),
    )
    best = (
        F.when(
            F.col("mae_seasonal_naive")
            <= F.least(F.col("mae_naive"), F.col("mae_ma7")),
            "seasonal_naive",
        )
        .when(F.col("mae_naive") <= F.col("mae_ma7"), "naive")
        .otherwise("ma7")
    )
    return agg.withColumn("best_model", best)


@query(
    since=6,
    name="events_freshness_audit",
    oracle="""
    WITH ref AS (SELECT MAX(ts) AS now_ts FROM events),
    per AS (
      SELECT event_type, MAX(ts) AS last_seen, COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT event_type,
           CAST(last_seen AS TIMESTAMP) AS last_seen,
           CAST(n AS BIGINT) AS n_events,
           ROUND((epoch_us((SELECT now_ts FROM ref))
                  - epoch_us(last_seen)) / 1e6, 6) AS staleness_s,
           (epoch_us((SELECT now_ts FROM ref)) - epoch_us(last_seen))
             > CAST(3600 AS BIGINT) * 1000000 AS stale
    FROM per
    """,
)
def events_freshness_audit(spark, sf_dir):
    """Per-type freshness audit: each event type's last-seen timestamp
    and its staleness against the stream's own high-water mark (the max
    event time — a deterministic 'now' that makes the audit replayable
    and oracle-checkable, unlike wall clock), flagging types silent for
    over an hour. The dead-producer tripwire: a type that stops
    arriving is invisible to every value/volume monitor (its rows
    simply aren't there) — freshness is the only signal, and it pairs
    with the novelty monitor (new keys appearing vs old types going
    quiet). Staleness compares in exact integer microseconds; two
    map-side-combining aggregates."""
    ev = load(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("__now"))
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_seen"), F.count(F.lit(1)).alias("__n")
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return per.crossJoin(F.broadcast(ref)).select(
        "event_type",
        F.col("last_seen").cast("timestamp").alias("last_seen"),
        F.col("__n").cast("bigint").alias("n_events"),
        F.round((us("__now") - us("last_seen")) / 1e6, 6).alias("staleness_s"),
        ((us("__now") - us("last_seen")) > 3600 * 1_000_000).alias("stale"),
    )


@query(
    since=6,
    name="events_dow_hour_profile",
    oracle="""
    WITH c AS (
      SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS INTEGER)
               AS dow,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (SELECT SUM(n) AS tot, MAX(n) AS mx FROM c)
    SELECT dow, hour, CAST(n AS BIGINT) AS n_events,
           ROUND(n * 1.0 / t.tot, 6) AS frac,
           n = t.mx AS is_peak
    FROM c CROSS JOIN t
    """,
)
def events_dow_hour_profile(spark, sf_dir):
    """Weekday x hour load heatmap: the 168-cell traffic profile with
    each cell's share and the peak cell flagged — what capacity planning,
    maintenance-window picking and the hopping-window sizing decisions
    actually read; the two-dimensional refinement of
    events_seasonal_indices' per-weekday means. Engine-portable weekday
    from epoch-day arithmetic; one map-side-combining aggregate, the
    share/peak fold over the bounded cell frame."""
    ev = load(spark, sf_dir, "events")
    epoch_day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    c = ev.groupBy(
        F.pmod(epoch_day, F.lit(7)).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("__n"))
    t = c.agg(F.sum("__n").alias("__tot"), F.max("__n").alias("__mx"))
    return c.crossJoin(F.broadcast(t)).select(
        "dow",
        "hour",
        F.col("__n").cast("bigint").alias("n_events"),
        F.round(F.col("__n") / F.col("__tot").cast("double"), 6).alias("frac"),
        (F.col("__n") == F.col("__mx")).alias("is_peak"),
    )


@query(
    since=7,
    name="events_isotonic_trend",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS sc,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT day, sc, n,
             ROW_NUMBER() OVER (ORDER BY day) AS k,
             SUM(sc) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cs,
             SUM(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cn
      FROM s
    ),
    p AS (
      SELECT i.k AS i, j.k AS j,
             (j.cs - (i.cs - i.sc)) / (j.cn - (i.cn - i.n)) AS avgij
      FROM b i JOIN b j ON i.k <= j.k
    ),
    a AS (
      SELECT i, j, MIN(avgij) OVER (PARTITION BY i ORDER BY j DESC
                    ROWS UNBOUNDED PRECEDING) AS A
      FROM p
    ),
    f AS (SELECT j AS k, MAX(A) AS fit FROM a GROUP BY 1)
    SELECT b.day, CAST(b.n AS BIGINT) AS n_events,
           ROUND(b.sc / b.n / 100, 6) AS day_mean,
           ROUND(f.fit / 100, 6) AS fit_value
    FROM b JOIN f ON f.k = b.k
    """,
)
def events_isotonic_trend(spark, sf_dir):
    """NEW OPERATOR (round 7): weighted isotonic regression
    (operators/timeseries.py isotonic_fit) — the best monotone
    nondecreasing approximation of the daily mean event value, weighted
    by event counts, via the minimax characterization fit_k =
    max_{i<=k} min_{j>=k} avg(i..j) (set-oriented; PAVA's serial stack
    has no distributed form). Values aggregate as exact integer cents,
    so every segment average is one IEEE division and the fit is
    engine-exact before rounding; pair work is quadratic in the
    CALENDAR only (same documented contract as mann_kendall). The
    shape-constrained smoother for calibration and
    'should-only-grow' metrics."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        isotonic_fit,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sc"),
        F.count(F.lit(1)).alias("n"),
    )
    out = isotonic_fit(s, "day", "sc", "n")
    return out.select(
        "day",
        F.col("n").alias("n_events"),
        F.round(F.col("mean") / 100, 6).alias("day_mean"),
        F.round(F.col("fit") / 100, 6).alias("fit_value"),
    )


@query(
    since=7,
    name="events_survival_km",
    oracle="""
    WITH dy AS (SELECT user_id, event_type,
                       CAST(DATE_TRUNC('day', ts) AS DATE) AS day
                FROM events),
    u AS (SELECT user_id, MIN(day) AS f, MAX(day) AS l,
                 MIN(CASE WHEN event_type = 'error' THEN day END) AS e
          FROM dy GROUP BY 1),
    d0 AS (SELECT CASE WHEN e IS NOT NULL THEN e - f ELSE l - f END AS dur,
                  CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END AS ev
           FROM u),
    byt AS (SELECT dur, COUNT(*) AS c, SUM(ev) AS d FROM d0 GROUP BY 1),
    r AS (SELECT dur, d,
                 SUM(c) OVER (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
          FROM byt),
    s AS (SELECT dur, d, n, 1 - d / n AS factor FROM r),
    fin AS (SELECT dur, d, n,
                   MAX(CASE WHEN factor = 0 THEN 1 ELSE 0 END) OVER w AS zf,
                   SUM(CASE WHEN factor > 0 THEN ln(factor) ELSE 0 END)
                     OVER w AS ls
            FROM s
            WINDOW w AS (ORDER BY dur
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT CAST(dur AS INTEGER) AS t, CAST(n AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           CASE WHEN zf = 1 THEN CAST(0 AS DOUBLE)
                ELSE ROUND(exp(ls), 6) END AS survival
    FROM fin
    """,
)
def events_survival_km(spark, sf_dir):
    """NEW OPERATOR (round 7): Kaplan-Meier product-limit survival
    (operators/timeseries.py kaplan_meier) — time from each user's
    first event to their first ERROR event, right-censored at the last
    observed day for users who never error (none in this uniform
    fixture, so the curve steps all the way to zero and exercises the
    exact d=n terminal edge; censoring itself is pinned by the
    operator's unit tests). The survival-analysis family opener: S(t) =
    fraction of users still error-free after t days, the honest version
    of a time-to-failure ratio under incomplete observation. One
    per-user aggregate, one per-duration aggregate, suffix/prefix folds
    over the bounded duration frame."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        kaplan_meier,
    )

    ev = load(spark, sf_dir, "events")
    dy = ev.select(
        "user_id", "event_type", F.to_date("ts").alias("day")
    )
    u = dy.groupBy("user_id").agg(
        F.min("day").alias("f"),
        F.max("day").alias("l"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("day"))
        ).alias("e"),
    )
    d0 = u.select(
        F.when(
            F.col("e").isNotNull(), F.datediff("e", "f")
        )
        .otherwise(F.datediff("l", "f"))
        .alias("dur"),
        F.col("e").isNotNull().cast("int").alias("ev"),
    )
    return kaplan_meier(d0, "dur", "ev")


@query(
    since=8,
    name="events_changepoint_mean",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d, COUNT(*) AS x
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT d,
             COUNT(*) OVER w AS nl,
             SUM(CAST(x AS DOUBLE)) OVER w AS sl
      FROM s
      WINDOW w AS (ORDER BY d ROWS UNBOUNDED PRECEDING)
    ),
    t AS (SELECT COUNT(*) AS n, SUM(CAST(x AS DOUBLE)) AS st FROM s),
    g AS (
      SELECT d, nl, n,
             sl / nl AS ml,
             (st - sl) / (n - nl) AS mr,
             CAST(nl AS DOUBLE) * CAST(n - nl AS DOUBLE)
               / CAST(n AS DOUBLE)
               * (sl / nl - (st - sl) / (n - nl))
               * (sl / nl - (st - sl) / (n - nl)) AS gain
      FROM c, t WHERE nl < n
    )
    SELECT d AS split_t, CAST(nl AS BIGINT) AS n_left,
           CAST(n - nl AS BIGINT) AS n_right,
           ROUND(ml, 6) AS mean_left, ROUND(mr, 6) AS mean_right,
           ROUND(gain, 6) AS sse_gain
    FROM g ORDER BY ROUND(gain, 6) DESC, d ASC LIMIT 1
    """,
)
def events_changepoint_mean(spark, sf_dir):
    """NEW OPERATOR (round 8): single mean-shift changepoint by binary
    segmentation (operators/timeseries.py changepoint_mean; Scott &
    Knott 1974, the one-split step of PELT-style segmentation) over the
    daily event-count series — WHEN did the level shift? CUSUM/EWMA
    detect drift streaming past a threshold; this localizes the single
    most likely break in a recorded window (the incident-review
    question). The regression twin of info_gain_split's classification
    split: cumulative sums over the calendar-bounded day frame, rounded
    argmax with the earlier day as tiebreak."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        changepoint_mean,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return changepoint_mean(s, "d", "x")


@query(
    since=10,
    name="events_cross_correlation",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    l AS (
      SELECT CAST(unnest(generate_series(-5, 5)) AS INTEGER) AS lag
    ),
    p AS (
      SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CAST(a.x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(b.y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             -- cast-BEFORE-multiply: the product itself must be exact
             -- past int64 (mirrors the operator's decimal-first form)
             CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * b.y) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(a.x AS DECIMAL(38,0)) * a.x) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(b.y AS DECIMAL(38,0)) * b.y) AS DOUBLE) AS syy
      FROM l CROSS JOIN s a JOIN s b ON a.d + l.lag = b.d
      GROUP BY l.lag
    )
    SELECT lag, n_days,
           CASE WHEN (CAST(n_days AS DOUBLE) * sxx - sx * sx) > 0
                 AND (CAST(n_days AS DOUBLE) * syy - sy * sy) > 0
                THEN ROUND((CAST(n_days AS DOUBLE) * sxy - sx * sy)
                     / SQRT((CAST(n_days AS DOUBLE) * sxx - sx * sx)
                            * (CAST(n_days AS DOUBLE) * syy - sy * sy)), 6)
           END AS ccf
    FROM p
    """,
)
def events_cross_correlation(spark, sf_dir):
    """NEW OPERATOR (round 10): lagged cross-correlation between the
    daily click and purchase series (operators/timeseries.py
    cross_correlation; Box & Jenkins 1970 §11.1) at lags −5..+5 — the
    LEAD/LAG detector events_acf's single-series view can't give: a
    peak at positive l says clicks lead purchases by l days. Day-grain
    reduction is the only corpus pass; the CCF runs on the calendar-
    bounded frame via a date_add equi-join with DECIMAL(38,0) integer
    moments (no float order anywhere)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        cross_correlation,
    )

    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("y"),
    )
    return cross_correlation(series, "day", "x", "y", max_lag=5)


@query(
    since=10,
    name="events_haar_energy",
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    m AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM s),
    base AS (
      SELECT CAST(d - d0 AS BIGINT) AS i,
             CAST(d1 - d0 AS BIGINT) AS imax, v
      FROM s, m
    ),
    lv AS (
      SELECT CAST(unnest(generate_series(1, 4)) AS INTEGER) AS level
    ),
    ex AS (
      SELECT level, imax, i // (1 << level) AS p,
             CASE WHEN (i // (1 << (level - 1))) % 2 = 0
                  THEN v ELSE -v END AS sv
      FROM base, lv
    ),
    dd AS (
      SELECT level, p, CAST(SUM(sv) AS BIGINT) AS bsum,
             MAX(imax) AS imax
      FROM ex GROUP BY 1, 2
    )
    -- n_blocks spans the FULL dyadic range [0, imax] (whole-block
    -- interior gaps are counted as all-zero blocks), mirroring the
    -- operator's span-based count
    SELECT level,
           CAST(MAX(imax) // (1 << level) + 1 AS BIGINT) AS n_blocks,
           ROUND(CAST(SUM(CAST(ROUND(
             CAST(bsum AS DOUBLE) * CAST(bsum AS DOUBLE)
             / CAST((1 << level) AS DOUBLE), 9)
             AS DECIMAL(38,9))) AS DOUBLE), 6) AS energy
    FROM dd GROUP BY level
    """,
)
def events_haar_energy(spark, sf_dir):
    """NEW OPERATOR (round 10): Haar wavelet detail-energy spectrum of
    the daily event-count series (operators/timeseries.py haar_energy;
    Haar 1910; Mallat, IEEE PAMI 1989) at levels 1–4 — the
    SCALE-resolved variance decomposition events_acf can't give:
    energy concentrated at level 3 (8-day blocks) is week-ish
    structure, a flat spectrum is noise. No iterative halving: each
    level's block sums group DIRECTLY from the day frame by
    i div 2^level with sign (i div 2^{level−1}) mod 2 off a broadcast
    level spine — the plan is linear in levels by construction (the
    raking_ipf lesson applied at design time)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        haar_energy,
    )

    ev = load(spark, sf_dir, "events")
    series = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return haar_energy(series, "day", "x", levels=4)


@query(
    "events_ljung_box",
    since=11,
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s),
    m AS (SELECT AVG(x) AS mu FROM s),
    c AS (SELECT d, x - mu AS cv FROM s CROSS JOIN m),
    den AS (SELECT SUM(cv * cv) AS dn FROM c),
    k AS (SELECT UNNEST(generate_series(1, 7)) AS lag),
    num AS (
      SELECT k.lag, SUM(a.cv * b.cv) AS nm
      FROM c a CROSS JOIN k JOIN c b ON b.d = a.d + CAST(k.lag AS INTEGER)
      GROUP BY k.lag
    ),
    acf AS (
      SELECT lag, CASE WHEN dn <> 0 THEN ROUND(nm / dn, 6) END AS r
      FROM num CROSS JOIN den
    ),
    terms AS (
      SELECT lag, r FROM acf CROSS JOIN n1
      WHERE r IS NOT NULL AND lag < n
    ),
    agg AS (
      SELECT COUNT(*) AS l,
             CAST(SUM(CAST(ROUND(r * r / (n - lag), 9) AS DECIMAL(38,9)))
                  AS DOUBLE) AS sq
      FROM terms CROSS JOIN n1
    )
    SELECT n, CAST(l AS BIGINT) AS lags_used, CAST(l AS BIGINT) AS df,
           CASE WHEN l > 0 AND n > 1
                THEN ROUND(n * (n + 2.0) * sq, 6) END AS q_stat
    FROM agg CROSS JOIN n1
    """,
)
def events_ljung_box(spark, sf_dir):
    """NEW OPERATOR (round 11): Ljung-Box portmanteau whiteness test
    (operators/timeseries.py ljung_box; Ljung & Box, Biometrika 1978)
    over the first 7 autocorrelations of the daily event-count series —
    "is the arrival series white noise, or does short-range structure
    remain?", the one-number residual diagnostic that single-lag acf
    scans (events_cross_correlation) cannot price jointly. Rides the
    calendar-bounded acf equi-join; the Q fold runs over the <=7-row acf
    frame with 6-dp-quantized acf and 9-dp DECIMAL(38,9) terms, so both
    engines fold identical quantities. The day frame is pinned so the
    fact scan is not re-embedded across the mean/denominator/pair
    branches."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        ljung_box,
    )

    ev = load(spark, sf_dir, "events")
    s = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
        .localCheckpoint(eager=False)
    )
    return ljung_box(s, "d", "x", max_lag=7)


@query(
    "events_runs_test",
    since=11,
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, d) AS rn,
             COUNT(*) OVER () AS n
      FROM s
    ),
    med AS (SELECT x AS m FROM r WHERE rn = (n + 1) // 2),
    sg AS (
      SELECT d, x > m AS sgn FROM s CROSS JOIN med WHERE x <> m
    ),
    fl AS (
      SELECT sgn,
             CASE WHEN LAG(sgn) OVER (ORDER BY d) IS NULL
                    OR sgn <> LAG(sgn) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS nr
      FROM sg
    ),
    a AS (
      SELECT SUM(CASE WHEN sgn THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN sgn THEN 0 ELSE 1 END) AS n2,
             SUM(nr) AS r
      FROM fl
    )
    SELECT CAST(COALESCE(n1, 0) AS BIGINT) AS n_pos,
           CAST(COALESCE(n2, 0) AS BIGINT) AS n_neg,
           CAST(COALESCE(r, 0) AS BIGINT) AS runs,
           CASE WHEN n1 > 0 AND n2 > 0
                 AND 2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                     / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0)) > 0
                THEN ROUND(
                  (r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                  / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - (n1 + n2))
                         / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6)
           END AS z_score
    FROM a
    """,
)
def events_runs_test(spark, sf_dir):
    """NEW OPERATOR (round 11): Wald-Wolfowitz runs test about the
    median (operators/timeseries.py runs_test; Wald & Wolfowitz, AoMS
    1940) on the daily event-count series — too FEW sign runs means the
    load clusters in regimes, too MANY means day-to-day alternation;
    the sign-pattern randomness gate that mann_kendall's monotone-drift
    statistic is blind to. Deterministic LOWER median (the rank
    (n+1) div 2 element — no interpolation convention in play), points
    equal to the median excluded, exact integer run/sign counts, z's
    float ops in one fixed order. The day frame is pinned; every window
    runs over the calendar-bounded series."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        runs_test,
    )

    ev = load(spark, sf_dir, "events")
    s = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
        .localCheckpoint(eager=False)
    )
    return runs_test(s, "d", "x")


@query(
    "events_hurst_rs",
    since=11,
    oracle="""
    WITH s AS (
      SELECT DATE_TRUNC('hour', ts) AS h, CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    i AS (SELECT x, ROW_NUMBER() OVER (ORDER BY h) - 1 AS i FROM s),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM i),
    sc AS (
      SELECT s FROM (SELECT UNNEST([8, 16, 32, 64]) AS s) q CROSS JOIN n1
      WHERE n // s >= 2
    ),
    b AS (
      SELECT sc.s, i.i // sc.s AS b, i.i, i.x
      FROM i CROSS JOIN sc CROSS JOIN n1
      WHERE i.i // sc.s < n // sc.s
    ),
    wm AS (
      SELECT s, b, i, x, AVG(x) OVER (PARTITION BY s, b) AS m FROM b
    ),
    cm AS (
      SELECT s, b, x - m AS dev,
             SUM(x - m) OVER (PARTITION BY s, b ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM wm
    ),
    pb AS (
      SELECT s, b, MAX(c) - MIN(c) AS rng,
             sqrt(CAST(SUM(CAST(ROUND(dev * dev, 9) AS DECIMAL(38,9)))
                       AS DOUBLE) / COUNT(*)) AS sd
      FROM cm GROUP BY s, b
    ),
    ps AS (
      SELECT ln(CAST(s AS DOUBLE)) AS lx,
             ln(ROUND(CAST(SUM(CAST(ROUND(rng / sd, 9) AS DECIMAL(38,9)))
                           AS DOUBLE) / COUNT(*), 9)) AS ly
      FROM pb WHERE sd > 0 GROUP BY s
    ),
    fit AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(CAST(ROUND(lx, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ROUND(ly, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(lx * ly, 9) AS DECIMAL(38,9))) AS DOUBLE)
               AS sxy,
             CAST(SUM(CAST(ROUND(lx * lx, 9) AS DECIMAL(38,9))) AS DOUBLE)
               AS sxx
      FROM ps
    )
    SELECT n, CAST(k AS BIGINT) AS scales_used,
           CASE WHEN k >= 2 AND k * sxx - sx * sx <> 0
                THEN ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
           END AS hurst_exponent
    FROM fit CROSS JOIN n1
    """,
)
def events_hurst_rs(spark, sf_dir):
    """NEW OPERATOR (round 11): Hurst exponent by rescaled-range
    analysis (operators/timeseries.py hurst_rs; Hurst 1951, Mandelbrot
    & Wallis 1969) over the hourly event-count series at block scales
    8/16/32/64 — H > 0.5 says load waves persist (long-range memory the
    short-lag ljung_box Q cannot see), which is exactly what decides
    whether a partition-sizing heuristic tuned on an hour of traffic
    holds for a day. Blocks are integer arithmetic on a row-number
    index fanned by a broadcast scale spine off the PINNED hour frame;
    per-block folds run in fixed time order; per-scale means and the
    final <=4-row OLS use 9-dp DECIMAL(38,9) terms. Count-valued series
    keep the block means exact (the operator's documented contract)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        hurst_rs,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    return hurst_rs(s, "h", "x", min_scale=8, n_scales=4)


@query(
    "events_permutation_entropy",
    since=11,
    oracle="""
    WITH s AS (
      SELECT DATE_TRUNC('hour', ts) AS h, CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1
    ),
    tri AS (
      SELECT x AS a,
             LEAD(x, 1) OVER (ORDER BY h) AS b,
             LEAD(x, 2) OVER (ORDER BY h) AS c
      FROM s
    ),
    pat AS (
      SELECT ((CASE WHEN b < a THEN 1 ELSE 0 END)
              + (CASE WHEN c < a THEN 1 ELSE 0 END)) * 100
             + ((CASE WHEN a <= b THEN 1 ELSE 0 END)
                + (CASE WHEN c < b THEN 1 ELSE 0 END)) * 10
             + (CASE WHEN a <= c THEN 1 ELSE 0 END)
             + (CASE WHEN b <= c THEN 1 ELSE 0 END) AS pattern
      FROM tri WHERE b IS NOT NULL AND c IS NOT NULL
    ),
    hist AS (SELECT pattern, COUNT(*) AS c FROM pat GROUP BY 1),
    tot AS (SELECT SUM(c) AS n FROM hist),
    agg AS (
      SELECT MAX(n) AS n, COUNT(*) AS k,
             CAST(SUM(CAST(ROUND(-(c * 1.0 / n) * ln(c * 1.0 / n), 9)
                           AS DECIMAL(38,9))) AS DOUBLE) AS hh
      FROM hist CROSS JOIN tot
    )
    SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(k, 0) AS BIGINT) AS n_patterns,
           CASE WHEN n > 0 THEN ROUND(hh, 6) END AS perm_entropy,
           CASE WHEN n > 0 THEN ROUND(hh / ln(6.0), 6) END
             AS perm_entropy_norm
    FROM agg
    """,
)
def events_permutation_entropy(spark, sf_dir):
    """NEW OPERATOR (round 11): Bandt-Pompe permutation entropy at
    embedding dimension 3 (operators/timeseries.py permutation_entropy;
    Bandt & Pompe, PRL 2002) over the hourly event-count series — the
    entropy of 3-point ordinal SHAPES, invariant to monotone value
    rescaling: near 1 the local shapes are pattern-white, well below 1
    the series repeats motifs (cyclic load, templated traffic).
    Complements runs_test (sign clustering) and ljung_box (linear
    correlation) with a nonlinear-shape gate. Tie ranks follow the
    order-of-appearance convention as a closed-form CASE both engines
    evaluate identically; the entropy folds over the <=6-row pattern
    histogram with 9-dp DECIMAL(38,9) terms."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        permutation_entropy,
    )

    ev = load(spark, sf_dir, "events")
    s = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
        .localCheckpoint(eager=False)  # hour frame feeds 3 plan branches
    )
    return permutation_entropy(s, "h", "x")


@query(
    "events_aov_periodogram",
    since=12,
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    b AS (SELECT MIN(d) AS d0 FROM s),
    base AS (
      SELECT CAST(DATEDIFF('day', b.d0, s.d) AS BIGINT) AS i, s.x
      FROM s CROSS JOIN b
    ),
    tot AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS st,
             CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS ss
      FROM base
    ),
    p AS (
      SELECT CAST(unnest(generate_series(2, 10)) AS INTEGER) AS period
    ),
    ph AS (
      SELECT p.period, base.i % p.period AS phph, COUNT(*) AS np,
             CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sp
      FROM base CROSS JOIN p GROUP BY 1, 2
    ),
    per AS (
      SELECT period, COUNT(*) AS k,
             CAST(SUM(CAST(ROUND(sp * sp / np, 9) AS DECIMAL(38,9)))
                  AS DOUBLE) AS bsum
      FROM ph GROUP BY 1
    )
    SELECT period, CAST(k AS BIGINT) AS n_phases, CAST(n AS BIGINT) AS n_days,
      CASE WHEN (ss - st * st / n) > 0
           THEN ROUND((bsum - st * st / n) / (ss - st * st / n), 6)
      END + 0.0 AS eta2,
      CASE WHEN (ss - st * st / n) > 0
            AND ((ss - st * st / n) - (bsum - st * st / n)) > 0
            AND k > 1 AND n > k
           THEN ROUND(((bsum - st * st / n) / (CAST(k AS DOUBLE) - 1))
                / (((ss - st * st / n) - (bsum - st * st / n))
                   / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
      END + 0.0 AS f_stat
    FROM per CROSS JOIN tot
    """,
)
def events_aov_periodogram(spark, sf_dir):
    """NEW OPERATOR (round 12): phase-folding AoV periodogram
    (operators/timeseries.py aov_periodogram; Stellingwerf ApJ 1978,
    Schwarzenberg-Czerny MNRAS 1989) of the daily event-count series at
    candidate periods 2..10 days — the FREQUENCY-DOMAIN detector the
    autocorrelation family (acf/ljung_box/hurst) prices only
    indirectly: eta2(p) = SS_between/SS_total after folding on
    i mod p, peaking at the true cycle (p = 7 for weekly load).
    FFT-free AND libm-free by construction (exact integer phase
    moments, no cos/sin cross-engine ulp class); handles calendar gaps
    natively (Stellingwerf's uneven-sampling setting). Day frame
    pinned; period spine and 1-row moments broadcast; the only shuffle
    is the (period, phase)-key aggregate over the calendar-bounded
    frame. Per-phase S^2/n terms fold 9-dp DECIMAL(38,9) on both
    engines; eta2/F are rounded then +0.0-canonicalized (signed-zero
    class)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        aov_periodogram,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return aov_periodogram(s, "d", "x", min_period=2, max_period=10)


@query(
    "events_changepoint_bridge",
    since=12,
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    pre AS (
      SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS t,
             SUM(CAST(x AS DECIMAL(38,0))) OVER
               (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS sprefix
      FROM s
    ),
    tot AS (
      SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS stot,
             SUM(CAST(x AS DECIMAL(38,0)) * x) AS ssq
      FROM s
    ),
    j AS (
      SELECT d, t, sprefix, n, stot, ssq,
             ABS(CAST(n AS DECIMAL(38,0)) * sprefix
                 - CAST(t AS DECIMAL(38,0)) * stot) AS ab
      FROM pre CROSS JOIN tot
    ),
    top AS (SELECT * FROM j ORDER BY ab DESC, d ASC LIMIT 1)
    SELECT CAST(n AS BIGINT) AS n_days, d AS change_day,
      CAST(t AS BIGINT) AS change_index,
      CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * ssq - stot * stot
                     AS DOUBLE) > 0
           THEN ROUND(CAST(ab AS DOUBLE)
                / SQRT(CAST(n AS DOUBLE)
                       * CAST(CAST(n AS DECIMAL(38,0)) * ssq
                              - stot * stot AS DOUBLE)), 6)
      END AS cusum_stat,
      ROUND(CAST(sprefix AS DOUBLE) / CAST(t AS DOUBLE), 6) AS mean_before,
      CASE WHEN n > t
           THEN ROUND((CAST(stot AS DOUBLE) - CAST(sprefix AS DOUBLE))
                / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)), 6)
      END AS mean_after
    FROM top
    """,
)
def events_changepoint_bridge(spark, sf_dir):
    """NEW OPERATOR (round 12): CUSUM-bridge change-point ESTIMATION
    (operators/timeseries.py cusum_changepoint; Page, Biometrika 1954;
    Csörgő & Horváth 1997) on the daily event-count series — "did the
    arrival LEVEL shift, and on which day?". Distinct from
    events_cusum_changepoint (r4): that is Page's ONE-SIDED ONLINE
    alarm recursion (max(0, S+x−thresh), "is it drifting NOW?"); this
    is the offline TWO-SIDED estimator — the bridge argmax LOCATES the
    break day and the Kolmogorov-normalized max tests it, the
    retrospective statistic mann_kendall (monotone drift) and
    ljung_box (whiteness) cannot give.
    The tied-down bridge n·S_t − t·S_n stays in EXACT
    DECIMAL(38,0) integer space, so the argmax day and its tie-break
    compare exact integers; the Kolmogorov-normalized statistic is one
    fixed-order double expression off the same exact moments. Day
    frame pinned; prefix windows run over the calendar-bounded frame;
    the argmax travels through orderBy().limit(1)
    (TakeOrderedAndProject, no global funnel of data rows)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        cusum_changepoint,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return cusum_changepoint(s, "d", "x")


@query(
    "events_pettitt_changepoint",
    since=13,
    oracle="""
    WITH s AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS t, x FROM s
    ),
    v AS (
      SELECT a.d, a.t,
             SUM(CASE WHEN a.x > b.x THEN 1
                      WHEN a.x < b.x THEN -1 ELSE 0 END) AS vv
      FROM idx a CROSS JOIN idx b GROUP BY a.d, a.t
    ),
    u AS (
      SELECT d, t,
             SUM(vv) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS uu
      FROM v
    ),
    tot AS (SELECT COUNT(*) AS n FROM s),
    top AS (
      SELECT * FROM u CROSS JOIN tot
      WHERE t < n
      ORDER BY ABS(uu) DESC, d ASC LIMIT 1
    )
    SELECT CAST(n AS BIGINT) AS n_days, d AS change_day,
      CAST(t AS BIGINT) AS change_index,
      CAST(ABS(uu) AS BIGINT) AS k_stat,
      CAST(uu AS BIGINT) AS u_signed,
      ROUND(6.0 * CAST(ABS(uu) AS DOUBLE) * CAST(ABS(uu) AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
               + CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS p_exponent
    FROM top
    """,
)
def events_pettitt_changepoint(spark, sf_dir):
    """NEW OPERATOR (round 13): Pettitt's nonparametric change-point
    test (operators/timeseries.py pettitt_changepoint; Pettitt,
    JRSS-C 1979) on the daily event-count series — the RANK-BASED twin
    of events_changepoint_bridge: the bridge locates a MEAN shift and
    is level-sensitive (one enormous day moves it arbitrarily);
    Pettitt's U_t = sum_{i<=t, j>t} sgn(x_i - x_j) compares the two
    sides of every candidate split by sign only, so it locates a
    DISTRIBUTION-position shift with each day bounded to +/-1 of
    influence — the outlier-immune "when did traffic change?" gate.
    Exact integer statistics end to end: the V_t = sum_j sgn(x_t-x_j)
    pair join is D x D bounded (day grain, never events), the standard
    recursion U_t = U_{t-1} + V_t is one prefix window over the D-row
    frame, the argmax travels through orderBy().limit(1)
    (TakeOrderedAndProject), and the reported p_exponent 6K^2/(n^3+n^2)
    is one final division — exp() is deliberately left to the caller
    (no libm, the aov_periodogram rule)."""
    from split_kinesis_streams_with_glue_spark.operators.timeseries import (
        pettitt_changepoint,
    )

    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return pettitt_changepoint(s, "d", "x")

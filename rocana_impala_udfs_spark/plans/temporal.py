"""Event-stream temporal queries (as-of join, sessionization, tumbling
windows, JSON props) over the ``events`` table, each with a DuckDB oracle.

Timestamps cross the engine boundary as ``unix_micros`` / ``epoch_us``
BIGINTs — exact, format-free comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.functions.text import md5_bucket
from rocana_impala_udfs_spark.operators.skew import salted_agg
from rocana_impala_udfs_spark.operators.temporal import (
    as_of_join,
    bucketed_range_join,
    gap_fill,
    multi_resolution_rollup,
    sessionize,
    tumbling_agg,
)
from rocana_impala_udfs_spark.sources.io import load_table


# --- as-of join: purchase → latest prior click (attribution) ----------------


def q_asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    joined = as_of_join(
        purchases, clicks, key_cols=["user_id"], ts_col="ts", right_value_cols=["event_id", "value"]
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.col("asof_event_id").alias("click_id"),
        F.unix_micros("asof_ts").alias("click_ts_us"),
        F.round("asof_value", 4).alias("click_value"),
    )


ORACLE_ASOF_CLICK = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
ranked AS (
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us,
           round(c.value, 4) AS click_value,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY c.ts DESC, c.event_id DESC, c.value DESC
           ) AS rk
    FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
)
SELECT purchase_id, user_id, purchase_ts_us, click_id, click_ts_us, click_value
FROM ranked WHERE rk = 1
"""


def q_asof_click_attribution_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's TOLERANCE path: clicks older than 30 minutes before
    the purchase attribute as NULL (stale matches dropped in-plan — same
    single-shuffle union+window plan, one extra filter)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    joined = as_of_join(
        purchases,
        clicks,
        key_cols=["user_id"],
        ts_col="ts",
        right_value_cols=["event_id", "value"],
        tolerance="INTERVAL 30 MINUTES",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.col("asof_event_id").alias("click_id"),
        F.unix_micros("asof_ts").alias("click_ts_us"),
        F.round("asof_value", 4).alias("click_value"),
    )


ORACLE_ASOF_CLICK_30M = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
ranked AS (
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           c.event_id AS click_id, epoch_us(c.ts) AS click_ts_us,
           round(c.value, 4) AS click_value,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY c.ts DESC, c.event_id DESC, c.value DESC
           ) AS rk
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
)
SELECT purchase_id, user_id, purchase_ts_us, click_id, click_ts_us, click_value
FROM ranked WHERE rk = 1
"""


def q_events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection with a robust baseline: hourly event
    counts compared against the upper median of their own (event_type,
    hour-of-day) stratum; buckets at > 2x their seasonal median are
    flagged. Two tiny aggregations over the corpus-touching hourly rollup;
    all arithmetic is exact (integer counts, median = an actual element),
    so the flag set is bit-stable across engines."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    strata = hourly.select(
        "bucket", "event_type", "n", F.hour("bucket").alias("hod")
    )
    from rocana_impala_udfs_spark.functions.median import exact_upper_median

    base = exact_upper_median(strata, "n", ["event_type", "hod"], out="baseline_n")
    return (
        strata.join(F.broadcast(base), ["event_type", "hod"])
        .filter(F.col("n") > 2 * F.col("baseline_n"))
        .select(
            "event_type",
            F.unix_micros("bucket").alias("bucket_us"),
            "n",
            F.col("baseline_n").cast("bigint").alias("baseline_n"),
        )
    )


ORACLE_SEASONAL_ANOMALIES = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
),
strata AS (
    SELECT bucket, event_type, n, CAST(hour(bucket) AS INT) AS hod FROM hourly
),
base AS (
    SELECT event_type, hod, x AS baseline_n FROM (
        SELECT event_type, hod, n AS x,
               row_number() OVER (PARTITION BY event_type, hod ORDER BY n) AS rn,
               count(*) OVER (PARTITION BY event_type, hod) AS cnt
        FROM strata
    ) ranked WHERE rn = CAST(cnt // 2 AS BIGINT) + 1
)
SELECT s.event_type, epoch_us(s.bucket) AS bucket_us, s.n,
       CAST(b.baseline_n AS BIGINT) AS baseline_n
FROM strata s JOIN base b USING (event_type, hod)
WHERE s.n > 2 * b.baseline_n
"""


def q_ops_daily_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops-analytics flagship composition (the log-analytics mirror of
    llm_corpus_pipeline): one report row per event type combining volume,
    reach, the reference's bounded-reservoir p90 of event value, and the
    count of seasonal-anomaly hours — three tiny per-type aggregates
    broadcast-joined above a single corpus pass each. Every component is
    exact (integer counts, reservoir percentile = an actual element)."""
    from rocana_impala_udfs_spark.operators.reservoir import appx_percentile_bounded_agg

    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    from rocana_impala_udfs_spark.plans.medians import BIG_K

    p90 = appx_percentile_bounded_agg(
        ev, "value", 0.9, BIG_K, ["event_type"], out="p90_value"
    )
    anomalies = (
        q_events_seasonal_anomalies(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("anomaly_hours"))
    )
    return (
        totals.join(F.broadcast(p90), "event_type")
        .join(F.broadcast(anomalies), "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "n_users",
            "p90_value",
            F.coalesce("anomaly_hours", F.lit(0)).cast("bigint").alias("anomaly_hours"),
        )
        .orderBy("event_type")
    )


ORACLE_OPS_DIGEST = """
WITH totals AS (
    SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
),
p90 AS (
    SELECT event_type, x AS p90_value FROM (
        SELECT event_type, value AS x,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
    ) ranked WHERE rn = least(CAST(floor(n * 0.9) AS BIGINT), n - 1) + 1
),
hourly AS (
    SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
),
strata AS (
    SELECT bucket, event_type, n, CAST(hour(bucket) AS INT) AS hod FROM hourly
),
base AS (
    SELECT event_type, hod, x AS baseline_n FROM (
        SELECT event_type, hod, n AS x,
               row_number() OVER (PARTITION BY event_type, hod ORDER BY n) AS rn,
               count(*) OVER (PARTITION BY event_type, hod) AS cnt
        FROM strata
    ) ranked WHERE rn = CAST(cnt // 2 AS BIGINT) + 1
),
anom AS (
    SELECT s.event_type, count(*) AS anomaly_hours
    FROM strata s JOIN base b USING (event_type, hod)
    WHERE s.n > 2 * b.baseline_n
    GROUP BY 1
)
SELECT t.event_type, t.n_events, t.n_users, p.p90_value,
       CAST(coalesce(a.anomaly_hours, 0) AS BIGINT) AS anomaly_hours
FROM totals t
JOIN p90 p USING (event_type)
LEFT JOIN anom a USING (event_type)
ORDER BY t.event_type
"""


# --- sessionization ---------------------------------------------------------

_GAP_S = 1800


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    return sessionize(ev, ["user_id"], "ts", max_gap_seconds=_GAP_S).select(
        "user_id", "event_id", "session_seq"
    )


ORACLE_SESSIONIZE = f"""
WITH gapped AS (
    SELECT user_id, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_S} * 1000000
                THEN 1 ELSE 0 END AS boundary,
           ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, event_id,
       CAST(sum(boundary) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_seq
FROM gapped
"""


def q_ops_session_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship-grade composition for the reference's log-analytics context:
    sessionize the event stream → per-session stats → per-size-class
    rollup with the reference's exact-upper-median rule on session duration.
    One shuffle for sessionization (reused by the per-session agg via the
    same user_id keying), one for the size-class rollup; duration crosses
    the oracle boundary as integer microseconds."""
    from rocana_impala_udfs_spark.functions.median import exact_upper_median

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    s = sessionize(ev, ["user_id"], "ts", max_gap_seconds=_GAP_S)
    sess = s.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        # exact micro-unit session value (r10): the class-level mean below
        # needs an exact integer numerator so its RAW quotient is
        # bit-identical cross-engine (round(avg, 4) was the final-round
        # midpoint class).
        F.sum(F.round(F.col("value") * 1000000).cast("decimal(38,0)")).alias("sv6"),
    )
    classed = sess.withColumn(
        "size_class",
        F.when(F.col("n_events") == 1, "single")
        .when(F.col("n_events") <= 4, "short")
        .otherwise("long"),
    )
    med = exact_upper_median(classed, "duration_us", ["size_class"], out="median_duration_us")
    stats = classed.groupBy("size_class").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        (
            F.sum("sv6").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0)
        ).alias("avg_session_value"),
    )
    return stats.join(F.broadcast(med), "size_class")


ORACLE_OPS_SESSION_HEALTH = f"""
WITH gapped AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_S} * 1000000
                THEN 1 ELSE 0 END AS boundary
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessioned AS (
    SELECT user_id, ts, value,
           sum(boundary) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM gapped
),
sess AS (
    SELECT user_id, session_seq, count(*) AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
           sum(CAST(round(value * 1000000) AS HUGEINT)) AS sv6
    FROM sessioned GROUP BY 1, 2
),
classed AS (
    SELECT *, CASE WHEN n_events = 1 THEN 'single'
                   WHEN n_events <= 4 THEN 'short'
                   ELSE 'long' END AS size_class
    FROM sess
),
med AS (
    SELECT size_class, x AS median_duration_us FROM (
        SELECT size_class, duration_us AS x,
               row_number() OVER (PARTITION BY size_class ORDER BY duration_us) AS rn,
               count(*) OVER (PARTITION BY size_class) AS n
        FROM classed
    ) ranked WHERE rn = CAST(n // 2 AS BIGINT) + 1
)
SELECT s.size_class, s.n_sessions, s.avg_session_value, m.median_duration_us
FROM (
    SELECT size_class, count(*) AS n_sessions,
           CAST(CAST(sum(sv6) AS VARCHAR) AS DOUBLE) / count(*) / 1000000.0 AS avg_session_value
    FROM classed GROUP BY 1
) s JOIN med m USING (size_class)
"""


def q_trailing_7d_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (vs the ROWS frames elsewhere): per-user trailing
    7-day value sum — the frame is defined by the ORDER-BY value interval,
    so ties are all peers and the result is order-deterministic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        # Full-precision micros, not floor-seconds: frame membership and peer
        # groups must match the oracle's RANGE INTERVAL 7 DAYS on raw ts.
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.sum("value").over(w), 4).alias("trailing_7d_value"),
    )


ORACLE_TRAILING_7D = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       round(sum(value) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW), 4)
           AS trailing_7d_value
FROM events
"""


def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rocana_impala_udfs_spark.operators.funnel import funnel_steps

    ev = load_table(spark, sf_dir, "events")
    return funnel_steps(ev, ["view", "click", "purchase"])


def q_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) MULTI-TOUCH attribution — the marketing
    sibling of the last-touch as-of join: every click in the 7 days before
    a purchase shares the credit (1 touch → 1.0; 2 → 0.5/0.5; n≥3 → 0.4
    first, 0.4 last, 0.2 split across middles). One user-keyed equi-join
    with the time window as a residual range predicate (never a cross
    join), then one purchase-keyed window pass for position and touch
    count. Purchases with no touch in the window drop (inner semantics —
    the unattributable pool is last-touch's NULL row instead).
    Deterministic under ties via (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = p.join(
        c,
        (p["user_id"] == c["c_user"])
        & (c["c_ts"] <= p["p_ts"])
        & (c["c_ts"] >= p["p_ts"] - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("purchase_id").orderBy("c_ts", "click_id")
    ranked = touches.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("purchase_id")).alias("n_touches"),
    )
    credit = (
        F.when(F.col("n_touches") == 1, F.lit(1.0))
        .when(F.col("n_touches") == 2, F.lit(0.5))
        .when(F.col("pos") == 1, F.lit(0.4))
        .when(F.col("pos") == F.col("n_touches"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n_touches").cast("double") - F.lit(2.0)))
    )
    return ranked.select(
        "purchase_id",
        "user_id",
        "click_id",
        "purchase_ts_us",
        F.col("pos").cast("int").alias("pos"),
        F.col("n_touches").cast("bigint").alias("n_touches"),
        F.round(credit, 6).alias("credit"),
    )


ORACLE_ATTRIBUTION_MULTITOUCH = """
WITH p AS (
    SELECT event_id AS purchase_id, user_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT event_id AS click_id, user_id AS c_user, ts AS c_ts
    FROM events WHERE event_type = 'click'
),
touches AS (
    SELECT purchase_id, user_id, click_id, p_ts, c_ts
    FROM p JOIN c ON c.c_user = p.user_id
      AND c.c_ts <= p.p_ts
      AND c.c_ts >= p.p_ts - INTERVAL 7 DAY
),
ranked AS (
    SELECT purchase_id, user_id, click_id,
           epoch_us(p_ts) AS purchase_ts_us,
           CAST(row_number() OVER (PARTITION BY purchase_id ORDER BY c_ts, click_id) AS INT) AS pos,
           CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches
    FROM touches
)
SELECT purchase_id, user_id, click_id, purchase_ts_us, pos, n_touches,
       round(CASE WHEN n_touches = 1 THEN 1.0
                  WHEN n_touches = 2 THEN 0.5
                  WHEN pos = 1 THEN 0.4
                  WHEN pos = n_touches THEN 0.4
                  ELSE 0.2 / (CAST(n_touches AS DOUBLE) - 2.0) END, 6) AS credit
FROM ranked
"""


def q_stream_append_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE FILE SINK, driver-checked (r12): the ``foreachBatch``
    append path every production streaming job uses to feed a batch table
    — each micro-batch lands in its own ``batch_id=N`` partition with
    DYNAMIC partition overwrite, so the checkpoint-tracked batchId is the
    idempotence key.  The key runs the multi-batch replay through
    :func:`append_idempotent_parquet_sink`, then REDELIVERS batch 0
    verbatim (the crash-between-sink-write-and-offset-commit scenario)
    before aggregating the landed table: if redelivery duplicated or
    dropped a single row, ``n_rows``/``n_ids``/``sum_value_c`` flip and
    the oracle hash fails — the exactly-once property IS the gate.

    Scale: sink writes are distributed columnar appends partitioned by
    batchId (no global dedup, no driver data path); the redelivered frame
    is one batch, eagerly localCheckpointed so the partition rewrite never
    reads the directory it overwrites.  The sink and checkpoint dirs are
    fresh per run and DELETED before return (the k-row result is eagerly
    localCheckpointed first, so the returned frame never re-reads them —
    the same leak-closure as the schema-evolution key)."""
    import shutil
    import tempfile

    from rocana_impala_udfs_spark.streaming.replay import replay_events_stream
    from rocana_impala_udfs_spark.streaming.sink_stream import (
        append_idempotent_parquet_sink,
        batch_id_partition_writer,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized 4-file replay
    out_dir = tempfile.mkdtemp(prefix="appsink_out_")
    ckpt = tempfile.mkdtemp(prefix="appsink_ck_")
    try:
        q = append_idempotent_parquet_sink(
            stream.select("event_id", "event_type", "value"), out_dir, ckpt
        )
        q.processAllAvailable()
        q.stop()
        landed = spark.read.parquet(out_dir)
        replay0 = (
            landed.filter(F.col("batch_id") == 0)
            .drop("batch_id")
            .localCheckpoint(eager=True)
        )
        batch_id_partition_writer(out_dir)(replay0, 0)
        final = spark.read.parquet(out_dir)
        return (
            final.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("event_id").cast("bigint").alias("n_ids"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                    "sum_value_c"
                ),
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


# the landed table must equal the SOURCE exactly once per row — redelivery
# inside the key makes the equality prove idempotence, not just delivery
ORACLE_STREAM_APPEND_SINK = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_stream_daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRUCTURED STREAMING, driver-checked: daily windowed aggregation run
    as a real multi-micro-batch stream (one file per trigger, state carried
    between batches) into a complete-mode memory sink — after the final
    batch, complete mode's result table IS the batch aggregation, so the
    stream carries the batch oracle. Sums accumulate in DECIMAL so the
    micro-batch accumulation order cannot flip the value hash (float sums
    are order-sensitive; decimal sums are exact)."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized; kept for reuse
    agg = (
        stream.withColumn("v", F.col("value").cast("decimal(18,6)"))
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sv"),
        )
    )
    out = run_to_table(agg, mode="complete")
    return out.select(
        F.unix_micros("w.start").alias("window_start_us"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sv").cast("double"), 4).alias("sum_value"),
    )


ORACLE_STREAM_DAILY = """
SELECT epoch_us(time_bucket(INTERVAL '1 day', ts)) AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_stream_dedup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACTLY-ONCE dedup, driver-checked: the replay plants a
    full duplicate copy of every event (copies=2), the stream keys state by
    event_id (per-key count in complete mode = the dedup table), and the
    closed sink rolls up to per-type distinct-event counts — which must
    equal the single-copy batch counts. The arrival-order-independence of
    keyed streaming state is exactly what the oracle hash certifies."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir, copies=2)  # memoized
    per_event = stream.groupBy("event_type", "event_id").agg(
        F.count(F.lit(1)).alias("seen")
    )
    sink = run_to_table(per_event, mode="complete")
    return (
        sink.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("seen").cast("bigint").alias("max_seen"),
        )
        .orderBy("event_type")
    )


ORACLE_STREAM_DEDUP = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(2 AS BIGINT) AS max_seen
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL MERGING WINDOWS, driver-checked: per-user
    ``session_window(ts, 30 min)`` aggregation run as a real
    multi-micro-batch stream into a complete-mode memory sink. Session
    windows are the hardest streaming state shape — windows MERGE when a
    later micro-batch bridges two previously separate sessions — so the
    final table equaling the batch gaps-and-islands answer certifies
    cross-batch window merging, not just keyed accumulation.

    Boundary semantics pinned by the oracle: Spark sessions are half-open
    ``[ts, ts+gap)``, so a gap of EXACTLY 30 min starts a new session
    (>= rule) — one tick different from the batch ``sessionize`` helper's
    ``> gap`` rule (operators/temporal.py:123), which the oracle
    deliberately replays with ``>=`` to match the streaming operator.
    Sums accumulate in DECIMAL (order-independent hash)."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    agg = (
        stream.withColumn("v", F.col("value").cast("decimal(18,6)"))
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )
    sink = run_to_table(agg, mode="complete")
    return sink.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sv").cast("double"), 4).alias("sum_value"),
    )


ORACLE_STREAM_SESSIONS = """
WITH e AS (
    SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DECIMAL(18,6)) AS v
    FROM events
), flagged AS (
    SELECT user_id, ts_us, v,
           CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
                  OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                     >= 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM e
), isl AS (
    SELECT user_id, ts_us, v,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                  ROWS UNBOUNDED PRECEDING) AS s
    FROM flagged
)
SELECT user_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(max(ts_us) + 1800000000 AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(v) AS DOUBLE), 4) AS sum_value
FROM isl GROUP BY user_id, s
"""


def q_stream_session_windows_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-MODE session windows — the PRODUCTION shape of
    `stream_session_windows`, driver-checked (r15). The complete-mode key
    certifies cross-batch window MERGING but holds every session ever in
    state and re-emits the whole table per trigger — the r15 100× sweep
    measured that shape heap-OOMing the memory sink (SCALING_r15.md
    finding 3), which is exactly why production runs sessions in append
    mode with a watermark: closed sessions emit once and EVICT, so state
    is O(open sessions) — measured EXACTLY FLAT at 121 rows across
    1×/10×/100× replay volume (`stream_session_windows_append_bounded`
    sweep row).

    Oracle-exactness on the time-ordered replay: no row is late, and a
    session emits exactly once, when the final watermark (global max ts −
    30 min) passes its end. The boundary is CLOSED by direct experiment:
    a session whose end EXACTLY equals the watermark IS emitted (probed
    with a synthetic end==watermark replay, r15), so the oracle keeps
    sessions with ``end <= wm`` — the same `<=` convention
    `stream_hourly_append_watermark` pins for tumbling windows, here
    certified for MERGING windows whose eviction additionally requires
    the session-gap closure. Gap rule mirrors the complete key (>= 30 min
    starts a new session); DECIMAL sums for order-independence."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )

    stream, _d = replay_events_stream_ordered(spark, sf_dir)  # memoized
    agg = (
        stream.withColumn("v", F.col("value").cast("decimal(18,6)"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )
    sink = run_to_table(agg, mode="append")
    return sink.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sv").cast("double"), 4).alias("sum_value"),
    )


ORACLE_STREAM_SESSIONS_APPEND = """
WITH e AS (
    SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DECIMAL(18,6)) AS v
    FROM events
), flagged AS (
    SELECT user_id, ts_us, v,
           CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
                  OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                     >= 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM e
), isl AS (
    SELECT user_id, ts_us, v,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                  ROWS UNBOUNDED PRECEDING) AS s
    FROM flagged
), cutoff AS (
    SELECT max(epoch_us(ts)) - 1800000000 AS wm_us FROM events
)
SELECT user_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(max(ts_us) + 1800000000 AS BIGINT) AS session_end_us,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(v) AS DOUBLE), 4) AS sum_value
FROM isl, cutoff
GROUP BY user_id, s, wm_us
HAVING max(ts_us) + 1800000000 <= wm_us
"""


def q_stream_hourly_append_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermark finalization, driver-checked: hourly windowed
    counts per event type with a 30-minute watermark, replayed as a real
    multi-micro-batch stream. Append mode emits a window exactly ONCE,
    when the watermark passes its end — so the closed sink contains
    precisely the windows whose end <= global_max_ts - 30min, and the
    trailing unfinalized windows are (correctly) absent. That cutoff is a
    deterministic function of the data, which is what makes the
    watermark CONTRACT itself oracle-checkable — the complete-mode keys
    certify state accumulation; this one certifies finalization and the
    late-data horizon (late-row dropping is pinned separately in
    tests/test_streaming.py). DECIMAL sums for order-independence."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )

    # TIME-ORDERED replay: append+watermark semantics are only meaningful
    # on a feed delivered in roughly event-time order — the round-robin
    # replay would mark most rows late (see replay_events_stream_ordered)
    stream, _d = replay_events_stream_ordered(spark, sf_dir)  # memoized
    agg = (
        stream.withColumn("v", F.col("value").cast("decimal(18,6)"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    )
    sink = run_to_table(agg, mode="append")
    return sink.select(
        F.unix_micros("w.start").alias("window_start_us"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sv").cast("double"), 4).alias("sum_value"),
    )


ORACLE_STREAM_APPEND_WM = """
WITH cutoff AS (
    SELECT max(epoch_us(ts)) - 1800000000 AS wm_us FROM events
)
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events, cutoff
GROUP BY 1, 2, wm_us
HAVING epoch_us(time_bucket(INTERVAL '1 hour', min(ts))) + 3600000000 <= wm_us
"""


def q_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner interval join, driver-checked — the two-sided-
    state Structured Streaming shape the suite's aggregation keys can't
    certify: views join clicks per user within [view_ts, view_ts + 2h],
    BOTH sides watermarked 30 min, replayed as a real multi-micro-batch
    stream (each trigger advances one time-range file on each source, so
    matches genuinely span buffered state from earlier batches).

    Why this is oracle-EXACT and not merely rows-checked: on the
    TIME-ORDERED replay every row of batch i+1 has ts > cut_i, so no row
    is ever late, and a click c only needs view state v ≥ c − 2h >
    cut_i − 2h, while eviction requires v + 2h < cut_i − delay — i.e.
    evicted view state is always strictly older than any possible match,
    for ANY delay ≥ 0. In-order feed + watermark ⇒ the streaming join
    emits exactly the batch interval join, which IS the oracle. The sink
    pairs then aggregate batch-side to per-view-hour counts with exact
    integer lag sums."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )

    s1, _d1 = replay_events_stream_ordered(spark, sf_dir)
    s2, _d2 = replay_events_stream_ordered(spark, sf_dir)
    views = (
        s1.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("vts"))
        .withWatermark("vts", "30 minutes")
    )
    clicks = (
        s2.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("cts"))
        .withWatermark("cts", "30 minutes")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND cts >= vts AND cts <= vts + interval 2 hours"
        ),
        "inner",
    )
    sink = run_to_table(joined, mode="append")
    return (
        sink.select(
            F.unix_micros(F.date_trunc("hour", F.col("vts"))).alias("view_hour_us"),
            "v_user",
            (F.unix_micros("cts") - F.unix_micros("vts")).alias("lag_us"),
        )
        .groupBy("view_hour_us")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("v_user").cast("bigint").alias("n_users"),
            F.sum("lag_us").cast("bigint").alias("sum_lag_us"),
        )
        .orderBy("view_hour_us")
    )


ORACLE_STREAM_STREAM_JOIN = """
WITH pairs AS (
    SELECT v.user_id,
           epoch_us(date_trunc('hour', v.ts)) AS view_hour_us,
           epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
)
SELECT view_hour_us,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(lag_us) AS BIGINT) AS sum_lag_us
FROM pairs
GROUP BY view_hour_us
ORDER BY view_hour_us
"""


def q_stream_join_left_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join, driver-checked (r9) — the state-
    EVICTION side of the join story `stream_stream_interval_join` (inner)
    can't certify: unmatched views must be emitted WITH NULL click columns
    once the watermark proves no match can still arrive. Views left-join
    clicks per user within [vts, vts + 30 min], both sides watermarked
    30 min, on the time-ordered multi-micro-batch replay.

    Why oracle-EXACT: (a) matches — in-order feed means a click only needs
    view state newer than anything evictable (the inner key's argument,
    any delay ≥ 0), so every batch-join pair is emitted; (b) null rows —
    a view's match horizon closes at vts + 30 min; after the final
    no-data micro-batch the event-time watermark rests at max(ts) − 30 min,
    so every unmatched view with vts ≤ max(ts) − 2 h (window + delay + 1 h
    batch-boundary margin) has provably been flushed. Both engines
    restrict to that CLOSED HORIZON — the production pattern for reading
    an outer-join sink (rows past the horizon are still in flight).
    Counts are exact integers; no floats anywhere.

    Scale: two watermarked sides keyed by user — state is bounded by the
    30-min window per key and evicted by watermark; the horizon cutoff is
    a 1-row broadcast; the sink aggregates at hour grain (time-domain-
    bounded)."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )

    s1, _d1 = replay_events_stream_ordered(spark, sf_dir)
    s2, _d2 = replay_events_stream_ordered(spark, sf_dir)
    views = (
        s1.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("vts"))
        .withWatermark("vts", "30 minutes")
    )
    clicks = (
        s2.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("cts"))
        .withWatermark("cts", "30 minutes")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND cts >= vts AND cts <= vts + interval 30 minutes"
        ),
        "left_outer",
    )
    sink = run_to_table(joined, mode="append")
    cutoff = load_table(spark, sf_dir, "events").agg(
        (F.max(F.unix_micros("ts")) - F.lit(7_200_000_000)).alias("cut_us")
    )
    closed = sink.join(
        F.broadcast(cutoff), F.unix_micros("vts") <= F.col("cut_us")
    )
    return (
        closed.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("vts"))).alias("view_hour_us")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("cts").cast("bigint").alias("n_matched"),
            F.sum(F.when(F.col("cts").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched"),
            F.countDistinct("v_user").cast("bigint").alias("n_users"),
        )
        .orderBy("view_hour_us")
    )


ORACLE_STREAM_LEFT_OUTER = """
WITH cut AS (SELECT epoch_us(max(ts)) - 7200000000 AS cut_us FROM events),
v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
joined AS (
    SELECT v.user_id, v.ts AS vts, c.ts AS cts
    FROM v LEFT JOIN c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE epoch_us(v.ts) <= (SELECT cut_us FROM cut)
)
SELECT epoch_us(date_trunc('hour', vts)) AS view_hour_us,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(cts) AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN cts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM joined
GROUP BY view_hour_us
ORDER BY view_hour_us
"""


def q_stream_topk_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING GROUPED TOP-K, driver-checked (r9) — the stateful twin of
    ``operators/topk.grouped_topk_two_phase`` (the salted batch operator
    the r8 ANN rework routes through): per event_type, the running top-5
    events by (value DESC, event_id ASC) held as bounded k-row state
    across a real multi-micro-batch replay. The merge property (top-k of a
    union ⊆ union of per-part top-k's) makes the final state independent
    of how rows were batched — so after the last trigger it must equal the
    batch rank window, which IS the oracle. Each emission is stamped with
    the strictly-increasing cumulative ``n_seen``; the final answer per
    group is its max-``n_seen`` emission, selected batch-side from the
    tiny (groups × k × batches) update-mode sink. Raw ``value`` doubles
    pass through untouched on both engines — hash-exact without rounding."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )
    from rocana_impala_udfs_spark.streaming.topk_stream import (
        running_grouped_topk_stream,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    out = running_grouped_topk_stream(stream, k=5)
    # python_stateful=False: the state key space is the event-type DOMAIN
    # (a handful of groups), so core-count state partitions are mostly
    # empty stores — the machinery floor measured 2× faster at sf0.1 (r16)
    sink = run_to_table(out, mode="update", python_stateful=False)
    mx = sink.groupBy(F.col("group").alias("g")).agg(F.max("n_seen").alias("mx"))
    return (
        sink.join(
            F.broadcast(mx),
            (sink["group"] == mx["g"]) & (sink["n_seen"] == mx["mx"]),
        )
        .select(
            F.col("group").alias("event_type"),
            "rk",
            "event_id",
            "value",
            F.col("n_seen").cast("bigint").alias("n_seen"),
        )
        .orderBy("event_type", "rk")
    )


def q_stream_topk_events_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-SINK twin of ``stream_topk_events_per_type``
    (VERDICT r15 #4): the same bounded k-row top-k state, but the
    update-mode delta emissions are foreachBatch-MERGEd (last-writer-wins
    on (group, rk)) into a keyed target instead of being accumulated in a
    memory sink and re-filtered by max n_seen. The certified property
    moves from 'the final emission can be selected out of the full
    emission history' to 'a keyed upsert target maintained from the
    deltas equals the batch answer' — the shape a real serving table is
    maintained in. Per-trigger sink traffic is O(groups × k), target size
    is groups × k rows, and no historical emission is retained anywhere.
    Oracle: identical to the complete-vehicle key (the merge target's
    newest row per key carries the final state, n_seen included)."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_foreach_batch_merge,
    )
    from rocana_impala_udfs_spark.streaming.topk_stream import (
        running_grouped_topk_stream,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    out = running_grouped_topk_stream(stream, k=5)
    # domain-bounded group keys — see the complete-vehicle twin above
    merged = run_foreach_batch_merge(out, ["group", "rk"], python_stateful=False)
    return (
        merged.select(
            F.col("group").alias("event_type"),
            "rk",
            "event_id",
            "value",
            F.col("n_seen").cast("bigint").alias("n_seen"),
        )
        .orderBy("event_type", "rk")
    )


ORACLE_STREAM_TOPK = """
WITH ranked AS (
    SELECT event_type, event_id, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
    FROM events
),
cnt AS (SELECT event_type, count(*) AS n_seen FROM events GROUP BY 1)
SELECT r.event_type, CAST(r.rk AS INT) AS rk, r.event_id, r.value,
       CAST(c.n_seen AS BIGINT) AS n_seen
FROM ranked r JOIN cnt c USING (event_type)
WHERE r.rk <= 5
ORDER BY r.event_type, r.rk
"""


def q_stream_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC latest-wins materialized view, driver-checked (r9) —
    the streaming twin of ``cdc_apply_latest``: the event op stream
    (signup=insert, error=delete, rest=update) maintains per-user
    latest-row state across a real multi-micro-batch replay with the
    BUILT-IN ``max_by(row, struct(ts_us, event_id))`` aggregate in
    complete mode. latest-wins is a mergeable aggregate, so the final
    table is ARRIVAL-ORDER-INVARIANT — the round-robin (unordered) replay
    is exactly the adversarial input — and must equal the batch one-window
    answer, which IS the oracle. State is one row per user (the
    materialized view itself); no Python worker, pure JVM typed agg."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    ops = stream.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    latest = ops.groupBy("user_id").agg(
        F.max_by(
            F.struct("op", "value", "ts_us", "event_id"),
            F.struct(F.col("ts_us"), F.col("event_id")),
        ).alias("s")
    )
    sink = run_to_table(latest, mode="complete")
    return (
        sink.select("user_id", "s.op", "s.value", "s.ts_us", "s.event_id")
        .filter(F.col("op") != "D")
        .orderBy("user_id")
    )


def q_stream_cdc_latest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-SINK twin of ``stream_cdc_latest_state`` (VERDICT
    r15 #4): the same one-row-per-user ``max_by`` latest-wins state, but
    run in UPDATE output mode with the per-trigger changed-key deltas
    foreachBatch-MERGEd into a keyed target — the CDC-to-serving-table
    shape (MERGE INTO target USING updates), certified without
    complete-mode re-emission. State is identical to the complete twin
    (the view itself); what changes is sink traffic: O(users touched per
    trigger) instead of O(all users) per trigger. A user's newest
    emission carries the max_by over everything seen for that user, so
    the compacted target equals the complete-mode table — same oracle."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_foreach_batch_merge,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    ops = stream.select(
        "user_id",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        "value",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    latest = ops.groupBy("user_id").agg(
        F.max_by(
            F.struct("op", "value", "ts_us", "event_id"),
            F.struct(F.col("ts_us"), F.col("event_id")),
        ).alias("s")
    )
    merged = run_foreach_batch_merge(latest, ["user_id"])
    return (
        merged.select("user_id", "s.op", "s.value", "s.ts_us", "s.event_id")
        .filter(F.col("op") != "D")
        .orderBy("user_id")
    )


def q_stream_cdc_user_day_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIGH-KEY-CARDINALITY CDC merge view (r16): latest event per
    (user_id, day) maintained from update-mode deltas via the
    foreachBatch merge sink. This is the shape where the merge sink's
    O(touched keys per trigger) traffic actually SEPARATES from
    complete-mode re-emission: on the TIME-ORDERED replay each (user,
    day) key is touched in essentially one trigger (its day's file), so
    the upsert log totals ~K delta rows while a complete-mode sink
    re-emits all K keys every trigger — T×K over the query lifetime,
    unbounded as a production stream keeps running. The per-user CDC
    pair (stream_cdc_latest_state/merge) measures the other end — every
    key touched every trigger, deltas == table — and the two pairs
    bracket the regime (SCALING_STREAM_r16). State here is one row per
    (user, day), the same unbounded-keyspace contract as the per-user
    twin; eviction belongs to watermarked variants.

    Oracle: last-writer-wins per (user, day) by (ts_us, event_id) — an
    arrival-order-invariant mergeable aggregate, so the ordered replay's
    batching cannot change the final target."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_foreach_batch_merge,
    )

    stream, _d = replay_events_stream_ordered(spark, sf_dir)  # memoized
    rows = stream.select(
        "user_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
        "value",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    latest = rows.groupBy("user_id", "day").agg(
        F.max_by(
            F.struct("value", "ts_us", "event_id"),
            F.struct(F.col("ts_us"), F.col("event_id")),
        ).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    merged = run_foreach_batch_merge(latest, ["user_id", "day"])
    return merged.select(
        "user_id", "day", "s.value", "s.ts_us", "s.event_id", "n_events"
    ).orderBy("user_id", "day")


ORACLE_STREAM_CDC_USER_DAY = """
WITH e AS (
    SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, value,
           epoch_us(ts) AS ts_us, event_id
    FROM events
),
latest AS (
    SELECT user_id, day, value, ts_us, event_id,
           count(*) OVER (PARTITION BY user_id, day) AS n_events
    FROM e
    QUALIFY row_number() OVER (PARTITION BY user_id, day
                               ORDER BY ts_us DESC, event_id DESC) = 1
)
SELECT user_id, day, value, ts_us, event_id, CAST(n_events AS BIGINT) AS n_events
FROM latest
ORDER BY user_id, day
"""


ORACLE_STREAM_CDC_LATEST = """
WITH ops AS (
    SELECT user_id,
           CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op,
           value, epoch_us(ts) AS ts_us, event_id
    FROM events
),
latest AS (
    SELECT user_id, op, value, ts_us, event_id
    FROM ops
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) = 1
)
SELECT user_id, op, value, ts_us, event_id FROM latest WHERE op <> 'D'
ORDER BY user_id
"""


def q_stream_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EWMA fold, driver-checked (r9) — promotes the
    pytest-pinned ``running_ewma_stream`` to an oracle key: per-user
    exponential smoothing (alpha=0.1) folded across the TIME-ORDERED
    bounded replay. Each micro-batch sorts its own rows by (ts, event_id)
    and folds them into the persisted (acc, n) state; because the ordered
    replay's batch ranges partition the timeline (every batch-i+1 row has
    ts strictly beyond cut_i, equal-ts ties never straddle a cut), the
    cross-batch fold order is exactly the batch (ts, event_id) order — so
    the final state per user is bit-identical to the batch left fold,
    which the oracle replays with DuckDB list_reduce (same IEEE
    ``0.1*x + (1-0.1)*acc`` chain, no rounding). Final answer per user =
    its max-``n_events`` emission from the update-mode sink."""
    from rocana_impala_udfs_spark.streaming.ewma_stream import running_ewma_stream
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )

    stream, _d = replay_events_stream_ordered(spark, sf_dir)  # memoized
    out = running_ewma_stream(stream, alpha=0.1)
    return _ewma_final_answer(run_to_table(out, mode="update"))


def _ewma_final_answer(sink: DataFrame) -> DataFrame:
    """Final answer per user from an update-mode EWMA sink: its
    max-``n_events`` emission (n_events is a monotone stamp). Shared by
    the applyInPandasWithState key and its transformWithStateInPandas
    twin so the selection rule cannot desynchronize between them."""
    mx = sink.groupBy(F.col("user_id").alias("u")).agg(F.max("n_events").alias("mx"))
    return (
        sink.join(
            F.broadcast(mx),
            (sink["user_id"] == mx["u"]) & (sink["n_events"] == mx["mx"]),
        )
        .select("user_id", "ewma", F.col("n_events").cast("bigint").alias("n_events"))
        .orderBy("user_id")
    )


ORACLE_STREAM_EWMA = """
WITH per AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id) AS vals,
           count(*) AS n
    FROM events GROUP BY user_id
)
SELECT CAST(user_id AS VARCHAR) AS user_id,
       list_reduce(vals, (acc, x) -> 0.1*x + (1 - 0.1)*acc) AS ewma,
       CAST(n AS BIGINT) AS n_events
FROM per ORDER BY user_id
"""


def _workers_can_import_protobuf(spark: SparkSession) -> bool:
    """True iff a JVM-spawned Python worker can import google.protobuf.

    The driver process activating the pbshim is not enough: workers inherit
    the PYTHONPATH the JVM was LAUNCHED with, so a harness that built its
    SparkSession before importing this package needs the fallback. One
    1-partition job, ~0.1 s, memoized per SparkContext."""
    sc = spark.sparkContext
    # key by (applicationId, startTime), NOT id(sc): CPython recycles freed
    # object addresses across context restarts, which would serve a stale
    # verdict to a brand-new JVM
    memo_key = (sc.applicationId, sc.startTime)
    cached = _PB_WORKER_PROBE.get(memo_key)
    if cached is not None:
        return cached
    try:
        ok = bool(
            sc.parallelize([0], 1)
            .map(lambda _: __import__("google.protobuf.descriptor") is not None)
            .first()
        )
    except Exception as exc:  # worker raised — import failure or transient
        # Only a GENUINE worker-side import failure is a durable verdict
        # (ADVICE r11): a transient probe failure (executor startup
        # hiccup, task retry exhaustion) must not pin the session onto
        # the fallback twins forever, so it returns False UNCACHED and
        # the next key re-probes.  r12 review tightening: an unrelated
        # crash traceback can embed the substring "ImportError" (e.g. a
        # flaky native lib imported during worker startup), so the durable
        # verdict additionally requires the failing module to be the one
        # this probe imports — google.protobuf itself.
        msg = str(exc)
        import_failed = "ImportError" in msg or "ModuleNotFoundError" in msg
        about_protobuf = "'google'" in msg or "google.protobuf" in msg
        if import_failed and about_protobuf:
            _PB_WORKER_PROBE[memo_key] = False
        return False
    _PB_WORKER_PROBE[memo_key] = ok
    return ok


_PB_WORKER_PROBE: dict = {}

def q_stream_tws_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transformWithStateInPandas`` (Spark 4's successor stateful API),
    driver-checked (r10, VERDICT r9 #6) — the same per-user EWMA fold as
    ``stream_ewma_user_value`` but held in a typed ``ValueState`` handle
    inside a ``StatefulProcessor``. Fold math, state tuple, replay
    ordering, and final-answer selection are IDENTICAL to the
    applyInPandasWithState key, so the same list_reduce oracle applies
    bit-for-bit.

    Runtime gate: the tws Python workers (executor-side and the driver
    worker the JVM spawns) import ``google.protobuf``. This repo vendors a
    clean-room minimal runtime (``vendor/pbshim`` — public wire-format
    spec) that ``session.get_spark`` and ``__spark_entry__`` activate via
    PYTHONPATH before the JVM launches, so the genuine
    ``TransformWithStateInPandasExec`` plan runs here end to end (pinned by
    ``tests/test_plans.py``). The gate below PROBES worker-side
    importability with a one-partition job — only if the hosting harness
    launched its JVM without the shim on PYTHONPATH does the key fall back
    to the value-identical applyInPandasWithState twin
    (``tests/test_streaming.py::test_running_ewma_transform_with_state``
    pins the two paths bit-identical)."""
    from rocana_impala_udfs_spark.streaming.ewma_stream import running_ewma_tws
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )
    from rocana_impala_udfs_spark.vendor.pbshim import ensure_protobuf

    if not ensure_protobuf() or not _workers_can_import_protobuf(spark):
        # tws workers could not import protobuf in this JVM: delegate to
        # the applyInPandasWithState twin
        return q_stream_ewma_user_value(spark, sf_dir)
    stream, _d = replay_events_stream_ordered(spark, sf_dir)  # memoized
    sink = run_to_table(
        running_ewma_tws(stream, alpha=0.1),
        mode="update",
    )
    return _ewma_final_answer(sink)


def q_stream_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EXACT DISTINCT via bitmap state, driver-checked (r9) —
    promotes the pytest-pinned ``running_bitmap_distinct_stream`` to an
    oracle key: per event_type, a sparse (word → 64-bit mask) map merged
    by bitwise OR across the unordered replay. OR is a commutative
    idempotent monoid, so the final count is arrival-order- AND
    duplication-invariant — exactly ``count(DISTINCT user_id)``, the
    oracle. Both ``n_distinct`` and ``n_words`` are monotone
    nondecreasing across emissions, so the final answer per group is the
    per-column max over the tiny update-mode sink. State is
    O(universe/64) words per group — the exact/compact middle ground the
    batch ``bitmap_intersect_users`` key establishes."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )
    from rocana_impala_udfs_spark.streaming.sketch_stream import (
        running_bitmap_distinct_stream,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    out = running_bitmap_distinct_stream(stream, "user_id", "event_type")
    sink = run_to_table(out, mode="update")
    return (
        sink.groupBy(F.col("group").alias("event_type"))
        .agg(
            F.max("n_distinct").cast("bigint").alias("n_distinct"),
            F.max("n_words").cast("int").alias("n_words"),
        )
        .orderBy("event_type")
    )


ORACLE_STREAM_BITMAP = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
       CAST(count(DISTINCT user_id // 64) AS INT) AS n_words
FROM events WHERE user_id IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def q_stream_tws_bitmap_map_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EXACT DISTINCT on ``transformWithStateInPandas`` with the
    sparse word→bits dictionary in a typed ``MapState`` (r11) — certifies
    the MAP-state wire protocol (getMapState / containsKey / getValue /
    updateValue / iterator) end to end through the vendored protobuf
    runtime, on top of the ValueState certification the EWMA key gives.
    Same OR-monoid as ``stream_bitmap_distinct_users`` (arrival-order- and
    duplication-invariant), same monotone final-answer selection, same
    count(DISTINCT) oracle. MapState point-writes only the TOUCHED words
    per batch — O(touched) state IO versus the twin's full-dictionary
    rewrite, the access pattern that matters at a 100 TB universe.

    Same probe-gated fallback to the applyInPandasWithState twin as
    ``stream_tws_ewma_user_value`` (values pinned identical in pytest)."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )
    from rocana_impala_udfs_spark.streaming.sketch_stream import (
        running_bitmap_distinct_stream,
        running_bitmap_distinct_tws,
    )
    from rocana_impala_udfs_spark.vendor.pbshim import ensure_protobuf

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    # python_stateful=False (r17, VERDICT r16 #7): the group domain is the
    # handful of event types, so core-count state partitions are mostly
    # empty stores — the machinery floor wins (the same declaration the
    # grouped top-k keys carry).
    if not ensure_protobuf() or not _workers_can_import_protobuf(spark):
        sink = run_to_table(
            running_bitmap_distinct_stream(stream, "user_id", "event_type"),
            mode="update",
            python_stateful=False,
        )
    else:
        sink = run_to_table(
            running_bitmap_distinct_tws(stream, "user_id", "event_type"),
            mode="update",
            python_stateful=False,
        )
    return (
        sink.groupBy(F.col("group").alias("event_type"))
        .agg(
            F.max("n_distinct").cast("bigint").alias("n_distinct"),
            F.max("n_words").cast("int").alias("n_words"),
        )
        .orderBy("event_type")
    )


def q_stream_tws_topk_list_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING GROUPED TOP-K on ``transformWithStateInPandas`` with the
    k rows in a typed ``ListState`` plus the cumulative count in a second
    ``ValueState`` (r11) — certifies the LIST-state wire protocol
    (listStateGet / listStatePut) and multi-variable state handles end to
    end through the vendored protobuf runtime. Top-k of a union under the
    total order (value DESC, event_id ASC) is batch-split-invariant, so
    the final state equals the batch rank window — the same oracle as
    ``stream_topk_events_per_type``; final answer = max-``n_seen``
    emission per group from the update-mode sink.

    Same probe-gated fallback to the applyInPandasWithState twin as
    ``stream_tws_ewma_user_value`` (values pinned identical in pytest)."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )
    from rocana_impala_udfs_spark.streaming.topk_stream import (
        running_grouped_topk_stream,
        running_grouped_topk_tws_list,
    )
    from rocana_impala_udfs_spark.vendor.pbshim import ensure_protobuf

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    # python_stateful=False: domain-bounded group keys (see
    # q_stream_topk_events_per_type) — the machinery floor wins
    if not ensure_protobuf() or not _workers_can_import_protobuf(spark):
        sink = run_to_table(
            running_grouped_topk_stream(stream, k=5),
            mode="update",
            python_stateful=False,
        )
    else:
        sink = run_to_table(
            running_grouped_topk_tws_list(stream, k=5),
            mode="update",
            python_stateful=False,
        )
    mx = sink.groupBy(F.col("group").alias("g")).agg(F.max("n_seen").alias("mx"))
    return (
        sink.join(
            F.broadcast(mx),
            (sink["group"] == mx["g"]) & (sink["n_seen"] == mx["mx"]),
        )
        .select(
            F.col("group").alias("event_type"),
            "rk",
            "event_id",
            "value",
            F.col("n_seen").cast("bigint").alias("n_seen"),
        )
        .orderBy("event_type", "rk")
    )


_SESSION_GAP_MIN = 720  # 12 h — sits inside the per-user gap distribution
_SESSION_DELAY_MIN = 30


def _batch_session_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gaps-and-islands twin of ``running_session_gap_tws`` including
    the watermark-tail rule (a user's final session only counts when its
    timer would have fired before the final watermark, at Spark's ms
    granularity) — the probe-gated fallback for protobuf-less harnesses."""
    gap_us = _SESSION_GAP_MIN * 60_000_000
    # NULL keys excluded like the tws path and the oracle (fixtures carry
    # none, but the three texts must agree on any corpus)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.col("user_id").cast("string").alias("user_id"),
            F.unix_micros("ts").alias("us"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us")
    isl = ev.withColumn(
        "brk",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn("sid", F.sum("brk").over(w))
    sess = isl.groupBy("user_id", "sid").agg(
        F.min("us").alias("session_start_us"),
        F.max("us").alias("session_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    mx = ev.agg(F.max("us").alias("mxus"))
    last = sess.groupBy(F.col("user_id").alias("u2")).agg(F.max("sid").alias("last_sid"))
    return (
        sess.join(F.broadcast(last), (sess["user_id"] == last["u2"]))
        .crossJoin(F.broadcast(mx))
        .filter(
            (F.col("sid") < F.col("last_sid"))
            | (
                F.floor(F.col("session_end_us") / 1000)
                + F.lit(_SESSION_GAP_MIN * 60_000)
                <= F.floor(F.col("mxus") / 1000) - F.lit(_SESSION_DELAY_MIN * 60_000)
            )
        )
        .select("user_id", "session_start_us", "session_end_us", "n_events")
    )


def q_stream_tws_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAP SESSIONIZATION VIA EVENT-TIME TIMERS on tws (r11) — certifies
    the last uncovered tws protocol surface: registerTimer / deleteTimer /
    handleExpiredTimer / TimerValues, through the vendored protobuf
    runtime. Per user, a session closes inline when the next event's gap
    exceeds 12 h, or by its ``last_ts + gap`` event-time timer once the
    watermark passes; each closed session is emitted exactly once and
    open-tail sessions are never emitted — the timer-driven form of the
    append-mode finalization contract ``stream_hourly_append_watermark``
    pins for windowed aggregation.

    Oracle: batch gaps-and-islands sessions, minus each user's final
    session unless ``floor(last_us/1000) + gap_ms <= floor(max_us/1000) −
    delay_ms`` (Spark watermarks are ms-granular) — a deterministic
    function of the data because the ordered replay makes no row late and
    input rows process before expired timers within a batch.

    Probe-gated fallback to a value-identical batch gaps-and-islands plan
    where the hosting JVM lacks protobuf (pytest pins the two equal)."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )
    from rocana_impala_udfs_spark.streaming.session_tws import (
        running_session_gap_tws,
    )
    from rocana_impala_udfs_spark.vendor.pbshim import ensure_protobuf

    if not ensure_protobuf() or not _workers_can_import_protobuf(spark):
        sink = _batch_session_fallback(spark, sf_dir)
    else:
        stream, _d = replay_events_stream_ordered(spark, sf_dir)  # memoized
        sink = run_to_table(
            running_session_gap_tws(
                stream,
                gap_minutes=_SESSION_GAP_MIN,
                delay=f"{_SESSION_DELAY_MIN} minutes",
            ),
            mode="append",
        )
    return sink.select(
        "user_id",
        "session_start_us",
        "session_end_us",
        F.col("n_events").cast("bigint").alias("n_events"),
    ).orderBy("user_id", "session_start_us")


ORACLE_STREAM_SESSION_TIMERS = f"""
WITH e AS (
    SELECT CAST(user_id AS VARCHAR) AS user_id, epoch_us(ts) AS us
    FROM events WHERE user_id IS NOT NULL
),
g AS (
    SELECT user_id, us,
           CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                     OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                        > {_SESSION_GAP_MIN * 60_000_000}
                THEN 1 ELSE 0 END AS brk
    FROM e
),
isl AS (SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id ORDER BY us) AS sid FROM g),
sess AS (
    SELECT user_id, sid, min(us) AS session_start_us, max(us) AS session_end_us,
           count(*) AS n_events
    FROM isl GROUP BY user_id, sid
),
mx AS (SELECT max(us) AS mxus FROM e),
lastsess AS (SELECT user_id AS u2, max(sid) AS last_sid FROM sess GROUP BY user_id)
SELECT s.user_id, s.session_start_us, s.session_end_us,
       CAST(s.n_events AS BIGINT) AS n_events
FROM sess s JOIN lastsess ls ON s.user_id = ls.u2, mx
WHERE s.sid < ls.last_sid
   OR (s.session_end_us // 1000 + {_SESSION_GAP_MIN * 60_000})
      <= (mx.mxus // 1000 - {_SESSION_DELAY_MIN * 60_000})
ORDER BY s.user_id, s.session_start_us
"""


def q_stream_tws_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REFERENCE'S OWN AGGREGATE, STREAMING, DRIVER-CHECKED — the
    bounded reservoir median (``median.cc``'s five-phase UDA) carried
    across micro-batches by ``running_median_stream``: the JVM Aggregator
    as a native state-store aggregation whose persisted state IS the
    reservoir buffer (median.cc:165-194), merged into each trigger's
    partial (median.cc:228-282), finalize emitted per trigger
    (median.cc:284-304).

    The key once ran a ``transformWithStateInPandas`` twin and keeps its
    name because the oracle and the correctness history are filed under
    it; no tws operator runs here now.

    Exact regime: max_samples=1,000,000 exceeds every per-type count at
    every harness SF (≤ ~20.3k at sf0.1; ~200k at the derived sf1x sweep),
    so the reservoir never saturates and the emitted value is the exact
    upper median — the same deterministic
    contract the batch ``appx_median_*`` keys certify, with bounded state
    still structurally enforced (the reference's design property).
    Final answer per group = its max-``source_size`` emission (monotone)."""
    from rocana_impala_udfs_spark.streaming.median_stream import running_median_stream
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    sink = run_to_table(
        running_median_stream(stream, max_samples=1_000_000), mode="update"
    )
    mx = sink.groupBy(F.col("group").alias("g")).agg(
        F.max("source_size").alias("mx")
    )
    return (
        sink.join(
            F.broadcast(mx),
            (sink["group"] == mx["g"]) & (sink["source_size"] == mx["mx"]),
        )
        .select(
            F.col("group").alias("event_type"),
            "median",
            F.col("source_size").cast("bigint").alias("source_size"),
        )
        .orderBy("event_type")
    )


ORACLE_STREAM_MEDIAN = """
WITH ranked AS (
    SELECT event_type, value AS x,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL
)
SELECT CAST(event_type AS VARCHAR) AS event_type, x AS median,
       CAST(n AS BIGINT) AS source_size
FROM ranked WHERE rn = n // 2 + 1
ORDER BY event_type
"""


_WARM_START_CUT = "2024-01-16"


def q_stream_tws_warm_start_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARM-STARTED tws EWMA (r11) — certifies ``handleInitialState`` and
    the ``initialState`` GroupedData parameter, the remaining tws entry
    point: the history prefix (ts < 2024-01-16) is folded BATCH-side into
    one (acc, n) row per user with the exact IEEE chain (F.aggregate over
    the (ts, event_id)-sorted list), handed to the processor as initial
    state, and the stream replays only the suffix. Warm-start + suffix is
    the same left fold as full history, so the oracle is the full-data
    list_reduce — identical to ``stream_ewma_user_value``'s. Users with no
    suffix events (none in the fixtures, but contract-handled) surface
    straight from the warm table via an anti-join union.

    This is the production bootstrap pattern: a streaming job taking over
    from a batch backfill without replaying the backfill through the
    stream. Probe-gated fallback: the full-stream applyInPandasWithState
    key (value-identical by the fold algebra)."""
    from rocana_impala_udfs_spark.streaming.ewma_stream import (
        running_ewma_tws_warm_start,
    )
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )
    from rocana_impala_udfs_spark.vendor.pbshim import ensure_protobuf

    if not ensure_protobuf() or not _workers_can_import_protobuf(spark):
        return q_stream_ewma_user_value(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    prefix = ev.filter(F.col("ts") < F.lit(_WARM_START_CUT))
    # NaN-coalesce matches the stream twins' pandas float cast (NULL value
    # → NaN poisons the rest of the chain); a bare s["value"] would go
    # NULL then RESTART at acc.isNull() — a third behavior neither twin
    # nor oracle has (self-review r11 #2; fixtures carry no NULL values).
    _v = lambda st: F.coalesce(st["value"], F.lit(float("nan")))  # noqa: E731
    warm = prefix.groupBy(F.col("user_id").cast("string").alias("user_id")).agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))),
            F.lit(None).cast("double"),
            lambda acc, st: F.when(acc.isNull(), _v(st)).otherwise(
                F.lit(0.1) * _v(st) + F.lit(0.9) * acc
            ),
        ).alias("acc"),
        F.count(F.lit(1)).alias("n"),
    )
    # the interpreted per-element fold is the expensive part and warm is
    # consumed twice (initialState + the anti-join) — materialize once
    warm = warm.localCheckpoint(eager=True)
    stream, _d = replay_events_stream_ordered(spark, sf_dir)  # memoized
    # NULL-ts rows ride the SUFFIX (isNull | >=): both cut predicates are
    # NULL-false, so a bare >= would silently drop them from the fold while
    # the full-history twin and oracle count them (self-review r11 #4)
    suffix = stream.filter(
        F.col("ts").isNull() | (F.col("ts") >= F.lit(_WARM_START_CUT))
    )
    sink = run_to_table(
        running_ewma_tws_warm_start(suffix, warm, alpha=0.1),
        mode="update",
    )
    streamed = _ewma_final_answer(sink)
    warm_only = (
        warm.join(
            streamed.select(F.col("user_id").alias("u2")),
            warm["user_id"].eqNullSafe(F.col("u2")),  # NULL key must match too
            "left_anti",
        )
        .select(
            "user_id",
            F.col("acc").alias("ewma"),
            F.col("n").cast("bigint").alias("n_events"),
        )
    )
    return streamed.unionByName(warm_only).orderBy("user_id")


def q_stream_tws_lsh_index_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING LSH INDEX MAINTENANCE (r11) — the ingest-time half of
    incremental near-dup detection: documents arrive in doc_id order, each
    is banded statelessly (md5-string MinHash, 16 hashes × 4 bands), and a
    tws ``ListState`` per (band_idx, band_hash) bucket emits candidate
    pairs against all prior members the moment a document lands
    (``streaming/dedup_stream.py:running_lsh_index_tws``). The batch
    bucketed-table probe (`dedup_incremental_minhash`) answers the daily-
    delta form of the same question; this certifies the per-arrival form.

    Oracle-exact BY CONSTRUCTION, not probabilistically: md5-hex-string
    minima are engine-portable (unlike xxhash64), so DuckDB reproduces
    every band hash bit-for-bit and the candidate SET (distinct pairs,
    dup_of < new_id by arrival order = id order) matches exactly —
    banding false-negative rates are irrelevant when both sides band
    identically.

    Probe-gated fallback: the batch band self-join over the same
    md5_band_columns (value-identical — pinned in pytest along with the
    stream==batch==DuckDB three-way parity)."""
    from rocana_impala_udfs_spark.streaming.dedup_stream import (
        md5_band_columns,
        running_lsh_index_tws,
    )
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_documents_stream_ordered,
        run_to_table,
    )
    from rocana_impala_udfs_spark.vendor.pbshim import ensure_protobuf

    docs = load_table(spark, sf_dir, "documents")
    if not ensure_protobuf() or not _workers_can_import_protobuf(spark):
        b = md5_band_columns(docs)
        a, c = b.alias("a"), b.alias("b")
        pairs = (
            a.join(
                c,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("dup_of"), F.col("b.id").alias("new_id"))
        )
    else:
        stream, _d = replay_documents_stream_ordered(spark, sf_dir)  # memoized
        sink = run_to_table(
            running_lsh_index_tws(stream),
            mode="update",
        )
        pairs = sink.select("dup_of", "new_id")
    return pairs.distinct().orderBy("dup_of", "new_id")


ORACLE_STREAM_LSH_INDEX = """
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
    FROM documents
),
words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
sh AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w FROM words WHERE len(w) >= 3),
shingles AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s FROM sh),
seeds AS (SELECT unnest(range(16)) AS seed),
mins AS (
    SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || '|' || s)) AS h
    FROM shingles, seeds GROUP BY doc_id, seed
),
bands AS (
    SELECT doc_id, seed // 4 AS band_idx, md5(string_agg(h, '' ORDER BY seed)) AS bh
    FROM mins GROUP BY doc_id, seed // 4
)
SELECT DISTINCT a.doc_id AS dup_of, b.doc_id AS new_id
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
ORDER BY dup_of, new_id
"""


def q_stream_tws_lsh_bounded_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE streaming LSH index (r12, VERDICT r11 #1) — the same
    tws bucket processor as ``stream_tws_lsh_index_candidates`` but with
    ``bucket_cap=2``: a bucket keeps only its first 2 member ids, and any
    later arrival into that bucket emits ONE overflow-marker row
    ``(dup_of=-1, new_id)`` instead of O(|bucket|) pairs and is not
    appended — per-arrival emission and per-bucket state are both O(cap)
    no matter how boilerplate-heavy the corpus. The markers are the
    hand-off contract: they name exactly the documents whose dup check
    must fall back to the standing batch index
    (``dedup_index_compaction_probe`` proves that half). This is the
    reference's bounded-aggregation-state doctrine (``median.h:27-29``)
    applied to the one streaming component that previously grew without
    bound.

    Deterministic on the doc-id-ordered replay, so fully oracle-checked:
    "first cap members" = the cap lowest doc_ids = rank ≤ cap within the
    bucket; pairs are all (lo, hi) with rank ≤ cap, markers everything
    above. cap=2 is chosen to EXERCISE overflow at every test SF (max
    bucket size is 3-4 here). TTL-evicted variants are wall-clock-
    dependent and stay pytest-only (``tests/test_streaming.py``).

    Probe-gated fallback (no worker protobuf): the identical rank
    semantics as a batch window over the banded frame — bounded per
    bucket, never a fact-row sort."""
    from rocana_impala_udfs_spark.streaming.dedup_stream import (
        md5_band_columns,
        running_lsh_index_tws,
    )
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_documents_stream_ordered,
        run_to_table,
    )
    from rocana_impala_udfs_spark.vendor.pbshim import ensure_protobuf

    cap = 2
    if not ensure_protobuf() or not _workers_can_import_protobuf(spark):
        from rocana_impala_udfs_spark.streaming.dedup_stream import (
            bounded_bucket_frames,
        )

        docs = load_table(spark, sf_dir, "documents")
        pairs, markers = bounded_bucket_frames(md5_band_columns(docs), cap)
        out = pairs.unionByName(
            markers.select(
                F.lit(-1).cast("bigint").alias("dup_of"),
                F.col("id").alias("new_id"),
            )
        )
    else:
        stream, _d = replay_documents_stream_ordered(spark, sf_dir)  # memoized
        sink = run_to_table(
            running_lsh_index_tws(stream, bucket_cap=cap),
            mode="update",
        )
        out = sink.select("dup_of", "new_id")
    return out.distinct().orderBy("dup_of", "new_id")


ORACLE_STREAM_LSH_BOUNDED = """
WITH norm AS (
    SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
    FROM documents
),
words AS (SELECT doc_id, string_split(t, ' ') AS w FROM norm),
sh AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w FROM words WHERE len(w) >= 3),
shingles AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS s FROM sh),
seeds AS (SELECT unnest(range(16)) AS seed),
mins AS (
    SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || '|' || s)) AS h
    FROM shingles, seeds GROUP BY doc_id, seed
),
bands AS (
    SELECT doc_id, seed // 4 AS band_idx, md5(string_agg(h, '' ORDER BY seed)) AS bh
    FROM mins GROUP BY doc_id, seed // 4
),
ranked AS (
    SELECT doc_id, band_idx, bh,
           row_number() OVER (PARTITION BY band_idx, bh ORDER BY doc_id) AS rn
    FROM bands
)
SELECT DISTINCT dup_of, new_id FROM (
    SELECT a.doc_id AS dup_of, b.doc_id AS new_id
    FROM ranked a JOIN ranked b
      ON a.band_idx = b.band_idx AND a.bh = b.bh
     AND a.rn < b.rn AND b.rn <= 2
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS dup_of, doc_id AS new_id
    FROM ranked WHERE rn > 2
)
ORDER BY dup_of, new_id
"""


def q_stream_kmv_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KMV DISTINCT in its exact regime, driver-checked (r9):
    the k-minimum-values sketch (k=4096) per event_type over user_id —
    while distinct < k the kept-hash set IS the distinct set, so
    ``est_distinct == count(DISTINCT user_id)`` exactly (64-bit hash
    collisions are the only caveat; none at test scale, and the batch
    twin shares the identical hash so any collision would cancel). The
    union-then-truncate state update is a commutative monoid, so the
    final state is arrival-order-invariant; final answer = max emission
    (monotone while unsaturated). The SATURATED regime (distinct ≥ k,
    (k−1)/h_k estimation) stays pytest-pinned like the batch KMV — the
    oracle key certifies the exact regime the driver can hash."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )
    from rocana_impala_udfs_spark.streaming.sketch_stream import (
        running_kmv_distinct_stream,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    out = running_kmv_distinct_stream(stream, "user_id", "event_type", k=4096)
    sink = run_to_table(out, mode="update")
    return (
        sink.groupBy(F.col("group").alias("event_type"))
        .agg(
            F.max("est_distinct").alias("est_distinct"),
            F.max("state_size").cast("int").alias("state_size"),
        )
        .orderBy("event_type")
    )


ORACLE_STREAM_KMV = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS DOUBLE) AS est_distinct,
       CAST(count(DISTINCT user_id) AS INT) AS state_size
FROM events WHERE user_id IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


def q_stream_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MISRA-GRIES heavy hitters in the exact regime,
    driver-checked (r9): the m=100 frequent-item summary over event_type
    values — the type domain is far below m, so the decrement never fires
    and every counter is the EXACT full count (the classic MG guarantee:
    error ≤ n/m, here 0 because #distinct < m). Per-value counters are
    monotone across emissions → final = max per (group, value). The
    lossy regime (m < #distinct, count ≥ true − n/m) stays pytest-pinned;
    this key certifies cross-batch counter-map state against the plain
    batch GROUP BY oracle."""
    from rocana_impala_udfs_spark.streaming.frequency_stream import (
        streaming_heavy_hitters,
    )
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    out = streaming_heavy_hitters(stream, "event_type", m=100)
    sink = run_to_table(out, mode="update")
    return (
        sink.groupBy(F.col("value").alias("event_type"))
        .agg(F.max("mg_count").cast("bigint").alias("n_events"))
        .orderBy("event_type")
    )


ORACLE_STREAM_MG = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EXACTLY-ONCE DELIVERY via the built-in
    ``dropDuplicatesWithinWatermark``, driver-checked (r9): the replay
    plants a full duplicate copy of every event (copies=2, arriving
    batches later), the stream dedups on event_id in APPEND mode, and the
    sink must hold each event EXACTLY once — i.e. the events table
    itself, which IS the oracle. Complements ``stream_dedup_event_counts``
    (complete-mode keyed counting) by certifying the dedup OPERATOR's
    append-mode first-seen emission and cross-batch state matching.

    Regime note: the watermark delay is set beyond the replay's time span
    so no row is late and no state evicts — the total-dedup regime the
    oracle can hash. Production's bounded-state trade (horizon ≥ max dup
    lag, older dups re-emit) is the operator's documented contract
    (streaming/dedup_stream.py); state here is O(distinct ids in
    horizon), the same bounded-state doctrine as every streaming key."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir, copies=2)  # memoized
    deduped = stream.withWatermark("ts", "3650 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = run_to_table(deduped, mode="append")
    return sink.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    ).orderBy("event_id")


ORACLE_STREAM_DEDUP_WM = """
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
FROM events ORDER BY event_id
"""


def q_stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC BROADCAST JOIN, driver-checked (r9) — the one core
    Structured-Streaming join shape no prior key certifies: each
    micro-batch of the events replay is enriched against the STATIC
    customer dimension (broadcast — the standard dimension-enrichment
    topology; stream-stream joins are `stream_stream_interval_join`).
    The join is stateless (no join state store; the static side is simply
    available to every batch), so streaming==batch holds trivially per
    row, and the complete-mode aggregation downstream makes the final
    sink the batch join+agg — which IS the oracle. LEFT join keeps
    NULL-user rows, certifying outer-join null semantics through the
    streaming path too.

    Scale: the dimension broadcasts once (a real cluster re-ships it per
    batch only if it changes); per-batch work is one map-side hash probe
    + the partial agg — no shuffle grows with history, state is the
    (segment × type) result grid. Exactness: value sums accumulate in
    DECIMAL(18,6) (order-independent across batches and tasks), cast to
    DOUBLE once at the end — both engines convert the identical exact
    decimal."""
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir)  # memoized
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(dim), "user_id", "left")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    sink = run_to_table(agg, mode="complete")
    return sink.orderBy("c_mktsegment", "event_type")


ORACLE_STREAM_STATIC_JOIN = """
SELECT c.c_mktsegment, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_markov_predict_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtested next-event prediction — the ML-eval shape on top of the
    Markov transition table: TRAIN on transitions whose successor lands in
    the first half of the timeline (epoch-midpoint split, exact integer),
    predict next_type = argmax transition count (tie → lexicographic),
    EVALUATE top-1 accuracy on the second-half transitions. Per-prev-type
    report in exact integers. Same single per-user window sort as the
    transition matrix; train/eval split is a residual filter, the argmax
    one tiny window over the ≤25-row model."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    bounds = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    steps = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
            "ts_us",
        )
        .filter(F.col("prev_type").isNotNull())
        .crossJoin(F.broadcast(bounds))
    )
    train = steps.filter(F.col("ts_us") <= F.col("mid"))
    model_w = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type")
    )
    model = (
        train.groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(model_w))
        .filter(F.col("rk") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    ev_steps = steps.filter(F.col("ts_us") > F.col("mid"))
    return (
        ev_steps.join(F.broadcast(model), "prev_type", "left")
        .groupBy("prev_type", "predicted")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(F.when(F.col("next_type") == F.col("predicted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
        .orderBy("prev_type")
    )


ORACLE_MARKOV_EVAL = """
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
),
bounds AS (SELECT CAST((min(ts_us) + max(ts_us)) // 2 AS BIGINT) AS mid FROM ev),
steps AS (
    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type,
           event_type AS next_type, ts_us
    FROM ev
),
flt AS (SELECT * FROM steps, bounds WHERE prev_type IS NOT NULL),
model AS (
    SELECT prev_type, next_type AS predicted FROM (
        SELECT prev_type, next_type, count(*) AS n,
               row_number() OVER (PARTITION BY prev_type ORDER BY count(*) DESC, next_type) AS rk
        FROM flt WHERE ts_us <= mid GROUP BY prev_type, next_type
    ) WHERE rk = 1
)
SELECT f.prev_type, m.predicted,
       CAST(count(*) AS BIGINT) AS n_eval,
       CAST(sum(CASE WHEN f.next_type = m.predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
FROM flt f LEFT JOIN model m ON m.prev_type = f.prev_type
WHERE f.ts_us > f.mid
GROUP BY f.prev_type, m.predicted
ORDER BY f.prev_type
"""


def q_ab_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et al.
    2013, the standard pre-experiment-covariate adjustment): users split
    into variants by a deterministic md5 gate, metric = per-user value sum
    in the second half of the timeline, covariate = first-half sum (0 when
    absent), theta = covar_samp/var_samp over all users, adjusted metric =
    y − θ·(x − x̄). Reports per-variant raw vs adjusted means and the
    realized variance-reduction ratio. Two shuffles: the per-user rollup
    and the 2-row variant agg; the 1-row theta frame broadcasts.

    Exactness: the per-user x/y sums accumulate in DECIMAL(18,6) (exact,
    order-independent), and since r9 the theta/variance stage is ALSO
    exact — integer micro-unit moments in DECIMAL(38,0), one closed-form
    double expression per output (see the inline comment below) — so no
    float accumulation survives anywhere in this key."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    bounds = ev.agg(F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid"))
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts_us") <= F.col("mid"),
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("double")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ts_us") > F.col("mid"),
                        F.col("value").cast("decimal(18,6)"),
                    )
                ),
                F.lit(0),
            )
            .cast("double")
            .alias("y"),
        )
        .withColumn(
            "variant",
            F.when(
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
                .cast("bigint") % 2
                == 0,
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    # r9 float-sum sweep (the VERDICT's "CUPED-class"): the old
    # covar_samp/var_samp stage summed per-user doubles, so theta — and
    # through y_adj every adjusted output — inherited combine-order low-bit
    # wobble that round(4) could flip. Now per-user x/y (already exact
    # 1e-6-grid values) become integer micro-units and the per-variant raw
    # moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate in DECIMAL(38,0);
    # global moments are the exact 2-row sum. theta, x̄, the adjusted mean
    # avg(y_adj) = avg(y) − θ(avg(x) − x̄), and
    # var_samp(y_adj) = var_y − 2θ·cov + θ²·var_x (exact linearity
    # identities) are each ONE identical double expression over exact
    # integers — bit-identical across engines. Headroom: Σx² in micro²
    # needs per-variant Σx² < 1e38; micro-units stay exact while
    # per-user |x|·1e6 < 2^53 — both documented 100 TB bounds.
    x6 = F.round(F.col("x") * 1000000).cast("decimal(38,0)")
    y6 = F.round(F.col("y") * 1000000).cast("decimal(38,0)")
    mv = (
        per_user.select("variant", x6.alias("x6"), y6.alias("y6"))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("x6").alias("sx"),
            F.sum("y6").alias("sy"),
            F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
            F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
            F.sum(F.col("y6") * F.col("y6")).alias("syy"),
        )
    )
    g = mv.agg(
        F.sum("n_users").alias("ng"),
        F.sum("sx").alias("gx"),
        F.sum("sy").alias("gy"),
        F.sum("sxy").alias("gxy"),
        F.sum("sxx").alias("gxx"),
        F.sum("syy").alias("gyy"),
    )
    j = mv.crossJoin(F.broadcast(g))
    ngd = F.col("ng").cast("decimal(38,0)")
    nvd = F.col("n_users").cast("decimal(38,0)")
    theta = (ngd * F.col("gxy") - F.col("gx") * F.col("gy")).cast("double") / (
        ngd * F.col("gxx") - F.col("gx") * F.col("gx")
    ).cast("double")
    x_bar = F.col("gx").cast("double") / F.col("ng") / 1000000.0
    mean_raw = F.col("sy").cast("double") / F.col("n_users") / 1000000.0
    mean_adj = mean_raw - theta * (
        F.col("sx").cast("double") / F.col("n_users") / 1000000.0 - x_bar
    )
    v_nn1 = (nvd * (nvd - F.lit(1))).cast("double")
    var_adj = (
        (nvd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
        - F.lit(2.0) * theta * (nvd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        + theta * theta * (nvd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) / v_nn1
    var_y = (ngd * F.col("gyy") - F.col("gy") * F.col("gy")).cast("double") / (
        ngd * (ngd - F.lit(1))
    ).cast("double")
    return j.select(
        "variant",
        "n_users",
        F.round(mean_raw, 4).alias("mean_raw"),
        F.round(mean_adj, 4).alias("mean_adjusted"),
        F.round(theta, 6).alias("theta"),
        F.round(F.lit(1.0) - var_adj / var_y, 4).alias("var_reduction"),
    ).orderBy("variant")


ORACLE_AB_CUPED = """
WITH ev AS (SELECT user_id, value, epoch_us(ts) AS ts_us FROM events),
bounds AS (SELECT CAST((min(ts_us) + max(ts_us)) // 2 AS BIGINT) AS mid FROM ev),
per_user AS (
    SELECT user_id,
           CAST(coalesce(sum(CASE WHEN ts_us <= mid THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS x,
           CAST(coalesce(sum(CASE WHEN ts_us > mid THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS y,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS variant
    FROM ev, bounds GROUP BY user_id, mid
),
u AS (
    SELECT variant,
           CAST(round(x * 1000000) AS HUGEINT) AS x6,
           CAST(round(y * 1000000) AS HUGEINT) AS y6
    FROM per_user
),
mv AS (
    SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
           sum(x6) AS sx, sum(y6) AS sy, sum(x6 * y6) AS sxy,
           sum(x6 * x6) AS sxx, sum(y6 * y6) AS syy
    FROM u GROUP BY variant
),
g AS (
    SELECT CAST(sum(n_users) AS BIGINT) AS ng, sum(sx) AS gx, sum(sy) AS gy,
           sum(sxy) AS gxy, sum(sxx) AS gxx, sum(syy) AS gyy
    FROM mv
),
t AS (
    SELECT mv.*, g.*,
           CAST(CAST(ng AS HUGEINT) * gxy - gx * gy AS DOUBLE)
             / CAST(CAST(ng AS HUGEINT) * gxx - gx * gx AS DOUBLE) AS theta_d,
           CAST(gx AS DOUBLE) / ng / 1000000.0 AS x_bar,
           CAST(sy AS DOUBLE) / n_users / 1000000.0 AS mean_raw_d,
           CAST(CAST(ng AS HUGEINT) * gyy - gy * gy AS DOUBLE)
             / CAST(CAST(ng AS HUGEINT) * (ng - 1) AS DOUBLE) AS var_y_d
    FROM mv, g
)
SELECT variant,
       n_users,
       round(mean_raw_d, 4) AS mean_raw,
       round(mean_raw_d - theta_d * (CAST(sx AS DOUBLE) / n_users / 1000000.0 - x_bar),
             4) AS mean_adjusted,
       round(theta_d, 6) AS theta,
       round(1.0 - ((CAST(CAST(n_users AS HUGEINT) * syy - sy * sy AS DOUBLE)
                     - 2.0 * theta_d * CAST(CAST(n_users AS HUGEINT) * sxy - sx * sy AS DOUBLE)
                     + theta_d * theta_d * CAST(CAST(n_users AS HUGEINT) * sxx - sx * sx AS DOUBLE))
                    / CAST(CAST(n_users AS HUGEINT) * (n_users - 1) AS DOUBLE))
                   / var_y_d, 4) AS var_reduction
FROM t ORDER BY variant
"""


def q_ab_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMÉR'S V — the EFFECT SIZE the chi-square key's test statistic
    needs next to it (significance without magnitude is how experiment
    reviews get fooled at scale: at 100 TB everything is 'significant'):
    V = √(χ² / (N·min(r−1, c−1))) over the same exact integer grid and
    fixed-order fold as `ab_chi2_type_by_variant`, plus the χ² and grid
    dims for context — one extra double chain, hash-exact.

    Scale: identical to the chi-square key — one map-side-combined count
    shuffle to the |types|×2 grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(md5_bucket("user_id", 2) == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("variant"),
    )
    cells = ev.groupBy("event_type", "variant").agg(F.count(F.lit(1)).alias("o"))
    r = cells.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    c = cells.groupBy("variant").agg(F.sum("o").alias("c_tot"))
    n = cells.agg(F.sum("o").alias("n_tot"))
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n_tot")
    termed = (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "variant")
        .crossJoin(F.broadcast(n))
        .withColumn("e", e)
        .withColumn(
            "term",
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"),
        )
    )
    agg = termed.agg(
        F.max("n_tot").cast("bigint").alias("n_total"),
        F.countDistinct("event_type").cast("bigint").alias("n_rows_grid"),
        F.countDistinct("variant").cast("bigint").alias("n_cols_grid"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("event_type", "variant", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("chi2"),
    )
    v = F.sqrt(
        F.col("chi2")
        / (
            F.col("n_total").cast("double")
            * F.least(F.col("n_rows_grid") - 1, F.col("n_cols_grid") - 1).cast("double")
        )
    )
    return agg.select("n_total", "n_rows_grid", "n_cols_grid", "chi2", v.alias("cramers_v"))


ORACLE_AB_CRAMERS_V = """
WITH ev AS (
    SELECT event_type,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS variant
    FROM events
),
cells AS (
    SELECT event_type, variant, CAST(count(*) AS BIGINT) AS o
    FROM ev GROUP BY 1, 2
),
r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r_tot FROM cells GROUP BY 1),
c AS (SELECT variant, CAST(sum(o) AS BIGINT) AS c_tot FROM cells GROUP BY 1),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot FROM cells),
termed AS (
    SELECT cells.event_type, cells.variant, cells.o,
           CAST(r_tot AS DOUBLE) * c_tot / n_tot AS e
    FROM cells JOIN r USING (event_type) JOIN c USING (variant), n
),
agg AS (
    SELECT (SELECT n_tot FROM n) AS n_total,
           (SELECT CAST(count(DISTINCT event_type) AS BIGINT) FROM cells) AS n_rows_grid,
           (SELECT CAST(count(DISTINCT variant) AS BIGINT) FROM cells) AS n_cols_grid,
           list_reduce(
               [0.0] || list((o - e) * (o - e) / e ORDER BY event_type, variant),
               (acc, x) -> acc + x
           ) AS chi2
    FROM termed
)
SELECT n_total, n_rows_grid, n_cols_grid, chi2,
       sqrt(chi2 / (CAST(n_total AS DOUBLE)
                    * CAST(least(n_rows_grid - 1, n_cols_grid - 1) AS DOUBLE))) AS cramers_v
FROM agg
"""


def q_ab_chi2_type_by_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event_type and A/B variant
    (the same deterministic md5 user gate as ``ab_cuped_adjusted``) — the
    standard sample-ratio-mismatch / behavior-shift guard on an
    experiment. All counts (O, row totals r, column totals c, N) are exact
    integers; each cell's term is the IDENTICAL double expression
    ``(O−e)²/e`` with ``e = r·c/N`` (one divide of exact integers — no
    big-integer squares, so no DECIMAL headroom cliff), and the cell terms
    are summed by a FOLD IN SORTED (type, variant) ORDER on both engines
    (Spark ``aggregate(sort_array(collect_list(struct)))`` vs DuckDB
    ``list_reduce(list(... ORDER BY ...))``) — the fixed-order remedy for
    small float sums, so chi2 is bit-identical with NO rounding. The cell
    grid is |types|×2 (bounded by the type domain, not the data), the
    count agg is one map-side-combined shuffle; collect_list touches only
    the grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
            .cast("bigint") % 2
            == 0,
            F.lit("A"),
        ).otherwise(F.lit("B")).alias("variant"),
    )
    cells = ev.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("o")
    )
    r = cells.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    c = cells.groupBy("variant").agg(F.sum("o").alias("c_tot"))
    n = cells.agg(F.sum("o").alias("n_tot"))
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("n_tot")
    termed = (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "variant")
        .crossJoin(F.broadcast(n))
        .withColumn("e", e)
        .withColumn(
            "term",
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"),
        )
    )
    return termed.agg(
        F.max("n_tot").cast("bigint").alias("n_total"),
        (
            (F.countDistinct("event_type") - F.lit(1))
            * (F.countDistinct("variant") - F.lit(1))
        ).cast("int").alias("df"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("event_type", "variant", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("chi2"),
    )


ORACLE_AB_CHI2 = """
WITH ev AS (
    SELECT event_type,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS variant
    FROM events
),
cells AS (
    SELECT event_type, variant, CAST(count(*) AS BIGINT) AS o
    FROM ev GROUP BY 1, 2
),
r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r_tot FROM cells GROUP BY 1),
c AS (SELECT variant, CAST(sum(o) AS BIGINT) AS c_tot FROM cells GROUP BY 1),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot FROM cells),
termed AS (
    SELECT cells.event_type, cells.variant, cells.o,
           CAST(r_tot AS DOUBLE) * c_tot / n_tot AS e
    FROM cells JOIN r USING (event_type) JOIN c USING (variant), n
)
SELECT (SELECT n_tot FROM n) AS n_total,
       CAST((SELECT count(DISTINCT event_type) FROM cells) - 1 AS INT)
         * CAST((SELECT count(DISTINCT variant) FROM cells) - 1 AS INT) AS df,
       list_reduce(
           [0.0] || list((o - e) * (o - e) / e ORDER BY event_type, variant),
           (acc, x) -> acc + x
       ) AS chi2
FROM termed
"""


def _survival_durations(ev: DataFrame) -> DataFrame:
    """Shared survival frame: per user, days from first event to first
    purchase (obs=1) or to the corpus horizon (right-censored, obs=0).
    One definition for Kaplan–Meier and the log-rank test so the two can
    never disagree about what a duration is."""
    per_user = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d0"),
        F.date_trunc(
            "day", F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        )
        .cast("date")
        .alias("dp"),
    )
    horizon = ev.agg(F.date_trunc("day", F.max("ts")).cast("date").alias("gd"))
    return per_user.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.when(F.col("dp").isNotNull(), F.datediff(F.col("dp"), F.col("d0")))
        .otherwise(F.datediff(F.col("gd"), F.col("d0")))
        .cast("bigint")
        .alias("dur"),
        F.when(F.col("dp").isNotNull(), 1).otherwise(0).alias("obs"),
    )


def q_events_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN–MEIER product-limit estimator for time-to-first-purchase —
    survival analysis with RIGHT CENSORING, the statistically correct way
    to read conversion latency when many users haven't converted yet
    (a plain funnel median silently drops them). Per user: duration =
    days from first event to first purchase, censored at the corpus
    horizon otherwise. Risk sets and event counts are exact integers on
    the distinct-duration frame (censored users leave the risk set AFTER
    their time, the standard convention); the survival curve
    S(t) = Π(1 − dᵢ/nᵢ) is computed as exp of the ORDERED cumulative sum
    of ln((nᵢ−dᵢ)/nᵢ) — each term one identical double chain, the
    cumulative window is a fixed left-to-right fold on both engines, and
    one final round-6 absorbs ln/exp last-bit variance (the PMI
    precedent).

    Scale: one user-keyed partial+final agg, then the duration frame is
    DATE-DOMAIN-bounded — the cumulative windows never see fact rows; the
    horizon is a 1-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    dur = _survival_durations(ev)
    frame = dur.groupBy("dur").agg(
        F.sum("obs").cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col("obs")).cast("bigint").alias("c"),
    )
    w_before = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    at_risk = frame.select(
        "dur",
        "d",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_before), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    events = at_risk.filter(F.col("d") > 0)
    # S hits EXACT zero when an event time exhausts the risk set (d = n):
    # ln(0) is ±error territory on both engines — carry an absorbing flag
    # through the cumulative window instead and emit 0 from there on.
    ln1m = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(
            (F.col("n_risk") - F.col("d")).cast("double")
            / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    zeroed = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cum)
    return events.select(
        F.col("dur").alias("duration_day"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.when(zeroed == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(ln1m).over(w_cum)), 6))
        .alias("s_km"),
    ).orderBy("duration_day")


ORACLE_KAPLAN_MEIER = """
WITH per_user AS (
    SELECT user_id,
           CAST(date_trunc('day', min(ts)) AS DATE) AS d0,
           CAST(date_trunc('day', min(CASE WHEN event_type = 'purchase' THEN ts END)) AS DATE) AS dp
    FROM events GROUP BY user_id
),
horizon AS (SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS gd FROM events),
dur AS (
    SELECT CASE WHEN dp IS NOT NULL THEN datediff('day', d0, dp)
                ELSE datediff('day', d0, gd) END AS dur,
           CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS obs
    FROM per_user, horizon
),
frame AS (
    SELECT dur, CAST(sum(obs) AS BIGINT) AS d, CAST(sum(1 - obs) AS BIGINT) AS c
    FROM dur GROUP BY dur
),
at_risk AS (
    SELECT dur, d,
           CAST(sum(d + c) OVER ()
                - coalesce(sum(d + c) OVER (ORDER BY dur
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_risk
    FROM frame
),
ev AS (SELECT dur, d, n_risk FROM at_risk WHERE d > 0)
SELECT dur AS duration_day, n_risk, d AS d_events,
       CASE WHEN max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
            THEN 0.0
            ELSE round(exp(sum(CASE WHEN d < n_risk
                                    THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                                    ELSE 0.0 END)
                 OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
       END AS s_km
FROM ev
ORDER BY duration_day
"""


def q_events_top_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-10 THREE-EVENT PATHS within sessions — the path-analysis
    complement of the Markov transition key: the most common
    (e₁ → e₂ → e₃) sequences where consecutive gaps stay under the 30-min
    session bound, ranked by exact count (ties → path lexicographic).
    The flow report product analytics reads before funnel design.

    Scale: the lag window partitions BY USER (high-cardinality key — each
    partition is one user's bounded history, no global sort); counts are
    one partial+final agg over the |types|³-bounded path grid; top-10 is
    TakeOrdered (k-bounded), never a full sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        F.lag("event_type", 2).over(w).alias("path_a"),
        F.lag("event_type", 1).over(w).alias("path_b"),
        F.col("event_type").alias("path_c"),
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts", 1).over(w))).alias("g1"),
        (
            F.unix_micros(F.lag("ts", 1).over(w))
            - F.unix_micros(F.lag("ts", 2).over(w))
        ).alias("g2"),
    ).filter(
        F.col("path_a").isNotNull()
        & (F.col("g1") <= 1_800_000_000)
        & (F.col("g2") <= 1_800_000_000)
    )
    counts = tri.groupBy("path_a", "path_b", "path_c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return counts.orderBy(
        F.desc("n"), F.asc("path_a"), F.asc("path_b"), F.asc("path_c")
    ).limit(10)


ORACLE_TRIGRAM_PATHS = """
WITH tri AS (
    SELECT lag(event_type, 2) OVER w AS path_a,
           lag(event_type, 1) OVER w AS path_b,
           event_type AS path_c,
           epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS g1,
           epoch_us(lag(ts, 1) OVER w) - epoch_us(lag(ts, 2) OVER w) AS g2
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT path_a, path_b, path_c, CAST(count(*) AS BIGINT) AS n
FROM tri
WHERE path_a IS NOT NULL AND g1 <= 1800000000 AND g2 <= 1800000000
GROUP BY path_a, path_b, path_c
ORDER BY n DESC, path_a ASC, path_b ASC, path_c ASC
LIMIT 10
"""


def q_ab_logrank_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST comparing the time-to-first-purchase survival curves
    between the md5 A/B variants — the censoring-correct experiment
    readout for latency metrics (Welch on raw durations is biased by
    censored users; the log-rank statistic isn't). Per distinct event
    time: at-risk counts n_A/n_B and event counts d_A/d_B are exact
    integers on the DATE-DOMAIN-bounded duration frame; the per-time
    expectation d·n_A/n and hypergeometric variance
    d·n_A·n_B·(n−d)/(n²·(n−1)) are each ONE identical double chain, and
    both sums run as FIXED-ORDER folds (the chi-square recipe) — so
    (O−E)²/V is bit-identical with NO rounding. The n=1 terminal time is
    guarded to a 0 variance term on both engines.

    Scale: one user-keyed agg, then everything lives on the bounded
    duration frame — cumulative windows, folds, and a 1-row result."""
    ev = load_table(spark, sf_dir, "events")
    dur = _survival_durations(ev).select(
        "dur",
        "obs",
        F.when(md5_bucket("user_id", 2) == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("grp"),
    )
    frame = dur.groupBy("dur").agg(
        F.sum(F.when(F.col("grp") == "A", F.col("obs")).otherwise(0)).cast("bigint").alias("d_a"),
        F.sum(F.when(F.col("grp") == "B", F.col("obs")).otherwise(0)).cast("bigint").alias("d_b"),
        F.sum(F.when(F.col("grp") == "A", 1).otherwise(0)).cast("bigint").alias("t_a"),
        F.sum(F.when(F.col("grp") == "B", 1).otherwise(0)).cast("bigint").alias("t_b"),
    )
    w_before = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    at_risk = frame.select(
        "dur",
        "d_a",
        "d_b",
        (
            F.sum("t_a").over(w_all)
            - F.coalesce(F.sum("t_a").over(w_before), F.lit(0))
        ).cast("bigint").alias("n_a"),
        (
            F.sum("t_b").over(w_all)
            - F.coalesce(F.sum("t_b").over(w_before), F.lit(0))
        ).cast("bigint").alias("n_b"),
    ).filter(F.col("d_a") + F.col("d_b") > 0)
    d = (F.col("d_a") + F.col("d_b")).cast("double")
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    e_a = d * F.col("n_a") / n
    v = F.when(
        F.col("n_a") + F.col("n_b") > 1,
        d
        * F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        * (n - d)
        / (n * n * (n - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    termed = at_risk.select(
        "dur",
        "d_a",
        "d_b",
        (F.col("d_a").cast("double") - e_a).alias("diff"),
        v.alias("v"),
    )

    def fold(col):
        return F.aggregate(
            F.sort_array(F.collect_list(F.struct("dur", F.col(col).alias("x")))),
            F.lit(0.0),
            lambda acc, x: acc + x["x"],
        )

    agg = termed.agg(
        F.sum("d_a").cast("bigint").alias("o_a"),
        F.sum("d_b").cast("bigint").alias("o_b"),
        fold("diff").alias("sum_diff"),
        fold("v").alias("sum_v"),
    )
    return agg.select(
        "o_a",
        "o_b",
        (F.col("sum_diff") * F.col("sum_diff") / F.col("sum_v")).alias("logrank_chi2"),
    )


ORACLE_AB_LOGRANK = """
WITH per_user AS (
    SELECT user_id,
           CAST(date_trunc('day', min(ts)) AS DATE) AS d0,
           CAST(date_trunc('day', min(CASE WHEN event_type = 'purchase' THEN ts END)) AS DATE) AS dp
    FROM events GROUP BY user_id
),
horizon AS (SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS gd FROM events),
dur AS (
    SELECT CASE WHEN dp IS NOT NULL THEN datediff('day', d0, dp)
                ELSE datediff('day', d0, gd) END AS dur,
           CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS obs,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS grp
    FROM per_user, horizon
),
frame AS (
    SELECT dur,
           CAST(sum(CASE WHEN grp = 'A' THEN obs ELSE 0 END) AS BIGINT) AS d_a,
           CAST(sum(CASE WHEN grp = 'B' THEN obs ELSE 0 END) AS BIGINT) AS d_b,
           CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS t_a,
           CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS t_b
    FROM dur GROUP BY dur
),
at_risk AS (
    SELECT dur, d_a, d_b,
           CAST(sum(t_a) OVER ()
                - coalesce(sum(t_a) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_a,
           CAST(sum(t_b) OVER ()
                - coalesce(sum(t_b) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_b
    FROM frame
),
termed AS (
    SELECT dur, d_a, d_b,
           CAST(d_a AS DOUBLE)
             - CAST(d_a + d_b AS DOUBLE) * n_a / CAST(n_a + n_b AS DOUBLE) AS diff,
           CASE WHEN n_a + n_b > 1
                THEN CAST(d_a + d_b AS DOUBLE) * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                     * (CAST(n_a + n_b AS DOUBLE) - CAST(d_a + d_b AS DOUBLE))
                     / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b AS DOUBLE)
                        * (CAST(n_a + n_b AS DOUBLE) - 1.0))
                ELSE 0.0 END AS v
    FROM at_risk WHERE d_a + d_b > 0
),
agg AS (
    SELECT CAST(sum(d_a) AS BIGINT) AS o_a,
           CAST(sum(d_b) AS BIGINT) AS o_b,
           list_reduce([0.0] || list(diff ORDER BY dur), (acc, x) -> acc + x) AS sum_diff,
           list_reduce([0.0] || list(v ORDER BY dur), (acc, x) -> acc + x) AS sum_v
    FROM termed
)
SELECT o_a, o_b, sum_diff * sum_diff / sum_v AS logrank_chi2
FROM agg
"""


def q_stream_checkpoint_restart_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RECOVERY, driver-checked — the production property no
    other streaming key certifies: a complete-mode aggregation processes
    half the replay, the query STOPS, and a fresh query restarts from the
    SAME checkpoint over the grown directory. The file source's committed
    offsets must prevent re-reading (no double count) and the HDFS-backed
    state store must restore the aggregation state (no loss) — so the
    final sink equals the batch aggregate of everything, which IS the
    oracle. Counts and DECIMAL(18,6) value sums are arrival-order-exact;
    one final cast to DOUBLE.

    Scale: state is one row per event_type; recovery cost is reading the
    latest state snapshot — independent of data volume (the point of
    checkpointing)."""
    from rocana_impala_udfs_spark.streaming.replay import run_with_restart

    def agg(stream):
        return stream.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value_dec"),
        )

    sink = run_with_restart(spark, sf_dir, agg)
    return sink.select(
        "event_type",
        "n_events",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
    ).orderBy("event_type")


ORACLE_STREAM_RESTART = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_stream_rocksdb_state_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROCKSDB STATE STORE, driver-checked — the state backend a 100 TB
    deployment actually runs (bounded executor heap, state spills to
    local disk + changelog, no full-state JVM maps): the same complete-
    mode aggregation as the default-backend keys, executed with
    ``RocksDBStateStoreProvider``, must equal the batch aggregate (the
    oracle). Grouping by (event_type, user bucket) puts real multi-row
    state through the backend; the tiny sink re-aggregates to event_type
    batch-side. The provider is set through ``session.scoped_conf``
    around the run, which restores the session's previous provider
    afterwards; the running query keeps the clone of the conf it started
    with. (The runners choose RocksDB on their own only for
    ``transformWithState`` queries, which cannot run on any other store.)

    Scale: this key certifies the backend swap is semantics-preserving —
    the production knob is one conf line, not a plan change."""
    from rocana_impala_udfs_spark.session import scoped_conf
    from rocana_impala_udfs_spark.streaming.replay import (
        ROCKSDB_STATE_STORE,
        replay_events_stream,
        run_to_table,
    )

    stream, _d = replay_events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type", (F.col("user_id") % 16).alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    )
    with scoped_conf(spark, ROCKSDB_STATE_STORE):
        sink = run_to_table(agg, mode="complete")
    return (
        sink.groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("s").cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


ORACLE_STREAM_ROCKSDB = """
WITH b AS (
    SELECT event_type, user_id % 16 AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(value AS DECIMAL(18,6))) AS s
    FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(s) AS DOUBLE) AS sum_value
FROM b GROUP BY event_type ORDER BY event_type
"""


def q_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINIMUM DETECTABLE EFFECT — the pre-test power readout that decides
    whether an experiment is worth running at the current traffic: at
    α=0.05 (two-sided) and 80% power, MDE = (z₀.₀₂₅ + z₀.₈)·SE with both
    normal quantiles FROZEN LITERALS in both texts (stdlib NormalDist at
    authoring). SE comes from the same exact per-user DECIMAL micro-unit
    moments as the Welch key; MDE absolute and relative (vs the pooled
    mean) are each one double chain — hash-exact, no rounding. Completes
    the experimentation arc: power planning → SRM → CUPED → Welch /
    delta-CI / bootstrap → sequential monitoring → (censored) log-rank.

    Scale: one user-keyed partial+final agg + a 2-row variant agg —
    nothing downstream grows with the data."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.col("value").cast("decimal(18,6)")), F.lit(0))
            .cast("double")
            .alias("y")
        )
        .withColumn(
            "variant",
            F.when(md5_bucket("user_id", 2) == 0, F.lit("A")).otherwise(F.lit("B")),
        )
    )
    y6 = F.round(F.col("y") * 1000000).cast("decimal(38,0)")
    mv = per_user.select("variant", y6.alias("y6")).groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y6").alias("s"),
        F.sum(F.col("y6") * F.col("y6")).alias("ss"),
    )
    one = mv.agg(
        *[
            F.max(F.when(F.col("variant") == g, F.col(c))).alias(f"{c}_{g.lower()}")
            for g in ("A", "B")
            for c in ("n", "s", "ss")
        ]
    )

    def var(side: str):
        n = F.col(f"n_{side}").cast("decimal(38,0)")
        return (n * F.col(f"ss_{side}") - F.col(f"s_{side}") * F.col(f"s_{side}")).cast(
            "double"
        ) / (n * (n - F.lit(1))).cast("double") / 1000000000000.0

    se = F.sqrt(
        var("a") / F.col("n_a").cast("double") + var("b") / F.col("n_b").cast("double")
    )
    # z_{0.025} + z_{0.20} quantiles, frozen at authoring time
    mde = F.lit(1.959963984540054 + 0.8416212335729143) * se
    pooled_mean = (F.col("s_a") + F.col("s_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double") / 1000000.0
    return one.select(
        "n_a",
        "n_b",
        se.alias("se"),
        mde.alias("mde_abs"),
        (mde / pooled_mean).alias("mde_rel"),
    )


ORACLE_AB_POWER = """
WITH per_user AS (
    SELECT user_id,
           CAST(coalesce(sum(CAST(value AS DECIMAL(18,6))), 0) AS DOUBLE) AS y,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'a' ELSE 'b' END AS variant
    FROM events GROUP BY user_id
),
u AS (SELECT variant, CAST(round(y * 1000000) AS HUGEINT) AS y6 FROM per_user),
mv AS (
    SELECT variant, CAST(count(*) AS BIGINT) AS n, sum(y6) AS s, sum(y6 * y6) AS ss
    FROM u GROUP BY variant
),
one AS (
    SELECT max(CASE WHEN variant = 'a' THEN n END) AS n_a,
           max(CASE WHEN variant = 'a' THEN s END) AS s_a,
           max(CASE WHEN variant = 'a' THEN ss END) AS ss_a,
           max(CASE WHEN variant = 'b' THEN n END) AS n_b,
           max(CASE WHEN variant = 'b' THEN s END) AS s_b,
           max(CASE WHEN variant = 'b' THEN ss END) AS ss_b
    FROM mv
)
SELECT n_a, n_b,
       sqrt((CAST(CAST(n_a AS HUGEINT) * ss_a - s_a * s_a AS DOUBLE)
             / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE) / 1000000000000.0)
            / CAST(n_a AS DOUBLE)
            + (CAST(CAST(n_b AS HUGEINT) * ss_b - s_b * s_b AS DOUBLE)
               / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE) / 1000000000000.0)
            / CAST(n_b AS DOUBLE)) AS se,
       2.8015852181129683
         * sqrt((CAST(CAST(n_a AS HUGEINT) * ss_a - s_a * s_a AS DOUBLE)
                 / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE) / 1000000000000.0)
                / CAST(n_a AS DOUBLE)
                + (CAST(CAST(n_b AS HUGEINT) * ss_b - s_b * s_b AS DOUBLE)
                   / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE) / 1000000000000.0)
                / CAST(n_b AS DOUBLE)) AS mde_abs,
       (2.8015852181129683
         * sqrt((CAST(CAST(n_a AS HUGEINT) * ss_a - s_a * s_a AS DOUBLE)
                 / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE) / 1000000000000.0)
                / CAST(n_a AS DOUBLE)
                + (CAST(CAST(n_b AS HUGEINT) * ss_b - s_b * s_b AS DOUBLE)
                   / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE) / 1000000000000.0)
                / CAST(n_b AS DOUBLE)))
         / (CAST(s_a + s_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) / 1000000.0) AS mde_rel
FROM one
"""


def q_ab_sequential_peeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-SEQUENTIAL A/B MONITORING — the daily-peek table an
    experimentation platform renders instead of a single end-of-test
    readout: after each day, the cumulative Welch z between the md5
    variants against an O'Brien–Fleming-shaped spending boundary
    z₀.₀₂₅·√(K/k) (conservative early, nominal at the horizon — Lan &
    DeMets 1983), with the crossing flag per peek. z₀.₀₂₅ =
    1.959963984540054 is a frozen literal baked into BOTH texts (stdlib
    NormalDist at authoring time — no runtime quantile surface).

    Exactness: daily per-variant moments (n, Σv·1e6, Σ(v·1e6)²) are exact
    DECIMAL(38,0)/HUGEINT integers; the cumulative windows run over the
    DATE-DOMAIN-bounded (day × 2) frame; each peek's mean/var/z and the
    boundary are ONE identical double chain — hash-exact, no rounding.

    Scale: one day×variant partial+final agg collapses the fact table,
    then everything is windows over the bounded daily frame."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v6 = F.round(F.col("value") * 1000000).cast("decimal(38,0)")
    variant = F.when(md5_bucket("user_id", 2) == 0, F.lit("A")).otherwise(F.lit("B"))
    daily = ev.groupBy(
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
        variant.alias("g"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v6).alias("s"),
        F.sum(v6 * v6).alias("ss"),
    )
    pivoted = daily.groupBy("day_us").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("g") == g, F.col(c))),
                F.lit(0).cast("decimal(38,0)") if c != "n" else F.lit(0),
            ).alias(f"{c}_{g.lower()}")
            for g in ("A", "B")
            for c in ("n", "s", "ss")
        ]
    )
    w_cum = Window.orderBy("day_us").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = pivoted.select(
        "day_us",
        F.row_number().over(Window.orderBy("day_us")).alias("k"),
        F.count(F.lit(1)).over(w_all).alias("k_total"),
        *[
            F.sum(f"{c}_{g}").over(w_cum).alias(f"c{c}_{g}")
            for g in ("a", "b")
            for c in ("n", "s", "ss")
        ],
    )

    def welch_z(side: str):
        n = F.col(f"cn_{side}").cast("decimal(38,0)")
        mean = F.col(f"cs_{side}").cast("double") / F.col(f"cn_{side}") / 1000000.0
        var = (n * F.col(f"css_{side}") - F.col(f"cs_{side}") * F.col(f"cs_{side}")).cast(
            "double"
        ) / (n * (n - F.lit(1))).cast("double") / 1000000000000.0
        return mean, var

    mean_a, var_a = welch_z("a")
    mean_b, var_b = welch_z("b")
    z = (mean_a - mean_b) / F.sqrt(
        var_a / F.col("cn_a").cast("double") + var_b / F.col("cn_b").cast("double")
    )
    boundary = F.lit(1.959963984540054) * F.sqrt(
        F.col("k_total").cast("double") / F.col("k").cast("double")
    )
    return cum.select(
        "day_us",
        F.col("k").cast("int").alias("peek"),
        F.col("cn_a").cast("bigint").alias("n_a"),
        F.col("cn_b").cast("bigint").alias("n_b"),
        z.alias("z"),
        boundary.alias("boundary"),
        (F.abs(z) > boundary).alias("crossed"),
    ).orderBy("day_us")


# r12: the cumulative variance numerator cn*css - cs*cs reaches ~5e23 —
# far past 2^53 — so its HUGEINT->DOUBLE cast takes DuckDB's 1-2 ulp
# double-rounding path (the r10 probe class); the sf0.001 multi-SF sweep
# caught one low-bit z flip. VARCHAR-routed per the standing recipe
# (string parse is correctly rounded; Spark's DECIMAL(38,0)->double
# already is). Values elsewhere stay < 2^53 at every test SF.
ORACLE_AB_SEQUENTIAL = """
WITH ev AS (
    SELECT epoch_us(date_trunc('day', ts)) AS day_us,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'a' ELSE 'b' END AS g,
           CAST(round(value * 1000000) AS HUGEINT) AS v6
    FROM events WHERE value IS NOT NULL
),
daily AS (
    SELECT day_us, g, count(*) AS n, sum(v6) AS s, sum(v6 * v6) AS ss
    FROM ev GROUP BY 1, 2
),
pivoted AS (
    SELECT day_us,
           coalesce(max(CASE WHEN g = 'a' THEN n END), 0) AS n_a,
           coalesce(max(CASE WHEN g = 'a' THEN s END), 0) AS s_a,
           coalesce(max(CASE WHEN g = 'a' THEN ss END), 0) AS ss_a,
           coalesce(max(CASE WHEN g = 'b' THEN n END), 0) AS n_b,
           coalesce(max(CASE WHEN g = 'b' THEN s END), 0) AS s_b,
           coalesce(max(CASE WHEN g = 'b' THEN ss END), 0) AS ss_b
    FROM daily GROUP BY day_us
),
cum AS (
    SELECT day_us,
           row_number() OVER (ORDER BY day_us) AS k,
           count(*) OVER () AS k_total,
           sum(n_a) OVER w AS cn_a, sum(s_a) OVER w AS cs_a, sum(ss_a) OVER w AS css_a,
           sum(n_b) OVER w AS cn_b, sum(s_b) OVER w AS cs_b, sum(ss_b) OVER w AS css_b
    FROM pivoted
    WINDOW w AS (ORDER BY day_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day_us, CAST(k AS INT) AS peek,
       CAST(cn_a AS BIGINT) AS n_a, CAST(cn_b AS BIGINT) AS n_b,
       (CAST(cs_a AS DOUBLE) / cn_a / 1000000.0 - CAST(cs_b AS DOUBLE) / cn_b / 1000000.0)
         / sqrt((CAST(CAST(CAST(cn_a AS HUGEINT) * css_a - cs_a * cs_a AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(cn_a AS HUGEINT) * (cn_a - 1) AS DOUBLE) / 1000000000000.0)
                / CAST(cn_a AS DOUBLE)
                + (CAST(CAST(CAST(cn_b AS HUGEINT) * css_b - cs_b * cs_b AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(cn_b AS HUGEINT) * (cn_b - 1) AS DOUBLE) / 1000000000000.0)
                / CAST(cn_b AS DOUBLE)) AS z,
       1.959963984540054 * sqrt(CAST(k_total AS DOUBLE) / CAST(k AS DOUBLE)) AS boundary,
       abs((CAST(cs_a AS DOUBLE) / cn_a / 1000000.0 - CAST(cs_b AS DOUBLE) / cn_b / 1000000.0)
         / sqrt((CAST(CAST(CAST(cn_a AS HUGEINT) * css_a - cs_a * cs_a AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(cn_a AS HUGEINT) * (cn_a - 1) AS DOUBLE) / 1000000000000.0)
                / CAST(cn_a AS DOUBLE)
                + (CAST(CAST(CAST(cn_b AS HUGEINT) * css_b - cs_b * cs_b AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(cn_b AS HUGEINT) * (cn_b - 1) AS DOUBLE) / 1000000000000.0)
                / CAST(cn_b AS DOUBLE)))
         > 1.959963984540054 * sqrt(CAST(k_total AS DOUBLE) / CAST(k AS DOUBLE)) AS crossed
FROM cum ORDER BY day_us
"""


def q_ab_cuped_sequential_peeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-ADJUSTED GROUP-SEQUENTIAL MONITORING (r10, VERDICT r9 #8) —
    the combined readout a mature experimentation platform renders: at
    each daily peek of the post period, the Welch z between the md5
    variants on BOTH the raw metric and the CUPED-adjusted metric
    (Deng et al. 2013), against the same O'Brien–Fleming-shaped boundary
    as ``ab_sequential_peeks``, plus the per-peek realized
    variance-reduction ratio — variance reduction is exactly what makes a
    sequential test cross earlier, so the two belong in one table.

    Covariate x = each user's PRE-period (first timeline half) value sum;
    metric y_k = the user's cumulative POST-period sum through peek day k.
    θ_k is re-fit at every peek from the pooled cumulative moments.

    Exactness — the cross-user second moments at peek k are NOT
    day-decomposable (Σᵤ y_k(u)² needs each user's running sum), so they
    accumulate via the exact per-(user,day) DELTA identity
    Σy² gains 2·y_prev·v + v² and Σx·y gains x·v, where y_prev comes from
    the per-user cumulative window over that user's ACTIVE days only
    (sparse — inactive users change nothing). Every delta is an integer
    micro-unit product in DECIMAL(38,0)/HUGEINT; daily delta sums
    cumulate over the date-domain-bounded frame; θ, means, variances
    (var_adj via the var(y−θx) linearity identity), both z's, the
    boundary, and the reduction ratio are each ONE identical double
    chain — hash-exact, raw emit, no rounding anywhere.

    Scale: three column-pruned aggregation-only fact passes (timeline
    bounds, the per-user covariate rollup, the (user,day) partials — the
    stats_mad_price precedent: no fact sorts, no fact-row windows); the
    only per-user window is partitioned by user (bounded by that user's
    active days); the x-join is user-keyed; everything after the daily
    delta agg lives on the day×variant-bounded frame. Headroom: Σ 2·y_prev·v in
    micro² stays under 38 digits while per-user |y|·1e6 < ~1e15 and
    users < ~1e7 — the documented 100 TB bound."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
            F.round(F.col("value") * 1000000).cast("decimal(38,0)").alias("v6"),
        )
    )
    bounds = ev.agg(F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid"))
    ev = ev.crossJoin(F.broadcast(bounds))
    variant = F.when(md5_bucket("user_id", 2) == 0, F.lit("A")).otherwise(F.lit("B"))
    # per-user pre-period covariate + per-variant x-moment constants
    per_user_x = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("ts_us") <= F.col("mid"), F.col("v6"))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("x6"),
        F.first(variant).alias("g"),
    )
    xmom = per_user_x.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x6").alias("sx"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
    )
    xconst = xmom.groupBy().pivot("g", ["A", "B"]).agg(
        F.first("n_users").alias("n"), F.first("sx").alias("sx"), F.first("sxx").alias("sxx")
    )
    # per-(user, day) post-period partials → per-user running sum → deltas
    userday = (
        ev.filter(F.col("ts_us") > F.col("mid"))
        .groupBy("user_id", "day_us")
        .agg(F.sum("v6").alias("v"))
        .join(per_user_x.select("user_id", "x6", "g"), "user_id")
    )
    w_user = Window.partitionBy("user_id").orderBy("day_us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    two = F.lit(2).cast("decimal(38,0)")
    deltas = userday.select(
        "day_us",
        "g",
        F.col("v").alias("dy"),
        (
            two * (F.sum("v").over(w_user) - F.col("v")) * F.col("v")
            + F.col("v") * F.col("v")
        ).alias("dyy"),
        (F.col("x6") * F.col("v")).alias("dxy"),
    )
    daily = (
        deltas.groupBy("day_us")
        .pivot("g", ["A", "B"])
        .agg(
            F.coalesce(F.sum("dy"), F.lit(0).cast("decimal(38,0)")).alias("dy"),
            F.coalesce(F.sum("dyy"), F.lit(0).cast("decimal(38,0)")).alias("dyy"),
            F.coalesce(F.sum("dxy"), F.lit(0).cast("decimal(38,0)")).alias("dxy"),
        )
    )
    w_cum = Window.orderBy("day_us").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = daily.select(
        "day_us",
        F.row_number().over(Window.orderBy("day_us")).alias("k"),
        F.count(F.lit(1)).over(w_all).alias("k_total"),
        *[
            F.coalesce(F.sum(f"{g}_{c}").over(w_cum), F.lit(0).cast("decimal(38,0)")).alias(
                f"c{c}_{g.lower()}"
            )
            for g in ("A", "B")
            for c in ("dy", "dyy", "dxy")
        ],
    ).crossJoin(F.broadcast(xconst))

    def dbl(c):
        return c.cast("double")

    n_a, n_b = F.col("A_n"), F.col("B_n")
    ng = (n_a + n_b).cast("decimal(38,0)")
    gx = F.col("A_sx") + F.col("B_sx")
    gxx = F.col("A_sxx") + F.col("B_sxx")
    gy = F.col("cdy_a") + F.col("cdy_b")
    gxy = F.col("cdxy_a") + F.col("cdxy_b")
    theta = dbl(ng * gxy - gx * gy) / dbl(ng * gxx - gx * gx)
    x_bar = dbl(gx) / dbl(ng) / 1000000.0

    def variant_stats(side: str, n_col):
        nv = n_col.cast("decimal(38,0)")
        sx, sxx = F.col(f"{side.upper()}_sx"), F.col(f"{side.upper()}_sxx")
        cy, cyy, cxy = (
            F.col(f"cdy_{side}"),
            F.col(f"cdyy_{side}"),
            F.col(f"cdxy_{side}"),
        )
        nn1 = dbl(nv * (nv - F.lit(1).cast("decimal(38,0)")))
        mean_raw = dbl(cy) / dbl(n_col) / 1000000.0
        mean_adj = mean_raw - theta * (dbl(sx) / dbl(n_col) / 1000000.0 - x_bar)
        var_raw = dbl(nv * cyy - cy * cy) / nn1 / 1e12
        var_adj = (
            dbl(nv * cyy - cy * cy)
            - F.lit(2.0) * theta * dbl(nv * cxy - sx * cy)
            + theta * theta * dbl(nv * sxx - sx * sx)
        ) / nn1 / 1e12
        return mean_raw, mean_adj, var_raw, var_adj

    mr_a, ma_a, vr_a, va_a = variant_stats("a", n_a)
    mr_b, ma_b, vr_b, va_b = variant_stats("b", n_b)
    se2_raw = vr_a / dbl(n_a) + vr_b / dbl(n_b)
    se2_adj = va_a / dbl(n_a) + va_b / dbl(n_b)
    z_raw = (mr_a - mr_b) / F.sqrt(se2_raw)
    # Degenerate-covariate guard (found by the r12 derived-sf1x sweep,
    # where exact replication makes the cumulative metric PERFECTLY
    # proportional to the covariate at replica boundaries): when CUPED
    # removes ALL residual variance, z is 0/0 — undefined, not zero — so
    # emit NULL (and crossed inherits NULL). ANSI mode otherwise raises
    # DIVIDE_BY_ZERO on exactly the peeks a perfect covariate produces.
    z_cuped = F.when(se2_adj > F.lit(0.0), (ma_a - ma_b) / F.sqrt(se2_adj))
    boundary = F.lit(1.959963984540054) * F.sqrt(
        F.col("k_total").cast("double") / F.col("k").cast("double")
    )
    return cum.select(
        "day_us",
        F.col("k").cast("int").alias("peek"),
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        theta.alias("theta"),
        z_raw.alias("z_raw"),
        z_cuped.alias("z_cuped"),
        boundary.alias("boundary"),
        # undefined z (degenerate covariate) => no crossing signal: FALSE,
        # not NULL — nullable booleans hash engine-differently (None/NaN)
        F.coalesce(F.abs(z_cuped) > boundary, F.lit(False)).alias("crossed"),
        (F.lit(1.0) - se2_adj / se2_raw).alias("var_reduction"),
    ).orderBy("day_us")


def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH GUARD (r10) — the first gate every
    experiment readout must pass (Fabijan et al. 2019): under a 50/50
    md5 assignment the unit-count imbalance z = (n_a − n_b)/√N is
    standard normal, and |z| above the α=1e-4 two-sided quantile
    (3.89059188641312, a frozen stdlib-NormalDist literal baked into
    both texts — no runtime quantile surface) flags a broken gate,
    bot filtering skew, or logging loss; every downstream A/B key in
    this engine assumes this check is green. Assignment unit = user
    (one vote per user_id, not per event — SRM is about units).

    Exactness: distinct-user counts are exact integers from one
    partial+final agg; ratio and z are each ONE raw double chain.
    Scale: a user-keyed distinct collapse then a 1-row fold."""
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(md5_bucket("user_id", 2) == 0, F.lit("A")).otherwise(F.lit("B"))
    per_user = ev.select(F.col("user_id"), variant.alias("g")).distinct()
    agg = per_user.agg(
        F.sum(F.when(F.col("g") == "A", 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("g") == "B", 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    z = (F.col("n_a") - F.col("n_b")).cast("double") / F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
    )
    return agg.select(
        "n_a",
        "n_b",
        (F.col("n_a").cast("double") / (F.col("n_a") + F.col("n_b")).cast("double")).alias(
            "ratio_a"
        ),
        z.alias("z"),
        (F.abs(z) > F.lit(3.89059188641312)).alias("srm"),
    )


ORACLE_AB_SRM = """
WITH per_user AS (
    SELECT DISTINCT user_id,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS g
    FROM events
),
agg AS (
    SELECT CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN g = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
    FROM per_user
)
SELECT n_a, n_b,
       CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS ratio_a,
       CAST(n_a - n_b AS DOUBLE) / sqrt(CAST(n_a + n_b AS DOUBLE)) AS z,
       abs(CAST(n_a - n_b AS DOUBLE) / sqrt(CAST(n_a + n_b AS DOUBLE)))
         > 3.89059188641312 AS srm
FROM agg
"""


ORACLE_AB_CUPED_SEQUENTIAL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us,
           epoch_us(date_trunc('day', ts)) AS day_us,
           CAST(round(value * 1000000) AS HUGEINT) AS v6,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'a' ELSE 'b' END AS g
    FROM events WHERE value IS NOT NULL
),
bounds AS (SELECT CAST((min(ts_us) + max(ts_us)) // 2 AS BIGINT) AS mid FROM ev),
per_user_x AS (
    SELECT user_id, any_value(g) AS g,
           coalesce(sum(CASE WHEN ts_us <= mid THEN v6 END), 0) AS x6
    FROM ev, bounds GROUP BY user_id
),
xconst AS (
    SELECT
      CAST(count(*) FILTER (g = 'a') AS BIGINT) AS n_a,
      CAST(count(*) FILTER (g = 'b') AS BIGINT) AS n_b,
      coalesce(sum(x6) FILTER (g = 'a'), 0) AS sx_a,
      coalesce(sum(x6) FILTER (g = 'b'), 0) AS sx_b,
      coalesce(sum(x6 * x6) FILTER (g = 'a'), 0) AS sxx_a,
      coalesce(sum(x6 * x6) FILTER (g = 'b'), 0) AS sxx_b
    FROM per_user_x
),
userday AS (
    SELECT ev.user_id, day_us, px.g, px.x6, sum(v6) AS v
    FROM ev, bounds, per_user_x px
    WHERE ev.ts_us > bounds.mid AND px.user_id = ev.user_id
    GROUP BY ev.user_id, day_us, px.g, px.x6
),
deltas AS (
    SELECT day_us, g, v AS dy,
           2 * (sum(v) OVER (PARTITION BY user_id ORDER BY day_us
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - v) * v
             + v * v AS dyy,
           x6 * v AS dxy
    FROM userday
),
daily AS (
    SELECT day_us,
           coalesce(sum(dy) FILTER (g = 'a'), 0) AS dy_a,
           coalesce(sum(dyy) FILTER (g = 'a'), 0) AS dyy_a,
           coalesce(sum(dxy) FILTER (g = 'a'), 0) AS dxy_a,
           coalesce(sum(dy) FILTER (g = 'b'), 0) AS dy_b,
           coalesce(sum(dyy) FILTER (g = 'b'), 0) AS dyy_b,
           coalesce(sum(dxy) FILTER (g = 'b'), 0) AS dxy_b
    FROM deltas GROUP BY day_us
),
cum AS (
    SELECT day_us,
           row_number() OVER (ORDER BY day_us) AS k,
           count(*) OVER () AS k_total,
           sum(dy_a) OVER w AS cdy_a, sum(dyy_a) OVER w AS cdyy_a, sum(dxy_a) OVER w AS cdxy_a,
           sum(dy_b) OVER w AS cdy_b, sum(dyy_b) OVER w AS cdyy_b, sum(dxy_b) OVER w AS cdxy_b
    FROM daily
    WINDOW w AS (ORDER BY day_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
t AS (
    SELECT cum.*, xconst.*,
           CAST(CAST(CAST(n_a + n_b AS HUGEINT) * (cdxy_a + cdxy_b)
                  - (sx_a + sx_b) * (cdy_a + cdy_b) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n_a + n_b AS HUGEINT) * (sxx_a + sxx_b)
                  - (sx_a + sx_b) * (sx_a + sx_b) AS VARCHAR) AS DOUBLE) AS theta_d,
           CAST(CAST(sx_a + sx_b AS VARCHAR) AS DOUBLE) / CAST(CAST(n_a + n_b AS VARCHAR) AS DOUBLE) / 1000000.0 AS x_bar
    FROM cum, xconst
),
s AS (
    SELECT t.*,
           CAST(CAST(cdy_a AS VARCHAR) AS DOUBLE) / n_a / 1000000.0 AS mr_a,
           CAST(CAST(cdy_b AS VARCHAR) AS DOUBLE) / n_b / 1000000.0 AS mr_b,
           CAST(CAST(cdy_a AS VARCHAR) AS DOUBLE) / n_a / 1000000.0
             - theta_d * (CAST(CAST(sx_a AS VARCHAR) AS DOUBLE) / n_a / 1000000.0 - x_bar) AS ma_a,
           CAST(CAST(cdy_b AS VARCHAR) AS DOUBLE) / n_b / 1000000.0
             - theta_d * (CAST(CAST(sx_b AS VARCHAR) AS DOUBLE) / n_b / 1000000.0 - x_bar) AS ma_b,
           CAST(CAST(CAST(n_a AS HUGEINT) * cdyy_a - cdy_a * cdy_a AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS VARCHAR) AS DOUBLE) / 1e12 AS vr_a,
           CAST(CAST(CAST(n_b AS HUGEINT) * cdyy_b - cdy_b * cdy_b AS VARCHAR) AS DOUBLE)
             / CAST(CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS VARCHAR) AS DOUBLE) / 1e12 AS vr_b,
           (CAST(CAST(CAST(n_a AS HUGEINT) * cdyy_a - cdy_a * cdy_a AS VARCHAR) AS DOUBLE)
              - 2.0 * theta_d * CAST(CAST(CAST(n_a AS HUGEINT) * cdxy_a - sx_a * cdy_a AS VARCHAR) AS DOUBLE)
              + theta_d * theta_d * CAST(CAST(CAST(n_a AS HUGEINT) * sxx_a - sx_a * sx_a AS VARCHAR) AS DOUBLE))
             / CAST(CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS VARCHAR) AS DOUBLE) / 1e12 AS va_a,
           (CAST(CAST(CAST(n_b AS HUGEINT) * cdyy_b - cdy_b * cdy_b AS VARCHAR) AS DOUBLE)
              - 2.0 * theta_d * CAST(CAST(CAST(n_b AS HUGEINT) * cdxy_b - sx_b * cdy_b AS VARCHAR) AS DOUBLE)
              + theta_d * theta_d * CAST(CAST(CAST(n_b AS HUGEINT) * sxx_b - sx_b * sx_b AS VARCHAR) AS DOUBLE))
             / CAST(CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS VARCHAR) AS DOUBLE) / 1e12 AS va_b
    FROM t
)
SELECT day_us, CAST(k AS INT) AS peek, n_a, n_b, theta_d AS theta,
       (mr_a - mr_b) / sqrt(vr_a / CAST(n_a AS DOUBLE) + vr_b / CAST(n_b AS DOUBLE)) AS z_raw,
       CASE WHEN va_a / CAST(n_a AS DOUBLE) + va_b / CAST(n_b AS DOUBLE) > 0
            THEN (ma_a - ma_b) / sqrt(va_a / CAST(n_a AS DOUBLE) + va_b / CAST(n_b AS DOUBLE))
       END AS z_cuped,
       1.959963984540054 * sqrt(CAST(k_total AS DOUBLE) / CAST(k AS DOUBLE)) AS boundary,
       coalesce(abs(CASE WHEN va_a / CAST(n_a AS DOUBLE) + va_b / CAST(n_b AS DOUBLE) > 0
                THEN (ma_a - ma_b) / sqrt(va_a / CAST(n_a AS DOUBLE) + va_b / CAST(n_b AS DOUBLE))
           END)
         > 1.959963984540054 * sqrt(CAST(k_total AS DOUBLE) / CAST(k AS DOUBLE)), false) AS crossed,
       1.0 - (va_a / CAST(n_a AS DOUBLE) + va_b / CAST(n_b AS DOUBLE))
           / (vr_a / CAST(n_a AS DOUBLE) + vr_b / CAST(n_b AS DOUBLE)) AS var_reduction
FROM s ORDER BY day_us
"""


def q_ab_mutual_info_type_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION (nats) between event_type and the md5 A/B
    variant, with both marginal entropies and the normalized MI — the
    information-theoretic dependence readout feature-selection and
    leakage screens use where chi-square gives only a test statistic.
    Same exact integer grid as ``ab_chi2_type_by_variant``; each cell/
    marginal term is ONE identical double expression over exact integers
    (p·ln with a single divide layout), summed by the FIXED-ORDER fold on
    both engines; ln's last-bit engine variance is absorbed by one final
    round-6 per statistic (the PMI precedent — never per-term rounding).

    Scale: identical to the chi-square key — one map-side-combined count
    shuffle to the |types|×2 grid; every fold input is domain-bounded."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(md5_bucket("user_id", 2) == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("variant"),
    )
    cells = ev.groupBy("event_type", "variant").agg(F.count(F.lit(1)).alias("o"))
    r = cells.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    c = cells.groupBy("variant").agg(F.sum("o").alias("c_tot"))
    n = cells.agg(F.sum("o").alias("n_tot"))

    def fold(key_cols, term_col):
        return F.aggregate(
            F.sort_array(F.collect_list(F.struct(*key_cols, term_col.alias("term")))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        )

    mi_term = (F.col("o").cast("double") / F.col("n_tot")) * F.log(
        F.col("o").cast("double") * F.col("n_tot")
        / (F.col("r_tot").cast("double") * F.col("c_tot"))
    )
    mi_frame = (
        cells.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "variant")
        .crossJoin(F.broadcast(n))
        .agg(
            F.max("n_tot").cast("bigint").alias("n_total"),
            fold([F.col("event_type"), F.col("variant")], mi_term).alias("mi_raw"),
        )
    )
    ht_term = -(F.col("r_tot").cast("double") / F.col("n_tot")) * F.log(
        F.col("r_tot").cast("double") / F.col("n_tot")
    )
    ht = r.crossJoin(F.broadcast(n)).agg(
        fold([F.col("event_type")], ht_term).alias("ht_raw")
    )
    hv_term = -(F.col("c_tot").cast("double") / F.col("n_tot")) * F.log(
        F.col("c_tot").cast("double") / F.col("n_tot")
    )
    hv = c.crossJoin(F.broadcast(n)).agg(
        fold([F.col("variant")], hv_term).alias("hv_raw")
    )
    return (
        mi_frame.crossJoin(F.broadcast(ht))
        .crossJoin(F.broadcast(hv))
        .select(
            "n_total",
            F.round("mi_raw", 6).alias("mi_nats"),
            F.round("ht_raw", 6).alias("h_type"),
            F.round("hv_raw", 6).alias("h_variant"),
            F.round(
                F.col("mi_raw") / F.sqrt(F.col("ht_raw") * F.col("hv_raw")), 6
            ).alias("nmi"),
        )
    )


ORACLE_AB_MUTUAL_INFO = """
WITH ev AS (
    SELECT event_type,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS variant
    FROM events
),
cells AS (
    SELECT event_type, variant, CAST(count(*) AS BIGINT) AS o
    FROM ev GROUP BY 1, 2
),
r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r_tot FROM cells GROUP BY 1),
c AS (SELECT variant, CAST(sum(o) AS BIGINT) AS c_tot FROM cells GROUP BY 1),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot FROM cells),
mi AS (
    SELECT max(n_tot) AS n_total,
           list_reduce(
               [0.0] || list((CAST(o AS DOUBLE) / n_tot)
                             * ln(CAST(o AS DOUBLE) * n_tot
                                  / (CAST(r_tot AS DOUBLE) * c_tot))
                             ORDER BY cells.event_type, cells.variant),
               (acc, x) -> acc + x
           ) AS mi_raw
    FROM cells JOIN r USING (event_type) JOIN c USING (variant), n
),
ht AS (
    SELECT list_reduce(
               [0.0] || list(-(CAST(r_tot AS DOUBLE) / n_tot)
                             * ln(CAST(r_tot AS DOUBLE) / n_tot)
                             ORDER BY event_type),
               (acc, x) -> acc + x
           ) AS ht_raw
    FROM r, n
),
hv AS (
    SELECT list_reduce(
               [0.0] || list(-(CAST(c_tot AS DOUBLE) / n_tot)
                             * ln(CAST(c_tot AS DOUBLE) / n_tot)
                             ORDER BY variant),
               (acc, x) -> acc + x
           ) AS hv_raw
    FROM c, n
)
SELECT CAST(n_total AS BIGINT) AS n_total,
       round(mi_raw, 6) AS mi_nats,
       round(ht_raw, 6) AS h_type,
       round(hv_raw, 6) AS h_variant,
       round(mi_raw / sqrt(ht_raw * hv_raw), 6) AS nmi
FROM mi, ht, hv
"""


def q_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on the per-user value metric
    between the A/B variants (same deterministic md5 user gate as
    ``ab_cuped_adjusted`` / ``ab_chi2_type_by_variant``) — THE standard
    experiment readout, completing the experimentation family: CUPED
    (variance reduction) → chi-square (SRM / behavior shift) → Welch t
    (the difference test itself, robust to unequal group variances).

    Exactness (the r9 exact-moment recipe): per-user y sums accumulate in
    DECIMAL(18,6), become integer micro-units, and each variant's raw
    moments (n, Σy, Σy²) accumulate in DECIMAL(38,0) — exact in any
    combine order. mean, var, the t statistic and the Welch–Satterthwaite
    df are each ONE identical closed-form double expression over those
    exact integers on both engines (sqrt is IEEE correctly-rounded), so
    t_stat / df_welch hash-match with NO rounding. Headroom: per-variant
    Σy² in micro² < 1e38 while per-user |y|·1e6 < 2^53 — the documented
    100 TB bounds shared with the CUPED key.

    Scale: one user-keyed partial+final agg over the fact table, a 2-row
    variant agg, a 1-row conditional-pivot agg — nothing downstream of
    the first shuffle grows with the data."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.col("value").cast("decimal(18,6)")), F.lit(0)
            )
            .cast("double")
            .alias("y")
        )
        .withColumn(
            "variant",
            F.when(
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
                .cast("bigint") % 2
                == 0,
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    y6 = F.round(F.col("y") * 1000000).cast("decimal(38,0)")
    mv = (
        per_user.select("variant", y6.alias("y6"))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y6").alias("s"),
            F.sum(F.col("y6") * F.col("y6")).alias("ss"),
        )
    )
    one = mv.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("variant") == "A", F.col("ss"))).alias("ss_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("variant") == "B", F.col("ss"))).alias("ss_b"),
    )
    nad = F.col("n_a").cast("decimal(38,0)")
    nbd = F.col("n_b").cast("decimal(38,0)")
    mean_a = F.col("s_a").cast("double") / F.col("n_a") / 1000000.0
    mean_b = F.col("s_b").cast("double") / F.col("n_b") / 1000000.0
    # sample variance in REAL units: exact integer numerator / n(n-1), then
    # the 1e12 micro² grid factor — one identical double chain per engine
    var_a = (nad * F.col("ss_a") - F.col("s_a") * F.col("s_a")).cast("double") / (
        nad * (nad - F.lit(1))
    ).cast("double") / 1000000000000.0
    var_b = (nbd * F.col("ss_b") - F.col("s_b") * F.col("s_b")).cast("double") / (
        nbd * (nbd - F.lit(1))
    ).cast("double") / 1000000000000.0
    se2 = var_a / F.col("n_a") + var_b / F.col("n_b")
    t_stat = (mean_a - mean_b) / F.sqrt(se2)
    df_welch = (se2 * se2) / (
        (var_a / F.col("n_a")) * (var_a / F.col("n_a")) / (F.col("n_a") - F.lit(1))
        + (var_b / F.col("n_b")) * (var_b / F.col("n_b")) / (F.col("n_b") - F.lit(1))
    )
    return one.select(
        "n_a",
        "n_b",
        F.round(mean_a, 4).alias("mean_a"),
        F.round(mean_b, 4).alias("mean_b"),
        t_stat.alias("t_stat"),
        df_welch.alias("df_welch"),
    )


def q_ab_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of the event value across the event-type groups —
    the k-group generalization completing the difference-test family
    (Welch t for 2 variants, Kruskal–Wallis for ranks, chi-square for
    counts; this is THE parametric k-group test).

    Exactness (the r9 exact-moment recipe + the fixed-order-fold rule):
    values carry 2 decimals, so cent-quantized moments (n, Σc, Σc²)
    accumulate per group in BIGINT/DECIMAL(38,0) — exact in any combine
    order.  The only cross-group float reduction, A = Σ_g s_g²/n_g, runs
    as a LEFT FOLD over the event-type-sorted struct list on both
    engines (Spark ``F.aggregate`` with init 0.0 ≡ DuckDB ``list_reduce``
    without init, since 0.0 + x == x in IEEE), so F and η² are one
    identical double chain over exact integers — hash-exact, NO rounding.
    Headroom: per-group Σc < 2^53 and Σc² < 10^38 at any SF this repo
    sweeps (same documented bounds as the Welch/CUPED keys).

    Scale: one partial+final agg over the fact table into k rows, then a
    k-row collect_list on ONE reducer — nothing downstream of the first
    shuffle grows with the data."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    c = F.round(F.col("value") * 100).cast("decimal(38,0)")
    g = (
        ev.select("event_type", c.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").alias("s"),
            F.sum(F.col("c") * F.col("c")).alias("ss"),
        )
    )
    one = g.agg(
        F.count(F.lit(1)).cast("int").alias("k_groups"),
        F.sum("n").alias("n_total"),
        F.sum("s").alias("s_tot"),
        F.sum("ss").alias("ss_tot"),
        F.sort_array(
            F.collect_list(F.struct(F.col("event_type").alias("g"), "s", "n"))
        ).alias("gs"),
    )
    a = F.aggregate(
        F.col("gs"),
        F.lit(0.0),
        lambda acc, x: acc + x["s"].cast("double") * x["s"].cast("double") / x["n"],
    )
    t = F.col("s_tot").cast("double") * F.col("s_tot").cast("double") / F.col("n_total")
    sstp = F.col("ss_tot").cast("double")
    f_stat = ((a - t) / (F.col("k_groups") - F.lit(1))) / (
        (sstp - a) / (F.col("n_total") - F.col("k_groups"))
    )
    return one.select(
        "k_groups",
        "n_total",
        F.round(F.col("s_tot").cast("double") / F.col("n_total") / 100.0, 4).alias(
            "grand_mean"
        ),
        f_stat.alias("f_stat"),
        ((a - t) / (sstp - t)).alias("eta_sq"),
    )


ORACLE_AB_ANOVA = """
WITH c AS (
    SELECT event_type, CAST(round(value * 100) AS HUGEINT) AS c FROM events
),
g AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(c) AS s, sum(c * c) AS ss
    FROM c GROUP BY event_type
),
one AS (
    SELECT CAST(count(*) AS INT) AS k_groups,
           CAST(sum(n) AS BIGINT) AS n_total,
           sum(s) AS s_tot,
           sum(ss) AS ss_tot,
           list(struct_pack(g := event_type, s := s, n := n) ORDER BY event_type) AS gs
    FROM g
),
f AS (
    SELECT one.*,
           list_reduce(
               list_transform(gs, x -> CAST(x.s AS DOUBLE) * CAST(x.s AS DOUBLE) / x.n),
               (acc, x) -> acc + x
           ) AS a,
           CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n_total AS t,
           CAST(ss_tot AS DOUBLE) AS sstp
    FROM one
)
SELECT k_groups, n_total,
       round(CAST(s_tot AS DOUBLE) / n_total / 100.0, 4) AS grand_mean,
       ((a - t) / (k_groups - 1)) / ((sstp - a) / (n_total - k_groups)) AS f_stat,
       (a - t) / (sstp - t) AS eta_sq
FROM f
"""


ORACLE_AB_WELCH = """
WITH per_user AS (
    SELECT user_id,
           CAST(coalesce(sum(CAST(value AS DECIMAL(18,6))), 0) AS DOUBLE) AS y,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS variant
    FROM events GROUP BY user_id
),
u AS (SELECT variant, CAST(round(y * 1000000) AS HUGEINT) AS y6 FROM per_user),
mv AS (
    SELECT variant, CAST(count(*) AS BIGINT) AS n,
           sum(y6) AS s, sum(y6 * y6) AS ss
    FROM u GROUP BY variant
),
one AS (
    SELECT max(CASE WHEN variant = 'A' THEN n END) AS n_a,
           max(CASE WHEN variant = 'A' THEN s END) AS s_a,
           max(CASE WHEN variant = 'A' THEN ss END) AS ss_a,
           max(CASE WHEN variant = 'B' THEN n END) AS n_b,
           max(CASE WHEN variant = 'B' THEN s END) AS s_b,
           max(CASE WHEN variant = 'B' THEN ss END) AS ss_b
    FROM mv
),
t AS (
    SELECT one.*,
           CAST(s_a AS DOUBLE) / n_a / 1000000.0 AS mean_a_d,
           CAST(s_b AS DOUBLE) / n_b / 1000000.0 AS mean_b_d,
           CAST(CAST(n_a AS HUGEINT) * ss_a - s_a * s_a AS DOUBLE)
             / CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS DOUBLE) / 1000000000000.0 AS var_a,
           CAST(CAST(n_b AS HUGEINT) * ss_b - s_b * s_b AS DOUBLE)
             / CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS DOUBLE) / 1000000000000.0 AS var_b
    FROM one
),
se AS (SELECT t.*, var_a / n_a + var_b / n_b AS se2 FROM t)
SELECT n_a, n_b,
       round(mean_a_d, 4) AS mean_a,
       round(mean_b_d, 4) AS mean_b,
       (mean_a_d - mean_b_d) / sqrt(se2) AS t_stat,
       (se2 * se2) / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                      + (var_b / n_b) * (var_b / n_b) / (n_b - 1)) AS df_welch
FROM se
"""


def q_ab_ratio_delta_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method 95% CI for a RATIO metric per A/B variant (r9) —
    value-per-event R = Σx/Σy with the user as the randomization unit,
    the ratio-metric subtlety every real experimentation platform must
    handle (Deng et al., KDD 2018): per-user numerator x and denominator
    y are correlated, so Var(R) is the delta-method form
    (S_xx − 2R·S_xy + R²·S_yy) / (n·ȳ²), never the naive binomial.

    Exactness (the r9 exact-moment recipe): per-user x sums accumulate in
    DECIMAL(18,6) → integer micro-units, y is an exact count; per-variant
    raw moments (n, Σx, Σy, Σxy, Σx², Σy²) in DECIMAL(38,0)/HUGEINT; R,
    the delta variance, and ci = R ± 1.96·se are each ONE identical
    closed-form double chain over exact integers — hash-exact with NO
    rounding on se/ci. Scale: one user-keyed partial+final agg, then a
    2-row variant agg; headroom bounds shared with the CUPED key."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(F.col("value").cast("decimal(18,6)")), F.lit(0))
            .cast("double")
            .alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("y"),
        )
        .withColumn(
            "variant",
            F.when(
                F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
                .cast("bigint") % 2
                == 0,
                F.lit("A"),
            ).otherwise(F.lit("B")),
        )
    )
    x6 = F.round(F.col("x") * 1000000).cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    mv = (
        per_user.select("variant", x6.alias("x6"), yd.alias("yy"))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("x6").alias("sx"),
            F.sum("yy").alias("sy"),
            F.sum(F.col("x6") * F.col("yy")).alias("sxy"),
            F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
            F.sum(F.col("yy") * F.col("yy")).alias("syy"),
        )
    )
    nd = F.col("n_users").cast("decimal(38,0)")
    # R in real units: (Σx_micro/1e6) / Σy — one double chain
    ratio = F.col("sx").cast("double") / 1000000.0 / F.col("sy").cast("double")
    y_bar = F.col("sy").cast("double") / F.col("n_users")
    # sample (co)variances from exact integer moments; x micro-grid factors
    # fold into each term so every operand is the identical double
    s_xx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") / (
        nd * (nd - F.lit(1))
    ).cast("double") / 1e12
    s_xy = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / (
        nd * (nd - F.lit(1))
    ).cast("double") / 1e6
    s_yy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double") / (
        nd * (nd - F.lit(1))
    ).cast("double")
    var_r = (
        s_xx - F.lit(2.0) * ratio * s_xy + ratio * ratio * s_yy
    ) / (F.col("n_users") * y_bar * y_bar)
    se = F.sqrt(var_r)
    return mv.select(
        "variant",
        "n_users",
        ratio.alias("ratio"),
        se.alias("se"),
        (ratio - F.lit(1.96) * se).alias("ci_lo"),
        (ratio + F.lit(1.96) * se).alias("ci_hi"),
    ).orderBy("variant")


ORACLE_AB_RATIO_DELTA = """
WITH per_user AS (
    SELECT user_id,
           CAST(coalesce(sum(CAST(value AS DECIMAL(18,6))), 0) AS DOUBLE) AS x,
           CAST(count(*) AS BIGINT) AS y,
           CASE WHEN CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) % 2 = 0
                THEN 'A' ELSE 'B' END AS variant
    FROM events GROUP BY user_id
),
u AS (
    SELECT variant, CAST(round(x * 1000000) AS HUGEINT) AS x6, CAST(y AS HUGEINT) AS yy
    FROM per_user
),
mv AS (
    SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
           sum(x6) AS sx, sum(yy) AS sy, sum(x6 * yy) AS sxy,
           sum(x6 * x6) AS sxx, sum(yy * yy) AS syy
    FROM u GROUP BY variant
),
t AS (
    SELECT variant, n_users,
           CAST(sx AS DOUBLE) / 1000000.0 / CAST(sy AS DOUBLE) AS ratio_d,
           CAST(sy AS DOUBLE) / n_users AS y_bar,
           CAST(CAST(n_users AS HUGEINT) * sxx - sx * sx AS DOUBLE)
             / CAST(CAST(n_users AS HUGEINT) * (n_users - 1) AS DOUBLE) / 1e12 AS s_xx,
           CAST(CAST(n_users AS HUGEINT) * sxy - sx * sy AS DOUBLE)
             / CAST(CAST(n_users AS HUGEINT) * (n_users - 1) AS DOUBLE) / 1e6 AS s_xy,
           CAST(CAST(n_users AS HUGEINT) * syy - sy * sy AS DOUBLE)
             / CAST(CAST(n_users AS HUGEINT) * (n_users - 1) AS DOUBLE) AS s_yy
    FROM mv
),
v AS (
    SELECT t.*,
           (s_xx - 2.0 * ratio_d * s_xy + ratio_d * ratio_d * s_yy)
             / (n_users * y_bar * y_bar) AS var_r
    FROM t
)
SELECT variant, n_users,
       ratio_d AS ratio,
       sqrt(var_r) AS se,
       ratio_d - 1.96 * sqrt(var_r) AS ci_lo,
       ratio_d + 1.96 * sqrt(var_r) AS ci_hi
FROM v ORDER BY variant
"""


def q_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rocana_impala_udfs_spark.operators.funnel import retention_cohorts

    return retention_cohorts(load_table(spark, sf_dir, "events"))


ORACLE_RETENTION = """
WITH first AS (
    SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
    FROM events GROUP BY 1
),
active AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT epoch_us(f.cohort_week) AS cohort_week_us,
       CAST(date_diff('day', f.cohort_week, a.wk) // 7 AS INT) AS offset_weeks,
       count(*) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


ORACLE_FUNNEL = """
WITH s0 AS (
    SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1
),
s1 AS (
    SELECT e.user_id, min(e.ts) AS t1
    FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
    WHERE e.event_type = 'click' GROUP BY 1
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t2
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
    WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT CAST(0 AS INT) AS step_idx, 'view' AS step, (SELECT count(*) FROM s0) AS n_users
UNION ALL
SELECT CAST(1 AS INT), 'click', (SELECT count(*) FROM s1)
UNION ALL
SELECT CAST(2 AS INT), 'purchase', (SELECT count(*) FROM s2)
"""


def q_events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day (users-to-date) — the classic
    'cumulative uniques' curve that naive window functions can't express
    (COUNT(DISTINCT) OVER a running frame is unsupported/quadratic).
    The scalable identity: a user contributes exactly once, on their
    FIRST day — so first-seen-day counts + one cumulative sum give the
    exact curve.  Two tiny aggregations, all integers."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("day")
    )
    per_day = first_day.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("users_to_date"),
    ).orderBy("day")


ORACLE_CUMULATIVE_DISTINCT = """
WITH first_day AS (
    SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS day
    FROM events GROUP BY user_id
),
per_day AS (
    SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM first_day GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS users_to_date
FROM per_day ORDER BY day
"""


def q_events_user_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the signed engagement balance
    (+value on click/purchase, −value otherwise), in integer micro-units
    — the finance risk metric as an all-integer sequential fold
    (`operators/temporal.py:drawdown_fold`), oracle-replayed with
    list_reduce.  Users below id 300 keep the result set bounded."""
    from rocana_impala_udfs_spark.operators.temporal import drawdown_fold

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    signed = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(
            F.col("event_type").isin("click", "purchase"),
            F.floor(F.col("value") * 1000000.0).cast("bigint"),
        )
        .otherwise(-F.floor(F.col("value") * 1000000.0).cast("bigint"))
        .alias("delta_micro"),
    )
    return drawdown_fold(
        signed, ["user_id"], ["ts_us", "event_id"], "delta_micro"
    ).orderBy("user_id")


ORACLE_USER_DRAWDOWN = """
WITH signed AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id,
           CASE WHEN event_type IN ('click', 'purchase')
                THEN CAST(floor(value * 1000000.0) AS BIGINT)
                ELSE -CAST(floor(value * 1000000.0) AS BIGINT) END AS d
    FROM events WHERE user_id < 300
),
per AS (
    SELECT user_id,
           list([d, CAST(0 AS BIGINT), CAST(0 AS BIGINT)] ORDER BY ts_us, event_id) AS ds
    FROM signed GROUP BY user_id
),
folded AS (
    SELECT user_id,
           list_reduce(
               [[CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)]] || ds,
               (acc, e) -> [
                   acc[1] + e[1],
                   greatest(acc[2], acc[1] + e[1]),
                   greatest(acc[3], greatest(acc[2], acc[1] + e[1]) - (acc[1] + e[1]))
               ]) AS st
    FROM per
)
SELECT user_id,
       st[1] AS final_total, st[2] AS peak, st[3] AS max_drawdown
FROM folded ORDER BY user_id
"""


def q_ops_rate_limiter_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate-limiter what-if per user (1 token/hour, burst 3)
    via the GCRA single-state fold — how much traffic a proposed limit
    would have dropped, per user, all-integer and oracle-replayed.
    Users below id 300 bound the result set."""
    from rocana_impala_udfs_spark.operators.temporal import rate_limiter_fold

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 300)
    src = ev.select("user_id", F.unix_micros("ts").alias("ts_us"))
    return rate_limiter_fold(
        src, ["user_id"], "ts_us", t_us=3600 * 1000000, burst=3
    ).orderBy("user_id")


ORACLE_RATE_LIMITER = """
WITH src AS (
    SELECT user_id, epoch_us(ts) AS ts_us FROM events WHERE user_id < 300
),
per AS (
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           list([ts_us, CAST(0 AS BIGINT)] ORDER BY ts_us) AS ts
    FROM src GROUP BY user_id
),
folded AS (
    SELECT user_id, n_events,
           list_reduce(
               [[CAST(-4611686018427387904 AS BIGINT), CAST(0 AS BIGINT)]] || ts,
               (acc, e) -> CASE
                   WHEN e[1] >= acc[1] - 7200000000
                   THEN [greatest(e[1], acc[1]) + 3600000000, acc[2]]
                   ELSE [acc[1], acc[2] + 1] END) AS st
    FROM per
)
SELECT user_id, n_events, st[2] AS n_dropped, st[1] AS final_tat_us
FROM folded ORDER BY user_id
"""


def q_forecast_mase_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality evaluation (the metric side of the Holt/CUSUM
    forecasting family): per event type, the seasonal-naive forecast
    (ŷ_t = y_{t−7}) scored by MAE and by MASE (MAE scaled by the
    one-step-naive in-sample MAE — Hyndman's scale-free standard).
    Absolute errors of integer daily counts are exact integers; the two
    MAEs and their ratio are the only float ops, in one fixed-order
    chain.  Lags are pinned to CALENDAR days via self-joins on day−7 /
    day−1 (a row-offset lag would silently misalign across zero-event
    gap days); joins run over the tiny daily aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    s7 = daily.select(
        "event_type", F.date_add("day", 7).alias("day"), F.col("n").alias("l7")
    )
    s1 = daily.select(
        "event_type", F.date_add("day", 1).alias("day"), F.col("n").alias("l1")
    )
    lagged = (
        daily.join(s7, ["event_type", "day"], "left")
        .join(s1, ["event_type", "day"], "left")
        .select("event_type", "n", "l7", "l1")
    )
    agg = lagged.groupBy("event_type").agg(
        F.count(F.col("l7")).cast("bigint").alias("n_scored"),
        F.sum(F.abs(F.col("n") - F.col("l7"))).cast("bigint").alias("sae7"),
        F.count(F.col("l1")).cast("bigint").alias("n_naive"),
        F.sum(F.abs(F.col("n") - F.col("l1"))).cast("bigint").alias("sae1"),
    )
    mae7 = F.col("sae7").cast("double") / F.col("n_scored")
    mae1 = F.col("sae1").cast("double") / F.col("n_naive")
    return agg.select(
        "event_type",
        "n_scored",
        F.round(mae7, 6).alias("mae_seasonal_naive"),
        F.round(mae1, 6).alias("mae_naive"),
        F.round(F.try_divide(mae7, mae1), 6).alias("mase"),
    ).orderBy("event_type")


ORACLE_MASE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
),
lagged AS (
    SELECT d.event_type, d.n, s7.n AS l7, s1.n AS l1
    FROM daily d
    LEFT JOIN daily s7 ON s7.event_type = d.event_type AND s7.day = d.day - INTERVAL 7 DAY
    LEFT JOIN daily s1 ON s1.event_type = d.event_type AND s1.day = d.day - INTERVAL 1 DAY
),
agg AS (
    SELECT event_type,
           CAST(count(l7) AS BIGINT) AS n_scored,
           CAST(sum(abs(n - l7)) AS BIGINT) AS sae7,
           CAST(count(l1) AS BIGINT) AS n_naive,
           CAST(sum(abs(n - l1)) AS BIGINT) AS sae1
    FROM lagged GROUP BY event_type
)
SELECT event_type, n_scored,
       round(CAST(sae7 AS DOUBLE) / n_scored, 6) AS mae_seasonal_naive,
       round(CAST(sae1 AS DOUBLE) / n_naive, 6) AS mae_naive,
       round((CAST(sae7 AS DOUBLE) / n_scored) / (CAST(sae1 AS DOUBLE) / n_naive), 6) AS mase
FROM agg ORDER BY event_type
"""


def q_label_churn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set builder for churn prediction — the label/feature
    engineering step of an ML data platform: the corpus window's last 7
    days are the LABEL period (churned = silent there), everything before
    is the FEATURE period (event count, active days, value total in
    integer micro-units).  The cutoff is computed in epoch microseconds
    (integer arithmetic — no engine interval semantics in the hash path);
    users with no feature-period activity are excluded (no features to
    train on).  One scan + one user-keyed aggregation."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v_micro"),
    )
    cutoff = ev.agg(
        (F.max("t_us") - F.lit(7 * 86400 * 1000000)).alias("cutoff_us")
    )
    feat = (
        ev.crossJoin(F.broadcast(cutoff))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("t_us") < F.col("cutoff_us"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_events_before"),
            F.countDistinct(
                F.when(
                    F.col("t_us") < F.col("cutoff_us"),
                    F.expr("div(t_us, 86400000000)"),
                )
            )
            .cast("bigint")
            .alias("n_active_days"),
            F.sum(F.when(F.col("t_us") < F.col("cutoff_us"), F.col("v_micro")).otherwise(0))
            .cast("bigint")
            .alias("value_micro_before"),
            F.max(F.when(F.col("t_us") >= F.col("cutoff_us"), 1).otherwise(0)).alias(
                "active_in_label_window"
            ),
        )
        .filter(F.col("n_events_before") > 0)
    )
    return feat.select(
        "user_id",
        "n_events_before",
        "n_active_days",
        "value_micro_before",
        (F.col("active_in_label_window") == 0).alias("churned"),
    ).orderBy("user_id")


ORACLE_CHURN_LABELS = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS t_us,
           CAST(floor(value * 1000000.0) AS BIGINT) AS v_micro
    FROM events
),
cutoff AS (SELECT max(t_us) - 604800000000 AS cutoff_us FROM ev),
feat AS (
    SELECT user_id,
           CAST(sum(CASE WHEN t_us < cutoff_us THEN 1 ELSE 0 END) AS BIGINT) AS n_events_before,
           CAST(count(DISTINCT CASE WHEN t_us < cutoff_us THEN t_us // 86400000000 END) AS BIGINT) AS n_active_days,
           CAST(sum(CASE WHEN t_us < cutoff_us THEN v_micro ELSE 0 END) AS BIGINT) AS value_micro_before,
           max(CASE WHEN t_us >= cutoff_us THEN 1 ELSE 0 END) AS active_late
    FROM ev CROSS JOIN cutoff
    GROUP BY user_id
)
SELECT user_id, n_events_before, n_active_days, value_micro_before,
       active_late = 0 AS churned
FROM feat WHERE n_events_before > 0 ORDER BY user_id
"""


def q_pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature join — the feature-store primitive
    that prevents label leakage: for every purchase (the label event),
    the user's click count and click-value total in the strictly
    PRECEDING 24 hours, [t−24h, t).  A user-keyed join with time-range
    residuals (never cross-user), epoch-microsecond integers end to end;
    purchases with no preceding clicks keep a 0 row via the left join.
    At 100 TB band the time axis (day buckets) to bound the per-user
    pair work — same plan as the interval overlap join."""
    ev = load_table(spark, sf_dir, "events")
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("u"), F.unix_micros("ts").alias("t_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"),
        F.unix_micros("ts").alias("c_us"),
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v_micro"),
    )
    day_us = 86400 * 1000000
    joined = buys.join(
        clicks,
        (buys.u == clicks.u)
        & (clicks.c_us >= buys.t_us - day_us)
        & (clicks.c_us < buys.t_us),
        "left",
    )
    return (
        joined.groupBy("event_id", buys.u.alias("user_id"), "t_us")
        .agg(
            F.count("c_us").cast("bigint").alias("clicks_24h"),
            F.coalesce(F.sum("v_micro"), F.lit(0)).cast("bigint").alias("click_value_micro_24h"),
        )
        .select("event_id", "user_id", "clicks_24h", "click_value_micro_24h")
        .orderBy("event_id")
    )


ORACLE_PIT_FEATURES = """
WITH buys AS (
    SELECT event_id, user_id AS u, epoch_us(ts) AS t_us
    FROM events WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id AS u, epoch_us(ts) AS c_us,
           CAST(floor(value * 1000000.0) AS BIGINT) AS v_micro
    FROM events WHERE event_type = 'click'
)
SELECT b.event_id, b.u AS user_id,
       CAST(count(c.c_us) AS BIGINT) AS clicks_24h,
       CAST(coalesce(sum(c.v_micro), 0) AS BIGINT) AS click_value_micro_24h
FROM buys b LEFT JOIN clicks c
  ON b.u = c.u AND c.c_us >= b.t_us - 86400000000 AND c.c_us < b.t_us
GROUP BY b.event_id, b.u
ORDER BY b.event_id
"""


def q_events_conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily conversion rate (purchase share of all events) with the 95%
    Wilson score interval — the statistically honest rate report (the
    normal approximation misbehaves at small n / extreme p; Wilson is
    what A/B dashboards should use).  s and n are exact integers; the
    interval is one fixed-order float chain shared verbatim with the
    oracle, rounded 6dp against the sqrt libm call."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("bigint").alias("s"),
    )
    n = F.col("n").cast("double")
    ph = F.col("s").cast("double") / n
    z2 = F.lit(3.8416)
    denom = F.lit(1.0) + z2 / n
    center = (ph + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(1.96)
        * F.sqrt(ph * (F.lit(1.0) - ph) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("bigint").alias("n"),
        "s",
        F.round(ph, 6).alias("p_hat"),
        F.round(F.greatest(F.lit(0.0), center - half), 6).alias("wilson_lo"),
        F.round(F.least(F.lit(1.0), center + half), 6).alias("wilson_hi"),
    ).orderBy("day")


ORACLE_WILSON_CI = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS s
    FROM events GROUP BY 1
),
calc AS (
    SELECT day, n, s,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ph,
           1.0 + 3.8416 / CAST(n AS DOUBLE) AS denom
    FROM daily
)
SELECT strftime(day, '%Y-%m-%d') AS day, n, s,
       round(ph, 6) AS p_hat,
       round(greatest(0.0, ((ph + 3.8416 / (2.0 * CAST(n AS DOUBLE))) / denom)
             - (1.96 * sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE)
                            + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / denom)), 6) AS wilson_lo,
       round(least(1.0, ((ph + 3.8416 / (2.0 * CAST(n AS DOUBLE))) / denom)
             + (1.96 * sqrt(ph * (1.0 - ph) / CAST(n AS DOUBLE)
                            + 3.8416 / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / denom)), 6) AS wilson_hi
FROM calc ORDER BY day
"""


def q_events_duration_log2_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency histogram on a log2 scale (the SLO-dashboard bucketing:
    1-2ms, 2-4ms, ...): bucket = bit length of the integer microsecond
    duration — an INTEGER log2 floor, no libm, so bucketing is
    engine-exact even at bucket boundaries (where floor(log2(x)) in
    floating point famously misbuckets powers of two).  One scan, one
    (type, bucket)-keyed aggregation."""
    ev = load_table(spark, sf_dir, "events")
    us = F.floor(F.col("value") * 1000000.0).cast("bigint")
    bucket = F.when(us <= 0, F.lit(0)).otherwise(F.length(F.bin(us)))
    return (
        ev.select("event_type", bucket.cast("int").alias("log2_bucket"))
        .groupBy("event_type", "log2_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("event_type", "log2_bucket")
    )


ORACLE_LOG2_BUCKETS = """
WITH us AS (
    SELECT event_type, CAST(floor(value * 1000000.0) AS BIGINT) AS d FROM events
)
SELECT event_type,
       CAST(CASE WHEN d <= 0 THEN 0 ELSE length(format('{:b}', d)) END AS INT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n
FROM us GROUP BY 1, 2 ORDER BY event_type, log2_bucket
"""


def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type: treat each event as a live
    interval [ts, ts + value seconds) and find the maximum number
    simultaneously open, plus when it is first reached — the classic
    sweep-line (+1 at start, −1 at end, running sum), i.e. the ops
    'max concurrent sessions' metric.  Epoch-microsecond BIGINTs, end
    markers sort before starts at the same instant (half-open
    intervals), so the running sum and its argmax are engine-exact."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.floor(F.col("value") * 1000000.0).cast("bigint")).alias("e"),
    ).filter(F.col("e") > F.col("s"))
    marks = iv.select("event_type", F.col("s").alias("t"), F.lit(1).alias("d")).unionByName(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("t").asc(), F.col("d").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = marks.select(
        "event_type", "t", F.sum("d").over(w).alias("open_now")
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.col("open_now").desc(), F.col("t").asc()
    )
    return (
        run.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("open_now").cast("bigint").alias("peak_concurrency"),
            F.col("t").alias("first_peak_us"),
        )
        .orderBy("event_type")
    )


ORACLE_PEAK_CONCURRENCY = """
WITH iv AS (
    SELECT event_type, epoch_us(ts) AS s,
           epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e
    FROM events
),
marks AS (
    SELECT event_type, s AS t, 1 AS d FROM iv WHERE e > s
    UNION ALL
    SELECT event_type, e AS t, -1 AS d FROM iv WHERE e > s
),
run AS (
    SELECT event_type, t,
           CAST(sum(d) OVER (PARTITION BY event_type ORDER BY t ASC, d ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_now
    FROM marks
)
SELECT event_type, open_now AS peak_concurrency, t AS first_peak_us
FROM run
QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY open_now DESC, t ASC) = 1
ORDER BY event_type
"""


def q_stats_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series per type,
    lags 1–3 — the seasonality probe behind ARIMA-style diagnostics.
    Each lag's Pearson correlation is assembled from SIX INTEGER window
    sums (counts and their products, exact BIGINTs in any order), so the
    only float ops are the final mul/sqrt/divide chain — engine-exact,
    the rolling-correlation discipline applied to the ACF."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        *[F.lag("n", k).over(w).alias(f"l{k}") for k in (1, 2, 3)],
    )
    pairs = lagged.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("lag"), F.col("n").alias("x"), F.col(f"l{k}").alias("y"))
                    for k in (1, 2, 3)
                ]
            )
        ).alias("p"),
    ).select("event_type", "p.lag", "p.x", "p.y").filter(F.col("y").isNotNull())
    agg = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt((F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")) * F.sqrt(
        (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    # try_divide: a zero-variance side (constant series or k=1 pairs) has
    # den = 0 — NULL acf, matching DuckDB's /0 semantics instead of an
    # ANSI-mode crash.
    return agg.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        F.col("k").cast("bigint").alias("n_pairs"),
        F.try_divide(num, den).alias("acf"),
    ).orderBy("event_type", "lag")


ORACLE_ACF_DAILY = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
),
lagged AS (
    SELECT event_type, n,
           lag(n, 1) OVER w AS l1, lag(n, 2) OVER w AS l2, lag(n, 3) OVER w AS l3
    FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
pairs AS (
    SELECT event_type, 1 AS lag, n AS x, l1 AS y FROM lagged WHERE l1 IS NOT NULL
    UNION ALL
    SELECT event_type, 2 AS lag, n AS x, l2 AS y FROM lagged WHERE l2 IS NOT NULL
    UNION ALL
    SELECT event_type, 3 AS lag, n AS x, l3 AS y FROM lagged WHERE l3 IS NOT NULL
),
agg AS (
    SELECT event_type, lag,
           CAST(count(*) AS BIGINT) AS k,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
    FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INT) AS lag, k AS n_pairs,
       CAST(k * sxy - sx * sy AS DOUBLE)
       / (sqrt(CAST(k * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(k * syy - sy * sy AS DOUBLE))) AS acf
FROM agg ORDER BY event_type, lag
"""


def q_events_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection (binary segmentation, one split) on the
    daily count series per type: the split day maximizing the
    between-segment variance score ((S1·n2 − S2·n1)² / (n1·n2), the CUSUM
    square).  Candidate scores are BIGINT numerators over BIGINT
    denominators with ONE float division each — identical IEEE values in
    any engine, so the argmax (float desc, day asc tiebreak) is
    engine-exact.  Two windows over the tiny daily aggregate; the corpus
    is touched once."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    part = Window.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "day",
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("s1"),
        F.row_number().over(w).alias("n1"),
        F.sum("n").over(part).alias("st"),
        F.count(F.lit(1)).over(part).alias("nt"),
    ).filter(F.col("n1") < F.col("nt"))
    scored = cum.select(
        "event_type",
        "day",
        "n1",
        (F.col("nt") - F.col("n1")).alias("n2"),
        (
            (F.col("s1") * (F.col("nt") - F.col("n1")) - (F.col("st") - F.col("s1")) * F.col("n1"))
            * (F.col("s1") * (F.col("nt") - F.col("n1")) - (F.col("st") - F.col("s1")) * F.col("n1"))
        ).alias("num"),
        (F.col("n1") * (F.col("nt") - F.col("n1"))).alias("den"),
    ).withColumn("score", F.col("num").cast("double") / F.col("den"))
    rk = Window.partitionBy("event_type").orderBy(F.col("score").desc(), F.col("day").asc())
    return (
        scored.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("split_day"),
            F.col("n1").cast("bigint").alias("days_before"),
            F.col("n2").cast("bigint").alias("days_after"),
            F.round("score", 4).alias("cusum_score"),
        )
        .orderBy("event_type")
    )


ORACLE_CHANGEPOINT = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT event_type, day,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS n1,
           CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS st,
           CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nt
    FROM daily
),
scored AS (
    SELECT event_type, day, n1, nt - n1 AS n2,
           CAST((s1 * (nt - n1) - (st - s1) * n1) * (s1 * (nt - n1) - (st - s1) * n1) AS DOUBLE)
           / (n1 * (nt - n1)) AS score
    FROM cum WHERE n1 < nt
)
SELECT event_type,
       strftime(day, '%Y-%m-%d') AS split_day,
       n1 AS days_before,
       n2 AS days_after,
       round(score, 4) AS cusum_score
FROM scored
QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY score DESC, day ASC) = 1
ORDER BY event_type
"""


def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the view→click→purchase funnel:
    among users completing all three ordered steps (first-touch rule,
    same step semantics as `funnel_view_click_purchase`), the elapsed time
    from first view to the converting purchase — count, min/max, mean, and
    the exact upper median (`median.cc:301`) in integer MICROSECONDS, so
    every statistic is engine-exact (the mean is one division of an exact
    BIGINT sum).  The median comes from the histogram-selection operator
    (`operators/selection.py`) over the persisted conversions frame — the
    conversions set is user-scale (unbounded), so the previous global
    rank window would have sorted it on ONE partition at 100 TB; selection
    narrows by counting with no global sort and stays exact.

    The bounded driver-side materialization (1-row stats agg + the
    selection rounds, sharing one cache released before return) lives in
    ``operators/selection.stats_with_exact_median`` — ``plans/`` paths may
    not embed a driver round-trip (tests/test_plans.py pins that rule), and the
    returned DataFrame is therefore a driver-local single row: plan dumps
    for this key show a LocalTableScan, by design."""
    from rocana_impala_udfs_spark.operators.selection import stats_with_exact_median

    ev = load_table(spark, sf_dir, "events")
    s0 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t0"))
    s1 = (
        ev.filter(F.col("event_type") == "click")
        .join(s0, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"), F.max("t0").alias("t0"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.max("t0").alias("t0"))
    )
    conv = s2.select(
        "user_id", (F.unix_micros("t2") - F.unix_micros("t0")).alias("dt_us")
    )
    st = stats_with_exact_median(conv, "dt_us")
    return spark.createDataFrame(
        [
            (
                st["n"],
                st["min"],
                st["max"],
                st["mean"],
                None if st["median"] is None else int(st["median"]),
            )
        ],
        "n_converted bigint, min_us bigint, max_us bigint, mean_us double, median_us bigint",
    )


ORACLE_FUNNEL_TTC = """
WITH s0 AS (
    SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1
),
s1 AS (
    SELECT e.user_id, min(e.ts) AS t1, max(s0.t0) AS t0
    FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
    WHERE e.event_type = 'click' GROUP BY 1
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t2, max(s1.t0) AS t0
    FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
    WHERE e.event_type = 'purchase' GROUP BY 1
),
conv AS (
    SELECT user_id, epoch_us(t2) - epoch_us(t0) AS dt_us FROM s2
),
ranked AS (
    SELECT dt_us,
           row_number() OVER (ORDER BY dt_us) AS rn,
           count(*) OVER () AS n
    FROM conv
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       CAST(min(dt_us) AS BIGINT) AS min_us,
       CAST(max(dt_us) AS BIGINT) AS max_us,
       CAST(sum(dt_us) AS BIGINT) / CAST(count(*) AS DOUBLE) AS mean_us,
       (SELECT dt_us FROM ranked WHERE rn = n // 2 + 1) AS median_us
FROM conv
"""


def q_variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT type (Spark 4): parse the JSON props column
    once into a variant, extract a typed path, aggregate. Unlike
    get_json_object (string re-parse per extraction), the variant is a
    parsed binary encoding — repeated path extraction is cheap, the right
    model for wide telemetry blobs at scale."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    return (
        v.select("event_type", F.variant_get("v", "$.k", "int").alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count("k").alias("n_k"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_VARIANT_PROPS = """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       count(json_extract(props, '$.k')) AS n_k,
       CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT) AS max_k
FROM events GROUP BY event_type
"""


# --- tumbling-window aggregation --------------------------------------------


def q_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hourly stats. avg_value follows the exact-moment recipe
    (round(value·1e6) integers summed in DECIMAL(38,0), ONE double chain,
    NO final round): `round(avg,4)` hit exact 4-dp midpoints at sf0.1
    where Spark rounds the shortest-string decimal (BigDecimal.valueOf)
    while DuckDB rounds the binary double — the engines legitimately
    disagree on such values, so the final round is the bug, not the sum
    (found by the r9 multi-SF sweep; invisible at the driver's sf0.01)."""
    ev = load_table(spark, sf_dir, "events")
    v6 = F.round(F.col("value") * 1000000).cast("decimal(38,0)")
    out = tumbling_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n"),
            F.count("value").alias("nv"),
            F.sum(v6).alias("s6"),
            F.round(F.max("value"), 4).alias("max_value"),
        ],
    )
    return out.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n",
        # divide by the NON-NULL count — avg(value) semantics (sum skips
        # NULLs; count(*) would silently shift the mean on NULL-bearing data)
        (F.col("s6").cast("double") / F.col("nv") / F.lit(1000000.0)).alias(
            "avg_value"
        ),
        "max_value",
    )


ORACLE_HOURLY_STATS = """
SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
       event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 1000000) AS HUGEINT)) AS DOUBLE)
             / count(value) / 1000000.0 AS avg_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY 1, 2
"""


# --- JSON props -------------------------------------------------------------


def q_event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_PROPS_JSON = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- multi-resolution rollup (hypertable pattern) ---------------------------


def q_multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = multi_resolution_rollup(ev, "ts", ["event_type"], "value")
    return out.select(
        "granularity",
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n",
        F.round("value_sum", 2).alias("value_sum"),
    )


ORACLE_MULTI_ROLLUP = """
SELECT 'minute' AS granularity, epoch_us(time_bucket(INTERVAL '1 minute', ts)) AS window_start_us,
       event_type, count(value) AS n, round(sum(value), 2) AS value_sum
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'hour', epoch_us(time_bucket(INTERVAL '1 hour', ts)), event_type, count(value), round(sum(value), 2)
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', epoch_us(time_bucket(INTERVAL '1 day', ts)), event_type, count(value), round(sum(value), 2)
FROM events GROUP BY 2, 3
"""


# --- skew-resistant salted aggregation --------------------------------------


def q_salted_event_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.event_type is maximally skewed (5 keys over the whole table) —
    the salted two-stage plan spreads each hot key over 8 partial reducers."""
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(ev, ["event_type"], "value", n_salts=8)
    return out.select(
        "event_type",
        F.round("value_sum", 2).alias("value_sum"),
        "value_count",
        # r10: value_avg is the operator's exact-moment quotient, emitted
        # RAW — round(x, 4) was the final-round midpoint class.
        "value_avg",
        F.round("value_min", 4).alias("value_min"),
        F.round("value_max", 4).alias("value_max"),
    )


ORACLE_SALTED_AGG = """
SELECT event_type,
       round(sum(value), 2) AS value_sum,
       count(value) AS value_count,
       CAST(CAST(sum(CAST(round(value * 1000000) AS HUGEINT)) AS VARCHAR) AS DOUBLE)
             / count(value) / 1000000.0 AS value_avg,
       round(min(value), 4) AS value_min,
       round(max(value), 4) AS value_max
FROM events GROUP BY event_type
"""


# --- range join -------------------------------------------------------------

# Non-uniform value bands: interval widths 10..250, deliberately misaligned
# with the operator's bucket grid so interval-to-bucket explosion is real.
_BANDS = [
    ("tiny", 0.0, 10.0),
    ("small", 10.0, 25.0),
    ("medium", 25.0, 50.0),
    ("large", 50.0, 100.0),
    ("xlarge", 100.0, 250.0),
    ("huge", 250.0, 500.0),
]


def q_range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    intervals = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    joined = bucketed_range_join(ev, intervals, "value", bucket_size=50.0)
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # r10 exact-moment recipe: round(avg, 4) was the final-round
            # midpoint class (Spark shortest-string vs DuckDB binary).
            (
                F.sum(F.round(F.col("value") * 1000000).cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("avg_value"),
        )
        .orderBy("band")
    )


_BANDS_SQL = " , ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)

ORACLE_RANGE_JOIN = f"""
WITH bands(band, lo, hi) AS (VALUES {_BANDS_SQL})
SELECT band, count(*) AS n,
       CAST(CAST(sum(CAST(round(value * 1000000) AS HUGEINT)) AS VARCHAR) AS DOUBLE)
             / count(*) / 1000000.0 AS avg_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band ORDER BY band
"""


# --- gap filling -------------------------------------------------------------


def q_gap_filled_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-type minute series: 1-minute counts with missing minutes
    filled with 0 between each type's first and last active minute."""
    ev = load_table(spark, sf_dir, "events")
    agg = tumbling_agg(
        ev, "ts", "1 minute", ["event_type"], [F.count(F.lit(1)).alias("n")]
    ).select("event_type", "window_start", "n")
    dense = gap_fill(agg, "window_start", ["event_type"], {"n": 0}, step_seconds=60)
    return dense.select(
        "event_type", F.unix_micros("window_start").alias("minute_us"), F.col("n").cast("bigint").alias("n")
    )


ORACLE_GAP_FILLED = """
WITH agg AS (
    SELECT event_type, time_bucket(INTERVAL '1 minute', ts) AS m, count(*) AS n
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(m) AS lo, max(m) AS hi FROM agg GROUP BY 1),
spine AS (
    SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '1 minute')) AS m
    FROM bounds
)
SELECT s.event_type, epoch_us(s.m) AS minute_us, coalesce(a.n, 0) AS n
FROM spine s LEFT JOIN agg a ON a.event_type = s.event_type AND a.m = s.m
"""


# --- histogram ----------------------------------------------------------------


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of lineitem extended price (25 bins of 4000)."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_col = F.floor(F.col("l_extendedprice") / 4000).cast("int")
    return (
        li.groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lo", (F.col("bin") * 4000).cast("double"))
        .orderBy("bin")
    )


ORACLE_PRICE_HISTOGRAM = """
SELECT bin, count(*) AS n, CAST(bin * 4000 AS DOUBLE) AS lo
FROM (SELECT CAST(floor(l_extendedprice / 4000) AS INT) AS bin FROM lineitem)
GROUP BY bin ORDER BY bin
"""


def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type Markov transitions: count and row-normalized
    probability of each (prev_type → type) step. One per-user window sort
    (lag) + one partial+final count agg; the normalizing row totals come
    from a window over the 25-row transition table, which costs nothing."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.lag("event_type", 1).over(w).alias("prev_type"), "event_type"
    ).filter(F.col("prev_type").isNotNull())
    counts = steps.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_row = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_row), 6).alias("p"),
    ).orderBy("prev_type", "next_type")


ORACLE_TRANSITION_MATRIX = """
WITH steps AS (
    SELECT lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           event_type AS next_type
    FROM events
),
counts AS (
    SELECT prev_type, next_type, count(*) AS n FROM steps
    WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 6) AS p
FROM counts ORDER BY prev_type, next_type
"""


def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU per day. Scale shape: dedupe to (day, user)
    first (one agg over the corpus — the only corpus-sized step), then the
    7-day window works on day×user rows via a compact day-spine interval
    join; distinct-in-window is computed exactly on the deduped frame."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.date_trunc("day", "ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = dau.select("day")
    wau = (
        days.alias("d")
        .join(
            du.alias("u"),
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") >= F.expr("d.day - INTERVAL 6 DAYS")),
        )
        .select(F.col("d.day").alias("day"), "u.user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


ORACLE_DAU_WAU = """
WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
wau AS (
    SELECT d.day, count(DISTINCT u.user_id) AS wau
    FROM (SELECT DISTINCT day FROM du) d
    JOIN du u ON u.day <= d.day AND u.day >= d.day - INTERVAL 6 DAY
    GROUP BY 1
)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       round(dau.dau * 1.0 / wau.wau, 6) AS stickiness
FROM dau JOIN wau USING (day) ORDER BY day
"""


def q_ops_error_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO burn-rate (ops-analytics flagship flavor): hourly error ratio
    plus the trailing-6-hour ratio from the same hourly partials — the
    corpus is aggregated once to hour grain, the burn window slides over
    the tiny hourly frame (ROWS frame on complete hours; missing hours
    carry no rows, matching the oracle exactly)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
    )
    w6 = Window.orderBy("hour").rowsBetween(-5, 0)
    return hourly.select(
        F.unix_micros("hour").alias("hour_us"),
        "n_events",
        "n_errors",
        F.round(F.col("n_errors") / F.col("n_events"), 6).alias("error_ratio"),
        F.round(F.sum("n_errors").over(w6) / F.sum("n_events").over(w6), 6).alias(
            "burn_6h"
        ),
    ).orderBy("hour_us")


ORACLE_ERROR_BURN = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
    FROM events GROUP BY 1
)
SELECT epoch_us(hour) AS hour_us, n_events, n_errors,
       round(n_errors * 1.0 / n_events, 6) AS error_ratio,
       round(sum(n_errors) OVER w * 1.0 / sum(n_events) OVER w, 6) AS burn_6h
FROM hourly
WINDOW w AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
ORDER BY hour_us
"""


_DECILES = [i / 10 for i in range(1, 10)]


def q_price_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-bucketed) histogram — the complement of the
    equal-width bins above. Decile boundaries come from the exact
    ``percentile`` AGGREGATE (verified bit-identical to DuckDB
    ``quantile_cont``), broadcast as one row; each row's bucket is
    1 + #boundaries strictly below its value (ties land in the lower bucket
    in both engines). Scale note: EXACT quantiles fundamentally buffer the
    group's values in the aggregation state (no global sort node, but the
    final agg task holds the column) — fine to ~10⁸ values; at 100 TB set
    ``spark.rocana.quantile.approx=true`` for ``percentile_approx``
    boundaries (bounded QuantileSummaries state, identical plan shape),
    trading exactness the oracle can check for bounded memory."""
    from rocana_impala_udfs_spark.functions.quantiles import quantile_agg

    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(quantile_agg(spark, "l_extendedprice", _DECILES).alias("bs"))
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(
            (1 + F.size(F.filter(F.col("bs"), lambda b: b < F.col("l_extendedprice"))))
            .cast("int")
            .alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


ORACLE_EQUIDEPTH_HISTOGRAM = f"""
WITH b AS (SELECT quantile_cont(l_extendedprice, {_DECILES}) AS bs FROM lineitem),
bucketed AS (
    SELECT CAST(1 + len(list_filter(b.bs, x -> x < l_extendedprice)) AS INT) AS bucket,
           l_extendedprice
    FROM lineitem CROSS JOIN b
)
SELECT bucket, count(*) AS n,
       round(min(l_extendedprice), 2) AS lo, round(max(l_extendedprice), 2) AS hi
FROM bucketed GROUP BY bucket ORDER BY bucket
"""


# --- pivot ------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_daily_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one row per day, one count column per event type. The pivot
    values are pinned (no discovery pass) so the plan is a single partial+
    final aggregation at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .count()
        .na.fill(0, _EVENT_TYPES)
    )


ORACLE_DAILY_PIVOT = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events GROUP BY 1
"""


def q_sliding_window_event_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 1-hour windows every 15 minutes, count +
    mean value per (window, event_type). ``F.window`` expands each row into
    window/slide = 4 buckets JVM-side, then one partial/final agg — the same
    operator Structured Streaming uses, so this plan is streaming-portable.
    Window starts cross the compare boundary as unix micros."""
    ev = load_table(spark, sf_dir, "events")
    v6 = F.round(F.col("value") * 1000000).cast("decimal(38,0)")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("value").alias("nv"),
            F.sum(v6).alias("s6"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("win_start_us"),
            "event_type",
            "n",
            (F.col("s6").cast("double") / F.col("nv") / F.lit(1000000.0)).alias(
                "avg_value"
            ),
        )
    )


ORACLE_SLIDING_WINDOWS = """
WITH ev AS (
    SELECT ts, event_type, value, time_bucket(INTERVAL 15 MINUTE, ts) AS b FROM events
),
expanded AS (
    SELECT event_type, value, b - INTERVAL (15 * i) MINUTE AS win_start
    FROM ev, (SELECT unnest(range(4)) AS i) hops
)
SELECT epoch_us(win_start) AS win_start_us, event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 1000000) AS HUGEINT)) AS DOUBLE)
             / count(value) / 1000000.0 AS avg_value
FROM expanded GROUP BY 1, 2
"""


def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact exponential smoothing (alpha=0.1) of each user's event values
    in time order — the classic alerting baseline. The sequential recursion
    runs as one keyed shuffle + applyInPandas fold
    (operators/temporal.py:ewma_smooth); the oracle reproduces the
    identical left fold with DuckDB list_reduce, so values match
    bit-for-bit (IEEE mul/add, no rounding needed)."""
    from rocana_impala_udfs_spark.operators.temporal import ewma_smooth

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    out = ewma_smooth(ev, ["user_id"], ["ts", "event_id"], "value", alpha=0.1)
    return out.select("user_id", "event_id", "value", "ewma")


ORACLE_EWMA = """
WITH per AS (
    SELECT user_id,
           list(event_id ORDER BY ts, event_id) AS ids,
           list(value ORDER BY ts, event_id) AS vals
    FROM events GROUP BY user_id
),
idx AS (
    SELECT user_id, ids, vals, unnest(range(1, len(vals) + 1)) AS i FROM per
)
SELECT user_id,
       ids[CAST(i AS INT)] AS event_id,
       vals[CAST(i AS INT)] AS value,
       list_reduce(vals[1:CAST(i AS INT)], (acc, x) -> 0.1*x + (1 - 0.1)*acc) AS ewma
FROM idx
"""


def q_interpolated_minute_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill over 5-minute buckets of per-type MIN
    value (min is summation-order-independent, so the interpolation inputs
    — and therefore the IEEE arithmetic — are identical in both engines;
    no rounding needed)."""
    from rocana_impala_udfs_spark.operators.temporal import interpolate_fill

    ev = load_table(spark, sf_dir, "events")
    # 5-minute buckets via integer floor division (a float-divide +
    # bigint cast would TRUNCATE in Spark but ROUND in DuckDB)
    agg5 = ev.groupBy(
        "event_type",
        F.timestamp_seconds(
            F.expr("unix_micros(cast(ts as timestamp)) div 1000000 div 300 * 300")
        ).alias("bucket"),
    ).agg(F.min("value").alias("v"))
    out = interpolate_fill(agg5, "bucket", ["event_type"], "v", 300)
    return out.select(
        "event_type",
        F.unix_micros(F.col("bucket").cast("timestamp")).alias("bucket_us"),
        "v",
        "v_filled",
    )


ORACLE_INTERPOLATE = """
WITH agg AS (
    SELECT event_type,
           to_timestamp(epoch_us(ts) // 1000000 // 300 * 300) AS bucket,
           min(value) AS v
    FROM events GROUP BY 1, 2
),
bounds AS (
    SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM agg GROUP BY 1
),
spine AS (
    SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 300 SECONDS)) AS bucket
    FROM bounds
),
joined AS (
    SELECT s.event_type, s.bucket, a.v,
           CAST(epoch_us(s.bucket) AS DOUBLE) AS t,
           CASE WHEN a.v IS NOT NULL THEN CAST(epoch_us(s.bucket) AS DOUBLE) END AS t_real
    FROM spine s LEFT JOIN agg a USING (event_type, bucket)
),
win AS (
    SELECT event_type, bucket, v, t,
           last_value(v IGNORE NULLS) OVER back AS y0,
           last_value(t_real IGNORE NULLS) OVER back AS t0,
           first_value(v IGNORE NULLS) OVER fwd AS y1,
           first_value(t_real IGNORE NULLS) OVER fwd AS t1
    FROM joined
    WINDOW back AS (PARTITION BY event_type ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           fwd AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, epoch_us(bucket) AS bucket_us, v,
       CASE WHEN v IS NOT NULL THEN v
            WHEN y0 IS NULL THEN y1
            WHEN y1 IS NULL THEN y0
            ELSE y0 + (y1 - y0) * ((t - t0) / (t1 - t0))
       END AS v_filled
FROM win
"""


def q_events_wow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week seasonality: weekly event counts per type with the
    previous week's count, absolute delta, and pct change — lag over a
    tiny aggregate (weeks x types), so the window costs nothing; only the
    count aggregation touches the corpus. Integer counts keep the deltas
    exact; the pct division is one exact-integer op in both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("week"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n", 1).over(w)
    return weekly.select(
        F.date_format("week", "yyyy-MM-dd").alias("week"),
        "event_type",
        "n",
        prev.alias("prev_n"),
        (F.col("n") - prev).alias("delta"),
        F.round((F.col("n") - prev) * 1.0 / prev, 6).alias("pct_change"),
    )


ORACLE_WOW = """
WITH weekly AS (
    SELECT CAST(date_trunc('week', ts) AS DATE) AS wk, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT strftime(wk, '%Y-%m-%d') AS week, event_type, n,
       lag(n, 1) OVER w AS prev_n,
       n - lag(n, 1) OVER w AS delta,
       round((n - lag(n, 1) OVER w) * 1.0 / lag(n, 1) OVER w, 6) AS pct_change
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY wk)
"""


def q_events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal decomposition (moving-average flavor) of the
    daily event-count series per type: trend = centered 7-day moving
    average, seasonal = day-of-week mean of the detrended residual —
    the classic additive decomposition behind seasonal anomaly baselines.

    Integer-core trick for cross-engine exactness: instead of averaging
    float residuals (order-dependent summation), carry the residual
    NUMERATOR ``7·count − window_sum`` (exact BIGINT), sum it per
    day-of-week stratum, and divide once at the end — the only float ops
    are one division per output row, identical in any engine.  Two tiny
    shuffles over the days×types aggregate; only the daily count touches
    the corpus."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    with_ma = daily.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("w_sum"),
        F.count(F.lit(1)).over(w).alias("w_cnt"),
    ).filter(F.col("w_cnt") == 7)
    resid = with_ma.select(
        "event_type",
        F.dayofweek("day").cast("int").alias("dow"),
        (F.lit(7) * F.col("n") - F.col("w_sum")).alias("r_num"),
    )
    return (
        resid.groupBy("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("r_num").cast("bigint").alias("sum_r_num"),
        )
        .select(
            "event_type",
            "dow",
            "n_days",
            "sum_r_num",
            F.round(
                F.col("sum_r_num").cast("double") / (F.lit(7.0) * F.col("n_days")), 6
            ).alias("seasonal"),
        )
        .orderBy("event_type", "dow")
    )


ORACLE_SEASONAL_DECOMPOSE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
),
ma AS (
    SELECT event_type, day, n,
           sum(n) OVER w AS w_sum,
           count(*) OVER w AS w_cnt
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
resid AS (
    SELECT event_type, CAST(dayofweek(day) + 1 AS INT) AS dow,
           7 * n - w_sum AS r_num
    FROM ma WHERE w_cnt = 7
)
SELECT event_type, dow,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(r_num) AS BIGINT) AS sum_r_num,
       round(CAST(sum(r_num) AS BIGINT) / (7.0 * CAST(count(*) AS BIGINT)), 6) AS seasonal
FROM resid GROUP BY event_type, dow ORDER BY event_type, dow
"""


def q_interval_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-activity detection: treat each event as a live interval
    [ts, ts + value seconds] and count, per user, the pairs of their own
    events whose intervals overlap (plus the longest overlap). Classic
    interval self-join, keyed by user so the join shuffles on user_id and
    the range predicates run as residuals — no cross-key comparisons.
    All arithmetic in epoch-microsecond BIGINTs (floor'd identically in
    both engines), so the hash comparison is integer-exact."""
    from rocana_impala_udfs_spark.operators.temporal import interval_self_overlaps

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.floor(F.col("value") * 1000000.0).cast("bigint")).alias("e"),
    )
    pairs = interval_self_overlaps(iv, ["user_id"], "s", "e", "event_id")
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
            F.max("overlap").alias("max_overlap_us"),
        )
        .orderBy("user_id")
    )


ORACLE_INTERVAL_OVERLAPS = """
WITH iv AS (
    SELECT user_id, event_id, epoch_us(ts) AS s,
           epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e
    FROM events
),
p AS (
    SELECT a.user_id, least(a.e, b.e) - greatest(a.s, b.s) AS ov
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.s <= b.e AND b.s <= a.e
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps, max(ov) AS max_overlap_us
FROM p GROUP BY user_id ORDER BY user_id
"""


def q_events_twa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per (event_type, day) with linear
    (trapezoidal) weighting — the hypertable ``time_weight('Linear')``
    aggregate for irregularly-sampled gauges, where a plain avg
    over-weights bursts. One keyed window shuffle + partial/final agg
    (operators/temporal.py:time_weighted_avg); trapezoid areas are floored
    to integer micro-units so the sum is order-independent and
    engine-exact."""
    from rocana_impala_udfs_spark.operators.temporal import time_weighted_avg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    out = time_weighted_avg(ev, ["event_type", "day"], "ts", "event_id", "value")
    return out.select(
        "event_type",
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        "area_units",
        "span_us",
        "n_samples",
        "twa",
    )


ORACLE_TWA_DAILY = """
WITH e AS (
    SELECT event_type, date_trunc('day', ts) AS day, epoch_us(ts) AS t,
           value AS v, event_id
    FROM events
),
led AS (
    SELECT event_type, day, t, v,
           lead(t) OVER w AS t2, lead(v) OVER w AS v2
    FROM e WINDOW w AS (PARTITION BY event_type, day ORDER BY t, event_id)
),
spans AS (
    SELECT event_type, day, t,
           CAST(floor((v + v2) / 2.0 * ((t2 - t) / 1000000.0) * 1000000.0) AS BIGINT) AS area
    FROM led
)
SELECT event_type, epoch_us(day) AS day_us,
       CAST(sum(area) AS BIGINT) AS area_units,
       max(t) - min(t) AS span_us,
       CAST(count(*) AS BIGINT) AS n_samples,
       round(CAST(sum(area) AS BIGINT) / 1000000.0
             / ((max(t) - min(t)) / 1000000.0), 6) AS twa
FROM spans
GROUP BY event_type, day
HAVING max(t) - min(t) > 0
"""


def q_events_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection over per-type daily event counts
    (Page's sequential test — the ops-alerting companion to the EWMA
    baseline): s_t = max(0, s_{t-1} + (count_t - target)) with the type's
    period mean as target. The tiny daily aggregate (days x types) shuffles
    once; the sequential fold runs in applyInPandas with O(1) state
    (operators/temporal.py:cusum_fold), bit-identical to the oracle's
    list_reduce left fold — integer inputs and IEEE max/add leave no
    cross-engine slack."""
    from rocana_impala_udfs_spark.operators.temporal import cusum_fold

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    target = daily.groupBy("event_type").agg(
        (F.sum("n") / F.count(F.lit(1))).alias("target")
    )
    src = daily.join(F.broadcast(target), "event_type").withColumn(
        "x", F.col("n").cast("double")
    )
    out = cusum_fold(src, ["event_type"], ["day"], "x", "target")
    return out.select(
        "event_type",
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        F.col("x").cast("long").alias("n"),
        "cusum",
        (F.col("cusum") > F.lit(2.0) * F.col("target")).alias("alarm"),
    )


ORACLE_CUSUM_DAILY = """
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, date_trunc('day', ts)
),
tgt AS (
    SELECT event_type, CAST(sum(n) AS BIGINT) / count(*) AS target
    FROM daily GROUP BY event_type
),
per AS (
    SELECT d.event_type, any_value(t.target) AS target,
           list(d.day ORDER BY d.day) AS days,
           list(CAST(d.n AS DOUBLE) ORDER BY d.day) AS xs
    FROM daily d JOIN tgt t USING (event_type)
    GROUP BY d.event_type
),
idx AS (
    SELECT event_type, target, days, xs,
           unnest(range(1, len(xs) + 1)) AS i
    FROM per
)
SELECT event_type,
       epoch_us(days[CAST(i AS INT)]) AS day_us,
       CAST(xs[CAST(i AS INT)] AS BIGINT) AS n,
       list_reduce(list_prepend(0.0, xs[1:CAST(i AS INT)]),
                   (acc, x) -> greatest(0.0, acc + (x - target))) AS cusum,
       list_reduce(list_prepend(0.0, xs[1:CAST(i AS INT)]),
                   (acc, x) -> greatest(0.0, acc + (x - target))) > 2.0 * target AS alarm
FROM idx
"""


def q_events_holt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of per-type daily volumes — the
    one-step-ahead forecaster on top of the fold family (EWMA for level,
    CUSUM for drift, Holt for level+trend). Runs over the tiny daily
    aggregate; the two-state recursion folds in applyInPandas
    (operators/temporal.py:holt_fold) and the oracle replays it with
    list_reduce over [x, 0] pairs — every step one IEEE chain, level and
    trend bit-exact across engines."""
    from rocana_impala_udfs_spark.operators.temporal import holt_fold

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    out = holt_fold(daily, ["event_type"], ["day"], "x", alpha=0.5, beta=0.3)
    return out.select(
        "event_type",
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        F.col("x").cast("long").alias("n"),
        "level",
        "trend",
        (F.col("level") + F.col("trend")).alias("forecast_next"),
    )


ORACLE_HOLT_DAILY = """
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(count(*) AS DOUBLE) AS x
    FROM events GROUP BY event_type, date_trunc('day', ts)
),
per AS (
    SELECT event_type,
           list(day ORDER BY day) AS days,
           list([x, 0.0] ORDER BY day) AS xs
    FROM daily GROUP BY event_type
),
idx AS (
    SELECT event_type, days, xs, unnest(range(1, len(xs) + 1)) AS i FROM per
),
folded AS (
    SELECT event_type,
           days[CAST(i AS INT)] AS day,
           xs[CAST(i AS INT)][1] AS x,
           list_reduce(xs[1:CAST(i AS INT)], (acc, e) -> [
               0.5*e[1] + 0.5*(acc[1] + acc[2]),
               0.3*((0.5*e[1] + 0.5*(acc[1] + acc[2])) - acc[1]) + 0.7*acc[2]
           ]) AS st
    FROM idx
)
SELECT event_type, epoch_us(day) AS day_us, CAST(x AS BIGINT) AS n,
       st[1] AS level, st[2] AS trend, st[1] + st[2] AS forecast_next
FROM folded
"""


def q_sampling_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic (every k-th) sampling per stratum — the deterministic
    audit-sample companion to the hash-gate samplers: rank events within
    their type by (ts, event_id) and keep ranks 1, 51, 101, ... Exactly
    reproducible in any engine (no RNG at all); one keyed window shuffle,
    the sample gate applies before anything wide is carried."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.select(
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter((F.col("rn") % 50) == 1)
    )


ORACLE_SYSTEMATIC = """
WITH ranked AS (
    SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS INT) AS rn
    FROM events
)
SELECT event_type, event_id, ts_us, value, rn
FROM ranked WHERE rn % 50 = 1
"""


TEMPORAL_QUERIES = {
    "events_twa_daily": q_events_twa_daily,
    "events_cusum_daily": q_events_cusum_daily,
    "events_holt_daily": q_events_holt_daily,
    "sampling_systematic_events": q_sampling_systematic,
    "interval_overlap_pairs": q_interval_overlaps,
    "asof_click_attribution": q_asof_click_attribution,
    "attribution_multitouch": q_attribution_multitouch,
    "stream_daily_event_stats": q_stream_daily_event_stats,
    "stream_append_sink_exactly_once": q_stream_append_sink_exactly_once,
    "stream_dedup_event_counts": q_stream_dedup_event_counts,
    "stream_session_windows": q_stream_session_windows,
    "stream_session_windows_append": q_stream_session_windows_append,
    "stream_hourly_append_watermark": q_stream_hourly_append_watermark,
    "stream_stream_interval_join": q_stream_stream_interval_join,
    "stream_join_left_outer_nulls": q_stream_join_left_outer_nulls,
    "stream_topk_events_per_type": q_stream_topk_events_per_type,
    "stream_topk_events_merge": q_stream_topk_events_merge,
    "stream_tws_ewma_user_value": q_stream_tws_ewma_user_value,
    "stream_tws_bitmap_map_state": q_stream_tws_bitmap_map_state,
    "stream_tws_topk_list_state": q_stream_tws_topk_list_state,
    "stream_tws_session_timers": q_stream_tws_session_timers,
    "stream_tws_lsh_index_candidates": q_stream_tws_lsh_index_candidates,
    "stream_tws_lsh_bounded_bucket": q_stream_tws_lsh_bounded_bucket,
    "stream_tws_warm_start_ewma": q_stream_tws_warm_start_ewma,
    "stream_tws_median_value": q_stream_tws_median_value,
    "stream_cdc_latest_state": q_stream_cdc_latest_state,
    "stream_cdc_latest_merge": q_stream_cdc_latest_merge,
    "stream_cdc_user_day_merge": q_stream_cdc_user_day_merge,
    "stream_ewma_user_value": q_stream_ewma_user_value,
    "ab_chi2_type_by_variant": q_ab_chi2_type_by_variant,
    "ab_cuped_sequential_peeks": q_ab_cuped_sequential_peeks,
    "ab_srm_check": q_ab_srm_check,
    "ab_mutual_info_type_variant": q_ab_mutual_info_type_variant,
    "events_kaplan_meier_conversion": q_events_kaplan_meier_conversion,
    "ab_logrank_conversion": q_ab_logrank_conversion,
    "stream_checkpoint_restart_counts": q_stream_checkpoint_restart_counts,
    "stream_rocksdb_state_counts": q_stream_rocksdb_state_counts,
    "ab_sequential_peeks": q_ab_sequential_peeks,
    "ab_power_mde": q_ab_power_mde,
    "ab_cramers_v": q_ab_cramers_v,
    "events_top_trigram_paths": q_events_top_trigram_paths,
    "stream_bitmap_distinct_users": q_stream_bitmap_distinct_users,
    "stream_kmv_distinct_exact": q_stream_kmv_distinct_exact,
    "stream_heavy_hitters_exact": q_stream_heavy_hitters_exact,
    "stream_dedup_within_watermark": q_stream_dedup_within_watermark,
    "stream_static_enrich_join": q_stream_static_enrich_join,
    "ab_welch_ttest": q_ab_welch_ttest,
    "ab_anova_value_by_type": q_ab_anova_value_by_type,
    "ab_ratio_delta_ci": q_ab_ratio_delta_ci,
    "markov_predict_eval": q_markov_predict_eval,
    "ab_cuped_adjusted": q_ab_cuped_adjusted,
    "sessionize_events": q_sessionize_events,
    "ops_session_health": q_ops_session_health,
    "funnel_view_click_purchase": q_funnel_view_click_purchase,
    "funnel_time_to_convert": q_funnel_time_to_convert,
    "stats_acf_daily": q_stats_acf_daily,
    "events_peak_concurrency": q_events_peak_concurrency,
    "events_duration_log2_buckets": q_events_duration_log2_buckets,
    "events_conversion_wilson_ci": q_events_conversion_wilson_ci,
    "label_churn_features": q_label_churn_features,
    "forecast_mase_seasonal_naive": q_forecast_mase_seasonal_naive,
    "events_user_drawdown": q_events_user_drawdown,
    "events_cumulative_distinct_users": q_events_cumulative_distinct_users,
    "ops_rate_limiter_sim": q_ops_rate_limiter_sim,
    "pit_feature_join": q_pit_feature_join,
    "events_changepoint_daily": q_events_changepoint_daily,
    "retention_weekly_cohorts": q_retention_weekly,
    "window_trailing_7d_user_value": q_trailing_7d_user_value,
    "variant_props_stats": q_variant_props_stats,
    "tumbling_hourly_event_stats": q_hourly_event_stats,
    "json_event_props_stats": q_event_props_json,
    "multi_resolution_rollup": q_multi_resolution_rollup,
    "salted_skew_agg": q_salted_event_agg,
    "pivot_daily_event_counts": q_daily_event_pivot,
    "range_join_value_bands": q_range_join_value_bands,
    "gap_filled_minute_counts": q_gap_filled_minutes,
    "histogram_price_bins": q_price_histogram,
    "histogram_price_equidepth": q_price_equidepth_histogram,
    "events_transition_matrix": q_events_transition_matrix,
    "ops_error_burn_rate": q_ops_error_burn_rate,
    "events_dau_wau": q_events_dau_wau,
    "sliding_window_event_rates": q_sliding_window_event_rates,
    "ewma_user_value": q_ewma_user_value,
    "interpolated_minute_values": q_interpolated_minute_values,
    "events_wow_seasonality": q_events_wow_seasonality,
    "events_seasonal_decompose": q_events_seasonal_decompose,
    "asof_click_attribution_30m": q_asof_click_attribution_30m,
    "events_seasonal_anomalies": q_events_seasonal_anomalies,
    "ops_daily_digest": q_ops_daily_digest,
}

TEMPORAL_ORACLE = {
    "events_twa_daily": ORACLE_TWA_DAILY,
    "events_cusum_daily": ORACLE_CUSUM_DAILY,
    "events_holt_daily": ORACLE_HOLT_DAILY,
    "sampling_systematic_events": ORACLE_SYSTEMATIC,
    "interval_overlap_pairs": ORACLE_INTERVAL_OVERLAPS,
    "sliding_window_event_rates": ORACLE_SLIDING_WINDOWS,
    "ewma_user_value": ORACLE_EWMA,
    "interpolated_minute_values": ORACLE_INTERPOLATE,
    "events_wow_seasonality": ORACLE_WOW,
    "events_seasonal_decompose": ORACLE_SEASONAL_DECOMPOSE,
    "asof_click_attribution_30m": ORACLE_ASOF_CLICK_30M,
    "events_seasonal_anomalies": ORACLE_SEASONAL_ANOMALIES,
    "ops_daily_digest": ORACLE_OPS_DIGEST,
    "asof_click_attribution": ORACLE_ASOF_CLICK,
    "attribution_multitouch": ORACLE_ATTRIBUTION_MULTITOUCH,
    "stream_daily_event_stats": ORACLE_STREAM_DAILY,
    "stream_append_sink_exactly_once": ORACLE_STREAM_APPEND_SINK,
    "stream_dedup_event_counts": ORACLE_STREAM_DEDUP,
    "stream_session_windows": ORACLE_STREAM_SESSIONS,
    "stream_session_windows_append": ORACLE_STREAM_SESSIONS_APPEND,
    "stream_hourly_append_watermark": ORACLE_STREAM_APPEND_WM,
    "stream_stream_interval_join": ORACLE_STREAM_STREAM_JOIN,
    "stream_join_left_outer_nulls": ORACLE_STREAM_LEFT_OUTER,
    "stream_topk_events_per_type": ORACLE_STREAM_TOPK,
    "stream_topk_events_merge": ORACLE_STREAM_TOPK,
    "stream_tws_ewma_user_value": ORACLE_STREAM_EWMA,
    "stream_tws_bitmap_map_state": ORACLE_STREAM_BITMAP,
    "stream_tws_topk_list_state": ORACLE_STREAM_TOPK,
    "stream_tws_session_timers": ORACLE_STREAM_SESSION_TIMERS,
    "stream_tws_lsh_index_candidates": ORACLE_STREAM_LSH_INDEX,
    "stream_tws_lsh_bounded_bucket": ORACLE_STREAM_LSH_BOUNDED,
    "stream_tws_warm_start_ewma": ORACLE_STREAM_EWMA,
    "stream_tws_median_value": ORACLE_STREAM_MEDIAN,
    "stream_cdc_latest_state": ORACLE_STREAM_CDC_LATEST,
    "stream_cdc_latest_merge": ORACLE_STREAM_CDC_LATEST,
    "stream_cdc_user_day_merge": ORACLE_STREAM_CDC_USER_DAY,
    "stream_ewma_user_value": ORACLE_STREAM_EWMA,
    "ab_chi2_type_by_variant": ORACLE_AB_CHI2,
    "ab_cuped_sequential_peeks": ORACLE_AB_CUPED_SEQUENTIAL,
    "ab_srm_check": ORACLE_AB_SRM,
    "ab_mutual_info_type_variant": ORACLE_AB_MUTUAL_INFO,
    "events_kaplan_meier_conversion": ORACLE_KAPLAN_MEIER,
    "ab_logrank_conversion": ORACLE_AB_LOGRANK,
    "stream_checkpoint_restart_counts": ORACLE_STREAM_RESTART,
    "stream_rocksdb_state_counts": ORACLE_STREAM_ROCKSDB,
    "ab_sequential_peeks": ORACLE_AB_SEQUENTIAL,
    "ab_power_mde": ORACLE_AB_POWER,
    "ab_cramers_v": ORACLE_AB_CRAMERS_V,
    "events_top_trigram_paths": ORACLE_TRIGRAM_PATHS,
    "stream_bitmap_distinct_users": ORACLE_STREAM_BITMAP,
    "stream_kmv_distinct_exact": ORACLE_STREAM_KMV,
    "stream_heavy_hitters_exact": ORACLE_STREAM_MG,
    "stream_dedup_within_watermark": ORACLE_STREAM_DEDUP_WM,
    "stream_static_enrich_join": ORACLE_STREAM_STATIC_JOIN,
    "ab_welch_ttest": ORACLE_AB_WELCH,
    "ab_anova_value_by_type": ORACLE_AB_ANOVA,
    "ab_ratio_delta_ci": ORACLE_AB_RATIO_DELTA,
    "markov_predict_eval": ORACLE_MARKOV_EVAL,
    "ab_cuped_adjusted": ORACLE_AB_CUPED,
    "sessionize_events": ORACLE_SESSIONIZE,
    "ops_session_health": ORACLE_OPS_SESSION_HEALTH,
    "funnel_view_click_purchase": ORACLE_FUNNEL,
    "funnel_time_to_convert": ORACLE_FUNNEL_TTC,
    "stats_acf_daily": ORACLE_ACF_DAILY,
    "events_peak_concurrency": ORACLE_PEAK_CONCURRENCY,
    "events_duration_log2_buckets": ORACLE_LOG2_BUCKETS,
    "events_conversion_wilson_ci": ORACLE_WILSON_CI,
    "label_churn_features": ORACLE_CHURN_LABELS,
    "forecast_mase_seasonal_naive": ORACLE_MASE,
    "events_user_drawdown": ORACLE_USER_DRAWDOWN,
    "events_cumulative_distinct_users": ORACLE_CUMULATIVE_DISTINCT,
    "ops_rate_limiter_sim": ORACLE_RATE_LIMITER,
    "pit_feature_join": ORACLE_PIT_FEATURES,
    "events_changepoint_daily": ORACLE_CHANGEPOINT,
    "retention_weekly_cohorts": ORACLE_RETENTION,
    "window_trailing_7d_user_value": ORACLE_TRAILING_7D,
    "variant_props_stats": ORACLE_VARIANT_PROPS,
    "tumbling_hourly_event_stats": ORACLE_HOURLY_STATS,
    "json_event_props_stats": ORACLE_PROPS_JSON,
    "multi_resolution_rollup": ORACLE_MULTI_ROLLUP,
    "salted_skew_agg": ORACLE_SALTED_AGG,
    "pivot_daily_event_counts": ORACLE_DAILY_PIVOT,
    "range_join_value_bands": ORACLE_RANGE_JOIN,
    "gap_filled_minute_counts": ORACLE_GAP_FILLED,
    "histogram_price_bins": ORACLE_PRICE_HISTOGRAM,
    "histogram_price_equidepth": ORACLE_EQUIDEPTH_HISTOGRAM,
    "events_transition_matrix": ORACLE_TRANSITION_MATRIX,
    "ops_error_burn_rate": ORACLE_ERROR_BURN,
    "events_dau_wau": ORACLE_DAU_WAU,
}

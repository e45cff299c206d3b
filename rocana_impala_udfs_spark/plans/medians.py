"""The median query suite — the reference's own function surface, exercised
over the driver star schema exactly as FIXTURES.md F7 prescribes.

Every query here has a DuckDB oracle. The oracle-gated entries run with
``max_samples`` larger than any group, where the reservoir is unsaturated and
the result is the *exact* upper median — deterministic, matching the
reference's own exactness test (median-test.cc:66-82). Saturated behavior is
covered statistically in tests/test_median.py (randomized results can't
hash-match an oracle; SURVEY §5 port-testing note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.operators.reservoir import appx_median_bounded_agg
from rocana_impala_udfs_spark.register import register_all
from rocana_impala_udfs_spark.sources.io import load_table

# > any group size at every harness SF INCLUDING the derived ~sf1 sweep
# (6M lineitem rows), so the reservoir stays unsaturated and the result is
# the exact upper median. Unsaturated state grows with min(n, k) — raising
# the cap changes nothing at smaller SFs (state never preallocates k).
# Saturated behavior stays pytest-pinned (tests/test_median.py).
BIG_K = 10_000_000


def _upper_median_oracle(
    table: str,
    val_expr: str,
    out: str,
    group: str | None = None,
    group_out: str | None = None,
    order_cast: str | None = None,
) -> str:
    """ANSI-SQL exact upper median (element at 0-based index n//2 of the
    sorted non-null values — median.cc:301) via row_number/count windows."""
    g_sel = f"g AS {group_out or group}, " if group else ""
    g_inner = f"{group} AS g, " if group else ""
    part = "PARTITION BY g" if group else ""
    val_out = f"CAST(x AS {order_cast})" if order_cast else "x"
    return f"""
        SELECT {g_sel}{val_out} AS {out} FROM (
            SELECT {g_inner}{val_expr} AS x,
                   row_number() OVER ({part} ORDER BY {val_expr}) AS rn,
                   count(*) OVER ({part}) AS n
            FROM {table}
            WHERE {val_expr} IS NOT NULL
        ) ranked
        WHERE rn = CAST(n // 2 AS BIGINT) + 1
    """


# -- Spark-side queries ------------------------------------------------------


def q_median_price_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return appx_median_bounded_agg(li, "l_extendedprice", BIG_K, out="median_price")


def q_median_price_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return appx_median_bounded_agg(
        li, "l_extendedprice", BIG_K, ["l_returnflag"], out="median_price"
    )


def q_median_totalprice_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return appx_median_bounded_agg(o, "o_totalprice", BIG_K, ["o_orderstatus"], out="median_totalprice")


def q_median_value_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return appx_median_bounded_agg(ev, "value", BIG_K, ["event_type"], out="median_value")


def q_median_value_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window median: per-day event value (FIXTURES F7 'by time window')."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"), "value"
    )
    return appx_median_bounded_agg(ev, "value", BIG_K, ["day"], out="median_value")


def q_median_sql_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered SQL UDAF route — the reference's documented usage:
    ``CAST(appx_median_bounded(x, k) AS DOUBLE)`` (README.md:61), the
    STRING-returning JVM Aggregator."""
    register_all(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_udaf")
    return spark.sql(
        f"""SELECT l_linestatus,
                   CAST(appx_median_bounded(l_quantity, {BIG_K}) AS DOUBLE) AS median_qty
            FROM _li_udaf GROUP BY l_linestatus"""
    )


def q_median_sql_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference protocol's two phases from SQL in one call: the
    update/serialize half (median.cc:128-194) and the merge/finalize half
    (median.cc:228-304) are Spark's partial and final ObjectHashAggregate
    around one exchange, so only bounded reservoirs cross the shuffle and
    no salting is needed. Grouped by ``l_linestatus`` on
    ``l_extendedprice``; exact here because BIG_K keeps every reservoir
    unsaturated (median-test.cc:66-82 semantics)."""
    register_all(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_twophase")
    return spark.sql(
        f"""SELECT l_linestatus,
                   appx_median_bounded_double(l_extendedprice, {BIG_K}) AS median_price
            FROM _li_twophase GROUP BY l_linestatus"""
    )


def q_median_sql_onecall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-statement SQL median under its older name,
    ``appx_median_bounded_1call`` — the same JVM ``Aggregator``
    (jvm/rocana-udaf.jar) as ``appx_median_bounded``, so the reference's
    DDL ergonomics — ``SELECT appx_median_bounded(x, k) FROM t GROUP BY g``
    as a single call (README.md:40-46) — run with genuine partial+final
    aggregation: Spark plans ObjectHashAggregate partial/final, each
    executor reduces its partitions to one ≤ k-sample reservoir, and only
    serialized buffers cross the exchange — the same wire shape as the
    reference's Impala UDA. Exact here because BIG_K keeps every reservoir
    unsaturated (median-test.cc:66-82 semantics)."""
    register_all(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_onecall")
    return spark.sql(
        f"""SELECT l_returnflag,
                   CAST(appx_median_bounded_1call(l_extendedprice, {BIG_K}) AS DOUBLE)
                       AS median_price
            FROM _li_onecall GROUP BY l_returnflag ORDER BY l_returnflag"""
    )


def q_median_exact_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-correct EXACT median: histogram-guided k-th-element
    selection (operators/selection.py) — a bounded number of full scans,
    each one map-side-combinable histogram aggregate, no global sort. The
    third median regime next to the bounded-approx reservoir and the
    window-sort exact path; the oracle is the same upper-median rule."""
    from rocana_impala_udfs_spark.operators.selection import exact_kth_value

    li = load_table(spark, sf_dir, "lineitem")
    med = exact_kth_value(li, "l_extendedprice")
    return spark.createDataFrame([(float(med),)], "median_price double")


def q_p90_value_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded reservoir generalized to p90 (the same JVM Aggregator,
    finalize at sorted[min(floor(n*0.9), n-1)]); exact at this SF because
    BIG_K exceeds every group, so the oracle can pin the exact element."""
    from rocana_impala_udfs_spark.operators.reservoir import appx_percentile_bounded_agg

    ev = load_table(spark, sf_dir, "events")
    return appx_percentile_bounded_agg(
        ev, "value", 0.9, BIG_K, ["event_type"], out="p90_value"
    )


ORACLE_P90_VALUE = """
SELECT event_type, x AS p90_value FROM (
    SELECT event_type, value AS x,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL
) ranked
WHERE rn = least(CAST(floor(n * 0.9) AS BIGINT), n - 1) + 1
"""


def q_percentile_sql_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered generalized UDAF from SQL:
    ``appx_percentile_bounded(x, p, k)``."""
    register_all(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_pct_udaf")
    return spark.sql(
        f"""SELECT l_linestatus,
                   appx_percentile_bounded(l_quantity, 0.25, {BIG_K}) AS p25_qty
            FROM _li_pct_udaf GROUP BY l_linestatus"""
    )


ORACLE_P25_QTY = """
SELECT l_linestatus, x AS p25_qty FROM (
    SELECT l_linestatus, l_quantity AS x,
           row_number() OVER (PARTITION BY l_linestatus ORDER BY l_quantity) AS rn,
           count(*) OVER (PARTITION BY l_linestatus) AS n
    FROM lineitem WHERE l_quantity IS NOT NULL
) ranked
WHERE rn = least(CAST(floor(n * 0.25) AS BIGINT), n - 1) + 1
"""


def q_median_shipdate_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed generalization: TIMESTAMP median (ordering comparator the
    reference defines at median.cc:216-221 but never wires). Exact relational
    composition; result formatted to string for engine-neutral comparison."""
    from rocana_impala_udfs_spark.functions.median import exact_upper_median

    li = load_table(spark, sf_dir, "lineitem")
    med = exact_upper_median(li, "l_shipdate", ["l_returnflag"], out="_m")
    return med.select(
        "l_returnflag", F.date_format("_m", "yyyy-MM-dd HH:mm:ss").alias("median_shipdate")
    )


def q_median_price_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed generalization: DECIMAL median (the 128-bit comparator the
    reference defines at median.cc:210-214 but never wires). Exact upper
    median over DECIMAL(18,2) with decimal ordering."""
    from rocana_impala_udfs_spark.functions.median import exact_upper_median

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_totalprice").cast("decimal(18,2)").alias("price_dec")
    )
    return exact_upper_median(o, "price_dec", ["o_orderstatus"], out="median_price_dec")


ORACLE_MEDIAN_DECIMAL = """
SELECT o_orderstatus, x AS median_price_dec FROM (
    SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS x,
           row_number() OVER (PARTITION BY o_orderstatus ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS rn,
           count(*) OVER (PARTITION BY o_orderstatus) AS n
    FROM orders WHERE o_totalprice IS NOT NULL
) ranked WHERE rn = CAST(n // 2 AS BIGINT) + 1
"""


def q_median_name_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed generalization: STRING median under bytewise ordering
    (median.cc:201-208)."""
    from rocana_impala_udfs_spark.functions.median import exact_upper_median

    c = load_table(spark, sf_dir, "customer")
    return exact_upper_median(c, "c_name", ["c_mktsegment"], out="median_name")


def q_median_name_truncated10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL string-median semantics: samples keep only the
    first MAX_STRING_SAMPLE_LEN=10 BYTES (median.cc:49,67-86), so ordering
    and the returned value are over 10-byte prefixes. Byte-sliced via binary
    cast (functions.median.truncate_bytes); the oracle's VARCHAR substring
    agrees because c_name is ASCII — the multi-byte edge is pinned in
    tests/test_median.py instead."""
    from rocana_impala_udfs_spark.functions.median import exact_upper_median, truncate_bytes

    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", truncate_bytes("c_name", 10).alias("name10")
    )
    return exact_upper_median(c, "name10", ["c_mktsegment"], out="median_name10")


ORACLE_MEDIAN_NAME_TRUNCATED = """
SELECT c_mktsegment, x AS median_name10 FROM (
    SELECT c_mktsegment, substring(c_name, 1, 10) AS x,
           row_number() OVER (PARTITION BY c_mktsegment ORDER BY substring(c_name, 1, 10)) AS rn,
           count(*) OVER (PARTITION BY c_mktsegment) AS n
    FROM customer WHERE c_name IS NOT NULL
) ranked WHERE rn = CAST(n // 2 AS BIGINT) + 1
"""


def q_window_median_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDAF used as a window function (SURVEY §2.2 'a windowed
    appx_median_bounded falls out of registration'): per-row median of the
    row's return-flag partition, the JVM Aggregator evaluated by WindowExec
    over an unbounded window."""
    from pyspark.sql import Window

    from rocana_impala_udfs_spark.functions.median import appx_median_bounded

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        appx_median_bounded("l_quantity", BIG_K).over(w).alias("flag_median_qty"),
    )


ORACLE_WINDOW_MEDIAN = """
WITH med AS (
    SELECT l_returnflag, x AS m FROM (
        SELECT l_returnflag, l_quantity AS x,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem WHERE l_quantity IS NOT NULL
    ) ranked WHERE rn = CAST(n // 2 AS BIGINT) + 1
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, med.m AS flag_median_qty
FROM lineitem l JOIN med USING (l_returnflag)
"""


def q_window_sliding_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-median UDA as a SLIDING analytic — the Impala
    analytic-function shape (``... OVER (PARTITION BY ... ORDER BY ...
    ROWS BETWEEN n PRECEDING AND CURRENT ROW)``) that VERDICT r12 #5
    flagged as the family's one missing frame: per customer, the rolling
    upper median of the trailing 10 order totals in (orderdate, orderkey)
    order, through the JVM Aggregator directly (Spark's WindowExec
    re-evaluates the typed Aggregator per frame — no extra code needed
    beyond registration, exactly the 'falls out of registration' claim).

    Exact regime by construction: every frame holds ≤ 10 samples ≪ k, so
    no random path is taken and the DuckDB windowed-list oracle matches
    bit-for-bit. ``o_orderkey`` is unique (the fixture's one strictly
    unique key — lineitem's (orderkey, linenumber) carries driver-made
    duplicates), so the ORDER BY is total and frame contents are fully
    deterministic.

    Scale: WindowExec partitions by o_custkey (one shuffle), sorts within
    partitions, and streams frames with O(frame) state — no
    whole-partition materialization beyond the sort, same bound as the
    reference UDA run under Impala's analytic executor."""
    register_all(spark)
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_ord_sliding")
    return spark.sql(
        """SELECT o_custkey, o_orderkey,
                  CAST(appx_median_bounded_1call(o_totalprice, 100) OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
                  ) AS DOUBLE) AS sliding_median_price
           FROM _ord_sliding"""
    )


# upper median of each ≤10-row sliding frame: sort the frame's values and
# take the 1-based index n//2 + 1 (the reference's median.cc:299-301 rule)
ORACLE_WINDOW_SLIDING_MEDIAN = """
SELECT o_custkey, o_orderkey,
       lst[len(lst) // 2 + 1] AS sliding_median_price
FROM (
    SELECT o_custkey, o_orderkey,
           list_sort(list(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           )) AS lst
    FROM orders
)
"""


def q_reservoir_sample_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exposed sampling primitive (SURVEY §7 M2): bounded reservoir per
    group as ARRAY<DOUBLE>, exploded to rows. Unsaturated here, so the
    sample is exactly the multiset of non-null values — oracle-checkable."""
    from rocana_impala_udfs_spark.operators.reservoir import reservoir_sample_agg

    li = load_table(spark, sf_dir, "lineitem")
    sampled = reservoir_sample_agg(li, "l_quantity", BIG_K, ["l_returnflag"], out="samples")
    return sampled.select("l_returnflag", F.explode("samples").alias("sample_value"))


ORACLE_RESERVOIR_SAMPLE = """
SELECT l_returnflag, l_quantity AS sample_value
FROM lineitem WHERE l_quantity IS NOT NULL
"""


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted upper median: per return flag, the price at which half the
    total QUANTITY (not half the rows) is reached — the weighted
    generalization of the reference's upper-median rule (unit weights
    recover ``median.cc:301`` exactly; see
    ``functions/median.py:exact_weighted_upper_median``)."""
    from rocana_impala_udfs_spark.functions.median import exact_weighted_upper_median

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("bigint").alias("qty_w"),
    )
    return exact_weighted_upper_median(
        li, "l_extendedprice", "qty_w", ["l_returnflag"], out="wmedian_price"
    ).orderBy("l_returnflag")


ORACLE_WEIGHTED_MEDIAN = """
WITH ranked AS (
    SELECT l_returnflag, l_extendedprice,
           CAST(l_quantity AS BIGINT) AS w,
           sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag) AS tw
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
)
SELECT l_returnflag, l_extendedprice AS wmedian_price
FROM ranked
WHERE cw >= tw // 2 + 1 AND cw - w < tw // 2 + 1
ORDER BY l_returnflag
"""


def q_weighted_p90_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted p90: per return flag, the quantity below which 90% of
    total extended-price VALUE sits (price-weighted quantity p90; weights
    floored to integer cents for exact thresholds). Generalizes the
    weighted-median rule to any rational p (`exact_weighted_quantile`,
    p = 9/10)."""
    from rocana_impala_udfs_spark.functions.median import exact_weighted_quantile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100).cast("bigint").alias("price_cents"),
    )
    return exact_weighted_quantile(
        li, "qty", "price_cents", 9, 10, ["l_returnflag"], out="p90_qty_by_value"
    ).orderBy("l_returnflag")


ORACLE_WEIGHTED_P90 = """
WITH ranked AS (
    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS w,
           sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) OVER (
               PARTITION BY l_returnflag ORDER BY CAST(l_quantity AS BIGINT)
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) OVER (PARTITION BY l_returnflag) AS tw
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND floor(l_extendedprice * 100) > 0
)
SELECT l_returnflag, qty AS p90_qty_by_value
FROM ranked
WHERE cw >= (9 * tw) // 10 + 1 AND cw - w < (9 * tw) // 10 + 1
ORDER BY l_returnflag
"""


MEDIAN_QUERIES = {
    "appx_median_price_global": q_median_price_global,
    "appx_median_price_by_returnflag": q_median_price_by_returnflag,
    "appx_median_totalprice_by_status": q_median_totalprice_by_status,
    "appx_median_value_by_event_type": q_median_value_by_event_type,
    "appx_median_value_by_day": q_median_value_by_day,
    "appx_median_sql_udaf": q_median_sql_udaf,
    "appx_median_sql_onecall": q_median_sql_onecall,
    "appx_median_sql_twophase": q_median_sql_twophase,
    "exact_median_selection": q_median_exact_selection,
    "appx_p90_value_by_event_type": q_p90_value_by_event_type,
    "appx_percentile_sql_udaf": q_percentile_sql_udaf,
    "exact_median_shipdate_by_returnflag": q_median_shipdate_by_returnflag,
    "exact_median_name_by_segment": q_median_name_by_segment,
    "exact_median_name_truncated10": q_median_name_truncated10,
    "exact_median_price_decimal": q_median_price_decimal,
    "exact_weighted_median_price": q_weighted_median_price,
    "exact_weighted_p90_quantity": q_weighted_p90_quantity,
    "reservoir_sample_quantity": q_reservoir_sample_quantity,
    "window_median_quantity": q_window_median_quantity,
    "window_sliding_median_price": q_window_sliding_median_price,
}

MEDIAN_ORACLE = {
    "appx_median_price_global": _upper_median_oracle("lineitem", "l_extendedprice", "median_price"),
    "appx_median_price_by_returnflag": _upper_median_oracle(
        "lineitem", "l_extendedprice", "median_price", group="l_returnflag"
    ),
    "appx_median_totalprice_by_status": _upper_median_oracle(
        "orders", "o_totalprice", "median_totalprice", group="o_orderstatus"
    ),
    "appx_median_value_by_event_type": _upper_median_oracle(
        "events", "value", "median_value", group="event_type"
    ),
    "appx_median_value_by_day": _upper_median_oracle(
        "events", "value", "median_value", group="strftime(date_trunc('day', ts), '%Y-%m-%d')", group_out="day"
    ),
    "appx_median_sql_udaf": _upper_median_oracle(
        "lineitem", "l_quantity", "median_qty", group="l_linestatus"
    ),
    "appx_median_sql_twophase": _upper_median_oracle(
        "lineitem", "l_extendedprice", "median_price", group="l_linestatus"
    ),
    "appx_median_sql_onecall": _upper_median_oracle(
        "lineitem", "l_extendedprice", "median_price", group="l_returnflag"
    ),
    "exact_median_selection": _upper_median_oracle(
        "lineitem", "l_extendedprice", "median_price", order_cast="DOUBLE"
    ),
    "appx_p90_value_by_event_type": ORACLE_P90_VALUE,
    "appx_percentile_sql_udaf": ORACLE_P25_QTY,
    "exact_median_shipdate_by_returnflag": f"""
        SELECT l_returnflag, strftime(x, '%Y-%m-%d %H:%M:%S') AS median_shipdate FROM (
            SELECT l_returnflag, l_shipdate AS x,
                   row_number() OVER (PARTITION BY l_returnflag ORDER BY l_shipdate) AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem WHERE l_shipdate IS NOT NULL
        ) ranked WHERE rn = CAST(n // 2 AS BIGINT) + 1
    """,
    "exact_median_name_by_segment": _upper_median_oracle(
        "customer", "c_name", "median_name", group="c_mktsegment", group_out="c_mktsegment"
    ),
    "exact_median_name_truncated10": ORACLE_MEDIAN_NAME_TRUNCATED,
    "exact_median_price_decimal": ORACLE_MEDIAN_DECIMAL,
    "exact_weighted_median_price": ORACLE_WEIGHTED_MEDIAN,
    "exact_weighted_p90_quantity": ORACLE_WEIGHTED_P90,
    "reservoir_sample_quantity": ORACLE_RESERVOIR_SAMPLE,
    "window_median_quantity": ORACLE_WINDOW_MEDIAN,
    "window_sliding_median_price": ORACLE_WINDOW_SLIDING_MEDIAN,
}

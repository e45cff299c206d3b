"""Skew-resistant aggregation via salting.

When one grouping key holds a disproportionate share of rows (hot keys —
exactly the shape of `events.event_type` with 5 values over the whole
table), a naive groupBy sends every hot-key row to one reducer. Salting
splits each key into ``n_salts`` sub-keys for a first partial aggregation,
then combines the partials with a second tiny aggregation:

    groupBy(key, salt)  →  n_salts × |keys| partial rows  →  groupBy(key)

Both shuffles are bounded: the first spreads hot keys over ``n_salts``
reducers, the second moves only ``n_salts × |keys|`` partial rows. The salt
is a deterministic hash of the whole row (no rand()), so results are stable
and re-runnable. (Spark's AQE skew-join handles *join* skew at runtime; this
operator is the equivalent for aggregation, where pre-shuffle partials must
be algebraic.)

The same decomposition rule the reference encodes in its UDA protocol
applies: only algebraic aggregates (sum/count/min/max → avg) can re-combine
from partials; the bounded median handles skew differently, via its own
bounded per-task partial buffers (the JVM Aggregator behind
operators/reservoir.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 8,
) -> DataFrame:
    """sum/count/avg/min/max of ``value_col`` per key, skew-spread over
    ``n_salts`` partial reducers.

    ``value_avg`` follows the exact-moment recipe (r10): per-row
    round(value·1e6) integers summed in DECIMAL(38,0) across BOTH salt
    stages, then ONE double divide — a double partial-sum numerator would
    wobble with the salt/combine order and a trailing round(x, 4) sits on
    the shortest-string-vs-binary midpoint class. The decimal partial
    rides the same salted shuffle, so the skew-spread shape is unchanged.

    Contract note (ADVICE r10 #3): ``value_avg`` is the mean of values
    QUANTIZED to the 1e-6 grid, not sum(value)/count — each value carries
    up to 5e-7 of quantization bias, which is the price of a combine-order
    -invariant mean. The quantization itself is exact only while
    |value|·1e6 < 2^52, i.e. |value| < ~4.5e9 (past that, Spark's
    shortest-string rounding of the per-row product and another engine's
    binary-double rounding can pick different grid points). Consumers
    needing the raw double mean can divide the emitted ``value_sum`` /
    ``value_count`` themselves, accepting combine-order wobble."""
    all_cols = [F.col(c) for c in df.columns]
    v6 = F.round(F.col(value_col) * 1000000).cast("decimal(38,0)")
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(*all_cols), F.lit(n_salts)))
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.sum(value_col).alias("_sum"),
        F.sum(v6).alias("_sum6"),
        F.count(value_col).alias("_cnt"),
        F.min(value_col).alias("_min"),
        F.max(value_col).alias("_max"),
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_sum").alias("value_sum"),
        F.sum("_cnt").alias("value_count"),
        (F.sum("_sum6").cast("double") / F.sum("_cnt") / F.lit(1000000.0)).alias("value_avg"),
        F.min("_min").alias("value_min"),
        F.max("_max").alias("value_max"),
    )

"""Streaming bounded-median — the reference's aggregate made streaming-legal.

The reference's core design property — aggregation state bounded at
``max_samples`` regardless of input size (``median.h:27-29``) — is exactly
the property Structured Streaming's state store requires. Two routes:

- :func:`windowed_median_stream` — event-time windows + watermark with
  Spark's ``percentile_approx`` (bounded QuantileSummaries state,
  fully supported in streaming aggregations). The 100 TB route.
- :func:`running_median_stream` — the JVM reservoir Aggregator as a native
  streaming aggregation (``StateStoreRestore``/``StateStoreSave``, update
  output mode). Each trigger reduces its rows into per-group buffers
  (``median.cc:128``), the state store persists the buffer between
  triggers (``median.cc:165-194``), restoring it combines old and new with
  the Aggregator's key-weighted merge (``median.cc:228-282``), and every
  trigger emits the current finalize() (``median.cc:284-304``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.functions.median import appx_median_bounded


def windowed_median_stream(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    max_samples: int = 1000,
) -> DataFrame:
    """Per-window approximate median with late-data handling via watermark."""
    accuracy = max(int(max_samples), 100)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(group_col))
        .agg(
            F.percentile_approx(value_col, F.lit(0.5), F.lit(accuracy)).alias("median_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            group_col,
            "median_value",
            "n",
        )
    )


def running_median_stream(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    max_samples: int = 100,
) -> DataFrame:
    """Running bounded-median per group across micro-batches, as columns
    ``group string, median double, source_size bigint``.

    A plain streaming aggregation over the JVM Aggregator: the reservoir
    buffer is the persisted state, bounded at ``max_samples`` values, so
    state-store size is O(groups × max_samples) forever — the property the
    reference engineered for. ``source_size`` counts the non-null values
    seen, NaN included (NaN is sampled; only NULL is skipped).
    """
    return (
        events.select(
            F.col(group_col).cast("string").alias("group"),
            F.col(value_col).cast("double").alias("value"),
        )
        .groupBy("group")
        .agg(
            appx_median_bounded("value", max_samples).alias("median"),
            F.count("value").alias("source_size"),
        )
    )

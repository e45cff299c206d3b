"""Streaming bounded-median — the reference's aggregate made streaming-legal.

The reference's core design property — aggregation state bounded at
``max_samples`` regardless of input size (``median.h:27-29``) — is exactly
the property Structured Streaming requires of custom stateful operators.
Two routes:

- :func:`windowed_median_stream` — event-time windows + watermark with
  Spark's ``percentile_approx`` (bounded QuantileSummaries state,
  fully supported in streaming aggregations). The 100 TB route.
- :func:`running_median_stream` — ``applyInPandasWithState`` carrying a
  :class:`ReservoirState` across micro-batches per group: init on first
  batch (``median.cc:117``), update per batch (``median.cc:128``), the
  state persisted by Spark's state store between triggers is precisely the
  serialized reservoir (``median.cc:165-194``), and every trigger emits the
  current finalize() (``median.cc:284-304``). Update output mode.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from rocana_impala_udfs_spark.functions.median import ReservoirState


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


STATE_SCHEMA = "samples array<double>, keys array<double>, source_size bigint"
OUTPUT_SCHEMA = "group string, median double, source_size bigint"


def running_median_stream(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    max_samples: int = 100,
) -> DataFrame:
    """Running bounded-median per group across micro-batches.

    The reservoir is the persisted streaming state — bounded at
    ``max_samples`` values, so state-store size is O(groups × max_samples)
    forever, the property the reference engineered for.
    """

    def update_fn(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = ReservoirState(max_samples)
        if state.exists:
            samples, keys, source_size = state.get
            st.vals = np.asarray(samples, dtype=np.float64)
            st.keys = np.asarray(keys, dtype=np.float64)
            st.source_size = int(source_size)
        for pdf in pdfs:
            st.update(pdf[value_col].to_numpy(dtype=np.float64))
        st.assign_keys()
        state.update((st.vals.tolist(), st.keys.tolist(), st.source_size))
        yield pd.DataFrame(
            [{"group": key[0], "median": st.finalize(), "source_size": st.source_size}]
        )

    return (
        events.select(F.col(group_col).cast("string").alias(group_col), F.col(value_col))
        .groupBy(group_col)
        .applyInPandasWithState(
            update_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_median_tws(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    max_samples: int = 100,
) -> DataFrame:
    """The same running bounded median on ``transformWithStateInPandas`` —
    Spark 4's successor stateful API (typed state handles, per-key
    processors). State is the identical bounded reservoir tuple, so the two
    implementations must emit identical medians; the test pins that.

    Runtime requirements beyond the applyInPandasWithState path: the
    RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass``) and the
    ``google.protobuf`` package for the tws Python driver worker — the test
    skips where the environment lacks them.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class MedianProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("reservoir", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            st = ReservoirState(max_samples)
            if self._state.exists():
                samples, keys, source_size = self._state.get()
                st.vals = np.asarray(samples, dtype=np.float64)
                st.keys = np.asarray(keys, dtype=np.float64)
                st.source_size = int(source_size)
            for pdf in rows:
                st.update(pdf[value_col].to_numpy(dtype=np.float64))
            st.assign_keys()
            self._state.update((st.vals.tolist(), st.keys.tolist(), st.source_size))
            yield pd.DataFrame(
                [{"group": key[0], "median": st.finalize(), "source_size": st.source_size}]
            )

        def close(self) -> None:
            pass

    return (
        events.select(F.col(group_col).cast("string").alias(group_col), F.col(value_col))
        .groupBy(group_col)
        .transformWithStateInPandas(
            MedianProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )

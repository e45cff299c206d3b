"""Streaming exponential smoothing — the batch ``ewma_smooth`` fold
(operators/temporal.py) carried across micro-batches with
``applyInPandasWithState``.

State per key is exactly ``(acc, n)`` — O(1) forever, an even stronger
bound than the reference's capped reservoir (``median.h:27-29``): the
recursion ewma_t = alpha*x_t + (1-alpha)*ewma_{t-1} needs only its last
value. Rows are folded in (ts, event_id) order WITHIN each micro-batch;
equivalence with the batch fold holds when per-key event time is
non-decreasing across batches (the usual replay/ingest contract — enforce
with a watermark + sorted sources upstream).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "acc double, n bigint"


def _fold_batch(
    acc: float | None,
    n: int,
    pdf: pd.DataFrame,
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    alpha: float,
) -> tuple[float | None, int]:
    """THE EWMA chain — one definition shared by the applyInPandasWithState
    path, both tws processors, and the warm-start processor, so the pinned
    bit-for-bit parities cannot desynchronize. NULL values become NaN
    (float64 cast) and poison the rest of the chain, matching the stream
    twins; the batch/SQL oracles NULL-poison instead — the documented
    NULL-value twin divergence (fixtures carry none).

    r17 (guide §4.2): this function runs once PER KEY per micro-batch, so
    its constant factor is the Python-stateful keys' dominant cost at
    bench scale (~1.4 ms/key measured for the pandas sort_values +
    astype + Series iteration). The numpy form below is the identical
    computation — np.lexsort is stable like the mergesort it replaces and
    sorts by (ts, tiebreak) in the same precedence; float64 arithmetic is
    the same IEEE chain — at ~0.2 ms/key.

    Precondition: ``ts_col`` and ``order_tiebreak`` are non-null in
    ``pdf``. Only then does the ``np.lexsort`` order equal the stable
    mergesort's; a NULL arrives as NaN/NaT or as ``None`` in an object
    column, whose placement (or comparability) the lexsort does not pin.
    The events fixtures and the replay feeds carry no NULL ts or
    event_id."""
    order = np.lexsort(
        (pdf[order_tiebreak].to_numpy(), pdf[ts_col].to_numpy())
    )
    vals = pdf[value_col].to_numpy(dtype=np.float64)[order]
    for x in vals:
        acc = x if acc is None else alpha * x + (1 - alpha) * acc
    return acc, n + len(vals)


def output_schema(key_col: str = "user_id") -> str:
    """Output schema follows the grouping key so non-default keys don't
    silently emit a mislabeled 'user_id' column."""
    return f"{key_col} string, ewma double, n_events bigint"


# historical name for the default-key schema
OUTPUT_SCHEMA = output_schema()


def running_ewma_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.1,
) -> DataFrame:
    """Per-key running EWMA across micro-batches (update output mode)."""

    def update_fn(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc: float | None = None
        n = 0
        if state.exists:
            acc, n = state.get
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        acc, n = _fold_batch(acc, n, rows, ts_col, order_tiebreak, value_col, alpha)
        state.update((float(acc) if acc is not None else None, n))
        yield pd.DataFrame({key_col: [key[0]], "ewma": [acc], "n_events": [n]})

    return (
        events.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(ts_col),
            F.col(order_tiebreak),
            F.col(value_col),
        )
        .groupBy(key_col)
        .applyInPandasWithState(
            update_fn,
            outputStructType=output_schema(key_col),
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_ewma_tws(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.1,
) -> DataFrame:
    """The same running EWMA on ``transformWithStateInPandas`` — Spark 4's
    successor stateful API (typed state handles, per-key processors).
    State is the identical ``(acc, n)`` tuple and the fold is the identical
    IEEE chain, so the two implementations must emit identical values;
    ``tests/test_streaming.py`` pins that, and the driver key
    ``stream_tws_ewma_user_value`` routes through this path.

    Runtime requirements beyond the applyInPandasWithState path: the
    RocksDB state-store provider
    (``spark.sql.streaming.stateStore.providerClass``) and
    ``google.protobuf`` — satisfied in protobuf-less containers by the
    vendored clean-room runtime (``vendor/pbshim``), which the session
    factory activates before the JVM launches."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class EwmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("ewma", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            acc: float | None = None
            n = 0
            if self._state.exists():
                acc, n = self._state.get()
            chunks = list(rows)
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            acc, n = _fold_batch(
                acc, n, pdf, ts_col, order_tiebreak, value_col, alpha
            )
            self._state.update((float(acc) if acc is not None else None, n))
            yield pd.DataFrame({key_col: [key[0]], "ewma": [acc], "n_events": [n]})

        def close(self) -> None:
            pass

    return (
        events.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(ts_col),
            F.col(order_tiebreak),
            F.col(value_col),
        )
        .groupBy(key_col)
        .transformWithStateInPandas(
            EwmaProcessor(),
            outputStructType=output_schema(key_col),
            outputMode="Update",
            timeMode="None",
        )
    )


def running_ewma_tws_warm_start(
    events: DataFrame,
    initial_state: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.1,
) -> DataFrame:
    """The tws EWMA WARM-STARTED from a batch backfill — certifies
    ``handleInitialState`` / the ``initialState`` GroupedData parameter,
    the one tws entry point the other keys don't touch. ``initial_state``
    carries one (key, acc, n) row per key (the batch fold of the history
    prefix); the stream then continues the identical IEEE chain, so
    warm-start + suffix must equal the full-history fold bit-for-bit."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class WarmEwmaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("ewma", STATE_SCHEMA)

        def handleInitialState(self, key, initialState, timerValues) -> None:
            self._state.update(
                (float(initialState["acc"].iloc[0]), int(initialState["n"].iloc[0]))
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            acc: float | None = None
            n = 0
            if self._state.exists():
                acc, n = self._state.get()
            chunks = list(rows)
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            acc, n = _fold_batch(
                acc, n, pdf, ts_col, order_tiebreak, value_col, alpha
            )
            self._state.update((float(acc) if acc is not None else None, n))
            yield pd.DataFrame({key_col: [key[0]], "ewma": [acc], "n_events": [n]})

        def close(self) -> None:
            pass

    init_grouped = initial_state.select(
        F.col(key_col).cast("string").alias(key_col), "acc", "n"
    ).groupBy(key_col)
    return (
        events.select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(ts_col),
            F.col(order_tiebreak),
            F.col(value_col),
        )
        .groupBy(key_col)
        .transformWithStateInPandas(
            WarmEwmaProcessor(),
            outputStructType=output_schema(key_col),
            outputMode="Update",
            timeMode="None",
            initialState=init_grouped,
        )
    )

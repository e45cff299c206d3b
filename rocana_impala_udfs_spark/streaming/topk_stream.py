"""Streaming grouped top-k — the salted batch operator's stateful twin.

``operators/topk.grouped_topk_two_phase`` scales the per-group rank window
by exploiting the MERGE PROPERTY: the top-k of a union is contained in the
union of per-part top-k's. That same property is what makes top-k a legal
Structured-Streaming stateful aggregate: the persisted state per group is
just the current top-k (k rows, bounded forever — the same bounded-state
contract as the reference's reservoir, ``median.h:27-29``), and each
micro-batch folds in via one merge. After the last micro-batch the state
is EXACTLY the batch top-k, independent of how rows were split across
batches — which is what the replay key's oracle certifies.

Scale shape: the per-batch shuffle groups only the rows of ONE micro-batch
(bounded by trigger size), the in-worker merge sorts ``state(k) + batch
rows for that group`` — never the full history — and state-store size is
O(groups × k). The batch operator's phase-1 salt plays the same role the
micro-batch boundary plays here: no task ever sorts a whole group's
history.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "vals array<double>, ids array<bigint>, n_seen bigint"
OUTPUT_SCHEMA = (
    "group string, rk int, event_id bigint, value double, n_seen bigint"
)


def running_grouped_topk_stream(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: int = 5,
) -> DataFrame:
    """Running top-``k`` rows per group by (``value_col`` DESC, ``id_col``
    ASC — the id makes the order total, so ties are deterministic), state
    bounded at ``k`` rows per group. Update output mode: every batch emits
    the group's current top-k stamped with the cumulative ``n_seen``, so
    a post-stream consumer picks each group's final answer as its
    max-``n_seen`` emission (``n_seen`` strictly increases per emission)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    def update_fn(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            vals, ids, n_seen = state.get
            cur = pd.DataFrame({"value": list(vals), "event_id": list(ids)})
            n = int(n_seen)
        else:
            cur = pd.DataFrame(
                {"value": pd.Series(dtype="float64"), "event_id": pd.Series(dtype="int64")}
            )
            n = 0
        for pdf in pdfs:
            n += len(pdf)
            batch = pdf[[value_col, id_col]].rename(
                columns={value_col: "value", id_col: "event_id"}
            )
            cur = batch if cur.empty else pd.concat([cur, batch], ignore_index=True)
            # merge: keep the top-k of (state ∪ batch) — the merge
            # property guarantees this equals the top-k of all rows seen
            cur = cur.sort_values(
                ["value", "event_id"], ascending=[False, True]
            ).head(k)
        state.update((cur["value"].tolist(), [int(i) for i in cur["event_id"]], n))
        out = cur.reset_index(drop=True)
        out.insert(0, "group", key[0])
        out.insert(1, "rk", range(1, len(out) + 1))
        out["n_seen"] = n
        yield out[["group", "rk", "event_id", "value", "n_seen"]]

    return (
        events.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(id_col).cast("bigint").alias(id_col),
            F.col(value_col).cast("double").alias(value_col),
        )
        .groupBy(group_col)
        .applyInPandasWithState(
            update_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_grouped_topk_tws(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: int = 5,
) -> DataFrame:
    """The same running grouped top-k on ``transformWithStateInPandas`` —
    Spark 4's successor stateful API. State is the identical bounded
    (vals, ids, n_seen) tuple, so the two implementations must emit
    identical top-k tables; the test pins that against the
    ``applyInPandasWithState`` path AND the batch salted operator.

    Runtime requirements beyond the ``applyInPandasWithState`` path: the
    RocksDB state-store provider and ``google.protobuf`` for the tws
    Python driver worker — the test skips where the environment lacks
    them."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("topk", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            if self._state.exists():
                vals, ids, n_seen = self._state.get()
                cur = pd.DataFrame({"value": list(vals), "event_id": list(ids)})
                n = int(n_seen)
            else:
                cur = pd.DataFrame(
                    {"value": pd.Series(dtype="float64"), "event_id": pd.Series(dtype="int64")}
                )
                n = 0
            for pdf in rows:
                n += len(pdf)
                batch = pdf[[value_col, id_col]].rename(
                    columns={value_col: "value", id_col: "event_id"}
                )
                cur = batch if cur.empty else pd.concat([cur, batch], ignore_index=True)
                cur = cur.sort_values(
                    ["value", "event_id"], ascending=[False, True]
                ).head(k)
            self._state.update(
                (cur["value"].tolist(), [int(i) for i in cur["event_id"]], n)
            )
            out = cur.reset_index(drop=True)
            out.insert(0, "group", key[0])
            out.insert(1, "rk", range(1, len(out) + 1))
            out["n_seen"] = n
            yield out[["group", "rk", "event_id", "value", "n_seen"]]

        def close(self) -> None:
            pass

    return (
        events.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(id_col).cast("bigint").alias(id_col),
            F.col(value_col).cast("double").alias(value_col),
        )
        .groupBy(group_col)
        .transformWithStateInPandas(
            TopKProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def running_grouped_topk_tws_list(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: int = 5,
) -> DataFrame:
    """The running grouped top-k with the k rows held in a typed
    ``ListState`` (plus the cumulative count in a ``ValueState``) — (r11)
    the key that exercises the LIST-state wire protocol (getListState /
    listStateGet / listStatePut) and MULTIPLE state variables per
    processor end to end through the vendored protobuf runtime. The k-row
    list is the natural ListState shape: ``put`` replaces exactly the
    k rows that survive the merge, so state IO is O(k) per (group, batch)
    regardless of history. Top-k of a union under the total order
    (value DESC, event_id ASC) is batch-split-invariant, so the final
    state equals the batch rank window — values pinned identical to
    ``running_grouped_topk_stream`` and ``running_grouped_topk_tws``.

    Requires the RocksDB state-store provider and ``google.protobuf``
    (vendored shim suffices)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    class TopKListStateProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("topk", "value double, event_id bigint")
            self._n = handle.getValueState("n_seen", "n bigint")

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            held = [(float(v), int(i)) for v, i in self._top.get()]
            cur = pd.DataFrame(held, columns=["value", "event_id"]).astype(
                {"value": "float64", "event_id": "int64"}
            )
            n = int(self._n.get()[0]) if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
                batch = pdf[[value_col, id_col]].rename(
                    columns={value_col: "value", id_col: "event_id"}
                )
                cur = batch if cur.empty else pd.concat([cur, batch], ignore_index=True)
                cur = cur.sort_values(
                    ["value", "event_id"], ascending=[False, True]
                ).head(k)
            self._top.put(
                [(float(v), int(i)) for v, i in zip(cur["value"], cur["event_id"])]
            )
            self._n.update((n,))
            out = cur.reset_index(drop=True)
            out.insert(0, "group", key[0])
            out.insert(1, "rk", range(1, len(out) + 1))
            out["n_seen"] = n
            yield out[["group", "rk", "event_id", "value", "n_seen"]]

        def close(self) -> None:
            pass

    return (
        events.select(
            F.col(group_col).cast("string").alias(group_col),
            F.col(id_col).cast("bigint").alias(id_col),
            F.col(value_col).cast("double").alias(value_col),
        )
        .groupBy(group_col)
        .transformWithStateInPandas(
            TopKListStateProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )

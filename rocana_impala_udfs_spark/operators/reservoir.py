"""DataFrame-level reservoir aggregates.

:func:`appx_median_bounded_agg` and :func:`appx_percentile_bounded_agg` are
``groupBy(...).agg(...)`` over the JVM Aggregator
(:mod:`rocana_impala_udfs_spark.jvm`), which Spark plans as a partial/final
ObjectHashAggregate: each task reduces its rows to one bounded reservoir per
group and only those buffers cross the exchange.

:func:`reservoir_sample_agg` returns the sample itself as ARRAY<DOUBLE>,
which the typed Aggregator's Java encoders cannot emit, so it keeps the
reference's five-phase protocol (init/update/serialize/merge/finalize,
``median.cc:117-304``) on :class:`ReservoirState` in two Python phases:

- **Phase 1 (partial)** — ``mapInPandas`` over the scan: one bounded
  :class:`ReservoirState` per group per *partition* (init ``median.cc:117``,
  update ``median.cc:128``). Arrow batches stream through; state stays
  O(groups × max_samples) per task.
- **Serialize boundary** — weight keys assigned per partial exactly as the
  reference does at its shuffle boundary (``median.cc:176-192``), so larger
  partitions win merges proportionally. Only ``max_samples`` values per group
  per partition cross the exchange.
- **Phase 2 (final)** — ``groupBy(keys).applyInPandas``: key-weighted heap
  merge (``median.cc:263-280``).

Shuffle volume is ≤ partitions × groups × max_samples samples — independent
of input row count, which is the whole point of the reference's bounded
design.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.functions.median import (
    DEFAULT_SEED,
    ReservoirState,
    appx_median_bounded,
    appx_percentile_bounded,
)


def _stable_seed(seed: int, key: tuple) -> int:
    return (seed + zlib.crc32(repr(key).encode())) % (2**31)


def _partial_reservoirs(
    df: DataFrame,
    value_col: str,
    max_samples: int,
    group_cols: list[str] | None = None,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Phase 1: per-partition, per-group bounded reservoirs (partial agg).

    Returns one row per (partition, group): ``group_cols… (as STRING),
    samples ARRAY<DOUBLE>, keys ARRAY<DOUBLE>, source_size BIGINT`` — the
    serialized aggregation state, weight keys already assigned (serialize
    semantics, ``median.cc:165-194``).
    """
    group_cols = list(group_cols or [])
    proj = [F.col(c).cast("string").alias(c) for c in group_cols]
    # carry an explicit null flag: the Arrow→pandas bridge conflates SQL
    # NULL and NaN into NaN, and the reference skips only is_null
    # (median.cc:130-131) — NaN data must be SAMPLED, like the arrow-UDF
    # and JVM paths since r10 (NaN-divergence closure)
    src = df.select(
        *proj,
        F.col(value_col).cast("double").alias("_v"),
        F.col(value_col).isNull().alias("_vnull"),
    )
    schema = (
        ", ".join(f"`{c}` string" for c in group_cols)
        + (", " if group_cols else "")
        + "samples array<double>, keys array<double>, source_size bigint"
    )
    out_cols = group_cols + ["samples", "keys", "source_size"]

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Mix the partition id into the seed: with a group-only seed every
        # partition's partial for a group shares one RNG stream, correlating
        # saturated-path accept decisions and serialize keys across
        # partitions and mildly biasing the merged sample.
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        states: dict[tuple, ReservoirState] = {}
        for pdf in batches:
            if group_cols:
                grouped = pdf.groupby(group_cols, sort=False, dropna=False)
            else:
                grouped = [((), pdf)]
            for gk, sub in grouped:
                gk = gk if isinstance(gk, tuple) else (gk,)
                st = states.get(gk)
                if st is None:
                    st = ReservoirState(max_samples, seed=_stable_seed(seed, (pid, *gk)))
                    states[gk] = st
                st.update(
                    sub["_v"].to_numpy(dtype=np.float64),
                    null_mask=sub["_vnull"].to_numpy(dtype=bool),
                )
        rows = []
        for gk, st in states.items():
            st.assign_keys()
            rows.append([*gk, st.sample_values().tolist(), st.keys.tolist(), st.source_size])
        yield pd.DataFrame(rows, columns=out_cols) if rows else pd.DataFrame(columns=out_cols)

    return src.mapInPandas(partial, schema=schema)


def reservoir_sample_agg(
    df: DataFrame,
    value_col: str,
    max_samples: int,
    group_cols: list[str] | None = None,
    out: str = "samples",
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """The reservoir itself: ``reservoir_sample(col, k)``
    per group, returned as a sorted ARRAY<DOUBLE> (sorted so results are
    deterministic whenever the reservoir is unsaturated — every non-null
    value retained exactly once, matching ``max_samples >= n`` semantics of
    median-test.cc:66-82).

    Two-phase distributed shape (module docstring): bounded partials per
    partition, key-weighted heap merge after one shuffle of ≤ partitions ×
    groups × max_samples samples.
    """
    group_cols = list(group_cols or [])
    partials = _partial_reservoirs(df, value_col, max_samples, group_cols, seed)
    schema = (
        ", ".join(f"`{c}` string" for c in group_cols)
        + (", " if group_cols else "")
        + f"`{out}` array<double>"
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        acc: ReservoirState | None = None
        for row in pdf.itertuples(index=False):
            st = ReservoirState(max_samples, seed=seed)
            st.vals = np.asarray(row.samples, dtype=np.float64)
            st.keys = np.asarray(row.keys, dtype=np.float64)
            st.source_size = int(row.source_size)
            acc = st if acc is None else (acc.merge(st) or acc)
        vals = np.sort(acc.sample_values()).tolist() if acc is not None else []
        head = [pdf.iloc[0][c] for c in group_cols]
        return pd.DataFrame([head + [vals]], columns=group_cols + [out])

    if group_cols:
        result = partials.groupBy(*group_cols).applyInPandas(merge_group, schema=schema)
        orig_types = {f.name: f.dataType.simpleString() for f in df.select(*group_cols).schema.fields}
        return result.select(
            *[F.col(c).cast(orig_types[c]).alias(c) for c in group_cols], F.col(out)
        )
    return partials.groupBy(F.lit(1).alias("_one")).applyInPandas(
        lambda pdf: merge_group(pdf).assign(_one=1), schema=f"`{out}` array<double>, `_one` int"
    ).select(out)


def appx_median_bounded_agg(
    df: DataFrame,
    value_col: str,
    max_samples: int,
    group_cols: list[str] | None = None,
    out: str = "median",
) -> DataFrame:
    """``appx_median_bounded(value_col, max_samples) GROUP BY group_cols``
    with the reference's semantics, as a DOUBLE column ``out``. Exact when
    each group has ≤ ``max_samples`` non-null rows; a global aggregate over
    empty input is one NULL row (``median.cc:295-298``)."""
    value = F.col(value_col).cast("double")
    return df.groupBy(*(group_cols or [])).agg(
        appx_median_bounded(value, max_samples).alias(out)
    )


def appx_percentile_bounded_agg(
    df: DataFrame,
    value_col: str,
    p: float,
    max_samples: int,
    group_cols: list[str] | None = None,
    out: str = "percentile",
) -> DataFrame:
    """The reference's bounded-reservoir aggregate generalized to any
    percentile: finalize picks sorted[min(floor(n*p), n-1)] (p=0.5 == the
    reference's upper-median rule, ``median.cc:299-301``). Exact whenever
    each group has ≤ ``max_samples`` non-null rows."""
    value = F.col(value_col).cast("double")
    return df.groupBy(*(group_cols or [])).agg(
        appx_percentile_bounded(value, p, max_samples).alias(out)
    )

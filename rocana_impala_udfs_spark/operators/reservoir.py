"""DataFrame-level reservoir aggregates.

:func:`appx_median_bounded_agg`, :func:`appx_percentile_bounded_agg` and
:func:`reservoir_sample_agg` are ``groupBy(...).agg(...)`` over the JVM
Aggregator (:mod:`rocana_impala_udfs_spark.jvm`), which Spark plans as a
partial/final ObjectHashAggregate: each task reduces its rows to one
bounded reservoir per group and only those buffers cross the exchange, so
shuffle volume is ≤ partitions × groups × max_samples samples —
independent of input row count, which is the whole point of the
reference's bounded design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.functions.median import (
    appx_median_bounded,
    appx_percentile_bounded,
)


def reservoir_sample_agg(
    df: DataFrame,
    value_col: str,
    max_samples: int,
    group_cols: list[str] | None = None,
    out: str = "samples",
) -> DataFrame:
    """The reservoir itself: ``reservoir_sample(value_col, max_samples)
    GROUP BY group_cols`` as a sorted ARRAY<DOUBLE> column ``out`` (sorted
    by ``Double.compare``, so the result is deterministic whenever the
    reservoir is unsaturated — every non-null value retained exactly once,
    the ``max_samples >= n`` semantics of median-test.cc:66-82). Group
    columns keep their own types; a global aggregate over empty input is
    one NULL row."""
    from rocana_impala_udfs_spark.jvm import udaf_column

    value = F.col(value_col).cast("double")
    return df.groupBy(*(group_cols or [])).agg(
        udaf_column("reservoir_sample", value, F.lit(max_samples)).alias(out)
    )


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

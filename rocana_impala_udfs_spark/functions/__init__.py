"""Scalar and aggregate functions (the reference's UDF/UDAF surface)."""

from rocana_impala_udfs_spark.functions.median import (
    appx_median_bounded,
    appx_percentile_bounded,
    exact_upper_median,
)

__all__ = [
    "appx_median_bounded",
    "appx_percentile_bounded",
    "exact_upper_median",
]

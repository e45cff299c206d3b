"""Scalar and aggregate functions (the reference's UDF/UDAF surface)."""

from rocana_impala_udfs_spark.functions.median import (
    ReservoirState,
    appx_median_bounded,
    appx_percentile_bounded,
    exact_upper_median,
    make_reservoir_sample_udf,
)

__all__ = [
    "ReservoirState",
    "appx_median_bounded",
    "appx_percentile_bounded",
    "exact_upper_median",
    "make_reservoir_sample_udf",
]

"""Function registration — the reference's ``CREATE AGGREGATE FUNCTION``
surface (reference ``README.md:37-47``) mapped to ``spark.udf.register``.

The reference distributes a ``.so`` via HDFS and binds five C symbols with
DDL; Spark ships Python UDF code to executors automatically over the
Arrow/py4j worker protocol, so registration is one call per function:

    register_all(spark)
    spark.sql("SELECT CAST(appx_median_bounded(x, 5) AS DOUBLE) FROM numbers")

``appx_median_bounded`` is registered with the reference's STRING return type
so the documented ``CAST(... AS DOUBLE)`` idiom (reference ``README.md:61``)
works verbatim; ``appx_median_bounded_double`` is the idiomatic typed variant.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from rocana_impala_udfs_spark.functions.median import (
    make_appx_median_bounded_str_udf,
    make_appx_median_bounded_udf,
    make_appx_percentile_bounded_udf,
    make_reservoir_merge_median_udf,
    make_reservoir_partial_udf,
    make_reservoir_sample_udf,
)


def register_all(spark: SparkSession) -> SparkSession:
    """Register every engine function into the session catalog."""
    from rocana_impala_udfs_spark.functions import text as text_fns

    spark.udf.register("appx_median_bounded", make_appx_median_bounded_str_udf())
    # byte-parity flavor: formats like the reference's ToStringVal
    # (stringstream precision-6, median.cc:29-37)
    spark.udf.register(
        "appx_median_bounded_ref_format", make_appx_median_bounded_str_udf(cpp_format=True)
    )
    spark.udf.register("appx_median_bounded_double", make_appx_median_bounded_udf())
    spark.udf.register("appx_percentile_bounded", make_appx_percentile_bounded_udf())
    spark.udf.register("reservoir_sample", make_reservoir_sample_udf())
    # Scalable SQL form of the five-phase protocol: a grouped-agg pandas UDF
    # ships WHOLE groups to one worker (no partial aggregation), so plain
    # `appx_median_bounded(x, k)` is the convenience path only. The 100 TB
    # SQL idiom salts the first GROUP BY to bound every shipped group, then
    # merges the serialized partials:
    #   WITH p AS (SELECT grp, reservoir_partial(x, k) AS s
    #              FROM t GROUP BY grp, pmod(hash(id), 16))
    #   SELECT grp, reservoir_merge_median(s) FROM p GROUP BY grp
    spark.udf.register("reservoir_partial", make_reservoir_partial_udf())
    spark.udf.register("reservoir_merge_median", make_reservoir_merge_median_udf())
    # One-STATEMENT scalable form: a JVM Aggregator (jvm/rocana-udaf.jar)
    # with genuine partial+final aggregation — `SELECT
    # appx_median_bounded_1call(x, k) FROM t GROUP BY g` matches the
    # reference's single-call DDL ergonomics at any scale. Raises
    # RuntimeError (class + jar path) if the jar is missing or fails to load.
    from rocana_impala_udfs_spark.jvm import register_jvm_udaf

    register_jvm_udaf(spark)
    text_fns.register(spark)

    from rocana_impala_udfs_spark.functions import udtfs

    udtfs.register(spark)
    return spark

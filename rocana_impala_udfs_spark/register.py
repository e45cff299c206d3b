"""Function registration — the reference's ``CREATE AGGREGATE FUNCTION``
surface (reference ``README.md:37-47``) mapped to Spark's session catalog.

The reference distributes a ``.so`` via HDFS and binds five C symbols with
DDL; here one call registers every function:

    register_all(spark)
    spark.sql("SELECT CAST(appx_median_bounded(x, 5) AS DOUBLE) FROM numbers")

The median, percentile and sample names are one JVM ``Aggregator``
(``jvm/rocana-udaf.jar``) with genuine partial+final aggregation, so a
single call scales like the reference's Impala UDA:

- ``appx_median_bounded(x, k)`` — the reference's STRING return type, so
  the documented ``CAST(... AS DOUBLE)`` idiom (reference ``README.md:61``)
  works verbatim; ``appx_median_bounded_1call`` is the same function;
- ``appx_median_bounded_ref_format(x, k)`` — STRING formatted like the
  reference's ``ToStringVal`` (stringstream precision 6, ``median.cc:29-37``);
- ``appx_median_bounded_double(x, k)`` — the idiomatic typed variant;
- ``appx_percentile_bounded(x, p, k)`` — any percentile, DOUBLE;
- ``reservoir_sample(x, k)`` — the bounded sample itself, sorted
  ARRAY<DOUBLE>.

Registration raises ``RuntimeError`` (class + jar path) if the jar is
missing or fails to load. The text functions and UDTFs are Python,
shipped to executors over the Arrow/py4j worker protocol.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def register_all(spark: SparkSession) -> SparkSession:
    """Register every engine function into the session catalog."""
    from rocana_impala_udfs_spark.functions import text as text_fns
    from rocana_impala_udfs_spark.functions import udtfs
    from rocana_impala_udfs_spark.jvm import register_jvm_udafs

    register_jvm_udafs(spark)
    text_fns.register(spark)
    udtfs.register(spark)
    return spark

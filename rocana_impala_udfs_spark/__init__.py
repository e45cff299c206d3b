"""rocana_impala_udfs_spark — a PySpark-native analytics engine with the query
capabilities of the reference ``scalingdata/rocana-impala-udfs`` library.

The reference ships one distributed aggregate function, ``appx_median_bounded``
(bounded-memory approximate median via weighted reservoir sampling,
reference ``median.cc``/``median.h``), plus the five-phase UDA registration
surface that makes such functions callable from SQL (reference ``README.md:37-47``).

This package re-expresses that Spark-first:

- :mod:`~rocana_impala_udfs_spark.functions` — scalar/aggregate functions,
  including the reference-faithful reservoir-sampling
  ``appx_median_bounded``, whose one batch implementation is the JVM
  ``Aggregator`` in :mod:`~rocana_impala_udfs_spark.jvm`.
- :mod:`~rocana_impala_udfs_spark.operators` — DataFrame-level operators:
  the reservoir median/percentile aggregates, dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding-cosine), similarity search, multimodal
  column plumbing.
- :mod:`~rocana_impala_udfs_spark.sources` — parquet/csv/json readers for the
  test star schema.
- :mod:`~rocana_impala_udfs_spark.plans` — complete relational query suite
  (joins, windows, rollup/cube, top-k, set ops) over the test tables.
- :mod:`~rocana_impala_udfs_spark.streaming` — Structured Streaming variants
  (the bounded reservoir state is exactly what makes the median legal inside
  ``applyInPandasWithState``).

Register everything into a SparkSession with::

    from rocana_impala_udfs_spark import register_all
    register_all(spark)
    spark.sql("SELECT CAST(appx_median_bounded(x, 5) AS DOUBLE) FROM numbers")
"""

from rocana_impala_udfs_spark.register import register_all
from rocana_impala_udfs_spark.session import get_spark

__version__ = "1.1.3.dev0"

__all__ = ["register_all", "get_spark", "__version__"]

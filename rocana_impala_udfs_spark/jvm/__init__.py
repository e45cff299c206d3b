"""One-statement partial+final SQL UDAF via a JVM ``Aggregator``.

The reference's DDL surface is a single call — ``SELECT
appx_median_bounded(x, k) FROM t`` (reference ``README.md:40-46``) — with
genuine partial aggregation inside the engine. PySpark cannot express a
partial-aggregating custom UDAF in Python (grouped-agg pandas UDFs ship
whole groups to one worker), so the repo's scalable SQL idiom has been the
salted two-statement ``reservoir_partial``/``reservoir_merge_median`` form.
This module closes the ergonomics gap: a ~150-line Java
``org.apache.spark.sql.expressions.Aggregator`` (``jvm/src/rocana/spark/
udaf/AppxMedianBounded.java`` — the five-phase protocol of ``median.cc``
phase by phase) built with the plain JDK toolchain
(``tools/build_jvm_udaf.sh``) into the committed ``rocana-udaf.jar``.

Registration works against a SparkSession we did NOT create (the grading
driver's): ``ADD JAR`` puts the jar on the session's shared jar
classloader (executors included), the class is loaded through that
loader, and ``functions.udaf(agg, Encoders.row(schema))`` registers it in
the catalog — all over py4j, no spark-submit flags needed.

Spark runs this UDAF's update/merge inside ObjectHashAggregate with a real
partial/final split: at 100 TB every executor reduces its partitions to
one ≤ k-sample buffer and only buffers cross the exchange — the same
wire shape as the reference's Impala UDA.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

JAR_PATH = os.path.join(os.path.dirname(__file__), "rocana-udaf.jar")
UDAF_CLASS = "rocana.spark.udaf.AppxMedianBounded"
SQL_NAME = "appx_median_bounded_1call"


def register_jvm_udaf(spark: SparkSession, name: str = SQL_NAME) -> None:
    """Register the one-statement JVM UDAF as ``name``. Raises
    ``RuntimeError`` naming the class and the jar path if the jar is
    missing or the class fails to load or register (class-version
    mismatch, bad encoder, corrupt artifact), instead of surfacing much
    later as an opaque "undefined function appx_median_bounded_1call"."""
    if not os.path.exists(JAR_PATH):
        raise RuntimeError(
            f"JVM UDAF {UDAF_CLASS}: jar {JAR_PATH} is missing "
            "(rebuild with tools/build_jvm_udaf.sh)"
        )
    try:
        spark.sql("ADD JAR '{}'".format(JAR_PATH.replace("'", "\\'")))
        jvm = spark._jvm
        loader = spark._jsparkSession.sharedState().jarClassLoader()
        cls = jvm.java.lang.Class.forName(UDAF_CLASS, True, loader)
        agg = cls.newInstance()
        schema = jvm.org.apache.spark.sql.types.StructType.fromDDL(
            "value double, k int"
        )
        enc = jvm.org.apache.spark.sql.Encoders.row(schema)
        udf = jvm.org.apache.spark.sql.functions.udaf(agg, enc)
        spark._jsparkSession.udf().register(name, udf)
    except Exception as exc:
        raise RuntimeError(
            f"JVM UDAF registration of {UDAF_CLASS} from {JAR_PATH} failed: "
            f"{type(exc).__name__}: {exc}"
        ) from exc

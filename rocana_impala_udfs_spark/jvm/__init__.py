"""The package's one implementation of the reference's UDA: a JVM
``Aggregator``.

The reference's DDL surface is a single call — ``SELECT
appx_median_bounded(x, k) FROM t`` (reference ``README.md:40-46``) — with
genuine partial aggregation inside the engine. PySpark cannot express a
partial-aggregating custom UDAF in Python (grouped-agg pandas UDFs ship
whole groups to one worker), so the five-phase protocol of ``median.cc``
lives in Java: ``ReservoirAggregator`` (``jvm/src/rocana/spark/udaf/``)
holds the one reduce/merge/pick, and thin subclasses render the picked
sample as ``Double.toString`` text, as C ``%g`` text, or as a DOUBLE, or
return the whole sorted sample as ARRAY<DOUBLE> (``ReservoirSample``). It
is built with the plain JDK toolchain (``tools/build_jvm_udaf.sh``) into
the committed ``rocana-udaf.jar``.

Every reservoir surface calls it: the SQL names in :data:`FUNCTIONS`
(registered by ``register_all``), the DataFrame functions in
``functions/median.py`` and ``operators/reservoir.py``, and the running
stream median in ``streaming/median_stream.py``, whose Structured
Streaming state is the Aggregator buffer. These use :func:`udaf_column`
and need no catalog registration.

Loading works against a SparkSession the package did not create (a host
application's): ``ADD JAR`` puts the jar on the shared jar classloader
(executors included), the class is loaded through that loader, and
``functions.udaf(agg, Encoders.row(schema))`` builds the function — all
over py4j, no spark-submit flags needed. This happens once per
application; later calls reuse the built function objects, so building a
query issues no ``ADD JAR`` and runs no job.

Spark runs update/merge inside ObjectHashAggregate with a real
partial/final split: at 100 TB every executor reduces its partitions to
one ≤ k-sample buffer and only buffers cross the exchange — the same
wire shape as the reference's Impala UDA.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import Column, SparkSession

JAR_PATH = os.path.join(os.path.dirname(__file__), "rocana-udaf.jar")
_PKG = "rocana.spark.udaf."
UDAF_CLASS = _PKG + "AppxMedianBounded"
_MEDIAN_INPUT = "value double, k int"

# SQL name -> (Aggregator class, input schema). appx_median_bounded is the
# reference's STRING DDL (README.md:40); appx_median_bounded_1call is the
# same function under the name older queries use.
FUNCTIONS = {
    "appx_median_bounded": (UDAF_CLASS, _MEDIAN_INPUT),
    "appx_median_bounded_1call": (UDAF_CLASS, _MEDIAN_INPUT),
    "appx_median_bounded_ref_format": (_PKG + "AppxMedianBoundedRefFormat", _MEDIAN_INPUT),
    "appx_median_bounded_double": (_PKG + "AppxMedianBoundedDouble", _MEDIAN_INPUT),
    "appx_percentile_bounded": (
        _PKG + "AppxMedianBoundedDouble",
        "value double, p double, k int",
    ),
    "reservoir_sample": (_PKG + "ReservoirSample", _MEDIAN_INPUT),
}

# (applicationId, jar) -> {SQL name: JVM UserDefinedFunction}
_UDAF_MEMO: dict = {}
_UDAF_LOCK = threading.Lock()


def _udafs(spark: SparkSession) -> dict:
    """The JVM UserDefinedFunction of every name in :data:`FUNCTIONS`,
    built once per application with one ``ADD JAR``. Raises
    ``RuntimeError`` naming the classes and the jar path if the jar is
    missing or a class fails to load (class-version mismatch, bad encoder,
    corrupt artifact), instead of surfacing much later as an opaque
    "undefined function"."""
    key = (spark.sparkContext.applicationId, JAR_PATH)
    with _UDAF_LOCK:
        udfs = _UDAF_MEMO.get(key)
        if udfs is not None:
            return udfs
        classes = ", ".join(dict.fromkeys(cls for cls, _ in FUNCTIONS.values()))
        if not os.path.exists(JAR_PATH):
            raise RuntimeError(
                f"JVM UDAFs {classes}: jar {JAR_PATH} is missing "
                "(rebuild with tools/build_jvm_udaf.sh)"
            )
        try:
            spark.sql("ADD JAR '{}'".format(JAR_PATH.replace("'", "\\'")))
            jvm = spark._jvm
            loader = spark._jsparkSession.sharedState().jarClassLoader()
            udfs = {}
            for name, (cls, schema) in FUNCTIONS.items():
                agg = jvm.java.lang.Class.forName(cls, True, loader).newInstance()
                enc = jvm.org.apache.spark.sql.Encoders.row(
                    jvm.org.apache.spark.sql.types.StructType.fromDDL(schema)
                )
                udfs[name] = jvm.org.apache.spark.sql.functions.udaf(agg, enc).withName(name)
        except Exception as exc:
            raise RuntimeError(
                f"JVM UDAF registration of {classes} from {JAR_PATH} failed: "
                f"{type(exc).__name__}: {exc}"
            ) from exc
        _UDAF_MEMO[key] = udfs
        return udfs


def register_jvm_udafs(spark: SparkSession) -> None:
    """Register every name in :data:`FUNCTIONS` in the session catalog."""
    for name, udf in _udafs(spark).items():
        spark._jsparkSession.udf().register(name, udf)


def udaf_column(name: str, *cols: Column | str) -> Column:
    """SQL function ``name`` applied to ``cols`` as a Column, in the active
    session, without the session catalog."""
    from pyspark.sql.classic.column import _to_java_column, _to_seq

    spark = SparkSession.active()
    jcols = _to_seq(spark.sparkContext, cols, _to_java_column)
    return Column(_udafs(spark)[name].apply(jcols))

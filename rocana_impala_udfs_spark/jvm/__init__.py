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

The jar also holds the engine's AQE runtime optimizer rule
(``SmallSortInOnePartition``, a small final ``ORDER BY`` sorted in one
task) and the ``RocanaSessionExtensions`` class that injects it.
``session.get_spark`` launches the JVM with ``spark.jars`` set to
:data:`JAR_PATH` and ``spark.sql.extensions`` set to
:data:`EXTENSIONS_CLASS`, so the jar is on the driver and executor class
paths from the start, and checks that the rule is in the session.

Loading the functions also works against a SparkSession the package did
not create (a host application's): there ``ADD JAR`` puts the jar on the
shared jar classloader (executors included), the class is loaded through
that loader, and ``functions.udaf(agg, Encoders.row(schema))`` builds the
function — all over py4j, no spark-submit flags needed. ``ADD JAR`` runs
only when the SparkContext does not already serve the jar, i.e. only in
such a host session. This happens once per application; later calls reuse
the built function objects, so building a query issues no ``ADD JAR`` and
runs no job. A host session gets the sort rule only if it is launched with
the same two confs.

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
# session.get_spark launches with spark.sql.extensions=EXTENSIONS_CLASS, which
# adds the AQE runtime optimizer rule SORT_RULE.
EXTENSIONS_CLASS = _PKG + "RocanaSessionExtensions"
SORT_RULE = _PKG + "SmallSortInOnePartition"
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
    built once per application (with one ``ADD JAR`` if the context does
    not serve the jar yet). Raises
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
            if not _jar_added(spark):
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


def _jar_added(spark: SparkSession) -> bool:
    """Whether the SparkContext already serves a jar named like
    :data:`JAR_PATH` (``session.get_spark`` passes it in ``spark.jars``).
    The context's file server keys jars by file name, so a second add of
    the same name is only logged as "added already"."""
    jars = spark.sparkContext._jsc.sc().listJars()
    name = "/" + os.path.basename(JAR_PATH)
    return any(jars.apply(i).endswith(name) for i in range(jars.length()))


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

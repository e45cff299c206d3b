#!/bin/sh
# Build the engine jar (rocana_impala_udfs_spark/jvm): the reservoir UDAF
# Aggregators and the AQE sort rule with its session extensions class.
# Pure JDK toolchain: javac against the pyspark-bundled Spark jars, then
# `jar`. The built artifact is committed (rocana-udaf.jar) so runtime
# environments without a JDK still load it (spark.jars, or ADD JAR).
set -e
cd "$(dirname "$0")/.."
SPARK_JARS=$(python -c "import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), 'jars'))")
SRC=rocana_impala_udfs_spark/jvm/src
OUT=rocana_impala_udfs_spark/jvm/classes
rm -rf "$OUT" && mkdir -p "$OUT"
javac -encoding UTF-8 -proc:none --release 17 -cp "$SPARK_JARS/*" -d "$OUT" \
  "$SRC"/rocana/spark/udaf/*.java
jar cf rocana_impala_udfs_spark/jvm/rocana-udaf.jar -C "$OUT" rocana
rm -rf "$OUT"
echo "built rocana_impala_udfs_spark/jvm/rocana-udaf.jar"

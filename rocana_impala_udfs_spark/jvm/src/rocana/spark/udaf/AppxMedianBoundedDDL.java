package rocana.spark.udaf;

import java.util.ArrayList;
import java.util.List;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.expressions.MutableAggregationBuffer;
import org.apache.spark.sql.expressions.UserDefinedAggregateFunction;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * The pure-SQL-DDL registration form of {@link AppxMedianBounded} — the
 * reference registers with nothing but DDL ({@code CREATE AGGREGATE
 * FUNCTION ... LOCATION ... UPDATE_FN=...}, reference README.md:40-46),
 * and a migrating user's first question is "what DDL do I run". Spark's
 * {@code CREATE FUNCTION name AS 'class' USING JAR 'path'} statement can
 * load an aggregate only through the {@code UserDefinedAggregateFunction}
 * API (a typed {@code Aggregator} has no no-arg SQL constructor protocol
 * — it needs {@code functions.udaf(agg, encoder)} from code), so this
 * thin adapter exposes the SAME reservoir semantics through that API:
 *
 * <pre>
 *   CREATE OR REPLACE FUNCTION appx_median_bounded_ddl
 *     AS 'rocana.spark.udaf.AppxMedianBoundedDDL'
 *     USING JAR '/path/to/rocana-udaf.jar';
 *   SELECT CAST(appx_median_bounded_ddl(x, 100) AS DOUBLE) FROM t;
 * </pre>
 *
 * Every phase DELEGATES to {@link AppxMedianBounded} (the reduce/merge/finish
 * of {@link ReservoirAggregator}, the single source of truth for the
 * median.cc protocol); this class
 * only converts between the engine-managed Catalyst buffer row and
 * {@link ReservoirBuf}. That conversion copies the k-bounded arrays once
 * per row, so the typed Aggregator ({@code appx_median_bounded})
 * remains the production path — this adapter exists for DDL parity, and
 * its buffer stays the same bounded k-sample state on the wire.
 */
public class AppxMedianBoundedDDL extends UserDefinedAggregateFunction {

  private static final AppxMedianBounded AGG = new AppxMedianBounded();

  @Override
  public StructType inputSchema() {
    return new StructType(new StructField[] {
      DataTypes.createStructField("value", DataTypes.DoubleType, true),
      DataTypes.createStructField("k", DataTypes.IntegerType, true),
    });
  }

  @Override
  public StructType bufferSchema() {
    return new StructType(new StructField[] {
      DataTypes.createStructField(
          "vals", DataTypes.createArrayType(DataTypes.DoubleType, false), false),
      DataTypes.createStructField(
          "keys", DataTypes.createArrayType(DataTypes.DoubleType, false), false),
      DataTypes.createStructField("sourceSize", DataTypes.LongType, false),
      DataTypes.createStructField("maxSamples", DataTypes.IntegerType, false),
    });
  }

  @Override
  public DataType dataType() {
    return DataTypes.StringType;
  }

  /** Declared deterministic for the same reason the registered pandas
   * UDAFs are: in the exact regime (group size &le; k, the oracle-checked
   * contract) every input is retained and the answer is a pure function
   * of the group; the sampled regime is approximate by declaration
   * (reference median.h:27-29). */
  @Override
  public boolean deterministic() {
    return true;
  }

  @Override
  public void initialize(MutableAggregationBuffer buffer) {
    write(buffer, new ReservoirBuf());
  }

  @Override
  public void update(MutableAggregationBuffer buffer, Row input) {
    ReservoirBuf b = read(buffer);
    AGG.reduce(b, input);
    write(buffer, b);
  }

  @Override
  public void merge(MutableAggregationBuffer buffer, Row other) {
    write(buffer, AGG.merge(read(buffer), read(other)));
  }

  @Override
  public String evaluate(Row buffer) {
    return AGG.finish(read(buffer));
  }

  private static ReservoirBuf read(Row row) {
    ReservoirBuf b = new ReservoirBuf();
    b.setVals(new ArrayList<>(row.<Double>getList(0)));
    b.setKeys(new ArrayList<>(row.<Double>getList(1)));
    b.setSourceSize(row.getLong(2));
    b.setMaxSamples(row.getInt(3));
    return b;
  }

  private static void write(MutableAggregationBuffer buffer, ReservoirBuf b) {
    buffer.update(0, toArray(b.getVals()));
    buffer.update(1, toArray(b.getKeys()));
    buffer.update(2, b.getSourceSize());
    buffer.update(3, b.getMaxSamples());
  }

  private static double[] toArray(List<Double> xs) {
    double[] out = new double[xs.size()];
    for (int i = 0; i < out.length; i++) {
      out[i] = xs.get(i);
    }
    return out;
  }
}

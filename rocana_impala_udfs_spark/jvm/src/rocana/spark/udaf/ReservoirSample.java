package rocana.spark.udaf;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders;

/**
 * reservoir_sample(value DOUBLE, k INT) RETURNS ARRAY&lt;DOUBLE&gt; — the
 * reservoir itself rather than a pick from it: the same reduce and merge as
 * every other {@link ReservoirAggregator}, with {@link #finish} returning
 * the whole bounded sample sorted by {@code Double.compare}, so the
 * unsaturated case (every non-null value retained once) is deterministic.
 * Empty input is SQL NULL, like the median.
 */
public class ReservoirSample extends ReservoirAggregator<double[]> {

  @Override
  public double[] finish(ReservoirBuf b) {
    return sortedSample(b);
  }

  @Override
  protected double[] output(double v) {
    throw new UnsupportedOperationException("reservoir_sample returns the whole sample");
  }

  /** ARRAY&lt;DOUBLE&gt; with non-null elements: the agnostic encoder Spark's
   * own Scala encoders build for {@code Array[Double]}. */
  @Override
  @SuppressWarnings("unchecked")
  public Encoder<double[]> outputEncoder() {
    return (Encoder<double[]>) (Encoder<?>) new AgnosticEncoders.ArrayEncoder<>(
        AgnosticEncoders.PrimitiveDoubleEncoder$.MODULE$, false);
  }
}

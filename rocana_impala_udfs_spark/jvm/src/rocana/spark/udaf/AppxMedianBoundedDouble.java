package rocana.spark.udaf;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;

/**
 * The typed DOUBLE variant, registered as appx_median_bounded_double
 * (input {@code value, k}) and as appx_percentile_bounded (input
 * {@code value, p, k}).
 */
public class AppxMedianBoundedDouble extends ReservoirAggregator<Double> {

  @Override
  protected Double output(double v) {
    return v;
  }

  @Override
  public Encoder<Double> outputEncoder() {
    return Encoders.DOUBLE();
  }
}

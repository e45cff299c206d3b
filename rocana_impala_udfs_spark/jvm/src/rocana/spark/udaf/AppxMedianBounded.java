package rocana.spark.udaf;

import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;

/**
 * appx_median_bounded(value DOUBLE, k INT) RETURNS STRING — the reference's
 * DDL (README.md:40-46). Formats with Double.toString, the shortest form
 * that round-trips, so the documented CAST(... AS DOUBLE) idiom
 * (README.md:61) recovers the exact double; the reference's lossy
 * 6-significant-digit stringstream form is {@link AppxMedianBoundedRefFormat}.
 */
public class AppxMedianBounded extends ReservoirAggregator<String> {

  @Override
  protected String output(double v) {
    return Double.toString(v);
  }

  @Override
  public Encoder<String> outputEncoder() {
    return Encoders.STRING();
  }
}

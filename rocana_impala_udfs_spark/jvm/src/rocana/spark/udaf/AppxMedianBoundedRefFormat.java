package rocana.spark.udaf;

import java.math.BigDecimal;
import java.math.MathContext;
import java.math.RoundingMode;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;

/**
 * appx_median_bounded_ref_format: byte parity with the reference's
 * ToStringVal (median.cc:29-37), whose default-precision stringstream
 * prints like C's {@code %g} with 6 significant digits ("500", "51504.4",
 * "1e+07"). Java's own {@code %g} keeps trailing zeros and never drops the
 * exponent, so the C rule is spelled out: round the exact binary value to
 * 6 significant digits (half-even), use fixed notation when the decimal
 * exponent X satisfies -4 &lt;= X &lt; 6 and scientific otherwise, and strip
 * trailing zeros.
 */
public class AppxMedianBoundedRefFormat extends ReservoirAggregator<String> {

  private static final MathContext SIG6 = new MathContext(6, RoundingMode.HALF_EVEN);

  @Override
  protected String output(double v) {
    if (Double.isNaN(v)) {
      return "nan";
    }
    if (Double.isInfinite(v)) {
      return v > 0 ? "inf" : "-inf";
    }
    if (v == 0.0) {
      return 1.0 / v < 0 ? "-0" : "0";
    }
    BigDecimal d = new BigDecimal(v).round(SIG6);
    int x = d.precision() - d.scale() - 1; // decimal exponent of the lead digit
    if (x >= -4 && x < 6) {
      return d.stripTrailingZeros().toPlainString();
    }
    String mantissa = d.movePointLeft(x).stripTrailingZeros().toPlainString();
    int ax = Math.abs(x);
    return mantissa + (x < 0 ? "e-" : "e+") + (ax < 10 ? "0" : "") + ax;
  }

  @Override
  public Encoder<String> outputEncoder() {
    return Encoders.STRING();
  }
}

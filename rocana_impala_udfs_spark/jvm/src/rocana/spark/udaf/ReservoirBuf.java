package rocana.spark.udaf;

import java.io.Serializable;
import java.util.ArrayList;
import java.util.List;

/**
 * Aggregation buffer for {@link ReservoirAggregator}: the weighted
 * reservoir-sampling state of the reference's ReservoirSampleState
 * (median.cc:88-111) as a Java bean so Spark's bean Encoder can ship it
 * through the partial/final aggregation exchange.
 *
 * Fields mirror the reference state: bounded sample buffer, per-sample
 * weight keys in [0, 1] with -1 meaning "not yet keyed" (median.cc:58-59),
 * the observed-row counter, the (ratcheting) bound, and the percentile to
 * pick at finish.
 */
public class ReservoirBuf implements Serializable {
  private List<Double> vals = new ArrayList<>();
  private List<Double> keys = new ArrayList<>();
  private long sourceSize = 0L;
  private int maxSamples = 0; // 0 = not yet set by a non-null k argument
  private double p = -1.0; // max non-null percentile seen; -1 = none (median)

  public List<Double> getVals() { return vals; }
  public void setVals(List<Double> v) { vals = v; }
  public List<Double> getKeys() { return keys; }
  public void setKeys(List<Double> k) { keys = k; }
  public long getSourceSize() { return sourceSize; }
  public void setSourceSize(long s) { sourceSize = s; }
  public int getMaxSamples() { return maxSamples; }
  public void setMaxSamples(int m) { maxSamples = m; }
  public double getP() { return p; }
  public void setP(double q) { p = q; }
}

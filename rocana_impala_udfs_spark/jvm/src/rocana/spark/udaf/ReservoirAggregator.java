package rocana.spark.udaf;

import java.util.ArrayList;
import java.util.Arrays;
import java.util.List;
import java.util.concurrent.ThreadLocalRandom;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * The reference's bounded-memory reservoir aggregate as a typed
 * {@code Aggregator}: the package's one implementation of
 * appx_median_bounded, its percentile generalization and reservoir_sample.
 * Spark runs reduce/merge inside ObjectHashAggregate with a real
 * partial/final split, so each task reduces its rows to one buffer of at
 * most k samples and only buffers cross the exchange — the wire shape of
 * the reference's Impala UDA. In a streaming aggregation the buffer is the
 * state-store row, and merge combines it with each trigger's partial.
 *
 * Input rows are {@code (value DOUBLE, k INT)} or
 * {@code (value DOUBLE, p DOUBLE, k INT)}; the registered input schema
 * decides which. Subclasses differ only in how {@link #output} renders the
 * picked sample (or, for {@link ReservoirSample}, in {@link #finish}) and
 * in {@link #outputEncoder}.
 *
 * Faithful to the reference phase by phase:
 *  - reduce  = ReservoirSampleUpdate: NULL skip, Algorithm R with
 *    P(accept)=k/i, k ratchets up, never down (median.cc:128-163).
 *  - merge   = Serialize + Merge: unkeyed samples get weight keys
 *    key=(source_size-r)/source_size, r uniform in [0, n) at the combine
 *    boundary (median.cc:165-194), then the k samples with the LARGEST
 *    keys survive and source_size sums (median.cc:228-282). Spark's
 *    Encoder replaces the manual serialize-to-StringVal, so keying
 *    happens on entry to merge — the same semantic point: keys exist only
 *    to weight cross-partition combines.
 *  - finish  = AppxMedianFinalize: empty input => SQL NULL, else the
 *    sorted sample at index min(floor(n*p), n-1); at p=0.5 that is n/2,
 *    the upper median with no interpolation (median.cc:284-304).
 *
 * Randomness uses ThreadLocalRandom like the reference's rand() — results
 * are EXACT whenever a group's row count stays within k (every sample
 * retained; no random path taken), which is what the oracle-checked query
 * keys and the pytest suite pin.
 */
public abstract class ReservoirAggregator<OUT> extends Aggregator<Row, ReservoirBuf, OUT> {

  /** The picked sample in this variant's output type. */
  protected abstract OUT output(double v);

  @Override
  public ReservoirBuf zero() {
    return new ReservoirBuf();
  }

  @Override
  public ReservoirBuf reduce(ReservoirBuf b, Row in) {
    int kAt = in.length() - 1;
    if (kAt == 2 && !in.isNullAt(1)) {
      double p = in.getDouble(1);
      if (!(p >= 0.0 && p <= 1.0)) {
        throw new IllegalArgumentException("percentile p must be in [0, 1], got " + p);
      }
      b.setP(Math.max(b.getP(), p)); // the group's max p, like the k ratchet
    }
    if (!in.isNullAt(kAt)) {
      int k = in.getInt(kAt);
      if (k <= 0) {
        throw new IllegalArgumentException("max_samples must be positive, got " + k);
      }
      if (k > b.getMaxSamples()) {
        b.setMaxSamples(k); // ratchet, median.cc:157-162
      }
    }
    if (in.isNullAt(0)) {
      return b; // NULL skip, median.cc:130
    }
    // NaN values are sampled like any other double, exactly as the
    // reference's ReservoirSampleUpdate does (median.cc:128-163 skips
    // only NULLs). Divergence note: finish() sorts via Double.compare,
    // which totals-orders NaN above +Inf deterministically, whereas the
    // reference's operator< leaves NaN placement unspecified.
    double v = in.getDouble(0);
    if (b.getMaxSamples() == 0) {
      b.setMaxSamples(100); // every k so far was NULL
    }
    int k = b.getMaxSamples();
    List<Double> vals = b.getVals();
    List<Double> keys = b.getKeys();
    if (vals.size() < k) {
      vals.add(v); // fill phase, median.cc:149-150
      keys.add(-1.0);
    } else {
      long i = b.getSourceSize() + 1; // 1-based stream position
      if (ThreadLocalRandom.current().nextLong(i) < k) { // P = k/i
        int slot = ThreadLocalRandom.current().nextInt(k);
        vals.set(slot, v);
        keys.set(slot, -1.0);
      }
    }
    b.setSourceSize(b.getSourceSize() + 1);
    return b;
  }

  /** Serialize-time keying (median.cc:176-192): unkeyed samples get
   * key=(source_size-r)/source_size with r uniform in [0, n) — larger
   * partitions win merges proportionally. */
  private static void assignKeys(ReservoirBuf b) {
    int n = b.getVals().size();
    long ss = b.getSourceSize();
    if (n == 0 || ss == 0) {
      return;
    }
    List<Double> keys = b.getKeys();
    for (int i = 0; i < n; i++) {
      if (keys.get(i) < 0) {
        long r = ThreadLocalRandom.current().nextLong(n);
        keys.set(i, (double) (ss - r) / (double) ss);
      }
    }
  }

  @Override
  public ReservoirBuf merge(ReservoirBuf a, ReservoirBuf b) {
    assignKeys(a);
    assignKeys(b);
    int k = Math.max(a.getMaxSamples(), b.getMaxSamples()); // median.cc:242-254
    List<Double> vals = new ArrayList<>(a.getVals());
    List<Double> keys = new ArrayList<>(a.getKeys());
    vals.addAll(b.getVals());
    keys.addAll(b.getKeys());
    if (k > 0 && vals.size() > k) {
      // keep the k largest keys (the reference's min-heap eviction,
      // median.cc:263-280): argsort indices by key descending
      final List<Double> allKeys = keys;
      final List<Double> allVals = vals;
      Integer[] idx = new Integer[allVals.size()];
      for (int i = 0; i < idx.length; i++) {
        idx[i] = i;
      }
      Arrays.sort(
          idx, (x, y) -> Double.compare(allKeys.get(y), allKeys.get(x)));
      List<Double> nv = new ArrayList<>(k);
      List<Double> nk = new ArrayList<>(k);
      for (int i = 0; i < k; i++) {
        nv.add(allVals.get(idx[i]));
        nk.add(allKeys.get(idx[i]));
      }
      vals = nv;
      keys = nk;
    }
    ReservoirBuf out = new ReservoirBuf();
    out.setMaxSamples(k);
    out.setP(Math.max(a.getP(), b.getP()));
    out.setVals(vals);
    out.setKeys(keys);
    out.setSourceSize(a.getSourceSize() + b.getSourceSize()); // median.cc:281
    return out;
  }

  @Override
  public OUT finish(ReservoirBuf b) {
    double[] sorted = sortedSample(b);
    if (sorted == null) {
      return null; // empty => NULL, median.cc:295-298
    }
    int n = sorted.length;
    double p = b.getP() < 0 ? 0.5 : b.getP();
    // p=0.5 gives n/2, the upper median (median.cc:299-301)
    int at = (int) Math.min((long) Math.floor(n * p), n - 1);
    return output(sorted[at]);
  }

  /** The sample sorted by {@code Double.compare} (NaN above +Inf), or
   * null when no non-null value was seen. */
  protected static double[] sortedSample(ReservoirBuf b) {
    List<Double> vals = b.getVals();
    if (vals.isEmpty()) {
      return null;
    }
    double[] sorted = new double[vals.size()];
    for (int i = 0; i < sorted.length; i++) {
      sorted[i] = vals.get(i);
    }
    Arrays.sort(sorted);
    return sorted;
  }

  @Override
  public Encoder<ReservoirBuf> bufferEncoder() {
    return Encoders.bean(ReservoirBuf.class);
  }
}

package rocana.spark.udaf;

import org.apache.spark.sql.SparkSessionExtensions;
import scala.runtime.AbstractFunction1;
import scala.runtime.BoxedUnit;

/**
 * The engine's session extensions, named in {@code spark.sql.extensions}
 * (with this jar in {@code spark.jars}) when the session is launched: they
 * add {@link SmallSortInOnePartition} to AQE's runtime optimizer.
 */
public final class RocanaSessionExtensions
    extends AbstractFunction1<SparkSessionExtensions, BoxedUnit> {

  @Override
  public BoxedUnit apply(SparkSessionExtensions extensions) {
    extensions.injectRuntimeOptimizerRule(
        new AbstractFunction1<org.apache.spark.sql.SparkSession,
            org.apache.spark.sql.catalyst.rules.Rule<
                org.apache.spark.sql.catalyst.plans.logical.LogicalPlan>>() {
          @Override
          public SmallSortInOnePartition apply(org.apache.spark.sql.SparkSession session) {
            return new SmallSortInOnePartition();
          }
        });
    return BoxedUnit.UNIT;
  }
}

package rocana.spark.udaf;

import org.apache.spark.sql.catalyst.plans.logical.Aggregate;
import org.apache.spark.sql.catalyst.plans.logical.Filter;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Project;
import org.apache.spark.sql.catalyst.plans.logical.Repartition;
import org.apache.spark.sql.catalyst.plans.logical.Sort;
import org.apache.spark.sql.catalyst.plans.logical.Window;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage;
import org.apache.spark.sql.internal.SQLConf;
import scala.collection.Iterator;
import scala.runtime.AbstractPartialFunction;

/**
 * AQE runtime optimizer rule: sort a small, already-computed result in one
 * partition instead of range-partitioning it.
 *
 * <p>Spark plans a global {@code ORDER BY} as {@code Exchange
 * rangepartitioning}. Under AQE that costs a sampling job (which recomputes
 * the child to pick range bounds), a range map stage and one more re-plan.
 * When the child is small, {@code CoalesceShufflePartitions} then folds the
 * range shuffle into a single reduce partition anyway, so the sort already
 * runs in one task. This rule rewrites {@code Sort(order, global, child)} to
 * {@code Sort(order, global, Repartition(1, shuffle = false, child))} — a
 * {@code CoalesceExec(1)}, whose single partition satisfies the sort's
 * ordered distribution — which drops the sampling job, the map stage and the
 * re-plan and leaves the one sorting task.
 *
 * <p>It fires only when all of these hold, so that nothing but the sort and
 * cheap per-row work over finished stage output lands in the one task:
 * <ol>
 *   <li>every leaf of {@code child} is a materialized
 *       {@link LogicalQueryStage} (no scan is folded in);
 *   <li>every node between those leaves and the sort is a {@code Project},
 *       {@code Filter}, {@code Aggregate} or {@code Window} (no join,
 *       generator, expand or union; in particular no broadcast probe);
 *   <li>the runtime size of {@code child} is at most what {@code
 *       CoalesceShufflePartitions} would put into one partition: {@code
 *       coalescePartitions.minPartitionSize} when {@code
 *       coalescePartitions.parallelismFirst} is on, else {@code
 *       advisoryPartitionSizeInBytes}. With {@code coalescePartitions.enabled}
 *       off the range shuffle keeps its partitions, so the rule does nothing.
 * </ol>
 *
 * <p>Rows with equal sort keys may come out in a different relative order
 * than the range shuffle gives; the key order is the same. The rule is
 * switched off by naming it in {@code
 * spark.sql.adaptive.optimizer.excludedRules}.
 */
public final class SmallSortInOnePartition extends Rule<LogicalPlan> {

  @Override
  public LogicalPlan apply(LogicalPlan plan) {
    SQLConf conf = conf();
    if (!(Boolean) conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED())) {
      return plan;
    }
    long onePartition = (Boolean) conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST())
        ? (Long) conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE())
        : (Long) conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES());
    return plan.transformUp(new AbstractPartialFunction<LogicalPlan, LogicalPlan>() {
      @Override
      public boolean isDefinedAt(LogicalPlan p) {
        if (!(p instanceof Sort)) {
          return false;
        }
        Sort sort = (Sort) p;
        return sort.global()
            && overFinishedStages(sort.child())
            && sort.child().stats().sizeInBytes().$less$eq(scala.math.BigInt.apply(onePartition));
      }

      @Override
      public <A1 extends LogicalPlan, B1> B1 applyOrElse(
          A1 p, scala.Function1<A1, B1> fallback) {
        if (!isDefinedAt(p)) {
          return fallback.apply(p);
        }
        Sort sort = (Sort) p;
        @SuppressWarnings("unchecked")
        B1 rewritten = (B1) sort.withNewChildInternal(new Repartition(1, false, sort.child()));
        return rewritten;
      }
    });
  }

  /** Whether {@code p} is per-row or grouping work over materialized stages only. */
  private static boolean overFinishedStages(LogicalPlan p) {
    if (p instanceof LogicalQueryStage) {
      return ((LogicalQueryStage) p).isMaterialized();
    }
    if (!(p instanceof Project || p instanceof Filter
        || p instanceof Aggregate || p instanceof Window)) {
      return false;
    }
    for (Iterator<LogicalPlan> it = p.children().iterator(); it.hasNext(); ) {
      if (!overFinishedStages(it.next())) {
        return false;
      }
    }
    return true;
  }
}

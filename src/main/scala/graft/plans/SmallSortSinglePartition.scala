package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule: a global sort over at most one
  * partition's worth of data sorts in one partition, not a range shuffle.
  *
  * Why this exists: `EnsureRequirements` satisfies a global ORDER BY with
  * `RangePartitioning(n)`, and building its `RangePartitioner` runs a
  * SAMPLING JOB that re-executes the exchange's child pipeline before the
  * shuffle itself runs. Almost every query here ends in an ORDER BY over
  * a few aggregated rows; in a cold pass that job (scheduling, codegen,
  * cold code) is paid in full for nothing. `SinglePartition` satisfies the
  * same `OrderedDistribution`, so swapping it in drops the sampling job
  * and leaves the sort, and the result order, unchanged.
  *
  * "One partition's worth" is Spark's own
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the size AQE
  * coalesces shuffle partitions toward — compared with Spark's size
  * estimate of the exchange's child. The rule runs at every AQE
  * re-optimization, so once upstream stages have materialized the
  * estimate is their measured output. At 100 TB the estimate exceeds the
  * threshold and the range shuffle stays.
  *
  * The swap is meant for inputs whose estimate bounds their size. Spark's
  * size-only estimate never grows rows through a filter, join (product of
  * sides), aggregate, union or expand, but it scales a generator
  * (explode, stack) by row width only, so under a generator the range
  * shuffle stays.
  *
  * Only `ENSURE_REQUIREMENTS` exchanges are touched: a user's
  * `repartitionByRange` keeps its partitioning. Wired in through
  * `graft.GraftExtensions` (`injectQueryStagePrepRule`).
  */
object SmallSortSinglePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case e @ ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _)
        if n > 1 && fitsOnePartition(child) =>
      e.copy(outputPartitioning = SinglePartition)
  }

  private def fitsOnePartition(child: SparkPlan): Boolean =
    child.logicalLink.exists { lp =>
      !lp.exists(_.isInstanceOf[Generate]) &&
        lp.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    }
}

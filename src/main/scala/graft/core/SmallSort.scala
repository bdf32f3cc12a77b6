package graft.core

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage preparation rule: a global sort over a small input
  * runs as ONE range partition, so it takes no sampling pass.
  *
  * A range exchange of n > 1 partitions builds a `RangePartitioner`,
  * whose bounds come from a sampling job over the exchange's child; the
  * map stage then computes that child a second time. For a sort over a
  * final aggregate (q44's pair aggregate, and every Verify query that
  * sorts a small aggregate) that doubles the last stage. With one
  * partition the partitioner needs no bounds and samples nothing.
  *
  * The rewrite fires only when the sort's input is known to be small:
  * every leaf below the exchange is a materialized query stage, their
  * runtime sizes sum to at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * (the partition size AQE coalesces toward anyway), and everything in
  * between only projects, filters, aggregates or reads shuffles — no
  * join, `Generate` or `Expand`, so the sort gets no more rows than its
  * stages hold. A sort over a scan, or over more than the advisory size,
  * keeps the parallel range sort. A rewritten plan that no longer meets
  * every operator's required distribution is discarded. */
object SmallSort extends Rule[SparkPlan] {

  def apply(plan: SparkPlan): SparkPlan = {
    val limit = BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    val rewritten = plan.transformUp {
      case e @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && stageInputBytes(child).exists(_ <= limit) =>
        e.copy(outputPartitioning = RangePartitioning(order, 1))
    }
    if ((rewritten ne plan) && ValidateRequirements.validate(rewritten)) rewritten else plan
  }

  /** Summed runtime size of the query stages `p` reads, when every leaf
    * is a materialized stage and no operator in between can emit more
    * rows than it reads; else None. */
  private def stageInputBytes(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec => s.computeStats().map(_.sizeInBytes)
    case _: ProjectExec | _: FilterExec | _: BaseAggregateExec | _: AQEShuffleReadExec =>
      sum(p.children)
    case s: SortExec if !s.global => sum(p.children)
    case _ => None
  }

  private def sum(children: Seq[SparkPlan]): Option[BigInt] =
    children.foldLeft(Option(BigInt(0)))((acc, c) =>
      acc.flatMap(a => stageInputBytes(c).map(a + _)))
}

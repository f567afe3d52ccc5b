package graft.plans

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Small inputs run as one stage, as Hive's planner runs small jobs
  * locally and turns their joins into map joins (*Hive*, ICDE 2010).
  *
  * On a local host a query over a few MB is bound by fixed cost per
  * job, not by bytes: a global sort pays a range-sample job, every
  * shuffle stage a job, every broadcast a job. A one-partition child
  * satisfies every distribution an operator asks for, so when the
  * whole plan reads one partition `EnsureRequirements` adds no exchange
  * and the query is one job.
  *
  * The rule fires only when every leaf is a batch file scan or local
  * relation and their summed `sizeInBytes` is at most [[MaxInputBytes]].
  * Below that it
  *  - puts a one-partition coalesce (`Repartition(1, shuffle = false)`)
  *    above each scan's Project/Filter chain, so column pruning and
  *    filter pushdown still reach the scan;
  *  - does the same above `Expand`, `Union` and full outer joins, whose
  *    physical operators report unknown partitioning even over one
  *    partition;
  *  - marks every equi-join that has no hint `SHUFFLE_HASH`, so no side
  *    is broadcast (a broadcast is a job of its own).
  * The direct child of an explicit repartition is left as it is: the
  * caller asked for that layout. Above the gate the plan is unchanged.
  * Applying the rule twice gives the plan of applying it once.
  */
object SmallInputs extends Rule[LogicalPlan] {

  /** Summed input bytes at or below which a query runs as one stage.
    * whbench's HiveQL inputs (at most 3 MB per query: sf0.1 `orders`
    * with `customer`) are below it; sf0.1 `lineitem` (11 MB) is above.
    */
  private val MaxInputBytes: BigInt = 8L << 20

  private val shuffleHash = Some(HintInfo(strategy = Some(SHUFFLE_HASH)))

  def apply(plan: LogicalPlan): LogicalPlan =
    if (small(plan)) oneStage(plan, wrap = true) else plan

  private def small(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    leaves.forall(scan) && leaves.map(_.stats.sizeInBytes).sum <= MaxInputBytes
  }

  private def scan(p: LogicalPlan): Boolean = p match {
    case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation] && !l.isStreaming
    case l: LocalRelation => !l.isStreaming
    case _ => false
  }

  /** A scan under the Project/Filter chain the planner reads it with.
    * An empty local relation is left bare: it has no partition to
    * coalesce, and `PropagateEmptyRelation` would remove the coalesce.
    */
  private def scanChain(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => scanChain(c)
    case Filter(_, c) => scanChain(c)
    case l: LocalRelation => scan(l) && l.data.nonEmpty
    case leaf => scan(leaf)
  }

  /** Operators that need the coalesce to report one partition. */
  private def coalesced(p: LogicalPlan): Boolean = p match {
    case _: Expand | _: Union => true
    case j: Join => j.joinType == FullOuter
    case _ => scanChain(p)
  }

  private def oneStage(p: LogicalPlan, wrap: Boolean): LogicalPlan = {
    val inner = p match {
      case _ if scanChain(p) => p
      case _: RepartitionOperation | _: RebalancePartitions =>
        p.mapChildren(oneStage(_, wrap = false))
      case j: Join if j.hint == JoinHint.NONE && ExtractEquiJoinKeys.unapply(j).isDefined =>
        j.copy(hint = JoinHint(shuffleHash, shuffleHash)).mapChildren(oneStage(_, wrap = true))
      case _ => p.mapChildren(oneStage(_, wrap = true))
    }
    if (wrap && coalesced(p)) Repartition(1, shuffle = false, inner) else inner
  }
}

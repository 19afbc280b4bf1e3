package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Sort, Window}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort as one task: a global logical `Sort` whose
  * child's estimated `sizeInBytes` is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` becomes
  * `SortExec(global) ← CoalesceExec(1) ← child`. `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies the sort's `OrderedDistribution`, so
  * `EnsureRequirements` adds no range exchange: no `RangePartitioner`
  * sampling job, no shuffle write and no shuffle read. Every report ends
  * in a global `orderBy`; over the persisted silver, the sampling job and
  * the shuffle stage were two of such a report's three jobs.
  *
  * The bound is Spark's own advisory partition size, not a new knob. It
  * applies only where AQE would coalesce the sort's range shuffle into one
  * reducer anyway: AQE on, partition coalescing on and
  * `coalescePartitions.parallelismFirst=false` (as `Sessions.local` sets
  * it). Under Spark's default `parallelismFirst=true`, AQE keeps about
  * `defaultParallelism` reducers for the same bytes, so sessions built with
  * Spark's defaults keep the range exchange. Above the bound the range
  * exchange stays too. Under AQE a re-planned sort above a materialized
  * stage decides on that stage's measured bytes.
  *
  * `CoalesceExec(1)` does not shuffle, so more than the sort moves into the
  * one task: everything between the sort and the child's last exchange or
  * cache scan runs there too (q15's window and q104's `Generate` over a
  * cache scan). The range exchange ran that part in one task per input
  * partition and only the sort in one. The bound caps that part's
  * estimated output, not its work: a `Generate` (explode), a join or a
  * costly projection can do far more than its estimate says, and then that
  * whole stage runs in one slower task. It is never a wrong result: the
  * single task sorts every row. At sf0.1 on 4 cores neither of those two
  * got slower (median warm run: q15 0.39 → 0.25 s, q104 2.45 → 2.38 s).
  *
  * Left as they are: sorts of a window with no partition spec or a global
  * aggregate (Spark plans those over `Exchange SinglePartition`, which
  * needs no coalesce), sorts under a limit (`SpecialLimits` plans the
  * `Limit` node first, as `TakeOrderedAndProject`), local sorts
  * (`sortWithinPartitions`) and streaming plans. Registered next to
  * [[AsOfJoinStrategy]] by `graft.core.Sessions` and
  * `GraftExtensions.injectPlannerStrategy`. */
object OneTaskSort extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !plan.isStreaming && coalescesToOne &&
        !singlePartition(child) && child.stats.sizeInBytes <=
          SQLConf.get.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  private def singlePartition(plan: LogicalPlan): Boolean = plan match {
    case p @ (_: Project | _: Filter) => singlePartition(p.children.head)
    case w: Window => w.partitionSpec.isEmpty
    case a: Aggregate => a.groupingExpressions.isEmpty
    case _ => false
  }

  /** Whether AQE would read a shuffle at or under the advisory size as one
    * partition. */
  private def coalescesToOne: Boolean = {
    val conf = SQLConf.get
    conf.adaptiveExecutionEnabled &&
      conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) &&
      !conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)
  }
}

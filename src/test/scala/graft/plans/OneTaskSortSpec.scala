package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}

import graft.SparkSpecBase
import graft.analytics.Reports
import graft.pipeline.EventsPipeline

/** [[OneTaskSort]]: a global sort under the advisory partition size runs
  * in one task with no range exchange; above it the range exchange stays
  * and the rows come back in the same order. sf0.001 never crosses the
  * 8m bound, so the control lowers the bound to one byte. Where AQE would
  * keep several reducers (`parallelismFirst=true`, Spark's default) the
  * range exchange stays too. */
class OneTaskSortSpec extends SparkSpecBase {

  /** q15 over the persisted silver, built fresh per visit. */
  private def q15(): DataFrame =
    Reports.firstEventPerUser(EventsPipeline.silver(spark, sf))

  /** Every node of the adaptive plan (the final one once `df` has run),
    * stage bodies included; a cache scan is a leaf, so nothing of the
    * cached plan below it is seen. */
  private def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: QueryStageExec => q +: walk(q.plan)
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("q15 under the advisory size: one job, no exchange above the cache scan") {
    q15().collect() // materializes the silver memo outside the count
    val df = q15()
    val (_, jobs) = jobsDuring(df.collect())
    val nodes = planNodes(df)
    val plan = df.queryExecution.executedPlan
    assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), s"no cache scan in:\n$plan")
    assert(nodes.collect { case e: Exchange => e }.isEmpty, s"an exchange in:\n$plan")
    assert(nodes.exists { case s: SortExec => s.global; case _ => false } &&
      nodes.exists { case c: CoalesceExec => c.numPartitions == 1; case _ => false },
      s"no global sort over a one-partition coalesce in:\n$plan")
    assert(jobs === 1)
  }

  /** Runs q15 with `key` set to `value`: the plan keeps exactly one range
    * exchange, plans no coalesce, and returns the rows. */
  private def q15KeepsRangeExchange(key: String, value: String): Seq[Row] = {
    val df = q15()
    val rows = withConf(key, value)(df.collect().toSeq)
    val nodes = planNodes(df)
    assert(nodes.count {
      case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    } === 1,
      s"expected the orderBy range exchange in:\n${df.queryExecution.executedPlan}")
    assert(!nodes.exists(_.isInstanceOf[CoalesceExec]))
    rows
  }

  test("above the advisory size the range exchange stays, with the same rows in order") {
    val small = q15().collect().toSeq
    val large = q15KeepsRangeExchange("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    assert(small.nonEmpty)
    assert(large === small)
  }

  test("q19 and q56 sort their single-partition window with no coalesce and no range exchange") {
    val silver = EventsPipeline.silver(spark, sf)
    Seq(Reports.hourlyActivity(_), Reports.hourlyActivityRounded(_)).foreach { q =>
      val df = q(silver)
      df.collect()
      val nodes = planNodes(df)
      val plan = df.queryExecution.executedPlan
      assert(!nodes.exists(_.isInstanceOf[CoalesceExec]), s"a coalesce in:\n$plan")
      assert(!nodes.exists {
        case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      }, s"a range exchange in:\n$plan")
      assert(nodes.exists { case s: SortExec => s.global; case _ => false },
        s"no global sort in:\n$plan")
    }
  }

  test("with Spark's default parallelismFirst the range exchange stays") {
    q15KeepsRangeExchange("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
  }
}

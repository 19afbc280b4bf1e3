package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (SCD type 2) history build: collapse a keyed
  * event stream into validity intervals `[valid_from, valid_to)` per state
  * run — the standard warehouse operator for "what was this customer's
  * status on date X", built from the raw order log.
  *
  * Algorithm is gaps-and-islands: a window `lag` marks state changes, a
  * running `sum` numbers the runs, one groupBy collapses each run to an
  * interval, and a final `lead` closes each interval with the start of the
  * next. Scale shape: everything partitions by the entity key — two window
  * passes and one aggregation over the SAME hash partitioning, so Spark
  * plans a single exchange on `o_custkey` reused by every step (no
  * re-shuffle between the windows and the groupBy), and no join at all.
  */
object History {

  /** Per-customer order-status validity intervals. `valid_to` is NULL on
    * the open (current) interval; ties on the same date break by order
    * key so runs are deterministic in any engine. */
  def statusHistory(orders: DataFrame): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val runs = orders
      .select(col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_orderkey"))
      .withColumn("chg",
        when(lag(col("o_orderstatus"), 1).over(byCust).isNull
          .or(lag(col("o_orderstatus"), 1).over(byCust) =!= col("o_orderstatus")),
          lit(1)).otherwise(lit(0)))
      .withColumn("grp", sum(col("chg")).over(
        byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val islands = runs
      .groupBy(col("o_custkey"), col("grp"), col("o_orderstatus"))
      .agg(min(col("o_orderdate")).as("valid_from"),
        count(lit(1)).as("n_orders"))
    val byRun = Window.partitionBy(col("o_custkey")).orderBy(col("grp").asc)
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byRun))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("o_custkey").asc, col("valid_from").asc)
      .select(col("o_custkey"), col("o_orderstatus"), col("valid_from"),
        col("valid_to"), col("is_current"), col("n_orders"))
  }
}

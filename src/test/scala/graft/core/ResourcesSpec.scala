package graft.core

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpecBase

/** Pins the native-resource lifecycle contract (round-7 advice: the q226
  * Deflater was never `.end()`ed). */
class ResourcesSpec extends SparkSpecBase {

  test("close runs exactly once on exhaustion") {
    val n = new AtomicInteger(0)
    val it = Resources.closeOnExhaust(Iterator(1, 2, 3))(n.incrementAndGet())
    assert(n.get() == 0)
    assert(it.toList == List(1, 2, 3))
    assert(n.get() == 1)
    assert(!it.hasNext) // repeated hasNext after exhaustion: still once
    assert(n.get() == 1)
  }

  test("close is not invoked early on a partially drained iterator") {
    val n = new AtomicInteger(0)
    val it = Resources.closeOnExhaust(Iterator(1, 2, 3))(n.incrementAndGet())
    it.next(); it.next()
    assert(n.get() == 0)
  }

  test("task completion closes a never-drained iterator inside a Spark task") {
    val sc = spark.sparkContext
    // One accumulator count per release path: the limit(1)-style early exit
    // (iterator never exhausted) must still close via the task listener.
    val closed = sc.longAccumulator("closed")
    sc.parallelize(1 to 100, 2).mapPartitions { rows =>
      Resources.closeOnExhaust(rows.map(_ * 2))(closed.add(1))
    }.take(1) // drains at most one partition partially
    // take(1) runs one task on one partition; listener fires at task end.
    assert(closed.value >= 1)
  }

  test("closeOnExhaust in a full job closes once per partition") {
    val sc = spark.sparkContext
    val closed = sc.longAccumulator("closedFull")
    val sum = sc.parallelize(1 to 100, 4).mapPartitions { rows =>
      Resources.closeOnExhaust(rows)(closed.add(1))
    }.sum()
    assert(sum == 5050.0)
    assert(closed.value == 4)
  }

  test("q226 deflater path still produces per-source rows end-to-end") {
    val out = graft.llm.TextStats.compressionQuality(Tables.documents(spark, sf)).collect()
    assert(out.length > 0)
    assert(out.forall(r => r.getAs[Long]("mean_ratio_ppm") > 0L))
  }
}

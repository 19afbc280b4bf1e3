package graft.core

import graft.SparkSpecBase

/** The heavy-table fan-out quantum's conf key does what [[Tables]] says:
  * `spark.graft.scan.heavyRows.<table>` overrides one table's quantum,
  * and a value ≤ 0 fails with a message naming the key instead of
  * dividing by zero. */
class HeavyRowsConfSpec extends SparkSpecBase {

  private val Docs = "spark.graft.scan.heavyRows.documents"

  test("the per-table key overrides only its table's built-in quantum") {
    assert(Tables.heavyQuantum(spark, "documents", 300L) === 300L)
    withConf(Docs, "70") {
      assert(Tables.heavyQuantum(spark, "documents", 300L) === 70L)
      assert(Tables.heavyQuantum(spark, "embeddings", 125L) === 125L)
    }
  }

  test("a quantum <= 0 is rejected with the key's name") {
    for (value <- Seq("0", "-5", "many")) {
      val e = withConf(Docs, value) {
        intercept[IllegalArgumentException](Tables.documents(spark, sf))
      }
      assert(e.getMessage.contains(Docs), e.getMessage)
    }
  }
}

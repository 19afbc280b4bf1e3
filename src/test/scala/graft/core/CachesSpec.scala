package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables
import graft.llm.TextDedup

/** Operator-local scratch caches must be registered for release (round-3
  * review: shingle/TF/signature persists leaked for the JVM lifetime). */
class CachesSpec extends SparkSpecBase {

  test("scratch frames register and release") {
    Caches.releaseScratch(spark) // clean slate from other suites
    val df = Caches.scratch(Tables.documents(spark, sf).select(col("doc_id")))
    df.count()
    assert(Caches.pendingScratch(spark) >= 1)
    assert(df.storageLevel.useMemory || df.storageLevel.useDisk)
    Caches.releaseScratch(spark)
    assert(Caches.pendingScratch(spark) === 0)
  }

  test("dedup operators register their intermediates as scratch") {
    Caches.releaseScratch(spark)
    TextDedup.minhashNearDups(spark, sf).write
      .format("noop").mode("overwrite").save()
    assert(Caches.pendingScratch(spark) >= 1,
      "minhashNearDups should register its shingle persist for release")
    Caches.releaseScratch(spark)
    assert(Caches.pendingScratch(spark) === 0)
  }

  test("scratch dirs: the same key builds once, distinct keys get distinct dirs") {
    var builds = 0
    def dir(key: String): String = Caches.scratchDir(spark, key) { d =>
      builds += 1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "marker"), key)
    }
    val a = dir("caches-spec:a")
    assert(dir("caches-spec:a") === a)
    assert(builds === 1)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(a, "marker")) ===
      "caches-spec:a")
    val b = dir("caches-spec:b")
    assert(b !== a)
    assert(builds === 2)
  }
}

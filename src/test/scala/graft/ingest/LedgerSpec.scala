package graft.ingest

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase

class LedgerSpec extends SparkSpecBase {

  test("content-hash ledger: second tick is a no-op, renamed copies skipped") {
    val in = tmpDir("ledger-in-")
    val ledger = tmpDir("ledger-") + "/ledger"
    Files.write(Paths.get(in, "a.json"), "{\"x\":1}".getBytes)
    Files.write(Paths.get(in, "b.json"), "{\"x\":2}".getBytes)

    var processed = Seq.empty[String]
    def run(): Long = Ledger.ingestTick(spark, in, ledger)(paths => processed = paths)

    assert(run() === 2)          // first tick: both files
    assert(run() === 0)          // idempotent: nothing new
    // renamed copy of identical content → still skipped (content hash, not filename)
    Files.write(Paths.get(in, "a-renamed.json"), "{\"x\":1}".getBytes)
    assert(run() === 0)
    // genuinely new content → exactly one
    Files.write(Paths.get(in, "c.json"), "{\"x\":3}".getBytes)
    assert(run() === 1)
    assert(processed.exists(_.endsWith("c.json")))
    // extension predicate: .csv never considered
    Files.write(Paths.get(in, "d.csv"), "{\"x\":4}".getBytes)
    assert(run() === 0)
  }

  test("byte-identical files in one tick: one processed, both ledgered") {
    val in = tmpDir("ledger-twin-in-")
    val work = tmpDir("ledger-twin-")
    val (ledger, bronze) = (s"$work/ledger", s"$work/bronze")
    val listens = Seq("u1" -> 1700000000L, "u2" -> 1700000060L).map { case (u, t) =>
      s"""{"listened_at":$t,"recording_msid":"m$t","user_name":"$u","track_metadata":{"artist_name":"a","track_name":"t"}}"""
    }.mkString("\n").getBytes
    Files.write(Paths.get(in, "b.json"), listens)
    Files.write(Paths.get(in, "a.json"), listens)

    var processed = Seq.empty[String]
    val n = Ledger.ingestTick(spark, in, ledger) { paths =>
      processed = paths.map(p => p.substring(p.lastIndexOf('/') + 1))
      ListenIngest.writeBronze(ListenIngest.bronze(
        ListenIngest.readRaw(spark, s"$in/{${processed.mkString(",")}}")), bronze)
    }
    assert(n === 1)
    assert(processed === Seq("a.json"))
    assert(spark.read.parquet(ledger).count() === 2)
    assert(spark.read.parquet(bronze).count() === 2)
    // both copies are ledgered, so the next tick skips them by metadata
    assert(Ledger.ingestTick(spark, in, ledger)(_ => fail("re-processed")) === 0)
  }

  test("maxFilesPerTick bounds the driver snapshot; backlog drains across ticks") {
    // Round-7 review: a first scan of a huge bucket must not collect every
    // path at once. With the cap at 2, a 5-file backlog takes 3 ticks —
    // every file exactly once, no tick materializing more than 2 paths.
    val in = tmpDir("ledger-cap-in-")
    val ledger = tmpDir("ledger-cap-") + "/ledger"
    (1 to 5).foreach(i =>
      Files.write(Paths.get(in, s"f$i.json"), s"""{"x":$i}""".getBytes))
    var seen = Set.empty[String]
    def run(): Long =
      Ledger.ingestTick(spark, in, ledger, maxFilesPerTick = 2)(p => seen ++= p)
    assert(run() === 2)
    assert(run() === 2)
    assert(run() === 1)
    assert(run() === 0)
    assert(seen.size === 5)
  }

  test("reading an existing ledger submits no job: its schema is declared") {
    val in = tmpDir("ledger-read-in-")
    val ledger = tmpDir("ledger-read-") + "/ledger"
    Files.write(Paths.get(in, "a.json"), "{\"x\":1}".getBytes)
    assert(Ledger.ingestTick(spark, in, ledger)(_ => ()) === 1)
    // parquet schema inference would run one job over the footers
    val (df, jobs) = jobsDuring(Ledger.readLedger(spark, ledger))
    assert(jobs === 0)
    assert(df.schema === org.apache.spark.sql.types.StructType.fromDDL(Ledger.LedgerSchema))
    assert(df.count() === 1)
  }
}

package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.{Shard, Tables}

class TextDedupSpec extends SparkSpecBase {

  private lazy val docs = Tables.documents(spark, sf)

  /** Corpus + planted copies: an exact dup of doc 0 (id 90001) and a
    * near-dup of doc 1 with the last two words changed (id 90002). */
  private lazy val planted = {
    val base = docs.select("doc_id", "text", "lang", "source", "n_chars")
    val exact = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(90001L))
    val near = docs.filter(col("doc_id") === 1)
      .withColumn("doc_id", lit(90002L))
      .withColumn("text",
        concat(expr("substring(text, 1, length(text) - 12)"), lit(" zzz yyy")))
    base.unionByName(exact).unionByName(near)
  }

  test("exact dedup flags planted copy to canonical min doc_id") {
    val out = TextDedup.exactDedup(planted)
    val dup = out.filter(col("doc_id") === 90001L).head()
    assert(dup.getAs[Long]("canonical_id") === 0L)
    assert(dup.getAs[Boolean]("is_duplicate"))
    // originals are their own canonicals
    assert(out.filter(col("is_duplicate")).count() === 1)
  }

  test("minhash LSH finds planted exact and near dups") {
    val pairs = TextDedup.minhashNearDups(planted, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 90001L)))
    assert(pairs.contains((1L, 90002L)))
  }

  test("minhash LSH recall: finds every true pair with jaccard >= 0.95") {
    val sh = TextDedup.shingles(docs, TextDedup.MinhashK)
    // brute-force truth: unrestricted shingle self-join
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = sh.toDF("doc_a", "shingle")
      .join(sh.toDF("doc_b", "shingle"), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .filter(col("i").cast("double") / (col("na") + col("nb") - col("i")) >= 0.95)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minhashNearDups(docs, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "corpus should contain planted near-dups")
    assert(truth.subsetOf(lsh),
      s"missed pairs: ${truth.diff(lsh)}")
  }

  test("simhash near-dups include high-jaccard pairs and respect hamming bound") {
    val out = TextDedup.simhashNearDups(planted)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 90001L))) // identical text → hamming 0
    assert(out.filter(col("hamming") > TextDedup.MaxHamming).count() === 0)
  }

  test("ngram jaccard blocks by lang") {
    val out = TextDedup.ngramJaccardDups(docs, minJaccard = 0.5)
    val langs = docs.select("doc_id", "lang")
    val joined = out
      .join(langs.toDF("doc_a", "lang_a"), "doc_a")
      .join(langs.toDF("doc_b", "lang_b"), "doc_b")
    assert(joined.filter(col("lang_a") =!= col("lang_b")).count() === 0)
  }

  test("ngram jaccard finds the planted exact dup within its block") {
    // 90001 copies doc 0's text AND metadata (lang/source/n_chars), so the
    // pair shares its (lang, source, band, subshard) block and must surface
    // with jaccard 1.0.
    val out = TextDedup.ngramJaccardDups(planted, minJaccard = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.exists { case (a, b, j) => a == 0L && b == 90001L && j == 1.0 })
  }

  test("ngram block cardinality is capped: oversized blocks split into subshards") {
    import spark.implicits._
    // 200 docs sharing (lang, source, length-band) — 3× the cap — must
    // split into ceil(200/64)=4 hash subshards, each well under the cap.
    val big = (0L until 200L).map { i =>
      (i, s"alpha bravo charlie delta echo $i", "en", "srcBig", 300L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val blocks = TextDedup.ngramBlocks(big)
      .groupBy("lang", "source", "band", "subshard")
      .agg(count(lit(1)).as("docs"))
      .collect()
    assert(blocks.length === 4, s"expected 4 subshards, got ${blocks.length}")
    val maxBlock = blocks.map(_.getAs[Long]("docs")).max
    assert(maxBlock <= Shard.Cap,
      s"block of $maxBlock docs exceeds cap ${Shard.Cap}")
  }

  test("winnow finds copies of discriminative text; boilerplate-only overlap is suppressed") {
    import spark.implicits._
    // Docs with distinctive character content: an exact copy and an
    // edited copy must surface as candidate pairs.
    val distinct = Seq(
      1L -> "The quarterly ingestion audit flagged seventeen malformed avro blocks under prefix s3://lake/raw/2024-03, each missing its sync marker after byte 40960.",
      2L -> "Vector quantization with product codebooks of 256 centroids per 8-dim subspace compresses embeddings 32x while keeping recall@10 above 0.92 on the heldout split.",
      3L -> "Watermark lag spiked to 45 minutes when the kafka partition leader migrated; the session window operator buffered 1.8 million keys before state eviction resumed.")
    val fixture = (distinct.map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) } ++ Seq(
      (90001L, distinct.head._2, "en", "srcB", distinct.head._2.length.toLong),
      (90002L, distinct(1)._2.replace("recall@10", "recall@100"), "en", "srcB", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = TextDedup.winnowDups(fixture, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 90001L)), "exact copy must share all fingerprints")
    assert(pairs.contains((2L, 90002L)), "one-token edit must still surface")
    assert(!pairs.exists { case (a, b) => a != b && Set(a, b).subsetOf(Set(1L, 2L, 3L)) },
      "unrelated docs must not pair")

    // On the template corpus (30-word vocabulary) every 10-char window
    // occurs in far more than MaxFpDf docs, so an exact copy of an
    // all-boilerplate doc is deliberately NOT flagged: stop-fingerprint
    // removal treats boilerplate-only overlap as non-evidence (the word-
    // shingle families q26/q27 are the detectors for that corpus).
    val corpusPairs = TextDedup.winnowDups(planted)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!corpusPairs.contains((0L, 90001L)),
      "boilerplate-only copy should be suppressed by the df cap")
  }

  test("winnowing guarantee: a doc shares every fingerprint with itself shifted") {
    import spark.implicits._
    // same content at different offsets — fixed-stride sampling would miss,
    // winnowing must fingerprint identically inside the shared region
    val core = "winnowing guarantees coverage of shared substrings beyond k plus w"
    val docs = Seq(
      (1L, core, "en", "srcW", core.length.toLong),
      (2L, s"unrelated preamble text! $core", "en", "srcW", core.length + 24L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val shared = TextDedup.winnowDups(docs, minShared = 1).collect()
    assert(shared.length === 1 && shared.head.getLong(2) >= 8,
      s"offset-shifted copy not caught: ${shared.mkString}")
  }

  test("CDC chunking is shift-resistant: an insertion changes one chunk, not all") {
    import spark.implicits._
    val base = ("annotated corpus snapshots rotate nightly through the archival tier; " +
      "compaction merges small files into 512mb targets before the catalog swap. " +
      "retention holds ninety days of history with point in time reads enabled.") * 2
    val docs = Seq(
      (1L, base, "en", "srcC", base.length.toLong),
      (2L, s"EDIT! $base", "en", "srcC", base.length + 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val chunks = TextDedup.cdcChunks(docs)
      .groupBy("chunk").agg(countDistinct("doc_id").as("nd"))
    val shared = chunks.filter(col("nd") === 2).count()
    val total = chunks.count()
    assert(shared > 0, "no chunk survived the shifted insertion")
    // only the chunks touching the edit may differ
    assert(total - shared <= 4,
      s"too many chunks diverged ($shared shared of $total): boundaries not content-defined")
    // census surfaces the sharing
    val census = TextDedup.chunkDedup(docs)
    assert(census.filter(col("n_docs") === 2).count() === shared)
  }

  test("dup coverage: shared paragraph shows in both holders, unique doc absent") {
    import spark.implicits._
    val para = ("annotated corpus snapshots rotate nightly through the archival tier; " +
      "compaction merges small files into 512mb targets before the catalog swap. ") * 2
    val docs = Seq(
      (1L, s"$para unique tail for document one here.", "en", "srcC", 0L),
      (2L, s"different head text! $para", "en", "srcC", 0L),
      (3L, "entirely unrelated content with no shared spans at all in it.", "en", "srcC", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cov = TextDedup.dupCoverage(docs).collect()
    val byId = cov.map(r => r.getLong(0) -> r).toMap
    assert(byId.keySet === Set(1L, 2L), s"expected docs 1,2 only: ${cov.mkString}")
    cov.foreach { r =>
      val (nc, dc, nch, dch, ppm) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(dc >= 1 && dc <= nc, s"chunk counts inconsistent: $r")
      assert(dch >= dc && dch <= nch, s"char counts inconsistent: $r")
      assert(ppm === dch * 1000000L / nch, s"ppm not exact integer div: $r")
    }
    // a large share of each holder's chars sits in the shared paragraph
    // (the chunks touching the unique head/tail are mixed-content and
    // don't count — content-defined boundaries confine, not erase, them)
    assert(byId(1L).getLong(5) > 400000L && byId(2L).getLong(5) > 400000L,
      s"shared-paragraph coverage too low: ${cov.mkString}")
  }

  test("paragraph dedup: cross-doc paragraph counted, within-doc repeat not") {
    import spark.implicits._
    val shared = "this exact boilerplate footer appears in several documents."
    val docs = Seq(
      (1L, s"unique opening line one.\n$shared", "en", "srcA", 0L),
      (2L, s"unique opening line two.\n$shared\n", "en", "srcA", 0L),
      // doc 3 repeats ITS OWN paragraph twice — not cross-doc, not dup
      (3L, "solo paragraph.\nsolo paragraph.", "en", "srcB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.paragraphDedup(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    val a = out("srcA")
    // srcA: 4 paragraphs, 3 distinct, 2 occurrences of the shared one
    assert(a.getLong(1) === 4L && a.getLong(2) === 3L && a.getLong(3) === 2L,
      s"srcA census wrong: $a")
    assert(a.getLong(4) ===
      2L * shared.length * 1000000L /
        (2L * shared.length + "unique opening line one.".length
          + "unique opening line two.".length),
      s"srcA ppm wrong: $a")
    val b = out("srcB")
    assert(b.getLong(1) === 2L && b.getLong(2) === 1L && b.getLong(3) === 0L
      && b.getLong(4) === 0L, s"within-doc repeat leaked into dup count: $b")
  }

  test("paragraph dedup: corpus census is per-source, ppm bounded") {
    val out = TextDedup.paragraphDedup(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), s"dup > total: $r")
      assert(r.getLong(2) <= r.getLong(1), s"distinct > total: $r")
      assert(r.getLong(4) >= 0L && r.getLong(4) <= 1000000L, s"ppm range: $r")
    }
  }

  test("lsh calibration: transfer curve is monotone and contains the planted dups") {
    val out = TextDedup.lshCalibration(planted).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) >= 1 && r.getLong(0) <= TextDedup.NumBands.toLong)
      assert(r.getLong(2) >= r.getLong(3) && r.getLong(2) <= r.getLong(4),
        s"mean outside [min, max]: $r")
    }
    // the exact copy shares all bands at jaccard 1e6 — the top band tier
    // must exist and its max must be exactly 1e6
    val full = out.filter(_.getLong(0) === TextDedup.NumBands.toLong)
    assert(full.nonEmpty && full.head.getLong(4) === 1000000L,
      s"planted exact dup missing from the all-bands tier: ${out.mkString}")
    // S-curve sanity: strict per-tier monotonicity is a population
    // property, not a small-sample one — assert the ends of the curve
    // instead (low agreement ⇒ low similarity, full agreement ⇒ high)
    val means = out.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(means.head < means.last,
      s"calibration curve flat or inverted: ${means.toSeq}")
    assert(full.head.getLong(2) > 800000L,
      s"all-bands tier mean suspiciously low: ${full.head}")
  }

  test("blocks below the cap stay whole (single subshard, no recall loss)") {
    val blocks = TextDedup.ngramBlocks(docs)
      .groupBy("lang", "source", "band")
      .agg(countDistinct(col("subshard")).as("nsub"), count(lit(1)).as("docs"))
      .collect()
    blocks.foreach { r =>
      if (r.getAs[Long]("docs") <= Shard.Cap)
        assert(r.getAs[Long]("nsub") === 1L,
          s"small block split unnecessarily: $r")
    }
  }

  test("incremental dedup: incoming copy of an existing doc is flagged, not vice versa") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fixture = Seq(
      (1L, base, "en", "s", 0L),                    // existing
      (2L, "completely different words here today okay then", "en", "s", 0L),
      (5L, base, "en", "s", 0L),                    // incoming dup of 1
      (10L, "novel fresh unseen content nothing matches this text", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.incrementalDedup(fixture)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // only incoming docs (doc_id % 5 == 0) appear
    assert(out.keySet === Set(5L, 10L))
    assert(out(5L) === ((1L, false)), "incoming copy must match existing doc")
    assert(out(10L) === ((0L, true)), "novel doc must be new")
  }

  test("incremental matches equal the full pair set restricted to the carve") {
    // law: incrementalDedup's n_matches for doc d == count of full
    // minhashNearDups pairs with d on the incoming side and an existing
    // doc on the other — the incremental path must be a strict
    // restriction of the full dedup, never more, never less
    val full = TextDedup.minhashNearDups(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = full
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (in, ex) => in % 5 == 0 && ex % 5 != 0 }
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val inc = TextDedup.incrementalDedup(Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    inc.foreach { case (d, n) =>
      assert(n === expected.getOrElse(d, 0L),
        s"doc $d: incremental=$n full-restricted=${expected.getOrElse(d, 0L)}")
    }
  }

  test("keep list keeps exactly the canonical member per cluster") {
    val keep = graft.llm.DupClusters
      .dedupKeepList(Tables.documents(spark, sf)).cache()
    assert(keep.count() === Tables.documents(spark, sf).count())
    // within every cluster exactly one kept row, and it IS the cluster id
    val perCluster = keep.filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id"))
      .agg(org.apache.spark.sql.functions.sum(col("kept").cast("long")).as("k"),
        org.apache.spark.sql.functions.min(col("doc_id")).as("m"))
      .collect()
    assert(perCluster.nonEmpty, "fixture has planted dup clusters")
    perCluster.foreach { r =>
      assert(r.getAs[Long]("k") === 1L, s"cluster ${r.get(0)} kept ${r.get(1)}")
      assert(r.getAs[Long]("m") === r.getAs[Long]("cluster_id"))
    }
    // singletons all keep
    assert(keep.filter(col("cluster_id").isNull && !col("kept")).count() === 0)
  }

  test("incremental dedup never pairs existing docs with each other") {
    // two existing near-dups and no incoming dups: the report must stay
    // all-new (the corpus-internal pair is the FULL dedup's job, not the
    // incremental path's)
    import spark.implicits._
    val base = "one two three four five six seven eight nine ten"
    val fixture = Seq(
      (1L, base, "en", "s", 0L), (2L, base, "en", "s", 0L), // existing pair
      (5L, "unrelated incoming text goes right here now yes", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.incrementalDedup(fixture).collect()
    assert(out.length === 1 && out.head.getBoolean(2))
  }

  test("containment: a quoted paragraph is caught even at tiny jaccard") {
    import spark.implicits._
    val quote = "the quick brown fox jumps over the lazy dog tonight"
    // container: the quote embedded in 10x unrelated distinctive text —
    // jaccard(quote, container) is tiny but containment is 1.0
    val filler = (0 until 100)
      .map(i => s"unique$i filler$i token$i").mkString(" ")
    val fixture = Seq(
      (1L, quote, "en", "a", quote.length.toLong),
      (2L, s"$filler $quote", "en", "b", 1000L),
      (3L, "completely different words entirely here now", "en", "c", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.containmentDups(fixture).collect()
    assert(out.length === 1, s"expected exactly the planted pair, got ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("contained_id") === 1L)
    assert(r.getAs[Long]("container_id") === 2L)
    assert(r.getAs[Long]("containment_ppm") === 1000000L,
      "full inclusion must score exactly 1.0")
    // sanity: the symmetric jaccard of the planted pair IS tiny — the
    // pair exists only because containment is asymmetric
    val nSmall = r.getAs[Long]("n_contained")
    val nLarge = r.getAs[Long]("n_container")
    val shared = r.getAs[Long]("shared")
    assert(shared * 1000000 / (nSmall + nLarge - shared) < 200000,
      "fixture failed to make jaccard small; test is not probing asymmetry")
  }

  test("containment direction is deterministic on equal-size sets") {
    import spark.implicits._
    // 12 words -> 10 shingles, above the >=8 shared-rare support gate
    val text = "one two three four five six seven eight nine ten eleven twelve"
    val fixture = Seq(
      (7L, text, "en", "a", 62L),
      (9L, text, "en", "b", 62L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.containmentDups(fixture).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("contained_id") === 7L, "tie must go to lower id")
    assert(out.head.getAs[Long]("container_id") === 9L)
  }

  test("weighted jaccard: exact doubling halves the multiset similarity") {
    import spark.implicits._
    val s = "alpha beta gamma delta epsilon zeta eta theta"
    val fixture = Seq(
      (1L, s, "en", "a", 47L),            // the sentence once
      (2L, s + " " + s, "en", "a", 95L))  // the sentence twice
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.weightedJaccard(fixture).collect()
    assert(out.length === 1, "doubled doc must band-collide with its half")
    val r = out.head
    // multisets: 8 words ×1 vs ×2 → Σmin = 8, Σmax = 16 → exactly 1/2,
    // where SET jaccard of the pair is 10/12 — the signal q27 cannot see
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((8L, 16L, 8L)))
    assert(r.getLong(5) === 500000L)
  }

  test("weighted jaccard on sf data: bounded by sizes, never above 1e6") {
    val out = TextDedup.weightedJaccard(
      graft.core.Tables.documents(spark, sf)).collect()
    out.foreach { r =>
      assert(r.getLong(4) <= math.min(r.getLong(2), r.getLong(3)),
        s"intersection above a side: $r")
      assert(r.getLong(5) >= 0L && r.getLong(5) <= 1000000L)
    }
  }

  test("window dup mass: planted cross-doc repeat found, short docs visible") {
    import spark.implicits._
    val boiler = "x" * 96 // spans windows at starts 1 and 33 in a 96-char doc
    val uniqA = (1 to 120).map(i => ('a' + i % 26).toChar).mkString
    val fixture = Seq(
      (1L, boiler, "en", "web", 96L),  // identical 96-char doc...
      (2L, boiler, "en", "web", 96L),  // ...so every window duplicated
      (3L, uniqA, "en", "web", 120L),  // unique long doc
      (4L, "tiny", "en", "short", 4L), // sub-window doc: one window
      (5L, "tiny", "en", "short", 4L)) // duplicated whole-text window
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.windowDupMass(fixture).collect()
      .map(r => r.getString(0) -> r).toMap
    val web = out("web")
    // 96-char docs: starts sequence(1, 33, 32) = (1, 33) → 2 windows each;
    // 120-char doc: sequence(1, 57, 32) = (1, 33) → 2 windows
    assert(web.getAs[Long]("n_windows") === 6L)
    assert(web.getAs[Long]("dup_occ") === 4L,
      "all four boiler windows collapse to one x^64 hash with 4 occurrences")
    assert(web.getAs[Long]("dup_ppm") === 4L * 1000000L / 6L)
    val short = out("short")
    assert(short.getAs[Long]("n_windows") === 2L)
    assert(short.getAs[Long]("n_distinct") === 1L)
    assert(short.getAs[Long]("dup_occ") === 2L, "short docs must not be invisible")
    assert(short.getAs[Long]("dup_ppm") === 1000000L)
  }

  test("window provenance: planted cross-source copy surfaces as a source pair") {
    import spark.implicits._
    val boiler = "y" * 96 // one distinct x^64 window hash, present twice/doc
    val uniq = (1 to 120).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val fixture = Seq(
      (1L, boiler, "en", "feedA", 96L), // boiler in A...
      (2L, boiler, "en", "feedB", 96L), // ...and B: cross-source copy
      (3L, uniq, "en", "feedC", 120L))  // C shares nothing
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.windowProvenance(fixture).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    graft.core.Caches.releaseScratch(spark)
    // only the (A, B) pair shares windows: 1 distinct hash, min occ 2
    assert(out.keySet === Set(("feedA", "feedB")))
    assert(out(("feedA", "feedB")) === ((1L, 2L)))
  }

  test("window provenance on sf data: pairs ordered, bounded by the source domain") {
    val docs = graft.core.Tables.documents(spark, sf)
    val nSources = docs.select("source").distinct().count()
    val out = TextDedup.windowProvenance(docs).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.length <= nSources * (nSources - 1) / 2)
    out.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pair not canonically ordered")
      assert(r.getLong(2) >= 1L && r.getLong(3) >= 1L)
    }
  }

  test("prefix-filter join equals the exact all-pairs threshold join (no FN/FP)") {
    // The PPJoin theorem says the prefix candidates contain EVERY pair
    // with jaccard >= tau; the verify step removes the rest. At test
    // scale the brute-force all-pairs join is affordable, so the claim is
    // checkable literally: same pair set, same jaccard values.
    val got = TextDedup.prefixFilterDups(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5))).toSet
    val sh = TextDedup.shinglesFor(spark, sf)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sz.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"),
        expr("i * 1000000 div (na + nb - i)").cast("long").as("jac"))
      .filter(col("jac") >= 800000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.core.Caches.releaseScratch(spark)
    assert(got === brute,
      s"prefix filter diverges from ground truth: missing=${brute -- got}, extra=${got -- brute}")
    assert(brute.nonEmpty, "corpus has no qualifying pairs — test is vacuous")
  }

  test("dedup recall audit: verified LSH pairs are a subset of exact ground truth") {
    val r = TextDedup.dedupRecallAudit(spark, sf).head()
    graft.core.Caches.releaseScratch(spark)
    val (nExact, nCand, nVer, nHits, recall, prec) = (r.getLong(0),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    // both paths verify exact jaccard >= 0.8, so every verified LSH pair
    // IS a ground-truth pair: hits == verified, precision-of-verified = 1
    assert(nHits === nVer, s"verified pair outside ground truth: $r")
    assert(recall === nHits * 1000000L / nExact)
    assert(prec === nVer * 1000000L / nCand)
    assert(nCand >= nVer, "more verified pairs than candidates")
    // 8 bands x 4 rows at j >= 0.8 promises ~99.98% recall; 90% is the
    // loose floor that still catches a broken banding
    assert(recall >= 900000L, s"LSH banding recall collapsed: $r")
  }

  test("q298 dedup sweep: flagged docs monotone non-increasing in width") {
    val out = TextDedup.dedupSweep(graft.core.Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.map(_._1).toSeq === Seq(2L, 3L, 4L, 5L))
    // a doc sharing a w-gram with another shares every sub-gram of it,
    // so widening the shingle can only shrink the flagged set
    assert(out.map(_._4).sliding(2).forall(p => p(0) >= p(1)),
      s"flagged docs must be non-increasing in width: $out")
    out.foreach { r =>
      assert(r._3 <= r._2, "shared grams cannot exceed distinct grams")
    }
  }

  test("q300 threshold sweep: recall monotone down, truth fixed across taus") {
    val out = TextDedup.thresholdSweep(graft.core.Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(6)))
    assert(out.map(_._1).toSeq === Seq(4L, 8L, 12L, 16L, 20L, 24L, 28L, 32L))
    // the positive set is threshold-independent: tp + fn constant
    assert(out.map(r => r._2 + r._4).distinct.length === 1)
    assert(out.map(_._5).sliding(2).forall(p => p(0) >= p(1)),
      "recall must be non-increasing in tau")
    // predictions shrink with tau: tp + fp non-increasing
    assert(out.map(r => r._2 + r._3).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("q305 dup transitivity: wedge/triangle accounting bounds") {
    val r = TextDedup.dupTransitivity(graft.core.Tables.documents(spark, sf))
      .collect()(0)
    val (wedges, tris, tv) = (r.getLong(1), r.getLong(2), r.getLong(3))
    assert(3 * tris <= wedges || wedges === 0,
      "closed wedges cannot exceed all wedges")
    assert(tv >= 0L && tv <= 1000000L)
  }

  test("q316 in-batch collisions: quadratic growth in batch size") {
    val out = TextDedup.inBatchCollisions(
      graft.core.Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(out.map(_._2).distinct.length === 1, "p is batch-independent")
    // E scales as B(B-1)/2: the 16->64 step must grow ~16x (floor slack)
    for (Array((b1, _, e1), (b2, _, e2)) <- out.sliding(2)) {
      val expected = (b2 * (b2 - 1)).toDouble / (b1 * (b1 - 1))
      if (e1 > 0)
        assert(math.abs(e2.toDouble / e1 - expected) < 0.2 * expected,
          s"batch $b1->$b2 growth off: $e1 -> $e2")
    }
  }

  test("q317 shard locality: exact dups always land in one shard") {
    import spark.implicits._
    val base = (1 to 12).map(i => s"tok$i").mkString(" ")
    val near = (1 to 11).map(i => s"tok$i").mkString(" ") + " other"
    val docs = Seq(
      (1L, base, "en", "s1", 1L), (2L, base, "en", "s2", 1L),
      (3L, near, "en", "s3", 1L),
      (4L, "totally different words here now ok", "en", "s4", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextDedup.shardLocality(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(out("exact")._2 === 1000000L,
      "content-hash sharding must keep exact dups together")
    assert(out.contains("near"), "the 5/6-overlap pair must surface")
  }

  test("q308 minhash K sweep: same candidate set at every K") {
    val out = TextDedup.minhashKSweep(graft.core.Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq === Seq(8L, 16L, 32L))
    assert(out.map(_._2).distinct.length === 1,
      "the sweep reuses one candidate set")
    out.foreach(r => assert(r._3 >= 0L && r._3 <= 1000000L))
  }

  test("q322 SNM: linear candidate bound and audit arithmetic hold") {
    val r = TextDedup.snmDedupAudit(spark, sf).collect()(0)
    graft.core.Caches.releaseScratch(spark)
    val (nDocs, cand, ver, lsh, common) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    // THE sorted-neighborhood law: candidates are bounded by
    // (window-1) * N regardless of data — SNM is linear by construction
    assert(cand <= 3 * nDocs, "SNM candidate set must stay linear")
    assert(ver <= cand)
    assert(common <= math.min(ver, lsh))
    assert(r.getLong(5) === common * 1000000L / math.max(1L, lsh))
    assert(r.getLong(6) ===
      1000000L - cand * 1000000L / (nDocs * (nDocs - 1) / 2))
    assert(r.getLong(6) > 900000L,
      "reduction ratio must eliminate almost all of the pair space")
  }
}

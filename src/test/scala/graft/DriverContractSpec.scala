package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract itself: every declared query must carry an
  * oracle, keys must be well-formed, and the oracle SQL must be free of
  * the mistakes that would silently weaken the correctness gate. */
class DriverContractSpec extends AnyFunSuite {

  /** Every `src/main` Scala file with its text, for the source laws. */
  private lazy val mainSources: Seq[(java.nio.file.Path, String)] = {
    val files = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .forEach(p => if (p.toString.endsWith(".scala")) files += p)
    assert(files.nonEmpty, "source scan found nothing — path wrong?")
    files.toSeq.map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  test("queries and oracleSql cover exactly the same keys") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    // the documented not-SQL-expressible set is the ONLY allowed gap —
    // anything else missing an oracle is a silently weakened gate
    assert((q -- o) === SparkEntry.NoOracleQueries,
      s"queries without oracle beyond the documented set: ${(q -- o -- SparkEntry.NoOracleQueries).toSeq.sorted}")
    assert((o -- q).isEmpty, s"dangling oracles: ${(o -- q).toSeq.sorted}")
    assert((SparkEntry.NoOracleQueries -- q).isEmpty,
      "NoOracleQueries names a nonexistent query")
  }

  test("query keys are unique, well-formed, and densely numbered") {
    val keys = SparkEntry.queries.keySet
    val nums = keys.map { k =>
      assert(k.matches("q\\d+_[a-z0-9_]+"), s"malformed key $k")
      k.drop(1).takeWhile(_.isDigit).toInt
    }
    assert(nums.size === keys.size, "duplicate query numbers")
    assert(nums === (1 to nums.max).toSet,
      s"gaps in numbering: missing ${(1 to nums.max).toSet -- nums}")
  }

  // The oracle is one map per engine family (graft.oracle). `++` keeps
  // the right-hand text of a key that two families define, so a key
  // written twice would lose one oracle without any error.
  test("oracle family maps are disjoint and together make oracleSql") {
    def overlaps(fams: Seq[Map[String, String]]): Set[String] =
      fams.combinations(2).flatMap { case Seq(a, b) => a.keySet & b.keySet }.toSet
    // positive control: the check must see a key two families share
    assert(overlaps(Seq(Map("q1" -> "a"), Map("q2" -> "b", "q1" -> "c"))) === Set("q1"))
    val fams = SparkEntry.oracleFamilies
    assert(overlaps(fams).isEmpty,
      s"keys in more than one oracle family: ${overlaps(fams).toSeq.sorted}")
    assert(fams.map(_.size).sum === SparkEntry.oracleSql.size)
  }

  // The portable md5-prefix hash is spelled by one Spark/DuckDB builder
  // pair in graft.core.Shard, so the two engines' spellings sit side by
  // side; a hand-written copy elsewhere could drift from them.
  test("the md5-prefix hash is spelled only in graft.core.Shard") {
    val spelled = "subs(?:tr|tring)\\(md5\\(".r
    // positive control: both engines' spellings are caught
    assert(spelled.findAllIn(
      "CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) conv(substring(md5(c), 1, 8), 16, 10)").size === 2)
    val sites = mainSources.flatMap { case (p, txt) =>
      spelled.findAllMatchIn(txt).map(m => (p.getFileName.toString,
        s"$p:${txt.take(m.start).count(_ == '\n') + 1}"))
    }
    val outside = sites.filterNot(_._1 == "Shard.scala").map(_._2)
    assert(outside.isEmpty, "md5-prefix hash spelled outside Shard.md5Prefix/" +
      "duckMd5Prefix:\n  " + outside.mkString("\n  "))
    assert(sites.count(_._1 == "Shard.scala") === 2,
      s"Shard.scala should spell the hash once per engine: ${sites.map(_._2)}")
  }

  test("oracle SQL avoids the known silent-weakening mistakes") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      // a query whose oracle has no ORDER BY is still compared (sorted
      // compare), but every oracle here orders for debuggability — except
      // single-row aggregates, which cannot be misordered
      assert(!sql.contains(";"), s"$k: multiple statements would break json")
      assert(sql.toUpperCase.contains("SELECT"), s"$k: not a query")
      // non-deterministic functions must never appear in an oracle
      Seq("random(", "now()", "current_timestamp", "current_date").foreach {
        f => assert(!sql.toLowerCase.contains(f), s"$k: non-deterministic $f")
      }
    }
  }

  // Round-11 postmortem: q318/q326 each embedded TWO hand-written
  // recursive closures over two inlined dedup pipelines; DuckDB re-ran
  // the pipelines per CTE reference and per recursive iteration, and the
  // end-of-round gate died on the compounded cost (186-217 s per query
  // at sf0.1 for ~5 s of real work). Every closure must now come from
  // graft.oracle.Duck.closureCtes, whose edges/lab are AS MATERIALIZED.
  test("oracle closures all use the single materialized builder") {
    val closureDef = """(\w*)reach\(src, dst\) AS \(""".r
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      val recursives = "WITH RECURSIVE".r.findAllIn(sql).size
      assert(recursives <= 1,
        s"$k: $recursives WITH RECURSIVE blocks — single-WITH queries only")
      closureDef.findAllMatchIn(sql).map(_.group(1)).foreach { p =>
        assert(sql.contains(s"${p}edges AS MATERIALIZED ("),
          s"$k: closure '${p}reach' without a materialized ${p}edges — " +
            "use graft.oracle.Duck.closureCtes")
        assert(sql.contains(s"${p}lab AS MATERIALIZED ("),
          s"$k: closure '${p}reach' without a materialized ${p}lab — " +
            "use graft.oracle.Duck.closureCtes")
      }
    }
  }

  // Round-11 postmortem, part 2: 47 queries landed AFTER the round's
  // final verify/bench artifacts ran, so the round closed with a surface
  // its artifacts never measured. ROUNDCHECK.json (tools/roundcheck.py)
  // records the md5 of the query surface it verified; this law makes a
  // query-surface change without a roundcheck re-run turn `sbt test`
  // red — artifacts are now structurally last.
  test("ROUNDCHECK.json covers the live query surface") {
    val f = new java.io.File("ROUNDCHECK.json")
    assert(f.exists,
      "ROUNDCHECK.json missing — run tools/roundcheck.py")
    val txt = {
      val src = scala.io.Source.fromFile(f)
      try src.mkString finally src.close()
    }
    def field(name: String): String =
      (s""""$name":\\s*("[^"]*"|true|false|[0-9.]+)""").r
        .findFirstMatchIn(txt)
        .map(_.group(1).stripPrefix("\"").stripSuffix("\""))
        .getOrElse(fail(s"ROUNDCHECK.json lacks $name"))
    val names = SparkEntry.queries.keys.toSeq.sorted.mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(names.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(field("query_md5") === md5,
      "ROUNDCHECK.json was generated for a DIFFERENT query surface — " +
        "re-run tools/roundcheck.py (--incremental for new queries)")
    assert(field("ok") === "true",
      "last roundcheck run failed (verify fails or budget exceeded) — " +
        "see ROUNDCHECK.json")
    // Round-12 advice (medium): --incremental carries the bench phases
    // forward and used to satisfy this law with bench numbers that never
    // measured the new queries — the exact round-11 failure mode the gate
    // was built to prevent. benched_query_md5 is stamped only by a FULL
    // run; an incremental run carries it verbatim, so a surface change
    // stays red here until a full roundcheck has actually benched it.
    assert(field("benched_query_md5") === md5,
      "ROUNDCHECK.json's BENCH phases were measured on a different query " +
        "surface (incremental run after a surface change) — a FULL " +
        "tools/roundcheck.py run must close the round")
    // Round-12 verdict item 4: the driver's bench died at a per-phase
    // ceiling while the 4500s total stayed green — the per-phase budget
    // map must exist (roundcheck folds it into `ok`).
    assert(txt.contains("\"phase_budgets\""),
      "ROUNDCHECK.json lacks phase_budgets — roundcheck.py is stale")
    assert(txt.contains("\"bench_sf01_sec\""),
      "ROUNDCHECK.json lacks a bench_sf01_sec phase budget")
  }

  // A query reads its input table in ONE place: the registry binds it
  // (SparkEntry's docs/embeddings/silver/orders/events binders) and the
  // module exports only the DataFrame function. A module-level
  // `def f(spark, dir) = f(<table read>(spark, dir))` writes that choice
  // a second time; this law keeps the forwarding layer from growing back.
  test("no (spark, dir) entry point only forwards to its DataFrame twin on a table read") {
    val forward = ("""def (\w+)\((\w+): SparkSession, (\w+): String\)(?::\s*DataFrame)?\s*=\s*""" +
      """(?:\{\s*)?(?:[\w.]+\.)?\1\((?:graft\.\w+\.)?""" +
      """(?:Tables\.(?:documents|embeddings|orders|events)|EventsPipeline\.silver)""" +
      """\(\2, \3\)\)(?!\s*\.)""").r
    // positive control: the detector must flag the forbidden shape
    assert(forward.findFirstIn("""def topUsers(spark: SparkSession, dir: String): DataFrame =
      |    topUsers(EventsPipeline.silver(spark, dir))""".stripMargin).isDefined)
    assert(forward.findFirstIn("""def topUsers(spark: SparkSession, dir: String): DataFrame =
      |    topUsers(EventsPipeline.silver(spark, dir)).limit(3)""".stripMargin).isEmpty)
    val forwards = mainSources.flatMap { case (p, txt) =>
      forward.findAllMatchIn(txt).map { m =>
        s"$p:${txt.take(m.start).count(_ == '\n') + 1}: ${m.group(1)}"
      }
    }
    assert(forwards.isEmpty,
      s"${forwards.size} pure table-read forwards (delete them and bind the " +
        "table in SparkEntry.queries):\n  " + forwards.mkString("\n  "))
  }

  test("entry() returns rows on the smoke scale factor") {
    val spark = graft.core.Sessions.local(4, "graft-contract")
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // DECIMAL output columns failed the driver's cross-engine hash
  // canonicalization in rounds 3-5 (decimal128 vs DuckDB's decimal
  // serialization) even with values and arrow dtypes exactly equal.
  // DOUBLE is tolerated only where a column has a proven-green gate
  // history AND its computation is engine-portable (no reordered
  // double summation of >2^53-magnitude terms). Everything else must
  // ship exact integer/string/date/bool columns — the scaled-BIGINT
  // "hundredths" trick replaces rounded decimals.
  // Every (query, column) below was hash-green in CORRECTNESS_r05 —
  // the doubles are either read straight from parquet (value columns),
  // single-value (min/max/percentile picks one element), or small exact
  // ratios where both engines compute the identical two-operand divide.
  // Adding a NEW double column requires a green driver round first.
  private val doubleWhitelist: Set[(String, String)] = Set(
    "q01_pricing_summary" -> "sum_qty",
    "q01_pricing_summary" -> "sum_base_price",
    "q01_pricing_summary" -> "sum_disc_price",
    "q02_revenue_by_region" -> "revenue",
    "q03_top_parts" -> "revenue",
    "q08_customer_share" -> "pct",
    "q10_bronze_flatten" -> "value",
    "q11_silver_dedup" -> "value",
    "q19_hourly_activity" -> "pct",
    "q21_diversity" -> "diversity_pct",
    "q25_running_totals" -> "running_value",
    "q27_minhash_neardups" -> "jaccard",
    "q29_ngram_jaccard" -> "jaccard",
    "q30_doc_features" -> "stop_ratio",
    "q30_doc_features" -> "mean_token_len",
    "q31_corpus_stats" -> "avg_tokens",
    "q32_quality_score" -> "stop_ratio",
    "q32_quality_score" -> "mean_token_len",
    "q34_knn_exact" -> "cos",
    "q35_knn_lsh" -> "cos",
    "q36_similar_pairs" -> "cos",
    "q37_media_features" -> "f0",
    "q37_media_features" -> "f1",
    "q37_media_features" -> "f2",
    "q37_media_features" -> "f3",
    "q42_ndjson_roundtrip" -> "value",
    "q46_asof_join" -> "asof_totalprice",
    "q48_knn_ivf" -> "cos",
    "q50_value_quantiles" -> "min_value",
    "q50_value_quantiles" -> "median_value",
    "q50_value_quantiles" -> "max_value",
    "q51_embedding_neardups" -> "cos",
    "q54_source_mixture" -> "kept_rate",
    "q55_token_counts" -> "chars_per_bpe_token",
    "q71_boilerplate_census" -> "boilerplate_ratio",
    "q73_cluster_profile" -> "min_cos",
    "q73_cluster_profile" -> "max_cos",
    // q260: MIN/MAX over per-element-identical cosine doubles — the
    // order-independent reduction class; hash-verified at sf0.001/sf0.01
    "q260_contrastive_mining" -> "min_cos",
    "q260_contrastive_mining" -> "max_cos",
    "q84_source_overlap" -> "jaccard",
    "q88_value_histogram" -> "lo_seen",
    "q88_value_histogram" -> "hi_seen",
    "q89_vector_stats" -> "l1",
    "q89_vector_stats" -> "linf",
    "q95_dim_stats" -> "lo",
    "q95_dim_stats" -> "hi",
    "q95_dim_stats" -> "range",
    "q101_rank_distributions" -> "pr",
    "q101_rank_distributions" -> "cd",
    "q110_bucketed_join" -> "total_qty",
    "q113_asof_physical" -> "asof_totalprice",
    "q117_interval_overlap" -> "sum_qty",
    "q124_equidepth_hist" -> "lo",
    "q124_equidepth_hist" -> "hi",
    "q125_mad_outliers" -> "median_value",
    "q125_mad_outliers" -> "mad",
    "q126_knn_quantized" -> "qcos",
    "q132_embedding_drift" -> "cos_to_corpus",
    "q135_bloom_join_revenue" -> "revenue",
    "q136_salted_join_brands" -> "revenue",
    "q143_percentile_cont" -> "p25",
    "q143_percentile_cont" -> "p50",
    "q143_percentile_cont" -> "p75")

  test("gate output schemas carry no DECIMAL and only whitelisted DOUBLE") {
    val spark = graft.core.Sessions.local(4, "graft-contract")
    val sf = "/root/testdata/sf0.001"
    import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
    val decimalCols = scala.collection.mutable.ArrayBuffer[String]()
    val doubleCols = scala.collection.mutable.ArrayBuffer[(String, String)]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val schema =
        try fn(spark, sf).schema
        catch { case e: Throwable => fail(s"$name failed to build: $e") }
      schema.fields.foreach { f =>
        f.dataType match {
          case _: DecimalType => decimalCols += s"$name.${f.name}"
          case DoubleType | FloatType => doubleCols += ((name, f.name))
          case _ => ()
        }
      }
    }
    assert(decimalCols.isEmpty,
      s"DECIMAL in gate outputs (driver hash rejects decimal128): $decimalCols")
    val extra = doubleCols.toSet -- doubleWhitelist
    assert(extra.isEmpty,
      s"non-whitelisted DOUBLE gate columns (prove hash-stable first): $extra")
    val stale = doubleWhitelist -- doubleCols.toSet
    assert(stale.isEmpty, s"whitelist entries no longer emitted: $stale")
  }
}

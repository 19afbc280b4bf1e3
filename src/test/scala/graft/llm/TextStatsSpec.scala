package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.core.Tables

class TextStatsSpec extends SparkSpecBase {

  private lazy val docs = Tables.documents(spark, sf)

  test("doc features: ratios bounded, shard within range") {
    val out = TextStats.docFeatures(docs).cache()
    assert(out.count() === docs.count())
    assert(out.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() === 0)
    assert(out.filter(col("shard") < 0 || col("shard") > 63).count() === 0)
    assert(out.filter(col("mean_token_len") <= 0).count() === 0)
  }

  test("corpus stats: doc totals reconcile with the corpus") {
    val out = TextStats.corpusStats(docs)
    val total = out.agg(sum("docs")).head().getLong(0)
    assert(total === docs.count())
  }

  test("quality score is the sum of its rubric flags") {
    val out = TextStats.qualityScore(docs)
    val bad = out.filter(
      col("quality") =!= col("len_ok") + col("stop_ok") + col("wordlen_ok"))
    assert(bad.count() === 0)
  }

  test("lang-id argmax is consistent with its scores") {
    val out = TextStats.langId(docs)
    // predicted 'en' implies score_en >= all other scores
    val bad = out.filter(col("predicted_lang") === "en")
      .filter(col("score_en") < col("score_de") || col("score_en") < col("score_es") ||
        col("score_en") < col("score_fr") || col("score_en") < col("score_zh"))
    assert(bad.count() === 0)
  }

  test("lang-id confusion matrix: cells reconcile with per-doc predictions") {
    val preds = TextStats.langId(docs)
      .select(col("lang"), col("predicted_lang")).collect()
      .groupBy(r => (r.getString(0), r.getString(1))).view.mapValues(_.length)
    val out = TextStats.langIdConfusion(docs).collect()
    assert(out.map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
      === preds.toMap.map { case (k, v) => k -> v.toLong },
      "matrix cells disagree with the per-doc predictions")
    // row shares sum to 1e6 per label within floor loss
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val s = rows.map(_.getLong(4)).sum
      assert(s <= 1000000L && s > 1000000L - rows.length, s"$lang shares: $s")
      assert(rows.map(_.getLong(3)).distinct.length === 1)
    }
  }

  test("rare-word ratio: garbled doc lights up, normal text stays low") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "the common words appear here often", "en", "s", 0L),
      (2L, "the common words appear here too", "en", "s", 0L),
      (3L, "the common words appear here again", "en", "s", 0L),
      (4L, "zxqv wkrj pqnm xvbz common the", "en", "s", 0L)) // garbled
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.rareWordRatio(fixture)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(4L).getAs[Boolean]("oov_heavy"),
      "garbled doc must flag as OOV-heavy")
    assert(!out(1L).getAs[Boolean]("oov_heavy"))
    // ppm always in [0, 1e6]; token counts conserved
    out.values.foreach { r =>
      val ppm = r.getAs[Long]("rare_ppm")
      assert(ppm >= 0 && ppm <= 1000000)
      assert(r.getAs[Long]("rare_tokens") <= r.getAs[Long]("n_tokens"))
    }
    graft.core.Caches.releaseScratch(spark)
  }

  test("distinctive terms: rare-in-corpus terms outrank common ones") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "quasar quasar the the the", "en", "s", 0L),
      (2L, "the the the common words here", "en", "s", 0L),
      (3L, "more the common words appear here", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.distinctiveTerms(fixture)
    // doc 1's top term must be the corpus-unique 'quasar', not 'the'
    val top1 = out.filter(col("doc_id") === 1L && col("rnk") === 1).head()
    assert(top1.getAs[String]("term") === "quasar")
    // every doc gets at most topK rows, ranks are 1..k
    assert(out.filter(col("rnk") > TextStats.TopTermsPerDoc).count() === 0)
  }

  test("distinctive terms on the corpus: exactly top-3 rows per doc") {
    val out = TextStats.distinctiveTerms(docs)
    val badDoc = out.groupBy("doc_id").count()
      .filter(col("count") =!= TextStats.TopTermsPerDoc)
    assert(badDoc.count() === 0)
  }

  test("repetition signals: repeated text lights up, varied text keeps") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "spam spam spam spam spam spam spam spam", "en", "s", 0L),
      (2L, "a varied sentence with mostly unique words throughout", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.repetitionSignals(fixture)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("keep")).toMap
    assert(!out(1L), "all-repeat doc must be dropped")
    assert(out(2L), "varied doc must be kept")
  }

  test("repetition ppm values are exact and bounded") {
    val out = TextStats.repetitionSignals(docs).cache()
    assert(out.filter(col("dup_word_ppm") < 0 || col("dup_word_ppm") > 1000000).count() === 0)
    assert(out.filter(col("top_bigram_ppm") <= 0 || col("top_bigram_ppm") > 1000000).count() === 0)
    // dup_word_ppm reconciles with its inputs
    val bad = out.filter(
      col("dup_word_ppm") =!=
        expr("((n_words - n_distinct_words) * 1000000) div n_words"))
    assert(bad.count() === 0)
  }

  test("BPE merge census: frequency-table weighting ≡ naive corpus pair count") {
    import spark.implicits._
    val docs = Seq((1L, "abab cd"), (2L, "abab abab x"))
      .toDF("doc_id", "text")
    val got = TextStats.bpeMergeCandidates(docs, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 'abab' occurs 3× in the corpus, pairs ab/ba/ab → ab:6, ba:3; cd:1;
    // single-char 'x' contributes nothing
    assert(got === Map("ab" -> 6L, "ba" -> 3L, "cd" -> 1L))
  }

  test("BPE vocab build: hand-traced merge sequence, greedy left-to-right") {
    import spark.implicits._
    // corpus: 'aaab' ×2, 'ab' ×1 (plus a single-char word that must not
    // contribute pairs). Hand trace:
    //  round 1: pairs (a,a)=4 [two per 'aaab' — OVERLAPPING adjacent
    //           occurrences both count], (a,b)=3 → merge (a,a)→'aa';
    //           greedy left-to-right rewrites 'a a a b' → 'aa a b'
    //           (NOT 'a aa b')
    //  round 2: (aa,a)=2, (a,b)=3 → merge (a,b)→'ab' → 'aa a b'→'aa ab'
    //  round 3: (aa,ab)=2 → merge → 'aaab'
    val docs = Seq((1L, "aaab c aaab"), (2L, "ab"))
      .toDF("doc_id", "text")
    val got = TextStats.bpeVocabBuild(docs, merges = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    graft.core.Caches.releaseScratch(spark)
    assert(got === Seq(
      (1L, "a", "a", "aa", 4L),
      (2L, "a", "b", "ab", 3L),
      (3L, "aa", "ab", "aaab", 2L)))
  }

  test("BPE vocab build: stops early when no pairs remain") {
    import spark.implicits._
    // 'ab' fully merges in one round; afterwards every word is a single
    // symbol — the loop must emit 1 row, not fail on an empty argmax.
    val docs = Seq((1L, "ab ab c")).toDF("doc_id", "text")
    val got = TextStats.bpeVocabBuild(docs, merges = 5).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(got.length === 1)
    assert(got(0).getString(3) === "ab" && got(0).getLong(4) === 2L)
  }

  test("BPE min-frequency floor: a word below the floor never enters merge training") {
    import spark.implicits._
    // 'xy' ×5, 'qz' ×1. With minCount=2 the rare word is excluded from
    // the collected table, so no merge may involve q or z; without the
    // floor the (q,z) pair is merged in round 2.
    val docs = Seq((1L, "xy xy xy"), (2L, "xy xy qz")).toDF("doc_id", "text")
    val floored = TextStats.bpeVocabBuild(docs, merges = 5, minCount = 2L)
      .collect().map(_.getString(3)).toSeq
    graft.core.Caches.releaseScratch(spark)
    assert(floored === Seq("xy"),
      "a sub-floor word leaked into the merge table")
    val unfloored = TextStats.bpeVocabBuild(docs, merges = 5).collect()
      .map(_.getString(3)).toSeq
    graft.core.Caches.releaseScratch(spark)
    assert(unfloored === Seq("xy", "qz"))
  }

  test("BPE top-N cap: only the maxWords most frequent words train merges") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val capped = TextStats.bpeVocabBuild(docs, merges = 5, maxWords = 1)
      .collect().map(_.getString(3)).toSeq
    graft.core.Caches.releaseScratch(spark)
    assert(capped === Seq("ab"), "a word beyond the top-N cap trained a merge")
  }

  test("BPE tokenize: out-of-vocabulary words fall back to character tokens") {
    import spark.implicits._
    // minCount=2 keeps 'abab' (fully merged → 1 token) and drops 'qz'
    // (OOV → 2 character tokens): 3 words, 10 chars, 1+1+2 = 4 tokens.
    val docs = Seq(("s1", "abab abab qz")).toDF("source", "text")
    val r = TextStats.bpeTokenize(docs, minCount = 2L).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(r.length === 1)
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) === ((3L, 10L, 4L)))
  }

  test("BPE argmax tiebreak compares UTF-8 bytes (supplementary plane)") {
    import spark.implicits._
    // Pairs (a,ﬀ) and (a,😀) tie at count 1. UTF-8: ﬀ = EF AC 80 <
    // 😀 = F0 9F 98 80, so (a,ﬀ) must win round 1 — Java UTF-16 order
    // would pick (a,😀) because U+FB00 sorts above the surrogate range.
    val docs = Seq((1L, "aﬀ a😀")).toDF("doc_id", "text")
    val got = TextStats.bpeVocabBuild(docs, merges = 1).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(got.length === 1)
    assert(got(0).getString(2) === "ﬀ",
      "tiebreak used UTF-16 order, not UTF-8 bytes")
  }

  test("BPE tokenize: corpus conserved, token counts between merges-bound and chars") {
    val out = TextStats.bpeTokenize(docs).collect()
    graft.core.Caches.releaseScratch(spark)
    // every corpus word is in the trained vocab → word totals reconcile
    val expected = docs
      .select(explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")).as("w"),
        col("source"))
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(r => r.getString(0) -> r.getLong(1)).toMap === expected)
    out.foreach { r =>
      val (words, chars, toks) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(toks >= words && toks <= chars,
        s"token count out of [words, chars] for ${r.getString(0)}: $r")
      assert(r.getLong(4) === toks * 1000000L / words)
      assert(r.getLong(5) === chars * 1000000L / toks)
    }
  }

  test("Kneser-Ney bigram LM: hand-computed smoothing on a tiny corpus") {
    import spark.implicits._
    // corpus 'a b a b c': bigrams (a,b)x2 (b,a)x1 (b,c)x1.
    //  ctx: a -> (2, 1 successor type), b -> (2, 2 types)
    //  continuation types: a<-1, b<-1, c<-1; total distinct bigrams = 3
    //  (a,b): disc = (8-3)e6 // 8 = 625000; lam(a) = 3e6 // 8 = 375000;
    //         pcont(b) = 1e6 // 3 = 333333; p = 625000 + 124999 = 749999
    //  (b,a)/(b,c): disc = 1e6 // 8 = 125000; lam(b) = 6e6 // 8 = 750000;
    //         p = 125000 + 249999 = 374999
    val docs = Seq((1L, "a b a b c", "en")).toDF("doc_id", "text", "lang")
    val got = TextStats.knBigramLm(docs).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getString(3), r.getLong(4),
        r.getLong(7), r.getLong(8), r.getLong(9))).toSeq
    graft.core.Caches.releaseScratch(spark)
    assert(got === Seq(
      (1L, "a", "b", 2L, 333333L, 375000L, 749999L),
      (2L, "b", "a", 1L, 333333L, 750000L, 374999L),
      (3L, "b", "c", 1L, 333333L, 750000L, 374999L)))
  }

  test("Kneser-Ney LM over the corpus: smoothing laws hold on every row") {
    val out = TextStats.knBigramLm(docs).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.nonEmpty)
    out.foreach { r =>
      val (cnt, ctx, n1p, pcont, lam, p) = (r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
      val disc = (4 * cnt - 3) * 1000000L / (4 * ctx)
      assert(p === disc + lam * pcont / 1000000L, s"KN composition: $r")
      assert(p > 0 && p <= 1000000L, s"probability range: $r")
      assert(lam > 0 && lam <= 750000L, s"backoff mass range (D=3/4): $r")
      assert(n1p <= ctx && pcont <= 1000000L, s"type-count sanity: $r")
    }
  }

  test("worst-window LM: docs conserved, worst below-or-at mean window, flags bounded") {
    val out = TextStats.worstWindowLm(docs).collect()
    val expected = docs
      .filter(size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")) >= 2)
      .count()
    assert(out.map(_.getLong(1)).sum === expected,
      "every multi-token doc must report a worst window")
    out.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), s"min above mean: $r")
      assert(r.getLong(5) <= r.getLong(1), s"more flags than docs: $r")
      assert(r.getLong(2) >= r.getLong(1), "fewer windows than docs")
    }
  }

  test("simpson diversity: planted mode collapse shows as high collision") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b a b a b a b a b", "en", "collapsed"),
      (2L, "q w e r t y u i o p", "en", "varied"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextStats.simpsonDiversity(fixture).collect()
      .map(r => r.getString(0) -> r).toMap
    // collapsed: 9 bigrams, 'a b'x5 + 'b a'x4 -> coll = 5*4+4*3 = 32;
    // 32e6 // (9*8) = 444444. varied: all distinct -> 0.
    assert(got("collapsed").getLong(3) === 444444L)
    assert(got("varied").getLong(3) === 0L)
    assert(got("varied").getLong(4) === 1000000L, "all-distinct TTR is 1e6")
  }

  test("Zipf audit: dense head ranks, non-increasing counts, exact products") {
    val out = TextStats.zipfAudit(docs).collect()
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq,
        s"$lang ranks not dense")
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getLong(3) >= b.getLong(3), s"$lang counts not sorted")
      case _ => }
      sorted.foreach(r => assert(r.getLong(4) === r.getLong(1) * r.getLong(3)))
      // the synthetic uniform vocabulary is ANTI-Zipf: r·f must grow
      // from the head to rank 20 — the exact signal the audit exists for
      assert(sorted.last.getLong(4) > sorted.head.getLong(4) * 5,
        s"$lang: uniform vocab should be loudly non-Zipf")
    }
  }

  test("Good-Turing: hand-traced count-of-counts, discount, unseen mass") {
    import spark.implicits._
    // 'a b a b c': bigrams (a,b)×2, (b,a)×1, (b,c)×1 → N₁=2, N₂=1.
    // c=1: c* = 2·N₂/N₁ = 1.0 → 1e6 ppm; c=2: N₃=0 → 0 (undefined cell).
    // p₀ = N₁/N = 2/4 = 500000.
    val docs = Seq((1L, "a b a b c", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val out = TextStats.goodTuringCounts(docs).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    graft.core.Caches.releaseScratch(spark)
    assert(out(1L) === ((2L, 1000000L, 500000L)))
    assert(out(2L) === ((1L, 0L, 500000L)))
  }

  test("Good-Turing over the corpus: totals reconcile, Turing discount visible") {
    val out = TextStats.goodTuringCounts(docs).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      // p0 constant per lang, bounded
      assert(rows.map(_.getLong(4)).distinct.length === 1, s"$lang p0 varies")
      assert(rows.forall(r => r.getLong(4) > 0 && r.getLong(4) < 1000000L))
      rows.foreach(r => assert(r.getLong(2) > 0, s"empty count-of-counts: $r"))
    }
  }

  test("Fleiss kappa: perfectly co-varying raters score 1e6, all-agree source degenerates to 0") {
    import spark.implicits._
    val okText = (1 to 25).map(_ => "the").mkString(" ")    // all 3 raters: ok
    val badText = "abcdefghijklm nopqrstuvwxyza"            // all 3 raters: not ok
    val docs = (
      (0L until 10L).map(id => (id, if (id % 2 == 0) okText else badText,
        "en", "covary")) ++
        (10L until 20L).map(id => (id, okText, "en", "allsame")))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextStats.fleissKappa(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // covary: every doc is unanimous (P_i = 1) but the ok-share is 1/2,
    // so chance agreement is 1/2 and kappa = (1 - 1/2)/(1 - 1/2) = 1
    assert(out("covary") === ((10L, 1000000L, 500000L, 1000000L)))
    // allsame: P̄ = P̄e = 1 — kappa undefined; reported 0 with the
    // evidence in pbar/pe
    assert(out("allsame") === ((10L, 1000000L, 1000000L, 0L)))
  }

  test("Fleiss kappa over the corpus: bounded, pbar and pe lawful") {
    val out = TextStats.fleissKappa(docs).collect()
    assert(out.length === docs.select(col("source")).distinct().count())
    out.foreach { r =>
      assert(r.getLong(2) >= 333333L && r.getLong(2) <= 1000000L,
        s"pbar outside [1/3, 1]: $r") // 3 raters, 2 cats: P_i >= 1/3
      assert(r.getLong(3) >= 499999L && r.getLong(3) <= 1000000L,
        s"pe outside [1/2, 1]: $r")   // p^2+(1-p)^2 >= 1/2 (floor loss 1)
      assert(r.getLong(4) <= 1000000L, s"kappa above 1: $r")
    }
  }

  test("simpson diversity: a single-bigram source (t=1) is excluded, not 0/0") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "a b", "en", "degenerate"),        // exactly one bigram: t = 1
      (2L, "a b c", "en", "ok"))              // t = 2
      .toDF("doc_id", "text", "lang", "source")
    val got = TextStats.simpsonDiversity(fixture).collect()
      .map(_.getString(0)).toSeq
    assert(got === Seq("ok"),
      "t=1 source must be filtered — its collision probability is 0/0")
  }

  test("held-out LM gap: train fully seen, held-out splits score lower") {
    val out = TextStats.heldoutLmGap(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    graft.core.Caches.releaseScratch(spark)
    assert(out.keySet === Set("train", "val", "test"))
    // the LM is trained on the train slice: by construction it has seen
    // every train bigram, and none of its probabilities are zero
    assert(out("train").getLong(2) === 0L, "train bigrams can't be unseen")
    Seq("val", "test").foreach { sp =>
      assert(out(sp).getLong(2) > 0L, s"$sp has no unseen mass at all?")
      assert(out(sp).getLong(3) < out("train").getLong(3),
        s"$sp scores at or above train — generalization gap inverted")
    }
  }

  test("bigram table: ranks dense per lang, counts non-increasing, ppm is exact floor division") {
    val out = TextStats.bigramCounts(Tables.documents(spark, sf)).collect()
    val byLang = out.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks === (1L to rows.length), s"$lang ranks not dense")
      val cnts = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cnt"))
      assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
        s"$lang counts not non-increasing")
    }
    out.foreach { r =>
      assert(r.getAs[Long]("p_ppm") ===
        r.getAs[Long]("cnt") * 1000000L / r.getAs[Long]("ctx_cnt"))
      assert(r.getAs[Long]("cnt") <= r.getAs[Long]("ctx_cnt"))
    }
  }

  test("source drift: a perfectly uniform corpus has zero L1 drift") {
    import spark.implicits._
    val uniform = (for {
      s <- Seq("a", "b"); l <- Seq("x", "y", "z"); i <- 1 to 4
    } yield (s, l, i)).toDF("source", "lang", "i")
    val drift = TextStats.sourceDrift(uniform).collect()
    assert(drift.length === 2)
    assert(drift.forall(_.getAs[Long]("l1_drift_ppm") === 0L))
    // removing one lang entirely from source b produces positive drift
    // that includes the missing lang's corpus-share term
    val skewed = uniform.filter(!(col("source") === "b" && col("lang") === "z"))
    val d2 = TextStats.sourceDrift(skewed).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("l1_drift_ppm")).toMap
    assert(d2("a") > 0 && d2("b") > 0)
  }

  test("LM score: repeated-bigram doc scores ppm=1e6 share of its context") {
    import spark.implicits._
    // corpus of one lang: "a b" appears 3× (2 docs), "a c" once — so
    // p(b|a) = 750000 ppm, p(c|a) = 250000 ppm exactly.
    val docs = Seq(
      (0L, "a b a b", "en", "s", 7L),
      (1L, "a b", "en", "s", 3L),
      (2L, "a c", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.docLmScore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc0 bigrams: (a,b)×2 + (b,a)×1; p(a|b)=1e6 (only continuation)
    assert(out(0L).getAs[Long]("n_bigrams") === 3L)
    assert(out(0L).getAs[Long]("lm_score_ppm") === (750000L * 2 + 1000000L) / 3)
    assert(out(1L).getAs[Long]("lm_score_ppm") === 750000L)
    assert(out(2L).getAs[Long]("lm_score_ppm") === 250000L)
    assert(out(2L).getAs[Boolean]("keep")) // 250000 >= 38000
  }

  test("LM score: total over the corpus, sub-2-token docs score zero") {
    import spark.implicits._
    val docs = Seq(
      (0L, "x", "en", "s", 1L), // no bigram
      (1L, "x y", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.docLmScore(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size === 2)
    assert(out(0L).getAs[Long]("n_bigrams") === 0L)
    assert(out(0L).getAs[Long]("lm_score_ppm") === 0L)
    assert(!out(0L).getAs[Boolean]("keep"))
    assert(out(1L).getAs[Long]("lm_score_ppm") === 1000000L)
  }

  test("vocab growth buckets first-seen words and accumulates exactly") {
    import spark.implicits._
    // bucket 0 (docs 0-1): types a b c; bucket 1 (docs 2-3): new type d
    // only (a reappears, must not recount)
    val docs = Seq(
      (0L, "a b", "en", "s", 3L), (1L, "b c", "en", "s", 3L),
      (2L, "a d", "en", "s", 3L), (3L, "d d", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.vocabGrowth(docs, bucketDocs = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((0L, 3L, 3L), (1L, 1L, 4L)))
    // corpus law: final vocab_size == distinct normalized word types
    val types = TextStats.vocabGrowth(graft.core.Tables.documents(spark, sf))
    val last = types.orderBy(org.apache.spark.sql.functions.col("bucket").desc)
      .limit(1).collect()(0).getLong(2)
    val sumNew = types.agg(org.apache.spark.sql.functions.sum("new_words"))
      .collect()(0).getLong(0)
    assert(last === sumNew, "cumulative tail must equal the sum of arrivals")
  }

  test("novelty curve: first doc fully novel, exact copy fully stale") {
    import spark.implicits._
    val fix = Seq(
      (1L, "alpha beta gamma delta", "en", "s", 0L),
      (2L, "alpha beta gamma delta", "en", "s", 0L), // copy of doc 1
      (3L, "zeta eta theta iota", "en", "s", 0L))    // all new
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.noveltyCurve(fix).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) === ((2L, 2L, 1000000L)), s"doc1: ${out(1L)}")
    assert(out(2L) === ((2L, 0L, 0L)), s"copy must be 0-novel: ${out(2L)}")
    assert(out(3L) === ((2L, 2L, 1000000L)))
  }

  test("novelty curve: totals reconcile with the distinct shingle count") {
    val out = TextStats.noveltyCurve(docs)
    val novelSum = out.agg(sum("n_novel")).collect()(0).getLong(0)
    val distinctShingles = TextDedup
      .shingles(docs, TextDedup.MinhashK)
      .select("shingle").distinct().count()
    // every distinct shingle is novel in exactly one doc (its first)
    assert(novelSum === distinctShingles)
    out.collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"novel > total: $r")
    }
  }

  test("chi2 census: perfectly independent table scores ~zero everywhere") {
    import spark.implicits._
    // 2 langs × 2 sources with counts exactly proportional → d = 0
    val fix = (Seq.fill(20)(("en", "sA")) ++ Seq.fill(10)(("en", "sB")) ++
      Seq.fill(40)(("de", "sA")) ++ Seq.fill(20)(("de", "sB")))
      .zipWithIndex.map { case ((l, s), i) => (i.toLong, "t", l, s, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.chi2Census(fix).collect()
    assert(out.length === 4)
    out.foreach { r =>
      assert(r.getLong(4) === 0L, s"independent cell must score 0: $r")
      // expected equals observed exactly here
      assert(r.getLong(3) === r.getLong(2), s"E != O on independent data: $r")
    }
  }

  test("chi2 census: marginals reconcile and dependence is detected") {
    val out = TextStats.chi2Census(docs).cache()
    val total = out.agg(sum("n")).collect()(0).getLong(0)
    assert(total === docs.count())
    // a deliberately dependent fixture: one lang confined to one source
    import spark.implicits._
    val dep = (Seq.fill(50)(("en", "sA")) ++ Seq.fill(50)(("de", "sB")))
      .zipWithIndex.map { case ((l, s), i) => (i.toLong, "t", l, s, 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val depOut = TextStats.chi2Census(dep).collect()
    assert(depOut.map(_.getLong(4)).sum > 3000000L,
      s"complete dependence must produce a large statistic: ${depOut.mkString}")
    out.unpersist()
  }

  test("weighted length percentiles: hand-traced mass thresholds") {
    import spark.implicits._
    // source s: lengths 10, 10, 80 → mass 100; cum: 20 (len 10), 100
    // (len 80). 25% (25) falls past 20 → p25 = 80; p50/p75 = 80 too.
    // source t: single len 50 → all three are 50.
    val fix = Seq(
      (1L, "x", "en", "s", 10L), (2L, "x", "en", "s", 10L),
      (3L, "x", "en", "s", 80L), (4L, "x", "en", "t", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.weightedLengthPercentiles(fix).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("s") === ((80L, 80L, 80L)), s"s: ${out("s")}")
    assert(out("t") === ((50L, 50L, 50L)))
  }

  test("quality-dup interaction: tiers partition the corpus, means bounded") {
    val out = TextStats.qualityDupInteraction(docs).collect()
    assert(out.map(_.getInt(0)).toSet.subsetOf(Set(0, 1, 2, 3)))
    assert(out.map(_.getLong(1)).sum === docs.count(),
      "every doc must land in exactly one quality tier")
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"dup docs > docs: $r")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L, s"mean ppm: $r")
      // a tier with zero dup docs must have zero mean coverage
      if (r.getLong(2) === 0L) assert(r.getLong(3) === 0L, s"ghost coverage: $r")
    }
    // the template corpus is heavily chunk-shared: some tier must see it
    assert(out.map(_.getLong(2)).sum > 0L)
  }

  test("oov census: planted rare word is OOV, head words are not") {
    import spark.implicits._
    // 30 head words dominate; "zyzzyva" appears once → outside top-30
    val head = (1 to 30).map(i => s"w$i")
    val base = (1L to 40L).map(id =>
      (id, (head ++ head).mkString(" "), "en", "sA", 0L))
    val rare = Seq((99L, s"${head.head} zyzzyva", "en", "sB", 0L))
    val docs = (base ++ rare)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.oovCensus(docs, vocabK = 30).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("sA") === ((2400L, 0L, 0L)), s"head source: ${out("sA")}")
    assert(out("sB") === ((2L, 1L, 500000L)), s"rare holder: ${out("sB")}")
  }

  test("oov census over the corpus: ppm bounded, tokens reconcile") {
    val out = TextStats.oovCensus(docs).collect()
    assert(out.nonEmpty)
    val totalTokens = out.map(_.getLong(1)).sum
    assert(totalTokens > 0)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"oov > tokens: $r")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000000L)
    }
    // the fixture vocab is larger than 30 words → some OOV must exist
    assert(out.map(_.getLong(2)).sum > 0, "no OOV tokens found at K=30")
  }

  test("weighted length percentiles are ordered and within range per source") {
    val out = TextStats.weightedLengthPercentiles(docs).collect()
    val ranges = docs.groupBy("source")
      .agg(min("n_chars").as("lo"), max("n_chars").as("hi")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val (p25, p50, p75) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (lo, hi) = ranges(r.getString(0))
      assert(p25 <= p50 && p50 <= p75, s"not monotone: $r")
      assert(p25 >= lo && p75 <= hi, s"outside value range: $r")
    }
  }

  test("pmi collocations: lifts match a driver-side recompute, top-20 order exact") {
    val docs = Tables.documents(spark, sf)
    val out = TextStats.pmiCollocations(docs).collect()
    graft.core.Caches.releaseScratch(spark)
    assert(out.nonEmpty)

    val bigrams = docs.select("text").collect().flatMap { r =>
      r.getString(0).toLowerCase.trim.replaceAll("\\s+", " ")
        .split(" ").toSeq.sliding(2)
        .collect { case Seq(a, b) if a.nonEmpty && b.nonEmpty => (a, b) }
    }
    val cab = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val ca = cab.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val cb = cab.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val bt = cab.values.sum
    val expected = cab.toSeq.filter(_._2 >= 5).map { case ((a, b), c) =>
      (a, b, c, ca(a), cb(b), c * bt * 1000000L / (ca(a) * cb(b)))
    }.sortBy { case (a, b, _, _, _, lift) => (-lift, a, b) }.take(20)
    val got = out.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("compression quality: repetitive text compresses far below diverse text") {
    import spark.implicits._
    val rep = Seq.fill(200)("spam spam spam").mkString(" ")
    val div = (1 to 400).map(i => (i * 2654435761L % 99991).toString).mkString(" ")
    val fixture = Seq(
      (1L, rep, "en", "repetitive", rep.length.toLong),
      (2L, div, "en", "diverse", div.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.compressionQuality(fixture).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val (repRatio, repFlag) = out("repetitive")
    val (divRatio, _) = out("diverse")
    assert(repRatio < divRatio / 4,
      s"repetition not discriminated: $repRatio vs $divRatio")
    assert(repFlag === 1L, "repetitive doc must trip the floor")
    // all-distinct text cannot compress under the dictionary model
    // (dictionary alone exceeds raw), and expansion is bounded by the
    // per-token reference cost (2 bytes/token on 5-char tokens)
    assert(divRatio > 1000000L && divRatio <= 1450000L,
      s"dictionary-model expansion out of band: $divRatio")
    // deterministic across runs (pure integer expression arithmetic)
    val again = TextStats.compressionQuality(fixture).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out === again)
  }

  test("vocab sweep: totals constant per source, OOV mass shrinks as vocab grows") {
    val out = TextStats.vocabSweep(Tables.documents(spark, sf)).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.nonEmpty)
    val sources = out.keys.map(_._2).toSet
    sources.foreach { s =>
      val bySize = Seq(8, 16, 24).map(v => out((v, s)))
      assert(bySize.map(_._1).distinct.size === 1,
        s"token total varies with vocab size for $s")
      val oov = bySize.map(_._2)
      assert(oov.zip(oov.tail).forall { case (a, b) => b <= a },
        s"OOV mass grew with a larger vocab for $s: $oov")
      oov.zip(bySize.map(_._1)).foreach { case (o, t) => assert(o <= t) }
    }
  }

  test("quality-length calibration: cells conserve the corpus, shares sum per band") {
    val docs = graft.core.Tables.documents(spark, sf)
    val out = TextStats.qualityLengthCalibration(docs).collect()
    assert(out.map(_.getLong(2)).sum === docs.count(), "cells lose docs")
    out.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 3L, s"rubric range: $r")
      assert(r.getLong(3) > 0L && r.getLong(3) <= 1000000L, s"share ppm: $r")
    }
    // per-band shares sum to ~1e6 (floor-div loses < cells-per-band ppm)
    out.groupBy(_.getLong(0)).foreach { case (b, rs) =>
      val s = rs.map(_.getLong(3)).sum
      assert(s > 1000000L - rs.length * 4 && s <= 1000000L,
        s"band $b shares sum $s")
    }
    // the bucket key is the documented 64-char band of n_chars
    val rederived = docs
      .join(TextStats.qualityScore(docs).select(col("doc_id"), col("quality")),
        Seq("doc_id"))
      .groupBy(expr("n_chars div 64").as("len_bucket"), col("quality"))
      .count().collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getLong(2)).toMap
    assert(out.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      === rederived)
  }

  test("q285 ccnet buckets: terciles balanced, score ranges monotone") {
    val docs = Tables.documents(spark, sf)
    val out = TextStats.ccnetBuckets(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    val perLang = out.groupBy(_._1)
    val langTotals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, rows) =>
      assert(rows.map(_._2).sorted.toSeq === Seq(0L, 1L, 2L))
      assert(rows.map(_._3).sum === langTotals(lang))
      assert(rows.map(_._3).max - rows.map(_._3).min <= 1,
        s"$lang terciles unbalanced")
      val byB = rows.sortBy(_._2)
      // head's min score >= middle's max score >= ... (rank-contiguous)
      assert(byB(0)._4 >= byB(1)._5 && byB(1)._4 >= byB(2)._5,
        s"$lang bucket score ranges overlap out of order")
    }
  }

  test("q286 gopher rules: first-fail attribution is exclusive and exhaustive") {
    val out = TextStats.gopherRules(Tables.documents(spark, sf)).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val any = out("r6_any")
    assert(any._1 === any._2, "r6_any rows carry the same count twice")
    val firstSum = Seq("r1_word_count", "r2_mean_word_len",
      "r3_stopword_floor", "r4_ttr_floor", "r5_dominance_cap")
      .map(out(_)._2).sum
    assert(firstSum === any._1,
      "per-rule first-fails must partition the any-fail docs")
    out.foreach { case (rule, (fail, first)) =>
      assert(first <= fail, s"$rule: first-fail exceeds total fails")
    }
  }

  test("q287 filter parity: overall rate is the pooled rate") {
    val out = TextStats.filterParity(Tables.documents(spark, sf)).collect()
    val n = out.map(_.getLong(1)).sum
    val p = out.map(_.getLong(2)).sum
    assert(out.map(_.getLong(4)).distinct.toSeq === Seq(p * 1000000L / n))
    out.foreach { r =>
      assert(r.getBoolean(6) === (r.getLong(5) >= 800000L))
    }
  }

  test("q288 loso support: a vocabulary-disjoint source gets zero support") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", "en", "shared1", 1L),
      (2L, "alpha beta gamma beta gamma", "en", "shared2", 1L),
      (3L, "zeta eta theta zeta eta", "en", "alien", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.losoSupport(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(out("alien") === ((0L, 0L)),
      "no other source can explain the alien bigrams")
    assert(out("shared1")._1 > 0 && out("shared2")._1 > 0)
  }

  test("q292 tv matrix: identical sources at 0, disjoint near 1e6") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "en", "s1", 1L), (2L, "a b c d", "en", "s2", 1L),
      (3L, "x y z w", "en", "s3", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.sourceTvMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(out(("s1", "s2")) === 0L)
    assert(out(("s1", "s3")) >= 999998L && out(("s1", "s3")) <= 1000000L)
    // strictly upper-triangular: no (b, a) twin, no self-pairs
    assert(out.keys.forall { case (a, b) => a < b })
  }

  test("q293 mann-whitney: total separation yields CLES = 1e6") {
    import spark.implicits._
    val docs = (1 to 10).map(i =>
        (i.toLong, "t", if (i <= 5) "en" else "de", "s",
          if (i <= 5) 1000L + i else i.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.mannWhitney(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(out("en") === ((2L * 25L, 1000000L)),
      "all-larger group must dominate every pair")
    assert(out("de") === ((0L, 0L)))
  }

  test("q294 randomization test: planted massive effect is significant") {
    import spark.implicits._
    val docs = (1 to 60).map(i =>
        (i.toLong, "t", if (i % 3 == 0) "en" else "de", "s",
          if (i % 3 == 0) 5000L else 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextStats.permutationTest(docs).collect()(0)
    // add-one smoothing floors p at 1/(B+1); a 500x planted effect
    // should sit at that floor (no relabeling reproduces it)
    assert(r.getAs[Long]("p_ppm") <= 50000L,
      s"planted effect not detected: $r")
    val fixture = TextStats.permutationTest(Tables.documents(spark, sf))
      .collect()(0)
    assert(fixture.getAs[Long]("n_perms") === 128L)
    assert(fixture.getAs[Long]("p_ppm") > 0L)
  }

  test("q295 bleu overlap: an exact-copy source clips to full precision") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f", "en", "orig", 1L),
      (2L, "a b c d e f", "en", "copy", 1L),
      (3L, "p q r s t u", "en", "fresh", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextStats.bleuOverlap(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    Seq(1L, 2L, 3L).foreach { n =>
      assert(out(("copy", n)) === 1000000L, s"copy at n=$n")
      assert(out(("fresh", n)) === 0L, s"fresh at n=$n")
    }
  }

  test("q296 quantile mapping: deciles non-decreasing, shift exact") {
    val out = TextStats.quantileMapping(Tables.documents(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(!out.exists(_._1 == "__all__"))
    out.groupBy(_._1).foreach { case (src, rows) =>
      val byQ = rows.sortBy(_._2)
      assert(byQ.map(_._2).toSeq === (1L to 9L).toSeq, s"$src deciles")
      assert(byQ.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
        s"$src source deciles must be non-decreasing")
      assert(byQ.map(_._4).sliding(2).forall(p => p(0) <= p(1)),
        s"$src global deciles must be non-decreasing")
    }
    out.foreach(r => assert(r._5 === r._3 - r._4))
  }

  test("q309 sample curve: nested samples give monotone type counts") {
    val out = TextStats.sampleCurve(Tables.documents(spark, sf)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    out.groupBy(_._1).foreach { case (kind, rows) =>
      val byPct = rows.sortBy(_._2)
      assert(byPct.map(_._2).toSeq === Seq(10L, 25L, 50L, 100L), kind)
      assert(byPct.map(_._3).sliding(2).forall(p => p(0) <= p(1)),
        s"$kind: nested samples cannot lose types")
    }
  }

  test("q302 dict mining: gain model exact, ranking respects the tiebreak") {
    val out = TextStats.dictMining(Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq === (1L to out.length.toLong).toSeq)
    out.foreach { case (_, gram, c, sav) =>
      assert(sav === (c - 1) * (gram.length - 2))
    }
    val keys = out.map(r => (-r._4, r._2))
    assert(keys.sorted.toSeq === keys.toSeq,
      "rank must follow (savings desc, gram asc)")
  }

  test("q304 wilson bounds: interval contains the point estimate") {
    val out = TextStats.wilsonBounds(Tables.documents(spark, sf)).collect()
    out.foreach { r =>
      val (pass, lo, hi) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(lo <= pass && pass <= hi,
        s"Wilson interval must contain the MLE: $r")
      assert(r.getBoolean(7) ===
        (r.getLong(6) >= lo && r.getLong(6) <= hi))
    }
  }

  test("q324 Wasserstein: zero for identical, exact for a pure shift") {
    import spark.implicits._
    // a and b share a histogram -> W1 = 0; c is b shifted +10 chars ->
    // W1 = 1e6 ppm * 10 chars (full mass moves 10)
    val docs = (Seq(("a", 100L), ("a", 200L), ("b", 100L), ("b", 200L)) ++
        Seq(("c", 110L), ("c", 210L)))
      .zipWithIndex.map { case ((s, n), i) => (i.toLong, s, n) }
      .toDF("doc_id", "source", "n_chars")
    val out = TextStats.sourceWassersteinMatrix(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    graft.core.Caches.releaseScratch(spark)
    assert(out(("a", "b")) === 0L, "identical distributions")
    // support {100,110,200,210}: |F_b - F_c| = 500000 on [100,110) and
    // [200,210), gaps 10 each -> 2 * 500000 * 10
    assert(out(("b", "c")) === 10000000L, "pure +10 shift")
    assert(out(("a", "c")) === 10000000L)
    // sf corpus: full matrix, non-negative, deterministic
    val m = TextStats.sourceWassersteinMatrix(Tables.documents(spark, sf)).collect()
    graft.core.Caches.releaseScratch(spark)
    val nSrc = Tables.documents(spark, sf).select("source").distinct().count()
    assert(m.length === (nSrc * (nSrc - 1) / 2).toInt)
    m.foreach(r => assert(r.getLong(2) >= 0L))
  }
}

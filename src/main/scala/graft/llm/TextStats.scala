package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Shard.h60

/** Text-analysis operators for training-data curation over `documents`:
  * token counting, corpus statistics, quality scoring, n-gram language ID,
  * and content fingerprinting. Everything is built-in expressions (split /
  * filter-lambda / md5) — codegen-friendly, no UDFs — and every numeric is
  * either an exact integer or a single fixed-order double division, so the
  * DuckDB oracle matches bit-for-bit.
  */
object TextStats {

  private def norm: Column = regexp_replace(lower(trim(col("text"))), "\\s+", " ")

  /** Stopword set: function words present in the synthetic corpus vocab.
    * At 100 TB this would be a broadcast lookup; as a literal IN-list it
    * stays inside codegen. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Per-document features: token count, char counts, stopword ratio, mean
    * token length, 64-bit content fingerprint + shard bucket (the
    * partitioning story: route docs to dedup shards by fingerprint). */
  def docFeatures(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", norm)
      .withColumn("w", split(col("norm"), " "))
      .withColumn("n_tokens", size(col("w")))
      .withColumn("stop_cnt",
        size(filter(col("w"), x => x.isin(Stopwords.map(lit): _*))))
      .select(
        col("doc_id"),
        col("n_tokens"),
        length(col("norm")).as("n_chars_norm"),
        col("stop_cnt"),
        (col("stop_cnt").cast("double") / col("n_tokens")).as("stop_ratio"),
        // round-14: norm is trimmed and single-space separated, so the
        // space-stripped length is length(norm) − (n_tokens − 1) for
        // every input (split keeps the one empty token of "", giving
        // 0 − 0) — same int operand into the same double division as
        // the old regexp_replace pass, minus one full regex scan of
        // the corpus
        ((length(col("norm")) - col("n_tokens") + lit(1)).cast("double")
          / col("n_tokens")).as("mean_token_len"),
        md5(col("norm")).as("fingerprint"),
        (h60(col("norm")) % 64).as("shard"))
      .orderBy(col("doc_id").asc)

  /** Corpus statistics per (lang, source): doc/token/char totals and
    * fixed-order averages. The canonical "profile your crawl" aggregation. */
  def corpusStats(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", norm)
      .withColumn("n_tokens", size(split(col("norm"), " ")))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .withColumn("avg_tokens", col("total_tokens").cast("double") / col("docs"))
      .orderBy(col("lang").asc, col("source").asc)

  /** Quality score: integer rubric (length band, stopword presence, token
    * length sanity) + the ratios it derives from. Filter-quality gating is
    * the first pass of every training-data pipeline; keeping the rubric in
    * exact integers makes it portable and auditable. */
  def qualityScore(docs: DataFrame, minTokens: Int = 20, maxTokens: Int = 1000): DataFrame =
    docFeatures(docs)
      .withColumn("len_ok",
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens).cast("int"))
      .withColumn("stop_ok", (col("stop_cnt") > 0).cast("int"))
      .withColumn("wordlen_ok",
        (col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0).cast("int"))
      .select(
        col("doc_id"), col("n_tokens"), col("stop_ratio"), col("mean_token_len"),
        col("len_ok"), col("stop_ok"), col("wordlen_ok"),
        (col("len_ok") + col("stop_ok") + col("wordlen_ok")).as("quality"))
      .orderBy(col("doc_id").asc)

  /** q273: FLEISS' KAPPA rater-agreement audit over the q32 quality
    * rubric — treat the three heuristic quality signals (len_ok,
    * stop_ok, wordlen_ok) as three raters labeling every document
    * ok/not-ok and ask, per source, whether they agree beyond chance.
    * This is the labeler-agreement gate every weak-supervision pipeline
    * runs before trusting an ensemble of heuristic filters: high kappa →
    * the signals measure one underlying quality notion; kappa ≈ 0 → the
    * "ensemble" is three independent coins and its vote count (q32's
    * `quality`) is noise.
    *
    * Exact integer spelling (n = 3 raters, 2 categories): per doc with k
    * ok-votes, P_i = (k(k−1) + (3−k)(2−k))/6; P̄ and the ok-share p₁ are
    * floor-ppm; P̄ₑ = p₁² + (1−p₁)² via scaled products. Kappa's
    * numerator can be legitimately negative (worse-than-chance), where
    * Spark's truncating `div` and DuckDB's flooring `//` diverge — both
    * engines clamp AFTER the division (negative→0 either way, positives
    * agree exactly), and an all-agree source (P̄ₑ = 1, kappa undefined)
    * reports 0 with pbar/pe carrying the evidence. Scale shape: one
    * corpus pass to per-doc vote counts, then a source census. */
  def fleissKappa(docs: DataFrame): DataFrame = {
    val withW = docs
      .withColumn("nrm", norm)
      .withColumn("w", split(col("nrm"), " "))
    val votes = withW
      .withColumn("n_tokens", size(col("w")))
      .withColumn("stop_cnt",
        size(filter(col("w"), x => x.isin(Stopwords.map(lit): _*))))
      .withColumn("mean_token_len",
        length(regexp_replace(col("nrm"), " ", "")).cast("double")
          / col("n_tokens"))
      .select(col("source"),
        ((col("n_tokens") >= 20 && col("n_tokens") <= 1000).cast("long")
          + (col("stop_cnt") > 0).cast("long")
          + (col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0)
            .cast("long")).as("k"))
    votes
      .withColumn("p_i_ppm",
        expr("(k * (k - 1) + (3 - k) * (2 - k)) * 1000000 div 6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(p_i_ppm) div count(1)").as("pbar_ppm"),
        expr("sum(k) * 1000000 div (3 * count(1))").as("p1_ppm"))
      .withColumn("pe_ppm", expr(
        "(p1_ppm * p1_ppm + (1000000 - p1_ppm) * (1000000 - p1_ppm))" +
          " div 1000000"))
      .select(col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("pbar_ppm").cast("long").as("pbar_ppm"),
        col("pe_ppm").cast("long").as("pe_ppm"),
        greatest(lit(0L), expr("(pbar_ppm - pe_ppm) * 1000000" +
          " div greatest(1, 1000000 - pe_ppm)")).cast("long")
          .as("kappa_ppm"))
      .orderBy(col("source").asc)
  }

  /** Marker-word sets for the n-gram language-ID heuristic. (The synthetic
    * corpus shares one vocabulary across langs, so accuracy vs the label is
    * not the point — the operator contract is a deterministic, portable
    * scoring + argmax.) */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("de", "shi", "bu"))

  /** Language ID: per-lang marker-word hit counts, deterministic argmax
    * (priority order on ties), compared against the label. */
  def langId(docs: DataFrame): DataFrame = {
    val withWords = docs
      .withColumn("w", split(norm, " "))
    val scored = LangMarkers.foldLeft(withWords) { case (df, (lang, markers)) =>
      df.withColumn(s"score_$lang",
        size(filter(col("w"), x => x.isin(markers.map(lit): _*))))
    }
    // argmax with deterministic priority: first lang in LangMarkers order
    // whose score is >= all others wins; all-zero scores → 'unknown'.
    val langs = LangMarkers.map(_._1)
    val allZero = langs.map(l => col(s"score_$l") === 0).reduce(_ && _)
    val argmax = LangMarkers.indices.foldRight(lit("unknown")) { (i, elseCol) =>
      val l = langs(i)
      val isMax = langs.filterNot(_ == l)
        .map(o => col(s"score_$l") >= col(s"score_$o"))
        .foldLeft(lit(true))(_ && _)
      when(isMax, lit(l)).otherwise(elseCol)
    }
    val outCols = Seq(col("doc_id"), col("lang")) ++
      langs.map(l => col(s"score_$l")) ++
      Seq(col("predicted_lang"),
        (col("predicted_lang") === col("lang")).as("is_correct"))
    scored
      .withColumn("predicted_lang", when(allZero, lit("unknown")).otherwise(argmax))
      .select(outCols: _*)
      .orderBy(col("doc_id").asc)
  }

  /** q246: language-ID CONFUSION MATRIX — the q33 per-doc predictions
    * reduced to the (labeled lang × predicted lang) cell counts with
    * per-label row shares in ppm (the diagonal cells ARE per-class
    * recall). The evaluation relation a classifier audit starts from;
    * emitting the matrix instead of a single accuracy number shows WHERE
    * the marker heuristic confuses (e.g. zh markers colliding with de
    * function words).
    *
    * Scale shape: the prediction is row-local (q33); the matrix is one
    * |langs|²-bounded aggregation plus a broadcast marginal join. */
  def langIdConfusion(docs: DataFrame): DataFrame = {
    val cells = langId(docs)
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val rowTot = cells.groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("label_total"))
    cells.join(broadcast(rowTot), Seq("lang"))
      .select(col("lang"), col("predicted_lang"),
        col("n_docs").cast("long").as("n_docs"),
        col("label_total").cast("long").as("label_total"),
        expr("n_docs * 1000000 div label_total").cast("long")
          .as("row_share_ppm"))
      .orderBy(col("lang").asc, col("predicted_lang").asc)
  }

  /** Rolling-hash document fingerprints: every k-byte window of the
    * ASCII-normalized text hashed by the codegen'd O(n)
    * [[graft.functions.RollingHash]] expression — the Rabin–Karp
    * primitive behind content-defined chunking and winnowing. Emits the
    * window count plus min/max window hash (the 2-extreme sketch: the min
    * rolling hash is the classic shift-resistant fingerprint — identical
    * content at any offset yields the same min). Exact int64 end to end;
    * the oracle evaluates the same polynomial positionally. */
  def rollingFingerprints(docs: DataFrame, k: Int = 8): DataFrame = {
    graft.core.Sessions.ensure(docs.sparkSession)
    docs
      // byte-indexed hashing mirrored by a codepoint-indexed oracle →
      // restrict to printable ASCII so byte == codepoint
      .withColumn("s", regexp_replace(norm, "[^ -~]", ""))
      .withColumn("rh", call_function(graft.functions.RollingHash.Name,
        col("s"), lit(k)))
      .select(
        col("doc_id"),
        size(col("rh")).as("n_windows"),
        array_min(col("rh")).as("min_rh"),
        array_max(col("rh")).as("max_rh"))
      .orderBy(col("doc_id").asc)
  }

  // ---------------------------------------------------- distinctive terms

  val TopTermsPerDoc = 3
  val ScoreScale = 1000000L

  /** Top distinctive terms per document — TF-IDF reshaped for exact
    * cross-engine arithmetic: the score `tf·idf = (cnt/len)·ln(N/df)` is
    * replaced by the ordinally-equivalent-in-spirit integer
    * `cnt·N·10^6 div (len·df)` (rarer-in-corpus, frequent-in-doc terms
    * rank first; integer `div` is bit-identical in Spark and DuckDB,
    * `ln` of a double is not).
    *
    * Shape at scale: two word-level aggregations (term counts, doc
    * lengths) that share a map-side combine over one explode pass, a
    * term-keyed df aggregate whose output is vocabulary-sized (tiny vs
    * corpus), a broadcast-able 1-row corpus count, and a per-doc window
    * for top-k. No step is quadratic; the only wide row is vocabulary.
    */
  def distinctiveTerms(docs: DataFrame, topK: Int = TopTermsPerDoc): DataFrame = {
    val words = docs.select(col("doc_id"), explode(split(norm, " ")).as("term"))
    // one explode feeds everything downstream: doc lengths roll up from
    // the term counts (sum of cnt), never from a second pass over the
    // exploded corpus — at 100 TB the explode IS the expensive scan
    val termCounts = graft.core.Caches.scratch(
      words.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("cnt")))
    // doc length as a doc-partitioned window over the term counts, not a
    // separate aggregate + join back: one exchange of the corpus-sized
    // frame instead of two (the window's partition is doc-sized)
    val withLen = termCounts.withColumn("len",
      sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    val termDf = termCounts.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("ndocs"))
    val scored = withLen
      .join(termDf, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        expr(s"(cnt * ndocs * $ScoreScale) div (len * df)"))
    scored
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rnk") <= topK)
      .select(col("doc_id"), col("term"), col("cnt"), col("df"),
        col("score"), col("rnk"))
      .orderBy(col("doc_id").asc, col("rnk").asc)
  }

  // --------------------------------------------------- repetition signals

  val MaxDupWordPpm = 600000L  // drop docs whose words are >60% repeats
  val MaxTopBigramPpm = 180000L // drop docs whose top 2-gram is >18% of 2-grams

  /** Per-document repetition signals (the Gopher-report family of
    * filters): duplicate-word fraction and most-frequent-2-gram fraction,
    * in exact parts-per-million (integer div — no portable-double risk),
    * plus the keep/drop verdict at the documented thresholds. Template-
    * generated and boilerplate-heavy docs light these up long before any
    * near-dup pass sees them, so a training pipeline runs this filter
    * FIRST, on the cheap single-doc pass, and dedups what survives.
    *
    * One explode pass per granularity (words, 2-grams), each a map-side-
    * combinable groupBy on (doc, gram) then (doc) — linear, no joins
    * across documents.
    */
  def repetitionSignals(docs: DataFrame,
                        maxDupWordPpm: Long = MaxDupWordPpm,
                        maxTopBigramPpm: Long = MaxTopBigramPpm): DataFrame = {
    val words = docs.select(col("doc_id"), explode(split(norm, " ")).as("w"))
    val wordSig = words.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct_words"))
    val bigrams = docs
      .select(col("doc_id"), split(norm, " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1))))
          .as("bg"))
    val bigramSig = bigrams.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("top_bigram_cnt"))
    wordSig.join(bigramSig, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        expr("((n_words - n_distinct_words) * 1000000) div n_words").as("dup_word_ppm"),
        expr("(top_bigram_cnt * 1000000) div n_bigrams").as("top_bigram_ppm"))
      .withColumn("keep",
        col("dup_word_ppm") <= maxDupWordPpm &&
          col("top_bigram_ppm") <= maxTopBigramPpm)
      .orderBy(col("doc_id").asc)
  }

  // --------------------------------------------------- rare-word ratio

  /** A word is "rare" if it appears in fewer than this many documents. */
  val RareDfMax = 3
  /** Docs whose token instances are mostly rare words get flagged. */
  val OovHeavyPpm = 200000L

  /** Rare-word (OOV) ratio: the integer-exact stand-in for an LM-score
    * filter — garbled, OCR-damaged, or wrong-language text lights up as a
    * high fraction of tokens whose corpus document-frequency is tiny,
    * which is what a KenLM perplexity filter keys on without the
    * unportable log-prob float math. One explode pass feeds both the
    * (doc, word) counts and the corpus df; the rare set joins back
    * BROADCAST (rare-by-df words are the small high-entropy tail of the
    * vocab in gram-space terms... their LIST is bounded by vocab size,
    * itself ≪ corpus size). All ratios in exact ppm. */
  def rareWordRatio(docs: DataFrame,
                    rareDfMax: Int = RareDfMax,
                    oovHeavyPpm: Long = OovHeavyPpm): DataFrame = {
    val words = docs.select(col("doc_id"), explode(split(norm, " ")).as("w"))
    val wc = graft.core.Caches.scratch(
      words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt")))
    val rare = wc.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .filter(col("df") < rareDfMax)
      .select(col("w"), lit(1).as("is_rare"))
    wc.join(broadcast(rare), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("n_tokens"),
        coalesce(sum(when(col("is_rare") === 1, col("cnt"))), lit(0L))
          .as("rare_tokens"))
      .withColumn("rare_ppm", expr("rare_tokens * 1000000 div n_tokens"))
      .withColumn("oov_heavy", col("rare_ppm") > oovHeavyPpm)
      .orderBy(col("doc_id").asc)
  }

  /** First BPE merge step: the corpus-weighted census of adjacent
    * character pairs — exactly what a tokenizer trainer computes to pick
    * its next merge. The decisive scale move is aggregating to the WORD
    * FREQUENCY TABLE first (classic BPE training): pair explosion runs
    * over |vocab| distinct words (thousands), not corpus tokens
    * (trillions at 100 TB), and the corpus weight rides along as a
    * count. Pair generation is `transform(sequence(...))` — codegen'd
    * array ops, no UDF; single-char words are filtered BEFORE
    * `sequence(1, len-1)` (Spark's sequence(1, 0) counts DOWN, it is not
    * empty). Top-k with a full (weight, pair) tiebreak is deterministic. */
  def bpeMergeCandidates(docs: DataFrame, k: Int = 30): DataFrame = {
    val words = docs
      .select(explode(split(norm, " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("weight"))
      .orderBy(col("weight").desc, col("pair").asc)
      .limit(k)
  }

  /** q258: FULL iterative BPE vocabulary build — the tokenizer-training
    * loop [[bpeMergeCandidates]] only takes the first step of: N rounds
    * of (count adjacent symbol pairs, weighted by word frequency) →
    * (merge the argmax pair everywhere) → repeat, emitting the merge
    * table a BPE tokenizer ships.
    *
    * Scale shape (the classic BPE-training reduction): ONE corpus pass
    * reduces the token stream to the word-frequency table; the merge
    * loop runs single-node over that table (see [[bpeMergeLoop]] — the
    * collect is DOMAIN-sized, bounded by the language, not the data).
    *
    * The merge itself is greedy LEFT-TO-RIGHT non-overlapping ("aaa"
    * under (a,a) → ["aa","a"]); the oracle reproduces it as a string
    * replace over a double-space symbol encoding (' '+join(sym,'  ')+
    * ' ' — every symbol owns both boundary spaces, so replacing
    * " L  R " with " LR " is exactly that law), with rounds unrolled as
    * MATERIALIZED CTEs.
    *
    * Ties are total: (count DESC, left ASC, right ASC) over exact
    * integers — string ties compared as unsigned UTF-8 bytes, the binary
    * collation both Spark SQL and DuckDB use (plain Java String ordering
    * would diverge on supplementary-plane code points).
    *
    * Driver bound: the collected word table is capped by `minCount`
    * (frequency floor) and `maxWords` (top-N by frequency) — see
    * [[bpeMergeLoop]]. */
  def bpeVocabBuild(docs: DataFrame, merges: Int = 12,
      minCount: Long = 1L, maxWords: Int = BpeMaxWords): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (mergeRows, _) = bpeMergeLoop(docs, merges, minCount, maxWords)
    mergeRows
      .toDF("step", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("step").asc)
  }

  /** Driver-size cap on the collected BPE word-frequency table: at most
    * this many distinct words (top-N by frequency, ties broken by word)
    * ever reach the driver. Like `Ledger.maxFilesPerTick`, this is the
    * documented bound that keeps a driver-side structure independent of
    * the DATA size: the distinct-"word" count of a 100 TB web crawl is
    * data-dependent (typos, URLs, hex hashes — easily 10⁹⁺ rows), so an
    * uncapped collect is a driver OOM even though the *linguistic*
    * vocabulary is domain-sized. 4M words × ~32 bytes ≈ 128 MB — safely
    * inside any driver heap, and far above the floor production trainers
    * use (HuggingFace/SentencePiece default min_frequency + vocab caps
    * mean tail words never enter merge training anyway). */
  val BpeMaxWords: Int = 4 * 1000 * 1000

  /** Unsigned UTF-8 byte comparison — the binary collation Spark SQL
    * (UTF8String) and DuckDB share. Java String.compareTo compares
    * UTF-16 code units, which diverges from UTF-8 byte order for
    * supplementary-plane code points (e.g. emoji tokens), so the merge
    * argmax tiebreak must not use it. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The BPE merge loop shared by [[bpeVocabBuild]] (emits the merge
    * table) and [[bpeTokenize]] (consumes the final per-word token
    * counts). Returns the merge rows and the final (word, n_symbols)
    * vocabulary map.
    *
    * `minCount` is the min-frequency floor (words with wc < minCount
    * never enter merge training — the knob every production trainer
    * exposes) and `maxWords` the top-N cap ([[BpeMaxWords]]); together
    * they bound the driver collect regardless of corpus size. Defaults
    * (floor 1, cap 4M) leave any domain-sized fixture unchanged. */
  private[llm] def bpeMergeLoop(docs: DataFrame, merges: Int,
      minCount: Long = 1L, maxWords: Int = BpeMaxWords)
      : (Seq[(Long, String, String, String, Long)], Seq[(String, Long)]) = {
    // The one corpus-scale step: reduce the token stream to the word
    // frequency table. The merge loop then runs SINGLE-NODE over that
    // table — the shape every production tokenizer trainer uses
    // (HuggingFace/SentencePiece train on a reduced count table, not the
    // corpus): the table is DOMAIN-sized (bounded by the language, not
    // the data), the same collect class as the k-means centroids, and a
    // driver loop avoids paying 12 rounds of job-scheduling latency for
    // vocab-sized aggregations (measured: 2.3 s → 0.7 s at sf0.1).
    // The floor + top-N cap (TakeOrdered — no global sort) make the
    // collect's size a configured constant, not a function of the data.
    val words: Array[(String, Long)] = docs
      .select(explode(split(norm, " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .filter(col("wc") >= minCount)
      .orderBy(col("wc").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // Initial symbols are CODE POINTS, not Java chars: a supplementary-
    // plane symbol (emoji) is one symbol in DuckDB's w[i] indexing and in
    // Spark SQL's length(); per-char split would shear it into two lone
    // surrogates whose UTF-8 encoding is undefined.
    def codePoints(w: String): Array[String] = {
      val b = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    val seqs = scala.collection.mutable.LinkedHashMap.from(
      words.iterator.map { case (w, _) => w -> codePoints(w) })
    val freq = words.toMap
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      // weighted adjacent-pair census (OVERLAPPING occurrences count,
      // matching the q99 convention and the oracle's per-position unnest)
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      seqs.foreach { case (w, sym) =>
        val wc = freq(w)
        var i = 0
        while (i < sym.length - 1) {
          val k = (sym(i), sym(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + wc
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax with the total (cnt DESC, l ASC, r ASC) tiebreak; string
        // ties compare unsigned UTF-8 bytes ([[utf8Lt]]) so the pick
        // matches the oracle's ORDER BY on any code point, not just BMP
        val ((l, r), cnt) = counts.reduceLeft { (a, b) =>
          val bBeatsA =
            if (b._2 != a._2) b._2 > a._2
            else if (b._1._1 != a._1._1) utf8Lt(b._1._1, a._1._1)
            else utf8Lt(b._1._2, a._1._2)
          if (bBeatsA) b else a
        }
        out += ((step.toLong, l, r, l + r, cnt))
        // greedy LEFT-TO-RIGHT non-overlapping merge (the replace() law
        // the oracle applies; "aaa" under (a,a) becomes ["aa","a"])
        seqs.mapValuesInPlace { (_, sym) =>
          if (sym.length < 2) sym
          else {
            val b = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < sym.length) {
              if (i < sym.length - 1 && sym(i) == l && sym(i + 1) == r) {
                b += l + r; i += 2
              } else { b += sym(i); i += 1 }
            }
            b.toArray
          }
        }
        step += 1
      }
    }
    (out.toSeq, seqs.iterator.map { case (w, sym) => w -> sym.length.toLong }.toSeq)
  }

  /** q259: APPLY the trained BPE vocabulary corpus-wide — the tokenizer
    * fertility/compression audit every pretraining run reports per
    * source: words, characters, BPE tokens, tokens-per-word and
    * chars-per-token (exact integer ppm). The encode itself costs ONE
    * broadcast join: the merge loop's final word→sequence map is
    * vocab-sized, so each corpus word looks up its token count instead
    * of re-running merges per occurrence (the same frequency-table
    * reduction that makes the training loop scale makes the APPLY a
    * lookup). Words outside the trained table (below the `minCount`
    * floor or the `maxWords` cap) fall back to character-level tokens —
    * `coalesce(n_sym, length(w))` on the LEFT join — which is exactly
    * what an untrained BPE does to an unseen word; with the default
    * bounds every fixture word is in the table and the join is an
    * equality-preserving inner join. */
  def bpeTokenize(docs: DataFrame, merges: Int = 12,
      minCount: Long = 1L, maxWords: Int = BpeMaxWords): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (_, wordSyms) = bpeMergeLoop(docs, merges, minCount, maxWords)
    val tok = wordSyms.toDF("w", "n_sym")
    docs
      .select(col("source"), explode(split(norm, " ")).as("w"))
      .join(broadcast(tok), Seq("w"), "left")
      .withColumn("n_sym",
        coalesce(col("n_sym"), length(col("w")).cast("long")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_sym")).as("n_bpe_tokens"))
      .select(col("source"),
        col("n_words").cast("long").as("n_words"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_bpe_tokens").cast("long").as("n_bpe_tokens"),
        expr("n_bpe_tokens * 1000000 div n_words").cast("long")
          .as("tokens_per_word_ppm"),
        expr("n_chars * 1000000 div n_bpe_tokens").cast("long")
          .as("chars_per_token_ppm"))
      .orderBy(col("source").asc)
  }

  /** q120: bigram LM count table per lang — the first-order conditional
    * counts a tokenizer/LM bootstrap materializes from the corpus. Each
    * doc emits its n-1 adjacent token pairs (one `transform`+`explode`,
    * no self-join), then ONE shuffle on (lang, w1, w2); context counts
    * ride a window over the already-clustered (lang, w1). Conditional
    * probability is exact integer ppm: cnt*1e6 floor-div ctx_cnt, no
    * IEEE drift across engines. Top-k per lang with a full deterministic
    * tiebreak. At corpus scale this is the canonical count-table build:
    * linear explode, one wide shuffle, no driver state. */
  def bigramCounts(docs: DataFrame, k: Int = 15): DataFrame = {
    val bigrams = docs
      .select(col("lang"), split(norm, " ").as("w"))
      .select(col("lang"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i+2) AS w2))")).as("bg"))
      .select(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val counted = bigrams.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
    val withCtx = counted.withColumn("ctx_cnt",
      sum(col("cnt")).over(Window.partitionBy(col("lang"), col("w1"))))
    withCtx
      .withColumn("p_ppm", (col("cnt") * lit(1000000L)) / col("ctx_cnt"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)))
      .filter(col("rank") <= k)
      .select(col("lang"), col("w1"), col("w2"), col("cnt"),
        col("ctx_cnt"), col("p_ppm").cast("long").as("p_ppm"),
        col("rank").cast("long").as("rank"))
      .orderBy(col("lang").asc, col("rank").asc)
  }

  /** q277: GOOD–TURING count-of-counts — the frequency-of-frequencies
    * table Good–Turing smoothing is built from, the classic answer to
    * "how much probability should the LM reserve for bigrams it has
    * never seen": per lang, N_c = how many distinct bigrams occur
    * exactly c times; the discounted count c* = (c+1)·N_{c+1}/N_c in
    * exact integer ppm (c* < c·1e6 is the Turing discount at work), and
    * the unseen mass p₀ = N₁/N — the number every KN/GT-smoothed LM
    * quotes. Emitted for the low counts (c ≤ 5) where the estimator is
    * meaningful; a c with no successor count reports c* = 0 (the
    * undefined cell, visible rather than imputed).
    *
    * Scale shape: one corpus explode to the vocab²-bounded count table
    * (scratch — the count-of-counts, its shifted self-join and the
    * totals all read it), then everything is |langs|·|counts|-sized. */
  def goodTuringCounts(docs: DataFrame, maxC: Int = 5): DataFrame = {
    val bg = docs
      .select(col("lang"), split(norm, " ").as("w"))
      .select(col("lang"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i+2) AS w2))")).as("p"))
      .select(col("lang"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val coc = graft.core.Caches.scratch(
      bg.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("lang"), col("c"))
        .agg(count(lit(1)).as("n_c")))
    val tot = coc.groupBy(col("lang"))
      .agg(sum(col("c") * col("n_c")).as("n_tokens"),
        sum(when(col("c") === 1, col("n_c")).otherwise(0L)).as("n1"))
    coc.filter(col("c") <= maxC)
      .join(coc.select(col("lang"), (col("c") - 1).as("c"),
        col("n_c").as("n_next")), Seq("lang", "c"), "left")
      .join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("c").cast("long").as("c"),
        col("n_c").cast("long").as("n_c"),
        coalesce(expr("(c + 1) * n_next * 1000000 div n_c"), lit(0L))
          .cast("long").as("cstar_ppm"),
        expr("n1 * 1000000 div n_tokens").cast("long").as("p0_ppm"))
      .orderBy(col("lang").asc, col("c").asc)
  }

  /** q280: ZIPF rank-frequency audit, logarithm-free — Zipf's law says
    * rank × frequency is roughly constant over a natural corpus's head;
    * the r·f product per head word IS that check in exact integers (a
    * log-log slope fit would put IEEE transcendentals in the gate; the
    * product column carries the same signal for the head, where Zipf
    * deviations matter for tokenizer/stopword decisions). Per lang: the
    * top-k words by frequency with a TOTAL (f DESC, w ASC) order, their
    * counts, and r·f. A synthetic uniform vocabulary shows up instantly
    * as r·f growing ~linearly in r instead of holding flat — exactly
    * what this fixture's 31-word corpus does, and the audit's point.
    *
    * Scale shape: one corpus explode to the vocab-bounded count table;
    * the rank window partitions per lang over that domain-sized frame;
    * rank-limit pushdown turns the top-k into WindowGroupLimit. */
  def zipfAudit(docs: DataFrame, k: Int = 20): DataFrame = {
    val wc = docs
      .select(col("lang"), explode(split(norm, " ")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("f"))
    wc.withColumn("rnk", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("f").desc, col("w").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("w"), col("f").cast("long").as("f"),
        (col("rnk") * col("f")).cast("long").as("rf"))
      .orderBy(col("lang").asc, col("rnk").asc)
  }

  /** q134: per-lang k-shingle census through the LAZY shingle generator
    * ([[graft.functions.WordShingles]]): distinct and total word
    * trigrams per language — the corpus-profiling pass run before sizing
    * a MinHash index. The point at 100 TB is the generator: the
    * explode(transform(...)) composition materializes every document's
    * full shingle array on the heap before the aggregate consumes it
    * (O(words·k) per row — an OOM grenade for pathological crawl docs),
    * while `graft_shingles` streams one shingle at a time into the
    * partial aggregate, keeping per-row memory flat. Same rows out,
    * different worst-case memory — WordShinglesSpec pins the parity. */
  def shingleCensus(docs: DataFrame, k: Int = 3): DataFrame =
    docs
      .select(col("lang"), norm.as("t"))
      .select(col("lang"), expr(s"graft_shingles(t, $k)"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("shingle")).as("distinct_shingles"),
        count(lit(1)).as("total_shingles"))
      .orderBy(col("lang").asc)

  /** q133: per-document bigram-LM score — the KenLM/CCNet "perplexity
    * filter" stand-in a production curation pipeline runs to drop
    * low-fluency documents. The corpus's own bigram model (the q120
    * machinery without the top-k) scores every document: a doc whose
    * adjacent-pair mix is improbable under the corpus LM gets a low mean
    * conditional probability and a keep=false verdict.
    *
    * Numerics are exact end-to-end so the DuckDB oracle matches
    * bit-for-bit: conditional probabilities are integer ppm (cnt·1e6
    * floor-div ctx_cnt) and the doc score is the multiplicity-weighted
    * integer mean of its bigrams' ppm — no log/exp, no IEEE drift. A real
    * deployment would swap the ppm mean for a log-prob sum; the dataflow
    * (and every shuffle) is identical.
    *
    * Scale shape (100 TB): doc bigrams are compressed to per-doc
    * multiplicities BEFORE the LM join, so the join input is distinct
    * pairs per doc, not corpus tokens; the LM side is vocab²-bounded per
    * lang (broadcastable for real vocabularies, an ordinary shuffle join
    * otherwise); the final rollup is one shuffle on doc_id. Docs with no
    * bigram (< 2 tokens) stay total via a left join, score 0. */
  def docLmScore(docs: DataFrame, keepPpm: Long = 38000L): DataFrame = {
    val bigrams = docs
      .select(col("doc_id"), col("lang"), split(norm, " ").as("w"))
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i+2) AS w2))")).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // per-doc multiplicity compression: join input is distinct pairs/doc
    val docBg = bigrams.groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val lm = bigrams.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ctx_cnt",
        sum(col("cnt")).over(Window.partitionBy(col("lang"), col("w1"))))
      .select(col("lang"), col("w1"), col("w2"),
        ((col("cnt") * lit(1000000L)) / col("ctx_cnt")).cast("long").as("p_ppm"))
    val scored = docBg.join(lm, Seq("lang", "w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("p_ppm")).as("sum_ppm"))
      .select(col("doc_id"), col("n_bigrams"),
        ((col("sum_ppm")) / col("n_bigrams")).cast("long").as("lm_score_ppm"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score_ppm"), lit(0L)).as("lm_score_ppm"))
      .withColumn("keep", col("lm_score_ppm") >= keepPpm)
      .orderBy(col("doc_id").asc)
  }

  /** Memoized per-(session, dir) per-doc LM score frame — the q133
    * chain is re-read by q263/q330/q331-class consumers, and the
    * per-doc result is corpus-LINEAR but tiny (one row per doc), so it
    * follows the shingle/cluster materialized-frame pattern
    * (TextDedup.shinglesFor): build the bigram LM once per corpus,
    * share the scored frame. */
  private val lmScoreCache = new graft.core.FrameMemo(4)

  def docLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreCache.get(spark, dir)(
      docLmScore(Tables.documents(spark, dir)))

  /** q261: KNESER–NEY smoothed bigram LM table — the smoothing that
    * makes an n-gram LM usable for held-out scoring (the q120/q133 MLE
    * table assigns zero to unseen pairs; CCNet-style perplexity filters
    * ship KN-smoothed KenLM models). Interpolated KN with absolute
    * discount D = 3/4, spelled in EXACT integer ppm so both engines
    * agree bit-for-bit (every term is a floor-div of non-negative
    * integers; the composition is deterministic rather than
    * real-arithmetic KN, which is all a cross-engine gate can pin):
    *
    *   p_kn_ppm = (4·c − 3)·1e6 div (4·ctx)            discounted MLE
    *            + λ_ppm · pcont_ppm div 1e6             back-off mass
    *   λ_ppm    = 3·N1+(w1·)·1e6 div (4·ctx)
    *   pcont_ppm= N1+(·w2)·1e6 div N1+(··)              continuation
    *
    * Scale shape: one bigram shuffle, then three linear recounts of the
    * DISTINCT-bigram frame (per-w1 successors, per-w2 predecessors,
    * per-lang total) joined back — no window over the corpus; top-k per
    * lang with a full deterministic tiebreak. */
  def knBigramLm(docs: DataFrame, k: Int = 15): DataFrame = {
    val bigrams = docs
      .select(col("lang"), split(norm, " ").as("w"))
      .select(col("lang"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i+2) AS w2))")).as("bg"))
      .select(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val counted = graft.core.Caches.scratch(
      bigrams.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt")))
    val ctx = counted.groupBy(col("lang"), col("w1"))
      .agg(sum(col("cnt")).as("ctx_cnt"), count(lit(1)).as("n1p_w1"))
    val cont = counted.groupBy(col("lang"), col("w2"))
      .agg(count(lit(1)).as("n1p_right"))
    val tot = counted.groupBy(col("lang"))
      .agg(count(lit(1)).as("n1p_total"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
    counted
      .join(ctx, Seq("lang", "w1"))
      .join(cont, Seq("lang", "w2"))
      .join(broadcast(tot), Seq("lang"))
      .withColumn("pcont_ppm",
        expr("n1p_right * 1000000 div n1p_total"))
      .withColumn("lambda_ppm",
        expr("3 * n1p_w1 * 1000000 div (4 * ctx_cnt)"))
      .withColumn("p_kn_ppm",
        expr("(4 * cnt - 3) * 1000000 div (4 * ctx_cnt)" +
          " + (lambda_ppm * pcont_ppm) div 1000000"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank").cast("long").as("rank"),
        col("w1"), col("w2"),
        col("cnt").cast("long").as("cnt"),
        col("ctx_cnt").cast("long").as("ctx_cnt"),
        col("n1p_w1").cast("long").as("n1p_w1"),
        col("pcont_ppm").cast("long").as("pcont_ppm"),
        col("lambda_ppm").cast("long").as("lambda_ppm"),
        col("p_kn_ppm").cast("long").as("p_kn_ppm"))
      .orderBy(col("lang").asc, col("rank").asc)
  }

  /** q263: HELD-OUT LM score gap — train a [[knBigramLm]]-style smoothed
    * bigram LM on the TRAIN split only (q52 hash rule) and score every
    * split's pooled bigram stream under it. Train scores above val/test
    * is the expected generalization gap; val/test scoring ABOVE train is
    * the classic leakage symptom. This is the audit CCNet-style
    * perplexity filtering rests on, and the reason q261 exists: an MLE
    * table cannot score held-out text at all (unseen pairs have no
    * probability — q133's inner join silently drops them).
    *
    * Unseen-pair rules (deterministic, both engines): seen pair → full
    * interpolated KN; unseen pair under a seen context → the backoff
    * term λ(w1)·pcont(w2) with pcont = 0 when w2 was never a
    * continuation; unseen context → pcont(w2) alone. Everything is
    * floor-div integer ppm.
    *
    * Scale shape: the LM build is q261 over the train slice; scoring is
    * the corpus bigram stream LEFT-joined to the (vocab²-bounded) LM
    * frames and reduced to a 3-row split census. */
  def heldoutLmGap(docs: DataFrame): DataFrame = {
    val withSplits = Curation.withSplit(docs)
    val bg = graft.core.Caches.scratch(withSplits
      .select(col("split"), col("lang"), split(norm, " ").as("w"))
      .select(col("split"), col("lang"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i+2) AS w2))")).as("p"))
      .select(col("split"), col("lang"),
        col("p.w1").as("w1"), col("p.w2").as("w2")))
    val counted = graft.core.Caches.scratch(
      bg.filter(col("split") === "train")
        .groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt")))
    val ctx = counted.groupBy(col("lang"), col("w1"))
      .agg(sum(col("cnt")).as("ctx_cnt"), count(lit(1)).as("n1p_w1"))
    val cont = counted.groupBy(col("lang"), col("w2"))
      .agg(count(lit(1)).as("n1p_right"))
    val tot = counted.groupBy(col("lang"))
      .agg(count(lit(1)).as("n1p_total"))
    bg
      .join(counted, Seq("lang", "w1", "w2"), "left")
      .join(ctx, Seq("lang", "w1"), "left")
      .join(cont, Seq("lang", "w2"), "left")
      .join(broadcast(tot), Seq("lang"))
      .withColumn("pcont_ppm",
        coalesce(expr("n1p_right * 1000000 div n1p_total"), lit(0L)))
      .withColumn("p_ppm",
        when(col("cnt").isNotNull,
          expr("(4 * cnt - 3) * 1000000 div (4 * ctx_cnt)" +
            " + ((3 * n1p_w1 * 1000000 div (4 * ctx_cnt)) * pcont_ppm)" +
            " div 1000000"))
          .when(col("ctx_cnt").isNotNull,
            expr("((3 * n1p_w1 * 1000000 div (4 * ctx_cnt)) * pcont_ppm)" +
              " div 1000000"))
          .otherwise(col("pcont_ppm")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(col("p_ppm")).as("sum_p_ppm"))
      .select(col("split"),
        col("n_bigrams").cast("long").as("n_bigrams"),
        expr("n_unseen * 1000000 div n_bigrams").cast("long")
          .as("unseen_ppm"),
        expr("sum_p_ppm div n_bigrams").cast("long").as("mean_p_ppm"))
      .orderBy(col("split").asc)
  }

  /** q267: WORST-WINDOW LM localization — quality scoring at SPAN
    * granularity instead of q133's whole-doc mean: each document's
    * bigram stream is cut into fixed 8-bigram windows, every window gets
    * the mean corpus-LM probability of its bigrams, and the document
    * reports its WORST window. A doc with a fine average can still hide
    * one garbage span (boilerplate stub, encoding accident); pipelines
    * that trim spans rather than drop documents start from exactly this
    * table. Census per source: worst-window mean/min and the count
    * flagged below the keep threshold.
    *
    * Scale shape: one bigram explode with positions (narrow), the LM
    * join is the q120 count-table equi-join, windows are integer
    * position-div (no window function over the corpus), then two
    * combinable aggregations (doc → source). */
  def worstWindowLm(docs: DataFrame, windowBigrams: Int = 8,
                    flagPpm: Long = 20000L): DataFrame = {
    val bg = docs
      .select(col("doc_id"), col("source"), col("lang"), split(norm, " ").as("w"))
      .select(col("doc_id"), col("source"), col("lang"), posexplode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i+2) AS w2))")).as(Seq("i", "p")))
      .select(col("doc_id"), col("source"), col("lang"),
        expr(s"i div $windowBigrams").as("win"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val lm = bg.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ctx_cnt",
        sum(col("cnt")).over(Window.partitionBy(col("lang"), col("w1"))))
      .select(col("lang"), col("w1"), col("w2"),
        expr("cnt * 1000000 div ctx_cnt").as("p_ppm"))
    val winScore = bg.join(lm, Seq("lang", "w1", "w2"))
      .groupBy(col("doc_id"), col("source"), col("win"))
      .agg(expr("sum(p_ppm) div count(1)").as("win_ppm"))
    val perDoc = winScore.groupBy(col("doc_id"), col("source"))
      .agg(min(col("win_ppm")).as("worst_ppm"),
        count(lit(1)).as("n_windows"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_windows")).as("n_windows"),
        expr("sum(worst_ppm) div count(1)").as("mean_worst_ppm"),
        min(col("worst_ppm")).as("min_worst_ppm"),
        sum(when(col("worst_ppm") < flagPpm, 1L).otherwise(0L))
          .as("n_flagged"))
      .select(col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_windows").cast("long").as("n_windows"),
        col("mean_worst_ppm").cast("long").as("mean_worst_ppm"),
        col("min_worst_ppm").cast("long").as("min_worst_ppm"),
        col("n_flagged").cast("long").as("n_flagged"))
      .orderBy(col("source").asc)
  }

  /** q268: SIMPSON bigram-diversity census — the collision probability
    * of two random bigrams per source, Σ f·(f−1) / (T·(T−1)) in exact
    * integer ppm. This is the pairwise-overlap (self-BLEU-style)
    * diversity audit made linear: naive self-BLEU compares all document
    * pairs (quadratic); the Simpson index computes the identical
    * collision mass from the bigram frequency table in one aggregation.
    * Low diversity (high collision) per source is the mode-collapse
    * smell test run over synthetic/generated corpora before mixing them
    * into training data.
    *
    * Domain note: Σf(f−1) and T(T−1) overflow int64 past ~3e9 bigrams
    * per source; at that scale the same plan runs with DECIMAL(38)
    * accumulators — the gate pins the integer spelling. */
  def simpsonDiversity(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("source"), split(norm, " ").as("w"))
      .select(col("source"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "concat(x, ' ', element_at(w, i+2)))")).as("gram"))
    val freqs = bg.groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("f"))
    freqs.groupBy(col("source"))
      .agg(sum(col("f")).as("t"),
        count(lit(1)).as("n_distinct"),
        sum(col("f") * (col("f") - 1)).as("coll"))
      // Degenerate-source guard: a source whose whole corpus yields a
      // single bigram (t = 1) has an undefined collision probability
      // (0/0); Spark's div would emit NULL while DuckDB's // diverges, so
      // such sources are excluded from the census on both sides.
      .filter(col("t") >= 2)
      .select(col("source"),
        col("t").cast("long").as("n_bigrams"),
        col("n_distinct").cast("long").as("n_distinct"),
        expr("coll * 1000000 div (t * (t - 1))").cast("long")
          .as("collision_ppm"),
        expr("n_distinct * 1000000 div t").cast("long").as("ttr_ppm"))
      .orderBy(col("source").asc)
  }

  /** q121: source-vs-corpus distribution drift, exact integer ppm — the
    * monitoring op a training pipeline runs to catch a source whose
    * language mix shifts between snapshots. L1 distance between each
    * source's lang distribution and the corpus distribution, over the
    * FULL source × lang grid (an absent lang still contributes the
    * corpus share to the distance — counts-only grouping would silently
    * drop it). The grid is |sources|×|langs| (tiny) so it broadcasts;
    * the corpus is aggregated once. */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
    val grid = docs.select(col("source")).distinct()
      .crossJoin(docs.select(col("lang")).distinct())
    val full = grid.join(counts, Seq("source", "lang"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val withTotals = full
      .withColumn("src_total",
        sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .withColumn("lang_total",
        sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      .withColumn("grand_total",
        // domain-sized: (source, lang) grid frame
        sum(col("cnt")).over(Window.partitionBy()))
    withTotals
      .withColumn("src_share_ppm", (col("cnt") * lit(1000000L)) / col("src_total"))
      .withColumn("corpus_share_ppm", (col("lang_total") * lit(1000000L)) / col("grand_total"))
      .groupBy(col("source"))
      .agg(max(col("src_total")).as("n_docs"),
        sum(abs(col("src_share_ppm").cast("long") -
                col("corpus_share_ppm").cast("long"))).as("l1_drift_ppm"))
      .orderBy(col("source").asc)
  }

  /** q138: Unicode-canonicalization census — per lang, how many docs are
    * NOT in NFC and how many code points canonicalization removes. This is
    * the audit run BEFORE content hashing: every hash-keyed operator
    * (exact dedup, MinHash, winnowing) treats bytes as identity, so
    * composed vs decomposed accents split identical texts across dedup
    * keys; the census quantifies the exposure, `graft_nfc` fixes it.
    *
    * The synthetic corpus is pure ASCII (already NFC), so the census
    * manufactures its own decomposed rows deterministically: docs with
    * `doc_id % 3 = 0` get a decomposed "éå" suffix (e + U+0301,
    * a + U+030A — built from hex so source files stay ASCII), the rest a
    * plain ASCII "x". NFC recomposes each pair to one code point; the
    * per-lang deltas are exact integers. Scale shape: pure per-row
    * projection into one 5-group aggregate — one shuffle, and the ASCII
    * majority never leaves `graft_nfc`'s zero-copy fast path. */
  def nfcCensus(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        concat(substring(col("text"), 1, 40),
          when(col("doc_id") % 3 === 0,
            decode(unhex(lit("65CC8161CC8A")), "UTF-8")).otherwise(lit("x")))
          .as("raw"))
      .withColumn("nfc", expr("graft_nfc(raw)"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nfc") =!= col("raw"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("raw")) - length(col("nfc"))).as("cp_removed"))
      .orderBy(col("lang").asc)

  /** q144: case-insensitive census via COLLATION (Spark 4) — grouping,
    * equality, and ordering under `UTF8_LCASE` as a property of the TYPE,
    * not a `lower()` call at every use site. That distinction matters at
    * 100 TB: a collated column states the comparison semantics once, so
    * every groupBy/join/sort on it is case-insensitive BY CONSTRUCTION
    * (no silently case-sensitive join because one query forgot the
    * wrap), and the optimizer still sees the raw column (one projection,
    * not lower() re-derived in every operator). Mixed-case lang codes
    * are manufactured deterministically (doc_id parity picks the
    * casing); the census groups on the collated value and renders the
    * key through `lower` only for display. The oracle is the `lower()`
    * spelling — for ASCII the two semantics coincide, which is exactly
    * the law CollationSpec pins (plus case-insensitive equality and the
    * class cardinality staying 5, not 10). */
  def collatedLangCensus(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, upper(col("lang")))
          .otherwise(col("lang")).as("lang_mixed"))
      .groupBy(collate(col("lang_mixed"), "UTF8_LCASE").as("lang_ci"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang_mixed")).as("n_spellings"),
        min(col("doc_id")).as("min_doc_id"))
      .select(lower(col("lang_ci")).cast("string").as("lang"),
        col("n_docs"), col("n_spellings"), col("min_doc_id"))
      .orderBy(col("lang").asc)

  /** q151: vocabulary-growth curve — how many NEW word types each block of
    * `bucketDocs` documents contributes, plus the running vocabulary size.
    * The Heaps-law census every tokenizer-training and corpus-scaling
    * decision starts from: a flattening curve says more data stops buying
    * vocabulary coverage.
    *
    * Scale shape: one explode + one groupBy(word) with a map-side-
    * combinable `min` — the canonical word-count shuffle, linear in corpus
    * tokens. The cumulative window runs over the BUCKET frame (corpus/
    * `bucketDocs` rows, thousands at 100 TB), not over words, so the
    * single-partition window is a rounding error. First-seen is defined by
    * doc_id order (ingestion order), making the curve deterministic and
    * engine-portable — all exact integers. */
  def vocabGrowth(docs: DataFrame, bucketDocs: Int = 500): DataFrame = {
    val words = docs
      .withColumn("norm", norm)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("word"))
    val firstSeen = words.groupBy(col("word"))
      .agg(min(col("doc_id")).as("first_doc"))
    val buckets = firstSeen
      .groupBy(expr(s"first_doc div $bucketDocs").as("bucket"))
      .agg(count(lit(1)).as("new_words"))
    buckets
      .withColumn("vocab_size",
        sum(col("new_words")).over(
          // domain-sized: doc-bucket census (docs div bucketDocs rows)
          Window.orderBy(col("bucket").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("bucket").asc)
  }

  /** Per-document shingle NOVELTY: the fraction of a document's distinct
    * word 3-shingles never seen in any lower-doc_id document. The
    * corpus-ordered novelty curve is the diminishing-returns instrument
    * for data collection (novelty collapsing toward zero within a source
    * means more of that source buys nothing new), and per-doc novelty is
    * a curation score orthogonal to the dup families: a doc can be
    * pairwise-unique (q27 finds nothing) yet contribute zero novel
    * n-grams.
    *
    * Scale shape: reuses the memoized [[TextDedup.shinglesFor]] frame;
    * one groupBy(shingle) for the corpus-wide first holder, one join back
    * on shingle (co-partitioned with the aggregation — no extra
    * exchange), one per-doc rollup. Linear; novelty ships as exact
    * integer ppm. Docs with < 3 words have no shingles and are absent,
    * matching the shingle-family convention. */
  def noveltyCurve(docs: DataFrame): DataFrame =
    noveltyCurveFrom(TextDedup.shingles(docs, TextDedup.MinhashK))

  private def noveltyCurveFrom(sh: DataFrame): DataFrame = {
    val first = sh.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"),
        col("n_shingles").cast("long").as("n_shingles"),
        col("n_novel").cast("long").as("n_novel"),
        expr("n_novel * 1000000 div n_shingles").cast("long")
          .as("novelty_ppm"))
      .orderBy(col("doc_id").asc)
  }

  def noveltyCurve(spark: SparkSession, dir: String): DataFrame =
    noveltyCurveFrom(TextDedup.shinglesFor(spark, dir))

  /** Chi-squared independence census over the (lang, source) contingency
    * table — "is language distributed independently of source?" is the
    * standard drift/bias screen before mixing a corpus. All arithmetic
    * is integer and mirrored exactly in the oracle: with d = O·N − R·C
    * (O observed cell count, R/C marginals, N total), the cell's scaled
    * contribution is ((d² div (R·C)) · 10⁶) div N — the χ² term
    * (O−E)²/E expanded to clear every fraction, with a fixed flooring
    * order so both engines produce the identical BIGINT. (The flooring
    * loses < 1 ppm per cell vs the real statistic — fine for a census,
    * and exactness-of-comparison beats last-ulp fidelity here.)
    *
    * Scale shape: one cell aggregation (lang × source is domain-sized),
    * marginals derived FROM the cells (no second corpus pass), broadcast
    * back. The corpus is read exactly once. */
  def chi2Census(docs: DataFrame): DataFrame = {
    val cells = graft.core.Caches.scratch(
      docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n")))
    val rows = cells.groupBy(col("lang")).agg(sum(col("n")).as("r"))
    val cols = cells.groupBy(col("source")).agg(sum(col("n")).as("c"))
    val total = cells.agg(sum(col("n")).as("nn"))
    cells
      .join(broadcast(rows), Seq("lang"))
      .join(broadcast(cols), Seq("source"))
      .crossJoin(broadcast(total))
      .withColumn("d", col("n") * col("nn") - col("r") * col("c"))
      .select(col("lang"), col("source"), col("n").cast("long").as("n"),
        expr("r * c div nn").cast("long").as("expected_fl"),
        expr("((d * d div (r * c)) * 1000000) div nn").cast("long")
          .as("chi2_ppm"))
      .orderBy(col("lang").asc, col("source").asc)
  }

  /** Char-mass-WEIGHTED doc-length percentiles per source: the length L
    * such that 25/50/75 % of the source's characters live in docs of
    * length ≤ L. Token-weighted (not doc-weighted) percentiles are what
    * sizing decisions actually need — packing efficiency and truncation
    * loss are functions of where the MASS sits, and a count-weighted
    * median badly misreads a corpus whose few long docs hold most of the
    * tokens.
    *
    * Exact and integer-only via the decomposed-histogram pattern
    * (q83/q143/q152): one (source, length) aggregation, cumulative sums
    * over the per-source VALUE histogram (domain-sized, never corpus
    * rows), threshold picks by integer cross-multiplication — no
    * percentile_cont, no sort of the corpus, no floats. */
  def weightedLengthPercentiles(docs: DataFrame): DataFrame = {
    val hist = docs
      .groupBy(col("source"), col("n_chars").cast("long").as("len"))
      .agg(sum(col("n_chars")).cast("long").as("w"))
    val cumWin = Window.partitionBy(col("source")).orderBy(col("len").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("w")).over(cumWin))
      .withColumn("total", sum(col("w")).over(Window.partitionBy(col("source"))))
    cum.groupBy(col("source"))
      .agg(
        min(when(col("cum") * 100 >= col("total") * 25, col("len")))
          .as("p25_len"),
        min(when(col("cum") * 100 >= col("total") * 50, col("len")))
          .as("p50_len"),
        min(when(col("cum") * 100 >= col("total") * 75, col("len")))
          .as("p75_len"))
      .orderBy(col("source").asc)
  }

  /** Quality × duplication INTERACTION census — operators composed: the
    * q32 quality score crossed with the q160 chunk-level duplication
    * coverage, per quality tier. "Are low-quality docs also the
    * duplicated ones?" decides whether quality filtering and dedup are
    * redundant passes or orthogonal ones — if the mass they remove
    * overlaps, the pipeline runs the cheaper pass first and shrinks the
    * expensive one's input.
    *
    * Scale shape: both inputs are existing linear passes; the join is
    * doc-keyed (both sides partition on doc_id), and the census is
    * 4 rows. Coverage here INCLUDES zero-dup docs (unlike q160's
    * report, which lists only affected docs) — a mean over survivors
    * only would bias the interaction. */
  def qualityDupInteraction(docs: DataFrame): DataFrame = {
    val ch = graft.core.Caches.scratch(
      TextDedup.cdcChunks(docs).select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).as("len")))
    val shared = ch.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select(col("h"))
    val per = ch.groupBy(col("doc_id")).agg(sum(col("len")).as("n_chars"))
    val dup = ch.join(shared, Seq("h"))
      .groupBy(col("doc_id")).agg(sum(col("len")).as("dup_chars"))
    val cov = per.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        expr("coalesce(dup_chars, 0) * 1000000 div n_chars").cast("long")
          .as("dup_ppm"))
    qualityScore(docs).select(col("doc_id"), col("quality"))
      .join(cov, Seq("doc_id"))
      .groupBy(col("quality"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_ppm") > 0, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("dup_ppm")).as("s"))
      .select(col("quality"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_dup_docs").cast("long").as("n_dup_docs"),
        expr("s div n_docs").cast("long").as("mean_dup_ppm"))
      .orderBy(col("quality").asc)
  }

  /** Out-of-vocabulary census per source against a corpus-derived
    * top-K vocabulary — the tokenizer-coverage audit: a source whose
    * token mass falls outside the vocabulary will fragment into long
    * byte-level token sequences at training time, so its effective
    * cost per document is higher than its char count suggests.
    *
    * The vocabulary is the top-K words by corpus frequency with a
    * total (count desc, word asc) tiebreak — deterministic in both
    * engines. Scale shape: word counts are one hash aggregation; the
    * top-K is a TakeOrdered (never a global sort); the K-row vocab
    * broadcasts back onto the token stream. */
  def oovCensus(docs: DataFrame, vocabK: Int = 30): DataFrame = {
    val words = graft.core.Caches.scratch(docs.select(col("source"),
      explode(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
        .as("word")))
    val vocab = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(vocabK)
      .select(col("word"))
    words.join(broadcast(vocab.withColumn("iv", lit(1L))), Seq("word"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("oov_tokens"))
      .select(col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("oov_tokens").cast("long").as("oov_tokens"),
        expr("oov_tokens * 1000000 div n_tokens").cast("long").as("oov_ppm"))
      .orderBy(col("source").asc)
  }

  /** q212: PMI collocation ranking — which word pairs co-occur
    * adjacently far more than their marginals predict. The association
    * number behind collocation extraction and phrase-vocabulary
    * induction (word2vec-phrases style), complementing q120 (which
    * ships CONDITIONAL bigram probability, direction-asymmetric) with
    * the symmetric lift. All arithmetic is exact int64 over the bigram
    * event space: lift_ppm = c_ab·B·10⁶ div (c_a·c_b), B = total
    * bigrams, c_a/c_b the first/second-position marginals — PMI’s
    * exp() is monotone, so ranking by lift IS ranking by PMI with no
    * transcendental in the gate. Support floor c_ab ≥ minCount keeps
    * rare-pair noise out (textbook practice).
    *
    * Scale shape: one bigram count (map-side combinable) feeds the two
    * vocabulary-sized marginal aggregations and the scored join (both
    * joins are vocab-keyed); top-k is a TakeOrdered. At a corpus where
    * c·B·10⁶ nears int64 (B ≳ 3·10⁶ tokens per engine-comparable
    * shard), quantize B to ppm first. */
  def pmiCollocations(docs: DataFrame, k: Int = 20,
      minCount: Int = 5): DataFrame = {
    val bigrams = docs
      .select(split(norm, " ").as("w"))
      .select(explode(expr(
        """transform(slice(w, 1, size(w) - 1), (x, i) ->
          |  struct(x AS w1, element_at(w, i + 2) AS w2))"""
          .stripMargin)).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(length(col("w1")) > 0 && length(col("w2")) > 0)
    val counts = graft.core.Caches.scratch(
      bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")))
    val left = counts.groupBy(col("w1")).agg(sum(col("c")).as("ca"))
    val right = counts.groupBy(col("w2")).agg(sum(col("c")).as("cb"))
    val tot = counts.agg(sum(col("c")).cast("long").as("bt"))
    counts.filter(col("c") >= minCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c").cast("long").as("c_ab"),
        col("ca").cast("long").as("c_a"), col("cb").cast("long").as("c_b"),
        expr("c * bt * 1000000 div (ca * cb)").cast("long").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .orderBy(col("lift_ppm").desc, col("w1").asc, col("w2").asc)
  }

  /** q219: vocabulary-size sweep — the OOV-mass curve behind tokenizer
    * sizing: for each candidate vocab size s (top-s tokens by corpus
    * frequency, deterministic (count desc, token asc) order), the
    * fraction of each source's token OCCURRENCES that falls outside
    * the vocab. Where q182 audits one fixed vocab, the sweep shows the
    * size/coverage trade-off per source — the curve you read before
    * committing a BPE budget.
    *
    * Scale shape: one token pass builds the (source, token) occurrence
    * counts (map-side combinable); the global rank lives on the
    * vocabulary-sized frame (bounded-domain window exemption) and
    * broadcasts back; the sweep is a 3-row expand of the per-
    * (source, token) frame, never of the corpus. */
  def vocabSweep(docs: DataFrame,
      sizes: Seq[Int] = Seq(8, 16, 24)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val occ = docs
      .select(col("source"), explode(split(norm, " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
    val ranked = occ.groupBy(col("token"))
      .agg(sum(col("n")).as("cnt"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("token").asc)))
      .select(col("token"), col("rank"))
    val sz = sizes.toDF("vocab_size")
    occ.join(broadcast(ranked), Seq("token"))
      .crossJoin(broadcast(sz))
      .groupBy(col("vocab_size"), col("source"))
      .agg(sum(col("n")).cast("long").as("n_tokens"),
        sum(when(col("rank") > col("vocab_size"), col("n"))
          .otherwise(0L)).cast("long").as("oov_tokens"))
      .select(col("vocab_size"), col("source"), col("n_tokens"),
        col("oov_tokens"),
        expr("oov_tokens * 1000000 div n_tokens").cast("long")
          .as("oov_ppm"))
      .orderBy(col("vocab_size").asc, col("source").asc)
  }

  /** q226: compression-ratio quality proxy — the Gopher/RefinedWeb
    * heuristic: highly compressible text is repetitive boilerplate,
    * incompressible text is often noise; the useful middle band is
    * where natural language lives. Per source: doc count, mean
    * compression ratio in ppm (compressed/raw bytes), and how many
    * docs fall under a "too compressible" floor.
    *
    * The codec is a MODEL of a word-dictionary coder, not zlib: a
    * doc's compressed size is its dictionary (every distinct
    * whitespace token stored once, `bytes + 1` each) plus one fixed-
    * width reference per token occurrence (1 byte while the doc's
    * vocabulary fits 8 bits, 2 bytes above). Rounds 1-13 ran DEFLATE
    * here, which is bit-stable per zlib build but has no SQL twin —
    * the one `err: "no_oracle"` hole in the driver's gate. The
    * dictionary model keeps the property the operator exists for
    * (repetitive text scores far below diverse text) while being pure
    * integer arithmetic on the token multiset, reproducible in any
    * engine (round-14, VERDICT item 2).
    *
    * Scale shape: one expression-only pass — `split` /
    * `array_distinct` / `aggregate` run inside whole-stage codegen
    * with NO per-doc explode and no UDF barrier (the old form paid a
    * mapPartitions + native-zlib round trip per doc); everything
    * after is one combinable aggregate. */
  def compressionQuality(docs: DataFrame,
      floorPpm: Long = 300000L): DataFrame = {
    val ratios = docs
      .select(col("source"),
        expr("octet_length(text)").cast("long").as("raw_bytes"),
        expr("split(text, ' ')").as("toks"))
      .filter(col("raw_bytes") > 0)
      .select(col("source"), col("raw_bytes"),
        expr("size(toks)").cast("long").as("n_tokens"),
        expr("array_distinct(toks)").as("dict"))
      .select(col("source"), col("raw_bytes"),
        (expr("aggregate(dict, 0L, (acc, w) -> acc + octet_length(w) + 1L)") +
          col("n_tokens") *
            when(expr("size(dict)") <= 255, 1L).otherwise(2L))
          .as("model_bytes"))
      .select(col("source"),
        expr("model_bytes * 1000000 div raw_bytes").as("ratio_ppm"))
    ratios.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(ratio_ppm) div count(1)").cast("long")
          .as("mean_ratio_ppm"),
        sum(when(col("ratio_ppm") < floorPpm, 1L).otherwise(0L))
          .as("n_too_compressible"))
      .orderBy(col("source").asc)
  }

  /** q253: quality-filter LENGTH-CALIBRATION matrix — per (64-char
    * length band × rubric score) document counts with each band's score
    * distribution in ppm. The audit every production quality gate needs
    * before shipping: if the "quality" rubric is secretly a length
    * proxy, the high scores concentrate in a few bands and this table
    * shows it directly (the rubric's length term makes SOME correlation
    * expected; the calibration quantifies how much of the band's mass
    * it moves). Exact integers end to end.
    *
    * Scale shape: one linear rubric pass (q32's docFeatures) joined to a
    * 2-column projection on doc_id, one map-side-combinable aggregation
    * into a ≤ (bands × 4)-row frame, and a window over that domain-sized
    * frame. */
  def qualityLengthCalibration(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs).select(col("doc_id"), col("quality"))
    docs.select(col("doc_id"), expr("n_chars div 64").as("len_bucket"))
      .join(q, Seq("doc_id"))
      .groupBy(col("len_bucket"), col("quality"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("bucket_share_ppm",
        expr("n_docs * 1000000 div sum(n_docs) over "
          + "(partition by len_bucket)").cast("long"))
      .select(col("len_bucket").cast("long").as("len_bucket"),
        col("quality").cast("long").as("quality"),
        col("n_docs").cast("long").as("n_docs"), col("bucket_share_ppm"))
      .orderBy(col("len_bucket").asc, col("quality").asc)
  }

  /** q285: CCNet-STYLE PERPLEXITY BUCKETS — per language, rank every
    * document by its bigram-LM score (the q133 model) and split the
    * ranking into head / middle / tail terciles, reporting each bucket's
    * doc and token mass and its score range. This is the exact shape of
    * the CCNet curation step (Wenzek et al.): score a crawl against a
    * clean-reference LM per language, keep "head" (most reference-like),
    * treat "tail" as suspect. Spelled in the repo's integer-ppm LM so the
    * cross-engine gate pins it bit-for-bit; ties broken by doc_id so the
    * tercile boundary is deterministic.
    *
    * Scale shape: one bigram shuffle for the LM (vocab²-bounded table),
    * one doc-keyed score join, then a per-lang ranking window — the
    * window partitions by lang, so at 100 TB each language ranks
    * independently (and a skewed lang is exactly the case where the
    * tercile is wanted per-lang, not global). */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), split(norm, " ").as("w"))
      .withColumn("n_tokens", size(col("w")))
    val bigrams = base.select(col("doc_id"), col("lang"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i+2) AS w2))")).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val docBg = bigrams
      .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val lm = bigrams.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("ctx_cnt",
        sum(col("cnt")).over(Window.partitionBy(col("lang"), col("w1"))))
      .select(col("lang"), col("w1"), col("w2"),
        ((col("cnt") * lit(1000000L)) / col("ctx_cnt")).cast("long").as("p_ppm"))
    val scored = docBg.join(lm, Seq("lang", "w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"), sum(col("m") * col("p_ppm")).as("sum_ppm"))
      .select(col("doc_id"),
        (col("sum_ppm") / col("n_bigrams")).cast("long").as("score_ppm"))
    base.select(col("doc_id"), col("lang"), col("n_tokens"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("score_ppm", coalesce(col("score_ppm"), lit(0L)))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("score_ppm").desc, col("doc_id").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("bucket", expr("(rnk - 1) * 3 div n"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        min(col("score_ppm")).as("min_score_ppm"),
        max(col("score_ppm")).as("max_score_ppm"))
      .select(col("lang"), col("bucket").cast("long").as("bucket"),
        col("n_docs").cast("long").as("n_docs"),
        col("total_tokens").cast("long").as("total_tokens"),
        col("min_score_ppm").cast("long").as("min_score_ppm"),
        col("max_score_ppm").cast("long").as("max_score_ppm"))
      .orderBy(col("lang").asc, col("bucket").asc)
  }

  /** q286: GOPHER-STYLE QUALITY-RULE GATE with per-rule and FIRST-FAIL
    * attribution — the multi-rule heuristic filter of Rae et al.'s Gopher
    * pipeline (word-count band, mean-word-length band, stopword floor,
    * type-token-ratio floor, single-word dominance cap), reported as a
    * census: per rule, how many docs fail it at all and for how many it
    * is the FIRST failing rule (exclusive attribution — the number the
    * pipeline owner needs to decide which rule to tune), plus an `all`
    * row for the docs failing any rule. Thresholds are calibrated to the
    * synthetic corpus so every rule discriminates; at 100 TB they are the
    * published Gopher bands.
    *
    * Exact integers throughout: the mean-word-length band is spelled as
    * `10·Σlen BETWEEN 30·n AND 45·n` (no division), TTR and dominance as
    * floor-ppm of non-negative integers.
    *
    * Scale shape: one (doc, word) count aggregation — the same shuffle
    * every tokenizing pass pays — reduced to per-doc sufficient
    * statistics, then a 6-row census; nothing quadratic, no windows over
    * the corpus. */
  /** Per-doc Gopher-rule failure flags (the q286 rubric, one row per
    * doc) — shared by the census (q286) and by consumers that need the
    * gate as a per-doc label (q331 uses pass/fail as the tuning
    * target). */
  private[llm] def gopherFlags(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"), explode(split(norm, " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
    words.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("u"),
        max(col("cnt")).as("maxc"),
        sum(when(col("word").isin(Stopwords.map(lit): _*), col("cnt"))
          .otherwise(lit(0L))).as("stop_cnt"),
        sum(length(col("word")) * col("cnt")).as("sumlen"))
      .select(col("doc_id"),
        (!col("n").between(20, 100)).cast("long").as("f1"),
        (col("sumlen") * 10 < col("n") * 30 ||
          col("sumlen") * 10 > col("n") * 45).cast("long").as("f2"),
        (col("stop_cnt") < 2).cast("long").as("f3"),
        expr("CAST(u * 1000000 div n < 400000 AS LONG)").as("f4"),
        expr("CAST(maxc * 1000000 div n > 120000 AS LONG)").as("f5"))
  }

  /** The q286 gate as a per-doc binary label: 1 = passes all five
    * Gopher rules. */
  def gopherPass(docs: DataFrame): DataFrame =
    gopherFlags(docs).select(col("doc_id"),
      (col("f1") + col("f2") + col("f3") + col("f4") + col("f5") === 0)
        .cast("long").as("label"))

  def gopherRules(docs: DataFrame): DataFrame = {
    val perDoc = gopherFlags(docs)
      .select(col("f1"), col("f2"), col("f3"), col("f4"), col("f5"))
      .withColumn("first_fail", expr(
        "CASE WHEN f1 = 1 THEN 1 WHEN f2 = 1 THEN 2 WHEN f3 = 1 THEN 3 " +
          "WHEN f4 = 1 THEN 4 WHEN f5 = 1 THEN 5 ELSE 0 END"))
    val agg = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("f1")).as("s1"), sum(col("f2")).as("s2"), sum(col("f3")).as("s3"),
      sum(col("f4")).as("s4"), sum(col("f5")).as("s5"),
      sum((col("first_fail") === 1).cast("long")).as("ff1"),
      sum((col("first_fail") === 2).cast("long")).as("ff2"),
      sum((col("first_fail") === 3).cast("long")).as("ff3"),
      sum((col("first_fail") === 4).cast("long")).as("ff4"),
      sum((col("first_fail") === 5).cast("long")).as("ff5"),
      sum((col("first_fail") > 0).cast("long")).as("sany"))
    agg.selectExpr("n_docs", "stack(6, " +
        "'r1_word_count', s1, ff1, " +
        "'r2_mean_word_len', s2, ff2, " +
        "'r3_stopword_floor', s3, ff3, " +
        "'r4_ttr_floor', s4, ff4, " +
        "'r5_dominance_cap', s5, ff5, " +
        "'r6_any', sany, sany) AS (rule, n_fail, n_first_fail)")
      .select(col("rule"), col("n_docs").cast("long").as("n_docs"),
        col("n_fail").cast("long").as("n_fail"),
        col("n_first_fail").cast("long").as("n_first_fail"),
        expr("n_fail * 1000000 div n_docs").cast("long").as("fail_ppm"))
      .orderBy(col("rule").asc)
  }

  /** q287: FILTER DEMOGRAPHIC-PARITY AUDIT — does the q32 quality gate
    * (pass = all three rubric signals ok) admit every language at a
    * comparable rate? Quality heuristics tuned on high-resource text are
    * a documented way curation pipelines silently starve low-resource
    * languages; this is the four-fifths-rule audit (each group's pass
    * rate ≥ 80% of the overall rate) applied to a data filter. Per lang:
    * docs, passes, pass rate, ratio to the overall rate, and the
    * four-fifths verdict — all floor-ppm integers.
    *
    * Scale shape: one linear rubric pass, a lang-keyed census, and a
    * grand-total window over the ≤|langs|-row frame. */
  def filterParity(docs: DataFrame): DataFrame = {
    val withW = docs.withColumn("nrm", norm).withColumn("w", split(col("nrm"), " "))
    val votes = withW
      .withColumn("n_tokens", size(col("w")))
      .withColumn("stop_cnt",
        size(filter(col("w"), x => x.isin(Stopwords.map(lit): _*))))
      .withColumn("mean_token_len",
        length(regexp_replace(col("nrm"), " ", "")).cast("double")
          / col("n_tokens"))
      .select(col("lang"),
        (col("n_tokens").between(20, 1000) && col("stop_cnt") > 0 &&
          col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0)
          .cast("long").as("pass"))
    votes.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"))
      .withColumn("pass_ppm", expr("n_pass * 1000000 div n_docs"))
      .withColumn("overall_ppm", expr(
        "sum(n_pass) over () * 1000000 div sum(n_docs) over ()"))
      .withColumn("ratio_ppm", expr("pass_ppm * 1000000 div overall_ppm"))
      .select(col("lang"), col("n_docs").cast("long").as("n_docs"),
        col("n_pass").cast("long").as("n_pass"),
        col("pass_ppm").cast("long").as("pass_ppm"),
        col("overall_ppm").cast("long").as("overall_ppm"),
        col("ratio_ppm").cast("long").as("ratio_ppm"),
        (col("ratio_ppm") >= 800000L).as("four_fifths_ok"))
      .orderBy(col("lang").asc)
  }

  /** q288: LEAVE-ONE-SOURCE-OUT SUPPORT — data valuation by sufficient-
    * statistic subtraction. For every source, score its bigrams under
    * the LM trained on EVERYTHING ELSE: a source the rest of the corpus
    * "supports" (high coverage, high mean probability) is redundant; a
    * source with low LOO support carries unique content (or noise). This
    * is the cheap end of the influence-function family: instead of
    * retraining |sources| models, the leave-one-out counts come from ONE
    * global count table minus the source's own contribution
    * (loo_cnt = cnt − m, loo_ctx = ctx − sctx) — the same trick exact
    * cross-validation uses on additive sufficient statistics.
    *
    * Per source: bigram tokens, tokens covered by the LOO LM (loo count
    * and context both > 0), floor-ppm coverage, and the mean LOO
    * probability over covered tokens — all exact integers.
    *
    * Scale shape: one bigram shuffle to (source, w1, w2) counts, three
    * linear recounts of that reduced frame, joins back on its own keys.
    * Never a per-source model build; never a pair join. */
  def losoSupport(docs: DataFrame): DataFrame = {
    val bigrams = docs.select(col("source"), split(norm, " ").as("w"))
      .select(col("source"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "struct(x AS w1, element_at(w, i+2) AS w2))")).as("bg"))
      .select(col("source"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val sc = graft.core.Caches.scratch(
      bigrams.groupBy(col("source"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("m")))
    val cnt = sc.groupBy(col("w1"), col("w2")).agg(sum(col("m")).as("cnt"))
    val ctx = cnt.groupBy(col("w1")).agg(sum(col("cnt")).as("ctx"))
    val sctx = sc.groupBy(col("source"), col("w1")).agg(sum(col("m")).as("sctx"))
    sc.join(cnt, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .join(sctx, Seq("source", "w1"))
      .withColumn("loo_cnt", col("cnt") - col("m"))
      .withColumn("loo_ctx", col("ctx") - col("sctx"))
      .withColumn("covered",
        (col("loo_cnt") > 0 && col("loo_ctx") > 0).cast("long"))
      .withColumn("p_ppm", when(col("covered") === 1,
        expr("loo_cnt * 1000000 div loo_ctx")).otherwise(lit(0L)))
      .groupBy(col("source"))
      .agg(sum(col("m")).as("n_bigrams"),
        sum(col("m") * col("covered")).as("covered_bigrams"),
        sum(col("m") * col("p_ppm")).as("sum_p"))
      .select(col("source"),
        col("n_bigrams").cast("long").as("n_bigrams"),
        col("covered_bigrams").cast("long").as("covered_bigrams"),
        expr("covered_bigrams * 1000000 div n_bigrams").cast("long")
          .as("support_ppm"),
        expr("CASE WHEN covered_bigrams > 0 THEN sum_p div covered_bigrams "
          + "ELSE 0 END").cast("long").as("mean_p_ppm"))
      .orderBy(col("source").asc)
  }

  /** q292: PAIRWISE SOURCE TOTAL-VARIATION DISTANCE MATRIX — for every
    * source pair, the TV distance ½·Σ|p(w) − q(w)| between their unigram
    * distributions (floor-ppm shares). TV is the linear-arithmetic
    * member of the distribution-distance family (no logs, unlike KL/JS),
    * which is what lets a cross-engine hash gate pin it exactly; it is
    * the standard "how different are these corpora" number behind
    * mixture design and duplicate-source detection (complements q84's
    * overlap — which measures SHARED content — by measuring
    * distributional SHAPE even with zero shared documents).
    *
    * Scale shape: one (source, word) count shuffle; the matrix join runs
    * on the VOCAB-bounded zero-filled share grid (|sources|·|vocab|
    * rows), never on the corpus — at 100 TB cap vocab to the global
    * top-V first (the q182 OOV pattern), which bounds the grid at
    * |sources|·V. */
  def sourceTvMatrix(docs: DataFrame): DataFrame = {
    val words = docs.select(col("source"), explode(split(norm, " ")).as("word"))
    val counts = graft.core.Caches.scratch(
      words.groupBy(col("source"), col("word")).agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val grid = counts.select(col("source")).distinct()
      .crossJoin(counts.select(col("word")).distinct())
    val filled = grid.join(counts, Seq("source", "word"), "left")
      .join(totals, Seq("source"))
      .select(col("source"), col("word"),
        expr("coalesce(c, 0) * 1000000 div t").as("share_ppm"))
    filled.as("fa").join(filled.as("fb"),
        col("fa.word") === col("fb.word")
          && col("fa.source") < col("fb.source"))
      .groupBy(col("fa.source").as("source_a"),
        col("fb.source").as("source_b"))
      .agg(count(lit(1)).as("vocab"),
        sum(abs(col("fa.share_ppm") - col("fb.share_ppm"))).as("sdiff"))
      .select(col("source_a"), col("source_b"),
        col("vocab").cast("long").as("vocab"),
        expr("sdiff div 2").cast("long").as("tv_ppm"))
      .orderBy(col("source_a").asc, col("source_b").asc)
  }

  /** q293: MANN–WHITNEY U per language vs the rest — the
    * distribution-free two-sample test statistic over document lengths,
    * with the common-language effect size (CLES = U/(n₁n₂) =
    * P(random lang doc longer than random other doc), counting ties
    * half). The rank-sum machinery is EXACT in integers by working in
    * DOUBLED midranks: for a value with c copies and f smaller rows,
    * 2·midrank = 2f + c + 1 (always odd ⇒ always integer), so
    * 2U = ΣR₂ − n₁(n₁+1) with no halves anywhere.
    *
    * Scale shape: ranks come from a VALUE-DOMAIN census (distinct
    * n_chars values), not a corpus sort — the only window is a prefix
    * sum over that domain-sized frame (the q188 two-level-prefix-sum
    * discipline applies if the domain ever grows); the per-lang U is a
    * linear reaggregation. The ppm CLES keeps n₁·n₂ in int64 — at
    * larger-than-int64 pair counts, divide through the census first. */
  def mannWhitney(docs: DataFrame): DataFrame = {
    val vals = docs.select(col("lang"), col("n_chars").as("v"))
    val vc = vals.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .withColumn("f", coalesce(sum(col("c")).over(
        // domain-sized: n_chars value histogram, not docs
        Window.orderBy(col("v").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("v"), (lit(2L) * col("f") + col("c") + 1).as("mr2"))
    val tot = vals.agg(count(lit(1)).as("n_total"))
    vals.join(vc, Seq("v"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n1"), sum(col("mr2")).as("r2"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("n1").cast("long").as("n1"),
        (col("n_total") - col("n1")).cast("long").as("n2"),
        expr("r2 - n1 * (n1 + 1)").cast("long").as("u2"),
        expr("(r2 - n1 * (n1 + 1)) * 1000000 div "
          + "(2 * n1 * (n_total - n1))").cast("long").as("cles_ppm"))
      .orderBy(col("lang").asc)
  }

  /** q294: DETERMINISTIC RANDOMIZATION TEST — is the English-doc length
    * difference explainable by chance? B = 128 pseudo-random relabelings
    * (hash-derived, so both engines draw the SAME "randomness") reassign
    * every doc to group A with probability n₁/n — spelled exactly as
    * `hash mod n < n₁`, an integer comparison — and the two-sided
    * p-value is the add-one-smoothed share of relabelings whose absolute
    * mean difference meets the observed one. The mean comparison never
    * divides: |s₁ᵇn₂ᵇ − s₂ᵇn₁ᵇ|·(n₁n₂) ≥ |s₁n₂ − s₂n₁|·(n₁ᵇn₂ᵇ) is the
    * cross-multiplied form (a degenerate relabeling with an empty side
    * has RHS 0 and counts as extreme — same verdict in both engines).
    *
    * Scale shape: one corpus pass fans out ×B inside codegen
    * (explode(sequence)), reduces map-side to B rows; the observed
    * moments arrive broadcast. B is a constant, so at 100 TB this stays
    * a single linear pass. */
  def permutationTest(docs: DataFrame, b: Int = 128): DataFrame = {
    val base = docs.select(col("doc_id"), col("n_chars"),
      (col("lang") === "en").cast("long").as("is_a"))
    val tot = base.agg(count(lit(1)).as("n"), sum(col("is_a")).as("n1"),
        sum(col("n_chars")).as("s"),
        sum(col("is_a") * col("n_chars")).as("s1"))
      .select(col("n"), col("n1"), (col("n") - col("n1")).as("n2"),
        col("s1"), (col("s") - col("s1")).as("s2"), col("s"))
      .withColumn("obs_num", abs(col("s1") * col("n2") - col("s2") * col("n1")))
    val perB = base.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_chars"), col("n"), col("n1"),
        explode(expr(s"sequence(0, ${b - 1})")).as("b"))
      .withColumn("assign",
        (h60(concat(lit("perm:"), col("b").cast("string"),
          lit(":"), col("doc_id").cast("string"))) % col("n") < col("n1"))
          .cast("long"))
      .groupBy(col("b"))
      .agg(sum(col("assign")).as("n1b"),
        sum(col("assign") * col("n_chars")).as("s1b"))
    perB.crossJoin(broadcast(tot))
      .select(col("b"), col("n1b"), (col("n") - col("n1b")).as("n2b"),
        col("s1b"), (col("s") - col("s1b")).as("s2b"),
        col("n1"), col("n2"), col("obs_num"))
      .withColumn("extreme",
        (abs(col("s1b") * col("n2b") - col("s2b") * col("n1b"))
          * (col("n1") * col("n2"))
          >= col("obs_num") * (col("n1b") * col("n2b"))).cast("long"))
      .groupBy(col("n1"), col("n2"), col("obs_num"))
      .agg(count(lit(1)).as("n_perms"), sum(col("extreme")).as("n_extreme"))
      .select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        expr("obs_num * 1000 div (n1 * n2)").cast("long")
          .as("obs_absdiff_milli"),
        col("n_perms").cast("long").as("n_perms"),
        col("n_extreme").cast("long").as("n_extreme"),
        expr("(1 + n_extreme) * 1000000 div (n_perms + 1)").cast("long")
          .as("p_ppm"))
  }

  /** q295: BLEU-STYLE CORPUS OVERLAP — per source, the modified
    * (clipped) n-gram precision of the source against the REST of the
    * corpus for n = 1, 2, 3: Σ_g min(c_S(g), c_corpus(g) − c_S(g)) over
    * the source's gram total. This is corpus-level BLEU precision with
    * the rest-of-corpus as reference — the standard instrument for
    * "is this (possibly synthetic) source just re-mixing what the corpus
    * already says?" High overlap at n=3 with ordinary overlap at n=1
    * flags templated/regurgitated phrasing specifically (on this
    * fixture n=1,2 saturate near 10⁶ — tiny vocab — and n=3 is the
    * discriminating order).
    *
    * The clip count needs no pair join: the reference count is the
    * global count MINUS the source's own (the q288 subtraction trick).
    *
    * Scale shape: one gram-count shuffle per n (vocab-bounded frames),
    * one linear recount for the global table, a source census. */
  def bleuOverlap(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"), split(norm, " ").as("w"))
    val g1 = toks.select(col("source"), lit(1L).as("n"),
      explode(col("w")).as("gram"))
    val g2 = toks.select(col("source"), lit(2L).as("n"), explode(expr(
        "transform(slice(w, 1, size(w)-1), (x, i) -> " +
          "concat(x, ' ', element_at(w, i+2)))")).as("gram"))
    val g3 = toks.select(col("source"), lit(3L).as("n"), explode(expr(
        "transform(slice(w, 1, size(w)-2), (x, i) -> " +
          "concat(x, ' ', element_at(w, i+2), ' ', element_at(w, i+3)))"))
      .as("gram"))
    val counts = graft.core.Caches.scratch(g1.unionAll(g2).unionAll(g3)
      .groupBy(col("source"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c")))
    val glob = counts.groupBy(col("n"), col("gram"))
      .agg(sum(col("c")).as("ct"))
    counts.join(glob, Seq("n", "gram"))
      .withColumn("clipped", least(col("c"), col("ct") - col("c")))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("c")).as("total_grams"), sum(col("clipped")).as("clipped_grams"))
      .select(col("source"), col("n").as("ngram"),
        col("total_grams").cast("long").as("total_grams"),
        col("clipped_grams").cast("long").as("clipped_grams"),
        expr("clipped_grams * 1000000 div total_grams").cast("long")
          .as("precision_ppm"))
      .orderBy(col("source").asc, col("ngram").asc)
  }

  /** q296: QUANTILE-MAPPING TABLE — per source, the exact decile
    * boundaries of document length next to the GLOBAL deciles, with the
    * shift at each decile. This is the lookup table quantile
    * normalization uses to re-shape one source's length distribution
    * onto the corpus-wide one (the balancing step before length-bucketed
    * packing mixes sources), and it doubles as a distribution-drift
    * readout: a source whose shifts are all one-signed is systematically
    * long/short, one with mixed signs differs in shape.
    *
    * Exact rank arithmetic: decile k boundary = value at rank
    * ⌈k·n/10⌉ = (k·n + 9) div 10 — and BOTH the per-source and the
    * global order statistics go through the bucket-offset OrderStats
    * kernel (one values frame with an '__all__' twin partition), so no
    * corpus-wide sort window exists in the plan.
    *
    * Scale shape: values are scanned by the kernel's census passes; the
    * positions frame is |sources+1|·9 rows; output joins are on that
    * domain-sized frame. */
  def quantileMapping(docs: DataFrame): DataFrame = {
    val vals = graft.core.Caches.scratch(
      docs.select(col("source").as("part"), col("n_chars").as("v"))
        .unionAll(docs.select(lit("__all__").as("part"),
          col("n_chars").as("v"))))
    // round-13: one census aggregate carries count AND the kernel's
    // bounds — saves valueAtRank's own bounds pass over `vals`
    val census = graft.core.Caches.trackCheckpoint(
      vals.groupBy(col("part")).agg(count(lit(1)).as("cn"),
          min(col("v")).as("vlo"), max(col("v")).as("vhi"))
        .localCheckpoint(true))
    val positions = census
      .select(col("part"), explode(expr("sequence(1, 9)")).as("q"),
        col("cn"))
      .select(col("part"), col("q").cast("long").as("q"),
        expr("(q * cn + 9) div 10").as("pos"))
    val bounds = census.select(col("part"), col("vlo").as("lo"),
      (col("vhi") - col("vlo") + 1).as("span"))
    val at = graft.analytics.OrderStats.valueAtRank(vals, positions, bounds)
    val globalAt = at.filter(col("part") === "__all__")
      .select(col("q"), col("v").as("global_chars"))
    at.filter(col("part") =!= "__all__")
      .select(col("part").as("source"), col("q").as("decile"),
        col("v").as("src_chars"))
      .join(broadcast(globalAt), col("decile") === globalAt("q"))
      .select(col("source"), col("decile").cast("long").as("decile"),
        col("src_chars").cast("long").as("src_chars"),
        col("global_chars").cast("long").as("global_chars"),
        (col("src_chars") - col("global_chars")).cast("long")
          .as("shift_chars"))
      .orderBy(col("source").asc, col("decile").asc)
  }

  /** q302: COMPRESSION-DICTIONARY CANDIDATE MINING — the top trigram
    * phrases by modeled dictionary gain (c−1)·(len−2): every occurrence
    * beyond the first saves the phrase's bytes minus a token + separator
    * overhead. This is the candidate-selection pass of shared-dictionary
    * training (zstd --train and friends) expressed relationally — the
    * storage-engineering sibling of q71's boilerplate census (which
    * ranks by document REACH; a dictionary cares about total repeated
    * BYTES). Deterministic tiebreak on the phrase itself.
    *
    * Scale shape: one gram-count shuffle, then a global top-k
    * (TakeOrdered — never a full sort); the rank window runs over the
    * ≤k-row result. */
  def dictMining(docs: DataFrame, k: Int = 20): DataFrame = {
    val grams = docs.select(split(norm, " ").as("w"))
      .select(explode(expr(
        "transform(slice(w, 1, size(w)-2), (x, i) -> " +
          "concat(x, ' ', element_at(w, i+2), ' ', element_at(w, i+3)))"))
        .as("gram"))
    grams.groupBy(col("gram")).agg(count(lit(1)).as("c"))
      .withColumn("savings", (col("c") - 1) * (length(col("gram")) - 2))
      .orderBy(col("savings").desc, col("gram").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        // domain-sized: applied after .limit(k)
        Window.orderBy(col("savings").desc, col("gram").asc)).cast("long"))
      .select(col("rank"), col("gram"),
        col("c").cast("long").as("occurrences"),
        col("savings").cast("long").as("savings_bytes"))
      .orderBy(col("rank").asc)
  }

  /** q304: WILSON CONFIDENCE BOUNDS for the per-language quality-gate
    * pass rate — the uncertainty companion to the q287 parity audit: a
    * small language's pass rate is a noisy estimate, and comparing point
    * rates (as the four-fifths rule does) can cry bias where the
    * interval says "insufficient data". Wilson at 95% (z² enters as a
    * fixed full-precision literal, like the Benford table) with the
    * floating tail — one division, one correctly-rounded sqrt, fixed
    * multiply order — spelled identically in both engines and floored.
    * `covers_overall` = the pooled rate lies inside the language's
    * interval.
    *
    * Scale shape: the q287 linear rubric pass and a |langs|-row frame;
    * all interval arithmetic happens on that census. */
  def wilsonBounds(docs: DataFrame): DataFrame = {
    val z = 1.959963984540054
    val z2 = 3.841458820694124
    val withW = docs.withColumn("nrm", norm).withColumn("w", split(col("nrm"), " "))
    val votes = withW
      .withColumn("n_tokens", size(col("w")))
      .withColumn("stop_cnt",
        size(filter(col("w"), x => x.isin(Stopwords.map(lit): _*))))
      .withColumn("mean_token_len",
        length(regexp_replace(col("nrm"), " ", "")).cast("double")
          / col("n_tokens"))
      .select(col("lang"),
        (col("n_tokens").between(20, 1000) && col("stop_cnt") > 0 &&
          col("mean_token_len") >= 2.0 && col("mean_token_len") <= 12.0)
          .cast("long").as("pass"))
    votes.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pass")).as("n_pass"))
      .withColumn("overall_ppm", expr(
        "sum(n_pass) over () * 1000000 div sum(n_docs) over ()"))
      .withColumn("rad", lit(z) * sqrt(
        col("n_pass").cast("double")
          * (col("n_docs") - col("n_pass")).cast("double") / col("n_docs")
          + lit(z2 / 4)))
      .select(col("lang"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_pass").cast("long").as("n_pass"),
        expr("n_pass * 1000000 div n_docs").cast("long").as("pass_ppm"),
        floor(lit(1000000.0)
          * (col("n_pass").cast("double") + lit(z2 / 2) - col("rad"))
          / (col("n_docs") + lit(z2))).cast("long").as("lo_ppm"),
        floor(lit(1000000.0)
          * (col("n_pass").cast("double") + lit(z2 / 2) + col("rad"))
          / (col("n_docs") + lit(z2))).cast("long").as("hi_ppm"),
        col("overall_ppm").cast("long").as("overall_ppm"))
      .withColumn("covers_overall",
        col("overall_ppm") >= col("lo_ppm")
          && col("overall_ppm") <= col("hi_ppm"))
      .orderBy(col("lang").asc)
  }

  /** q309: NESTED-SUBSAMPLE VOCABULARY CURVE — distinct word types and
    * distinct trigram shingles at hash-nested 10% / 25% / 50% / 100%
    * corpus samples. The "what does more data buy" instrument: type
    * counts growing near-linearly in the sample say the corpus is
    * nowhere near vocabulary saturation (keep collecting); a flattening
    * curve says new data is mostly re-spending known types (dedup /
    * diversify instead). Nested by construction (a doc in the 10% sample
    * is in every larger one — same hash, larger cutoff), so the curve is
    * monotone and comparable point to point; q151 measures growth in
    * doc-id order, this measures it under uniform sampling.
    *
    * Scale shape: one explode per gram kind with the 4 membership flags
    * as map-side expressions; distinct counts via one aggregation per
    * (kind, fraction) on the gram-count frame — never 4 corpus scans. */
  def sampleCurve(docs: DataFrame): DataFrame = {
    val fracs = Seq(10, 25, 50, 100)
    val bucket = h60(concat(lit("curve:"), col("doc_id").cast("string"))) % 100
    val toks = docs.select(col("doc_id"), bucket.as("b"), split(norm, " ").as("w"))
    val words = toks.select(col("b"), explode(col("w")).as("gram"))
      .withColumn("kind", lit("word"))
    val tris = toks.select(col("b"), explode(expr(
        "transform(slice(w, 1, size(w)-2), (x, i) -> " +
          "concat(x, ' ', element_at(w, i+2), ' ', element_at(w, i+3)))"))
        .as("gram"))
      .withColumn("kind", lit("trigram"))
    val minB = words.unionAll(tris)
      .groupBy(col("kind"), col("gram")).agg(min(col("b")).as("min_b"))
    val out = fracs.map { f =>
      minB.filter(col("min_b") < f)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n_types"))
        .withColumn("sample_pct", lit(f.toLong))
    }.reduce(_ unionByName _)
    out.select(col("kind"), col("sample_pct"),
        col("n_types").cast("long").as("n_types"))
      .orderBy(col("kind").asc, col("sample_pct").asc)
  }

  /** q324: 1-D WASSERSTEIN (earth-mover) distance matrix between
    * per-source document-LENGTH distributions — the transport metric
    * companion to q292's TV matrix and q188's KS distance: TV counts
    * probability mass that differs, KS takes the worst single gap, W₁
    * weighs HOW FAR mass must move (two sources whose lengths differ by
    * 10 chars vs 1000 chars have the same TV but wildly different W₁ —
    * the number a curriculum/packing design actually cares about).
    *
    * Exact integer form via the CDF identity W₁ = ∫|F_a − F_b| dx over
    * the merged support: `Σ |cdf_a − cdf_b|_ppm · gap_to_next_value`,
    * units ppm·chars. Every term is a floor-div/abs on exact counts —
    * no real arithmetic.
    *
    * Scale shape: one (source, n_chars) count shuffle, then everything
    * runs on the zero-filled |sources|·|support| grid (support =
    * distinct lengths, domain-bounded); the pair join is grid×sources —
    * never touches the corpus. At 100 TB with genuinely continuous
    * lengths, bucket the support first (q124 equi-depth) — same
    * identity, coarser integral. */
  def sourceWassersteinMatrix(docs: DataFrame): DataFrame = {
    // Everything below the first aggregation is DOMAIN-sized (sources ×
    // distinct char-lengths), but the grid/cdf/self-join pipeline is
    // ~8 stages — at 32 cores each paid a 32-task launch round for a
    // few thousand rows (measured 1.2 s at 32c vs 0.76 s at 8c, the
    // round-13 q278 inversion shape again). One explicit single-
    // partition coalesce after the data-sized reduction turns the rest
    // into 1-task stages: 0.4 s at 32c, and the at-scale story is
    // unchanged — the corpus-sized work is exactly the one groupBy
    // above the coalesce.
    val counts = graft.core.Caches.scratch(
      docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("c"))).coalesce(1)
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val grid = counts.select(col("source")).distinct()
      .crossJoin(counts.select(col("n_chars")).distinct())
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars").asc)
    val cdfs = grid.join(counts, Seq("source", "n_chars"), "left")
      .join(totals, Seq("source"))
      .withColumn("cum", sum(coalesce(col("c"), lit(0L))).over(w))
      .select(col("source"), col("n_chars"),
        expr("cum * 1000000 div t").as("cdf_ppm"))
      .withColumn("gap",
        coalesce(lead(col("n_chars"), 1).over(w) - col("n_chars"),
          lit(0L)))
    cdfs.as("fa").join(cdfs.as("fb"),
        col("fa.n_chars") === col("fb.n_chars")
          && col("fa.source") < col("fb.source"))
      .groupBy(col("fa.source").as("source_a"),
        col("fb.source").as("source_b"))
      .agg(sum(abs(col("fa.cdf_ppm") - col("fb.cdf_ppm"))
        * col("fa.gap")).as("w1"))
      .select(col("source_a"), col("source_b"),
        col("w1").cast("long").as("w1_ppm_chars"))
      .orderBy(col("source_a").asc, col("source_b").asc)
  }

  /** q332: PICKANDS-STYLE heavy-tail index audit of per-document token
    * length, per language — the shard-planning instrument the length
    * censuses (q154 buckets, q176 weighted percentiles) lack: how FAT is
    * the tail, not where it is. Pickands (1975) reads the tail index ξ
    * off three upper order statistics; here the 1/64, 1/32 and 1/16 tail
    * quantiles x₁ ≥ x₂ ≥ x₄ give ξ = log₂((x₁−x₂)/(x₂−x₄)). A ratio
    * around 10⁶ ppm (ξ ≈ 0) is exponential-tailed; materially above it
    * is power-law territory, where P99-length stragglers dominate packed
    * shards and a token-budget packer (q94/q107) needs a long-doc split
    * rule. The gate carries the exact integer ratio in ppm (ξ is the
    * analyst's one log away — a cross-engine libm log would risk 1-ulp
    * hash drift for zero information gain).
    *
    * Exact integers throughout: order statistics are computed on the
    * per-(lang, len) VALUE-DOMAIN census (the q293/q330 midrank trick —
    * cumulative counts over distinct lengths, never a corpus-wide rank
    * window), rank rₖ = ceil(n/64·k) lands in the length whose
    * cumulative range covers it, and the readout is one integer div.
    * Languages where tail ties make a gap collapse (x₁ = x₂ or
    * x₂ = x₄, inevitable at tiny n) emit no row on both engines. */
  def tailIndexAudit(docs: DataFrame): DataFrame = {
    val t = docs.select(col("lang"),
      size(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " "))
        .cast("long").as("len"))
    val vc = t.groupBy(col("lang"), col("len")).agg(count(lit(1)).as("c"))
    val n = vc.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val w = Window.partitionBy(col("lang")).orderBy(col("len").desc)
    val cum = vc
      .withColumn("f", coalesce(sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(n, Seq("lang"))
      .withColumn("r1", expr("(n + 63) div 64"))
      .withColumn("r2", expr("(n + 31) div 32"))
      .withColumn("r4", expr("(n + 15) div 16"))
    cum.groupBy(col("lang"), col("n"))
      .agg(
        max(when(col("f") < col("r1") && col("r1") <= col("f") + col("c"),
          col("len"))).as("x1"),
        max(when(col("f") < col("r2") && col("r2") <= col("f") + col("c"),
          col("len"))).as("x2"),
        max(when(col("f") < col("r4") && col("r4") <= col("f") + col("c"),
          col("len"))).as("x4"))
      .filter(col("x1") > col("x2") && col("x2") > col("x4"))
      .select(col("lang"), col("n").cast("long").as("n_docs"),
        col("x1").cast("long").as("tail_q64_len"),
        col("x2").cast("long").as("tail_q32_len"),
        col("x4").cast("long").as("tail_q16_len"),
        expr("(x1 - x2) * 1000000 div (x2 - x4)").cast("long")
          .as("pickands_ratio_ppm"))
      .orderBy(col("lang").asc)
  }

  /** q335 flag set, single-sourced into both engines: the q32 rubric's
    * three failure flags plus the five q286 Gopher rules. The oracle SQL
    * in SparkEntry generates its 28 pair rows from this same list. */
  val FilterFlagNames: Seq[String] = Seq("q_len", "q_stop", "q_wordlen",
    "g_word_count", "g_mean_word_len", "g_stopword_floor", "g_ttr_floor",
    "g_dominance_cap")

  /** q335: FILTER-STACK REDUNDANCY MATRIX — pairwise overlap census of
    * every quality-filter failure flag in the engine (q32 rubric ×
    * Gopher rules): for each unordered flag pair, how many docs each
    * catches, how many both catch, how many ONLY one catches, and the
    * Jaccard overlap of the two failure sets. This is the ablation
    * number a pipeline owner reads before touching the stack: a pair at
    * Jaccard ≈ 10⁶ is a redundant rule (drop one, same corpus), a flag
    * whose `only_a` is large is the stack's sole defense against that
    * failure mode and must not be relaxed casually. q273's Fleiss kappa
    * summarizes the q32 raters' agreement in ONE statistic; this is the
    * per-pair engineering decomposition across BOTH rule families.
    *
    * Scale shape: two linear lexical passes (the q32 rubric and the
    * Gopher sufficient statistics — the same tokenizing shuffles those
    * censuses already pay), one 8-flag join, then a single aggregation
    * to 36 sums; the 28-row matrix unstacks from that one row. All
    * counts exact; the Jaccard is floor-ppm with an empty-union guard. */
  def filterOverlapMatrix(docs: DataFrame): DataFrame = {
    val q = qualityScore(docs).select(col("doc_id"),
      (lit(1L) - col("len_ok")).as("q_len"),
      (lit(1L) - col("stop_ok")).as("q_stop"),
      (lit(1L) - col("wordlen_ok")).as("q_wordlen"))
    val g = gopherFlags(docs).select(col("doc_id"),
      col("f1").as("g_word_count"), col("f2").as("g_mean_word_len"),
      col("f3").as("g_stopword_floor"), col("f4").as("g_ttr_floor"),
      col("f5").as("g_dominance_cap"))
    val flags = q.join(g, Seq("doc_id"))
    val names = FilterFlagNames
    val idx = names.indices
    val aggs =
      idx.map(i => sum(col(names(i))).as(s"s_$i")) ++
        (for { i <- idx; j <- idx if i < j }
          yield sum(col(names(i)) * col(names(j))).as(s"b_${i}_$j")) :+
        count(lit(1)).as("n_docs")
    val one = flags.agg(aggs.head, aggs.tail: _*)
    val stackArgs = (for { i <- idx; j <- idx if i < j } yield
      s"'${names(i)}', '${names(j)}', s_$i, s_$j, b_${i}_$j").mkString(", ")
    val nPairs = idx.size * (idx.size - 1) / 2
    one.selectExpr("n_docs", s"stack($nPairs, $stackArgs) AS " +
        "(flag_a, flag_b, n_fail_a, n_fail_b, n_both)")
      .select(col("flag_a"), col("flag_b"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_fail_a").cast("long").as("n_fail_a"),
        col("n_fail_b").cast("long").as("n_fail_b"),
        col("n_both").cast("long").as("n_both"),
        (col("n_fail_a") - col("n_both")).cast("long").as("only_a"),
        (col("n_fail_b") - col("n_both")).cast("long").as("only_b"),
        expr("n_both * 1000000 div " +
          "greatest(1L, n_fail_a + n_fail_b - n_both)").cast("long")
          .as("overlap_jaccard_ppm"))
      .orderBy(col("flag_a").asc, col("flag_b").asc)
  }
}

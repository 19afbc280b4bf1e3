package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, Shard, Tables}
import graft.core.Shard.h60

/** Deduplication operators for LLM training-data pipelines, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All hashes are md5-derived ([[Shard.h60]]) so the DuckDB oracle can
  * compute bit-identical values — no UDFs anywhere.
  *
  * Scale design (100 TB):
  *  - Exact dedup is a hash-groupBy — one shuffle on the fingerprint.
  *  - MinHash near-dup generates candidate pairs per LSH *band* (equi-join
  *    on the band hash), never an all-pairs crossJoin: cost is linear in
  *    docs + quadratic only within a band bucket, which banding keeps tiny.
  *  - SimHash candidates come from the pigeonhole chunk-join (4 chunks of
  *    8 bits: any pair within Hamming distance 3 shares ≥1 exact chunk).
  *  - Verification (exact Jaccard / Hamming) runs only on candidates.
  */
object TextDedup {

  /** Whitespace-collapse + lowercase normalization — the canonical form all
    * dedup operators key on. */
  def normalized(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))

  // ---------------------------------------------------------------- exact

  /** Exact dedup: fingerprint = md5(normalized text); canonical survivor is
    * the min doc_id per fingerprint (deterministic — same tiebreak rule as
    * the silver dedup window, SURVEY §7.4.1). Emits every doc with its
    * fingerprint, canonical id, and duplicate flag. */
  def exactDedup(docs: DataFrame): DataFrame =
    normalized(docs)
      .withColumn("fingerprint", md5(col("norm")))
      .withColumn("canonical_id",
        min(col("doc_id")).over(Window.partitionBy(col("fingerprint"))))
      .select(
        col("doc_id"), col("fingerprint"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_duplicate"))
      .orderBy(col("doc_id").asc)

  // -------------------------------------------------------------- shingles

  /** Distinct word k-shingles per doc. Docs shorter than k words produce no
    * shingles (and thus never pair). */
  def shingles(docs: DataFrame, k: Int): DataFrame = {
    val words = split(col("norm"), " ")
    normalized(docs)
      .withColumn("w", words)
      .filter(size(col("w")) >= k)
      .select(
        col("doc_id"),
        explode(array_distinct(
          transform(
            sequence(lit(0), size(col("w")) - k),
            i => concat_ws(" ", slice(col("w"), i + 1, lit(k)))))).as("shingle"))
  }

  /** Memoized [[MinhashK]]-shingle frame per (session, data dir) — the
    * materialized-table pattern (same [[graft.core.FrameMemo]] discipline
    * as the silver events frame, the dup-cluster frame, and the
    * co-purchase pair scaffold): minhash dedup (q27), containment (q157),
    * incremental dedup (q76), the dup-cluster memo, and the split-leakage
    * census all start from this exact frame, and each was re-exploding and
    * re-hashing it per query. A production deployment stores the shingle
    * index as a table; a long-lived session materializes it once. The
    * docs-parameterized operator overloads keep per-call scratch persists
    * (callers may pass arbitrary frames — nothing to key a memo on). */
  private val shingleCache = new graft.core.FrameMemo(4)
  def shinglesFor(spark: SparkSession, dir: String): DataFrame =
    shingleCache.get(spark, dir)(
      shingles(Tables.documents(spark, dir), MinhashK))

  // -------------------------------------------------------------- minhash

  val MinhashK = 3          // shingle width (words)
  val NumHashes = 32        // minhash signature length
  val NumBands = 8          // 8 bands × 4 rows
  val RowsPerBand: Int = NumHashes / NumBands

  /** Universal-hashing parameters: the s-th minhash function is
    * h_s(x) = (A(s)·base(x) + B(s)) mod P with ONE md5-derived base hash
    * per shingle. 32 md5s per shingle (the seeded-concat variant) was the
    * dominant minhash cost at sf0.1; the affine family is 32 codegen'd
    * long ops instead. P < 2^30 keeps A·base < 2^63 (no overflow in either
    * engine); constants are arbitrary-but-fixed and mirrored in the
    * oracle SQL. */
  val MinhashP = 1000000007L
  def minhashA(s: Int): Long = 37L * s + 101L
  def minhashB(s: Int): Long = 91L * s + 17L

  /** MinHash signature per doc: min affine-transformed base hash over the
    * doc's shingle set, one groupBy — the 32 mins are parallel partial
    * aggregates, single pass over the shingles. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesOf(shingles(docs, MinhashK))

  private def signaturesOf(sh: DataFrame): DataFrame = {
    val based = sh.withColumn("hb", h60(col("shingle")) % MinhashP)
    val aggs = (0 until NumHashes).map { s =>
      min((lit(minhashA(s)) * col("hb") + lit(minhashB(s))) % MinhashP).as(s"h$s")
    }
    based.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band keys: md5 over each band's [[RowsPerBand]] signature slots.
    * Docs sharing any band key become candidate pairs. */
  def minhashBands(sigs: DataFrame): DataFrame = {
    val bandEntries = (0 until NumBands).map { b =>
      val slots = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", slots: _*)).as("bkey"))
    }
    sigs.select(col("doc_id"), explode(array(bandEntries: _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bkey"))
  }

  /** Per-row LSH band keys — the STREAMING-safe twin of
    * [[minhashSignatures]]+[[minhashBands]], same hash family, same band
    * layout, bit-identical keys. The batch path aggregates exploded
    * shingles (shuffle partial-agg, whole-stage codegen — right for a
    * backfill over the corpus); an ingest stream must compute each doc's
    * signature from the row alone, so here the shingle set, the 32
    * affine minima, and the 8 band keys are higher-order array
    * expressions over the text column — zero shuffle, zero state, one
    * row in → [[NumBands]] rows out. HOFs forgo codegen, which is the
    * right trade on the ingest path: per-doc cost is bounded by doc
    * length and there is no stage to fuse into. Docs shorter than
    * [[MinhashK]] words have no shingles and emit no bands (same
    * exclusion as [[shingles]]). */
  def perDocBands(docs: DataFrame): DataFrame = {
    val w = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    val sh = array_distinct(transform(
      sequence(lit(0), size(col("w")) - MinhashK),
      i => concat_ws(" ", slice(col("w"), i + 1, lit(MinhashK)))))
    val withHb = docs
      .withColumn("w", w)
      .filter(size(col("w")) >= MinhashK)
      .withColumn("hb", transform(sh, s => h60(s) % MinhashP))
    val sig = (0 until NumHashes).foldLeft(withHb) { (df, s) =>
      df.withColumn(s"h$s", array_min(transform(col("hb"),
        x => (lit(minhashA(s)) * x + lit(minhashB(s))) % MinhashP)))
    }
    val bandEntries = (0 until NumBands).map { b =>
      val slots = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", slots: _*)).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandEntries: _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bkey"))
  }

  /** Candidate pairs: equi-join on (band, band key), doc_a < doc_b, distinct
    * across bands. This is the banded-LSH join — the only pairwise step, and
    * it is keyed, so it scales as a hash shuffle, not O(n²). */
  def minhashCandidates(docs: DataFrame): DataFrame =
    candidatesOf(minhashBands(minhashSignatures(docs)))

  private def candidatesOf(bandsRaw: DataFrame): DataFrame = {
    // the band frame feeds BOTH self-join sides: without a persist the
    // whole signature aggregation upstream runs twice (once per side);
    // the frame is rows × (band, key) — vanishing vs the shingle pass
    val bands = graft.core.Caches.scratch(bandsRaw)
    val a = bands.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band"), col("bkey"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Near-dup pairs: LSH candidates verified with exact Jaccard over the
    * shingle sets, kept at `minJaccard`. Output is deterministic and
    * engine-portable (integer intersection/union counts, one double
    * division). */
  def minhashNearDups(docs: DataFrame, minJaccard: Double = 0.8): DataFrame =
    // One shingle pass feeds signatures, sizes AND verification: the
    // explode + md5 per shingle dominate the operator, and without the
    // persist the DAG recomputes them three times (round-2 bench: 8 s →
    // ~3 s at sf0.1). Scratch-registered so the caller can release it after
    // materializing (round-3 review: these persists leaked forever).
    minhashNearDupsFrom(
      graft.core.Caches.scratch(shingles(docs, MinhashK)), minJaccard)

  private def minhashNearDupsFrom(sh: DataFrame,
                                  minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val cand = candidatesOf(minhashBands(signaturesOf(sh)))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  def minhashNearDups(spark: SparkSession, dir: String): DataFrame =
    minhashNearDupsFrom(shinglesFor(spark, dir), minJaccard = 0.8)

  // -------------------------------------------------------------- simhash

  val SimhashBits = 32
  val SimhashChunks = 4
  val ChunkBits: Int = SimhashBits / SimhashChunks
  val MaxHamming = 3

  /** 32-bit SimHash per doc over word unigrams weighted by occurrence count:
    * bit j is set iff the count-weighted sum of (±1 per word, + if the
    * word's hash has bit j set) is positive. One groupBy with 32 sum
    * aggregates — single pass, map-side combinable. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val wordCounts = normalized(docs)
      .select(col("doc_id"), explode(split(col("norm"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", Shard.md5Prefix(col("word"), 8))
    val bitSums = (0 until SimhashBits).map { j =>
      sum((shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1) * col("cnt")).as(s"s$j")
    }
    val withSums = wordCounts.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until SimhashBits).map { j =>
      when(col(s"s$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)
    withSums.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs: pigeonhole chunk join (any pair with Hamming
    * distance ≤ 3 must agree on ≥1 of 4 chunks), verified with
    * bit_count(xor). */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = MaxHamming): DataFrame = {
    // persisted: the chunk frame feeds both self-join sides, and without
    // it the 32-sum signature groupBy runs twice (same rationale as
    // candidatesOf); one skinny row per (doc, chunk)
    val sigs = graft.core.Caches.scratch(simhashSignatures(docs))
    val chunks = sigs.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until SimhashChunks).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * ChunkBits).bitwiseAND(lit((1L << ChunkBits) - 1)).as("cval"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.chunk"), col("e.cval"))
    val a = chunks.select(col("chunk"), col("cval"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = chunks.select(col("chunk"), col("cval"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("chunk", "cval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  // -------------------------------------------- blocked n-gram Jaccard

  /** Length-band width (chars) for the blocked Jaccard join. 256-char
    * bands keep same-length docs together (a pair at Jaccard ≥ 0.5 differs
    * < 2× in size, so banding loses only boundary pairs). */
  val BandChars = 256

  /** Blocking key per document for [[ngramJaccardDups]]:
    * (lang, source, length-band, subshard).
    *
    * Round-3 review: blocking on `lang` alone left 5 blocks — at 100 TB one
    * lang block IS the corpus, and quadratic-within-block becomes O(n²).
    * The key here is the scale-safe form the code always promised:
    *  - lang + source: semantic blocks (near-dup sweeps compare within a
    *    crawl source; cross-source dups are MinHash-LSH's job, q27);
    *  - length-band (`n_chars div 256`): a J ≥ 0.5 pair differs < 2× in
    *    shingle count, so same-size banding is cheap recall to pay;
    *  - subshard: the [[Shard.capped]] split of blocks over [[Shard.Cap]]
    *    docs, so comparisons stay LINEAR in corpus size, never O(n²).
    * All arithmetic is integer and md5-based, mirrored exactly by the
    * DuckDB oracle. */
  def ngramBlocks(docs: DataFrame): DataFrame = {
    val base = normalized(docs)
      .join(docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        Seq("doc_id"))
      .withColumn("band", expr(s"n_chars div $BandChars"))
    Shard.capped(base, Seq("lang", "source", "band"))
      .select(col("doc_id"), col("norm"), col("lang"), col("source"),
        col("band"), col("subshard"))
  }

  /** Pairwise word-bigram Jaccard within a blocking key — the classic
    * quadratic-within-block near-dup check, with block cardinality bounded
    * by [[ngramBlocks]]. Emits pairs ≥ `minJaccard`. */
  def ngramJaccardDups(docs: DataFrame, minJaccard: Double = 0.5): DataFrame = {
    // Scratch-persisted: the exploded shingle frame feeds sizes AND both
    // sides of the inverted-index self-join; without the persist the
    // interpreted-HOF shingle explode executes three times (round-2 bench:
    // the dominant cost of this operator at sf0.1). Released by the caller
    // via Caches.releaseScratch after materialization.
    val blockCols = Seq("lang", "source", "band", "subshard")
    // Persisted PRE-PARTITIONED on the inverted-index key and EAGERLY
    // materialized (round-14, guide §2.4): a lazy cache exposes no
    // partitioning to EnsureRequirements (the consumer is planned before
    // the cache exists), but once the count() below has materialized it,
    // the self-join arms below reuse hash(block..., shingle) and the two
    // exchanges of the shingle frame — the largest intermediate this
    // operator has — disappear. The count costs one aggregate over
    // already-cached blocks; the cache build itself was paid either way.
    val sh = graft.core.Caches.scratch(ngramBlocks(docs)
      .withColumn("w", split(col("norm"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id") +: blockCols.map(col) :+
        explode(array_distinct(
          transform(
            sequence(lit(0), size(col("w")) - 2),
            i => concat_ws(" ", slice(col("w"), i + 1, lit(2)))))).as("shingle"): _*)
      .repartition(blockCols.map(col) :+ col("shingle"): _*))
    // materialize-then-plan: building this frame runs a Spark job, and
    // the count is what makes the cache's partitioning visible to the
    // self-join below (PlanAuditSpec pins the exchange-free arms)
    sh.count()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = sh.select(blockCols.map(col) :+ col("shingle") :+ col("doc_id").as("doc_a"): _*)
    val b = sh.select(blockCols.map(col) :+ col("shingle") :+ col("doc_id").as("doc_b"): _*)
    val inter = a.join(b, blockCols :+ "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("lang"), col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .select(col("lang"), col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy(col("lang").asc, col("doc_a").asc, col("doc_b").asc)
  }

  // ----------------------------------------------------------- containment

  val ContainMinPpm = 800000L   // |A∩B| / |A| threshold (ppm)
  val ContainDfCap = 16         // candidate shingles must be this rare
  val ContainMinShared = 6      // rare shingles a pair must share to verify

  /** ASYMMETRIC containment near-dup — |A∩B| / |A| with A the smaller
    * shingle set. The symmetric families (minhash/Jaccard q27/q29) are
    * blind to inclusion: a paragraph quoted inside a much larger doc has
    * tiny Jaccard but containment ≈ 1, and shipping both the quote and
    * the quoting doc to training double-counts the text. This operator
    * emits (contained, container) pairs above a ppm threshold.
    *
    * Scale shape: candidates come from SHARED RARE SHINGLES — a shingle
    * appearing in 2..[[ContainDfCap]] docs pairs the docs that share it,
    * so the total candidate join is bounded by cap × |rare-shingle rows|
    * (Σ df² ≤ cap·Σ df) and corpus-frequent shingles (boilerplate)
    * never generate pairs. The cap is the super-linearity knob: round
    * 11 measured cap = 64 as the bench's steepest 10× grower (7.5×),
    * because template shingles ride UP the df range as the corpus grows
    * and the per-shingle fan-out is quadratic in df; cap = 16 bounds
    * that 4× tighter and — measured at sf0.01 AND sf0.1 — emits the
    * IDENTICAL pair set once the support gate relaxes 8 → 6 (a true
    * contained doc shares nearly all its shingles, most of them at
    * df ≈ 2, so rarity-capping costs it little support). Pairs must
    * share at least [[ContainMinShared]] rare shingles before the exact
    * verify runs — the same candidate-support gate as winnowing's
    * MinSharedFps, and the step that keeps verification linear (sf0.1:
    * ~1 M single-shingle collisions vs 256 gated pairs), while a doc
    * distinctive only below that support has no containment story to
    * find. Verification counts the exact intersection by a
    * shingle-keyed join restricted to gated pairs; all integers, one
    * final `div`. */
  def containmentDups(docs: DataFrame, minPpm: Long = ContainMinPpm,
                      dfCap: Int = ContainDfCap,
                      minShared: Int = ContainMinShared): DataFrame =
    containmentDupsFrom(graft.core.Caches.scratch(shingles(docs, MinhashK)),
      minPpm, dfCap, minShared)

  private def containmentDupsFrom(sh: DataFrame, minPpm: Long, dfCap: Int,
                                  minShared: Int): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("shingle"))
    val rsh = sh.join(rare, Seq("shingle"))
    val cand = rsh.as("a").join(rsh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("rare_shared"))
      .filter(col("rare_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"))
    val inter = cand
      .join(sh.as("sa"), col("sa.doc_id") === col("doc_a"))
      .join(sh.as("sb"), col("sb.doc_id") === col("doc_b") &&
        col("sb.shingle") === col("sa.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        Seq("doc_b"))
      // direction: the smaller set is the containment candidate; ties
      // resolve to the lower id (doc_a, by candidate construction)
      .withColumn("contained_id",
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b")))
      .withColumn("container_id",
        when(col("n_a") <= col("n_b"), col("doc_b")).otherwise(col("doc_a")))
      .withColumn("n_contained", least(col("n_a"), col("n_b")))
      .withColumn("n_container", greatest(col("n_a"), col("n_b")))
      .withColumn("containment_ppm",
        expr("shared * 1000000 div n_contained"))
      .filter(col("containment_ppm") >= minPpm)
      .select(col("contained_id"), col("container_id"), col("n_contained"),
        col("n_container"), col("shared"), col("containment_ppm"))
      .orderBy(col("contained_id").asc, col("container_id").asc)
  }

  def containmentDups(spark: SparkSession, dir: String): DataFrame =
    containmentDupsFrom(shinglesFor(spark, dir),
      ContainMinPpm, ContainDfCap, ContainMinShared)

  // ------------------------------------------------- winnowed fingerprints

  val WinnowK = 10       // rolling-hash window (bytes; expression's exact-int64 max)
  val WinnowW = 8        // winnow window (consecutive hashes per min)
  val MaxFpDf = 16       // drop fingerprints present in more docs than this
  val MinSharedFps = 8   // shared fingerprints to call a candidate pair

  /** Winnowing (the MOSS fingerprint scheme) over the codegen'd
    * [[graft.functions.RollingHash]]: hash every [[WinnowK]]-byte window,
    * then keep the MIN hash of every [[WinnowW]] consecutive hashes,
    * deduped. Guarantees: any shared substring of length ≥ k + w − 1
    * (17 chars here) contributes at least one IDENTICAL fingerprint to
    * both docs (shift-resistant, unlike fixed-stride sampling), while
    * storing only ~2/(w+1) of all window hashes. The char-level
    * complement to the word-shingle families: catches near-dups that
    * tokenization hides (joined/split words, punctuation edits). */
  def winnowFingerprints(docs: DataFrame): DataFrame = {
    graft.core.Sessions.ensure(docs.sparkSession)
    normalized(docs)
      // byte-indexed hashing mirrored by a codepoint-indexed oracle →
      // printable-ASCII projection, same contract as rollingFingerprints
      .withColumn("s", regexp_replace(col("norm"), "[^ -~]", ""))
      .withColumn("rh",
        call_function(graft.functions.RollingHash.Name, col("s"), lit(WinnowK)))
      .filter(size(col("rh")) >= WinnowW)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), size(col("rh")) - (WinnowW - 1)),
            i => array_min(slice(col("rh"), i, lit(WinnowW)))))).as("fp"))
  }

  /** Near-dup candidate pairs sharing ≥ `minShared` winnowed
    * fingerprints. Fingerprints present in more than `maxDf` documents
    * are dropped before the self-join — they are non-discriminative
    * ("stop fingerprints": boilerplate phrases, common word runs) and,
    * unbounded, give the hot-bucket quadratic fan-out that kills every
    * naive inverted-index dedup at scale. With the cap, each fingerprint
    * contributes ≤ maxDf·(maxDf−1)/2 pairs, so candidate generation is
    * LINEAR in corpus size; the df window and the self-join share the
    * same hash partitioning on `fp`, so the cap costs no extra shuffle. */
  def winnowDups(docs: DataFrame, minShared: Int = MinSharedFps,
                 maxDf: Int = MaxFpDf): DataFrame = {
    val dfW = Window.partitionBy(col("fp"))
    val fps = graft.core.Caches.scratch(
      winnowFingerprints(docs)
        .withColumn("df", count(lit(1)).over(dfW))
        .filter(col("df") <= maxDf)
        .drop("df"))
    val a = fps.select(col("fp"), col("doc_id").as("doc_a"))
    val b = fps.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  // ------------------------------------------- content-defined chunk dedup

  val CdcK = 8          // rolling-hash window for boundary detection
  val CdcDivisor = 64L  // boundary where hash % divisor == 0 → ~64+k byte chunks

  /** Content-defined chunking: cut after any [[CdcK]]-byte window whose
    * rolling hash is ≡ 0 mod [[CdcDivisor]]. Because boundaries depend
    * only on local content, an insertion early in a doc shifts ONE
    * chunk's bytes but leaves every later boundary (and hence chunk
    * hash) intact — the property fixed-size blocking lacks, and the
    * reason CDC underlies storage dedup and substring-level corpus
    * dedup (shared-paragraph detection) alike. */
  def cdcChunks(docs: DataFrame): DataFrame = {
    graft.core.Sessions.ensure(docs.sparkSession)
    normalized(docs)
      .withColumn("s", regexp_replace(col("norm"), "[^ -~]", ""))
      .withColumn("rh",
        call_function(graft.functions.RollingHash.Name, col("s"), lit(CdcK)))
      // CASE guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty
      .withColumn("cuts", expr(
        s"CASE WHEN size(rh) < 1 THEN array() " +
          s"ELSE filter(sequence(1, size(rh)), i -> element_at(rh, i) % $CdcDivisor = 0) END"))
      .withColumn("bounds", expr(
        s"concat(array(0), transform(cuts, i -> i + ${CdcK - 1}), array(length(s)))"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(bounds) - 1), j -> " +
          "substring(s, element_at(bounds, j) + 1, " +
          "element_at(bounds, j + 1) - element_at(bounds, j)))")).as("chunk"))
      .filter(col("chunk") =!= "")
  }

  /** Chunk-level dedup census: every chunk whose content recurs in more
    * than one document — the Spark-shaped stand-in for suffix-array
    * substring dedup (exact shared spans ≥ chunk size surface here,
    * shifted or not). One explode + one hash aggregation: linear, and
    * the heavy groupBy key is the chunk hash, uniformly distributed by
    * construction — no skew, no pair joins at all. */
  def chunkDedup(docs: DataFrame): DataFrame =
    cdcChunks(docs)
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"),
        length(col("chunk")).as("chunk_len"))
      .groupBy(col("chunk_hash"))
      .agg(min(col("chunk_len")).as("chunk_len"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") > 1)
      .orderBy(col("chunk_hash").asc)

  /** Per-document duplication coverage: what fraction of each document's
    * characters sit in CDC chunks whose content recurs verbatim in some
    * OTHER document. Corpus-curation reports (Gopher/RefinedWeb-style)
    * gate documents on exactly this number — a doc that is 90 % shared
    * boilerplate is a removal candidate even if no single near-dup pair
    * flags it, and the chunk granularity catches partial duplication the
    * doc-level families (q26/q27) cannot see.
    *
    * Scale shape: identical to [[chunkDedup]] — one explode, two hash
    * aggregations on the uniformly-distributed chunk hash, one
    * broadcast-size join back (the shared-hash frame is the duplicated
    * subset only). No pair joins; linear end to end. Coverage ships as
    * exact integer ppm (BIGINT) — the driver's hash gate rejects
    * decimal/double output columns (q56/q105/q111 lesson). */
  def dupCoverage(docs: DataFrame): DataFrame = {
    val ch = graft.core.Caches.scratch(
      cdcChunks(docs).select(col("doc_id"), md5(col("chunk")).as("h"),
        length(col("chunk")).as("len")))
    val shared = ch.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select(col("h"))
    val perDoc = ch.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("len")).as("n_chars"))
    // a chunk duplicated WITHIN one doc only does not count as shared —
    // the join keeps occurrences of cross-doc-shared content, and the
    // per-doc re-aggregation counts every such occurrence's chars
    val dup = ch.join(shared, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_chunks"), sum(col("len")).as("dup_chars"))
    perDoc.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks").cast("long").as("n_chunks"),
        coalesce(col("dup_chunks"), lit(0L)).cast("long").as("dup_chunks"),
        col("n_chars").cast("long").as("n_chars"),
        coalesce(col("dup_chars"), lit(0L)).cast("long").as("dup_chars"))
      .withColumn("dup_char_ppm",
        expr("dup_chars * 1000000 div n_chars").cast("long"))
      .filter(col("dup_chunks") > 0)
      .orderBy(col("doc_id").asc)
  }

  // ------------------------------------------------ paragraph dedup

  /** Paragraph-level dedup census per source (the RefinedWeb/CCNet
    * recipe): explode documents into newline-delimited paragraphs, hash
    * each, and measure how much of each source's paragraph mass recurs
    * verbatim in MORE THAN ONE document. Paragraph granularity sits
    * between the whole-doc families (q26/q27) and the content-defined
    * chunks (q65/q160): it catches copied boilerplate blocks that neither
    * a doc fingerprint nor a shingle band flags, and it is the unit
    * production web-corpus dedup actually removes.
    *
    * Scale shape: one explode (linear in corpus bytes), two hash
    * aggregations keyed by the uniformly-distributed paragraph md5, and
    * one shuffle join of occurrences against the shared-hash subset —
    * both sides already partitioned by `h` from the groupBy, so the join
    * reuses the aggregation's partitioning. No pair joins, no broadcast
    * of anything corpus-sized. Coverage ships as exact integer ppm
    * (BIGINT) — the driver's hash gate rejects decimal/double output. */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val paras = graft.core.Caches.scratch(docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), "\n", -1)).as("p0"))
      .select(col("doc_id"), col("source"), trim(col("p0")).as("para"))
      .filter(length(col("para")) > 0)
      .select(col("doc_id"), col("source"), md5(col("para")).as("h"),
        length(col("para")).as("len")))
    val shared = paras.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select(col("h"))
    // a paragraph repeated only WITHIN one doc is not shared content; the
    // left join marks occurrences of cross-doc paragraphs and the census
    // charges every such occurrence's chars to its source
    paras.join(shared.withColumn("is_dup", lit(1L)), Seq("h"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_paras"),
        countDistinct(col("h")).as("n_distinct_paras"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_paras"),
        sum(col("len")).as("n_chars"),
        sum(when(col("is_dup").isNotNull, col("len")).otherwise(lit(0L)))
          .as("dup_chars"))
      .select(col("source"),
        col("n_paras").cast("long").as("n_paras"),
        col("n_distinct_paras").cast("long").as("n_distinct_paras"),
        col("n_dup_paras").cast("long").as("n_dup_paras"),
        expr("dup_chars * 1000000 div n_chars").cast("long")
          .as("dup_char_ppm"))
      .orderBy(col("source").asc)
  }

  // ------------------------------------------------ incremental dedup

  /** Incremental corpus update: dedup INCOMING documents against the
    * EXISTING corpus without re-pairing the corpus against itself — the
    * shape every production pipeline actually runs day to day (the corpus
    * is already deduped; only new-vs-old matters). The band join is
    * ONE-SIDED: incoming bands against existing bands, so cost scales
    * with |incoming| × collision rate, not |corpus|²; at 100 TB the
    * existing side's band index is a stored table maintained across runs
    * and only the (small) incoming batch computes signatures fresh.
    *
    * The fixture has no separate delta table, so "incoming" is carved
    * deterministically (doc_id % mod == 0) — same rule in the oracle.
    * Output: one row per incoming doc with its count of verified
    * (Jaccard ≥ minJaccard) existing near-dups and the is_new verdict. */
  def incrementalDedup(docs: DataFrame, mod: Int = 5,
                       minJaccard: Double = 0.8): DataFrame =
    incrementalDedupFrom(graft.core.Caches.scratch(shingles(docs, MinhashK)),
      docs, mod, minJaccard)

  /** Exact-Jaccard verification of (doc_in, doc_ex) candidate pairs over
    * a shingle frame: keeps the pairs whose shingle-set Jaccard meets
    * `minJaccard`. Shared by the batch incremental dedup (q76) and the
    * streaming near-dup ingest gate
    * ([[graft.streaming.StreamNearDedup]]) so the two faces verify with
    * the identical law. Cost is candidate-bounded: the expensive joins
    * touch only candidate docs' shingles. */
  private[graft] def jaccardVerified(cand: DataFrame, sh: DataFrame,
      minJaccard: Double): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_in"), col("shingle")), Seq("doc_in"))
      .join(sh.select(col("doc_id").as("doc_ex"), col("shingle")),
        Seq("doc_ex", "shingle"))
      .groupBy(col("doc_in"), col("doc_ex")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("doc_in"), col("n").as("ni")), Seq("doc_in"))
      .join(sizes.select(col("doc_id").as("doc_ex"), col("n").as("ne")), Seq("doc_ex"))
      .filter(col("i").cast("double") / (col("ni") + col("ne") - col("i")) >= minJaccard)
      .select(col("doc_in"), col("doc_ex"))
  }

  private def incrementalDedupFrom(sh: DataFrame, docs: DataFrame, mod: Int,
                                   minJaccard: Double): DataFrame = {
    val bands = minhashBands(signaturesOf(sh))
    val in = bands.filter(col("doc_id") % mod === 0)
      .select(col("band"), col("bkey"), col("doc_id").as("doc_in"))
    val ex = bands.filter(col("doc_id") % mod =!= 0)
      .select(col("band"), col("bkey"), col("doc_id").as("doc_ex"))
    val cand = in.join(ex, Seq("band", "bkey"))
      .select(col("doc_in"), col("doc_ex")).distinct()
    val matches = jaccardVerified(cand, sh, minJaccard)
      .groupBy(col("doc_in")).agg(count(lit(1)).as("nm"))
    docs.filter(col("doc_id") % mod === 0).select(col("doc_id"))
      .join(matches.withColumnRenamed("doc_in", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nm"), lit(0L)).as("n_matches"),
        col("nm").isNull.as("is_new"))
      .orderBy(col("doc_id").asc)
  }

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame =
    incrementalDedupFrom(shinglesFor(spark, dir),
      Tables.documents(spark, dir), mod = 5, minJaccard = 0.8)

  // ------------------------------------------------ LSH calibration

  /** LSH ESTIMATOR CALIBRATION: for every banded-minhash candidate pair,
    * how does the number of agreeing bands track the exact Jaccard? The
    * S-curve audit every LSH deployment publishes before trusting its
    * thresholds — band agreement is the probabilistic estimate, exact
    * Jaccard the truth, and this census is the measured transfer curve
    * (the q161 recall-audit idea, applied to the q27 text family).
    * A band count whose mean Jaccard sits below the tuning target means
    * the banding parameters are mis-set for this corpus.
    *
    * Scale shape: identical joins to [[minhashNearDups]] — the band join
    * GROUPS instead of DISTINCTs (same shuffle), the shingle
    * intersection runs only on candidates, and the census reduces to at
    * most [[NumBands]] rows. Pairs sharing a band via pure min-hash
    * collision (no common shingle) are kept at Jaccard 0 — the left
    * join, not dropped — because false candidates are exactly what a
    * calibration must count. */
  def lshCalibration(docs: DataFrame): DataFrame =
    lshCalibrationFrom(graft.core.Caches.scratch(shingles(docs, MinhashK)))

  private def lshCalibrationFrom(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val bands = minhashBands(signaturesOf(sh))
    val cand = graft.core.Caches.scratch(
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_bands")))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("icnt"))
    cand.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("ic", coalesce(col("icnt"), lit(0L)))
      .withColumn("jacc_ppm", expr("ic * 1000000 div (na + nb - ic)"))
      .groupBy(col("shared_bands"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("jacc_ppm")).as("s"),
        min(col("jacc_ppm")).as("min_jacc_ppm"),
        max(col("jacc_ppm")).as("max_jacc_ppm"))
      .select(col("shared_bands").cast("long").as("shared_bands"),
        col("n_pairs").cast("long").as("n_pairs"),
        expr("s div n_pairs").cast("long").as("mean_jacc_ppm"),
        col("min_jacc_ppm").cast("long").as("min_jacc_ppm"),
        col("max_jacc_ppm").cast("long").as("max_jacc_ppm"))
      .orderBy(col("shared_bands").asc)
  }

  def lshCalibration(spark: SparkSession, dir: String): DataFrame =
    lshCalibrationFrom(shinglesFor(spark, dir))

  /** q191: exact fixed-window duplication mass per source — the
    * character-level exact-substring census behind "deduplicating
    * training data makes language models better" (Lee et al., ACL'22):
    * slide a 64-char window at stride 32 over the normalized text and
    * measure, per source, how much window mass is duplicated anywhere in
    * the corpus. Finer than paragraph dedup (q166: structural units) and
    * exact where MinHash (q27) is probabilistic — boilerplate repeated
    * INSIDE otherwise-distinct docs shows up here and nowhere else.
    * Documents shorter than one window contribute their whole text as a
    * single window, so short-doc duplication is not invisible.
    *
    * Scale shape: windows explode to ~len/32 rows per doc (linear in
    * corpus bytes, same order as the shingle frame), keyed by md5 —
    * GROUPed, never pair-joined. Two shuffles: (window-hash) for the
    * global occurrence counts, (source) for the census. Window hashes
    * are uniform 32-char keys, so no skew lever is needed; integer ppm
    * output only. */
  def windowDupMass(docs: DataFrame, win: Int = 64, stride: Int = 32): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val wins = docs
      .select(col("source"), norm.as("s"))
      .select(col("source"),
        posexplode(expr(
          s"transform(sequence(1, greatest(length(s) - ${win - 1}, 1), $stride)," +
            s" i -> substring(s, i, $win))")))
      .select(col("source"), md5(col("col")).as("wh"))
    val occ = Caches.scratch(
      wins.groupBy(col("wh"), col("source")).agg(count(lit(1)).as("occ")))
    val global = occ.groupBy(col("wh"))
      .agg(sum(col("occ")).as("total_occ"))
    occ.join(global, Seq("wh"))
      .groupBy(col("source"))
      .agg(sum(col("occ")).cast("long").as("n_windows"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("total_occ") > 1, col("occ")).otherwise(0L))
          .cast("long").as("dup_occ"))
      .select(col("source"), col("n_windows"), col("n_distinct"),
        col("dup_occ"),
        expr("dup_occ * 1000000 div n_windows").cast("long").as("dup_ppm"))
      .orderBy(col("source").asc)
  }

  /** q221: cross-source window provenance — WHO copies WHOM, at the
    * exact-substring granularity of q191: for every source pair, how
    * many distinct 64-char windows they share verbatim. q84's source
    * overlap answers this at whole-doc shingle scale; the window matrix
    * exposes boilerplate/partial-copy flows between feeds that
    * doc-level similarity dilutes away.
    *
    * Scale shape: the (window-hash, source) occurrence frame (already
    * the q191 reduction — corpus collapses to distinct hashes × ≤
    * |sources| rows) self-joins on the hash key; the pair expansion
    * per hash is bounded by C(|sources|, 2) — a domain constant, so
    * output ≤ 190 rows here and |sources|²/2 anywhere. No corpus-sized
    * pair join exists. */
  def windowProvenance(docs: DataFrame, win: Int = 64,
      stride: Int = 32): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val wins = docs
      .select(col("source"), norm.as("s"))
      .select(col("source"),
        posexplode(expr(
          s"transform(sequence(1, greatest(length(s) - ${win - 1}, 1), $stride)," +
            s" i -> substring(s, i, $win))")))
      .select(col("source"), md5(col("col")).as("wh"))
    val occ = Caches.scratch(
      wins.groupBy(col("wh"), col("source")).agg(count(lit(1)).as("occ")))
    occ.as("a").join(occ.as("b"),
        col("a.wh") === col("b.wh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_windows"),
        sum(least(col("a.occ"), col("b.occ"))).cast("long")
          .as("min_shared_occ"))
      .orderBy(col("shared_windows").desc, col("src_a").asc,
        col("src_b").asc)
  }

  /** q199: WEIGHTED (multiset) Jaccard verification of the minhash band
    * candidates — Σ min(tf) ⁄ Σ max(tf) over word frequencies, the
    * repetition-aware similarity that set Jaccard (q27) is blind to: a
    * doc that repeats its template 10× and one that states it once are
    * set-identical but multiset-distant. Shipped UNFILTERED per
    * candidate pair (like the q178 calibration), all integer: Σmax
    * = n_a + n_b − Σmin, so one intersection aggregate suffices.
    *
    * Scale shape: candidates come from the same banded-LSH generation
    * as q27 (never all-pairs); verification joins the pair list against
    * the word-tf frame co-partitioned on doc — the standard
    * candidate-verify shape with tf rows instead of shingle rows. */
  def weightedJaccard(docs: DataFrame): DataFrame = {
    val sh = graft.core.Caches.scratch(shingles(docs, MinhashK))
    weightedJaccardFrom(sh, docs)
  }

  private def weightedJaccardFrom(sh: DataFrame, docs: DataFrame): DataFrame = {
    val cand = candidatesOf(minhashBands(signaturesOf(sh)))
    val tf = graft.core.Caches.scratch(
      normalized(docs)
        .select(col("doc_id"), explode(split(col("norm"), " ")).as("wd"))
        .groupBy(col("doc_id"), col("wd")).agg(count(lit(1)).as("c")))
    val sizes = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
    val wint = cand
      .join(tf.select(col("doc_id").as("doc_a"), col("wd"),
        col("c").as("ca")), Seq("doc_a"))
      .join(tf.select(col("doc_id").as("doc_b"), col("wd"),
        col("c").as("cb")), Seq("doc_b", "wd"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("ca"), col("cb"))).as("wmin"))
    cand.join(wint, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .withColumn("w_inter", coalesce(col("wmin"), lit(0L)))
      .select(col("doc_a"), col("doc_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("w_inter").cast("long").as("w_inter"),
        expr("w_inter * 1000000 div (n_a + n_b - w_inter)").cast("long")
          .as("wj_ppm"))
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  def weightedJaccard(spark: SparkSession, dir: String): DataFrame =
    weightedJaccardFrom(shinglesFor(spark, dir), Tables.documents(spark, dir))

  /** q232: EXACT-threshold Jaccard join via PREFIX FILTERING (PPJoin
    * family, Xiao et al., WWW'08) — the deterministic complement to the
    * probabilistic minhash/simhash candidates: two shingle sets with
    * Jaccard ≥ τ MUST share at least one token among each set's
    * (n − ⌈τ·n⌉ + 1) globally-rarest tokens, so joining only on those
    * prefix tokens finds every qualifying pair with NO false negatives,
    * and the exact verify then removes the false positives. Candidates
    * measured at τ=0.8 on this corpus: 25 pairs from 500 docs (sf0.01) —
    * the prefix bound does the work banding does, with a proof instead
    * of a probability.
    *
    * All arithmetic integer: ⌈τ·n⌉ = (n·τ_ppm + 999999) div 10⁶;
    * jac_ppm = i·10⁶ div (n_a + n_b − i).
    *
    * Scale shape: df ranking is one aggregate + a PER-DOC rank window;
    * the candidate join keys on prefix shingles, whose buckets are small
    * BY CONSTRUCTION (each doc contributes only its rarest tokens — the
    * df-ascending order concentrates the join on the sparse end of the
    * distribution); verification joins the candidate sliver against the
    * shingle frame keyed on (doc, shingle) — linear in candidates·|d|,
    * never a corpus self-join. */
  /** q243: DEDUP-PIPELINE recall audit — the q161 discipline (every
    * approximate index ships with a measured recall number) applied to
    * the dedup family itself: the prefix-filter join (q232) is EXACT by
    * theorem, so its pair set is free ground truth for auditing the
    * probabilistic minhash/LSH path (q27). One row: exact pairs, LSH
    * band candidates, LSH verified pairs, hits against ground truth,
    * recall in ppm (banding's miss rate — the number the 8-band × 4-row
    * S-curve promises ~99.98% at j=0.8, here measured), and candidate
    * precision (verify work not wasted). Emits nothing on a corpus with
    * no qualifying pairs (both denominators guarded).
    *
    * Scale shape: composes three already-bounded operators and four
    * 1-row aggregates; the hit join is pairs-sized. */
  def dedupRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesFor(spark, dir)
    val exact = graft.core.Caches.scratch(
      prefixFilterDups(spark, dir).select(col("doc_a"), col("doc_b")))
    val cand = candidatesOf(minhashBands(signaturesOf(sh)))
    val verified = graft.core.Caches.scratch(
      minhashNearDupsFrom(sh, 0.8).select(col("doc_a"), col("doc_b")))
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .crossJoin(verified.join(exact, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_hits")))
      .filter(col("n_exact") > 0 && col("n_candidates") > 0)
      .select(col("n_exact").cast("long").as("n_exact"),
        col("n_candidates").cast("long").as("n_candidates"),
        col("n_verified").cast("long").as("n_verified"),
        col("n_hits").cast("long").as("n_hits"),
        expr("n_hits * 1000000 div n_exact").cast("long").as("recall_ppm"),
        expr("n_verified * 1000000 div n_candidates").cast("long")
          .as("cand_precision_ppm"))
  }

  /** The q232 candidate stage alone, with ALL THREE exactness-preserving
    * PPJoin prunes: prefix filter, LENGTH filter (τ·|a| ≤ |b| ≤ |a|/τ —
    * size-incompatible sets can't reach τ), and POSITIONAL filter (a
    * prefix match at ranks (i, j) can still reach the required overlap
    * o = ⌈τ(|a|+|b|)/(1+τ)⌉ only if 1 + min(|a|−i, |b|−j) ≥ o). At τ=0.8
    * on sf0.1 the three together cut candidates 118 826 → 12 784 with a
    * provably identical final pair set (TextDedupSpec equality test).
    *
    * Honest scale statement: on Zipfian text the prefix tokens are
    * genuinely rare and this is the classic EXACT join; this synthetic
    * corpus has a ~31-word vocabulary, so shingle rarity saturates as the
    * corpus grows and the candidate mass trends toward the true pairwise
    * collision volume — super-linear by nature, which is why the engine's
    * 100 TB dedup path is the capped banded/minhash family and the exact
    * prefix join serves as bounded-scale GROUND TRUTH (the q243 recall
    * audit is exactly that use). */
  private[graft] def prefixFilterCandidates(sh: DataFrame,
      tauPpm: Long = 800000L): DataFrame = {
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("shingle").asc)
    val pref = sh
      .join(dfreq, Seq("shingle"))
      .join(sz, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("n") - expr(s"(n * $tauPpm + 999999) div 1000000") + 1)
      .select(col("doc_id"), col("shingle"), col("n"), col("rn"))
    pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          // length filter: τ·na ≤ nb and τ·nb ≤ na (integer cross-mult)
          col("b.n") * 1000000L >= col("a.n") * tauPpm &&
          col("a.n") * 1000000L >= col("b.n") * tauPpm &&
          // positional filter: remaining suffixes can still reach
          // o = ceil(τ(na+nb)/(1e6+τ)) — for τ=0.8: (4(na+nb)+8) div 9
          (lit(1L) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))) *
            (lit(1000000L) + tauPpm) >= (col("a.n") + col("b.n")) * tauPpm)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  def prefixFilterDups(spark: SparkSession, dir: String,
      tauPpm: Long = 800000L): DataFrame = {
    val sh = shinglesFor(spark, dir)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val cand = prefixFilterCandidates(sh, tauPpm)
    val inter = cand
      .join(sh.as("x"), col("da") === col("x.doc_id"))
      .join(sh.as("y"),
        col("db") === col("y.doc_id") &&
          col("x.shingle") === col("y.shingle"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("da"), col("n").as("n_a")), Seq("da"))
      .join(sz.select(col("doc_id").as("db"), col("n").as("n_b")), Seq("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("i").cast("long").as("n_inter"),
        expr("i * 1000000 div (n_a + n_b - i)").cast("long").as("jac_ppm"))
      .filter(col("jac_ppm") >= tauPpm)
      .orderBy(col("doc_a").asc, col("doc_b").asc)
  }

  /** q298: DEDUP-GRANULARITY SWEEP — how much duplication does each
    * shingle width see? For w ∈ {2..5}: the distinct w-gram vocabulary,
    * the grams shared by ≥2 documents, and the documents carrying at
    * least one shared gram (with corpus ppm). This is the tuning curve
    * behind every shingled dedup operator in the suite (q27/q29/q157
    * fix ONE w; the sweep shows the sensitivity): small w flags
    * everything (common phrases), large w only true clones — where the
    * curve knees is where the pipeline should sit. The q219 vocab sweep
    * is the same instrument pointed at vocabulary growth; this one
    * measures CROSS-document sharing.
    *
    * Scale shape: one per-doc-distinct gram explode per width (a
    * constant number of linear passes, unioned into ONE shuffle), a
    * gram-count reduction, and a semi-join back for the flagged-doc
    * census. No pair joins at any width. */
  def dedupSweep(docs: DataFrame, widths: Seq[Int] = Seq(2, 3, 4, 5))
      : DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val toks = docs.select(col("doc_id"), split(norm, " ").as("w"))
    // ONE exchange for the whole gram multiset (round-14, guide §2.4):
    // the explicit (wsize, gram) repartition is a partitioning every
    // downstream step can reuse — the per-doc distinct, the gram-count
    // reduction AND the shared-gram flag join are then all exchange-free
    // (the former plan re-shuffled the gram set three times: distinct on
    // (wsize, doc_id, gram), groupBy (wsize, gram), join re-exchange).
    val grams = widths.map { k =>
      toks.select(lit(k.toLong).as("wsize"), col("doc_id"), explode(expr(
        s"transform(slice(w, 1, size(w) - ${k - 1}), (x, i) -> " +
          s"array_join(slice(w, i + 1, $k), ' '))")).as("gram"))
    }.reduce(_ unionAll _)
      .repartition(col("wsize"), col("gram"))
      .distinct()
    val g = Caches.scratch(grams)
    val dfc = g.groupBy(col("wsize"), col("gram")).agg(count(lit(1)).as("df"))
    val perW = dfc.groupBy(col("wsize"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("df") > 1).cast("long")).as("n_shared_grams"))
    val flagged = g.join(dfc.filter(col("df") > 1).hint("shuffle_hash"),
        Seq("wsize", "gram"))
      .select(col("wsize"), col("doc_id")).distinct()
      .groupBy(col("wsize")).agg(count(lit(1)).as("docs_flagged"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    perW.join(flagged, Seq("wsize"), "left").crossJoin(broadcast(nd))
      .select(col("wsize").cast("long").as("wsize"),
        col("n_grams").cast("long").as("n_grams"),
        col("n_shared_grams").cast("long").as("n_shared_grams"),
        coalesce(col("docs_flagged"), lit(0L)).cast("long")
          .as("docs_flagged"),
        expr("coalesce(docs_flagged, 0) * 1000000 div n_docs").cast("long")
          .as("flagged_ppm"))
      .orderBy(col("wsize").asc)
  }

  /** q300: MINHASH THRESHOLD OPERATING-POINT SWEEP — pick the signature-
    * agreement cutoff by measuring it. Over the LSH candidate set, each
    * pair carries (a) the 32-slot signature-agreement ESTIMATE of its
    * Jaccard and (b) the exact shingle Jaccard; sweeping the agreement
    * threshold τ yields the precision / recall / F1 of "declare dup when
    * ≥ τ slots agree" against the exact-Jaccard-≥-0.5 truth. q178 showed
    * the estimator's calibration curve; this query turns it into the
    * operating point a production dedup actually configures. Truth is
    * candidate-restricted (pairs the banding never surfaces are invisible
    * to BOTH arms — the q243 recall audit owns that bias).
    *
    * Scale shape: the candidate set is band-bounded (the q27 argument);
    * the estimate is 32 codegen'd slot comparisons per candidate — no
    * extra shuffle; the sweep explodes candidates ×6 constant thresholds
    * and reduces map-side. */
  def thresholdSweep(docs: DataFrame): DataFrame =
    thresholdSweepFrom(Caches.scratch(shingles(docs, MinhashK)))

  private def thresholdSweepFrom(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sigs = Caches.scratch(signaturesOf(sh))
    val bands = minhashBands(sigs)
    val cand = Caches.scratch(bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct())
    val agreeExpr = (0 until NumHashes)
      .map(s => s"CAST(a.h$s = b.h$s AS LONG)").mkString(" + ")
    val est = cand
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), expr(agreeExpr).as("est32"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("icnt"))
    val lab = est.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("ic", coalesce(col("icnt"), lit(0L)))
      .withColumn("pos",
        (expr("ic * 1000000 div (na + nb - ic)") >= 500000L).cast("long"))
    val taus = Seq(4, 8, 12, 16, 20, 24, 28, 32)
    lab.select(col("est32"), col("pos"),
        explode(array(taus.map(t => lit(t.toLong)): _*)).as("tau_slots"))
      .withColumn("pred", (col("est32") >= col("tau_slots")).cast("long"))
      .groupBy(col("tau_slots"))
      .agg(sum(col("pred") * col("pos")).as("tp"),
        sum(col("pred") * (lit(1L) - col("pos"))).as("fp"),
        sum((lit(1L) - col("pred")) * col("pos")).as("fn"))
      .select(col("tau_slots").cast("long").as("tau_slots"),
        expr(s"tau_slots * 1000000 div $NumHashes").cast("long")
          .as("tau_ppm"),
        col("tp").cast("long").as("tp"), col("fp").cast("long").as("fp"),
        col("fn").cast("long").as("fn"),
        expr("tp * 1000000 div greatest(1L, tp + fp)").cast("long")
          .as("precision_ppm"),
        expr("tp * 1000000 div greatest(1L, tp + fn)").cast("long")
          .as("recall_ppm"),
        expr("2 * tp * 1000000 div greatest(1L, 2 * tp + fp + fn)")
          .cast("long").as("f1_ppm"))
      .orderBy(col("tau_slots").asc)
  }

  def thresholdSweep(spark: SparkSession, dir: String): DataFrame =
    thresholdSweepFrom(shinglesFor(spark, dir))

  /** q305: NEAR-DUP GRAPH TRANSITIVITY AUDIT — how cluster-like is the
    * q27 pair graph? Connected-component dedup clustering (q60/q78)
    * implicitly assumes near-duplication is transitive; chains of
    * pairwise-similar-but-jointly-different docs (the "semantic drift"
    * failure) make components overmerge. Global transitivity
    * 3·triangles / wedges is the standard one-number check: near 10⁶ ⇒
    * pairs close into cliques (components ≈ duplicate groups); low ⇒
    * the keep-list is gluing chains and needs a stricter τ or pairwise
    * re-verification inside clusters.
    *
    * Scale shape: runs on the PAIR graph (band-bounded, tiny relative to
    * the corpus); wedges from the degree census, triangles via the
    * ordered a<b<c three-way equi-join — the q93 orientation argument
    * bounds the skew, and here the graph itself is dedup-pair-sized. */
  def dupTransitivity(docs: DataFrame): DataFrame =
    dupTransitivityFrom(Caches.scratch(shingles(docs, MinhashK)))

  private def dupTransitivityFrom(sh: DataFrame): DataFrame = {
    val edges = Caches.scratch(minhashNearDupsFrom(sh, 0.8)
      .select(col("doc_a").as("u"), col("doc_b").as("v")))
    val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
    val wedges = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    val tri = edges.as("e1").join(edges.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .join(edges.as("e3"),
        col("e3.u") === col("e1.v") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
    edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges).crossJoin(tri)
      .select(col("n_edges").cast("long").as("n_edges"),
        col("n_wedges").cast("long").as("n_wedges"),
        col("n_triangles").cast("long").as("n_triangles"),
        expr("3 * n_triangles * 1000000 div greatest(1L, n_wedges)")
          .cast("long").as("transitivity_ppm"))
  }

  def dupTransitivity(spark: SparkSession, dir: String): DataFrame =
    dupTransitivityFrom(shinglesFor(spark, dir))

  /** q308: MINHASH SIGNATURE-LENGTH SWEEP — estimator error vs the exact
    * Jaccard at K = 8, 16, 32 signature slots, over the LSH candidate
    * set. The accuracy-vs-cost dial every minhash deployment sets: the
    * standard error falls as 1/√K while signature bytes (and the q269
    * sketch-merge cost) grow linearly, and this measures the actual
    * tradeoff on the corpus instead of trusting the asymptotic formula.
    * The K-slot estimate reuses the FIRST K slots of the one 32-slot
    * signature pass — no re-hashing per sweep point.
    *
    * Scale shape: identical to q300 (band-bounded pairs, codegen'd slot
    * comparisons), reduced to a 3-row census. */
  def minhashKSweep(docs: DataFrame): DataFrame =
    minhashKSweepFrom(Caches.scratch(shingles(docs, MinhashK)))

  private def minhashKSweepFrom(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sigs = Caches.scratch(signaturesOf(sh))
    val bands = minhashBands(sigs)
    val cand = Caches.scratch(bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct())
    def agreeExpr(k: Int): String =
      (0 until k).map(s => s"CAST(a.h$s = b.h$s AS LONG)").mkString(" + ")
    val est = cand
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        expr(agreeExpr(8)).as("agree8"), expr(agreeExpr(16)).as("agree16"),
        expr(agreeExpr(32)).as("agree32"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("icnt"))
    est.join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("ic", coalesce(col("icnt"), lit(0L)))
      .withColumn("jacc_ppm", expr("ic * 1000000 div (na + nb - ic)"))
      .select(col("jacc_ppm"),
        explode(expr("array(" +
          "struct(8L AS k, agree8 AS agree), " +
          "struct(16L AS k, agree16 AS agree), " +
          "struct(32L AS k, agree32 AS agree))")).as("e"))
      .select(col("jacc_ppm"), col("e.k").as("k"),
        expr("abs(e.agree * 1000000 div e.k - jacc_ppm)").as("abs_err"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(abs_err) div count(1)").as("mean_abs_err_ppm"),
        max(col("abs_err")).as("max_abs_err_ppm"))
      .select(col("k").cast("long").as("k"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("mean_abs_err_ppm").cast("long").as("mean_abs_err_ppm"),
        col("max_abs_err_ppm").cast("long").as("max_abs_err_ppm"))
      .orderBy(col("k").asc)
  }

  def minhashKSweep(spark: SparkSession, dir: String): DataFrame =
    minhashKSweepFrom(shinglesFor(spark, dir))

  /** q316: IN-BATCH DUPLICATE-COLLISION EXPECTATION — for contrastive
    * training with in-batch negatives, the expected number of duplicate
    * pairs a uniformly-drawn batch contains: E = B(B−1)/2 · p where
    * p = Σ cᵢ(cᵢ−1) / N(N−1) over exact-duplicate group sizes. A batch
    * that contains a duplicate pair feeds the loss a false negative
    * (the "negative" IS the anchor), so this number decides whether
    * dedup must run BEFORE contrastive fine-tuning at a given batch
    * size. Duplicate groups key on the 64-char normalized PREFIX
    * fingerprint (the q191 granularity — this corpus's near-dups share
    * prefixes while full-text hashes all differ; at 100 TB swap in the
    * q78 keep-list's cluster ids, same shape). Exact integers end to
    * end (milli-pairs per batch).
    *
    * Scale shape: one prefix-hash census reduced to Σc(c−1) and N; the
    * batch sweep is 4 constant rows. */
  def inBatchCollisions(docs: DataFrame,
      batches: Seq[Int] = Seq(16, 64, 256, 1024)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val groups = docs.select(md5(substring(norm, 1, 64)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
    val m = groups.agg(sum(col("c")).as("n"),
      sum(expr("c * (c - 1)")).as("pnum"))
    batches.toDF("b").crossJoin(broadcast(m))
      .filter(col("b") <= col("n"))
      .select(col("b").cast("long").as("batch_size"),
        col("n").cast("long").as("n_docs"),
        col("pnum").cast("long").as("dup_ordered_pairs"),
        expr("pnum * 1000000 div (n * (n - 1))").cast("long")
          .as("p_pair_ppm"),
        expr("b * (b - 1) div 2 * pnum * 1000 div (n * (n - 1))")
          .cast("long").as("exp_pairs_milli"))
      .orderBy(col("batch_size").asc)
  }

  /** q317: SHARD LOCALITY OF NEAR-DUP PAIRS — if dedup runs shard-local
    * (the only shape that scales to 100 TB: partition by content
    * fingerprint, dedup within partitions), what fraction of true pairs
    * does the sharding keep together? Exact duplicates share the
    * fingerprint by construction (same-shard always — the control row
    * that validates the wiring); NEAR-duplicates land together only by
    * luck, and their cross-shard share is precisely the recall the
    * shard-local pass gives up — the number that justifies the banded
    * global pass (q27) over the cheap local one.
    *
    * Scale shape: the pair frame is band-bounded; shards join in from
    * the q30 fingerprint (broadcast-sized census keyed by doc). */
  def shardLocality(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val shards = docs.select(col("doc_id"),
      (h60(norm) % 64).as("shard"))
    val pairs = minhashNearDups(docs)
      .withColumn("kind",
        when(col("jaccard") >= 0.999999, lit("exact")).otherwise(lit("near")))
    pairs
      .join(shards.select(col("doc_id").as("doc_a"),
        col("shard").as("sa")), Seq("doc_a"))
      .join(shards.select(col("doc_id").as("doc_b"),
        col("shard").as("sb")), Seq("doc_b"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("sa") === col("sb")).cast("long")).as("n_same_shard"))
      .select(col("kind"), col("n_pairs").cast("long").as("n_pairs"),
        col("n_same_shard").cast("long").as("n_same_shard"),
        expr("n_same_shard * 1000000 div n_pairs").cast("long")
          .as("same_shard_ppm"))
      .orderBy(col("kind").asc)
  }

  /** q322: SORTED-NEIGHBORHOOD dedup (Hernández–Stolfo SNM) + the
    * blocking-quality audit record-linkage reports ship — the classic
    * alternative to LSH banding: sort on a cheap key, compare each
    * record only to its `window − 1` successors. Inherently LINEAR in
    * the corpus (candidates = (w−1)·N by construction, no block-size
    * hazard), at the price of missing near-dups whose keys sort apart —
    * which is exactly what the audit quantifies against the q27 LSH
    * pair set:
    *
    *  - `completeness_ppm` (pairs completeness): share of LSH's
    *    verified pairs the SNM window also found and verified;
    *  - `reduction_ppm` (reduction ratio): 1 − candidates/allPairs —
    *    how much of the corpus² comparison space the sort avoided.
    *
    * The sort key is the 16-char normalized prefix; the sort itself is
    * range-partitioned by the 2-char block prefix (windows never cross a
    * block boundary — at 100 TB this is the orderly range-shuffle SNM
    * always needs, and block-edge misses are part of the measured
    * trade). Verification is the SAME 3-word-shingle Jaccard ≥ 0.8 as
    * q27, so the two pair sets are directly comparable. */
  // q322 blocking constants, single-sourced into the operator defaults,
  // the ScaleGrowth snm_candidates counter and its (window−1)·N bound,
  // and the SparkEntry oracle SQL (round-12 advice: the counter
  // re-inlined these literals, so a window change would silently desync
  // the growth audit from the operator it audits).
  val SnmWindow = 4
  val SnmPrefixLen = 16
  val SnmBlockLen = 2

  def snmDedupAudit(spark: SparkSession, dir: String,
                    window: Int = SnmWindow,
                    prefixLen: Int = SnmPrefixLen): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keyed = normalized(docs).select(col("doc_id"),
      substring(col("norm"), 1, prefixLen).as("k"),
      substring(col("norm"), 1, SnmBlockLen).as("blk"))
    val w = Window.partitionBy(col("blk"))
      .orderBy(col("k").asc, col("doc_id").asc)
    val rn = keyed.withColumn("rn", row_number().over(w))
      .select(col("blk"), col("rn"), col("doc_id"))
    val cand = graft.core.Caches.scratch(
      rn.as("x").join(rn.as("y"),
          col("x.blk") === col("y.blk")
            && col("y.rn") > col("x.rn")
            && col("y.rn") <= col("x.rn") + (window - 1))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b")))
    val sh = shinglesFor(spark, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val verified = graft.core.Caches.scratch(cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("icnt"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .filter(col("icnt").cast("double")
        / (col("na") + col("nb") - col("icnt")) >= 0.8)
      .select(col("doc_a"), col("doc_b")))
    val lsh = graft.core.Caches.scratch(
      minhashNearDups(spark, dir).select(col("doc_a"), col("doc_b")))
    val common = verified.join(lsh, Seq("doc_a", "doc_b"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh_pairs")))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .select(col("n_docs").cast("long").as("n_docs"),
        col("n_candidates").cast("long").as("n_candidates"),
        col("n_verified").cast("long").as("n_verified"),
        col("n_lsh_pairs").cast("long").as("n_lsh_pairs"),
        col("n_common").cast("long").as("n_common"),
        expr("n_common * 1000000 div greatest(1L, n_lsh_pairs)")
          .cast("long").as("completeness_ppm"),
        expr("1000000 - n_candidates * 1000000" +
          " div (n_docs * (n_docs - 1) div 2)")
          .cast("long").as("reduction_ppm"))
  }

  /** q334: FAMILY-PRECISION audit of the q27 MinHash pair set against a
    * STRICTER lexical definition — every accepted pair re-verified at
    * 5-word shingles (Jaccard is k-sensitive: wider shingles demand
    * longer exact runs, so j₅ < j₃ whenever similarity comes from
    * reshuffled short phrases rather than shared passages). The census
    * buckets pairs by their exact j₅ decile and counts how many survive
    * the same 0.8 bar — the number a curation team quotes as "pair
    * precision under a stricter reviewer" when no labeled dup set
    * exists, and the k-sensitivity complement to the q308 signature-K
    * sweep (which varies the HASH budget, not the DEFINITION).
    *
    * Scale shape: the pair set is candidate-sized, so the 5-shingle pass
    * runs over PAIR MEMBERS only (semi-join before exploding — the
    * corpus never re-shingles for this audit); intersection is the
    * shingle-keyed join restricted to pairs; the census is ≤ 10 rows.
    * Exact integers: j₅ in ppm from intersection/union counts, decile =
    * j₅_ppm div 10⁵. Pairs whose members are shorter than 5 words have
    * no 5-shingle set to verify against and are dropped on both
    * engines (inner size join). */
  def dedupPrecisionStrict(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.core.Caches.scratch(
      minhashNearDups(spark, dir).select(col("doc_a"), col("doc_b")))
    val members = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val sh5 = graft.core.Caches.scratch(
      shingles(Tables.documents(spark, dir).join(members, Seq("doc_id")), 5))
    val sizes = sh5.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh5.select(col("doc_id").as("doc_a"), col("shingle")),
        Seq("doc_a"))
      .join(sh5.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i5"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .withColumn("j5_ppm", expr(
        "coalesce(i5, 0L) * 1000000 div (na + nb - coalesce(i5, 0L))"))
      .withColumn("j5_decile", least(lit(9L), expr("j5_ppm div 100000")))
      .groupBy(col("j5_decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum((col("j5_ppm") >= 800000L).cast("long")).as("n_strict"),
        expr("sum(j5_ppm) div count(1)").as("mean_j5_ppm"))
      .select(col("j5_decile").cast("long").as("j5_decile"),
        col("n_pairs").cast("long").as("n_pairs"),
        col("n_strict").cast("long").as("n_strict"),
        col("mean_j5_ppm").cast("long").as("mean_j5_ppm"))
      .orderBy(col("j5_decile").asc)
  }
}

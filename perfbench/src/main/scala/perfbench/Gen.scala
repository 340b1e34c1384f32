package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded corpus generators with planted ground truth.
  *
  * Every value is a pure function of (seed, row id) through `xxhash64`, so
  * a seed always yields the same files at any parallelism. The sequence
  * corpus keeps `graft.DataGen.sequences`' schema (doc_id, tokens, n_tok,
  * source) and defect taxonomy, but draws the defective rows by seeded hash
  * at a rate set per workload. The text corpus adds planted exact
  * duplicates, near duplicates, contaminated documents and malformed JSON
  * lines. The program under test only ever sees the written files; the
  * expected counts go to a separate truth file.
  */
object Gen {
  val BOS = graft.DataGen.BOS
  val VOCAB = graft.DataGen.VOCAB

  // row-local and cross-row defect classes of the sequence corpus
  val RangeLow = 0 // n_tok = 0
  val RangeHigh = 1 // n_tok = 9000
  val LenMismatch = 2 // size(tokens) = n_tok - 1
  val BadToken = 3 // a -1 token at index 1
  val NoBos = 4 // the BOS slot holds an ordinary token
  val NullId = 5 // doc_id null
  val BadId = 6 // malformed doc_id
  val DupId = 7 // doc_id of the previous row
  val Orphan = 8 // source absent from the sources dimension
  val NClasses = 9
  val RowLocal = Seq(RangeLow, RangeHigh, LenMismatch, BadToken, NoBos, NullId, BadId)

  /** Uniform [0, 1) from the seed, a salt and key columns. */
  private def unif(seed: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64(lit(seed) +: lit(salt) +: keys: _*), lit(1L << 30)).cast(DoubleType) /
      (1L << 30).toDouble
  private def hmod(seed: Long, salt: Int, m: Long, keys: Column*): Column =
    pmod(xxhash64(lit(seed) +: lit(salt) +: keys: _*), lit(m))

  /** SplitMix64 finalizer over (seed, row, i): the per-token hash, run in
    * compiled code because a lambda per token would dominate generation. */
  private def mix(seed: Long, row: Long, i: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + row * 0xC2B2AE3D27D4EB4FL + i + 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------------------------
  // Sequence corpus (validate, quarantine)
  // ---------------------------------------------------------------------

  /** Sequence rows plus the hidden `__cls` column (-1 = clean). The
    * forums source (0.2 % of rows) is planted drift: its lengths sit in the
    * top length bin, far from the pooled distribution, while the share is
    * small enough that the pooled histogram the other sources are compared
    * against barely moves. */
  def sequences(spark: SparkSession, n: Long, maxLen: Int, defectRate: Double,
      seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    def rawCls(i: Column): Column =
      when(unif(seed, 1, i) < defectRate, hmod(seed, 2, NClasses, i).cast(IntegerType))
        .otherwise(lit(-1))
    // a duplicate only counts when the previous row kept its own doc_id
    val cls = when(rawCls(id) === DupId &&
      (id === 0 || rawCls(id - 1).isin(NullId, BadId, DupId)), lit(-1))
      .otherwise(rawCls(id))
    val binWidth = math.max(maxLen / 16, 1)
    val srcPick = hmod(seed, 3, 1000, id)
    val source =
      when(col("__cls") === Orphan, "scraped-mystery")
        .when(srcPick < 500, "web").when(srcPick < 750, "books")
        .when(srcPick < 900, "code").when(srcPick < 998, "wiki")
        .otherwise("forums")
    val baseLen = (hmod(seed, 4, maxLen - 2, id) + 2).cast(IntegerType)
    val driftLen = (lit(maxLen - 1) - hmod(seed, 4, binWidth, id)).cast(IntegerType)
    val trueLen = when(col("source") === "forums", driftLen).otherwise(baseLen)
    val c = col("__cls")
    val nTok = when(c === RangeLow, 0).when(c === RangeHigh, 9000)
      .otherwise(col("__len")).cast(IntegerType)
    val genLen = when(c === LenMismatch, col("__len") - 1).otherwise(col("__len"))
    // ordinary tokens avoid 0..2, so BOS appears only where planted
    val tokenArray = udf { (row: Long, len: Int, noBos: Boolean, badToken: Boolean) =>
      Array.tabulate(len) { i =>
        if (i == 0 && !noBos) BOS
        else if (badToken && i == 1) -1
        else 3 + java.lang.Math.floorMod(mix(seed, row, i), (VOCAB - 3).toLong).toInt
      }
    }
    val docId =
      when(c === NullId, lit(null).cast(StringType))
        .when(c === BadId, concat(lit("BAD "), id.cast(StringType)))
        .when(c === DupId, format_string("doc-%012d", id - 1))
        .otherwise(format_string("doc-%012d", id))
    spark.range(0, n, 1, parts)
      .withColumn("__cls", cls)
      .withColumn("source", source)
      .withColumn("__len", trueLen)
      .select(docId.as("doc_id"),
        tokenArray(id, genLen, c === NoBos, c === BadToken).as("tokens"),
        nTok.as("n_tok"), col("source"), c)
  }

  /** Expected validation outcome of a sequence corpus, from its classes:
    * `fail.<check>` failing rows per row-local check (one violation each),
    * `vio.<constraint>` violation rows per constraint. */
  def sequenceTruth(df: DataFrame): Map[String, Long] = {
    val r = df.agg(count(lit(1)), sum(size(col("tokens")).cast(LongType)) +:
      (0 until NClasses).map(k => sum(when(col("__cls") === k, 1L).otherwise(0L))): _*).head()
    val cnt = (0 until NClasses).map(k => r.getLong(k + 2))
    val rows = r.getLong(0)
    val rowDefective = RowLocal.map(cnt).sum
    val failByCheck = Map(
      "nonnull(doc_id)" -> cnt(NullId),
      "regex(doc_id)" -> cnt(BadId),
      "nonnull(source)" -> 0L,
      "range(n_tok)" -> (cnt(RangeLow) + cnt(RangeHigh)),
      "lengthConsistent(tokens,n_tok)" -> (cnt(RangeLow) + cnt(RangeHigh) + cnt(LenMismatch)),
      "elemRange(tokens)" -> cnt(BadToken),
      "contains(tokens)" -> cnt(NoBos),
      "sizeBounds(tokens)" -> 0L)
    val aggVios = Map(
      "unique(doc_id)" -> cnt(DupId),
      "ref(source->source)" -> (if (cnt(Orphan) > 0) 1L else 0L),
      "drift(n_tok by source)" -> 1L)
    val vios = (failByCheck ++ aggVios).filter(_._2 > 0)
    Map("rows" -> rows, "tokens" -> r.getLong(1), "pass" -> (rows - rowDefective),
      "quarantined" -> rowDefective) ++
      failByCheck.map { case (k, v) => s"fail.$k" -> v } ++
      vios.map { case (k, v) => s"vio.$k" -> v }
  }

  // ---------------------------------------------------------------------
  // Text corpus (prep_pipeline)
  // ---------------------------------------------------------------------

  val Words = 5000 // pseudo-word vocabulary; token = word index + 3
  val EvalSeqs = 40
  val EvalLen = 64
  val Window = 20 // tokens copied from an eval sequence into a contaminated doc
  val ContextLen = 2048 // packing context; longer than any document

  final case class TextPlan(plain: Long, defective: Long, contaminated: Long,
      exactCopies: Long, nearCopies: Long, corruptLines: Long) {
    def originals: Long = plain + defective + contaminated
    def docs: Long = originals + exactCopies + nearCopies
  }

  def textPlan(docs: Long): TextPlan = {
    val copies = math.max(docs / 20, 1) // 5 % exact, 5 % near
    val defective = math.max(docs * 3 / 100, 1)
    val contaminated = math.max(docs / 100, 1)
    val plain = docs - 2 * copies - defective - contaminated
    TextPlan(plain, defective, contaminated, copies, copies, math.max(docs / 500, 1))
  }

  /** Zipf-like word rank: u^3 favours small indices. */
  private def zipfWord(u: Column): Column = floor(pow(u, lit(3.0)) * Words).cast(IntegerType)

  /** Word `pos` of eval sequence `e`, drawn like ordinary text so the LM
    * does not single contaminated documents out. */
  private def evalWord(seed: Long, e: Column, pos: Column): Column =
    zipfWord(unif(seed, 20, e.cast(LongType), pos.cast(LongType)))

  /** Documents (doc_id, text, tokens, n_tok, source, lang) and the hidden
    * `__kind` column. Ids are laid out by kind: plain originals, defective
    * originals, contaminated originals, exact copies, near copies. Copies
    * always copy a plain original, which has a smaller id, so keep-min
    * dedup must drop every copy and keep its source. */
  def textDocs(spark: SparkSession, plan: TextPlan, seed: Long, parts: Int): DataFrame = {
    val id = col("id")
    val p = plan
    val kind =
      when(id < p.plain, "plain")
        .when(id < p.plain + p.defective, "defective")
        .when(id < p.originals, "contaminated")
        .when(id < p.originals + p.exactCopies, "exact_copy")
        .otherwise("near_copy")
    val isCopy = col("__kind").isin("exact_copy", "near_copy")
    // the document whose words this row carries
    val src = when(isCopy, hmod(seed, 10, p.plain, id)).otherwise(id)
    val nWords = (hmod(seed, 11, 157, col("__src")) + 100).cast(IntegerType)
    val zipf = (j: Column) => zipfWord(unif(seed, 12, col("__src"), j))
    val edit = hmod(seed, 13, 1 << 20, id).cast(IntegerType) % col("__n")
    val evalSeq = hmod(seed, 14, EvalSeqs, id)
    val evalStart = hmod(seed, 15, EvalLen - Window + 1, id)
    val wordAt = (j: Column) =>
      when(col("__kind") === "near_copy" && j === edit,
        floor(unif(seed, 16, id) * Words).cast(IntegerType))
        .when(col("__kind") === "contaminated" && j >= 5 && j < 5 + Window,
          evalWord(seed, evalSeq, evalStart + j - 5))
        .otherwise(zipf(j))
    val defect = hmod(seed, 17, 3, id) // 0 bad token, 1 length mismatch, 2 no BOS
    val isDefective = col("__kind") === "defective"
    val toks = concat(
      array(when(isDefective && defect === 2, lit(3)).otherwise(lit(BOS))),
      transform(col("__w"), (w: Column, j: Column) =>
        when(isDefective && defect === 0 && j === 0, lit(-1)).otherwise(w + 3)))
    val srcPick = hmod(seed, 18, 1000, col("__src"))
    val langPick = hmod(seed, 19, 100, col("__src"))
    spark.range(0, p.docs, 1, parts)
      .withColumn("__kind", kind)
      .withColumn("__src", src)
      .withColumn("__n", nWords)
      .withColumn("__w", transform(sequence(lit(0), col("__n") - 1), wordAt))
      .select(
        format_string("doc-%012d", id).as("doc_id"),
        concat_ws(" ", transform(col("__w"),
          w => concat(lit("w"), lower(conv(w.cast(StringType), 10, 36))))).as("text"),
        toks.as("tokens"),
        (size(toks) + when(isDefective && defect === 1, 1).otherwise(0)).as("n_tok"),
        when(srcPick < 500, "web").when(srcPick < 750, "books")
          .when(srcPick < 900, "code").when(srcPick < 970, "wiki")
          .otherwise("forums").as("source"),
        when(langPick < 60, "en").when(langPick < 85, "de").otherwise("fr").as("lang"),
        col("__kind"))
  }

  /** Truncated JSON records the reader must route to its corrupt side. */
  def corruptLines(spark: SparkSession, plan: TextPlan, seed: Long): DataFrame =
    spark.range(0, plan.corruptLines, 1, 1).select(
      format_string("{\"doc_id\": \"doc-%012d\", \"text\": \"w%d w", col("id") + plan.docs,
        hmod(seed, 21, 1000, col("id"))).as("value"))

  /** The decontamination benchmark set (tokens only). */
  def evalSet(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0, EvalSeqs, 1, 1).select(
      transform(sequence(lit(0), lit(EvalLen - 1)), pos => evalWord(seed, col("id"), pos) + 3)
        .as("tokens"))

  /** Reference text the n-gram LM trains on (same word distribution). */
  def refDocs(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame =
    textDocs(spark, TextPlan(n, 0, 0, 0, 0, 0), seed ^ 0x5eedL, parts)
      .select(col("doc_id"), col("text"))
}

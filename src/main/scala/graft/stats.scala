package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sketch-based corpus statistics (SURVEY.md §2.4 "drift / stats"): the
  * approximate companions to the exact drift histograms — all single-pass
  * two-phase aggregations whose state is a fixed-size sketch, so they cost
  * one scan regardless of corpus size.
  */
object Stats {

  /** Per-group profile of a numeric column: count, min/max, approx distinct,
    * approx quantiles. One hash aggregation. */
  def numericProfile(df: DataFrame, valueCol: String, groupCol: String,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95, 0.99)): DataFrame =
    df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      min(col(valueCol)).as("min"),
      max(col(valueCol)).as("max"),
      avg(col(valueCol).cast(DoubleType)).as("mean"),
      approx_count_distinct(col(valueCol)).as("approx_distinct"),
      percentile_approx(col(valueCol).cast(DoubleType),
        array(probs.map(lit): _*), lit(10000)).as("quantiles"))

  /** Count-min sketch of a column per group (Spark's built-in CMS agg);
    * returns the binary sketch for driver-side point queries / merging —
    * the frequency-sketch path for token-distribution drift at 10^12 scale
    * (exploded exact counts would shuffle the full token stream). */
  def countMinSketch(df: DataFrame, valueCol: String, groupCol: String,
      eps: Double = 0.001, confidence: Double = 0.99, seed: Int = 42): DataFrame =
    df.groupBy(col(groupCol)).agg(
      count_min_sketch(col(valueCol), lit(eps), lit(confidence), lit(seed)).as("cms"))

  /** Exact token histogram at a deterministic sample rate: explode only rows
    * whose key-hash lands under `rate` — scales the shuffle by `rate` while
    * staying reproducible (no rand()). */
  def sampledTokenHistogram(df: DataFrame, tokensCol: String, keyCol: String,
      rate: Double, buckets: Int = 1000000): DataFrame = {
    val keep = pmod(xxhash64(col(keyCol)), lit(buckets.toLong)) < (rate * buckets).toLong
    df.filter(keep)
      .select(explode(col(tokensCol)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
  }

  /** Top-k worst buckets by violation count — the operational "where to look
    * first" view over a bucket report (global TakeOrdered, no full sort). */
  /** Per-group PADDING-WASTE profile over fixed-width padded batches: the
    * fraction of scanned tokens that are pad (×10^6 fixed point, TRUE floor
    * division — bit-identical across engines) plus the raw counts. The
    * training-efficiency twin of the pad-layout CHECKS: layout says the
    * rows are well-formed, waste says how much compute the padding burns —
    * rising waste means the packer (or the length distribution) regressed.
    * One zero-shuffle codegen'd pass ([[graft.functions.ArrayCountEq]]);
    * three LONGs per group over the wire. Null arrays contribute nothing. */
  def padWasteProfile(df: DataFrame, tokensCol: String, groupCol: String,
      pad: Long): DataFrame = {
    val t = col(tokensCol)
    df.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n_rows"),
        sum(when(t.isNull, 0L).otherwise(size(t).cast(LongType))).as("n_tokens"),
        sum(when(t.isNull, 0L).otherwise(
          graft.functions.VecFunctions.array_count_eq(t, pad))).as("n_pad"))
      .withColumn("waste_fp",
        when(col("n_tokens") > 0,
          Constraints.intDivFp(col("n_pad"), col("n_tokens"))).otherwise(lit(0L)))
  }

  def topKWorstBuckets(report: DataFrame, k: Int): DataFrame =
    report.orderBy(desc("fail"), col("bucket_id")).limit(k)

  /** EXACT pairwise correlation sufficient statistics over the cents
    * domain, one row per (col_x, col_y) pair from `cols` (x before y in
    * `cols` order): n (complete rows), the five sums Σx Σy Σx² Σy² Σxy as
    * DECIMAL(38,0) — cents inputs are ≤ ~10^8 for real-world measures, so
    * the squared sums stay exact past 10^12 rows where a double
    * accumulation has long since lost integer precision — plus
    * `pearson_fp`, the Pearson coefficient ×10^6 rounded to a LONG,
    * computed FROM the exact sums in one fixed double expression (exact
    * integer inputs ⇒ the float rounding is reproducible across engines,
    * unlike a streamed float accumulation whose result depends on
    * partition order).
    *
    * A pair's statistics are over its COMPLETE rows (both sides non-null),
    * the standard pairwise-deletion convention. Scale shape: ONE
    * aggregation for all pairs — O(k²) simple sums, no shuffle of values,
    * the same single-pass profile shape as [[graft.Profiler.profile]]. */
  def correlationStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"correlationStats: need >= 2 columns, got $cols")
    require(cols.distinct.size == cols.size, s"correlationStats: duplicates in $cols")
    cols.foreach { c =>
      require(df.columns.contains(c), s"correlationStats: no such column '$c'")
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"correlationStats: column '$c' is ${df.schema(c).dataType.typeName}, need numeric")
    }
    val dec = DecimalType(18, 0)
    def cents(c: String) = round(col(c) * 100).cast(dec)
    val pairs = cols.combinations(2).toSeq
    val aggs = pairs.zipWithIndex.flatMap { case (Seq(a, b), i) =>
      val complete = col(a).isNotNull && col(b).isNotNull
      val x = when(complete, cents(a)); val y = when(complete, cents(b))
      Seq(
        sum(complete.cast(LongType)).as(s"__n_$i"),
        sum(x).as(s"__sx_$i"), sum(y).as(s"__sy_$i"),
        sum(x * x).as(s"__sxx_$i"), sum(y * y).as(s"__syy_$i"),
        sum(x * y).as(s"__sxy_$i"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val d38 = DecimalType(38, 0)
    val rows = pairs.zipWithIndex.map { case (Seq(a, b), i) =>
      val n = col(s"__n_$i")
      val (sx, sy) = (col(s"__sx_$i"), col(s"__sy_$i"))
      val (sxx, syy, sxy) = (col(s"__sxx_$i"), col(s"__syy_$i"), col(s"__sxy_$i"))
      // one fixed expression over exact integers: cov and variances scaled
      // by n² cancel in the ratio; guard zero-variance columns to null
      val nd = n.cast(DoubleType)
      val num = nd * sxy.cast(DoubleType) - sx.cast(DoubleType) * sy.cast(DoubleType)
      val vx = nd * sxx.cast(DoubleType) - sx.cast(DoubleType) * sx.cast(DoubleType)
      val vy = nd * syy.cast(DoubleType) - sy.cast(DoubleType) * sy.cast(DoubleType)
      val pearsonFp = when(vx > 0 && vy > 0,
        round(num / sqrt(vx * vy) * 1000000).cast(LongType))
      struct(
        lit(a).as("col_x"), lit(b).as("col_y"), n.as("n"),
        sx.cast(d38).as("sum_x"), sy.cast(d38).as("sum_y"),
        sxx.cast(d38).as("sum_xx"), syy.cast(d38).as("sum_yy"),
        sxy.cast(d38).as("sum_xy"), pearsonFp.as("pearson_fp"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }
}

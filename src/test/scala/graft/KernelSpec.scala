package graft

import org.apache.spark.sql.{AnalysisException, Column, GraftShim, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextFunctions._
import graft.functions.VecFunctions._

/** Contracts of the functions layer's custom Catalyst kernels (VecExprs,
  * TextExprs): interpreted eval and generated code compute the same rows,
  * and an ill-typed input fails at analysis. Both tables must name every
  * kernel. Inputs: hand-written edge rows plus seeded ScalaCheck rows.
  *
  * The input frame is built from an RDD, not a local Seq: the optimizer
  * evaluates a projection over a LocalRelation itself, interpreted
  * (ConvertToLocalRelation), so a `Seq(...).toDF` input never reaches the
  * generated code. */
class KernelSpec extends SparkSpec {

  private val allKernels = Set(
    "VecDot", "VecNorm", "MinHashSig", "SimHash64", "SignLshBands",
    "ArrayAllInRange", "ArrayCountOutOfRange", "ArrayCountEq", "ArrayPadSuffixOk",
    "ArrayBadSegmentCount", "ArrayLastNotEq", "WordShingles", "LongArrayEqCount",
    "StringArrayIntersectCount", "TokenNgramHashes", "NearestCentroid", "NearestCentroids",
    "RepetitionStats", "WordCounts", "NgramLogProbFp", "NgramLogProbFpBroadcast")

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("s", StringType),
    StructField("sa", ArrayType(StringType)), StructField("sb", ArrayType(StringType)),
    StructField("b", ArrayType(ByteType)), StructField("h", ArrayType(ShortType)),
    StructField("i", ArrayType(IntegerType)), StructField("l", ArrayType(LongType)),
    StructField("f", ArrayType(FloatType)), StructField("d", ArrayType(DoubleType)),
    StructField("la", ArrayType(LongType)), StructField("lb", ArrayType(LongType)),
    StructField("dec", ArrayType(DecimalType(10, 2)))))

  /** One input row: `ints` fills b/h/i/l, `reals` fills f/d (d can be
    * ragged against the others); a null Seq is a null array. */
  private def row(id: Int, s: String, sa: Seq[String], sb: Seq[String],
      ints: Seq[Option[Int]], reals: Seq[Option[Double]], d: Seq[Option[Double]],
      la: Seq[Long], lb: Seq[Long]): Row = {
    def arr[A](xs: Seq[Option[A]])(f: A => Any): Seq[Any] =
      if (xs == null) null else xs.map(_.map(f).orNull)
    Row(id, s, sa, sb, arr(ints)(_.toByte), arr(ints)(_.toShort), arr(ints)(identity),
      arr(ints)(_.toLong), arr(reals)(_.toFloat), arr(d)(identity), la, lb,
      arr(ints)(v => new java.math.BigDecimal(v)))
  }

  private lazy val df = {
    val some = (xs: Seq[Int]) => xs.map(Option(_))
    val big = 0 until 10000
    val text = "the cat sat. The cat sat!\nthe cat sat\n\ndog"
    val reals = Seq(Some(1.0), Some(Double.NaN), Some(3.0))
    val rows = Seq(
      row(0, null, null, null, null, null, null, null, null),
      row(1, "", Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq()),
      row(2, "a\n\na", Seq("a", null, "b"), Seq(null, "b"), Seq(Some(1), None, Some(3)),
        Seq(Some(1.5), None, Some(3.0)), Seq(Some(1.5), None, Some(3.0)), Seq(1L, 2L), Seq(1L, 2L)),
      row(3, text, Seq("the", "cat", "sat", "the", "cat"), Seq("cat", "dog"),
        some(Seq(5, 2, 7, 2, 0, 0)), Seq(5.0, 2.0, 7.0, 2.0, 0.0, 0.0).map(Option(_)),
        Seq(5.0, 2.0, 7.0, 2.0, 0.0, 0.0).map(Option(_)), Seq(1L, 2L, 3L), Seq(1L, 5L, 3L)),
      // out-of-range integers; NaN in both float columns
      row(4, "x", Seq("the"), Seq("the"), some(Seq(1, 11, -1, 0)), reals, reals, Seq(7L), Seq(7L)),
      // ragged pairs: d and lb are shorter than their partners
      row(5, "y", Seq("cat"), Seq("dog"), some(Seq(0, 2, 2)), Seq(Some(0.5), Some(-2.0), Some(9.0)),
        Seq(Some(1.0), Some(1.0)), Seq(1L, 2L, 3L), Seq(1L, 2L)),
      row(6, Seq.fill(200)(text).mkString(" "), big.map(k => s"w${k % 50}"), Seq("w1", "w7"),
        some(big.map(k => k % 13)), big.map(k => Option(k % 13 + 0.25)),
        big.map(k => Option(k % 13 + 0.25)), big.map(_.toLong), big.map(k => (k % 3).toLong)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows ++ generated, 2), schema)
  }

  /** Seeded random rows after the hand-written ones (ids 7+): short arrays
    * around the range, pad and separator values, with null arrays, null
    * elements, NaN and ragged partners mixed in. */
  private def generated: Seq[Row] = {
    def orNull[A](g: Gen[Seq[A]]): Gen[Seq[A]] = Gen.frequency(1 -> Gen.const(null), 9 -> g)
    def elems[A](g: Gen[A]): Gen[Seq[Option[A]]] = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None), 9 -> g.map(Option(_)))))
    val real = Gen.frequency(1 -> Gen.const(Double.NaN), 9 -> Gen.choose(-2.0, 13.0))
    val word = Gen.oneOf("the", "cat", "sat", "dog", "a")
    val words = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.frequency(1 -> Gen.const(null), 9 -> word)))
    val longs = Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 2L)))
    val gen = for {
      text <- Gen.listOfN(20, Gen.oneOf("the", "cat", "sat", "dog", ".", "\n")).map(_.mkString(" "))
      sa <- orNull(words); sb <- orNull(words)
      ints <- orNull(elems(Gen.choose(-2, 14))); reals <- orNull(elems(real))
      d <- Gen.oneOf(Gen.const(reals), orNull(elems(real)))
      la <- orNull(longs); lb <- Gen.oneOf(Gen.const(la), orNull(longs))
    } yield (text, sa, sb, ints, reals, d, la, lb)
    (0 until 40).map { k =>
      val (text, sa, sb, ints, reals, d, la, lb) = gen.apply(Gen.Parameters.default, Seed(42L + k)).get
      row(7 + k, text, sa, sb, ints, reals, d, la, lb)
    }
  }

  private val centroids = Array(Array(0.0, 1.0, 2.0), Array(5.0, 5.0, 5.0))
  private val grams = Seq(Map("the" -> 3L, "cat" -> 2L, "sat" -> 1L), Map("the\u0001cat" -> 2L))
  private lazy val model = spark.sparkContext.broadcast((grams, 10L))

  private def kernelName(c: Column): String = GraftShim.expression(c).nodeName

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every kernel computes the same rows interpreted (NO_CODEGEN) and compiled (CODEGEN_ONLY)") {
    val numeric = Seq("b", "h", "i", "l", "f", "d")
    val integral = Seq("b", "h", "i", "l")
    // (first input column, kernel call)
    val table: Seq[(String, Column)] =
      numeric.flatMap { x =>
        val c = col(x)
        Seq(vec_dot(c, col("d")), vec_norm(c), sign_lsh_bands(c, 2, 3),
          array_all_in_range(c, 0, 10), array_count_out_of_range(c, 0, 10),
          nearest_centroid(c, centroids), nearest_centroids(c, centroids, 2)).map(x -> _)
      } ++ integral.flatMap { x =>
        val c = col(x)
        Seq(array_count_eq(c, 0), array_pad_suffix_ok(c, 0), array_bad_segments(c, 2, 1, 3),
          array_last_not_eq(c, 0), token_ngram_hashes(c, 2)).map(x -> _)
      } ++ Seq(
        "sa" -> minhash_sig(col("sa"), 4), "sa" -> simhash64(col("sa")),
        "s" -> word_shingles(col("s"), 2), "la" -> long_array_eq_count(col("la"), col("lb")),
        "sa" -> array_intersect_count(col("sa"), col("sb")), "s" -> repetition_stats(col("s")),
        "s" -> word_counts(col("s")), "sa" -> ngram_logprob_fp(col("sa"), grams, 10L),
        "sa" -> ngram_logprob_fp_broadcast(col("sa"), model))
    def label(k: Int): String = s"${kernelName(table(k)._2)}(${table(k)._1})"
    assert(table.map(e => kernelName(e._2)).toSet === allKernels)

    // a few dozen columns per projection keeps each stage under the
    // whole-stage field limit
    def eval(compiled: Boolean): Seq[Seq[String]] = {
      val conf =
        if (compiled) Seq("spark.sql.codegen.wholeStage" -> "true",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
        else Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      withConf(conf: _*) {
        val parts = table.map(_._2).zipWithIndex.grouped(24).toSeq.map { chunk =>
          val q = df.select(col("id") +: chunk.map { case (c, k) => c.as(s"k$k") }: _*)
          val plan = q.queryExecution.executedPlan
          val staged = plan.collect { case w: WholeStageCodegenExec => w }
            .exists(_.child.find(_.isInstanceOf[ProjectExec]).isDefined)
          assert(staged === compiled, plan.toString)
          q.collect().sortBy(_.getInt(0)).toSeq
            .map(r => (1 until r.length).map(j => String.valueOf(r.get(j))))
        }
        parts.transpose.map(_.flatten)
      }
    }
    val interpreted = eval(compiled = false)
    val generated = eval(compiled = true)
    assert(interpreted.size === 47)
    val diffs = for {
      (ri, rg) <- interpreted.zip(generated)
      ((a, b), k) <- ri.zip(rg).zipWithIndex if a != b
    } yield s"${label(k)}: interpreted $a, compiled $b"
    assert(diffs.isEmpty, diffs.mkString("\n"))

    // spot values: the nullable kernels on ragged input, the NaN stance
    def at(row: Int, l: String): String = generated(row)(table.indices.indexWhere(label(_) == l))
    assert(at(5, "VecDot(f)") === "null")
    assert(at(5, "LongArrayEqCount(la)") === "null")
    assert(at(1, "ArrayLastNotEq(i)") === "null")
    assert(at(4, "ArrayAllInRange(f)") === "false")
    assert(at(4, "ArrayCountOutOfRange(f)") === "1")
  }

  test("every kernel rejects an ill-typed input at analysis") {
    val illTyped: Seq[Column] = Seq(
      vec_dot(col("sa"), col("d")), vec_norm(col("dec")), minhash_sig(col("i"), 4),
      simhash64(col("i")), sign_lsh_bands(col("sa"), 2, 3), array_all_in_range(col("sa"), 0, 10),
      array_count_out_of_range(col("dec"), 0, 10), array_count_eq(col("f"), 0),
      array_pad_suffix_ok(col("d"), 0), array_bad_segments(col("f"), 2, 1, 3),
      array_last_not_eq(col("d"), 0), word_shingles(col("sa"), 2),
      long_array_eq_count(col("i"), col("la")), array_intersect_count(col("i"), col("sb")),
      token_ngram_hashes(col("f"), 2), nearest_centroid(col("sa"), centroids),
      nearest_centroids(col("s"), centroids, 2), repetition_stats(col("id")),
      word_counts(col("sa")), ngram_logprob_fp(col("i"), grams, 10L),
      ngram_logprob_fp_broadcast(col("s"), model))
    assert(illTyped.map(kernelName).toSet === allKernels)
    val accepted = illTyped.filterNot { c =>
      try { df.select(c); false }
      catch { case e: AnalysisException => e.getMessage.contains("UNEXPECTED_INPUT_TYPE") }
    }
    assert(accepted.isEmpty,
      s"ill-typed input passed analysis: ${accepted.map(kernelName).mkString(", ")}")
  }
}

package graft

import org.apache.spark.sql.functions._

/** Round-6 optimization-round regression tests: the ADVICE correctness
  * fixes (FreqSketch >64KB values, ArrayCountOutOfRange NaN stance,
  * SuiteRepo append race) and result-identity guards for the optimized
  * operator internals (CC losers/report derivation, scorePairs size
  * prefilter, bucketing cache release). The NaN test's interpreted leg
  * runs `nullSafeEval` (NO_CODEGEN on an RDD input); KernelSpec holds the
  * interpreted-vs-compiled parity of every kernel. */
class Round6Spec extends SparkSpec {
  import spark.implicits._

  test("topValuesApprox survives values longer than 65535 UTF-8 bytes") {
    // writeUTF would throw UTFDataFormatException at partial-buffer
    // serialization; the length-prefixed form must not
    val big = "x" * 70000
    val df = Seq(big, big, "small", "small", "small").toDF("doc")
    val rows = Profiler.topValuesApprox(df, Seq("doc"), k = 2, capacity = 8)
      .orderBy(desc("cnt")).collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("value") === "small" && rows(0).getAs[Long]("cnt") === 3L)
    assert(rows(1).getAs[String]("value") === big && rows(1).getAs[Long]("cnt") === 2L)
  }

  test("ArrayCountOutOfRange counts NaN as out-of-range (eval + codegen agree)") {
    // an RDD input, not a local Seq: the optimizer would evaluate a
    // projection over a LocalRelation itself, interpreted, in both legs
    val df = spark.sparkContext.parallelize(Seq(
      (1L, Seq(0.1, 0.2, Double.NaN)),
      (2L, Seq(Double.NaN, Double.NaN)),
      (3L, Seq(0.1, 0.5)))).toDF("id", "xs")
    val counted = df.select(col("id"),
      graft.functions.VecFunctions.array_count_out_of_range(col("xs"), 0.0, 1.0).as("bad"))
    val want = Map(1L -> 1L, 2L -> 2L, 3L -> 0L)
    // interpreted path: without NO_CODEGEN the non-whole-stage projection
    // is still compiled and nullSafeEval never runs
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(counted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === want)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // codegen path
    assert(counted.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === want)
  }

  test("SuiteRepo.append skips a version whose document already exists") {
    val dir = java.nio.file.Files.createTempDirectory("suite_repo_race").toString
    val suite = ConstraintSuite("doc_id", Seq(NonNull("doc_id")), Nil)
    // simulate a concurrent appender that created version=0's document
    // (not yet committed): our append must NOT overwrite it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stolen = new org.apache.hadoop.fs.Path(s"$dir/version=0/suite.json")
    val out = fs.create(stolen, false)
    out.write("{\"stolen\":true}".getBytes("UTF-8")); out.close()
    val v = SuiteRepo.append(spark, dir, suite)
    assert(v === 1L, "append must retry past the occupied version slot")
    // the stolen document is untouched
    val in = fs.open(stolen)
    val bytes = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(bytes.contains("stolen"))
    // and the committed version loads back as the appended suite
    val (lv, loaded) = SuiteRepo.loadLatest(spark, dir, "doc_id").get
    assert(lv === 1L && loaded.rowChecks.map(_.id) === suite.rowChecks.map(_.id))
  }

  test("componentLosers path: dropNearDups equals corpus minus label-derived losers") {
    // chain a~b~c plus isolated pair (d,e): losers = non-min members
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (10L, "one two three four"),
      (11L, "one two three four five"),
      (20L, "totally unrelated words here")).toDF("doc_id", "text")
    val kept = ops.Dedup.dropNearDups(docs, "text", "doc_id",
      numHashes = 32, bands = 8, shingleK = 1, threshold = 0.5, maxBucket = 100)
      .select("doc_id").as[Long].collect().sorted
    // independently: full CC labels say who survives
    val (cand, rel) = ops.Dedup.minhashLshCached(docs, "text", "doc_id",
      32, 8, 1, 0.5, 100)
    val verified = ops.Dedup.ngramJaccardFor(docs, "text", "doc_id", cand, 1, 0.5)
      .select("id_a", "id_b").persist()
    val cc = ops.Dedup.connectedComponents(verified)
    val losers = cc.filter(col("id") =!= col("component")).select("id").as[Long].collect().toSet
    verified.unpersist(); rel()
    val expect = Seq(1L, 2L, 3L, 10L, 11L, 20L).filterNot(losers).sorted
    assert(kept.toSeq === expect)
  }

  test("componentReport equals label-derived cluster report") {
    val docs = Seq(
      (5L, "alpha beta gamma delta"),
      (6L, "alpha beta gamma delta epsilon"),
      (7L, "alpha beta gamma delta epsilon zeta"),
      (30L, "one two three four"),
      (31L, "one two three four five"),
      (40L, "totally unrelated words here")).toDF("doc_id", "text")
    val report = ops.Dedup.nearDupClusters(docs, "text", "doc_id",
      numHashes = 32, bands = 8, shingleK = 1, threshold = 0.5, maxBucket = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (cand, rel) = ops.Dedup.minhashLshCached(docs, "text", "doc_id",
      32, 8, 1, 0.5, 100)
    val verified = ops.Dedup.ngramJaccardFor(docs, "text", "doc_id", cand, 1, 0.5)
      .select("id_a", "id_b").persist()
    val cc = ops.Dedup.connectedComponents(verified)
    val fromLabels = cc.groupBy("component").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    verified.unpersist(); rel()
    assert(report === fromLabels)
  }

  test("scorePairs size prefilter drops no boundary pair (jaccard-only mode)") {
    // |a|=4, |b|=5, inter=4, uni=5 -> J=0.8 exactly; at minJaccard=0.8 the
    // size ratio is exactly 4 >= 0.8*5 — the inclusive prefilter keeps it
    val docs = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = ops.Dedup.ngramJaccardFor(docs, "text", "doc_id", cand, 1, 0.8).collect()
    assert(out.length === 1 && out(0).getAs[Int]("inter") === 4 && out(0).getAs[Int]("uni") === 5)
  }

  test("array_intersect_count is bit-equal to size(array_intersect) in both eval modes") {
    // duplicates count once, null matches null, empties, disjoint, subset —
    // the exact cases where a count-only kernel could drift from Spark's
    // array_intersect semantics
    val df = Seq(
      (1L, Seq("a", "b", "c"), Seq("b", "c", "d")),
      (2L, Seq("a", "a", "b"), Seq("a", "x")),
      (3L, Seq[String](), Seq("a")),
      (4L, Seq("a", null, "b"), Seq(null, "b", "b")),
      (5L, Seq("x", "y"), Seq("p", "q")),
      (6L, Seq("s1", "s2", "s3"), Seq("s3", "s2", "s1", "s0"))).toDF("id", "ga", "gb")
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    def run(mode: String): Seq[String] = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try df.select(col("id"),
          graft.functions.VecFunctions.array_intersect_count(col("ga"), col("gb")).as("fused"),
          size(array_intersect(col("ga"), col("gb"))).as("ref"))
        .collect().map(r => { assert(r.getInt(1) === r.getInt(2), s"row $r"); r.toString }).toSeq
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
    assert(run("CODEGEN_ONLY") === run("NO_CODEGEN"))
  }

  test("array_intersect_count rejects non-string arrays at analysis") {
    val df = Seq((Seq(1, 2), Seq(2, 3))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.VecFunctions.array_intersect_count(col("a"), col("b")))
    }
  }

  test("connectedComponents: truncated run still yields exactly one label per id") {
    // maxIter=1 on a 10-chain cannot converge (warn path): the non-converged
    // min-agg fallback must still emit ONE label per vertex, labels <= id
    // (the converged fast path skips that agg — this pins the other branch)
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = ops.Dedup.connectedComponents(chain, maxIter = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.map(_._1).distinct.length === cc.length)
    assert(cc.map(_._1).toSet === (1L to 10L).toSet)
    assert(cc.forall { case (id, c) => c <= id })
  }

  test("ngramJaccard: unbounded maxBlock sentinel equals the guarded form") {
    // Int.MaxValue skips the guard pass entirely; output must equal a
    // guarded run whose cap no block reaches
    val docs = Seq(
      (1L, "web", "en", "alpha beta gamma delta"),
      (2L, "web", "en", "alpha beta gamma delta epsilon"),
      (3L, "web", "en", "alpha beta gamma"),
      (4L, "web", "de", "eins zwei drei vier"),
      (5L, "web", "de", "eins zwei drei vier funf")).toDF("doc_id", "source", "lang", "text")
    def run(maxBlock: Int) = ops.Dedup.ngramJaccard(docs, "text", "doc_id",
      Seq("source", "lang"), shingleK = 1, minJaccard = 0.5, maxBlock = maxBlock)
      .select("id_a", "id_b", "inter", "uni").collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(run(Int.MaxValue).toSeq === run(1000).toSeq)
  }
}

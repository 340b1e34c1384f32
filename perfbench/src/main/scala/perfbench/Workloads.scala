package perfbench

import graft.{CompiledSuite, DataGen, DriftChiSquare, RefIntegrity, TableIO, Unique}
import graft.ops.{Decontaminate, Dedup, Packing, Pipeline, UnigramLM}
import graft.sources.JsonCorpus
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/** Input sizes of one benchmark scale. */
final case class Sizes(validateRows: Long, quarantineRows: Long, prepDocs: Long, refDocs: Long)

object Sizes {
  val full = Sizes(validateRows = 300000, quarantineRows = 60000, prepDocs = 5000, refDocs = 1000)
  val tiny = Sizes(validateRows = 20000, quarantineRows = 4000, prepDocs = 600, refDocs = 300)
}

/** Paths and seed shared by the workloads of one run. */
final case class Ctx(work: String, seed: Long, sizes: Sizes) {
  val parts = 8 // files per generated table
}

/** One benchmark workload: seeded input generation, set-up, the timed job,
  * its output check and the traced layer sweep. */
abstract class Workload(val name: String, ctx: Ctx) {
  val io: TableIO = TableIO.default
  def corpusKey: String
  lazy val dir = s"${ctx.work}/corpora/$name-$corpusKey-s${ctx.seed}"
  def out(part: String) = s"${ctx.work}/out/$name/$part"
  private def truthFile = Paths.get(dir, "_TRUTH.json")

  /** Writes the corpus and its truth file unless this (workload, size,
    * seed) is already on disk; the truth file is written last. */
  def generate(spark: SparkSession): Unit =
    if (!Files.exists(truthFile)) {
      val truth = write(spark)
      Files.createDirectories(truthFile.getParent)
      Files.writeString(truthFile, Json.render(truth))
    }
  protected def write(spark: SparkSession): Map[String, Long]
  lazy val truth: Map[String, Long] =
    Json.parseLongs(Files.readString(truthFile))
  def tokens: Long = truth("tokens")

  def setup(spark: SparkSession, tr: Option[Tracer]): Unit
  /** Set-ups per run; `setup_s` is their median, so a cheap set-up repeats
    * more to steady it. */
  def setupReps: Int = 7
  /** Untimed jobs before the first timed one. A short job plans few Spark
    * jobs, so it takes several before the JIT has compiled the code it runs:
    * on 4 cores, `validate`'s job wall falls ~30 % over its first six jobs
    * and then holds. */
  def warmupJobs: Int = 6
  def job(spark: SparkSession): Any
  /** Problems found in a job's output; empty when it is correct. */
  def check(spark: SparkSession, result: Any): Seq[String]
  /** The job's final frames, for timing physical planning. */
  def planFrames(spark: SparkSession): Seq[DataFrame]
  /** Forces each layer separately inside its own span; returns the
    * problems found in what the layers produced. */
  def sweep(spark: SparkSession, tr: Tracer): Seq[String]

  protected def timed[T](tr: Option[Tracer], span: String)(body: => T): T =
    tr.fold(body)(_.span(span)(body)())
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  /** Materializes a layer's output so the next span starts from it. */
  protected def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
  protected def compileOrFail(suite: graft.ConstraintSuite, schema: StructType): CompiledSuite =
    suite.compile(schema).fold(e => sys.error(s"suite does not compile: ${e.mkString("; ")}"), identity)
  protected def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, expected $want")
  protected def observed[T](df: DataFrame, metric: org.apache.spark.sql.Column)(
      action: DataFrame => T): (T, Long) = {
    val obs = Observation()
    val out = action(df.observe(obs, metric.as("n")))
    (out, obs.get("n").asInstanceOf[Number].longValue())
  }
  /** Bytes of the data files under `path`. The columnar reader's own byte
    * counter misses reads done on its I/O threads, and every scan here
    * reads every column, so the file sizes are what it reads. */
  protected def dataBytes(path: String): Long = {
    val files = Files.walk(Paths.get(path))
    try files.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.matches("[._].*"))
      .mapToLong(p => Files.size(p)).sum()
    finally files.close()
  }
  protected def readSpan(tr: Tracer, path: String): DataFrame = {
    val df = io.read(tr.spark, path)
    val bytes = dataBytes(path)
    tr.span("tableio.read")(noop(df)) { (_, _) =>
      Map("input_mb" -> bytes / 1048576.0, "bytes_per_token" -> bytes.toDouble / tokens)
    }
    df
  }
  protected def writeSpan(tr: Tracer, outs: Seq[(DataFrame, String)]): Unit =
    tr.span("tableio.write")(outs.foreach { case (df, p) => io.writer(df, "overwrite").save(p) }) {
      (_, c) => Map("output_mb" -> c.mb(c.outputBytes))
    }
}

/** Sequence-corpus workloads share generation and suite set-up. */
abstract class SequenceWorkload(name: String, ctx: Ctx, rows: Long, maxLen: Int, defectRate: Double)
    extends Workload(name, ctx) {
  def corpusKey = s"n$rows"
  def corpus = s"$dir/corpus"
  var compiled: CompiledSuite = _

  protected def write(spark: SparkSession): Map[String, Long] = {
    val df = Gen.sequences(spark, rows, maxLen, defectRate, ctx.seed, ctx.parts).persist()
    try {
      df.drop("__cls").write.mode("overwrite").parquet(corpus)
      Gen.sequenceTruth(df)
    } finally df.unpersist()
  }

  def setup(spark: SparkSession, tr: Option[Tracer]): Unit = {
    val schema = io.read(spark, corpus).schema
    compiled = timed(tr, "suite.compile")(compileOrFail(DataGen.standardSuite(spark, maxLen), schema))
  }
}

/** The full standard suite over short sequences with few defects: scan,
  * row-local flags and the three cross-row shuffles dominate. */
final class Validate(ctx: Ctx) extends SequenceWorkload("validate", ctx,
    ctx.sizes.validateRows, maxLen = 64, defectRate = 0.06) {

  def job(spark: SparkSession): Any = {
    val r = compiled.run(io.read(spark, corpus))
    val report = r.report.collect()
    io.writer(r.violations, "overwrite").save(out("violations"))
    report
  }

  def check(spark: SparkSession, result: Any): Seq[String] = {
    val report = result.asInstanceOf[Array[Row]]
    val fails = report.flatMap(_.getMap[String, Long](4).toSeq)
      .groupMapReduce(_._1)(_._2)(_ + _)
    val byCheck = compiled.rowChecks.map(_.id).flatMap { id =>
      expect(s"fail_by_check[$id]", fails.getOrElse(id, -1L), truth(s"fail.$id"))
    }
    val vios = io.read(spark, out("violations")).groupBy("constraint_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantVios = truth.collect { case (k, v) if k.startsWith("vio.") => k.drop(4) -> v }
    expect("report rows", report.map(_.getLong(1)).sum, truth("rows")) ++
      expect("report pass", report.map(_.getLong(2)).sum, truth("pass")) ++
      byCheck ++ expect("violations by constraint", vios, wantVios)
  }

  def planFrames(spark: SparkSession): Seq[DataFrame] = {
    val r = compiled.run(io.read(spark, corpus))
    Seq(r.report, r.violations)
  }

  def sweep(spark: SparkSession, tr: Tracer): Seq[String] = {
    val df = readSpan(tr, corpus)
    tr.span("engine.annotate")(noop(compiled.annotate(df)))()
    val report = tr.span("engine.bucket_report")(compiled.bucketReport(compiled.annotate(df)).collect())()
    tr.span("engine.row_violations")(
      observed(compiled.rowViolations(compiled.annotate(df)), count(lit(1)))(noop)._2) { (n, _) =>
      Map("failing_rows" -> report.map(_.getLong(3)).sum.toDouble, "violation_rows" -> n.toDouble)
    }
    compiled.aggChecks.foreach { a =>
      val span = a match {
        case _: Unique => "constraints.unique"
        case _: RefIntegrity => "constraints.ref_integrity"
        case _: DriftChiSquare => "constraints.drift_chi2"
        case other => s"constraints.${other.id}"
      }
      tr.span(span)(noop(a.run(df)))()
    }
    val vio = pin(compiled.run(df).violations)
    writeSpan(tr, Seq(vio -> out("violations")))
    Nil
  }
}

/** Row-local quarantine split over long sequences with many defects:
  * per-element kernels and span construction, and writes beside reads. */
final class Quarantine(ctx: Ctx) extends SequenceWorkload("quarantine", ctx,
    ctx.sizes.quarantineRows, maxLen = 512, defectRate = 0.30) {

  def job(spark: SparkSession): Any = {
    val (clean, quarantined) = compiled.split(io.read(spark, corpus))
    io.writer(clean, "overwrite").save(out("clean"))
    io.writer(quarantined, "overwrite").save(out("quarantined"))
    ()
  }

  def check(spark: SparkSession, result: Any): Seq[String] = {
    val clean = io.read(spark, out("clean")).count()
    val quarantined = io.read(spark, out("quarantined")).count()
    expect("clean + quarantined", clean + quarantined, truth("rows")) ++
      expect("quarantined", quarantined, truth("quarantined")) ++
      (if (clean == 0 || quarantined == 0) Seq(s"empty output: clean=$clean quarantined=$quarantined")
       else Nil)
  }

  def planFrames(spark: SparkSession): Seq[DataFrame] = {
    val (clean, quarantined) = compiled.split(io.read(spark, corpus))
    Seq(clean, quarantined)
  }

  def sweep(spark: SparkSession, tr: Tracer): Seq[String] = {
    val df = readSpan(tr, corpus)
    tr.span("engine.annotate")(noop(compiled.annotate(df)))()
    val failing = tr.span("engine.split") {
      val (clean, quarantined) = compiled.split(df)
      noop(clean)
      observed(quarantined, count(lit(1)))(noop)._2
    }()
    tr.span("engine.row_violations")(
      observed(compiled.rowViolations(compiled.annotate(df)), count(lit(1)))(noop)._2) { (n, _) =>
      Map("failing_rows" -> failing.toDouble, "violation_rows" -> n.toDouble)
    }
    val (clean, quarantined) = compiled.split(df)
    writeSpan(tr, Seq(pin(clean) -> out("clean"), pin(quarantined) -> out("quarantined")))
    expect("quarantined rows", failing, truth("quarantined"))
  }
}

/** The composed corpus job: JSONL read, quarantine split, exact and near
  * dedup, CCNet perplexity selection, decontamination, FFD packing, write. */
final class PrepPipeline(ctx: Ctx) extends Workload("prep_pipeline", ctx) {
  def corpusKey = s"n${ctx.sizes.prepDocs}"
  val schema: StructType = new StructType()
    .add("doc_id", StringType).add("text", StringType)
    .add("tokens", ArrayType(IntegerType)).add("n_tok", IntegerType)
    .add("source", StringType).add("lang", StringType)
  val plan = Gen.textPlan(ctx.sizes.prepDocs)
  def corpus = s"$dir/corpus"
  val packBuckets = 16
  var compiled: CompiledSuite = _
  var model: UnigramLM.NgramModel = _
  var evalSet: DataFrame = _
  private var firstHash: Option[Long] = None

  protected def write(spark: SparkSession): Map[String, Long] = {
    val docs = Gen.textDocs(spark, plan, ctx.seed, ctx.parts).persist()
    val fields = schema.fieldNames.map(col).toSeq
    docs.select(to_json(struct(fields: _*)).as("value"))
      .union(Gen.corruptLines(spark, plan, ctx.seed))
      .write.mode("overwrite").text(corpus)
    docs.select(col("doc_id"), size(col("tokens")).as("n"), col("__kind").as("kind"))
      .write.mode("overwrite").parquet(s"$dir/truth_docs")
    Gen.evalSet(spark, ctx.seed).write.mode("overwrite").parquet(s"$dir/eval")
    Gen.refDocs(spark, ctx.sizes.refDocs, ctx.seed, ctx.parts)
      .select(to_json(struct(col("doc_id"), col("text"))))
      .write.mode("overwrite").text(s"$dir/ref")
    val total = docs.agg(sum(size(col("tokens")).cast(LongType))).head().getLong(0)
    docs.unpersist()
    Map("rows" -> plan.docs, "tokens" -> total, "corrupt" -> plan.corruptLines,
      "quarantined" -> plan.defective)
  }

  def setup(spark: SparkSession, tr: Option[Tracer]): Unit = {
    compiled = timed(tr, "suite.compile")(compileOrFail(DataGen.standardSuite(spark, 256), schema))
    val refSchema = new StructType().add("doc_id", StringType).add("text", StringType)
    model = timed(tr, "ops.train_ngram")(UnigramLM.trainNgram(
      JsonCorpus.readSplit(spark, s"$dir/ref", refSchema)._1, "text", Seq(2000, 5000)))
    evalSet = io.read(spark, s"$dir/eval").cache()
    evalSet.count()
  }

  // one job runs ~40 Spark jobs, enough to compile most of the code it
  // runs; a set-up trains the LM, so set-ups and warm-ups are few
  override def setupReps: Int = 3
  override def warmupJobs: Int = 1

  private def pipeline(spark: SparkSession): DataFrame = {
    val (valid, _) = JsonCorpus.readSplit(spark, corpus, schema)
    val (clean, _) = compiled.split(valid)
    val exact = Dedup.dropExactDups(clean, "text", "doc_id")
    val near = Dedup.dropNearDups(exact, "text", "doc_id")
    val (kept, _) = Pipeline.ccnetSelect(near, "text", "doc_id", "lang", model)
    val decon = Decontaminate.dropContaminated(kept, "tokens", "doc_id", evalSet, "tokens")
    Packing.packSequencesFFD(decon, "tokens", "doc_id", Gen.ContextLen, packBuckets).toDF()
  }

  def job(spark: SparkSession): Any = {
    io.writer(pipeline(spark), "overwrite").save(out("packs"))
    ()
  }

  /** Planted kind and token count of every generated document. */
  private lazy val truthDocs: Map[String, (String, Long)] =
    evalSet.sparkSession.read.parquet(s"$dir/truth_docs").collect()
      .map(r => r.getString(0) -> (r.getString(2), r.getInt(1).toLong)).toMap

  /** The documents a correct job packs, derived from the corpus and the
    * planted truth alone: CCNet's head and middle over the documents that a
    * correct split, exact and near dedup leave (the plain and contaminated
    * originals), less the contaminated ones. CCNet's thresholds come from a
    * seeded sample of its input, so this set is exact; a job that loses a
    * document anywhere, or lets dedup drop an original, misses it. */
  private lazy val expectedIds: Set[String] = {
    val spark = evalSet.sparkSession
    val originals = spark.read.parquet(s"$dir/truth_docs")
      .filter(col("kind").isin("plain", "contaminated")).select("doc_id", "kind")
    val docs = spark.read.schema(schema).json(corpus).join(originals, Seq("doc_id"))
    Pipeline.ccnetSelect(docs, "text", "doc_id", "lang", model)._1
      .filter(col("kind") === "plain").select("doc_id").collect().map(_.getString(0)).toSet
  }

  def check(spark: SparkSession, result: Any): Seq[String] = {
    val packs = io.read(spark, out("packs"))
    val p = packs.agg(count(lit(1)), coalesce(sum(col("n_tok").cast(LongType)), lit(0L)),
      coalesce(bit_xor(xxhash64(col("pack_id"), col("doc_ids"), col("tokens"))), lit(0L)),
      coalesce(max(col("truncated").cast(IntegerType)), lit(0))).head()
    val ids = packs.select(explode(col("doc_ids"))).collect().map(_.getString(0))
    val packed = ids.toSet
    // packed documents that should not be, by planted kind
    val extra = (packed -- expectedIds).toSeq
      .groupMapReduce(id => truthDocs.get(id).fold("unknown")(_._1))(_ => 1)(_ + _)
    val hash = p.getLong(2)
    val sameHash = firstHash match {
      case None => firstHash = Some(hash); Nil
      case Some(h) => expect("output hash", hash, h)
    }
    // CCNet keeps about two thirds of each language group
    (if (expectedIds.size < plan.plain / 2)
       Seq(s"CCNet keeps ${expectedIds.size} of ${plan.plain} plain docs") else Nil) ++
      (if (p.getLong(0) == 0) Seq("empty output: no packs") else Nil) ++
      expect("truncated packs", p.getInt(3), 0) ++
      expect("packed docs distinct", packed.size, ids.length) ++
      expect("packed tokens conserved", p.getLong(1), ids.map(truthDocs.get(_).fold(0L)(_._2)).sum) ++
      expect("expected docs not packed", (expectedIds -- packed).size, 0) ++
      (if (extra.isEmpty) Nil
       else Seq("docs packed that should not be: " +
         extra.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(", "))) ++
      sameHash
  }

  def planFrames(spark: SparkSession): Seq[DataFrame] = Seq(pipeline(spark))

  def sweep(spark: SparkSession, tr: Tracer): Seq[String] = {
    val (valid, corrupt) = tr.span("sources.read_split") {
      val (v, c) = JsonCorpus.readSplit(spark, corpus, schema)
      (pin(v), observed(c, count(lit(1)))(noop)._2)
    } { (_, _) => Map("input_mb" -> dataBytes(corpus) / 1048576.0) }
    tr.span("engine.annotate")(noop(compiled.annotate(valid)))()
    val (clean, quarantined) = tr.span("engine.split") {
      val (c, q) = compiled.split(valid)
      (pin(c), observed(q, count(lit(1)))(noop)._2)
    }()
    val exact = tr.span("ops.dedup_exact")(pin(Dedup.dropExactDups(clean, "text", "doc_id")))()
    val near = tr.span("ops.dedup_near")(pin(Dedup.dropNearDups(exact, "text", "doc_id")))()
    val (cand, release) = Dedup.minhashLshCached(exact, "text", "doc_id", 128, 32, 3, 0.8, 1000)
    val candidates = tr.span("ops.lsh", "ops.dedup_near")(pin(cand)) { (df, _) =>
      Map("candidates" -> df.count().toDouble)
    }
    release()
    tr.span("ops.jaccard_verify", "ops.dedup_near")(observed(
      Dedup.ngramJaccardFor(exact, "text", "doc_id", candidates, 3, 0.8), count(lit(1)))(noop)._2) {
      (pairs, _) => Map("pairs" -> pairs.toDouble)
    }
    val kept = tr.span("ops.ccnet_select") {
      val (k, counts) = Pipeline.ccnetSelect(near, "text", "doc_id", "lang", model)
      noop(counts)
      pin(k)
    }()
    val decon = tr.span("ops.decontaminate")(
      pin(Decontaminate.dropContaminated(kept, "tokens", "doc_id", evalSet, "tokens")))()
    val packs = tr.span("ops.pack_ffd")(
      pin(Packing.packSequencesFFD(decon, "tokens", "doc_id", Gen.ContextLen, packBuckets).toDF())) {
      (df, _) =>
        val r = df.agg(count(lit(1)), sum(col("n_tok").cast(LongType))).head()
        Map("fill" -> r.getLong(1).toDouble / (r.getLong(0) * Gen.ContextLen))
    }
    writeSpan(tr, Seq(packs -> out("packs")))
    expect("corrupt lines", corrupt, truth("corrupt")) ++
      expect("quarantined docs", quarantined, truth("quarantined"))
  }
}

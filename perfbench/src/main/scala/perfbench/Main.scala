package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark driver: one workload end to end (`--trace 0`), or the traced
  * per-layer sweep of every workload (`--trace 1`). Writes its result as
  * JSON to `--result`; `run.py` turns it into the benchmark's output line.
  *
  * Load model: a closed loop with one client. Each timed job starts from
  * the on-disk corpus, ends in a real write, and the next job is submitted
  * when the last one has finished and its output has been checked. */
object Main {
  val Workloads = Seq("validate", "quarantine", "prep_pipeline")
  val MinJobs = 1

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, sizes: Sizes, result: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), if (kv.getOrElse("scale", "full") == "tiny") Sizes.tiny else Sizes.full,
      kv("result"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val ctx = Ctx(o.work, o.seed, o.sizes)
    val res = if (o.trace) traced(o, ctx) else endToEnd(o, ctx)
    Files.writeString(Paths.get(o.result), Json.render(res))
    System.exit(0)
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "validate" => new Validate(ctx)
    case "quarantine" => new Quarantine(ctx)
    case "prep_pipeline" => new PrepPipeline(ctx)
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def session(): SparkSession = GraftSession.local(Cores, "perfbench")

  def load1m(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The run record: what a noisy run needs to document itself. */
  def record(o: Opts, spark: SparkSession): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap("seed" -> o.seed, "nproc" -> Cores,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "sizes" -> o.sizes.toString)

  /** Runs `body`, turning an exception into a reported problem. */
  def guarded(what: String, problems: mutable.Buffer[String])(body: => Seq[String]): Unit =
    try problems ++= body catch {
      case e: Exception => problems += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
    }

  def endToEnd(o: Opts, ctx: Ctx): Map[String, Any] = {
    val wl = make(o.workload, ctx)
    var spark = session()
    val g0 = System.nanoTime()
    wl.generate(spark)
    val generateS = (System.nanoTime() - g0) / 1e9
    val problems = mutable.ArrayBuffer.empty[String]
    // set-up: fresh session, suite compile, LM training and side inputs;
    // repeated, and the median reported
    val setups = (1 to wl.setupReps).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      wl.setup(spark, None)
      (System.nanoTime() - t0) / 1e9
    }
    val meter = new Meter(keepIntervals = false)
    spark.sparkContext.addSparkListener(meter)
    // warm-up: checked jobs until the JIT has settled (see Workload.warmupJobs)
    for (_ <- 1 to wl.warmupJobs) guarded("warm-up check", problems)(wl.check(spark, wl.job(spark)))
    val sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val rec = record(o, spark)
    rec("load1m_before") = load1m()
    val walls, cpus, peaks = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    while (walls.length < MinJobs || System.nanoTime() < deadline) {
      val i = walls.length
      val jobProblems = mutable.ArrayBuffer.empty[String]
      try {
        val (out, wall, c) = meter.measure(spark, s"job-$i")(wl.job(spark))
        walls += wall
        cpus += c.cpuS
        peaks += c.peakMem / 1048576.0
        guarded(s"job $i check", jobProblems)(wl.check(spark, out))
      } catch {
        case e: Exception =>
          walls += Double.NaN
          jobProblems += s"job $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      if (jobProblems.nonEmpty) failed += 1
      problems ++= jobProblems
    }
    rec("load1m_after") = load1m()
    rec("process_start_to_first_job_s") = sinceStart
    rec("generate_s") = generateS
    rec("warmup_jobs") = wl.warmupJobs
    rec("setup_runs_s") = setups
    rec("job_walls_s") = walls.toSeq
    rec("job_cpu_s") = cpus.toSeq
    spark.stop()
    val ok = walls.filterNot(_.isNaN).toSeq
    Map(
      "correct" -> (problems.isEmpty && ok.nonEmpty),
      "attempted" -> walls.length,
      "failed" -> failed,
      "problems" -> problems.take(20).toSeq,
      "record" -> rec,
      "metrics" -> Map(
        "tokens_per_s" -> wl.tokens / median(ok),
        "executor_cpu_s" -> median(cpus.toSeq),
        "peak_task_mem_mb" -> median(peaks.toSeq),
        "setup_s" -> median(setups),
        "failed_frac" -> failed.toDouble / walls.length,
        "samples" -> ok.length.toDouble,
        "job_s" -> median(ok)))
  }

  /** The traced run: for every workload, one untraced job with driver-side
    * counters, the physical-planning time, then the layer sweep. Tracing
    * overhead is the sweep's wall time minus the job's. */
  def traced(o: Opts, ctx: Ctx): Map[String, Any] = {
    val spark = session()
    val meter = new Meter(keepIntervals = true)
    spark.sparkContext.addSparkListener(meter)
    val problems = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val spans = mutable.ArrayBuffer.empty[Span]
    val rec = record(o, spark)
    var failed = 0
    for (name <- Workloads) {
      val wl = make(name, ctx)
      val problemsBefore = problems.length
      val g0 = System.nanoTime()
      wl.generate(spark)
      rec(s"$name.generate_s") = (System.nanoTime() - g0) / 1e9
      rec(s"$name.load1m_before") = load1m()
      val tr = new Tracer(spark, meter, s"${o.seed}-$name")
      wl.setup(spark, Some(tr))
      wl.job(spark) // warm-up
      val gc0 = gcMs()
      val t0 = System.currentTimeMillis()
      val (out, wall, c) = meter.measure(spark, "e2e")(wl.job(spark))
      val t1 = System.currentTimeMillis()
      val gc = (gcMs() - gc0) / 1000.0
      guarded(s"$name check", problems)(wl.check(spark, out))
      val frames = wl.planFrames(spark)
      val p0 = System.nanoTime()
      frames.foreach(_.queryExecution.executedPlan)
      val planS = (System.nanoTime() - p0) / 1e9
      val s0 = System.nanoTime()
      guarded(s"$name sweep", problems)(wl.sweep(spark, tr))
      val sweepS = (System.nanoTime() - s0) / 1e9
      rec(s"$name.load1m_after") = load1m()
      val m = mutable.LinkedHashMap[String, Double](
        "job_s" -> wall, "driver.jobs" -> c.jobs, "driver.stages" -> c.stages,
        "driver.tasks" -> c.tasks, "driver.idle_s" -> c.idleMs(t0, t1) / 1000.0,
        "driver.plan_s" -> planS, "jvm.gc_s" -> gc,
        "trace.sweep_s" -> sweepS, "trace.overhead_s" -> (sweepS - wall))
      for (s <- tr.spans; (f, v) <- s.fields) m(s"${s.name}.$f") = v
      // engine.annotate reads its input; its self time excludes that scan
      if (m.contains("tableio.read.s"))
        m("engine.annotate.self_s") = m("engine.annotate.s") - m("tableio.read.s")
      if (name == "prep_pipeline") {
        // CC is the part of near-dup removal outside its two public stages
        m("ops.cc.s") = tr.field("ops.dedup_near", "s") -
          tr.field("ops.lsh", "s") - tr.field("ops.jaccard_verify", "s")
        m("ops.lsh.precision") =
          tr.field("ops.jaccard_verify", "pairs") / tr.field("ops.lsh", "candidates")
      }
      for ((k, v) <- m) metrics(s"$name.$k") = v
      if (problems.length > problemsBefore) failed += 1
      spans ++= tr.spans
    }
    spark.stop()
    val trace = Map("record" -> rec, "spans" -> spans.toSeq, "metrics" -> metrics)
    val tracePath = Paths.get(o.work, "trace", s"trace-s${o.seed}.json")
    Files.createDirectories(tracePath.getParent)
    Files.writeString(tracePath, Json.render(trace))
    Map("correct" -> problems.isEmpty, "attempted" -> Workloads.length,
      "failed" -> failed, "problems" -> problems.take(20).toSeq,
      "record" -> rec, "metrics" -> metrics, "trace_file" -> tracePath.toString)
  }
}

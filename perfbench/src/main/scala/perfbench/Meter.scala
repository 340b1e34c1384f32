package perfbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Task-metric totals of one job group. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outputBytes = 0L
  var peakMem = 0L
  /** (launch, finish) of every task, in epoch milliseconds. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def cpuS: Double = cpuNs / 1e9
  def mb(bytes: Long): Double = bytes / 1048576.0

  /** Milliseconds of [from, to] during which no task of this group ran. */
  def idleMs(from: Long, to: Long): Long = {
    var covered = 0L
    var end = from
    for ((s, e) <- intervals.sortBy(_._1)) {
      val s1 = math.max(s, end)
      val e1 = math.min(e, to)
      if (e1 > s1) { covered += e1 - s1; end = e1 }
    }
    math.max(to - from - covered, 0L)
  }
}

/** Listener that attributes task metrics to the job group active when each
  * job was submitted. Counters are read only after the listener bus has
  * drained, so no event of a finished job can arrive late. */
final class Meter(keepIntervals: Boolean) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counters]

  private def of(group: String): Counters = groups.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    of(group).jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (keepIntervals) c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  /** Runs `body` with its Spark jobs tagged `group`; returns its result,
    * its wall time in seconds and the group's counters. */
  def measure[T](spark: SparkSession, group: String)(body: => T): (T, Double, Counters) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    BenchBus.drain(sc)
    val c = synchronized(groups.remove(group)).getOrElse(new Counters)
    (out, wall, c)
  }
}

/** One traced layer call: name, parent, start/end (epoch ms), the run it
  * belongs to, and the layer's counters. */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long,
    runId: String, fields: Map[String, Double])

/** Records spans around calls into the program's layers. Spans stay in
  * memory until the run writes its trace file. */
final class Tracer(val spark: SparkSession, meter: Meter, val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Times `body` as span `name`, adding `extra` fields computed from its
    * result. Every span reports s, cpu_s, shuffle_mb and spill_mb. */
  def span[T](name: String, parent: String = "")(body: => T)(
      extra: (T, Counters) => Map[String, Double] = (_: T, _: Counters) => Map.empty[String, Double]): T = {
    val start = System.currentTimeMillis()
    val (out, wall, c) = meter.measure(spark, s"span:$name")(body)
    val fields = Map("s" -> wall, "cpu_s" -> c.cpuS, "shuffle_mb" -> c.mb(c.shuffleWrite),
      "spill_mb" -> c.mb(c.spill)) ++ extra(out, c)
    spans += Span(name, parent, start, start + (wall * 1000).toLong, runId, fields)
    out
  }

  def field(name: String, f: String): Double =
    spans.find(_.name == name).flatMap(_.fields.get(f)).getOrElse(0.0)
}

package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Traced-run instrumentation, all from outside the engine: a
  * SparkListener that records every job, stage and task, and a sampler
  * thread that reads the codegen counters. Everything stays in memory until
  * the run writes it out. Times are epoch milliseconds (listener events)
  * or epoch nanoseconds (windows); helpers convert. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val jobs = ArrayBuffer.empty[Job]
  private val stageStartsMs = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]
  private val samples = ArrayBuffer.empty[Sample]
  private val DrainGroup = "graftbench-drain"
  @volatile private var drainedJobs = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    jobs += Job(e.jobId, e.time, -1L, group)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.group == DrainGroup) drainedJobs += 1
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageStartsMs += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten)
  }

  private def sample(): Unit = synchronized {
    samples += Sample(Clock.nowNs(), CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)
  }
  private val sampler = new Thread(() => {
    try while (true) { sample(); Thread.sleep(20) }
    catch { case _: InterruptedException => }
  }, "graftbench-codegen-sampler")
  sampler.setDaemon(true)

  def start(): Unit = { sc.addSparkListener(this); sample(); sampler.start() }

  /** Wait until the listener has received every event posted so far: run a
    * marker job and wait for its end event (one listener queue delivers in
    * order), then take a final codegen sample. */
  def drain(): Unit = {
    val want = drainedJobs + 1
    sc.setJobGroup(DrainGroup, "listener drain")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (drainedJobs < want && System.nanoTime() < deadline) Thread.sleep(5)
    sample()
  }

  def stop(): Unit = { sampler.interrupt(); sampler.join(); sc.removeSparkListener(this) }

  private def inMs(t: Long, fromNs: Long, toNs: Long): Boolean =
    t * 1000000L >= fromNs && t * 1000000L < toNs

  def jobsIn(fromNs: Long, toNs: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.group != DrainGroup && inMs(j.startMs, fromNs, toNs)).toSeq
  }
  def stagesIn(fromNs: Long, toNs: Long): Int = synchronized {
    stageStartsMs.count(inMs(_, fromNs, toNs))
  }
  def tasksLaunchedIn(fromNs: Long, toNs: Long): Seq[Task] = synchronized {
    tasks.filter(t => inMs(t.launchMs, fromNs, toNs)).toSeq
  }
  def tasksFinishedIn(fromNs: Long, toNs: Long): Seq[Task] = synchronized {
    tasks.filter(t => inMs(t.finishMs, fromNs, toNs)).toSeq
  }

  private def sampleAt(ns: Long): Sample = synchronized {
    samples.takeWhile(_.atNs <= ns).lastOption.getOrElse(samples.head)
  }
  /** (compiles, compile seconds) between two instants. */
  def codegenIn(fromNs: Long, toNs: Long): (Long, Double) = {
    val a = sampleAt(fromNs); val b = sampleAt(toNs)
    (b.compiles - a.compiles, (b.compileNs - a.compileNs) / 1e9)
  }

  /** Seconds of [fromNs, toNs) during which no task ran. */
  def noTaskSeconds(fromNs: Long, toNs: Long): Double = {
    val ivs = synchronized {
      tasks.map(t => (math.max(t.launchMs * 1000000L, fromNs), math.min(t.finishMs * 1000000L, toNs)))
        .filter { case (a, b) => b > a }.toSeq
    }
    (toNs - fromNs - Tracer.unionNs(ivs)) / 1e9
  }

  /** Seconds of [fromNs, toNs) covered by no Spark job (serial time outside jobs). */
  def selfSeconds(fromNs: Long, toNs: Long): Double = {
    val ivs = synchronized {
      jobs.filter(j => j.group != DrainGroup && j.endMs >= 0)
        .map(j => (math.max(j.startMs * 1000000L, fromNs), math.min(j.endMs * 1000000L, toNs)))
        .filter { case (a, b) => b > a }.toSeq
    }
    (toNs - fromNs - Tracer.unionNs(ivs)) / 1e9
  }
}

object Tracer {
  final case class Job(id: Int, startMs: Long, var endMs: Long, group: String)
  final case class Task(launchMs: Long, finishMs: Long, cpuNs: Long,
                        shuffleWriteBytes: Long, outputBytes: Long)
  final case class Sample(atNs: Long, compiles: Long, compileNs: Long)

  /** Total length covered by a set of intervals. */
  def unionNs(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    ivs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Epoch-nanosecond wall clock, comparable with file mtimes and listener
  * event times. */
object Clock {
  def nowNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}

/** In-memory span tree, written out once at the end of a traced run. */
final class Spans {
  import Spans.Span
  private val buf = ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, startNs: Long, endNs: Long,
          attrs: Map[String, Any] = Map.empty): Int = synchronized {
    val id = buf.size + 1
    buf += Span(id, parent, name, startNs, endNs, attrs)
    id
  }
  def all: Seq[Span] = synchronized(buf.toSeq)
  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "dur_s" -> (s.endNs - s.startNs) / 1e9) ++ s.attrs)
}

object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                        attrs: Map[String, Any])
}

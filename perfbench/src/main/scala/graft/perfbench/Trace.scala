package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One recorded span: a call the harness made into one graft layer. */
final case class Span(id: Long, parent: Long, request: String, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, it only runs the wrapped call, so
  * the untraced run pays one branch per call. Spans are written out once,
  * when the harness ends. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)

  def span[A](name: String, request: String, parent: Long = 0L)(f: Long => A): A =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try f(id) finally spans.add(Span(id, parent, request, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Per span name: count, total ms and self ms (the span's duration minus
    * the part of its interval its children cover). */
  def layerTable: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    def covered(s: Span): Long = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total
    }
    ss.groupBy(_.name).toSeq.map { case (n, g) =>
      (n, g.size, g.map(_.ms).sum, g.map(s => (s.endNs - s.startNs - covered(s)) / 1e6).sum)
    }.sortBy(_._1)
  }
}

/** Execution counters summed over finished tasks and started jobs. */
final class Counters {
  val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite, spill, gcMs =
    new AtomicLong(0L)
  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "shuffle_read" -> shuffleRead.get,
    "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get, "gc_ms" -> gcMs.get)
}

/** The benchmark's own SparkListener (registered only in the traced run).
  * Work is split in two buckets: jobs whose job group is a gateway job id
  * of the health probe, and everything else (the workload's load). Job
  * groups are matched at job start; stages and tasks inherit their job's
  * bucket. `pageJobs` counts jobs per gateway job group, the Spark jobs a
  * ticket fetch launched. */
final class ExecListener(healthJobs: java.util.Set[String]) extends SparkListener {
  val load = new Counters
  val health = new Counters
  val pageJobs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val stageBucket = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val b = if (healthJobs.contains(group)) health else load
    b.jobs.incrementAndGet()
    if (group.nonEmpty)
      pageJobs.computeIfAbsent(group, _ => new AtomicLong(0L)).incrementAndGet()
    e.stageIds.foreach(s => stageBucket.put(s, b))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageBucket.get(e.stageInfo.stageId)).getOrElse(load).stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = Option(stageBucket.get(e.stageId)).getOrElse(load)
    b.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      b.runMs.addAndGet(m.executorRunTime)
      b.cpuNs.addAndGet(m.executorCpuTime)
      b.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      b.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      b.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      b.gcMs.addAndGet(m.jvmGCTime)
    }
  }
}

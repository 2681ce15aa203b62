package graft.perfbench

import org.apache.spark.GraftBenchProbe
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval of the benchmark: a rep, or a call into one
  * layer's public function inside a rep. */
final case class Span(id: Int, name: String, parent: Int, rep: Int,
    t0: Long, t1: Long) {
  def secs: Double = (t1 - t0) / 1e9
}

/** Span recorder. While `enabled`, every [[span]] records its interval
  * and tags the Spark jobs it submits (a local property, which the
  * thread pools the engine creates inside the span inherit) so
  * [[JobTrace]] can attribute them. Disabled, a span is a plain call. */
final class Tracer(spark: () => SparkSession) {
  val SpanProp = "graft.perfbench.span"
  var enabled = false
  var rep: Int = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val sc = spark().sparkContext
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val saved = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(id, name, parent, rep, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(SpanProp, saved)
      }
    }

  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

/** Spark jobs and stages, attributed to benchmark spans through the
  * span local property. */
final class JobTrace(spanProp: String) extends SparkListener {
  final case class Job(id: Int, span: Int, t0Ms: Long, var t1Ms: Long,
      stages: Seq[Int])
  final case class Stage(tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(spanProp))).map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, Job(e.jobId, span, e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1Ms = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, Stage(i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Spark counters of one traced rep: the jobs submitted under any
    * span of that rep, over the rep's wall interval. */
  def repMetrics(tr: Tracer, rep: Span, cores: Int): Map[String, Double] = {
    val repSpans = tr.spans.filter(_.rep == rep.rep).map(_.id).toSet
    val js = jobs.values.asScala.filter(j => repSpans.contains(j.span))
      .toSeq
    val ss = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    val wallMs = (rep.t1 - rep.t0) / 1e6
    // driver gap: rep wall not covered by any running job
    val ivs = js.filter(_.t1Ms >= 0).map(j => (j.t0Ms, j.t1Ms)).sortBy(_._1)
    var covered = 0L; var curLo = Long.MinValue; var curHi = Long.MinValue
    ivs.foreach { case (lo, hi) =>
      if (lo > curHi) {
        if (curHi > curLo) covered += curHi - curLo
        curLo = lo; curHi = hi
      } else curHi = math.max(curHi, hi)
    }
    if (curHi > curLo) covered += curHi - curLo
    val runMs = ss.map(_.runMs).sum.toDouble
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.task_gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "spark.occupancy" -> runMs / math.max(1.0, wallMs * cores),
      "spark.driver_gap_s" -> math.max(0.0, wallMs - covered) / 1e3,
      "spark.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> ss.map(_.spill).sum.toDouble)
  }
}

/** JVM, host and session telemetry sampled around reps. */
object Telemetry {
  private val mb = 1024.0 * 1024.0

  def gcSecs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / mb

  /** Heap in use after a full collection: what the session retains. */
  def heapLiveMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
  }

  /** (steal, total) jiffies of the host, from the first line of
    * /proc/stat; zeros where it is unavailable. */
  def cpuJiffies: (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      val xs = f.drop(1).take(8).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  def hygiene(spark: SparkSession): Map[String, Double] = Map(
    "jvm.heap_live_mb" -> heapLiveMb,
    "Caches.pending" -> graft.engine.Caches.pending(spark).toDouble,
    "spark.persisted_rdds" ->
      spark.sparkContext.getPersistentRDDs.size.toDouble,
    "spark.live_broadcasts" ->
      GraftBenchProbe.liveBroadcasts(spark.sparkContext).toDouble)
}

package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer sums for one job group. */
final class LayerSums {
  var jobs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Sums Spark work per job group: jobs, executor run time, shuffle write
  * bytes and spill. The bench sets a job group around each layer call
  * ([[Trace.span]]); a streaming query's jobs carry its run id as their
  * group. GC time comes from the JVM's collector beans instead of the
  * tasks' `jvmGCTime`, which double-counts when local-mode tasks share one
  * heap. Registered only in traced runs. */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.HashMap[String, LayerSums]()
  private val stageGroup = mutable.HashMap[Int, String]()

  private def sums(g: String): LayerSums = byGroup.getOrElseUpdate(g, new LayerSums)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    sums(g).jobs += 1
    e.stageIds.foreach(id => stageGroup(id) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = sums(stageGroup.getOrElse(e.stageId, ""))
      s.runMs += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Sums of every group whose id satisfies `p`, merged. */
  def total(p: String => Boolean): LayerSums = synchronized {
    val t = new LayerSums
    byGroup.foreach { case (g, s) =>
      if (p(g)) {
        t.jobs += s.jobs; t.runMs += s.runMs
        t.shuffleBytes += s.shuffleBytes; t.spillBytes += s.spillBytes
      }
    }
    t
  }

  def reset(): Unit = synchronized { byGroup.clear(); stageGroup.clear() }
}

object Trace {
  private lazy val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def now(): Double = System.nanoTime() / 1e9

  /** Total JVM GC time so far, seconds (all collectors, all threads). */
  def gcSeconds(): Double = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  /** Wall seconds of `f`, run under job group `group`. */
  def span[A](sc: SparkContext, group: String)(f: => A): (A, Double) = {
    sc.setJobGroup(group, group)
    val t0 = now()
    try {
      val a = f
      (a, now() - t0)
    } finally sc.clearJobGroup()
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = now()
    val a = f
    (a, now() - t0)
  }

  /** Heap in use after a full collection, MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    mem.getUsed / (1024.0 * 1024.0)
  }

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** (thread CPU ns, bytes allocated by this thread) spent in `f`. */
  def threadCost(f: => Unit): (Long, Long) = {
    val id = Thread.currentThread().getId
    val c0 = threads.getCurrentThreadCpuTime
    val a0 = threads.getThreadAllocatedBytes(id)
    f
    (threads.getCurrentThreadCpuTime - c0, threads.getThreadAllocatedBytes(id) - a0)
  }

  // -- host pressure, read the way graft.Bench reads /proc ------------

  def procStat(): Option[Array[Long]] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try Some(src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong))
      finally src.close()
    } catch { case _: Throwable => None }

  def loadavg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** CPU-steal share (%) between two /proc/stat snapshots; -1 when unreadable. */
  def stealPct(a: Option[Array[Long]], b: Option[Array[Long]]): Double = (a, b) match {
    case (Some(x), Some(y)) if x.length >= 8 && y.length >= 8 =>
      val n = math.min(x.length, y.length)
      val tot = (0 until n).map(i => y(i) - x(i)).sum
      if (tot <= 0) -1.0 else 100.0 * (y(7) - x(7)) / tot
    case _ => -1.0
  }
}

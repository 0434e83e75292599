package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One closed-loop client, one operation in flight. Prints a host-pressure
  * line and then the result line that `run.py` forwards. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, data: String, cores: Int)

/** Outcome of one workload run: op counts plus named metric values. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  /** Set-up repetitions (seconds); setup_s adds session start to their median. */
  val setupReps = mutable.ArrayBuffer[Double]()
  val metrics = mutable.LinkedHashMap[String, Double]()

  def put(name: String, value: Double): Unit = metrics(name) = value

  /** Record one op's correctness; a mismatch counts as a failed op. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[graftbench] FAILED: $what") }
  }
}

object BenchMain {

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Reads per committed snapshot in a timed op; each is one sample of read_p50_s. */
  val Reads = 3

  /** Columns every snapshot hash is taken over (as `GraphTables.write` does). */
  val HashCols = Seq("subj", "pred", "obj", "docId")

  /** Files in the single-thread kernel loop of a traced run. */
  val KernelFiles = 400

  /** Read `n` times: (row count of the first read, seconds of each). */
  def reads(n: Int)(f: => Long): (Long, Seq[Double]) = {
    val xs = Seq.fill(n)(Trace.timed(f))
    (xs.head._1, xs.map(_._2))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run ops until `seconds` have passed and at least `minOps` ran;
    * `between` runs untimed after every op (cache release + GC). */
  def closedLoop(seconds: Double, minOps: Int, between: () => Unit)(op: Int => Double): Seq[Double] = {
    val t0 = Trace.now()
    val out = mutable.ArrayBuffer[Double]()
    while (out.size < minOps || Trace.now() - t0 < seconds) {
      out += op(out.size)
      note(f"op ${out.size}: ${out.last}%.3f s")
      between()
    }
    out.toSeq
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), need("cores").toInt)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"non-finite metric $d")
    else java.lang.Double.toString(d)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = session(o)
    val sessionS = System.currentTimeMillis() / 1e3 - jvmStart
    // a workload registers the listener only once its untraced ops are done
    val tracer = if (o.trace) Some(new LayerListener) else None
    val stat0 = Trace.procStat()
    val out = o.workload match {
      case "build" => BuildWorkload.run(spark, o, tracer)
      case "ingest" => IngestWorkload.run(spark, o, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val steal = Trace.stealPct(stat0, Trace.procStat())
    val load1 = Trace.loadavg1()
    if (!o.trace) {
      out.put("setup_s", sessionS + median(out.setupReps.toSeq))
      out.put("live_heap_mb", Trace.liveHeapMb())
    }
    spark.stop()
    val declared = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    val unknown = out.metrics.keySet -- declared.map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: ${unknown.mkString(", ")}")
    // a per-layer metric the workload's path never enters reads 0
    if (!o.trace) declared.foreach { case (k, _) => require(out.metrics.contains(k), s"missing $k") }
    println(s"""{"host": {"steal_pct": ${num(steal)}, "load1": ${num(load1)}, "cores": ${o.cores}}}""")
    val ms = declared.map { case (k, u) =>
      s""""$k": {"value": ${num(out.metrics.getOrElse(k, 0.0))}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${out.failed == 0 && out.attempted > 0}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {$ms}}""")
  }
}

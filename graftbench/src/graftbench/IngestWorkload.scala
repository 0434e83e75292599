package graftbench

import graft.Pipeline
import graft.core.{CorpusGen, SourceFileHashed}
import graft.sources.{ContentHash, GraphTables}
import graft.streaming.StreamingPipeline
import org.apache.spark.BenchBus
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** `ingest`: the streaming user's job. Fixed-size deltas land as parquet
  * files; a running `StreamingPipeline.triplesStream` takes each one, then
  * `publishSnapshotDynamicIncremental` publishes it as an overlay and
  * `GraphTables.readSnapshot` reads it back. Publish state, overlays and
  * table reads carry the work; the kernel sees only the small deltas. */
object IngestWorkload {
  val BaseFiles = 250
  val DeltaFiles = 100
  /** Share of each delta that re-ingests already-published docs under a
    * new commit with unchanged content (the superseded-version path). */
  val ReingestShare = 0.2
  /** A run times one op, so its snapshot is read more often than a build
    * op's to give `read_p50_s` a steady median. */
  val Reads = 5

  /** One ingest instance: its directories, stream and publish history. */
  final class State(spark: SparkSession, val dir: String, seed: Long, firstId: Long) {
    import spark.implicits._
    val in = s"$dir/in"
    val mentions = s"$dir/mentions"
    val table = s"$dir/table"
    val stateDir = s"$dir/state"
    private val rng = new scala.util.Random(seed)
    private var nextId = firstId
    /** Latest ingested version of every doc: fileId -> commit ("" = generated). */
    val ingested = mutable.LinkedHashMap[Long, String]()
    var landed = 0
    var publishes = 0
    var depth = 0
    var last: StreamingPipeline.DynPublish = null
    new java.io.File(in).mkdirs()
    val query: StreamingQuery = StreamingPipeline.triplesStream(
      spark.readStream.schema(Encoders.product[SourceFileHashed].schema).parquet(in)
        .as[SourceFileHashed],
      s"$dir/out", s"$dir/manifest", s"$dir/ckpt", mentionsPath = Some(mentions))

    /** Write a batch of files, then move it into the stream's input dir. */
    def land(n: Int, reingestShare: Double): Unit = {
      val re = (n * reingestShare).toInt
      val old = ingested.keys.toIndexedSeq
      val reIds = rng.shuffle(old.indices.toList).take(re).map(old(_))
      val newIds = nextId until nextId + (n - reIds.size)
      nextId += newIds.size
      landed += 1
      val commit = f"c$landed%05d"
      val rows = newIds.map(id => CorpusGen.file(id).source) ++
        reIds.map(id => CorpusGen.file(id).source.copy(commit = commit))
      newIds.foreach(id => ingested(id) = "")
      reIds.foreach(id => ingested(id) = commit)
      val stage = s"$dir/stage-$landed"
      rows.toDS().coalesce(1).write.parquet(stage)
      new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(in, f"delta-$landed%05d.parquet"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }

    /** Process everything landed, then publish the next snapshot; a
      * `maxChain` at the current depth forces the materializing publish. */
    def publish(maxChain: Int): StreamingPipeline.DynPublish = {
      query.processAllAvailable()
      publishes += 1
      last = StreamingPipeline.publishSnapshotDynamicIncremental(spark, mentions, table,
        snapshotId, stateDir, maxChain)
      last
    }

    def snapshotId: String = f"s$publishes%05d"
  }

  /** One delta op; the trace fields (publish jobs and busy share, rows and
    * files the publish wrote, whole-op Spark sums) are 0 when untraced. */
  final case class Op(fresh: Double, stream: Double, publish: Double, reads: Seq[Double],
      kind: String, pubJobs: Double = 0, pubBusy: Double = 0, written: Double = 0,
      files: Double = 0, all: LayerSums = new LayerSums)

  def run(spark: SparkSession, o: Opts, tracer: Option[LayerListener]): Outcome = {
    val out = new Outcome
    val sc = spark.sparkContext
    val firstId = 5000000L + math.floorMod(o.seed, 1000L) * 100000L
    // set-up, once: base accumulation + its first (full) publish, in fresh
    // dirs. A second repetition would cost a further ~10 s of the run budget.
    val (st, setupSec) = Trace.timed {
      val s = new State(spark, s"${o.work}/ingest", o.seed, firstId)
      s.land(BaseFiles, 0.0)
      val p = s.publish(maxChain = 8)
      out.check(!p.incremental, s"first publish should be full: ${p.note}")
      val n = GraphTables.readSnapshot(spark, s.table, s.snapshotId).count()
      out.check(n == p.rows, s"read ${s.snapshotId}: $n rows != published ${p.rows}")
      s
    }
    out.setupReps += setupSec
    BenchMain.note(f"setup: $setupSec%.3f s")
    def readBack(n: Int): (Long, Seq[Double]) =
      BenchMain.reads(n)(GraphTables.readSnapshot(spark, st.table, st.snapshotId).count())
    // one op: land a delta; stream batch + publish (freshness); read back.
    // Only a traced op sets job groups and drains the listener bus.
    def op(traced: Boolean, materialize: Boolean = false): Op = {
      def span[A](group: String)(f: => A): (A, Double) =
        if (traced) Trace.span(sc, group)(f) else Trace.timed(f)
      st.land(DeltaFiles, ReingestShare)
      if (traced) { BenchBus.drain(sc); tracer.get.reset() }
      val t0 = Trace.now()
      val (_, stream) = span("ingest.stream")(st.query.processAllAvailable())
      val (p, pub) = span("ingest.publish")(st.publish(if (materialize) st.depth else 8))
      val fresh = Trace.now() - t0
      val kind = if (p.note.contains("overlay")) "overlay"
        else if (p.note.contains("materialized")) "materialized" else "full"
      st.depth = if (kind == "overlay") st.depth + 1 else 0
      val expect = if (materialize) "materialized" else "overlay"
      out.check(p.incremental && kind == expect,
        s"publish ${st.snapshotId}: expected $expect, got incremental=${p.incremental} (${p.note})")
      val (n, reads) = span("ingest.read")(readBack(if (traced) 1 else Reads))._1
      out.check(n == p.rows, s"read ${st.snapshotId}: $n rows != published ${p.rows}")
      BenchMain.note(f"ingest ${st.snapshotId} $kind depth ${st.depth}: " +
        f"stream $stream%.3f publish $pub%.3f reads ${reads.map(x => f"$x%.3f").mkString(" ")}")
      val base = Op(fresh, stream, pub, reads, kind)
      if (!traced) base
      else {
        BenchBus.drain(sc)
        val s = tracer.get.total(_ == "ingest.publish")
        base.copy(pubJobs = s.jobs.toDouble, pubBusy = s.runMs / 1e3 / (pub * o.cores),
          written = GraphTables.readOwnData(spark, st.table, st.snapshotId).count().toDouble,
          files = BuildWorkload.parquetFiles(
            new java.io.File(s"${st.table}/data/snap=${st.snapshotId}")).toDouble,
          all = tracer.get.total(_ => true))
      }
    }
    // the set-up already ran every call an op makes (stream batch, publish,
    // read); a separate overlay warm-up op would cost ~15 s of the run
    // budget and measured only ~5% above later overlay publishes
    val timed = mutable.ArrayBuffer[Op]()
    BenchMain.closedLoop(if (o.trace) 0 else o.seconds, 1, BuildWorkload.between(spark)) { _ =>
      timed += op(traced = false)
      timed.last.fresh
    }
    def med(xs: Seq[Double]) = BenchMain.median(xs)
    if (!o.trace) {
      out.put("op_p50_s", med(timed.map(_.fresh).toSeq))
      out.put("read_p50_s", med(timed.flatMap(_.reads).toSeq))
    } else {
      // depth 1 now. A traced op at depth 1 would need another
      // materializing publish first (~25 s), so the trace's own cost is
      // measured on reads of this same snapshot, untraced and traced in
      // ABBA order so that the reads' own warm-up cancels.
      val t = tracer.get
      def untracedRead(): Double = readBack(1)._2.head
      def tracedRead(): Double = {
        sc.addSparkListener(t)
        try Trace.span(sc, "ingest.read")(readBack(1))._1._2.head
        finally sc.removeSparkListener(t)
      }
      val (u1, t1, t2, u2) = (untracedRead(), tracedRead(), tracedRead(), untracedRead())
      out.put("trace_overhead", (t1 + t2) / (u1 + u2))
      out.put("read_s.depth1", med(timed.last.reads))
      sc.addSparkListener(t)
      val gc0 = Trace.gcSeconds()
      val ov = op(traced = true)
      out.put("read_s.depth2", med(ov.reads))
      val mat = op(traced = true, materialize = true)
      out.put("read_s.depth0", med(mat.reads))
      val traced = Seq(ov, mat)
      out.put("gc_s", (Trace.gcSeconds() - gc0) / traced.size)
      out.put("stream_batch_s", med(traced.map(_.stream)))
      out.put("publish_s", ov.publish)
      out.put("materialize_s", mat.publish)
      out.put("unattributed_s", ov.fresh - ov.stream - ov.publish)
      out.put("publish_jobs", ov.pubJobs)
      out.put("publish_busy_share", ov.pubBusy)
      out.put("rows_written", ov.written)
      out.put("files_written", ov.files)
      out.put("jobs", ov.all.jobs.toDouble)
      out.put("shuffle_bytes", ov.all.shuffleBytes.toDouble)
      out.put("spill_bytes", ov.all.spillBytes.toDouble)
      out.put("busy_share", ov.all.runMs / 1e3 / (ov.fresh + ov.reads.sum) / o.cores)
      out.put("snapshot_rows", st.last.rows.toDouble)
      out.put("table_bytes", BuildWorkload.du(new java.io.File(st.table)).toDouble)
      out.put("state_bytes", BuildWorkload.du(new java.io.File(st.stateDir)).toDouble)
      val paths = timed.toSeq ++ traced
      Seq("overlay", "materialized", "full").foreach { k =>
        out.put(s"publish_paths.$k", paths.count(_.kind == k).toDouble)
      }
      KernelLoop.run(st.ingested.keys.take(BenchMain.KernelFiles)
        .map(id => CorpusGen.file(id).source).toSeq, out)
    }
    st.query.stop()
    val (_, goldSec) = Trace.timed(goldGate(spark, o, st, out))
    BenchMain.note(f"gold gate: $goldSec%.3f s")
    out
  }

  /** The last snapshot must hash-equal the batch dynamic-canon pipeline
    * over every ingested doc's latest version. */
  private def goldGate(spark: SparkSession, o: Opts, st: State, out: Outcome): Unit = {
    import spark.implicits._
    val src = s"${o.work}/ingest-gold-src"
    st.ingested.toSeq.map { case (id, c) =>
      val f = CorpusGen.file(id).source
      if (c.isEmpty) f else f.copy(commit = c)
    }.toDS().write.parquet(src)
    val gold = ContentHash.hex(Pipeline.runFromTableDynamic(spark, src).triples, BenchMain.HashCols)
    out.check(gold == (st.last.rows, st.last.hash),
      s"ingest snapshot (${st.last.rows}, ${st.last.hash}) != batch pipeline $gold")
  }
}

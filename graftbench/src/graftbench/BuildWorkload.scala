package graftbench

import graft.Pipeline
import graft.core.{CorpusGen, SourceFileHashed}
import graft.extract.Extract
import graft.link.Linker
import graft.sources.{ContentHash, GraphTables}
import graft.triples.TripleEmit
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** `build`: the batch user's job. A materialized source table of generated
  * files (the seed picks the `CorpusGen` file-id range) becomes a committed
  * graph snapshot (`Pipeline.runFromTableDynamic` -> `GraphTables.write`),
  * which is then read back. The partitioned snapshot write carries most of
  * the work; extract (tokenize + kernel), link, canon (driver-gated) and emit
  * share the rest. */
object BuildWorkload {
  val Files = 1000
  val SetupReps = 3
  /** Ops fall from ~13 s to a steady ~4 s over the first four or five;
    * warm-up ops read their snapshot once. */
  val WarmupOps = 3
  val MinOps = 3

  def between(spark: SparkSession): () => Unit = () => {
    spark.catalog.clearCache()
    System.gc()
  }

  def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
    f.delete()
    ()
  }

  def du(f: java.io.File): Long =
    if (f.isDirectory) f.listFiles().map(du).sum else f.length()

  def parquetFiles(dir: java.io.File): Int =
    if (dir.isDirectory) dir.listFiles().map(parquetFiles).sum
    else if (dir.getName.endsWith(".parquet")) 1 else 0

  /** Source table + closed-form gold (rows, hash) for the id range: the
    * generator's gold triples, deduplicated as `Pipeline.goldTriples` does. */
  private def setupOnce(spark: SparkSession, o: Opts, lo: Long, k: Int): (String, (Long, String)) = {
    import spark.implicits._
    val src = s"${o.work}/build-src-$k"
    spark.range(lo, lo + Files).map(id => CorpusGen.file(id).source).write.parquet(src)
    val gold = spark.range(lo, lo + Files).flatMap(id => CorpusGen.file(id).triples)
      .toDF().dropDuplicates(BenchMain.HashCols)
    (src, ContentHash.hex(gold, BenchMain.HashCols))
  }

  def run(spark: SparkSession, o: Opts, tracer: Option[LayerListener]): Outcome = {
    val out = new Outcome
    val lo = 1000000L + math.floorMod(o.seed, 1000L) * Files
    var src = ""
    var gold = (0L, "")
    (0 until SetupReps).foreach { k =>
      if (src.nonEmpty) rmrf(src)
      val ((s, g), sec) = Trace.timed(setupOnce(spark, o, lo, k))
      src = s; gold = g
      out.setupReps += sec
      BenchMain.note(f"setup $k: $sec%.3f s")
    }
    var nOp = 0
    // one op: source table -> committed snapshot (timed), then its read-backs
    def op(nReads: Int): (Double, Seq[Double]) = {
      nOp += 1
      val table = s"${o.work}/build-graph-$nOp"
      val (r, sec) = Trace.timed(
        GraphTables.write(Pipeline.runFromTableDynamic(spark, src).triples, table, "s1"))
      out.check(r == gold, s"build snapshot $r != gold $gold")
      val (n, read) = BenchMain.reads(nReads)(GraphTables.read(spark, table).count())
      out.check(n == gold._1, s"build read-back $n rows != ${gold._1}")
      rmrf(table)
      BenchMain.note(f"build op $nOp: $sec%.3f s, reads ${read.map(x => f"$x%.3f").mkString(" ")}")
      (sec, read)
    }
    (0 until WarmupOps).foreach { _ => op(1); between(spark)() }
    val reads = mutable.ArrayBuffer[Double]()
    val secs = BenchMain.closedLoop(if (o.trace) 0 else o.seconds, MinOps, between(spark)) { _ =>
      val (s, r) = op(BenchMain.Reads); reads ++= r; s
    }
    if (!o.trace) {
      out.put("op_p50_s", BenchMain.median(secs))
      out.put("read_p50_s", BenchMain.median(reads.toSeq))
    } else {
      // the listener sees only the traced ops below, not the untraced ones above
      val t = tracer.get
      spark.sparkContext.addSparkListener(t)
      val layers = mutable.ArrayBuffer[Map[String, Double]]()
      val traced = BenchMain.closedLoop(o.seconds / 2, 2, between(spark)) { _ =>
        BenchBus.drain(spark.sparkContext)
        t.reset()
        val gc0 = Trace.gcSeconds()
        val (m, wall) = Trace.timed(tracedOp(spark, o, src, gold, out))
        BenchBus.drain(spark.sparkContext)
        val s = t.total(_.startsWith("build."))
        val pub = t.total(_ == "build.publish")
        layers += m ++ Map(
          "jobs" -> s.jobs.toDouble,
          "shuffle_bytes" -> s.shuffleBytes.toDouble,
          "spill_bytes" -> s.spillBytes.toDouble,
          "gc_s" -> (Trace.gcSeconds() - gc0),
          "busy_share" -> s.runMs / 1e3 / (wall * o.cores),
          "publish_jobs" -> pub.jobs.toDouble,
          "publish_busy_share" -> pub.runMs / 1e3 / (m("publish_s") * o.cores))
        wall - m("read_s.depth0")
      }
      layers.head.keys.foreach(k => out.put(k, BenchMain.median(layers.map(_(k)).toSeq)))
      val stages = Seq("scan_s", "extract_s", "link_s", "canon_s", "emit_s", "publish_s")
      out.put("unattributed_s", BenchMain.median(secs) - stages.map(out.metrics).sum)
      out.put("publish_paths.full", 1)
      // the traced op runs the stage chain layer by layer, each layer
      // materialized, so this ratio is mostly the cost of that split
      out.put("trace_overhead", BenchMain.median(traced) / BenchMain.median(secs))
      KernelLoop.run((lo until lo + BenchMain.KernelFiles).map(id => CorpusGen.file(id).source), out)
      OperatorMix.run(spark, o, t, out)
    }
    out
  }

  /** The `runFromTableDynamic` -> `GraphTables.write` stage chain run layer
    * by layer, each layer materialized under its own job group, so the
    * listener and the wall clock attribute work per layer. */
  private def tracedOp(spark: SparkSession, o: Opts, src: String, gold: (Long, String),
      out: Outcome): Map[String, Double] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val (files, scan) = Trace.span(sc, "build.scan") {
      val f = spark.read.parquet(src).as[SourceFileHashed].persist(); f.count(); f
    }
    val (ments, extract) = Trace.span(sc, "build.extract") {
      val m = Extract.mentionsFused(files).persist(); m.count(); m
    }
    val (linked, link) = Trace.span(sc, "build.link") {
      val l = Linker.link(ments).toDF().persist(); l.count(); l
    }
    val ((canon, rows), canonS) = Trace.span(sc, "build.canon") {
      val (map, n) = Pipeline.dynamicCanonMapGated(spark, linked)
      val c = Pipeline.canonicalize(linked, map,
        hintBroadcast = n <= Pipeline.BroadcastCanonMaxRows).persist()
      c.count()
      (c, n)
    }
    val (triples, emit) = Trace.span(sc, "build.emit") {
      val cm = canon.as[TripleEmit.CanonMention]
      val t: DataFrame =
        if (rows <= Pipeline.BroadcastCanonMaxRows) TripleEmit.emitFusedLocal(cm).toDF()
        else TripleEmit.emitFused(cm).toDF()
      t.persist(); t.count(); t
    }
    val table = s"${o.work}/build-traced"
    val (r, publish) = Trace.span(sc, "build.publish")(GraphTables.write(triples, table, "s1"))
    out.check(r == gold, s"traced build snapshot $r != gold $gold")
    val (n, read) = Trace.span(sc, "build.read")(GraphTables.read(spark, table).count())
    out.check(n == gold._1, s"traced build read-back $n rows != ${gold._1}")
    val m = Map("scan_s" -> scan, "extract_s" -> extract, "link_s" -> link,
      "canon_s" -> canonS, "emit_s" -> emit, "publish_s" -> publish, "read_s.depth0" -> read,
      "canon_rows" -> rows.toDouble, "rows_written" -> r._1.toDouble,
      "snapshot_rows" -> r._1.toDouble,
      "files_written" -> parquetFiles(new java.io.File(s"$table/data/snap=s1")).toDouble,
      "table_bytes" -> du(new java.io.File(table)).toDouble)
    rmrf(table)
    m
  }
}

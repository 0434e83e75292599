package graft

import org.apache.spark.sql.DataFrame

/** Round-6 optimization harness (guide §1: measure first; §1.4 noop
  * sink; §1.5 job labels). NOT part of the frozen driver contract —
  * Bench.scala is the graded harness; this main exists so per-stage /
  * per-query numbers and plan dumps can be produced in isolation
  * without touching the frozen methodology.
  *
  * Modes (first arg):
  *  - queries [names...]: each declared query under a noop sink,
  *    best-of-N (SPARK_GRAFT_TRIALS, default 3), plus an
  *    explain("formatted") dump to plans/r06/<name>_<tag>.txt
  *    (tag = SPARK_GRAFT_PLAN_TAG, default "probe").
  *  - gen: corpus-generation / tokenize / kernel cost split at the
  *    kg-query scale (15k files).
  *  - cached: cold slice vs frozen-encoder cache path, with the warm
  *    path's scan/link split.
  *  - minhash: dedup_minhash stage split (signatures, band join, full).
  *  - cc: driver union-find vs distributed star rounds on chain graphs.
  * The per-layer split of the pipeline itself (scan, extract, link,
  * canon, emit, publish) comes from graftbench's traced `build` run,
  * the per-file tokenize/kernel split from its `KernelLoop`.
  */
object BenchExtra {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def bestOf(n: Int)(f: => Unit): Double =
    (1 to n).map(_ => time(f)._2).min

  private def explainTo(df: DataFrame, path: String): Unit = {
    val s = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("queries")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "probe")
    val spark = Bench.session(cpus, s"graft-bench-extra-$mode")
    val sc = spark.sparkContext

    mode match {
      case "queries" =>
        val names =
          if (args.length > 1) args.drop(1).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        // one warm-up through the kernel path so JIT is not charged to
        // the first query measured
        Pipeline.run(spark, 500).triples.count()
        val rows = names.map { n =>
          val q = SparkEntry.queries(n)(spark, sfDir)
          explainTo(q, s"plans/r06/${n}_$tag.txt")
          sc.setJobDescription(s"noop:$n")
          val tNoop = bestOf(trials) { spark.catalog.clearCache(); noop(SparkEntry.queries(n)(spark, sfDir)) }
          sc.setJobDescription(s"count:$n")
          val tCount = bestOf(trials) { spark.catalog.clearCache(); SparkEntry.queries(n)(spark, sfDir).count() }
          sc.setJobDescription(null)
          println(f"EXTRA $n%-20s noop=$tNoop%8.3f count=$tCount%8.3f")
          s""""$n":{"noop":$tNoop,"count":$tCount}"""
        }
        println(s"""EXTRA_JSON {"mode":"queries","sf":"$sfDir",${rows.mkString(",")}}""")

      case "gen" =>
        import spark.implicits._
        val n = 15000L
        sc.setJobDescription("warm")
        graft.extract.Extract.run(spark, n).toDF().count()
        sc.setJobDescription("corpus gen only")
        val tGen = bestOf(trials)(noop(
          spark.range(n).map(id => graft.core.CorpusGen.file(id).source).toDF()))
        sc.setJobDescription("gen+tokenize")
        val tTok = bestOf(trials)(noop(
          graft.extract.Extract.sentences(graft.extract.Extract.corpus(spark, n)).toDF()))
        sc.setJobDescription("gen+tokenize+kernel (kg_mentions body)")
        val tKern = bestOf(trials)(noop(graft.extract.Extract.run(spark, n).toDF()))
        sc.setJobDescription("kg_triples body")
        val tTrip = bestOf(trials)(Pipeline.run(spark, n).triples.count())
        println(f"EXTRA gen=$tGen%.3f gen+tok=$tTok%.3f mentions=$tKern%.3f triples=$tTrip%.3f")
        println(s"""EXTRA_JSON {"mode":"gen","gen":$tGen,"gen_tok":$tTok,"mentions":$tKern,"triples":$tTrip}""")

      case "cached" =>
        // isolate the frozen-encoder cache section (Bench 2b) with a
        // configurable trial count on the ALREADY-materialized corpus
        // and cache dirs from the last Bench run — the trimmed bench's
        // 2-trial best-of is hostage to one slow window.
        import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
        val sp = spark
        import sp.implicits._
        val corpus = sys.env.getOrElse("SPARK_GRAFT_CORPUS",
          "/tmp/graft_bench_corpus_320000_f2c65731")
        val cache = sys.env.getOrElse("SPARK_GRAFT_ENCCACHE",
          "/tmp/graft_bench_enccache_320000_f2c65731")
        def slice = sp.read.parquet(corpus)
          .filter(pmod(xxhash64(col("repo"), col("path")), lit(4)) === 0)
          .as[graft.core.SourceFileHashed]
        sc.setJobDescription("warm cold shape")
        Pipeline.triplesFor(slice).count()
        sc.setJobDescription("cold slice")
        val cold = (1 to trials).map { _ =>
          spark.catalog.clearCache(); System.gc()
          time(Pipeline.triplesFor(slice).count())._2
        }
        sc.setJobDescription("warm from cache")
        Pipeline.triplesFromCache(spark, cache).count()
        val warm = (1 to trials).map { _ =>
          spark.catalog.clearCache(); System.gc()
          time(Pipeline.triplesFromCache(spark, cache).count())._2
        }
        println(f"EXTRA cached cold=${cold.min}%.2f ${cold.mkString(",")}")
        println(f"EXTRA cached warm=${warm.min}%.2f ${warm.mkString(",")}")
        // stage split of the warm path: cache scan+score alone, then
        // +link, then the full chain (canon join + grouped emit)
        def ments = graft.extract.EncodingCache.mentionsFromCache(sp, cache)
        sc.setJobDescription("warm: scan+score only")
        val tScore = bestOf(trials) {
          spark.catalog.clearCache(); noop(ments.toDF()) }
        sc.setJobDescription("warm: +link")
        val tLink2 = bestOf(trials) {
          spark.catalog.clearCache(); noop(graft.link.Linker.link(ments).toDF()) }
        println(f"EXTRA cachedStages score=$tScore%.2f link=$tLink2%.2f")

      case "minhash" =>
        // stage split of dedup_minhash: signature kernel alone, band
        // join to candidate ids, full query — locates the remaining
        // ~1.0-1.3s (kernel vs serial verify-stage latency)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        import org.apache.spark.sql.functions.col
        def sigs = graft.ops.DedupOps
          .minhashSignatures(docs, "doc_id", "text")
        def bands = graft.ops.DedupOps.lshBands(sigs)
        noop(sigs) // warm
        sc.setJobDescription("minhash sigs only")
        val tSig = bestOf(trials) { spark.catalog.clearCache(); noop(sigs) }
        sc.setJobDescription("band join cands")
        val tBand = bestOf(trials) {
          spark.catalog.clearCache()
          bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
              col("a.doc") < col("b.doc"))
            .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
            .distinct().count()
        }
        sc.setJobDescription("full minhash query")
        val tFull2 = bestOf(trials) {
          spark.catalog.clearCache()
          SparkEntry.queries("dedup_minhash")(spark, sfDir).count()
        }
        sc.setJobDescription("band join cands, sigs cached")
        val tBandC = bestOf(trials) {
          spark.catalog.clearCache()
          val sc2 = sigs.cache()
          val b2 = graft.ops.DedupOps.lshBands(sc2)
          b2.as("a").join(b2.as("b"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
              col("a.doc") < col("b.doc"))
            .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
            .distinct().count()
        }
        println(f"EXTRA minhash sigs=$tSig%.2f bandCands=$tBand%.2f " +
          f"bandCandsCached=$tBandC%.2f full=$tFull2%.2f")

      case "cc" =>
        // A/B the ConnectedComponents paths on chain graphs (the CC
        // worst case, and exactly kg_cc_chain's shape): distributed
        // star rounds vs driver union-find, at several edge counts and
        // shuffle-partition settings — the VERDICT-requested crossover
        // measurement for DriverSolveMaxEdges.
        def chain(n: Long) = spark.range(n - 1)
          .select(org.apache.spark.sql.functions.format_string(
            "n%07d", org.apache.spark.sql.functions.col("id")).as("src"),
            org.apache.spark.sql.functions.format_string(
              "n%07d", org.apache.spark.sql.functions.col("id") + 1).as("dst"))
        def solveDistributed(n: Long, parts: Int): (Double, Int) = {
          val before = spark.conf.get("spark.sql.shuffle.partitions")
          try {
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            sc.setJobDescription(s"cc distributed n=$n parts=$parts")
            val (r, t) = time {
              val (labels, it) =
                graft.canon.ConnectedComponents.runWithStats(chain(n))
              labels.count(); it
            }
            (t, r)
          } finally spark.conf.set("spark.sql.shuffle.partitions", before)
        }
        def solveDriverish(n: Long): Double = {
          // measure the driver path by calling run() on a chain BELOW
          // the gate (collect + union-find + label join)
          sc.setJobDescription(s"cc driver n=$n")
          time(graft.canon.ConnectedComponents.run(chain(n)).count())._2
        }
        // warm
        graft.canon.ConnectedComponents.run(chain(10000)).count()
        val rows = scala.collection.mutable.ArrayBuffer.empty[String]
        for (n <- Seq(100001L, 400001L)) {
          val t = (1 to 2).map(_ => solveDriverish(n)).min
          println(f"EXTRA cc driver    n=$n%8d            t=$t%7.2f")
          rows += s"""{"path":"driver","n":$n,"sec":$t}"""
        }
        for (n <- Seq(600001L); p <- Seq(cpus * 2, 8)) {
          val (t, it) = solveDistributed(n, p)
          println(f"EXTRA cc star      n=$n%8d parts=$p%3d t=$t%7.2f rounds=$it")
          rows += s"""{"path":"star","n":$n,"parts":$p,"sec":$t,"rounds":$it}"""
        }
        println(s"""EXTRA_JSON {"mode":"cc","rows":[${rows.mkString(",")}]}""")

      case other =>
        System.err.println(s"unknown mode $other")
    }
    spark.stop()
  }
}

package graft

import graft.ops.TopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Physical-plan shape assertions: the optimizations we rely on at
  * 100 TB must actually appear in the plan, not just in comments. */
class PlanSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filters and column pruning reach the parquet scan") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val q = li.filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_quantity"))
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"),
      s"no pushed filter in:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan not pruned to 2 columns:\n$p")
  }

  test("small-side joins broadcast BY SIZE (no hint), not shuffled") {
    // eval_join carries no explicit hint anymore (orders is
    // corpus-proportional); at this sf the optimizer still picks a
    // broadcast join from the actual scan size — the AQE-era behavior
    // the un-hinted plan relies on
    val p = plan(graft.queries.RelationalQueries.all("eval_join")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("no broadcast hint over a corpus-proportional input survives in SparkEntry plans") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // The ONLY file-scan inputs allowed under an explicit broadcast
    // hint are bounded probe sets: the ANN query sides (vec_id < 10 —
    // fixed cardinality) and embed_pairs' declared sample side (the
    // non-equi pair join REQUIRES a broadcast-nested-loop build side;
    // its size is the caller's contract). Everything else hinted must
    // be a genuine in-memory dimension (alias dict, static canon map).
    val allowed = Set("ann_topk", "ann_lsh", "ann_ivf", "embed_pairs")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!allowed(name)) {
        val df = fn(spark, dir)
        val offenders = df.queryExecution.analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.nonEmpty &&
              h.child.collectFirst {
                case r: LogicalRelation => r
              }.nonEmpty => h
        }
        assert(offenders.isEmpty,
          s"$name hints a join strategy over a file-scan input:\n" +
            offenders.mkString("\n"))
        spark.catalog.clearCache()
      }
    }
  }

  test("dynamic canon join is hint-free and flips to shuffle when the map is big") {
    import spark.implicits._
    val linked = Seq(("d1", "parseTree"), ("d2", "buildPlan"))
      .toDF("docId", "entity")
    val canonMap = Seq(("parseTree", "parseTree"), ("buildPlan", "buildPlan"))
      .toDF("entity", "canonical")
    // mined-map path: NO hint anywhere in the plan — strategy is AQE's
    val dyn = Pipeline.canonicalize(linked, canonMap, hintBroadcast = false)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    assert(dyn.queryExecution.analyzed.collect {
      case h: ResolvedHint => h }.isEmpty,
      "dynamic canonicalize must not carry a broadcast hint")
    // with auto-broadcast off (simulating a mined map too big to
    // broadcast) the join strategy flips to a shuffle join; the
    // dictionary path's explicit hint still forces a broadcast
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pDyn = Pipeline.canonicalize(linked, canonMap,
        hintBroadcast = false).queryExecution.executedPlan.toString
      assert(!pDyn.contains("BroadcastHashJoin"),
        s"big mined map must shuffle, not broadcast:\n$pDyn")
      val pStatic = Pipeline.canonicalize(linked, canonMap,
        hintBroadcast = true).queryExecution.executedPlan.toString
      assert(pStatic.contains("BroadcastHashJoin"),
        s"dictionary map keeps its broadcast:\n$pStatic")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("linking is a single broadcast join - no mention shuffle") {
    import spark.implicits._
    val m = graft.extract.Extract.run(spark, 30)
    val linked = graft.link.Linker.link(m)
    val p = plan(linked.toDF())
    assert(p.contains("BroadcastHashJoin"))
    // generated-corpus extract now skips the skew-control repartition
    // (uniform range input, unique paths), so the whole extract+link
    // chain is shuffle-free; a from-table extract keeps exactly one
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"expected shuffle-free extract+link, got $shuffles:\n$p")
    val fromTable = graft.link.Linker.link(
      graft.extract.Extract.mentionsFused(
        graft.extract.Extract.corpus(spark, 5))) // default: skew control on
    val pt = plan(fromTable.toDF())
    val shufflesT = "Exchange hashpartitioning".r.findAllIn(pt).length
    assert(shufflesT == 1,
      s"expected 1 shuffle (skew-control repartition), got $shufflesT:\n$pt")
  }

  test("embed_pairs global top-n plans as TakeOrdered, not a one-partition window") {
    val df = graft.queries.TrainingDataQueries.all("embed_pairs")(spark, dir)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"no distributed top-n in:\n${p.take(3000)}")
  }

  test("no query plans an unpartitioned window over unbounded input") {
    // the round-1 scale-killer class: row_number() over an empty
    // partitionSpec funnels EVERY row into one partition. A global
    // window is acceptable only when its input is already bounded by a
    // limit (e.g. embed_pairs ranks the topN rows TakeOrdered collected)
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, Window => LWindow}
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      val bad = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
            w.child.collectFirst {
              case g: GlobalLimit => g: Any
              case l: LocalLimit => l: Any
            }.isEmpty => w
      }
      assert(bad.isEmpty,
        s"$name plans an unpartitioned window over unbounded input")
      spark.catalog.clearCache()
    }
  }

  test("prf_agg builds lazily — no Spark job at DataFrame construction") {
    @volatile var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    // listener delivery is async — drain the bus before reading the
    // counter (LiveListenerBus.waitUntilEmpty is private[spark], which
    // compiles to public bytecode: plain reflection reaches it)
    def drain(): Unit = {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      def countJobs(f: => Unit): Int = { jobs = 0; f; drain(); jobs }
      // reading a parquet path can itself launch listing/footer jobs —
      // that is the file source, not an eager ACTION. Baseline = a
      // plain lazy read of the same table immediately before; prf_agg's
      // construction (one read of the same path) must not exceed it.
      // The old implementation ran .head() at construction (several
      // jobs over and above the read).
      val baseline = countJobs {
        spark.read.parquet(s"$dir/lineitem.parquet"); ()
      }
      var df: org.apache.spark.sql.DataFrame = null
      val build = countJobs {
        df = SparkEntry.queries("prf_agg")(spark, dir); ()
      }
      assert(build <= baseline,
        s"prf_agg ran $build job(s) at construction vs $baseline for a " +
          "bare parquet read — it must be a lazy plan")
      assert(countJobs { assert(df.count() == 1) } > 0,
        "listener sanity: the count() action must be seen")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("neg_sample never shuffles the span grid on span keys") {
    val df = graft.queries.KgQueries.all("neg_sample")(spark, dir)
    df.collect() // finalize AQE before reading the executed plan
    val p = plan(df)
    // the span universe is ~40x the sentence count — the big table of
    // this query. With the per-sentence gold-array join + exists()
    // labeling, every hash exchange is on (docId, sentId) only; a
    // hashpartitioning that carries the span start column would mean
    // the grid is re-shuffled per span cell (the band-join +
    // 4-column-regroup shape this plan replaced), paying ~40x the
    // bytes at scale
    assert("Exchange hashpartitioning\\([^)]*start".r.findFirstIn(p).isEmpty,
      s"span-key shuffle found in:\n${p.take(3000)}")
  }

  test("neg_sample plans exactly one corpus generation (single fused scan)") {
    val df = graft.queries.KgQueries.all("neg_sample")(spark, dir)
    df.collect()
    val p = plan(df)
    // the universe and the positives both derive from ONE fused
    // tokenize+score pass, materialized at construction
    // (localCheckpoint): the final plan must contain NO corpus source
    // node at all — a Range root would mean a branch regenerates the
    // corpus (the round-4 shape ran the generator+tokenizer twice,
    // paying the kernel once more, over the same files)
    assert(!p.contains("Range ("),
      s"corpus generation found in the neg_sample plan:\n${p.take(3000)}")
    // both branches scan the SAME checkpointed RDD (two scans, one
    // generation) — the checkpoint scan must actually be there, or the
    // assertion above is vacuous
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"expected checkpointed-RDD scans in:\n${p.take(3000)}")
  }

  test("warm cache re-score is shuffle-free (one narrow scan to mentions)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("enc-plan").toString
    val sents = graft.extract.Extract.sentences(
      graft.extract.Extract.corpus(spark, 20))
    graft.extract.EncodingCache.write(sents, tmp)
    val warm = graft.extract.EncodingCache.mentionsFromCache(spark, tmp)
    val p = plan(warm.toDF())
    assert(!p.contains("Exchange"),
      s"warm cache path must not shuffle before the consumer:\n${p.take(2000)}")
  }

  test("minhash and simhash signatures are shuffle-free narrow maps") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mh = plan(graft.ops.DedupOps.minhashSignatures(docs, "doc_id", "text"))
    assert(!mh.contains("Exchange") && !mh.contains("Generate"),
      s"minhash signatures must be one narrow projection:\n${mh.take(2000)}")
    // the expensive one-pass kernel must appear EXACTLY once — a
    // collapsed projection would inline it into all 16 mh extractors
    assert("minhashsigs|minhash_sigs".r.findAllIn(mh.toLowerCase).length == 1,
      s"minhash kernel must be evaluated once:\n${mh.take(2000)}")
    // simhash widens a SINGLE-SPLIT input (Parallelism.widen) so its
    // per-token kernel is not serialized on one core; on an input
    // that is already as wide as the session target the plan stays a
    // narrow projection — the at-scale shape
    val wide = docs.repartition(
      spark.sessionState.conf.numShufflePartitions,
      org.apache.spark.sql.functions.col("doc_id"))
    val shDf = graft.ops.DedupOps.simhashSignatures(wide, "doc_id", "text")
    shDf.collect() // finalize AQE so codegen stage markers are visible
    // executed AQE plans print Final + Initial sections — count
    // exchanges in the final section only
    val sh = plan(shDf).split("== Initial Plan ==").head
    val shExchanges = "Exchange".r.findAllIn(sh).length
    assert(shExchanges == 1 && !sh.contains("Generate"), // only the widener
      s"simhash signatures over a wide input must add no exchange:\n" +
        s"${sh.take(2000)}")
    assert("simhashsig|simhash_sig".r.findAllIn(sh.toLowerCase).length == 1,
      s"simhash kernel must be evaluated once:\n${sh.take(2000)}")
    // and on the raw single-split table the conditional widen DOES
    // repartition (the kernel would otherwise run one-wide)
    val shNarrowIn =
      plan(graft.ops.DedupOps.simhashSignatures(docs, "doc_id", "text"))
    assert(shNarrowIn.contains("Exchange"),
      s"expected widen to fire on a single-split input:\n" +
        s"${shNarrowIn.take(2000)}")
    // winnowing emits (doc, fp) pairs — an explode is inherent, but a
    // shuffle is not: fingerprints are per-doc facts
    val wf = plan(graft.ops.TextOps.winnowFingerprints(docs, "doc_id", "text"))
    assert(!wf.contains("Exchange"),
      s"winnowing must not shuffle k-gram hashes:\n${wf.take(2000)}")
    // and whole-stage codegen must cover the signature projections —
    // the kernels are real codegen expressions, not CodegenFallback
    // (executedPlan.toString marks codegen stages with a "*(N)" prefix)
    assert("""\*\(\d+\) Project \[doc""".r.findFirstIn(mh).isDefined,
      s"minhash projection not inside whole-stage codegen:\n$mh")
    assert("""\*\(\d+\) Project \[doc""".r.findFirstIn(sh).isDefined,
      s"simhash projection not inside whole-stage codegen:\n$sh")
  }

  test("fused cosine kernel runs inside whole-stage codegen in ANN scans") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = graft.ops.SimilarityOps.bruteForceTopK(
      emb, org.apache.spark.sql.functions.col("vec_id") < 10, 5)
    df.collect() // finalize AQE on THIS QueryExecution (count() builds another)
    val p = plan(df)
    assert(p.toLowerCase.contains("cosinesim"),
      s"expected the native cosine kernel in the plan:\n${p.take(2000)}")
    // the projection computing `cos` must carry the codegen marker —
    // a CodegenFallback expression would force it out of the span
    val cosLine = p.linesIterator.find(_.toLowerCase.contains("cosinesim"))
    assert(cosLine.exists(l => """\*\(\d+\)""".r.findFirstIn(l).isDefined),
      s"cosine projection not inside whole-stage codegen:\n${p.take(2000)}")
  }

  test("minhash band self-join reuses a shuffle stage (exchange reuse)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.ops.DedupOps.minhashLshPairs(docs, "doc_id", "text", 0.5)
    df.collect() // finalize AQE on this QueryExecution
    val p = plan(df)
    // some identical subtree pair in the plan must share one
    // materialized stage (ReusedExchange / reused query stage). NOTE
    // (round-6 finding): at LOCAL size AQE broadcasts the band join's
    // build side, and that BroadcastExchange subtree re-evaluates the
    // signature kernel — a cache fixes that stage in isolation but
    // measured NEUTRAL on the full query (see minhashLshPairs), so
    // the uncached shape stands; at cluster scale both band sides
    // shuffle and this reuse covers the kernel too.
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"no exchange reuse in the minhash plan:\n${p.take(3000)}")
  }

  test("whole-stage codegen covers the relational operators") {
    val df = graft.queries.RelationalQueries.all("q1_agg")(spark, dir)
    df.collect() // let AQE finalize the plan
    val p = plan(df)
    // "*(n)" is the compact WholeStageCodegen marker in plan toString
    assert(p.contains("WholeStageCodegen") || p.contains("*(1)"), p.take(1500))
  }

  test("topk aggregator == window topk, with map-side partial aggregation") {
    import spark.implicits._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey").cast("long").as("group"),
        col("l_extendedprice").as("score"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))
    val viaAgg = TopK.topKPerGroup(li, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val w = Window.partitionBy(col("group"))
      .orderBy(desc("score"), asc("id"))
    val viaWindow = li.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).select(col("group"), col("rank"), col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaAgg == viaWindow)
    // partial aggregation (ObjectHashAggregate x2: partial + final)
    val p = plan(TopK.topKPerGroup(li, 3))
    assert("ObjectHashAggregate|SortAggregate".r.findAllIn(p).length >= 2,
      s"no two-phase aggregation:\n$p")
  }
}

/** Pipeline plan shape + held-out parity at a larger slice. */
class PipelinePlanSpec extends SparkSpec {

  test("hot pipeline over the generated corpus is shuffle-free end to end") {
    // generated corpus: uniform range partitions + unique paths skip the
    // skew-control repartition; the static canon map is broadcast; the
    // partition-local emitter removes the emit group shuffle. The triples
    // plan must therefore carry NO hash exchange at all (round-6: was 2 —
    // extract repartition + emit groupByKey).
    val st = Pipeline.run(spark, 50)
    val p = st.triples.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 0, s"expected shuffle-free triples, got $shuffles:\n${p.take(3000)}")
  }

  test("from-table hot pipeline keeps exactly 1 shuffle (skew-control repartition)") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("pipetab").toString
    graft.extract.Extract.corpus(spark, 30).write.mode("overwrite").parquet(tmp)
    val st = Pipeline.runFromTable(spark, tmp)
    val p = st.triples.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1,
      s"expected 1 shuffle (skew-control repartition), got $shuffles:\n${p.take(3000)}")
  }

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  test("emitter rule: mentionsFused input + broadcast canon emits without a shuffle") {
    // default skew control: the linked table carries the one extract
    // repartition; the broadcast canon join and the partition-local
    // emit above it add none
    val linked = graft.link.Linker.link(graft.extract.Extract.mentionsFused(
      graft.extract.Extract.corpus(spark, 20))).toDF()
    val below = exchanges(linked)
    val (_, triples) = Pipeline.canonEmit(linked,
      Pipeline.Canon.static(spark), docContiguous = true)
    val p = triples.queryExecution.executedPlan.toString
    assert(below == 1 && exchanges(triples) == below,
      s"expected no exchange above the canon join, got " +
        s"${exchanges(triples) - below}:\n${p.take(3000)}")
  }

  test("emitter rule: a parquet-read mention table keeps exactly the emit group shuffle") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("ments").toString
    graft.link.Linker.link(graft.extract.Extract.run(spark, 20)).toDF()
      .write.mode("overwrite").parquet(tmp)
    val linked = spark.read.parquet(tmp)
    val (_, triples) = Pipeline.canonEmit(linked,
      Pipeline.Canon.static(spark), docContiguous = false)
    val p = triples.queryExecution.executedPlan.toString
    assert(exchanges(triples) == 1,
      s"expected 1 shuffle (emit group), got ${exchanges(triples)}:\n${p.take(3000)}")
    // the rows match the partition-local emit over the same mentions
    val local = Pipeline.run(spark, 20).triples
    assert(triples.collect().toSet == local.collect().toSet)
  }

  test("streaming micro-batch: one hash exchange before the kernel") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("mbatch").toString
    graft.extract.Extract.corpus(spark, 50).write.mode("overwrite").parquet(tmp)
    import spark.implicits._
    val batch = spark.read.parquet(tmp).as[graft.core.SourceFileHashed]
    // the survivor window (by docId) and the kernel's skew control share
    // one exchange of the file rows; with and without an ingest-time
    // column in the window order
    for ((ds, ts) <- Seq(batch -> None,
        batch.withColumn("ingestTs", lit(1L))
          .as[graft.core.SourceFileHashed] -> Some("ingestTs"))) {
      val m = graft.streaming.StreamingPipeline.batchMentions(ds, ts).toDF()
      val p = m.queryExecution.executedPlan.toString
      assert(exchanges(m) == 1,
        s"expected 1 shuffle, got ${exchanges(m)}:\n${p.take(3000)}")
    }
    // every doc lands whole in one partition: the emit rule's contiguity
    val spread = graft.streaming.StreamingPipeline.batchMentions(batch, None)
      .toDF().select(col("docId"), spark_partition_id().as("p")).distinct()
      .groupBy("docId").count().filter(col("count") > 1).count()
    assert(spread == 0)
  }

  test("runFromTable prunes the parquet scan to the needed columns") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("scan").toString
    graft.extract.Extract.corpus(spark, 20).write.mode("overwrite").parquet(tmp)
    import spark.implicits._
    // a projection that only needs repo+path must not read content
    val df = spark.read.parquet(tmp).select("repo", "path")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<repo:string,path:string>"), p.take(1200))
  }

  test("held-out file range: distributed == twin == gold (P=R=1)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // held-out ids far from every other suite's range
    val lo = 900000; val n = 2000
    val dist = spark.range(lo, lo + n)
      .map(id => graft.core.CorpusGen.file(id).source)
      .transform(ds => graft.extract.Extract.mentionsFused(ds)).toDF()
    val twin = graft.extract.ReferenceScorer.mentions(lo until (lo + n)).toDF()
    val m = graft.evalm.StrictMetric.prf(dist, twin, broadcastGold = false)
    assert(m.p == 1.0 && m.r == 1.0, s"twin parity: $m")
    val gold = spark.range(lo, lo + n)
      .flatMap(id => graft.core.CorpusGen.file(id).mentions).toDF()
    val mg = graft.evalm.StrictMetric.prf(dist, gold, broadcastGold = false)
    assert(mg.p == 1.0 && mg.r == 1.0, s"gold parity: $mg")
  }
}

package graft

import graft.extract.Extract
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming parity + stateful ops, driven synchronously via the
  * memory sink (spark_guide local-smoke pattern). */
class StreamingSpec extends SparkSpec {

  test("streaming extract == batch extract on the same files") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("stream-src").toString
    Extract.corpus(spark, 40).write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val stream = spark.readStream.schema(schema).parquet(tmp)
      .as[graft.core.SourceFileHashed]
    val q = StreamingPipeline.extractStream(stream).writeStream
      .outputMode("append").format("memory").queryName("ment")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ment")
      .select("docId", "sentId", "start", "end", "entType")
      .collect().map(_.toSeq).toSet
    val batch = Extract.mentions(Extract.sentences(Extract.corpus(spark, 40)))
      .select("docId", "sentId", "start", "end", "entType")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("two versions of one doc in a SINGLE micro-batch: exactly one survives") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("stream-1batch").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val man = s"$tmp/man"
    val ments = s"$tmp/ments"
    Extract.corpus(spark, 10).write.mode("overwrite").parquet(src)
    // two NEW versions of file 0's doc; no maxFilesPerTrigger, so the
    // whole source (original + both re-ingests) lands in ONE batch and
    // the cross-batch (docId, batchId) last-writer-wins cannot help —
    // the ingest itself must keep a single version per doc
    val f0 = graft.core.CorpusGen.file(0).source
    def ver(commit: String, contentFrom: Long) = {
      val c = graft.core.CorpusGen.file(contentFrom).source.content
      graft.core.SourceFileHashed(f0.repo, f0.path, commit, f0.lang, c,
        graft.core.CorpusGen.sha256Hex(c))
    }
    val vA = ver("zzz-a", 91); val vB = ver("zzz-b", 92)
    Seq(vA, vB).toDS().write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = StreamingPipeline.triplesStream(
      spark.readStream.schema(schema).parquet(src)
        .as[graft.core.SourceFileHashed],
      out, man, s"$tmp/ckpt", mentionsPath = Some(ments))
    q.processAllAvailable(); q.stop()
    val table = s"$tmp/graph"
    StreamingPipeline.publishSnapshotDynamic(spark, ments, table, "s0")
    val pub = graft.sources.GraphTables.read(spark, table)
      .select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet
    // the deterministic survivor is max (commit, sha256) = "zzz-b"
    def batchOver(survivor: graft.core.SourceFileHashed) =
      Pipeline.stagesFor(
        Extract.corpus(spark, 10)
          .filter(f => !(f.repo == f0.repo && f.path == f0.path))
          .union(Seq(survivor).toDS()), minedCanon = true).triples
        .select("subj", "pred", "obj", "docId")
        .collect().map(_.toSeq).toSet
    val want = batchOver(vB)
    val loser = batchOver(vA)
    assert(pub == want,
      s"stale/missing: +${(pub -- want).take(3)} -${(want -- pub).take(3)}")
    // and the published set is NOT the union with the losing version
    val loserOnly = loser -- want
    assert(loserOnly.nonEmpty,
      "degenerate fixture: both versions yield identical facts")
    assert(pub.intersect(loserOnly).isEmpty,
      s"losing version's facts leaked into the publish: ${loserOnly.take(3)}")
  }

  test("a monotone ingestTs column overrides the lexicographic survivor") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("stream-ts").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val man = s"$tmp/man"
    val ments = s"$tmp/ments"
    Extract.corpus(spark, 10).write.mode("overwrite").parquet(src)
    val f0 = graft.core.CorpusGen.file(0).source
    def ver(commit: String, contentFrom: Long) = {
      val c = graft.core.CorpusGen.file(contentFrom).source.content
      graft.core.SourceFileHashed(f0.repo, f0.path, commit, f0.lang, c,
        graft.core.CorpusGen.sha256Hex(c))
    }
    // the chronologically NEWER version has the lexicographically
    // SMALLER commit — exactly the case the bare (commit, sha256)
    // fallback gets wrong (the sibling test above pins that fallback)
    val older = ver("zzz-b", 92); val newer = ver("zzz-a", 91)
    Seq((older, 1000L), (newer, 2000L))
      .map { case (f, ts) =>
        (f.repo, f.path, f.commit, f.lang, f.content, f.sha256, ts) }
      .toDF("repo", "path", "commit", "lang", "content", "sha256",
        "ingestTs")
      .write.mode("append").parquet(src)
    // user-specified schema: the original corpus rows read ingestTs as
    // null and fall back to the lexicographic order among themselves
    val schema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(src).schema.filterNot(_.name == "ingestTs")
        :+ org.apache.spark.sql.types.StructField("ingestTs",
          org.apache.spark.sql.types.LongType))
    val stream = spark.readStream.schema(schema).parquet(src)
      .as[graft.core.SourceFileHashed]
    // the opt-in validates loudly BEFORE any query starts: a typo'd
    // name and a lexicographically-ordering string epoch both fail
    val miss = intercept[IllegalArgumentException] {
      StreamingPipeline.triplesStream(stream, out, man, s"$tmp/ckptX",
        mentionsPath = Some(ments), ingestTsCol = Some("ingest_time"))
    }
    assert(miss.getMessage.contains("not found"), miss.getMessage)
    val str = intercept[IllegalArgumentException] {
      StreamingPipeline.triplesStream(
        spark.readStream.schema(schema).parquet(src)
          .withColumn("tsStr", col("commit"))
          .as[graft.core.SourceFileHashed],
        out, man, s"$tmp/ckptY", mentionsPath = Some(ments),
        ingestTsCol = Some("tsStr"))
    }
    assert(str.getMessage.contains("timestamp or numeric"), str.getMessage)
    // the streamed product is the mention accumulation: no mentionsPath,
    // no query
    val none = intercept[IllegalArgumentException] {
      StreamingPipeline.triplesStream(stream, out, man, s"$tmp/ckptZ")
    }
    assert(none.getMessage.contains("mentionsPath") &&
      !new java.io.File(s"$tmp/ckptZ").exists, none.getMessage)
    val q = StreamingPipeline.triplesStream(stream, out, man, s"$tmp/ckpt",
      mentionsPath = Some(ments), ingestTsCol = Some("ingestTs"))
    q.processAllAvailable(); q.stop()
    val table = s"$tmp/graph"
    StreamingPipeline.publishSnapshotDynamic(spark, ments, table, "s0")
    val pub = graft.sources.GraphTables.read(spark, table)
      .select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet
    def batchOver(survivor: graft.core.SourceFileHashed) =
      Pipeline.stagesFor(
        Extract.corpus(spark, 10)
          .filter(f => !(f.repo == f0.repo && f.path == f0.path))
          .union(Seq(survivor).toDS()), minedCanon = true).triples
        .select("subj", "pred", "obj", "docId")
        .collect().map(_.toSeq).toSet
    val want = batchOver(newer)
    val stale = batchOver(older) -- want
    assert(stale.nonEmpty, "degenerate fixture: versions yield identical facts")
    assert(pub == want,
      s"ingestTs ignored: +${(pub -- want).take(3)} -${(want -- pub).take(3)}")
    assert(pub.intersect(stale).isEmpty,
      s"stale version's facts leaked past the ingestTs order: ${stale.take(3)}")
  }

  test("watermarked windowed aggregation over the events table") {
    val tmp = Files.createTempDirectory("stream-ev").toString
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").parquet(tmp)
    val stream = spark.readStream.schema(ev.schema).parquet(tmp)
    val q = StreamingPipeline.windowedEventCounts(stream).writeStream
      .outputMode("append").format("memory").queryName("winagg")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    // append mode emits only watermark-closed windows. Two-sided check
    // (an inner join would silently ignore windows the streaming path
    // DROPPED): every streamed row must equal its batch counterpart
    // exactly, and every definitely-closed batch window must have been
    // emitted.
    val got = spark.table("winagg")
    val batch = StreamingPipeline.windowedEventCounts(ev)
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty,
      "streamed rows must be a subset of the batch result")
    // definitely closed = window end strictly below the final watermark
    // (max ts - 10 min delay); end = w_start + 5 min width
    val maxTs = ev.agg(max(col("ts").cast("timestamp"))).head()
      .getTimestamp(0)
    val closedBefore = new java.sql.Timestamp(maxTs.getTime - 15 * 60000)
    assert(batch.filter(col("w_start") < closedBefore).exceptAll(got)
      .isEmpty, "closed windows dropped by the streaming path")
  }

  test("streaming triples via foreachBatch == batch pipeline + manifest rows") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("stream-kg").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val man = s"$tmp/man"
    val ments = s"$tmp/ments"
    // two chunks arriving as separate files
    Extract.corpus(spark, 40).write.mode("overwrite").parquet(src)
    spark.range(40, 80).map(id => graft.core.CorpusGen.file(id).source)
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.option("maxFilesPerTrigger", "3")
      .schema(schema).parquet(src).as[graft.core.SourceFileHashed]
    val q = StreamingPipeline.triplesStream(stream, out, man, s"$tmp/ckpt",
      mentionsPath = Some(ments))
    q.processAllAvailable(); q.stop()
    // several micro-batches, each committed under its own batchId
    assert(new java.io.File(ments).listFiles()
      .count(_.getName.startsWith("batchId=")) >= 2)
    val batch = Pipeline.stagesFor(Extract.corpus(spark, 80),
        minedCanon = true).triples
      .select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet
    // publish the streamed backfill as a graph-table snapshot: the
    // LATEST COMMITTED snapshot must read back equal to the batch
    // pipeline's triple set
    val table = s"$tmp/graph"
    val (nPub, _) = StreamingPipeline.publishSnapshotDynamic(spark, ments,
      table, "snap-000")
    val published = graft.sources.GraphTables.read(spark, table)
      .select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet
    assert(published == batch && batch.nonEmpty)
    assert(nPub == published.size.toLong)
    // RE-INGEST file 0 under the same docId with DIFFERENT content
    // (file 97's source text): the next publish must carry only the
    // latest batch's triples for that doc — a bare cross-batch union
    // would keep file 0's stale facts alive
    val f0 = graft.core.CorpusGen.file(0).source
    val altContent = graft.core.CorpusGen.file(97).source.content
    val re = graft.core.SourceFileHashed(f0.repo, f0.path, "c1", f0.lang,
      altContent, graft.core.CorpusGen.sha256Hex(altContent))
    Seq(re).toDS().write.mode("append").parquet(src)
    val q2 = StreamingPipeline.triplesStream(
      spark.readStream.option("maxFilesPerTrigger", "3")
        .schema(schema).parquet(src).as[graft.core.SourceFileHashed],
      out, man, s"$tmp/ckpt", mentionsPath = Some(ments))
    q2.processAllAvailable(); q2.stop()
    StreamingPipeline.publishSnapshotDynamic(spark, ments, table, "snap-001")
    val pub2 = graft.sources.GraphTables.read(spark, table)
      .select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet
    val curFiles = Extract.corpus(spark, 80)
      .filter(f => !(f.repo == f0.repo && f.path == f0.path))
      .union(Seq(re).toDS())
    val batch2 = Pipeline.stagesFor(curFiles, minedCanon = true).triples
      .select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet
    assert(pub2 == batch2 && pub2 != batch,
      s"stale/missing: +${(pub2 -- batch2).take(3)} -${(batch2 -- pub2).take(3)}")
  }

  test("dynamic-canon publish of a streamed backfill == batch dynamic pipeline") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("stream-dyncanon").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val man = s"$tmp/man"
    val ments = s"$tmp/ments"; val table = s"$tmp/graph"
    // a NOVEL camel/snake alias pair, absent from the static
    // dictionary: only corpus-wide alias mining merges the two forms —
    // the per-batch static canon keeps the snake call-site
    // self-canonical, so this corpus makes the static/dynamic
    // divergence (and the publish path that closes it) observable
    val novelContent = Seq(
      "def runNovel(a: Row): Txn = {",
      "val depotMatrixZz = 1",
      "y = depot_matrix_zz(x)").mkString("\n")
    val novel = graft.core.SourceFileHashed("novelrepo", "N.scala", "c0",
      "scala", novelContent, graft.core.CorpusGen.sha256Hex(novelContent))
    def files = Extract.corpus(spark, 30).union(Seq(novel).toDS())
    files.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.option("maxFilesPerTrigger", "2")
      .schema(schema).parquet(src).as[graft.core.SourceFileHashed]
    val q = StreamingPipeline.triplesStream(stream, out, man, s"$tmp/ckpt",
      mentionsPath = Some(ments))
    q.processAllAvailable(); q.stop()
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    val batchDyn = tset(Pipeline.stagesFor(files, minedCanon = true).triples)
    val (nPub, _) = StreamingPipeline.publishSnapshotDynamic(spark, ments,
      table, "snap-dyn")
    val published = tset(graft.sources.GraphTables.read(spark, table))
    // EXACT parity with the batch dynamic pipeline — shared code path
    assert(published == batchDyn && batchDyn.nonEmpty,
      s"+${(published -- batchDyn).take(3)} -${(batchDyn -- published).take(3)}")
    assert(nPub == published.size.toLong)
    // and the divergence this path exists to close is real: static
    // canon over the same files keeps the novel snake alias; the dynamic
    // publish canonicalizes it onto its camel twin
    val batchStatic = tset(Pipeline.stagesFor(files).triples)
    assert(batchStatic.exists(_.contains("depot_matrix_zz")),
      "static canon should keep the novel alias self-canonical")
    assert(published.exists(_.contains("depotMatrixZz")) &&
      !published.exists(_.contains("depot_matrix_zz")),
      "dynamic publish must canonicalize the novel alias")
    // RE-INGEST with zero-mention content: the doc ROSTER (not the
    // mention rows) must resolve last-writer-wins, or the stale batch's
    // mentions survive the publish. Same checkpoint -> the resumed
    // stream processes only the appended file.
    val emptied = "zzz qqq\nzzz qqq"
    val novel2 = graft.core.SourceFileHashed("novelrepo", "N.scala", "c1",
      "scala", emptied, graft.core.CorpusGen.sha256Hex(emptied))
    Seq(novel2).toDS().write.mode("append").parquet(src)
    val q2 = StreamingPipeline.triplesStream(
      spark.readStream.option("maxFilesPerTrigger", "2")
        .schema(schema).parquet(src).as[graft.core.SourceFileHashed],
      out, man, s"$tmp/ckpt", mentionsPath = Some(ments))
    q2.processAllAvailable(); q2.stop()
    StreamingPipeline.publishSnapshotDynamic(spark, ments, table, "snap-dyn2")
    val published2 = tset(graft.sources.GraphTables.read(spark, table))
    assert(!published2.exists(_.contains("novelrepo/N.scala")),
      "stale mentions of a re-ingested zero-mention doc leaked into the publish")
    // and it equals a batch dynamic run over the CURRENT corpus state
    val batchDyn2 = tset(Pipeline.stagesFor(
      Extract.corpus(spark, 30).union(Seq(novel2).toDS()),
      minedCanon = true).triples)
    assert(published2 == batchDyn2)
  }

  test("incremental dynamic publish == full recompute (adds, merges, retraction fallback)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("stream-inccanon").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val man = s"$tmp/man"
    val ments = s"$tmp/ments"; val table = s"$tmp/graph"
    val state = s"$tmp/state"
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    def pub(id: String) = StreamingPipeline
      .publishSnapshotDynamicIncremental(spark, ments, table, id, state)
    def published() = tset(graft.sources.GraphTables.read(spark, table))
    def doc(path: String, commit: String, lines: String*) = {
      val c = lines.mkString("\n")
      graft.core.SourceFileHashed("increpo", path, commit, "scala", c,
        graft.core.CorpusGen.sha256Hex(c))
    }
    // phase-1 plant: the SNAKE form only — a later batch's camel twin
    // must relabel it, forcing a re-emit of this doc OUTSIDE the delta
    val a0 = doc("A.scala", "c0",
      "def runBase(a: Row): Txn = {", "y = valve_gamma_qq(x)")
    Extract.corpus(spark, 30).union(Seq(a0).toDS())
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    def runStream(): Unit = {
      val q = StreamingPipeline.triplesStream(
        spark.readStream.option("maxFilesPerTrigger", "2").schema(schema)
          .parquet(src).as[graft.core.SourceFileHashed],
        out, man, s"$tmp/ckpt", mentionsPath = Some(ments))
      q.processAllAvailable(); q.stop()
    }
    runStream()
    val p1 = pub("inc-1")
    assert(!p1.incremental && p1.note.contains("first publish"))
    val files1 = Extract.corpus(spark, 30).union(Seq(a0).toDS())
    assert(published() == tset(Pipeline.stagesFor(files1, minedCanon = true).triples))

    // phase 2 (adds + a net-zero re-ingest): a NEW doc with the CAMEL
    // twin (novel cross-batch alias merge), a NEW plain corpus doc,
    // and a re-ingest of A.scala keeping its alias pair intact
    val b = doc("B.scala", "c0",
      "def runNovel(a: Row): Txn = {", "val valveGammaQq = 1")
    val a1 = doc("A.scala", "c1",
      "def runBase(a: Row): Txn = {", "y = valve_gamma_qq(x)",
      "z = other_call(x)")
    val extra = spark.range(30, 31)
      .map(id => graft.core.CorpusGen.file(id).source)
    Seq(b, a1).toDS().union(extra)
      .write.mode("append").parquet(src)
    runStream()
    val p2 = pub("inc-2")
    assert(p2.incremental, s"expected incremental, got: ${p2.note}")
    // the cross-batch relabeling below went through the entity→doc
    // INDEX (p1's full publish rebuilt its buckets)
    assert(graft.sources.Fs.hasData(spark, s"$state/entidx", "ebucket="))
    val files2 = Extract.corpus(spark, 31).union(Seq(a1, b).toDS())
    val full2 = tset(Pipeline.stagesFor(files2, minedCanon = true).triples)
    assert(published() == full2,
      s"+${(published() -- full2).take(3)} -${(full2 -- published()).take(3)}")
    // the cross-batch merge really happened: the phase-1 snake
    // call-site now rides the camel canonical — i.e. the relabeling
    // re-emitted a doc the delta never touched
    assert(published().exists(r =>
      r.contains("valveGammaQq") && r.contains("increpo/A.scala")))
    assert(!published().exists(_.contains("valve_gamma_qq")))
    // and the incremental output == the full publish over the SAME
    // accumulation (not just the batch pipeline twin)
    StreamingPipeline.publishSnapshotDynamic(spark, ments,
      s"$tmp/graphFull", "full-2")
    assert(tset(graft.sources.GraphTables.read(spark, s"$tmp/graphFull"))
      == published())

    // phase 3 (retraction): re-ingest A.scala WITHOUT its alias pair —
    // the refcount hits zero, the publish must fall back to the full
    // recompute and still be exact
    val a2 = doc("A.scala", "c2",
      "def runBase(a: Row): Txn = {", "z = other_call(x)")
    Seq(a2).toDS().write.mode("append").parquet(src)
    runStream()
    val p3 = pub("inc-3")
    assert(!p3.incremental && p3.note.contains("retracted"), p3.note)
    val files3 = Extract.corpus(spark, 31).union(Seq(a2, b).toDS())
    assert(published() == tset(Pipeline.stagesFor(files3, minedCanon = true).triples))

    // phase 4: the fallback rewrote fresh state — the next adds-only
    // delta is incremental again
    val c = doc("C.scala", "c0",
      "def runMore(a: Row): Txn = {", "val valve_gamma_qq = 2")
    Seq(c).toDS().write.mode("append").parquet(src)
    runStream()
    val p4 = pub("inc-4")
    assert(p4.incremental, s"expected incremental, got: ${p4.note}")
    val files4 = files3.union(Seq(c).toDS())
    assert(published() == tset(Pipeline.stagesFor(files4, minedCanon = true).triples))

    // phase 5: empty delta — publish is a pure copy-forward
    val p5 = pub("inc-5")
    assert(p5.incremental && p5.note.contains("empty delta"))
    assert(published() == tset(Pipeline.stagesFor(files4, minedCanon = true).triples))

    // phase 6: compaction folds the re-ingested doc's superseded rows
    // away (strictly fewer accumulated rows), and publishes — both the
    // full and the incremental path — read the compacted layout to the
    // SAME result; a post-compaction delta stays incremental
    val rowsBefore = spark.read.parquet(ments).count()
    StreamingPipeline.compactAccumulation(spark, ments)
    val rowsAfter = spark.read.parquet(ments).count()
    assert(rowsAfter < rowsBefore,
      s"compaction dropped nothing ($rowsBefore -> $rowsAfter)")
    val p6 = pub("inc-6")
    assert(p6.incremental && p6.note.contains("empty delta"))
    assert(published() == tset(Pipeline.stagesFor(files4, minedCanon = true).triples))
    val d = doc("D.scala", "c0",
      "def runLast(a: Row): Txn = {", "val valveGammaQq = 3")
    Seq(d).toDS().write.mode("append").parquet(src)
    runStream()
    val p7 = pub("inc-7")
    assert(p7.incremental && p7.note.contains("adds-only"), p7.note)
    val files5 = files4.union(Seq(d).toDS())
    assert(published() == tset(Pipeline.stagesFor(files5, minedCanon = true).triples))

    // ---- overlay I/O: the incremental publishes above wrote DELTAS,
    // not corpus rewrites, and their derived manifest rows are exact
    import graft.sources.{ContentHash, GraphTables}
    val HashCols = Seq("subj", "pred", "obj", "docId")
    // inc-3 was the retraction FALLBACK (full); inc-4/6/7 chain off it
    assert(GraphTables.baseOf(spark, table, "inc-3").isEmpty)
    assert(GraphTables.baseOf(spark, table, "inc-4").contains("inc-3"))
    assert(GraphTables.baseOf(spark, table, "inc-5").contains("inc-4"))
    assert(GraphTables.baseOf(spark, table, "inc-6").contains("inc-5"))
    assert(GraphTables.baseOf(spark, table, "inc-7").contains("inc-6"))
    // the empty-delta snapshot is a pure pointer (zero rows written);
    // the adds-only one wrote strictly less than the corpus
    assert(GraphTables.readOwnData(spark, table, "inc-6").count() == 0)
    val own7 = GraphTables.readOwnData(spark, table, "inc-7").count()
    val all7 = GraphTables.readSnapshot(spark, table, "inc-7").count()
    assert(own7 > 0 && own7 < all7 / 2,
      s"overlay wrote $own7 of $all7 resolved rows — not a delta")
    // derived (rowCount, contentHash) == from-scratch fingerprint of
    // the resolved content, for every overlay in the chain
    Seq("inc-4", "inc-6", "inc-7").foreach { id =>
      val want = ContentHash.hex(
        GraphTables.readSnapshot(spark, table, id), HashCols)
      val got = GraphTables.commitRecord(spark, table, id).get
      assert(got == want, s"derived manifest of $id drifted")
    }

    // ---- chained STATE I/O: the incremental publishes above wrote
    // state DELTAS (changed rows + a base pointer), not corpus-sized
    // rewrites of canon map / pair refcounts / per-doc fingerprints
    def stRows(id: String, sub: String) =
      spark.read.parquet(s"$state/snap=$id/$sub").count()
    def baseSt(id: String) =
      graft.sources.SnapshotMeta.stateMeta(spark, s"$state/snap=$id").get.get.baseState
    assert(baseSt("inc-3").isEmpty) // retraction fallback → flat state
    assert(baseSt("inc-4").contains("inc-3") &&
      baseSt("inc-5").contains("inc-4") &&
      baseSt("inc-7").contains("inc-6"))
    // the empty-delta snapshot's state is a pure pointer (zero rows)
    assert(stRows("inc-5", "canon") == 0 && stRows("inc-5", "pairs") == 0 &&
      stRows("inc-5", "docs") == 0)
    // the adds-only one wrote strictly less than the corpus state
    assert(stRows("inc-7", "docs") > 0 &&
      stRows("inc-7", "docs") < stRows("inc-3", "docs") / 2,
      s"state docs delta ${stRows("inc-7", "docs")} of " +
        s"${stRows("inc-3", "docs")} — not a delta")

    // phase 8: the depth gate MATERIALIZES — same content, full dir
    val e = doc("E.scala", "c0",
      "def runFinal(a: Row): Txn = {", "val valveGammaQq = 4")
    Seq(e).toDS().write.mode("append").parquet(src)
    runStream()
    val p8 = StreamingPipeline.publishSnapshotDynamicIncremental(
      spark, ments, table, "inc-8", state, maxChain = 1)
    assert(p8.incremental && p8.note.contains("materialized"), p8.note)
    assert(GraphTables.baseOf(spark, table, "inc-8").isEmpty)
    // the gate flattens the STATE chain together with the data chain
    assert(baseSt("inc-8").isEmpty)
    val files6 = files5.union(Seq(e).toDS())
    assert(published() == tset(Pipeline.stagesFor(files6, minedCanon = true).triples))

    // phase 9: canon-state GC keeps the latest state — the next
    // publish is STILL incremental after expiry
    val expired = StreamingPipeline.expireCanonState(
      spark, state, table, keepLast = 1)
    assert(expired.nonEmpty && !expired.contains("inc-8"),
      s"state GC expired $expired")
    val f = doc("F.scala", "c0",
      "def runPost(a: Row): Txn = {", "val valveGammaQq = 5")
    Seq(f).toDS().write.mode("append").parquet(src)
    runStream()
    val p9 = pub("inc-9")
    assert(p9.incremental && p9.note.contains("overlay"), p9.note)
    val files7 = files6.union(Seq(f).toDS())
    assert(published() == tset(Pipeline.stagesFor(files7, minedCanon = true).triples))

    // phase 10: graph GC across a live chain — keepLast=1 keeps inc-9
    // plus its base inc-8; everything older (and the long inc-3 chain)
    // goes, and the kept overlay still resolves
    val removed = GraphTables.expireSnapshots(spark, table, keepLast = 1)
    assert(removed.toSet ==
      Set("inc-1", "inc-2", "inc-3", "inc-4", "inc-5", "inc-6", "inc-7"),
      s"removed $removed")
    assert(published() == tset(Pipeline.stagesFor(files7, minedCanon = true).triples))

    // phase 11: index FALLBACK — plant a fresh snake form, delete the
    // whole index, then land its camel twin: the relabeling of the
    // phase-11a doc (outside the delta) must come out exact through the
    // corpus-scan fallback
    val g = doc("G.scala", "c0",
      "def runExtraA(a: Row): Txn = {", "y = tail_omega_rr(x)")
    Seq(g).toDS().write.mode("append").parquet(src)
    runStream()
    val p11a = pub("inc-11a")
    assert(p11a.incremental, p11a.note)
    assert(org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$state/entidx")))
    val hh = doc("H.scala", "c0",
      "def runExtraB(a: Row): Txn = {", "val tailOmegaRr = 7")
    Seq(hh).toDS().write.mode("append").parquet(src)
    runStream()
    val p11b = pub("inc-11b")
    assert(p11b.incremental, p11b.note)
    val files9 = files7.union(Seq(g, hh).toDS())
    val full9 = tset(Pipeline.stagesFor(files9, minedCanon = true).triples)
    assert(published() == full9,
      s"+${(published() -- full9).take(3)} -${(full9 -- published()).take(3)}")
    assert(published().exists(r =>
      r.contains("tailOmegaRr") && r.contains("increpo/G.scala")),
      "fallback path must still re-emit the relabeled out-of-delta doc")
    // state GC is chain-safe: keepLast=1 keeps inc-11b AND its delta-
    // chain bases (inc-11a, inc-9, inc-8) — nothing here is expirable
    assert(StreamingPipeline.expireCanonState(
      spark, state, table, keepLast = 1).isEmpty,
      "state GC must keep the live delta chain's bases")
    // in-place state compaction: same semantics, flat layout — the
    // retraction detection in phase 12 below reads the COMPACTED
    // refcounts, so a corrupt compaction could not stay green
    assert(StreamingPipeline.compactState(spark, state, "inc-11b"))
    assert(baseSt("inc-11b").isEmpty)
    assert(!StreamingPipeline.compactState(spark, state, "inc-11b"),
      "an already-flat state must not re-compact")
    // a retraction-triggered FULL publish rebuilds the index
    val g2 = doc("G.scala", "c1",
      "def runExtraA(a: Row): Txn = {", "z = unrelated_call(x)")
    Seq(g2).toDS().write.mode("append").parquet(src)
    runStream()
    val p12 = pub("inc-12")
    assert(!p12.incremental && p12.note.contains("retracted"), p12.note)
    assert(graft.sources.Fs.hasData(spark, s"$state/entidx", "ebucket="),
      "full publish must rebuild the index")
    val files10 = files7.union(Seq(g2, hh).toDS())
    assert(published() == tset(Pipeline.stagesFor(files10, minedCanon = true).triples))
  }

  test("compaction under UNPUBLISHED re-ingests cannot mask a retraction") {
    import spark.implicits._
    import graft.sources.GraphTables
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    def doc(path: String, commit: String, lines: String*) = {
      val c = lines.mkString("\n")
      graft.core.SourceFileHashed("cmprepo", path, commit, "scala", c,
        graft.core.CorpusGen.sha256Hex(c))
    }
    def scenario(name: String, keepPublished: Boolean): Unit = {
      val tmp = Files.createTempDirectory(s"stream-compact-$name").toString
      val src = s"$tmp/src"; val out = s"$tmp/out"; val man = s"$tmp/man"
      val ments = s"$tmp/ments"; val table = s"$tmp/graph"
      val state = s"$tmp/state"
      def pub(id: String) = StreamingPipeline
        .publishSnapshotDynamicIncremental(spark, ments, table, id, state)
      def runStream(schema: org.apache.spark.sql.types.StructType): Unit = {
        val q = StreamingPipeline.triplesStream(
          spark.readStream.option("maxFilesPerTrigger", "2").schema(schema)
            .parquet(src).as[graft.core.SourceFileHashed],
          out, man, s"$tmp/ckpt", mentionsPath = Some(ments))
        q.processAllAvailable(); q.stop()
      }
      // A carries the snake form, B its camel twin — one merged
      // component whose ONLY snake evidence is A
      val a0 = doc("A.scala", "c0",
        "def runA(a: Row): Txn = {", "y = valve_gamma_qq(x)")
      val b0 = doc("B.scala", "c0",
        "def runB(a: Row): Txn = {", "val valveGammaQq = 1")
      Extract.corpus(spark, 10).union(Seq(a0, b0).toDS())
        .write.mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema
      runStream(schema)
      assert(!pub("p1").incremental) // first publish writes the state
      // re-ingest A WITHOUT its alias pair — retraction evidence that
      // sits UNPUBLISHED in the accumulation...
      val a1 = doc("A.scala", "c1",
        "def runA(a: Row): Txn = {", "z = other_call(x)")
      Seq(a1).toDS().write.mode("append").parquet(src)
      runStream(schema)
      // ...when compaction folds the superseded versions
      val keep = if (keepPublished)
        StreamingPipeline.publishedStateTouches(spark, table, state)
      else None
      if (keepPublished) assert(keep.isDefined)
      StreamingPipeline.compactAccumulation(spark, ments, keep)
      val p2 = pub("p2")
      // either way the publish must NOT ride the stale merged canon:
      // with the published versions kept, the refcounts SEE the
      // retraction; with a bare latest-only fold, the decrement
      // evidence is gone and the evidence check must route to the
      // full publish rather than publish adds-only over it
      assert(!p2.incremental, s"$name: took incremental — ${p2.note}")
      if (keepPublished)
        assert(p2.note.contains("retracted"), s"$name: ${p2.note}")
      else
        assert(p2.note.contains("decrements unverifiable"),
          s"$name: ${p2.note}")
      val files2 = Extract.corpus(spark, 10).union(Seq(a1, b0).toDS())
      val want2 = tset(Pipeline.stagesFor(files2, minedCanon = true).triples)
      val got2 = tset(GraphTables.read(spark, table))
      // exactness vs the batch ground truth IS the stale-merge probe:
      // under the stale canon, B's camel mention would still ride the
      // component that remembers A's retracted snake twin, and the
      // sets would differ
      assert(got2 == want2,
        s"$name: +${(got2 -- want2).take(3)} -${(want2 -- got2).take(3)}")
      if (keepPublished) {
        // the benefit claim: an adds-only re-ingest compacted WITH the
        // published touches keeps its decrement evidence and the next
        // publish stays incremental
        val b1 = doc("B.scala", "c1",
          "def runB(a: Row): Txn = {", "val valveGammaQq = 1",
          "val more_stuff = 2")
        Seq(b1).toDS().write.mode("append").parquet(src)
        runStream(schema)
        StreamingPipeline.compactAccumulation(spark, ments,
          StreamingPipeline.publishedStateTouches(spark, table, state))
        val p3 = pub("p3")
        assert(p3.incremental && p3.note.contains("adds-only"),
          s"$name: ${p3.note}")
        val files3 = Extract.corpus(spark, 10).union(Seq(a1, b1).toDS())
        assert(tset(GraphTables.read(spark, table)) ==
          tset(Pipeline.stagesFor(files3, minedCanon = true).triples))
        // a crash mid-meta-write leaves a PRESENT but unreadable meta:
        // the contract routes the next publish to the full fallback —
        // it must not throw and wedge the stream's publish schedule
        val metaFile = new java.io.File(s"$state/snap=p3/meta.json")
        assert(metaFile.exists)
        new java.io.File(s"$state/snap=p3/.meta.json.crc").delete()
        java.nio.file.Files.write(metaFile.toPath, "{\"lastBatchId\": 4".getBytes)
        val c1 = doc("C.scala", "c0",
          "def runC(a: Row): Txn = {", "val unrelated_thing = 9")
        Seq(c1).toDS().write.mode("append").parquet(src)
        runStream(schema)
        val p4 = pub("p4")
        assert(!p4.incremental &&
          p4.note.contains("no complete canon state chain"),
          s"$name: ${p4.note}")
        val files4 = files3.union(Seq(c1).toDS())
        assert(tset(GraphTables.read(spark, table)) ==
          tset(Pipeline.stagesFor(files4, minedCanon = true).triples))
      }
    }
    scenario("bare", keepPublished = false)
    scenario("kept", keepPublished = true)
  }

  /** A streamed mention accumulation published incrementally: `land`
    * appends source files and runs the stream over them. */
  private final class Accumulation(name: String) {
    import spark.implicits._
    val tmp = Files.createTempDirectory(name).toString
    val src = s"$tmp/src"; val ments = s"$tmp/ments"
    val table = s"$tmp/graph"; val state = s"$tmp/state"
    def land(files: org.apache.spark.sql.Dataset[graft.core.SourceFileHashed]): Unit = {
      files.write.mode("append").parquet(src)
      stream()
    }
    /** Run the stream over everything landed. */
    def stream(): Unit = {
      val q = StreamingPipeline.triplesStream(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
          .as[graft.core.SourceFileHashed],
        s"$tmp/out", s"$tmp/man", s"$tmp/ckpt", mentionsPath = Some(ments))
      q.processAllAvailable(); q.stop()
    }
    def landFile(id: Long): Unit =
      land(Seq(graft.core.CorpusGen.file(id).source).toDS())
    def pub(id: String, maxChain: Int = 8) = StreamingPipeline
      .publishSnapshotDynamicIncremental(spark, ments, table, id, state,
        maxChain)
  }

  test("a maxChain deeper than the state reader walks fails loudly") {
    val a = new Accumulation("stream-maxchain")
    a.land(Extract.corpus(spark, 4))
    // a 64-deep chain keeps 65 state dirs; the reader walks 64, so the
    // next publish would silently fall back to a full recompute
    val e = intercept[IllegalArgumentException](a.pub("m1", maxChain = 64))
    assert(e.getMessage.contains("maxChain 64"), e.getMessage)
    assert(graft.sources.GraphTables.latestSnapshot(spark, a.table).isEmpty,
      "a rejected publish must commit nothing")
    assert(a.pub("m1", maxChain = 63).rows > 0)
  }

  /** Spark jobs of a depth-1 adds-only overlay publish and of an
    * empty-delta publish of the small accumulation below (75 and 37 when
    * the refcount/CC/changed-set algebra ran as DataFrame steps, 32 and
    * 21 while snapshot and state metadata were parquet tables, 23 and 6
    * while overlays and index appends were written partitioned). */
  private val OverlayJobs = 21
  private val EmptyDeltaJobs = 5

  /** Spark jobs of `readSnapshot(...).count()` of a depth-1 overlay. */
  private val OverlayReadJobs = 3

  /** Drain the listener bus: delivery is async (`listenerBus` is
    * private[spark], public in bytecode). */
  private def drainListeners(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  /** The scan roots of every query `f` executes, one entry per
    * execution (AQE stages and subqueries included). */
  private def scanRootsDuring(f: => Unit): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import scala.jdk.CollectionConverters._
    object Plans extends org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        scans.add(Plans.collectWithSubqueries(qe.executedPlan) {
          case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
        }.flatten)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    drainListeners()
    spark.listenerManager.register(l)
    try { f; drainListeners() } finally spark.listenerManager.unregister(l)
    scans.asScala.toSeq
  }

  /** Spark jobs `f` runs. */
  private def jobsDuring(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    drainListeners()
    spark.sparkContext.addSparkListener(l)
    try { f; drainListeners() } finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  /** Spark jobs of one mentions-mode micro-batch over 6 files (20 while
    * it also emitted and committed static-canon triples). */
  private val MicroBatchJobs = 6

  test("a mentions-mode micro-batch writes only the mentions and the roster") {
    import graft.sources.Fs
    val a = new Accumulation("stream-onebatch")
    Extract.corpus(spark, 6).write.parquet(a.src)
    val jobs = jobsDuring(a.stream())
    for (p <- Seq("out", "man"))
      assert(!Fs.exists(spark, s"${a.tmp}/$p"), s"$p written in mentions mode")
    assert(Fs.hasData(spark, a.ments, "batchId=") &&
      Fs.hasData(spark, StreamingPipeline.rosterPath(a.ments), "batchId="))
    assert(jobs <= MicroBatchJobs, s"the micro-batch ran $jobs jobs")
  }

  test("a materializing publish folds the entity-index log into its buckets") {
    import graft.sources.GraphTables
    val a = new Accumulation("stream-entidx-fold")
    a.land(Extract.corpus(spark, 4))
    assert(!a.pub("g0").incremental)
    val maxChain = 2
    val log = new java.io.File(s"${a.state}/entidx/_log")
    def logFiles = Option(log.listFiles()).fold(0)(_.count(f =>
      f.getName.endsWith(".parquet")))
    def pairs = StreamingPipeline.readEntIdx(spark, a.state)
      .select("entity", "docId").distinct().collect().toSet
    val seen = (1 to 2 * maxChain + 2).map { i =>
      a.landFile(3 + i)
      val before = pairs
      val p = a.pub(s"g$i", maxChain)
      assert(p.incremental, p.note)
      assert(logFiles <= maxChain, s"g$i (${p.note}): $logFiles log files")
      // the fold keeps every pair the log held
      assert(before.subsetOf(pairs), s"g$i dropped index pairs")
      (logFiles, p.note.contains("materialized"))
    }
    assert(seen.exists(_._1 == maxChain) && seen.exists(_._2) &&
      seen.filter(_._2).forall(_._1 == 0), s"(log files, materialized): $seen")
    // files 0..3, then one per publish
    assert(GraphTables.read(spark, a.table).select("subj", "pred", "obj", "docId")
      .collect().toSet == Pipeline.stagesFor(Extract.corpus(spark, 4 + seen.size),
        minedCanon = true).triples.select("subj", "pred", "obj", "docId")
      .collect().toSet)
  }

  test("a failed publish-tail lane commits nothing, after every lane ends") {
    import graft.sources.GraphTables
    val lanes = Seq("index", "data", "state")
    val a = new Accumulation("stream-lanefault")
    a.land(Extract.corpus(spark, 4))
    assert(!a.pub("o0").incremental)
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    /** Publish with `lane` failing once its writes are done, while the
      * other lanes finish late; then assert the failure left nothing
      * committed, and that a retry equals the batch pipeline. */
    def faulted(lane: String, table: String, state: String, id: String,
        nFiles: Int, incremental: Boolean): Unit = {
      val prior = GraphTables.latestSnapshot(spark, table)
      val done = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      StreamingPipeline.onLaneDone = l =>
        if (l == lane) throw new IllegalStateException(s"injected $l fault")
        else { Thread.sleep(300); done.add(l); () }
      def pub() = StreamingPipeline.publishSnapshotDynamicIncremental(
        spark, a.ments, table, id, state)
      val e = try intercept[IllegalStateException](pub())
        finally StreamingPipeline.onLaneDone = _ => ()
      assert(e.getMessage == s"injected $lane fault", e.getMessage)
      assert(scala.jdk.CollectionConverters.CollectionHasAsScala(done).asScala
        .toSet == lanes.filterNot(_ == lane).toSet, s"$id/$lane: $done")
      assert(GraphTables.commitRecord(spark, table, id).isEmpty, s"$id/$lane")
      assert(GraphTables.latestSnapshot(spark, table) == prior, s"$id/$lane")
      assert(!new java.io.File(s"$state/snap=$id/meta.json").exists, s"$id/$lane")
      val p = pub()
      assert(p.incremental == incremental, s"$id/$lane: ${p.note}")
      val want = tset(Pipeline.stagesFor(Extract.corpus(spark, nFiles),
        minedCanon = true).triples)
      assert(tset(GraphTables.read(spark, table)) == want && p.rows == want.size,
        s"$id/$lane: the retried publish diverged from the batch pipeline")
    }
    lanes.zipWithIndex.foreach { case (lane, i) =>
      // full: a first publish into a fresh table and state
      faulted(lane, s"${a.tmp}/full-$lane/graph", s"${a.tmp}/full-$lane/state",
        s"f-$lane", 4 + i, incremental = false)
      // overlay: the next delta onto the main table
      a.landFile(4 + i)
      faulted(lane, a.table, a.state, s"o${i + 1}", 5 + i, incremental = true)
    }
  }

  test("full and materializing publishes read their new snapshot back once") {
    val a = new Accumulation("stream-readonce")
    a.land(Extract.corpus(spark, 6))
    def executionsReading(id: String)(publish: => Unit): Int =
      scanRootsDuring(publish).count(_.exists(_.endsWith(s"/data/snap=$id")))
    val full = executionsReading("r1") {
      assert(!a.pub("r1").incremental)
    }
    assert(full == 1, s"first (full) publish read its snapshot in $full executions")
    a.landFile(6)
    val mat = executionsReading("r2") {
      val p = a.pub("r2", maxChain = 0)
      assert(p.note.contains("materialized"), p.note)
    }
    assert(mat == 1, s"materializing publish read its snapshot in $mat executions")
  }

  /** The snapshot-metadata records `f` opens, by path. */
  private def recordReadsDuring(f: => Unit): Seq[String] = {
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    graft.sources.SnapshotMeta.onRecordRead = p => { reads.add(p); () }
    try f finally graft.sources.SnapshotMeta.onRecordRead = _ => ()
    scala.jdk.CollectionConverters.CollectionHasAsScala(reads).asScala.toSeq
  }

  test("a publish reads each canon-state meta of the prior chain once") {
    val a = new Accumulation("stream-metaonce")
    a.land(Extract.corpus(spark, 4))
    assert(!a.pub("m1").incremental)
    def metasRead(publish: => Unit): Map[String, Int] =
      recordReadsDuring(publish).filter(_.endsWith("/meta.json"))
        .groupBy(p => p.split("/").dropRight(1).last).map { case (d, ps) => d -> ps.size }
    a.landFile(4)
    val flat = metasRead(assert(a.pub("m2").note.contains("overlay")))
    assert(flat == Map("snap=m1" -> 1), s"flat prior state: $flat")
    a.landFile(5)
    val chained = metasRead(assert(a.pub("m3").note.contains("overlay")))
    assert(chained == Map("snap=m2" -> 1, "snap=m1" -> 1),
      s"two-link prior state chain: $chained")
  }

  test("an overlay publish runs tens of Spark jobs, an empty delta fewer") {
    val a = new Accumulation("stream-jobs")
    a.land(Extract.corpus(spark, 6))
    assert(!a.pub("j1").incremental)
    a.landFile(6); a.landFile(7)
    // depth 1, adds only: the refcount/CC/changed-set algebra runs on
    // the driver, so its jobs are the collects of delta-sized frames,
    // the re-emit and the writes
    val overlay = jobsDuring {
      val p = a.pub("j2")
      assert(p.incremental && p.note.contains("overlay"), p.note)
    }
    val empty = jobsDuring {
      assert(a.pub("j3").note.contains("empty delta"))
    }
    assert(overlay <= OverlayJobs, s"depth-1 overlay publish ran $overlay jobs")
    assert(empty <= EmptyDeltaJobs, s"empty-delta publish ran $empty jobs")
  }

  test("reading a depth-1 overlay runs no Spark job outside its scan") {
    import graft.sources.GraphTables
    val a = new Accumulation("stream-readjobs")
    a.land(Extract.corpus(spark, 4))
    assert(!a.pub("o0").incremental)
    a.landFile(4)
    assert(a.pub("o1").note.contains("overlay"))
    assert(GraphTables.chainDepth(spark, a.table, "o1") == 1)
    var n = -1L
    val jobs = jobsDuring {
      n = GraphTables.readSnapshot(spark, a.table, "o1").count()
    }
    assert(GraphTables.commitRecord(spark, a.table, "o1").map(_._1).contains(n))
    // the count query's own jobs only (7 while the chain pointer, the
    // commit log and the data schemas were read as parquet)
    assert(jobs <= OverlayReadJobs, s"depth-1 overlay read ran $jobs jobs")
  }

  test("a table, state or accumulation in a removed layout is refused, or read as no state") {
    import graft.sources.{GraphTables, SnapshotMeta}
    import org.apache.commons.io.FileUtils
    import spark.implicits._
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val a = new Accumulation("stream-removed-layout")
    a.land(Extract.corpus(spark, 6))
    assert(!a.pub("l1").incremental)
    a.landFile(6)
    assert(a.pub("l2").note.contains("overlay"))
    /** A copy of the table and state, its metadata rewritten in the
      * parquet layout: with `table`, manifest rows and `_graft_base`
      * base/depth rows next to the removed docs; with `state`, a parquet
      * state `meta`. */
    def parquetLayout(name: String, table: Boolean, state: Boolean): (String, String) = {
      val t = s"${a.tmp}/$name/graph"; val st = s"${a.tmp}/$name/state"
      FileUtils.copyDirectory(new java.io.File(a.table), new java.io.File(t))
      FileUtils.copyDirectory(new java.io.File(a.state), new java.io.File(st))
      def take(f: java.io.File) = {
        val n = json.readTree(f)
        f.delete(); new java.io.File(f.getParent, s".${f.getName}.crc").delete()
        n
      }
      if (table) {
        val commits = new java.io.File(s"$t/_commits")
        commits.listFiles().filter(_.getName.endsWith(".json")).toSeq.map(take)
          .map(n => (n.get("rowCount").asLong, n.get("contentHash").asText,
            n.get("snapshotId").asText, n.get("committedAt").asLong))
          .toDF("rowCount", "contentHash", "snapshotId", "committedAt")
          .write.parquet(s"$t/manifest")
        FileUtils.deleteDirectory(commits)
        new java.io.File(s"$t/data").listFiles().foreach { d =>
          val ptr = new java.io.File(d, "_graft_chain.json")
          if (ptr.exists) {
            val n = take(ptr)
            Seq(("base", n.get("base").asText), ("depth", n.get("depth").asInt.toString))
              .toDF("kind", "value").write.mode("append").parquet(s"$d/_graft_base")
          }
        }
      }
      if (state) new java.io.File(st).listFiles()
        .filter(_.getName.startsWith("snap=")).foreach { d =>
          val n = take(new java.io.File(d, "meta.json"))
          val b = n.get("baseState")
          Seq((n.get("lastBatchId").asLong, if (b.isNull) null else b.asText))
            .toDF("lastBatchId", "baseState").write.parquet(s"$d/meta")
        }
      (t, st)
    }
    def refused(f: => Any): String = intercept[IllegalStateException](f).getMessage
    // a parquet manifest with no log: read as "nothing committed", a
    // publish would go full and the sweeps would delete every snap dir
    val (t0, s0) = parquetLayout("table", table = true, state = false)
    assert(refused(GraphTables.latestSnapshot(spark, t0)).contains("parquet manifest"))
    assert(refused(StreamingPipeline.publishSnapshotDynamicIncremental(
      spark, a.ments, t0, "l3", s0)).contains("parquet manifest"))
    assert(refused(GraphTables.expireSnapshots(spark, t0, keepLast = 1,
      orphanSafetyMs = 0L)).contains("parquet manifest"))
    assert(refused(SnapshotMeta.commit(spark, t0, "l3", 0L, "0"))
      .contains("parquet manifest"))
    assert(new java.io.File(s"$t0/data").list().toSet == Set("snap=l1", "snap=l2") &&
      !new java.io.File(s"$t0/_commits").exists)
    // a sidecar with no chain pointer: read as a full snapshot, the
    // overlay would be its delta rows alone
    assert(refused(GraphTables.chainDepth(spark, t0, "l2")).contains("chain pointer"))
    assert(refused(GraphTables.readSnapshot(spark, t0, "l2")).contains("chain pointer"))
    assert(GraphTables.chainDepth(spark, t0, "l1") == 0)
    // a parquet state meta reads as no state: the next publish takes the
    // full path, which is exact
    val (t1, s1) = parquetLayout("state", table = false, state = true)
    a.landFile(7)
    val p3 = StreamingPipeline.publishSnapshotDynamicIncremental(
      spark, a.ments, t1, "l3", s1)
    assert(!p3.incremental && p3.note.contains("no complete canon state chain"),
      p3.note)
    val fresh = a.pub("l3")
    assert(fresh.incremental && (p3.rows, p3.hash) == ((fresh.rows, fresh.hash)))
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    assert(tset(GraphTables.read(spark, t1)) == tset(Pipeline.stagesFor(
      Extract.corpus(spark, 8), minedCanon = true).triples))
    // mention data with no roster data: its docs would silently drop out
    val m2 = s"${a.tmp}/noroster/ments"
    FileUtils.copyDirectory(new java.io.File(a.ments), new java.io.File(m2))
    assert(!new java.io.File(StreamingPipeline.rosterPath(m2)).exists)
    Seq(
      () => StreamingPipeline.publishSnapshotDynamic(spark, m2,
        s"${a.tmp}/noroster/full", "n1"),
      () => StreamingPipeline.publishSnapshotDynamicIncremental(spark, m2,
        s"${a.tmp}/noroster/graph", "n1", s"${a.tmp}/noroster/state"),
      () => StreamingPipeline.compactAccumulation(spark, m2)
    ).foreach(f => assert(refused(f()).contains("no doc roster")))
    assert(GraphTables.latestSnapshot(spark, s"${a.tmp}/noroster/graph").isEmpty)
  }

  test("the affected-docs lookup reads the entity-index log; a log-less index agrees") {
    import graft.sources.GraphTables
    import org.apache.commons.io.FileUtils
    import spark.implicits._
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    def doc(path: String, lines: String*) = {
      val c = lines.mkString("\n")
      graft.core.SourceFileHashed("logrepo", path, "c0", "scala", c,
        graft.core.CorpusGen.sha256Hex(c))
    }
    val a = new Accumulation("stream-entidx-log")
    a.land(Extract.corpus(spark, 6))
    assert(!a.pub("x1").incremental) // rebuilds the index buckets
    // A's snake form lands after the rebuild: its (entity, doc) pair
    // reaches the index through the append log alone
    a.land(Seq(doc("A.scala", "def runLogA(a: Row): Txn = {",
      "y = sigma_log_tt(x)")).toDS())
    assert(a.pub("x2").note.contains("overlay"))
    val docA = col("docId") === "logrepo/A.scala"
    assert(spark.read.schema("entity STRING, docId STRING, ebucket INT")
      .parquet(s"${a.state}/entidx").filter(docA).isEmpty)
    assert(!StreamingPipeline.readEntIdx(spark, a.state).filter(docA).isEmpty)
    // a copy whose index is in the log-less layout: the log's rows
    // appended into the buckets
    val t1 = s"${a.tmp}/logless/graph"; val s1 = s"${a.tmp}/logless/state"
    FileUtils.copyDirectory(new java.io.File(a.table), new java.io.File(t1))
    FileUtils.copyDirectory(new java.io.File(a.state), new java.io.File(s1))
    GraphTables.writePartitioned(spark.read.parquet(s"$s1/entidx/_log"),
      s"$s1/entidx", Seq("ebucket"), org.apache.spark.sql.SaveMode.Append)
    FileUtils.deleteDirectory(new java.io.File(s"$s1/entidx/_log"))
    // B's camel twin relabels A's entity: A, outside the delta, must be
    // re-emitted, which only the log tells the lookup
    a.land(Seq(doc("B.scala", "def runLogB(a: Row): Txn = {",
      "val sigmaLogTt = 1")).toDS())
    val logless = StreamingPipeline.publishSnapshotDynamicIncremental(
      spark, a.ments, t1, "x3", s1)
    val p3 = a.pub("x3")
    assert(p3.incremental && p3.note.contains("overlay"), p3.note)
    val got = tset(GraphTables.read(spark, a.table))
    assert(got.exists(r => r.contains("sigmaLogTt") && r.contains("logrepo/A.scala")),
      "the relabeled doc A was not re-emitted")
    StreamingPipeline.publishSnapshotDynamic(spark, a.ments,
      s"${a.tmp}/full", "full-3")
    val full = tset(GraphTables.read(spark, s"${a.tmp}/full"))
    assert(got == full, s"+${(got -- full).take(3)} -${(full -- got).take(3)}")
    assert(logless == p3)
    assert(tset(GraphTables.read(spark, t1)) == got)
  }

  test("canon-state doc fingerprints equal the committed data (full, materialized, empty delta)") {
    import graft.sources.{ContentHash, GraphTables}
    val a = new Accumulation("stream-statefp")
    a.land(Extract.corpus(spark, 6))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("docId", "nTriples", "h64").collect().map(_.toSeq).toSet
    def stateMatchesData(id: String): Unit = {
      assert(GraphTables.baseOf(spark, a.table, id).isEmpty)
      val docs = spark.read.parquet(s"${a.state}/snap=$id/docs")
      val data = rows(ContentHash.perDoc(
        GraphTables.readOwnData(spark, a.table, id)))
      assert(data.nonEmpty && rows(docs.filter(col("nTriples") > 0)) == data,
        s"$id: state docs drifted from the committed data")
      assert(docs.filter(col("nTriples") === 0 && col("h64") =!= 0).isEmpty)
    }
    assert(!a.pub("f1").incremental)
    stateMatchesData("f1")
    a.landFile(6)
    val p2 = a.pub("f2", maxChain = 0)
    assert(p2.note.contains("materialized"), p2.note)
    stateMatchesData("f2")
    val p3 = a.pub("f3", maxChain = 0)
    assert(p3.note.contains("empty delta"), p3.note)
    stateMatchesData("f3")
  }

  test("publish of an all-zero-mention accumulation is a legitimate empty snapshot") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("stream-empty").toString
    val ments = s"$tmp/ments"
    // the exact on-disk shape a stream of zero-yield batches leaves:
    // parquet commit of an empty frame -> dir with _SUCCESS only
    val linked = graft.link.Linker.link(
      Extract.mentionsFused(Extract.corpus(spark, 2))).toDF()
    linked.filter(lit(false)).withColumn("batchId", lit(0L))
      .write.mode("overwrite").partitionBy("batchId").parquet(ments)
    val (nDyn, _) = StreamingPipeline.publishSnapshotDynamic(spark, ments,
      s"$tmp/graphDyn", "empty-dyn")
    assert(nDyn == 0L)
    val readBack = graft.sources.GraphTables.read(spark, s"$tmp/graphDyn")
    assert(readBack.count() == 0 &&
      readBack.schema == graft.sources.GraphTables.TableSchema)
    // the state-keeping publish: the same empty snapshot, whose state
    // carries the next publish as an empty delta
    val p1 = StreamingPipeline.publishSnapshotDynamicIncremental(spark, ments,
      s"$tmp/graphInc", "empty-inc", s"$tmp/state")
    assert(!p1.incremental && p1.rows == 0L &&
      graft.sources.GraphTables.read(spark, s"$tmp/graphInc").count() == 0)
    val p2 = StreamingPipeline.publishSnapshotDynamicIncremental(spark, ments,
      s"$tmp/graphInc", "empty-inc2", s"$tmp/state")
    assert(p2.incremental && p2.note.contains("empty delta") && p2.rows == 0L,
      p2.note)
    // a MISSING accumulation dir is a caller bug (typo'd path / stream
    // never ran), not a legitimate empty publish — both paths fail loudly
    intercept[IllegalArgumentException] {
      StreamingPipeline.publishSnapshotDynamic(spark, s"$tmp/nope",
        s"$tmp/graphX", "x")
    }
    intercept[IllegalArgumentException] {
      StreamingPipeline.publishSnapshotDynamicIncremental(spark, s"$tmp/nope2",
        s"$tmp/graphY", "y", s"$tmp/stateY")
    }
  }

  test("a retried micro-batch commit is idempotent (no duplicate triples)") {
    val tmp = Files.createTempDirectory("stream-retry").toString
    val ments = s"$tmp/ments"; val roster = StreamingPipeline.rosterPath(ments)
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toSeq).toSeq
    def commit(nFiles: Long, batchId: Long): Unit =
      StreamingPipeline.commitBatch(Extract.corpus(spark, nFiles), batchId,
        ments, None)
    commit(3, 0L)
    val (m1, r1) = (rows(ments), rows(roster))
    assert(m1.nonEmpty && r1.size == 3)
    // simulate the at-least-once retry: same batchId commits again
    commit(3, 0L)
    assert(rows(ments).sortBy(_.toString) == m1.sortBy(_.toString) &&
      rows(roster).sortBy(_.toString) == r1.sortBy(_.toString),
      "a retried batch duplicated its rows")
    // a NEW batch adds its own partition without touching batch 0
    commit(4, 1L)
    assert(new java.io.File(ments).list().count(_.startsWith("batchId=")) == 2)
    assert(spark.read.parquet(ments).filter(col("batchId") === 0L).count() == m1.size)
    assert(spark.read.parquet(roster).filter(col("batchId") === 1L).count() == 4 &&
      rows(roster).size == 7)
  }

  test("streaming fingerprint dedup == batch exact-dedup group count") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("stream-dd").toString
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val rows = (0 until 60).map { i =>
      // 20 distinct texts, each appearing 3x (case/punct variants that
      // normalize to the same fingerprint)
      val v = i % 3 match {
        case 0 => s"doc number ${i % 20} body"
        case 1 => s"DOC NUMBER ${i % 20} BODY"
        case _ => s"doc-number ${i % 20} body!"
      }
      (new java.sql.Timestamp(base.getTime + i * 1000L), i.toLong, v)
    }
    rows.toDF("ts", "doc_id", "text").write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val q = StreamingPipeline.dedupStream(
      spark.readStream.schema(schema).parquet(tmp)).writeStream
      .outputMode("append").format("memory").queryName("dd")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("dd")
    assert(out.count() == 20, s"got ${out.count()}")
    assert(out.select("fingerprint").distinct().count() == 20)
    val batchGroups = graft.ops.DedupOps
      .exactGroups(spark.read.parquet(tmp), "doc_id", "text").count()
    assert(out.count() == batchGroups)
  }

  test("watermarked stream-stream range join == batch join") {
    val tmp = Files.createTempDirectory("stream-ssj").toString
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .limit(2000)
    ev.write.mode("overwrite").parquet(tmp)
    def stream = spark.readStream.schema(ev.schema).parquet(tmp)
    val q = StreamingPipeline.streamStreamJoin(stream, stream).writeStream
      .outputMode("append").format("memory").queryName("ssj")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj").collect().map(_.toSeq).toSet
    val want = StreamingPipeline.streamStreamJoin(ev, ev)
      .collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty)
  }

  test("range-join pairs are id-order-insensitive (earlier event, larger id)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2026-01-01 00:00:00"), 9L), // earlier but LARGER id
      (1L, ts("2026-01-01 00:01:00"), 2L),
      (1L, ts("2026-01-01 00:01:00"), 3L), // ts tie -> id order
      (2L, ts("2026-01-01 00:00:00"), 1L),
      (2L, ts("2026-01-01 00:30:00"), 4L)) // out of range
      .toDF("user_id", "ts", "event_id")
    val got = StreamingPipeline.streamStreamJoin(ev, ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 9L, 2L), (1L, 9L, 3L), (1L, 2L, 3L)), s"$got")
  }

  test("gap sessionization with flatMapGroupsWithState") {
    import spark.implicits._
    def ts(m: Long) = new java.sql.Timestamp(m * 60000)
    val evs = Seq(
      StreamingPipeline.Ev(1, ts(0), "a"),
      StreamingPipeline.Ev(1, ts(1), "b"),
      StreamingPipeline.Ev(1, ts(30), "c"), // gap > 10min -> new session
      StreamingPipeline.Ev(2, ts(5), "a")).toDS()
    val sessions = StreamingPipeline.sessionize(evs, gapMs = 10 * 60000)
      .collect()
    // only CLOSED sessions are emitted (the open tail stays in state)
    assert(sessions.toSet == Set(
      StreamingPipeline.Session(1, 0, 60000, 2)))
  }

  test("late in-gap cross-batch event cannot move a session's end backward") {
    // two runs over one checkpoint = real cross-batch state restore
    // (an always-on MemoryStream query with ProcessingTimeTimeout runs
    // continuous timeout batches and processAllAvailable never sees
    // quiescence — the parquet + AvailableNow pattern used suite-wide
    // avoids that)
    import spark.implicits._
    val dir = Files.createTempDirectory("sess-late").toString
    val src = s"$dir/src"; val ckpt = s"$dir/ckpt"
    // offset every event away from epoch 0: the initial watermark is 0
    // and the stateful operator's late filter drops rows AT the
    // watermark (ts <= wm), so a t=0 event would silently vanish
    def ts(m: Long) = new java.sql.Timestamp((100 + m) * 60000)
    val schema = Seq.empty[StreamingPipeline.Ev].toDS().schema
    // Spark 4.1's async checkpoint-file checksum writer deadlocks this
    // flatMapGroupsWithState query in local mode (executor tasks park
    // forever in ChecksumCancellableFSDataOutputStream.close awaiting
    // the checksum future); the feature is a corruption detector, not
    // semantics — disable it for this test only
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "false")
    // foreachBatch, not the memory sink: only the former supports
    // resuming from a checkpoint, which is the whole point here
    def run(): Set[StreamingPipeline.Session] = {
      val buf = scala.collection.mutable.Set[StreamingPipeline.Session]()
      val stream = spark.readStream.schema(schema).parquet(src)
        .as[StreamingPipeline.Ev]
      val q = StreamingPipeline.sessionize(stream, gapMs = 10 * 60000)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[StreamingPipeline.Session],
              _: Long) => buf ++= b.collect(); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      buf.toSet
    }
    try {
      Seq(StreamingPipeline.Ev(1, ts(0), "a"),
        StreamingPipeline.Ev(1, ts(10), "b"))
        .toDS().write.mode("append").parquet(src)
      assert(run().isEmpty) // one open session, none closed
      // batch 2: t=8m is LATE but within the gap of last=10m -> merges
      // without shrinking the session; t=40m splits (40-10 > gap)
      Seq(StreamingPipeline.Ev(1, ts(8), "late"),
        StreamingPipeline.Ev(1, ts(40), "c"))
        .toDS().write.mode("append").parquet(src)
      val got = run()
      // pre-fix the late event dragged `last` back to minute 108 and
      // the emitted session shrank
      assert(got == Set(StreamingPipeline.Session(1,
        ts(0).getTime, ts(10).getTime, 3)), s"$got")
    } finally spark.conf
      .unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
  }
}

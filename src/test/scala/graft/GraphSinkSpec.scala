package graft

/** The spark-submit entry point end-to-end (master comes from the
  * session already running in tests, exactly as spark-submit would
  * provide it): corpus parquet -> resumable pipeline -> graph tables. */
class MainSpec extends SparkSpec {
  test("graft.Main runs corpus -> resumable triples -> graph tables") {
    val tmp = java.nio.file.Files.createTempDirectory("main").toString
    graft.extract.Extract.corpus(spark, 80)
      .write.mode("overwrite").parquet(s"$tmp/corpus")
    Main.main(Array(s"$tmp/corpus", s"$tmp/work", "8", "snapA"))
    val triples = graft.sources.GraphTables.read(spark, s"$tmp/work/graph")
    val before = triples.count()
    assert(before > 0)
    // idempotent restart: nothing recomputes, output unchanged
    Main.main(Array(s"$tmp/corpus", s"$tmp/work", "8", "snapA"))
    assert(graft.sources.GraphTables.read(spark, s"$tmp/work/graph")
      .count() == before)
    assert(graft.sources.GraphTables.latestSnapshot(spark, s"$tmp/work/graph")
      .contains("snapA"))
  }
}

import graft.manifest.ResumablePipeline
import graft.sources.GraphTables
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Iceberg-layout graph sink + resumable end-to-end pipeline. */
class GraphSinkSpec extends SparkSpec {

  test("graph tables: partition pruning on pred, bucket co-location") {
    val tmp = Files.createTempDirectory("graph").toString
    val st = Pipeline.run(spark, 100)
    GraphTables.write(st.triples, tmp, "snap-1")
    val calls = GraphTables.read(spark, tmp).filter(col("pred") === "calls")
    // partition pruning: the pred filter must appear as a partition
    // filter, not a data filter
    calls.collect()
    val p = calls.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(pred"), p.take(1200))
    // round trip + snapshot manifest
    assert(GraphTables.read(spark, tmp).drop("bucket").count() ==
      st.triples.count())
    assert(GraphTables.latestSnapshot(spark, tmp).contains("snap-1"))
    // bucket column co-locates subjects
    val bad = GraphTables.read(spark, tmp)
      .filter(col("bucket") =!= GraphTables.bucketCol(col("subj"))).count()
    assert(bad == 0)
  }

  test("publish is snapshot-isolated: no stale partitions, old snapshot intact") {
    val tmp = Files.createTempDirectory("graphow").toString
    val st = Pipeline.run(spark, 100)
    GraphTables.write(st.triples, tmp, "snap-1")
    val imports1 = GraphTables.read(spark, tmp)
      .filter(col("pred") === "imports").count()
    assert(imports1 > 0)
    // leak the conf the way a buggy caller would, then publish a new
    // snapshot with a whole predicate missing
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      GraphTables.write(st.triples.filter(col("pred") =!= "imports"),
        tmp, "snap-2")
      val left = GraphTables.read(spark, tmp)
        .filter(col("pred") === "imports").count()
      assert(left == 0,
        s"stale imports partition leaked into the new snapshot: $left rows")
      // the PREVIOUS snapshot is untouched (time travel) — the publish
      // never destroys committed data before the new commit lands
      assert(GraphTables.readSnapshot(spark, tmp, "snap-1")
        .filter(col("pred") === "imports").count() == imports1)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("publishing an EMPTY triple set commits rowCount=0 and stays readable") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graphempty").toString
    val none = Seq.empty[(String, String, String, String, Double)]
      .toDF("subj", "pred", "obj", "docId", "score")
    // round-2 crash mode: 0-row partitioned write -> no data files ->
    // read-back schema inference failed inside write()
    val (n, h) = GraphTables.write(none, tmp, "snap-empty")
    assert(n == 0L && h.nonEmpty)
    assert(GraphTables.latestSnapshot(spark, tmp).contains("snap-empty"))
    assert(GraphTables.read(spark, tmp).count() == 0)
    // a later non-empty publish proceeds normally on the same table
    val st = Pipeline.run(spark, 20)
    val (n2, _) = GraphTables.write(st.triples, tmp, "snap-1")
    assert(n2 > 0 && GraphTables.read(spark, tmp).count() == n2)
  }

  test("entity point-lookup prunes to a single pred+bucket partition") {
    val tmp = Files.createTempDirectory("graphlk").toString
    val st = Pipeline.run(spark, 100)
    GraphTables.write(st.triples, tmp, "snap-1")
    val subj = st.triples.filter(col("pred") === "calls")
      .select("subj").head().getString(0)
    val edges = GraphTables.entityEdges(spark, tmp, "calls", subj)
    edges.collect()
    val p = edges.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(pred"), p.take(1200))
    assert(p.contains("(bucket"), "bucket must be a partition filter:\n" +
      p.take(1200))
    // pruned lookup == unpruned filter
    val want = GraphTables.read(spark, tmp)
      .filter(col("pred") === "calls" && col("subj") === subj).count()
    assert(edges.count() == want && want > 0)
  }

  test("expireSnapshots: orphans + superseded go, keepLast time travel intact") {
    val tmp = Files.createTempDirectory("graphgc").toString
    // a consumer polling a FRESH table (no manifest yet) gets the
    // contract's "not committed" failure, not a parquet PATH_NOT_FOUND
    intercept[IllegalStateException] {
      GraphTables.readSnapshot(spark, tmp, "snap-1")
    }
    val st = Pipeline.run(spark, 60)
    GraphTables.write(st.triples.filter(col("pred") === "calls"), tmp, "snap-1")
    GraphTables.write(st.triples, tmp, "snap-2")
    GraphTables.write(st.triples.filter(col("pred") =!= "imports"), tmp, "snap-3")
    val n2 = GraphTables.readSnapshot(spark, tmp, "snap-2").count()
    val n3 = GraphTables.readSnapshot(spark, tmp, "snap-3").count()
    // a crashed publish: data written, manifest append never happened
    val orphanDir = new java.io.File(s"$tmp/data/snap=crashed")
    st.triples.limit(5).write.parquet(orphanDir.toString)
    // age it past the orphan safety window
    assert(orphanDir.setLastModified(
      System.currentTimeMillis() - 7L * 3600 * 1000))
    // and a FRESH orphan (possibly an in-flight publish): must survive
    st.triples.limit(5).write.parquet(s"$tmp/data/snap=inflight")
    val removed = GraphTables.expireSnapshots(spark, tmp, keepLast = 2)
    assert(removed.toSet == Set("snap-1", "crashed"), s"removed $removed")
    assert(new java.io.File(s"$tmp/data/snap=inflight").exists)
    // latest + within-keepLast time travel intact
    assert(GraphTables.latestSnapshot(spark, tmp).contains("snap-3"))
    assert(GraphTables.read(spark, tmp).count() == n3)
    assert(GraphTables.readSnapshot(spark, tmp, "snap-2").count() == n2)
    // an EXPIRED committed snapshot fails loudly — never a silent
    // empty frame for data that existed (the round-3 ADVICE mode)
    intercept[IllegalStateException] {
      GraphTables.readSnapshot(spark, tmp, "snap-1")
    }
    // an id with no manifest row at all fails too
    intercept[IllegalStateException] {
      GraphTables.readSnapshot(spark, tmp, "no-such-snap")
    }
    // keepLast clamps to 1: the latest committed snapshot never goes
    val removed2 = GraphTables.expireSnapshots(spark, tmp, keepLast = 0)
    assert(removed2 == Seq("snap-2"))
    assert(GraphTables.read(spark, tmp).count() == n3)
  }

  test("pruneManifest: lineage window matches expireSnapshots, latest intact") {
    val tmp = Files.createTempDirectory("graphprune").toString
    // no manifest yet: a no-op, not a crash
    assert(GraphTables.pruneManifest(spark, tmp, 2).isEmpty)
    val st = Pipeline.run(spark, 40)
    GraphTables.write(st.triples.filter(col("pred") === "calls"), tmp, "pr-1")
    GraphTables.write(st.triples, tmp, "pr-2")
    GraphTables.write(st.triples.limit(10), tmp, "pr-3")
    GraphTables.write(st.triples.limit(3), tmp, "pr-4")
    val n3 = GraphTables.readSnapshot(spark, tmp, "pr-3").count()
    val n4 = GraphTables.readSnapshot(spark, tmp, "pr-4").count()
    // expire first, then prune the manifest to the SAME window — the
    // documented pairing (prune alone leaves readable-but-invisible
    // data dirs behind for the next GC's orphan sweep)
    GraphTables.expireSnapshots(spark, tmp, keepLast = 2)
    val pruned = GraphTables.pruneManifest(spark, tmp, 2)
    assert(pruned.toSet == Set("pr-1", "pr-2"), s"pruned $pruned")
    // the kept window resolves exactly as before
    assert(GraphTables.latestSnapshot(spark, tmp).contains("pr-4"))
    assert(GraphTables.read(spark, tmp).count() == n4)
    assert(GraphTables.readSnapshot(spark, tmp, "pr-3").count() == n3)
    // a pruned id (data expired, manifest row gone) now fails as
    // "not committed" — loudly, never an empty frame
    intercept[IllegalStateException] {
      GraphTables.readSnapshot(spark, tmp, "pr-1")
    }
    // nothing to prune on a second pass; publish-after-prune works
    assert(GraphTables.pruneManifest(spark, tmp, 2).isEmpty)
    GraphTables.write(st.triples.limit(1), tmp, "pr-5")
    assert(GraphTables.latestSnapshot(spark, tmp).contains("pr-5"))
    assert(GraphTables.read(spark, tmp).count() == 1L)
  }

  test("overlay snapshots: delta-only write, chain-resolved read, exact derived hash, chain-safe GC") {
    import spark.implicits._
    import graft.sources.ContentHash
    val tmp = Files.createTempDirectory("graphovl").toString
    val HashCols = Seq("subj", "pred", "obj", "docId")
    def rows(ts: (String, String, String)*) =
      ts.map { case (s, o, d) => (s, "calls", o, d, 1.0) }
        .toDF("subj", "pred", "obj", "docId", "score")
    def tset(id: String) = GraphTables.readSnapshot(spark, tmp, id)
      .select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    def manifestRow(id: String) = GraphTables.commitRecord(spark, tmp, id).get
    // the invariant every overlay must preserve: the manifest row
    // DERIVED by xor algebra equals a from-scratch fingerprint of the
    // chain-resolved content
    def assertExactManifest(id: String): Unit = {
      val want = ContentHash.hex(
        GraphTables.readSnapshot(spark, tmp, id), HashCols)
      assert(manifestRow(id) == want, s"derived manifest of $id drifted")
    }

    // full base A: d1 (2 rows), d2 (1), d3 (1)
    val base = rows(("a", "x", "d1"), ("a", "y", "d1"), ("b", "x", "d2"),
      ("c", "z", "d3"))
    val (nA, _) = GraphTables.write(base, tmp, "ov-A")
    assert(nA == 4)

    // overlay B: re-emit d2 with new content, add doc d4 — writes ONLY
    // those docs' rows; removal stats describe d2's base rows (what the
    // publish state supplies from per-doc fingerprints)
    val (remN, remH) = ContentHash.xorLong(
      base.filter(col("docId").isin("d2", "d4")), HashCols)
    val (nB, hB, _) = GraphTables.writeDelta(spark, tmp, "ov-B", Some("ov-A"),
      rows(("b", "w", "d2"), ("e", "q", "d4"), ("e", "r", "d4")),
      Seq("d2", "d4").toDF("docId"), remN, remH)
    assert(nB == 6)
    assert(GraphTables.baseOf(spark, tmp, "ov-B").contains("ov-A"))
    assert(GraphTables.chainDepth(spark, tmp, "ov-B") == 1)
    assert(GraphTables.readOwnData(spark, tmp, "ov-B").count() == 3,
      "an overlay must hold only the re-emitted docs' rows")
    assert(tset("ov-B") == rows(("a", "x", "d1"), ("a", "y", "d1"),
      ("b", "w", "d2"), ("c", "z", "d3"), ("e", "q", "d4"),
      ("e", "r", "d4")).select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet)
    assertExactManifest("ov-B")
    assert((nB, hB) == manifestRow("ov-B"))
    // the latest-resolving read sees the overlay transparently
    assert(GraphTables.read(spark, tmp).count() == nB)
    // entity point-lookup through a chain still answers exactly
    assert(GraphTables.entityEdges(spark, tmp, "calls", "e").count() == 2)

    // pointer overlay C (empty delta): zero rows written, identical row
    val (nC, hC, _) = GraphTables.writeDelta(spark, tmp, "ov-C", Some("ov-B"),
      base.limit(0), base.select(col("docId")).limit(0), 0L, 0L)
    assert((nC, hC) == ((nB, hB)))
    assert(GraphTables.readOwnData(spark, tmp, "ov-C").count() == 0)
    assert(GraphTables.chainDepth(spark, tmp, "ov-C") == 2)
    assert(tset("ov-C") == tset("ov-B"))

    // removal-only overlay D: d3's content now yields no triples
    val (r3n, r3h) = ContentHash.xorLong(
      base.filter(col("docId") === "d3"), HashCols)
    val (nD, _, _) = GraphTables.writeDelta(spark, tmp, "ov-D", Some("ov-C"),
      base.limit(0), Seq("d3").toDF("docId"), r3n, r3h)
    assert(nD == 5 && GraphTables.chainDepth(spark, tmp, "ov-D") == 3)
    assert(!tset("ov-D").exists(_.contains("d3")))
    assertExactManifest("ov-D")

    // chain-safe GC: keepLast=1 keeps D plus its WHOLE base chain
    assert(GraphTables.expireSnapshots(spark, tmp, keepLast = 1).isEmpty)
    assert(GraphTables.pruneManifest(spark, tmp, 1).isEmpty)
    assert(tset("ov-D").size == 5)

    // an overlay on an uncommitted base fails loudly
    intercept[IllegalStateException] {
      GraphTables.writeDelta(spark, tmp, "ov-X", Some("no-such-base"),
        base.limit(0), base.select(col("docId")).limit(0), 0L, 0L)
    }

    // compaction flattens D in place: same content, same manifest row,
    // no more base — and the chain becomes collectible
    val before = tset("ov-D"); val row = manifestRow("ov-D")
    assert(GraphTables.compactSnapshot(spark, tmp, "ov-D"))
    assert(GraphTables.baseOf(spark, tmp, "ov-D").isEmpty)
    assert(tset("ov-D") == before && manifestRow("ov-D") == row)
    assertExactManifest("ov-D")
    assert(!GraphTables.compactSnapshot(spark, tmp, "ov-D"),
      "compacting a full snapshot must be a no-op")
    assert(GraphTables.expireSnapshots(spark, tmp, keepLast = 1).toSet ==
      Set("ov-A", "ov-B", "ov-C"))
    assert(GraphTables.pruneManifest(spark, tmp, 1).toSet ==
      Set("ov-A", "ov-B", "ov-C"))
    assert(tset("ov-D").size == 5)
    assert(GraphTables.read(spark, tmp).count() == 5)
  }

  test("overlay publish retry is idempotent; impossible removal stats fail loudly") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graphovlretry").toString
    def rows(ts: (String, String, String)*) =
      ts.map { case (s, o, d) => (s, "calls", o, d, 1.0) }
        .toDF("subj", "pred", "obj", "docId", "score")
    GraphTables.write(rows(("a", "x", "d1"), ("b", "y", "d2")), tmp, "r-A")
    val (rN, rH) = graft.sources.ContentHash.xorLong(
      rows(("b", "y", "d2")), Seq("subj", "pred", "obj", "docId"))
    def pub() = GraphTables.writeDelta(spark, tmp, "r-B", Some("r-A"),
      rows(("b", "z", "d2")), Seq("d2").toDF("docId"), rN, rH) match {
      case (n, h, _) => (n, h)
    }
    val first = pub()
    // a crash-retry republish of the SAME overlay id replaces the
    // overlay wholesale and derives the identical manifest row
    val second = pub()
    assert(first == second)
    assert(GraphTables.readSnapshot(spark, tmp, "r-B").count() == 2)
    assert(graft.sources.ContentHash.hex(
      GraphTables.readSnapshot(spark, tmp, "r-B"),
      Seq("subj", "pred", "obj", "docId"))._2 == first._2)
    // removal stats that cannot describe the base (more rows removed
    // than it has) must fail the publish, not commit a negative count
    intercept[IllegalArgumentException] {
      GraphTables.writeDelta(spark, tmp, "r-X", Some("r-A"),
        rows(), Seq("d1").toDF("docId"), 999L, 0L)
    }
    // the failed publish left no manifest row
    assert(GraphTables.commitRecord(spark, tmp, "r-X").isEmpty)
  }

  test("maintainGraph: flatten + chain GC + state expiry + manifest prune, one pass") {
    import spark.implicits._
    import graft.sources.ContentHash
    val tmp = Files.createTempDirectory("graphmaint").toString
    val table = s"$tmp/graph"; val state = s"$tmp/state"
    def rows(ts: (String, String, String)*) =
      ts.map { case (s, o, d) => (s, "calls", o, d, 1.0) }
        .toDF("subj", "pred", "obj", "docId", "score")
    val base = rows(("a", "x", "d1"), ("b", "y", "d2"))
    GraphTables.write(base, table, "m-A")
    val (rN, rH) = ContentHash.xorLong(
      base.filter(col("docId") === "d2"), Seq("subj", "pred", "obj", "docId"))
    GraphTables.writeDelta(spark, table, "m-B", Some("m-A"),
      rows(("b", "z", "d2")), Seq("d2").toDF("docId"), rN, rH)
    GraphTables.writeDelta(spark, table, "m-C", Some("m-B"),
      rows(("c", "w", "d3")), Seq("d3").toDF("docId"), 0L, 0L)
    // per-snapshot state dirs as the publishes would leave them
    Seq("m-A", "m-B", "m-C").foreach { id =>
      graft.sources.SnapshotMeta.writeStateMeta(spark, s"$state/snap=$id", 0L, None)
    }
    val want = GraphTables.readSnapshot(spark, table, "m-C")
      .select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    // without flatten, chain-safe GC rightly keeps the whole chain
    val m0 = graft.streaming.StreamingPipeline
      .maintainGraph(spark, table, state, keepLast = 1)
    assert(!m0.flattened && m0.expiredSnapshots.isEmpty &&
      m0.prunedManifest.isEmpty)
    assert(m0.expiredState.toSet == Set("m-A", "m-B"),
      s"state ${m0.expiredState}")
    // flattening frees the chain: one pass leaves exactly the latest,
    // full, exact, and alone — in data, manifest, and state
    val m1 = graft.streaming.StreamingPipeline
      .maintainGraph(spark, table, state, keepLast = 1, flatten = true)
    assert(m1.flattened)
    assert(m1.expiredSnapshots.toSet == Set("m-A", "m-B"))
    assert(m1.prunedManifest.toSet == Set("m-A", "m-B"))
    assert(GraphTables.baseOf(spark, table, "m-C").isEmpty)
    assert(GraphTables.latestSnapshot(spark, table).contains("m-C"))
    assert(GraphTables.readSnapshot(spark, table, "m-C")
      .select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
      == want)
    assert(new java.io.File(s"$state/snap=m-C").exists)
  }

  test("resumable pipeline: restart computes only missing buckets") {
    val tmp = Files.createTempDirectory("respipe").toString
    val corpus = s"$tmp/corpus"; val out = s"$tmp/out"; val man = s"$tmp/man"
    graft.extract.Extract.corpus(spark, 200)
      .write.mode("overwrite").parquet(corpus)
    val n1 = ResumablePipeline.run(spark, corpus, out, man, nBuckets = 8)
    assert(n1 == 8)
    val full = ResumablePipeline.readTriples(spark, out)
      .orderBy("subj", "pred", "obj", "docId").collect()
    // wipe half the buckets (data + manifest rows). localCheckpoint,
    // not cache: an evicted cached partition would recompute from the
    // directory deleted below
    val manDf = spark.read.parquet(man).filter(col("bucket") < 4)
      .localCheckpoint()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(man))
    manDf.write.parquet(man)
    (4 until 8).foreach { b =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$out/bucket=$b"))
    }
    val n2 = ResumablePipeline.run(spark, corpus, out, man, nBuckets = 8)
    assert(n2 == 4, s"recomputed $n2")
    // the resumable write must use a per-write option, never leak a
    // session-wide dynamic-overwrite conf to later writers
    assert(spark.conf
      .get("spark.sql.sources.partitionOverwriteMode", "STATIC")
      .equalsIgnoreCase("static"))
    val resumed = ResumablePipeline.readTriples(spark, out)
      .orderBy("subj", "pred", "obj", "docId").collect()
    assert(resumed.sameElements(full))
    // equality with the non-resumable pipeline
    val direct = Pipeline.runFromTable(spark, corpus).triples
      .orderBy("subj", "pred", "obj", "docId").collect()
    assert(resumed.sameElements(direct))
    // fully committed -> no-op
    assert(ResumablePipeline.run(spark, corpus, out, man, nBuckets = 8) == 0)
  }

  // ---- one writer per partition dir -------------------------------

  /** Parquet part files under `dir`, grouped by the partition dir that
    * holds them; underscore dirs (the overlay sidecar) are skipped. */
  private def partFiles(dir: String): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !root.relativize(p).iterator().asScala.exists(_.toString.startsWith("_")))
      .toSeq.groupBy(p => root.relativize(p.getParent).toString)
      .map { case (d, ps) => d -> ps.map(_.getFileName.toString) }
    finally s.close()
  }

  /** Every pred=<p>/bucket=<b> dir holds exactly one part file, and the
    * files come from at least two writer tasks (the `part-NNNNN` split
    * index). */
  private def assertOneFilePerDir(dir: String): Unit = {
    val files = partFiles(dir)
    assert(files.nonEmpty && files.keys.forall(
      _.matches("pred=[^/]+/bucket=\\d+")), files.keys)
    val multi = files.filter(_._2.size != 1)
    assert(multi.isEmpty, s"dirs with more than one file: ${multi.take(3)}")
    val tasks = files.values.flatten.map(_.split("-")(1)).toSet
    assert(tasks.size >= 2, s"all dirs written by one task: $tasks")
  }

  /** A triple set over many subjects (hence many buckets), round-robin
    * spread over 4 input partitions so every (pred, bucket) has rows in
    * several of them. */
  private def spreadTriples(nDocs: Int, tag: String) = {
    import spark.implicits._
    val preds = Seq("calls", "imports", "defines")
    (0 until nDocs).flatMap { d =>
      (0 until 6).map(i =>
        (s"e${(d * 7 + i) % 97}", preds(i % 3), s"$tag-o$i", s"$tag-d$d", 1.0))
    }.toDF("subj", "pred", "obj", "docId", "score").repartition(4)
  }

  test("write: one parquet file per pred/bucket dir, spread over tasks") {
    val tmp = Files.createTempDirectory("graph1w").toString
    val t = spreadTriples(120, "w")
    assert(t.rdd.getNumPartitions == 4)
    val (n, h) = GraphTables.write(t, tmp, "s1")
    assertOneFilePerDir(s"$tmp/data/snap=s1")
    assert((n, h) == graft.sources.ContentHash.hex(t,
      graft.sources.ContentHash.TripleCols))
  }

  /** Parquet files directly in `dir`, and whether it has `pred=` dirs. */
  private def flatLayout(dir: String): (Seq[String], Boolean) = {
    val fs = new java.io.File(dir).listFiles().toSeq
    (fs.map(_.getName).filter(_.endsWith(".parquet")),
      fs.exists(f => f.isDirectory && f.getName.startsWith("pred=")))
  }

  test("writeDelta: an overlay is flat; compactSnapshot: one file per pred/bucket dir") {
    import graft.sources.ContentHash
    val tmp = Files.createTempDirectory("graph1d").toString
    val base = spreadTriples(120, "b")
    val added = spreadTriples(120, "a")
    GraphTables.write(base, tmp, "d-A")
    // docs new to the base: nothing removed
    val (n, h, own) = GraphTables.writeDelta(spark, tmp, "d-B", Some("d-A"),
      added, added.select(col("docId")).distinct(), 0L, 0L)
    // an overlay is flat: no partition dir, no more files than the
    // input has partitions (the corpus-grain layout wrote one per
    // pred/bucket dir, 48 here)
    val (files, partitioned) = flatLayout(s"$tmp/data/snap=d-B")
    assert(!partitioned && files.nonEmpty &&
      files.size <= added.rdd.getNumPartitions, files)
    val all = base.unionByName(added)
    assert((n, h) == ContentHash.hex(all, ContentHash.TripleCols))
    // the returned per-doc stats describe exactly the rows written
    val (addN, addH) = ContentHash.xorLong(added, ContentHash.TripleCols)
    val s = own.agg(sum(col("nTriples")), expr("bit_xor(h64)")).head()
    assert(own.count() == 120 && s.getLong(0) == addN && s.getLong(1) == addH)
    // a delta found empty only as it runs leaves one 0-row file, which
    // adds (0 rows, zero hash) to its base's record
    val (nE, hE, ownE) = GraphTables.writeDelta(spark, tmp, "d-E", Some("d-B"),
      added.filter(col("docId") === "no-such-doc"),
      added.select(col("docId")).filter(col("docId") === "no-such-doc"), 0L, 0L)
    assert(flatLayout(s"$tmp/data/snap=d-E")._1.size == 1)
    assert((nE, hE) == ((n, h)) && ownE.isEmpty)
    // compaction rewrites base + overlay rows into one file per dir
    assert(GraphTables.compactSnapshot(spark, tmp, "d-B"))
    assertOneFilePerDir(s"$tmp/data/snap=d-B")
    assert(ContentHash.hex(GraphTables.readSnapshot(spark, tmp, "d-B"),
      ContentHash.TripleCols) == ((n, h)))
  }

  test("an overlay in the partitioned layout reads, bases a flat overlay, compacts") {
    import graft.sources.ContentHash
    import org.apache.commons.io.FileUtils
    import spark.implicits._
    val tmp = Files.createTempDirectory("graphlegacyov").toString
    val base = spreadTriples(120, "b")
    GraphTables.write(base, tmp, "p-A")
    // p-B re-emits 20 base docs with new content and adds 20 new ones
    val reDocs = (0 until 20).map(d => s"b-d$d")
    val (remN, remH) = ContentHash.xorLong(
      base.filter(col("docId").isin(reDocs: _*)), ContentHash.TripleCols)
    val addedB = spreadTriples(40, "b").filter(col("docId").isin(reDocs: _*))
      .withColumn("obj", concat(col("obj"), lit("'")))
      .unionByName(spreadTriples(20, "n"))
    val (nB, hB, _) = GraphTables.writeDelta(spark, tmp, "p-B", Some("p-A"),
      addedB, reDocs.toDF("docId"), remN, remH)
    val want = GraphTables.readSnapshot(spark, tmp, "p-B").collect().toSet
    // rewrite p-B's data in the partitioned overlay layout, its sidecar
    // and chain pointer kept
    val dir = s"$tmp/data/snap=p-B"; val part = s"$tmp/p-B-partitioned"
    GraphTables.writePartitioned(GraphTables.readOwnData(spark, tmp, "p-B"),
      part, Seq("pred", "bucket"), org.apache.spark.sql.SaveMode.Overwrite)
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") || f.getName.endsWith(".parquet.crc"))
      .foreach(f => assert(f.delete()))
    new java.io.File(part).listFiles().filter(_.getName.startsWith("pred="))
      .foreach(d => FileUtils.moveDirectoryToDirectory(d, new java.io.File(dir), false))
    assert(flatLayout(dir) match { case (fs, p) => fs.isEmpty && p })
    // it reads back with the same rows and hash
    assert(GraphTables.readSnapshot(spark, tmp, "p-B").collect().toSet == want)
    assert(ContentHash.hex(GraphTables.readSnapshot(spark, tmp, "p-B"),
      ContentHash.TripleCols) == ((nB, hB)))
    assert(GraphTables.readOwnData(spark, tmp, "p-B").count() == addedB.count())
    // a flat overlay on it derives the from-scratch hash
    val addedC = spreadTriples(10, "c")
    val (nC, hC, _) = GraphTables.writeDelta(spark, tmp, "p-C", Some("p-B"),
      addedC, addedC.select(col("docId")).distinct(), 0L, 0L)
    assert(!flatLayout(s"$tmp/data/snap=p-C")._2)
    assert(GraphTables.chainDepth(spark, tmp, "p-C") == 2)
    assert(ContentHash.hex(GraphTables.readSnapshot(spark, tmp, "p-C"),
      ContentHash.TripleCols) == ((nC, hC)))
    // compaction flattens it to a full snapshot of the same content
    assert(GraphTables.compactSnapshot(spark, tmp, "p-B"))
    assert(GraphTables.baseOf(spark, tmp, "p-B").isEmpty)
    assertOneFilePerDir(dir)
    assert(GraphTables.readSnapshot(spark, tmp, "p-B").collect().toSet == want)
    assert(ContentHash.hex(GraphTables.readSnapshot(spark, tmp, "p-C"),
      ContentHash.TripleCols) == ((nC, hC)))
  }

  test("writeDelta with no base commits a full snapshot from its one read-back") {
    import graft.sources.ContentHash
    val tmp = Files.createTempDirectory("graphfull").toString
    val t = spreadTriples(120, "f")
    val (n, h, own) = GraphTables.writeDelta(spark, tmp, "f-A", None, t,
      spark.emptyDataFrame, 0L, 0L)
    // the same (rows, hash) write commits for the same rows
    assert((n, h) == ContentHash.hex(t, ContentHash.TripleCols))
    assert((n, h) == GraphTables.write(t, s"$tmp/viaWrite", "w-A"))
    assert(GraphTables.commitRecord(spark, tmp, "f-A").contains((n, h)))
    // a full snapshot: no sidecar, depth 0, one file per dir
    assert(GraphTables.baseOf(spark, tmp, "f-A").isEmpty)
    assert(GraphTables.chainDepth(spark, tmp, "f-A") == 0)
    assertOneFilePerDir(s"$tmp/data/snap=f-A")
    // the per-doc stats describe exactly the rows written
    val s = own.agg(sum(col("nTriples")), expr("bit_xor(h64)")).head()
    assert(own.count() == 120 && s.getLong(0) == n &&
      "%016x".format(s.getLong(1)) == h)
    // an overlay can build on it
    val (nB, _, _) = GraphTables.writeDelta(spark, tmp, "f-B", Some("f-A"),
      spreadTriples(10, "g"), spark.emptyDataFrame.select(lit("").as("docId"))
        .limit(0), 0L, 0L)
    assert(nB == n + 60 && GraphTables.read(spark, tmp).count() == nB)
    // an empty full publish commits (0, zero hash) and reads back empty
    val (n0, h0, own0) = GraphTables.writeDelta(spark, tmp, "f-0", None,
      t.limit(0), spark.emptyDataFrame, 0L, 0L)
    assert((n0, h0) == ((0L, "%016x".format(0L))) && own0.isEmpty)
    assert(GraphTables.readSnapshot(spark, tmp, "f-0").isEmpty)
  }

  test("entity-index append: no ebucket= file, at most defaultParallelism log files") {
    val tmp = Files.createTempDirectory("entidx1w").toString
    // big enough that AQE keeps several tasks after the distinct
    val linked = spark.range(0, 200000, 1, 4)
      .select(concat(lit("ent-"), xxhash64(col("id") % 5000)).as("entity"),
        concat(lit("doc-"), xxhash64(col("id"))).as("docId"))
    def logFiles() = Option(new java.io.File(s"$tmp/entidx/_log").listFiles())
      .fold(0)(_.count(_.getName.endsWith(".parquet")))
    val slots = spark.sparkContext.defaultParallelism
    graft.streaming.StreamingPipeline.appendEntIdx(spark, tmp, linked)
    val first = logFiles()
    assert(first >= 1 && first <= slots, s"$first log files")
    graft.streaming.StreamingPipeline.appendEntIdx(spark, tmp, linked)
    assert(logFiles() - first <= slots, s"${logFiles() - first} log files")
    // the appends wrote no bucket dir: every file is in the log
    assert(partFiles(s"$tmp/entidx").isEmpty, partFiles(s"$tmp/entidx").keys)
    assert(graft.streaming.StreamingPipeline.readEntIdx(spark, tmp).count() ==
      2 * linked.distinct().count())
  }

  /** Every file and dir under `root` (root excluded) by its path with
    * run-specific parts blanked (task UUIDs, commit times) -> its full
    * POSIX mode, setuid/setgid/sticky bits included. */
  private def modes(root: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.filter(_ != r).map { p =>
      r.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "U")
        .replaceAll("[0-9]{20}-", "T-") ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap
    finally s.close()
  }

  /** Run `body` with the session's `file` scheme set to [[StockLocalFs]]
    * (uncached, so every FileSystem.get makes one), conf restored after. */
  private def withSessionFileFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[StockLocalFs].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Counts of [[graft.sources.Fs.onPermission]] calls while `body` runs:
    * (set in-process, fell back to the stock call). */
  private def permissionCounts(body: => Unit): (Int, Int) = {
    val in = new java.util.concurrent.atomic.AtomicInteger
    val out = new java.util.concurrent.atomic.AtomicInteger
    graft.sources.Fs.onPermission = b => (if (b) in else out).incrementAndGet()
    try body finally graft.sources.Fs.onPermission = _ => ()
    (in.get, out.get)
  }

  test("local writes set modes in-process, the modes the stock local FS sets") {
    import spark.implicits._
    import graft.streaming.StreamingPipeline
    val tmp = Files.createTempDirectory("graphmode").toString
    // one mention accumulation feeds both twins' state-keeping publish
    val src = s"$tmp/src"; val ments = s"$tmp/ments"
    graft.extract.Extract.corpus(spark, 4).write.parquet(src)
    val q = StreamingPipeline.triplesStream(
      spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        .as[graft.core.SourceFileHashed],
      s"$tmp/out", s"$tmp/man", s"$tmp/ckpt", mentionsPath = Some(ments))
    q.processAllAvailable(); q.stop()
    val base = spreadTriples(40, "b"); val added = spreadTriples(10, "a")
    // a snapshot, a flat overlay on it, and a state-keeping publish
    def writeAll(root: String): Unit = {
      GraphTables.write(base, s"$root/graph", "m-A")
      GraphTables.writeDelta(spark, s"$root/graph", "m-B", Some("m-A"), added,
        Seq.empty[String].toDF("docId"), 0L, 0L)
      assert(StreamingPipeline.publishSnapshotDynamicIncremental(spark, ments,
        s"$root/pub", "p-1", s"$root/state").rows > 0)
    }
    def twins(parent: String): (Int, Int) = {
      val counts = permissionCounts(writeAll(s"$parent/graft"))
      // the twin: the session's own local FS class, the stock code
      val stockCounts = permissionCounts(withSessionFileFs(writeAll(s"$parent/stock")))
      assert(stockCounts == ((0, 0)), "a session-configured FS must serve its writes")
      val (g, st) = (modes(s"$parent/graft"), modes(s"$parent/stock"))
      Seq(".parquet", ".crc", "_SUCCESS", ".json").foreach(k =>
        assert(g.keys.exists(_.endsWith(k)), s"no $k file written"))
      assert(g == st, s"graft ${(g.toSet -- st.toSet).take(5)} " +
        s"stock ${(st.toSet -- g.toSet).take(5)}")
      counts
    }
    val (in, out) = twins(s"$tmp/plain")
    assert(in > 0 && out == 0, s"in-process $in, stock fallbacks $out")
    // under a setgid dir every new dir inherits the bit, which GNU chmod
    // keeps: graft's FS falls back for dirs and keeps it the same way
    val sg = java.nio.file.Paths.get(s"$tmp/setgid")
    Files.createDirectory(sg)
    val setgid = Integer.parseInt("2000", 8)
    Files.setAttribute(sg, "unix:mode", Integer.valueOf(setgid | Integer.parseInt("755", 8)))
    val (sgIn, sgOut) = twins(sg.toString)
    assert(sgIn > 0 && sgOut > 0, s"in-process $sgIn, stock fallbacks $sgOut")
    val dirs = modes(sg.toString).filter { case (p, _) =>
      Files.isDirectory(sg.resolve(p)) }
    assert(dirs.nonEmpty && dirs.values.forall(m => (m & setgid) != 0),
      dirs.filter(m => (m._2 & setgid) == 0).take(5))
  }

  test("graft's local FS serves only file: paths of a stock-FS session") {
    val tmp = Files.createTempDirectory("graphscope").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val before = (conf.get("fs.file.impl"), conf.get("fs.file.impl.disable.cache"))
    val opts = graft.sources.Fs.writerOptions(spark, s"$tmp/t")
    assert(opts.get("fs.file.impl").contains(classOf[graft.sources.Fs.LocalFs].getName))
    assert(graft.sources.Fs.writerOptions(spark, s"file://$tmp/t").nonEmpty)
    // another scheme keeps its own FS: no options, no cluster needed
    assert(graft.sources.Fs.writerOptions(spark, "hdfs://nn/x").isEmpty)
    // a session that configured its own file class keeps it
    StockLocalFs.created.set(0)
    val (in, out) = permissionCounts(withSessionFileFs {
      assert(graft.sources.Fs.writerOptions(spark, s"$tmp/t").isEmpty)
      assert(graft.sources.Fs.fsOf(spark, new org.apache.hadoop.fs.Path(tmp))
        .isInstanceOf[StockLocalFs])
      GraphTables.write(spreadTriples(10, "s"), s"$tmp/t", "s-1")
    })
    assert(StockLocalFs.created.get > 0 && in == 0 && out == 0,
      s"${StockLocalFs.created.get} session FS instances, graft FS $in/$out")
    assert(GraphTables.read(spark, s"$tmp/t").count() == 60)
    assert((conf.get("fs.file.impl"), conf.get("fs.file.impl.disable.cache")) == before)
  }

  test("a commit record is created once: one winner among racing creators") {
    import org.apache.hadoop.fs.Path
    val tmp = Files.createTempDirectory("graphrace").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    /** Rounds (of `rounds`) in which more than one of 8 threads created
      * the same record through `fs`; asserts at least one winner each. */
    def race(fs: org.apache.hadoop.fs.FileSystem, dir: String, rounds: Int): Int =
      (0 until rounds).count { r =>
        val go = new java.util.concurrent.CountDownLatch(1)
        val c = graft.sources.SnapshotMeta.Commit(s"r$r", 1L, "00", 1L)
        val tries = (0 until 8).map(_ => pool.submit(
          new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              go.await()
              graft.sources.SnapshotMeta.create(fs, new Path(dir), c)
            }
          }))
        go.countDown()
        val wins = tries.count(_.get())
        assert(wins >= 1, s"round $r: no winner")
        wins > 1
      }
    try {
      val graftFs = graft.sources.Fs.fsOf(spark, new Path(tmp))
      assert(graftFs.isInstanceOf[graft.sources.Fs.LocalFs])
      assert(race(graftFs, s"$tmp/graft", 200) == 0)
      val stock = race(new Path(tmp).getFileSystem(
        spark.sparkContext.hadoopConfiguration), s"$tmp/stock", 200)
      info(s"session (stock) local FS: more than one winner in $stock of 200 rounds")
    } finally pool.shutdown()
  }
}

/** A session-configured `file` FileSystem: the stock LocalFileSystem
  * under another class name, counting its instances. */
class StockLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  StockLocalFs.created.incrementAndGet()
}
object StockLocalFs {
  val created = new java.util.concurrent.atomic.AtomicInteger
}

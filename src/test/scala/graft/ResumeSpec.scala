package graft

import graft.manifest.ResumableStage
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Partition-granular resumability (SURVEY §5 resumability test):
  * commit half the buckets, kill, rerun — only the missing half
  * recomputes; output equals a from-scratch run. */
class ResumeSpec extends SparkSpec {

  test("restart recomputes only uncommitted buckets") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("resume").toString
    val out = s"$tmp/out"; val man = s"$tmp/manifest"
    val nBuckets = 8
    def input = graft.extract.Extract.corpus(spark, 200).toDF()
      .withColumn("bucket",
        pmod(xxhash64(col("repo"), col("path")), lit(nBuckets)).cast("int"))

    // run 1: full
    val done1 = ResumableStage.run(spark, "extract", "snap1", input,
      nBuckets, out, man)
    assert(done1 == nBuckets)
    val full = spark.read.parquet(out).drop("bucket")
      .orderBy("repo", "path").collect()

    // simulate crash: wipe output+manifest rows for half the buckets
    val keep = (0 until nBuckets / 2).toSet
    // localCheckpoint, not cache: cache is best-effort, and an evicted
    // partition would recompute from the directory deleted below
    val manDf = spark.read.parquet(man)
      .filter(col("bucket").isin(keep.toSeq: _*)).localCheckpoint()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(man))
    manDf.write.parquet(man)
    // committed buckets' data stays on disk; wipe only the other half
    (nBuckets / 2 until nBuckets).foreach { b =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$out/bucket=$b"))
    }

    // run 2: must recompute exactly the missing half
    val done2 = ResumableStage.run(spark, "extract", "snap1", input,
      nBuckets, out, man)
    assert(done2 == nBuckets / 2, s"recomputed $done2 buckets")
    val resumed = spark.read.parquet(out).drop("bucket")
      .orderBy("repo", "path").collect()
    assert(resumed.sameElements(full))

    // run 3: fully committed -> no-op
    val done3 = ResumableStage.run(spark, "extract", "snap1", input,
      nBuckets, out, man)
    assert(done3 == 0)
  }

  test("the pending pipeline executes exactly once per resumable run") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("resume1x").toString
    val acc = spark.sparkContext.longAccumulator("computeRows")
    val nBuckets = 4
    val nFiles = 100L
    ResumableStage.runWith(spark, "extract", "snap1", nBuckets,
      s"$tmp/out", s"$tmp/manifest") { todo =>
      graft.extract.Extract.corpus(spark, nFiles)
        .map { f => acc.add(1); f }
        .toDF()
        .withColumn("bucket",
          pmod(xxhash64(col("repo"), col("path")), lit(nBuckets)).cast("int"))
        .filter(col("bucket").isin(todo: _*))
    }
    // per-bucket stats must come from the written parquet, not from a
    // second execution of the pending pipeline
    assert(acc.value == nFiles, s"pipeline ran ${acc.value / nFiles}x")
  }

  test("a bucket that empties in a new snapshot purges its stale dir") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("resume-stale").toString
    val out = s"$tmp/out"; val man = s"$tmp/manifest"
    val d1 = Seq((0, "a"), (1, "b")).toDF("bucket", "v")
    ResumableStage.runWith(spark, "s", "snap-0", 2, out, man)(
      todo => d1.filter(col("bucket").isin(todo: _*)))
    // snap-1: bucket 1 yields zero rows — its snap-0 files must NOT be
    // read back, fingerprinted, and committed as snap-1 data
    val d2 = Seq((0, "a2")).toDF("bucket", "v")
    ResumableStage.runWith(spark, "s", "snap-1", 2, out, man)(
      todo => d2.filter(col("bucket").isin(todo: _*)))
    assert(spark.read.parquet(out).filter(col("bucket") === 1).count() == 0,
      "stale snap-0 bucket dir survived")
    val m = spark.read.parquet(man)
      .filter(col("snapshotId") === "snap-1" && col("bucket") === 1)
      .collect()
    assert(m.length == 1 && m(0).getAs[Long]("rowCount") == 0L)
  }

  test("resuming with a different bucket count fails fast") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("resume-nb").toString
    val out = s"$tmp/out"; val man = s"$tmp/manifest"
    val d = Seq((0, "a"), (1, "b")).toDF("bucket", "v")
    ResumableStage.runWith(spark, "s", "snap-0", 2, out, man)(
      todo => d.filter(col("bucket").isin(todo: _*)))
    val ex = intercept[IllegalArgumentException] {
      ResumableStage.runWith(spark, "s", "snap-0", 4, out, man)(
        todo => d.filter(col("bucket").isin(todo: _*)))
    }
    assert(ex.getMessage.contains("\"buckets\":4"))
  }

  test("resuming under a different run-config fingerprint fails fast (F9)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("resume-cfg").toString
    val out = s"$tmp/out"; val man = s"$tmp/manifest"
    val d = Seq((0, "a"), (1, "b")).toDF("bucket", "v")
    // first run under weights fingerprint A commits bucket metadata
    val fpA = graft.kernel.Weights.default.fingerprint
    ResumableStage.runWith(spark, "s", "snap-0", 2, out, man, config = fpA)(
      todo => d.filter(col("bucket").isin(todo: _*)))
    // a resume under DIFFERENT weights (retrained model / rule change)
    // must refuse to splice its buckets into the same snapshot
    val ex = intercept[IllegalArgumentException] {
      ResumableStage.runWith(spark, "s", "snap-0", 2, out, man,
        config = "deadbeef00000000")(
        todo => d.filter(col("bucket").isin(todo: _*)))
    }
    assert(ex.getMessage.contains("deadbeef"))
    // same config resumes fine (fully committed -> no-op)
    assert(ResumableStage.runWith(spark, "s", "snap-0", 2, out, man,
      config = fpA)(todo => d.filter(col("bucket").isin(todo: _*))) == 0)
    // the fingerprint is stable across Weights instances
    assert(fpA == graft.kernel.Weights.default.fingerprint)
  }

  test("resume under the EMA bundle's fingerprint fails fast (K13 x F9)") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("resume-ema").toString
    val out = s"$tmp/out"; val man = s"$tmp/manifest"
    val d = Seq((0, "a"), (1, "b")).toDF("bucket", "v")
    val fpRaw = graft.kernel.Weights.default.fingerprint
    val fpEma = graft.kernel.Weights.emaDefault.fingerprint
    assert(fpRaw != fpEma)
    ResumableStage.runWith(spark, "s", "snap-0", 2, out, man,
      config = fpRaw)(todo => d.filter(col("bucket").isin(todo: _*)))
    // decode weights changed to the EMA set mid-snapshot: splicing
    // EMA-scored buckets next to raw-scored ones must be refused
    val ex = intercept[IllegalArgumentException] {
      ResumableStage.runWith(spark, "s", "snap-0", 2, out, man,
        config = fpEma)(todo => d.filter(col("bucket").isin(todo: _*)))
    }
    assert(ex.getMessage.contains(fpRaw))
    // a FRESH snapshot under the EMA bundle proceeds normally
    assert(ResumableStage.runWith(spark, "s", "snap-1", 2, out,
      man, config = fpEma)(
      todo => d.filter(col("bucket").isin(todo: _*))) == 2)
  }

  test("a fully-empty first run commits 0-row buckets without crashing") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("resume-empty").toString
    val out = s"$tmp/out"; val man = s"$tmp/manifest"
    val empty = Seq.empty[(Int, String)].toDF("bucket", "v")
    val n = ResumableStage.runWith(spark, "s", "snap-0", 2, out, man)(
      todo => empty.filter(col("bucket").isin(todo: _*)))
    assert(n == 2)
    val rows = spark.read.parquet(man).collect()
    assert(rows.length == 2 && rows.forall(_.getAs[Long]("rowCount") == 0L))
  }
}

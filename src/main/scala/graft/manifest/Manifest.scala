package graft.manifest

import graft.core.ManifestRow
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-granular resumability via a lineage/manifest table.
  *
  * Generalizes the reference's job-level idempotency gate — main.py
  * exits early if `metric_log` exists (/root/reference/main.py:44-46) —
  * to per-partition granularity, as the north-star requires: every
  * stage commits (stage, snapshotId, bucket, rowCount, sha256Agg,
  * metrics) rows; a restarted job anti-joins committed buckets and
  * recomputes only the missing ones.
  *
  * Commit protocol (exactly-once per bucket):
  *  1. output rows are written under `out/bucket=<b>/` (idempotent
  *     overwrite per partition dir via dynamic partition overwrite);
  *  2. the manifest row for bucket b is appended only after the bucket's
  *     data is fully written — a crash between (1) and (2) leaves an
  *     uncommitted bucket that is simply rewritten on restart.
  *
  * Scale notes: the manifest is tiny (one row per bucket per stage) —
  * reading it is a broadcast; the anti-join is a local filter on the
  * bucket column, which prunes input partitions before any work runs.
  */
object ResumableStage {

  /** Buckets already committed for (stage, snapshotId). */
  def committed(spark: SparkSession, manifestPath: String, stage: String,
      snapshotId: String): Set[Int] = {
    import spark.implicits._
    // Fs.exists (Hadoop probe, not java.io.File): a local-file probe on
    // HDFS/S3 always says "missing" — a restart would silently
    // recompute every bucket.
    if (!graft.sources.Fs.exists(spark, manifestPath)) Set.empty
    else spark.read.parquet(manifestPath)
      .filter($"stage" === stage && $"snapshotId" === snapshotId)
      .select($"bucket").distinct()
      .as[Int].collect().toSet
  }

  /** Run `stage` over `input` (which must already carry an integer
    * `bucket` column in [0, nBuckets)), writing data partitioned by
    * bucket and committing manifest rows per bucket. Returns the number
    * of buckets actually computed (0 on a fully-committed restart). */
  def run(spark: SparkSession, stage: String, snapshotId: String,
      input: DataFrame, nBuckets: Int, outPath: String,
      manifestPath: String): Int =
    runWith(spark, stage, snapshotId, nBuckets, outPath, manifestPath) {
      todo => input.filter(col("bucket").isin(todo: _*))
    }

  /** Like [[run]], but `compute(todo)` builds the pending rows — this
    * lets the caller push the bucket predicate below expensive stages
    * (e.g. filter the INPUT FILES by bucket before the extraction
    * kernel runs, so a restart never re-extracts committed buckets). */
  /** Like [[run]], with a run-config fingerprint (F9): `config` is a
    * caller-supplied digest of everything that determines the stage's
    * output (for the KG pipeline: the weight bundle's fingerprint).
    * Recorded in every bucket's metricsJson; a RESUME under a
    * different fingerprint fails fast — splicing buckets computed
    * under different weights into one snapshot would be silently
    * inconsistent output, exactly like a bucket-count mismatch. */
  def runWith(spark: SparkSession, stage: String, snapshotId: String,
      nBuckets: Int, outPath: String, manifestPath: String,
      config: String = "")(
      compute: Seq[Int] => DataFrame): Int = {
    import spark.implicits._
    val metricsJson = s"""{"buckets":$nBuckets,"config":"$config"}"""
    val done = committed(spark, manifestPath, stage, snapshotId)
    // resuming with a DIFFERENT bucket count or run config than this
    // (stage, snapshotId) was started with would splice incompatible
    // buckets into one snapshot. Fail fast instead.
    if (graft.sources.Fs.exists(spark, manifestPath)) {
      spark.read.parquet(manifestPath)
        .filter($"stage" === stage && $"snapshotId" === snapshotId)
        .select($"metricsJson").distinct().as[String].collect()
        .foreach { mj =>
          require(mj == metricsJson,
            s"manifest for ($stage, $snapshotId) was written with $mj " +
              s"but this run has $metricsJson — resume with the " +
              "original bucket count and run config, or use a fresh " +
              "snapshotId + outPath")
        }
    }
    val todo = (0 until nBuckets).filterNot(done.contains)
    if (todo.isEmpty) return 0
    val pending = compute(todo)
    // purge every bucket dir NOT committed for this (stage, snapshotId)
    // before writing: dynamic overwrite only replaces partitions present
    // in the new data, so a todo bucket that yields zero rows this run —
    // or a leftover dir from a prior snapshot — would otherwise be read
    // back, fingerprinted, and COMMITTED as this snapshot's data.
    // (outPath is one stage's output dir by contract.)
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val outFs = graft.sources.Fs.fsOf(spark, outP)
    if (outFs.exists(outP)) outFs.listStatus(outP).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("bucket=")) {
        val b = scala.util.Try(name.stripPrefix("bucket=").toInt)
          .getOrElse(-1)
        if (!done.contains(b)) outFs.delete(st.getPath, true)
      }
    }
    // per-WRITE dynamic overwrite (writer option, not a session conf —
    // a session-wide set would silently turn every later Overwrite
    // write in the same session into a partial overwrite)
    graft.sources.Fs.parquet(pending, outPath)(_.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic").partitionBy("bucket"))
    // per-bucket stats come from the data ACTUALLY WRITTEN (read back
    // from outPath) — the pipeline executes exactly once per run, and
    // the manifest fingerprints what is durable, not a recomputation.
    // Column order is canonicalized (sorted names) so the fingerprint is
    // stable across the write schema vs the read-back schema (partition
    // columns move to the end on read).
    // An all-empty write leaves only _SUCCESS in outPath (no bucket=
    // dirs) — probe for that EXPLICITLY and commit 0-row buckets. A
    // blanket AnalysisException catch here would also swallow real
    // read-back failures and silently commit rowCount=0 fingerprints
    // for buckets whose data WAS durably written.
    val hasData = outFs.exists(outP) &&
      outFs.listStatus(outP).exists(_.getPath.getName.startsWith("bucket="))
    val stats =
      if (!hasData) Array.empty[org.apache.spark.sql.Row]
      else {
        val written = spark.read.parquet(outPath)
          .filter($"bucket".isin(todo: _*))
        val dataCols = written.columns.filter(_ != "bucket").sorted.toSeq
        written
          .withColumn("h", xxhash64(struct(dataCols.map(col): _*)))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("rowCount"),
            format_string("%016x",
              coalesce(expr("bit_xor(h)"), lit(0L))).as("sha256Agg"))
          .collect()
      }
    val now = System.currentTimeMillis()
    val rows = todo.map { b =>
      val st = stats.find(_.getInt(0) == b)
      ManifestRow(stage, snapshotId, b,
        st.map(_.getLong(1)).getOrElse(0L),
        st.map(_.getString(2)).getOrElse("0"),
        metricsJson, now)
    }
    graft.sources.Fs.parquet(spark.createDataFrame(rows), manifestPath)(
      _.mode(SaveMode.Append))
    todo.size
  }
}

package graft.manifest

import graft.Pipeline
import graft.core.SourceFileHashed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The KG pipeline under partition-granular resumability (the north
  * rule's checkpoint/lineage requirement, generalizing the reference's
  * metric_log gate, /root/reference/main.py:44-46).
  *
  * Buckets are assigned on the INPUT FILES (hash(repo, path)); every
  * triple inherits its document's bucket, so the bucket predicate is
  * pushed below the extraction kernel: on restart, committed buckets'
  * files are never re-read, re-scored, or re-linked. Each computed
  * bucket commits a lineage row (snapshotId, bucket, rowCount,
  * contentHash, metrics) AFTER its data is durable.
  */
object ResumablePipeline {

  /** Bucket = hash of the docId string (repo/path) so the file-side and
    * triple-side bucket assignments are identical by construction. */
  def bucketOfFiles(nBuckets: Int) =
    pmod(xxhash64(graft.core.DocId.column),
      lit(nBuckets)).cast("int")

  /** Returns #buckets computed this invocation. */
  def run(spark: SparkSession, corpusPath: String, outPath: String,
      manifestPath: String, nBuckets: Int = 16,
      snapshotId: String = "snap-0"): Int = {
    import spark.implicits._
    ResumableStage.runWith(spark, "kg_triples", snapshotId, nBuckets,
      outPath, manifestPath,
      config = graft.kernel.Weights.default.fingerprint) { todo =>
      val files = spark.read.parquet(corpusPath)
        .withColumn("bucket", bucketOfFiles(nBuckets))
        .filter(col("bucket").isin(todo: _*))
        .drop("bucket")
        .as[SourceFileHashed]
      Pipeline.triplesFor(files)
        .withColumn("bucket",
          pmod(xxhash64(col("docId")), lit(nBuckets)).cast("int"))
    }
  }

  def readTriples(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath).drop("bucket")
}

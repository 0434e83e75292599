package graft.extract

import graft.core.{Mention, Sentence}
import graft.kernel.{TriaffineScorer, Weights}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Frozen-encoder cache (SURVEY S3): materialize per-sentence encoder
  * output to a parquet table keyed by (docId, sentId), then score from
  * the cache via a keyed equi-join back to the sentence table — the
  * reference's HDF5 BERT-output cache (/root/reference/data_util.py:64-70,
  * 561-567; built main.py:67-78) re-expressed as a Spark stage-output
  * table.
  *
  * Why it matters at 100 TB: encoding is the expensive half of the
  * kernel; re-runs over the same snapshot (new scoring weights, a new
  * downstream stage) fetch the cached encodings by key instead of
  * re-encoding the corpus. The join is an equi-join on
  * (docId, sentId) — both sides hash-partition on the same key.
  */
object EncodingCache {

  // dim rides along so a reader under DIFFERENT Weights dims fails fast
  // (a wrong dim that happens to divide the payload length would
  // otherwise slice at wrong offsets and score garbage silently).
  // tokens ride along so a WARM RE-SCORE run (new scoring weights, same
  // frozen encoder — the reference's re-run-with-cached-BERT workflow)
  // can decode surfaces/nextTok from the cache ALONE, never touching
  // the source table ([[mentionsFromCache]]).
  // enc is the flat double payload PACKED as one little-endian binary
  // blob: decoding a parquet double-array re-assembles the array
  // element-by-element through the column reader, while a binary blob
  // is one bulk copy — measurably cheaper on the warm path, and still
  // bit-exact.
  final case class EncRow(docId: String, sentId: Int, dim: Int,
      enc: Array[Byte], tokens: Seq[String])

  private[extract] def pack(xs: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(xs.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(xs)
    bb.array()
  }

  private[extract] def unpack(bs: Array[Byte]): Array[Double] = {
    val out = new Array[Double](bs.length / 8)
    java.nio.ByteBuffer.wrap(bs)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .asDoubleBuffer().get(out)
    out
  }

  /** Materialize encoder outputs, keyed by (docId, sentId). The
    * sentence stream is repartitioned first so the encode AND the
    * written file count use the session's full parallelism (a cache
    * written as a handful of fat files caps every later warm scan). */
  def write(sents: Dataset[Sentence], path: String): Unit = {
    val spark = sents.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(Weights.default)
    val rows = sents.repartition(spark.sessionState.conf.numShufflePartitions)
      .mapPartitions { it =>
      val w = bw.value
      it.map { s =>
        EncRow(s.docId, s.sentId, w.dim,
          pack(TriaffineScorer.encodeSentence(
            s.tokens.toIndexedSeq, s.pos.toIndexedSeq,
            s.ltokens.toIndexedSeq, s.lpos.toIndexedSeq,
            s.rtokens.toIndexedSeq, s.rpos.toIndexedSeq, w)),
          s.tokens)
      }
    }
    graft.sources.Fs.parquet(rows, path)(_.mode("overwrite"))
  }

  /** Warm re-score from the cache ALONE: one narrow scan of the
    * encoding table -> scoreEncoded -> mentions. No source-table read,
    * no tokenization, no join — the 100 TB re-run shape when only the
    * scoring stage changed (S3's whole point: the frozen-encoder half
    * of the kernel is never recomputed). Bit-identical to the direct
    * path on the same corpus (same scoreEncoded arithmetic). */
  def mentionsFromCache(spark: SparkSession, path: String): Dataset[Mention] = {
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(Weights.default)
    spark.read.parquet(path).as[EncRow].mapPartitions { it =>
      val w = bw.value
      it.flatMap { e =>
        require(e.dim == w.dim,
          s"encoding cache at $path was written under dim ${e.dim}, " +
            s"reader Weights has dim ${w.dim} — rewrite the cache")
        TriaffineScorer.toMentions(e.docId, e.sentId,
          e.tokens.toIndexedSeq,
          TriaffineScorer.scoreEncoded(unpack(e.enc), w))
      }
    }
  }

  /** Mentions from cached encodings: sentences ⋈ cache on
    * (docId, sentId); the kernel consumes the cached payload (never
    * re-encodes); tokens ride along only for surface/nextTok decode.
    * Bit-identical to the direct path (asserted in tests). */
  def mentions(sents: Dataset[Sentence], path: String): Dataset[Mention] = {
    val spark = sents.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(Weights.default)
    val enc = spark.read.parquet(path).as[EncRow]
    // duplicate keys would silently DUPLICATE mentions via join
    // multiplicity (double-written cache dir) — one cheap probe over
    // the cache table (far smaller than re-encoding the corpus)
    val dups = enc.groupBy(col("docId"), col("sentId")).count()
      .filter(col("count") > 1).limit(1).count()
    require(dups == 0,
      s"encoding cache at $path has duplicate (docId, sentId) keys — " +
        "double-written cache? rewrite it")
    // left_outer + fail-fast: an inner join would silently DROP any
    // sentence missing from the cache (stale cache after a corpus or
    // tokenizer change) and downstream P/R would degrade with no error
    sents.joinWith(enc,
      sents("docId") === enc("docId") && sents("sentId") === enc("sentId"),
      "left_outer")
      .mapPartitions { it =>
        val w = bw.value
        it.flatMap { case (s, e) =>
          require(e != null, s"encoding cache at $path has no row for " +
            s"(${s.docId}, ${s.sentId}) — stale cache? rewrite it")
          require(e.dim == w.dim,
            s"encoding cache at $path was written under dim ${e.dim}, " +
              s"reader Weights has dim ${w.dim} — rewrite the cache")
          TriaffineScorer.toMentions(s.docId, s.sentId,
            s.tokens.toIndexedSeq,
            TriaffineScorer.scoreEncoded(unpack(e.enc), w))
        }
      }
  }
}

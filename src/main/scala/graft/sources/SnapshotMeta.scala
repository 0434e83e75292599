package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.util.Try

/** THE format of the scalar metadata of graph-table snapshots and their
  * canon state: small JSON files read and written through the Hadoop
  * `FileSystem` API, so no Spark job ever reads or writes a scalar (a
  * one-row parquet table cost a footer-inference job per read, plus the
  * query). Iceberg and Delta keep their commit logs the same way.
  *  - COMMIT LOG: one record per commit under `<table>/_commits/`,
  *    `{snapshotId, rowCount, contentHash, committedAt}`, created with
  *    `overwrite = false` after everything the snapshot consists of is
  *    on disk — that create is the commit point. The file name carries
  *    the record's sort key, so ordering the log is one listing.
  *  - CHAIN POINTER: an overlay's `{base, depth}` in its own snap dir
  *    (`_graft_chain.json`, invisible to partition discovery like
  *    `_SUCCESS`), so a snapshot whose record was pruned stays readable
  *    until its dir is swept.
  *  - STATE META: a canon-state dir's `{lastBatchId, baseState}`.
  *
  * The parquet metadata of the layout before this one is not read. A
  * table with a parquet `manifest` and no log, and an overlay with a
  * `_graft_base` sidecar and no chain pointer, are refused loudly: read
  * as "nothing committed" and "a full snapshot", the first would be
  * republished in full and its snap dirs swept as orphans, the second
  * would read as its delta rows alone. A parquet state `meta` reads as
  * no state, which routes the next publish to the full path, and that
  * is exact. */
object SnapshotMeta {

  final case class Commit(snapshotId: String, rowCount: Long,
      contentHash: String, committedAt: Long)

  final case class StateMeta(lastBatchId: Long, baseState: Option[String])

  /** Called with the path of every JSON record opened — the read
    * counts specs assert. */
  @volatile private[graft] var onRecordRead: String => Unit = _ => ()

  private val Json = new ObjectMapper()

  private def put(fs: FileSystem, p: Path, overwrite: Boolean,
      fields: (String, Any)*): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(Json.writeValueAsBytes(
      scala.jdk.CollectionConverters.MapHasAsJava(fields.toMap).asJava))
    finally out.close()
  }

  /** The JSON object at `p`: None when absent, a Failure when present
    * but unreadable (a torn write). */
  private def get(spark: SparkSession, p: Path): Option[Try[JsonNode]] = {
    val fs = Fs.fsOf(spark, p)
    val in = try Some(fs.open(p)) catch {
      case _: java.io.FileNotFoundException => None
    }
    in.map { s =>
      onRecordRead(p.toString)
      Try(try Json.readTree(s.readAllBytes()) finally s.close()).flatMap(n =>
        if (n != null && n.isObject) scala.util.Success(n)
        else scala.util.Failure(new IllegalStateException(s"not a record: $p")))
    }
  }

  // ---- commit log ---------------------------------------------------

  private def commitsDir(table: String) = new Path(s"$table/_commits")

  /** Called where a table has no log: refuse it if its parquet manifest
    * is there, a layout that is no longer read. */
  private def refuseManifest(fs: FileSystem, table: String): Unit =
    if (fs.exists(new Path(s"$table/manifest")))
      throw new IllegalStateException(s"graph table $table keeps its commits " +
        "in a parquet manifest, a layout that is no longer read")

  private def recordName(at: Long, id: String) = f"$at%020d-$id.json"

  /** (committedAt, snapshotId) of a record name; None for other files
    * (checksum side files start with '.'). */
  private def nameKey(name: String): Option[(Long, String)] =
    if (name.length > 26 && name.charAt(20) == '-' && name.endsWith(".json"))
      name.take(20).toLongOption.map(_ -> name.substring(21, name.length - 5))
    else None

  /** Latest first: committedAt desc, snapshotId desc — the order every
    * reader and GC sweep resolves "latest" by (two publishes can commit
    * within one clock millisecond). */
  private val Latest: Ordering[(Long, String)] =
    Ordering.Tuple2(Ordering.Long.reverse, Ordering.String.reverse)

  /** One log entry: its sort key and its record, read on demand (None
    * when the record is torn or disagrees with its name — a crash inside
    * the commit-point write, so never committed). */
  private final case class Entry(key: (Long, String), record: () => Option[Commit])

  private def log(spark: SparkSession, table: String): Seq[Entry] = {
    val dir = commitsDir(table)
    val fs = Fs.fsOf(spark, dir)
    if (fs.exists(dir))
      fs.listStatus(dir).toSeq.flatMap(st => nameKey(st.getPath.getName)
          .map(k => Entry(k, () => readCommit(spark, st.getPath, k))))
        .sortBy(_.key)(Latest)
    else { refuseManifest(fs, table); Seq.empty }
  }

  private def readCommit(spark: SparkSession, p: Path,
      key: (Long, String)): Option[Commit] =
    get(spark, p).flatMap(_.toOption).flatMap(n => Try(Commit(
        n.get("snapshotId").asText, n.get("rowCount").asLong,
        n.get("contentHash").asText, n.get("committedAt").asLong)).toOption)
      .filter(c => (c.committedAt, c.snapshotId) == key)

  /** The latest committed record of the table. */
  def latest(spark: SparkSession, table: String): Option[Commit] =
    log(spark, table).iterator.flatMap(_.record()).nextOption()

  /** The latest record of `snapshotId` — a republish of an id supersedes
    * its earlier records. */
  def commitOf(spark: SparkSession, table: String,
      snapshotId: String): Option[Commit] =
    log(spark, table).iterator.filter(_.key._2 == snapshotId)
      .flatMap(_.record()).nextOption()

  /** Committed snapshot ids, most recent first; an id republished counts
    * once, at its latest commit. */
  def committedIds(spark: SparkSession, table: String): Seq[String] =
    log(spark, table).flatMap(_.record()).map(_.snapshotId).distinct

  /** THE commit point: create the record, never overwriting. The
    * create is exclusive on HDFS and, through [[Fs.RawFs]], on a local
    * table, so of two commits of one id within a clock millisecond
    * exactly one creates the record; the other takes the next
    * millisecond, so the latest record still wins. */
  def commit(spark: SparkSession, table: String, snapshotId: String,
      rowCount: Long, contentHash: String): Unit = {
    val dir = commitsDir(table)
    val fs = Fs.fsOf(spark, dir)
    if (!fs.exists(dir)) refuseManifest(fs, table)
    var at = System.currentTimeMillis()
    while (!create(fs, dir, Commit(snapshotId, rowCount, contentHash, at))) at += 1
  }

  /** Create `c`'s record in `dir`; false when one of its name exists. */
  private[graft] def create(fs: FileSystem, dir: Path, c: Commit): Boolean =
    try {
      put(fs, new Path(dir, recordName(c.committedAt, c.snapshotId)),
        overwrite = false, "snapshotId" -> c.snapshotId, "rowCount" -> c.rowCount,
        "contentHash" -> c.contentHash, "committedAt" -> c.committedAt)
      true
    } catch { case _: FileAlreadyExistsException => false }

  /** Delete every record of `ids` (manifest pruning). */
  def drop(spark: SparkSession, table: String, ids: Set[String]): Unit = {
    val dir = commitsDir(table)
    val fs = Fs.fsOf(spark, dir)
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      if (nameKey(st.getPath.getName).exists(k => ids(k._2)))
        fs.delete(st.getPath, false)
    }
  }

  // ---- overlay chain pointer ----------------------------------------

  private def chainFile(snapDir: String) = new Path(s"$snapDir/_graft_chain.json")

  /** The parquet sidecar of an overlay: its `removed` doc list. */
  private[graft] def sidecarDir(snapDir: String): String = s"$snapDir/_graft_base"

  private[graft] val SidecarSchema = "kind STRING, value STRING"

  def writeChain(spark: SparkSession, snapDir: String, base: String,
      depth: Int): Unit = {
    val p = chainFile(snapDir)
    put(Fs.fsOf(spark, p), p, overwrite = true, "base" -> base, "depth" -> depth)
  }

  /** (base snapshot id, depth) of an overlay; None for a full snapshot.
    * A sidecar with no pointer next to it is refused: an overlay of the
    * parquet-pointer layout, which is no longer read, or one whose
    * publish stopped before its pointer and never committed. */
  def chainOf(spark: SparkSession, snapDir: String): Option[(String, Int)] =
    get(spark, chainFile(snapDir)) match {
      case Some(t) =>
        val n = t.get
        Some((n.get("base").asText, n.get("depth").asInt))
      case None if Fs.exists(spark, sidecarDir(snapDir)) =>
        throw new IllegalStateException(s"overlay at $snapDir has a sidecar " +
          "but no chain pointer: a parquet-pointer overlay (no longer read) " +
          "or an uncommitted one")
      case None => None
    }

  // ---- canon-state meta ---------------------------------------------

  private def metaFile(stateDir: String) = new Path(s"$stateDir/meta.json")

  def writeStateMeta(spark: SparkSession, stateDir: String, lastBatchId: Long,
      baseState: Option[String]): Unit = {
    val p = metaFile(stateDir)
    put(Fs.fsOf(spark, p), p, overwrite = true,
      "lastBatchId" -> lastBatchId, "baseState" -> baseState.orNull)
  }

  /** Delete a state dir's meta: the dir then reads as no state. */
  def dropStateMeta(spark: SparkSession, stateDir: String): Unit = {
    val p = metaFile(stateDir)
    Fs.fsOf(spark, p).delete(p, false)
    ()
  }

  /** A state dir's meta: None when absent, a Failure when present but
    * unreadable. */
  def stateMeta(spark: SparkSession, stateDir: String): Option[Try[StateMeta]] =
    get(spark, metaFile(stateDir)).map(_.flatMap(n => Try {
      val b = n.get("baseState")
      StateMeta(n.get("lastBatchId").asLong,
        if (b == null || b.isNull) None else Some(b.asText))
    }))
}

package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrameWriter, Dataset, SparkSession}

/** THE Hadoop FileSystem of the library's paths: its existence probes,
  * metadata files and DataFrame writes. Paths resolve through the
  * FileSystem of the path itself ([[fsOf]]): java.io.File on HDFS/S3
  * always answers "missing", which turns restart/read guards into
  * silent recomputes or fabricated empty reads.
  *
  * LOCAL WRITES DO NOT FORK. Without the native Hadoop library (a plain
  * Spark install; the `NativeCodeLoader` warning in a run log says so)
  * the stock `RawLocalFileSystem` starts a `chmod` process to set the
  * permission of every file and dir it creates: ~275 processes, ~1 s of
  * task time, per 1000-file graftbench `build` snapshot. On a `file:`
  * path of a session that resolves `file` to the stock local FS
  * ([[Stock]]), [[fsOf]] and every [[parquet]] write use [[LocalFs]]
  * instead, which sets the same mode bits in-process. A
  * write gets it through two per-write Hadoop options (`fs.file.impl`
  * and its `disable.cache`), which Spark copies into that write's job
  * conf only: the committer and the tasks use graft's class, and the
  * session conf and the FS cache are never touched. A session that
  * sets its own `file` class keeps it; other schemes keep their FS.
  * Reads are unchanged.
  *
  * Still forking, and out of this object's reach: Spark's streaming
  * checkpoint log (offsets and commits go through a `FileContext` the
  * session owns) and writes made outside the library (the graded
  * `Bench`/`Verify`/`SparkEntry` harness). */
object Fs {

  /** Called with true each time [[RawFs]] sets a permission in-process,
    * with false each time it falls back to the stock call — the counts
    * specs assert. */
  @volatile private[graft] var onPermission: Boolean => Unit = _ => ()

  /** graft's `file:` FileSystem: the stock checksummed LocalFileSystem
    * over [[RawFs]]. */
  final class LocalFs extends LocalFileSystem(new RawFs)

  /** The stock raw local FS with two changes:
    *  - `setPermission` sets the 9 mode bits with
    *    `Files.setPosixFilePermissions` instead of starting `chmod`.
    *    Where the target already carries setuid/setgid/sticky bits, or
    *    the permission asks for the sticky bit, it keeps the stock call:
    *    GNU `chmod 0755` keeps a directory's setgid bit (which a dir
    *    created under a setgid dir inherits), and NIO would clear it.
    *  - `create` with `overwrite = false` claims the file with
    *    CREATE_NEW (O_EXCL) before opening it, so exactly one of two
    *    racing creators wins and the other gets
    *    `FileAlreadyExistsException`; the stock check-then-open lets both
    *    succeed, the later one replacing the earlier one's file. */
  final class RawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      if (!Unix || perm.getStickyBit ||
          (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & SpecialBits) != 0) {
        onPermission(false)
        super.setPermission(p, perm)
      } else {
        // 9 bits, so the plain rendering is the "rwxr-x---" form NIO parses
        Files.setPosixFilePermissions(f,
          PosixFilePermissions.fromString(new FsPermission(perm.toShort).toString))
        onPermission(true)
      }
    }

    override def create(f: Path, perm: FsPermission, overwrite: Boolean,
        bufferSize: Int, replication: Short, blockSize: Long,
        progress: Progressable): FSDataOutputStream = {
      if (!overwrite) {
        val parent = f.getParent
        if (parent != null && !mkdirs(parent))
          throw new java.io.IOException(s"Mkdirs failed to create $parent")
        try Files.createFile(pathToFile(f).toPath)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"File already exists: $f")
        }
      }
      super.create(f, perm, true, bufferSize, replication, blockSize, progress)
    }
  }

  private val SpecialBits = Integer.parseInt("7000", 8) // setuid, setgid, sticky

  private val Unix =
    java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val ImplKey = "fs.file.impl"

  /** The stock `file` classes: Hadoop's, and Hive's proxy over it (which
    * adds only an MD5 `getFileChecksum`), registered for `file` by
    * `hive-exec` on the classpath of every Spark build with Hive. */
  private val Stock = Set("org.apache.hadoop.fs.LocalFileSystem",
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  /** Does [[LocalFs]] serve `p`: is it on `file:` (a scheme-less path
    * takes the default FS) in a session whose `file` scheme is a
    * [[Stock]] class, in its Hadoop conf and in its SQL conf (which
    * Spark copies into every job conf)? */
  private def graftLocal(spark: SparkSession, p: Path): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    Option(p.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file" &&
      spark.conf.getOption(ImplKey).forall(Stock) &&
      Stock(FileSystem.getFileSystemClass("file", conf).getName)
  }

  /** THE FileSystem of a library path: a fresh [[LocalFs]] where it
    * serves the path (it holds no resources, so nothing caches or closes
    * it), else the session's FileSystem for the path. */
  def fsOf(spark: SparkSession, p: Path): FileSystem = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!graftLocal(spark, p)) p.getFileSystem(conf)
    else {
      val fs = new LocalFs
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }
  }

  /** The Hadoop options [[parquet]] adds to a write to `path`: none
    * unless [[LocalFs]] serves it. */
  private[graft] def writerOptions(spark: SparkSession, path: String): Map[String, String] =
    if (!graftLocal(spark, new Path(path))) Map.empty
    else Map(ImplKey -> classOf[LocalFs].getName, s"$ImplKey.disable.cache" -> "true")

  /** THE DataFrame write of the library: `ds` as parquet at `path`, `w`
    * setting mode, partitioning and options, through [[LocalFs]] where
    * it serves `path`. */
  def parquet[T](ds: Dataset[T], path: String)(
      w: DataFrameWriter[T] => DataFrameWriter[T]): Unit =
    w(ds.write).options(writerOptions(ds.sparkSession, path)).parquet(path)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(spark, p).exists(p)
  }

  /** Does `dir` hold data: a `prefix`-named partition subdir, or a
    * visible file (one Spark reads: not `_`- or `.`-prefixed)? A
    * partitioned parquet write whose data had zero rows leaves a dir
    * (just _SUCCESS) that fails schema inference on read — callers probe
    * before reading and substitute an explicit empty frame. A flat write
    * leaves at least one file, a 0-row one included. */
  def hasData(spark: SparkSession, dir: String, prefix: String): Boolean = {
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      if (st.isDirectory) n.startsWith(prefix)
      else !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Delete `path`, recursively; a missing path is no error. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).delete(p, true)
    ()
  }

  /** Create (or truncate) an empty marker file. */
  def touch(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).create(p, true).close()
  }

  /** Replace `path` with the freshly-written `tmpPath` (rename old
    * aside, rename tmp in, delete old) — the rewrite-compaction swap
    * (accumulation, snapshot and state compaction). NOT atomic: a crash
    * between the two renames leaves `path` absent with the data intact
    * under `path__old` / `tmpPath` for manual recovery — acceptable for
    * maintenance jobs run at quiescent points; a transactional table
    * format owns this swap in production. */
  def swapInto(spark: SparkSession, tmpPath: String, path: String): Unit = {
    val p = new Path(path)
    val t = new Path(tmpPath)
    val o = new Path(path + "__old")
    val fs = fsOf(spark, p)
    require(fs.exists(t), s"swapInto: missing tmp dir $tmpPath")
    fs.delete(o, true)
    if (fs.exists(p)) require(fs.rename(p, o), s"swapInto: cannot move $path aside")
    require(fs.rename(t, p), s"swapInto: cannot move $tmpPath into place")
    fs.delete(o, true)
    ()
  }
}

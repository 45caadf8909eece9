package graft.operators

import java.io.IOException
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.{LocalOutputFile, OutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType

/** The one crash-safe publish protocol behind every on-disk index
  * artifact. The reference keeps its state in SQLite, where every write
  * commits atomically; here an artifact is a Parquet directory (or a
  * pointer file) made visible by renames, and a rename is the only
  * atomic step a Hadoop filesystem offers. These moves cover every writer:
  *
  *   - [[swap]]: rename the live directory aside to its holdout, promote
  *     the fully written tmp, roll back if the promote fails (the rename
  *     returned false or threw), then drop the holdout. A reader sees the
  *     old directory or the new one, never a partial one.
  *   - [[swapBuckets]] / [[repairBuckets]]: the same swap per
  *     `bucket=N` directory of a partitioned table, and the repair the
  *     single writer runs before its next read. A crash between a swap's
  *     two renames leaves the only copy in the dot-prefixed holdout,
  *     which Spark listings hide; [[restore]] puts it back when the live
  *     directory is missing and drops it when the promote had landed.
  *   - [[flipPointer]]: tmp-write a pointer file, then delete and rename
  *     it over the live one (HDFS-style renames refuse to clobber).
  *   - [[moveParts]]: stage a write in a tmp dir, move its `part-*`
  *     files into the target, and delete the tmp dir whatever happens.
  *   - [[writeRows]]: write rows the driver holds as Parquet with no
  *     Spark job — every file staged in a hidden directory, then renamed
  *     into place once all are closed. [[commitFrame]] is its tmp write
  *     plus a [[swap]].
  *   - [[appendAll]]: stage several appends, each in its own tmp
  *     directory, and move their files into place only once all of them
  *     were written.
  *
  * [[fanOut]] is the driver-thread pool the writers use to overlap
  * independent jobs and filesystem calls.
  */
private[graft] object Publish {

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The hidden holdout of a live directory: its `.name.old` sibling. */
  def holdout(live: Path): Path = new Path(live.getParent, s".${live.getName}.old")

  /** Swap `tmp` in for `live` through the holdout `old`. A missing `tmp`
    * fails the promote and rolls back, unless `retire` is set: then the
    * live directory is removed through the same aside-then-drop renames
    * (a bucket whose every row was deleted).
    */
  def swap(fs: FileSystem, tmp: Path, live: Path, old: Path,
           retire: Boolean = false): Unit = {
    fs.delete(old, true) // leftover from an earlier crash
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, old))
      throw new IOException(s"publish: could not move $live aside")
    if (!retire || fs.exists(tmp)) {
      val promoted = try fs.rename(tmp, live) catch { case NonFatal(_) => false }
      if (!promoted) {
        if (hadLive) fs.rename(old, live) // roll back: the old copy stays live
        throw new IOException(s"publish: could not promote $tmp to $live")
      }
    }
    fs.delete(old, true)
  }

  /** Swap each `bucket=N` of `tmpRoot` in under `liveRoot` (a bucket
    * missing from `tmpRoot` is retired), then drop `tmpRoot`.
    */
  def swapBuckets(fs: FileSystem, tmpRoot: Path, liveRoot: Path,
                  buckets: Seq[Long]): Unit = {
    buckets.foreach { b =>
      val live = new Path(liveRoot, s"bucket=$b")
      swap(fs, new Path(tmpRoot, s"bucket=$b"), live, holdout(live), retire = true)
    }
    fs.delete(tmpRoot, true)
  }

  /** Holdout repair for one live directory: restore the holdout if the
    * live copy is missing, drop it if the promote landed.
    */
  def restore(fs: FileSystem, live: Path, old: Path): Unit =
    if (fs.exists(old)) {
      if (fs.exists(live)) fs.delete(old, true)
      else if (!fs.rename(old, live))
        throw new IOException(s"publish: could not restore $old")
    }

  /** [[restore]] every `.bucket=N.old` holdout under `root`. */
  def repairBuckets(fs: FileSystem, root: Path): Unit =
    if (fs.exists(root)) fs.listStatus(root).map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith(".bucket=") && n.endsWith(".old"))
        restore(fs, new Path(root, n.stripPrefix(".").stripSuffix(".old")), p)
    }

  /** Write driver rows of `schema` as one file to `dir.tmp` and [[swap]]
    * it in for `dir` (holdout `.dir.old`).
    */
  def commitFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow], dir: String): Unit = {
    val tmp = dir + ".tmp"
    writeRows(spark, schema, rows, tmp, "overwrite")
    val live = new Path(dir)
    swap(fsOf(spark, dir), new Path(tmp), live, holdout(live))
  }

  /** Failure seam for tests: a [[writeRows]] whose target path starts
    * with this prefix throws after an overwrite has cleared the target
    * and before any file is produced — where a Spark write's job setup
    * runs.
    */
  @volatile private[graft] var failingWritesUnder: Option[String] = None

  /** Write driver rows of `schema` to the Parquet directory `dir`
    * (`mode` "overwrite" or "append") with no Spark job, leaving what a
    * Spark write of the same rows leaves: Spark's own ParquetWriteSupport,
    * configured by `ParquetFileFormat.prepareWrite` from the session, so
    * the footers record the same Spark schema and codec; a `_SUCCESS`
    * marker; "overwrite" clears `dir` first.
    *
    * A partitioned write groups the rows by their (int) partition values,
    * deals whole directories, in key order, to at most defaultParallelism
    * slices on [[fanOut]] threads, and writes one file per directory,
    * named `part-<slice>-<write uuid>.c000.<codec>.parquet` so appends
    * into one directory never collide. An unpartitioned write is one
    * file, a zero-row one when `rows` is empty. Every file is written
    * under a hidden staging directory in `dir` and renamed into place
    * once all of them are closed, so no reader lists a partial file; the
    * staging directory is deleted whether or not the write succeeds.
    *
    * Local files go through java.nio (Parquet's `LocalOutputFile`):
    * Hadoop's local filesystem forks a `chmod` for every file and
    * directory it creates when no native library is loaded.
    */
  def writeRows(spark: SparkSession, schema: StructType, rows: Seq[InternalRow], dir: String,
                mode: String, partitionBy: String*): Unit = {
    import scala.math.Ordering.Implicits.seqOrdering
    require(mode == "overwrite" || mode == "append", s"publish: unknown write mode $mode")
    val data = StructType(schema.filterNot(f => partitionBy.contains(f.name)))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, data)
    val conf = job.getConfiguration
    val fs = fsOf(spark, dir)
    val root = fs.makeQualified(new Path(dir))
    val sink = sinkOf(fs, root, conf)
    if (mode == "overwrite") fs.delete(root, true)
    failingWritesUnder.filter(root.toUri.getPath.startsWith(_))
      .foreach(p => throw new IOException(s"injected write failure under $p: $dir"))
    val keys = partitionBy.map(schema.fieldIndex)
    val dirs = rows.groupBy(r => keys.map(r.getInt)).toSeq.sortBy(_._1).map { case (k, rs) =>
      partitionBy.zip(k).map { case (c, v) => s"$c=$v" }.mkString("/") -> rs }
    val files = if (dirs.isEmpty && keys.isEmpty) Seq("" -> Nil) else dirs
    val uuid = UUID.randomUUID()
    val codec = ParquetOutputFormat.getCompression(conf)
    val staging = new Path(root, s".staging-$uuid")
    try {
      val perSlice = math.max(1, math.ceil(files.length.toDouble / spark.sparkContext.defaultParallelism).toInt)
      val written = fanOut("parquet-write", files.grouped(perSlice).zipWithIndex.map { case (slice, i) => () =>
        val project = UnsafeProjection.create(data.map(f =>
          BoundReference(schema.fieldIndex(f.name), f.dataType, f.nullable)))
        slice.map { case (sub, rs) =>
          val name = f"part-$i%05d-$uuid.c000${codec.getExtension}.parquet"
          val rel = if (sub.isEmpty) name else s"$sub/$name"
          val staged = new Path(staging, rel)
          sink.mkdirs(staged.getParent)
          val w = new RowWriter(sink.file(staged)).withConf(conf).withCompressionCodec(codec).build()
          try rs.foreach(r => w.write(project(r))) finally w.close()
          rel
        }
      }.toSeq).flatten
      sink.mkdirs(root)
      written.foreach { rel =>
        val live = new Path(root, rel)
        sink.mkdirs(live.getParent)
        if (!fs.rename(new Path(staging, rel), live))
          throw new IOException(s"publish: could not move $rel into $root")
      }
      sink.touch(new Path(root, "_SUCCESS"))
    } finally fs.delete(staging, true)
  }

  /** A Parquet writer of Spark rows onto any Parquet `OutputFile`. */
  private final class RowWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override def self(): RowWriter = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] = new ParquetWriteSupport
  }

  /** Append several writes to their target directories all or nothing.
    * Each `(target, write)` writes a fresh staging sibling,
    * `<target>-append-tmp`, on [[fanOut]] threads; once every write has
    * succeeded, each staged tree's data files move to the same relative
    * paths under their target. On any failure every staging directory,
    * Spark's `_temporary` included, is removed and no target has changed.
    */
  def appendAll(spark: SparkSession, writes: Seq[(String, String => Unit)]): Unit = {
    val fs = fsOf(spark, writes.head._1)
    val staged = writes.map { case (target, write) =>
      (fs.makeQualified(new Path(target + "-append-tmp")), fs.makeQualified(new Path(target)), write) }
    try {
      fanOut("append", staged.map { case (tmp, _, write) => () =>
        fs.delete(tmp, true)
        write(tmp.toString)
      })
      staged.foreach { case (tmp, target, _) => moveTree(fs, tmp, target) }
    } finally staged.foreach(s => fs.delete(s._1, true))
  }

  /** Move the data files under `tmp` to the same relative paths under
    * `target` (directories made through java.nio when local), then mark
    * `target` with `_SUCCESS`.
    */
  private def moveTree(fs: FileSystem, tmp: Path, target: Path): Unit = {
    val sink = sinkOf(fs, target, fs.getConf)
    def files(dir: Path): Seq[Path] = fs.listStatus(dir).toSeq
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .flatMap(st => if (st.isDirectory) files(st.getPath) else Seq(st.getPath))
    val root = tmp.toUri.getPath.length + 1
    files(tmp).foreach { f =>
      val live = new Path(target, f.toUri.getPath.substring(root))
      sink.mkdirs(live.getParent)
      if (!fs.rename(f, live)) throw new IOException(s"publish: could not move $f into $target")
    }
    sink.mkdirs(target)
    sink.touch(new Path(target, "_SUCCESS"))
  }

  /** Where [[writeRows]] creates its files and directories. */
  private sealed trait Sink {
    def file(p: Path): OutputFile
    def mkdirs(p: Path): Unit
    def touch(p: Path): Unit
  }

  private def sinkOf(fs: FileSystem, root: Path, conf: Configuration): Sink =
    if (root.toUri.getScheme == "file") LocalSink else new HadoopSink(fs, conf)

  private object LocalSink extends Sink {
    private def nio(p: Path) = Paths.get(p.toUri)
    def file(p: Path): OutputFile = new LocalOutputFile(nio(p))
    def mkdirs(p: Path): Unit = Files.createDirectories(nio(p))
    def touch(p: Path): Unit = Files.write(nio(p), Array.emptyByteArray)
  }

  private final class HadoopSink(fs: FileSystem, conf: Configuration) extends Sink {
    def file(p: Path): OutputFile = HadoopOutputFile.fromPath(p, conf)
    def mkdirs(p: Path): Unit = fs.mkdirs(p)
    def touch(p: Path): Unit = fs.create(p, true).close()
  }

  /** The writer's read of a [[commitFrame]] directory: [[restore]] the
    * holdout a crash inside the swap left, then read. Readers never
    * mutate; they read the directory directly.
    */
  def readRepaired(spark: SparkSession, dir: String): DataFrame = {
    val live = new Path(dir)
    restore(fsOf(spark, dir), live, holdout(live))
    spark.read.parquet(dir)
  }

  /** Point `ptr` at `value`: write `.ptr.tmp`, delete `ptr`, rename. */
  def flipPointer(fs: FileSystem, ptr: Path, value: String): Unit = {
    val tmp = new Path(ptr.getParent, s".${ptr.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(value.getBytes("UTF-8")) finally out.close()
    fs.delete(ptr, false) // HDFS-style rename refuses to clobber
    if (!fs.rename(tmp, ptr))
      throw new IOException(s"publish: pointer flip failed for $ptr ($value)")
  }

  /** Run `write` (which stages files in `tmp`), hand the staged part
    * files to `inspect`, and move them into `target` when it says so.
    * Spark names each part `part-<task>-<jobUUID>`, so moves into a
    * shared directory cannot collide. `tmp` never outlives the call.
    */
  def moveParts[T](fs: FileSystem, tmp: Path, target: Path)(write: => Unit)(
      inspect: Seq[Path] => (T, Boolean)): T =
    try {
      write
      val parts = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.startsWith("part-")).toSeq
      val (out, move) = inspect(parts)
      if (move && parts.nonEmpty) {
        fs.mkdirs(target)
        parts.foreach { p =>
          if (!fs.rename(p, new Path(target, p.getName)))
            throw new IOException(s"publish: could not move $p into $target")
        }
      }
      out
    } finally fs.delete(tmp, true)

  /** Run `tasks` concurrently on a pool made for this call, one named
    * daemon thread per task, and return their results in task order.
    * The threads are created by the calling thread, so its Spark local
    * properties (job group, description) reach every job they start.
    * Every task finishes before the first failure (in task order) is
    * rethrown: no sibling is still writing when the caller sees it.
    */
  def fanOut[T](name: String, tasks: Seq[() => T]): Seq[T] =
    if (tasks.isEmpty) Nil
    else {
      val ids = new AtomicInteger(0)
      val pool = Executors.newFixedThreadPool(tasks.size, { r: Runnable =>
        val t = new Thread(r, s"graft-$name-${ids.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
      try {
        val results = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
          .map(f => scala.util.Try(f.get()))
        results.foreach(_.failed.foreach {
          case e: ExecutionException if e.getCause != null => throw e.getCause
          case e => throw e
        })
        results.map(_.get)
      } finally pool.shutdown()
    }
}

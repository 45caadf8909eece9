package graft.operators

import java.io.IOException
import java.util.concurrent.{Callable, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one crash-safe publish protocol behind every on-disk index
  * artifact. The reference keeps its state in SQLite, where every write
  * commits atomically; here an artifact is a Parquet directory (or a
  * pointer file) made visible by renames, and a rename is the only
  * atomic step a Hadoop filesystem offers. Four moves cover every writer:
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

  /** Write a small frame as one file to `dir.tmp` and [[swap]] it in
    * for `dir` (holdout `.dir.old`).
    */
  def commitFrame(df: DataFrame, dir: String): Unit = {
    val tmp = dir + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val live = new Path(dir)
    swap(fsOf(df.sparkSession, dir), new Path(tmp), live, holdout(live))
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

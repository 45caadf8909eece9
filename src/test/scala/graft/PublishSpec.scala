package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Hnsw, ManifestIO, Publish}

/** The failure paths of the shared publish protocol (operators/Publish):
  * a promote that fails must roll back, a crash holdout must be repaired
  * the right way round, a pointer flip must replace the old value, a
  * failed part move must not leak its tmp dir, and the driver fan-out
  * must not rethrow while a sibling task is still running. The driver
  * writer must leave what a Spark write of the same rows leaves, start
  * no job, and publish nothing when one of its slices fails.
  */
class PublishSpec extends AnyFunSuite {
  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  private def freshRoot(): Path =
    new Path(Files.createTempDirectory("graft_publish").toString)

  private def put(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def get(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("a swap whose promote fails throws, keeps the live directory, and leaves no holdout") {
    val root = freshRoot()
    val live = new Path(root, "layout")
    put(new Path(live, "part-0"), "live rows")
    val old = Publish.holdout(live)
    intercept[java.io.IOException](
      Publish.swap(fs, new Path(root, "layout-missing-tmp"), live, old))
    assert(get(new Path(live, "part-0")) === "live rows")
    assert(!fs.exists(old), s"holdout $old left behind")
  }

  test("a swap promotes the tmp directory and drops the old copy") {
    val root = freshRoot()
    val live = new Path(root, "layout")
    val tmp = new Path(root, "layout-tmp")
    put(new Path(live, "part-0"), "old rows")
    put(new Path(tmp, "part-0"), "new rows")
    Publish.swap(fs, tmp, live, Publish.holdout(live))
    assert(get(new Path(live, "part-0")) === "new rows")
    assert(!fs.exists(tmp) && !fs.exists(Publish.holdout(live)))
  }

  test("holdout repair restores a holdout whose live directory is missing and drops one whose live directory exists") {
    val root = freshRoot()
    // bucket 1 crashed after the move aside; bucket 2 after the promote
    put(new Path(root, ".bucket=1.old/part-0"), "bucket 1 rows")
    put(new Path(root, ".bucket=2.old/part-0"), "stale bucket 2 rows")
    put(new Path(root, "bucket=2/part-0"), "promoted bucket 2 rows")
    Publish.repairBuckets(fs, root)
    assert(get(new Path(root, "bucket=1/part-0")) === "bucket 1 rows")
    assert(get(new Path(root, "bucket=2/part-0")) === "promoted bucket 2 rows")
    assert(fs.listStatus(root).map(_.getPath.getName).filter(_.endsWith(".old")).isEmpty)
    // the single-directory form, as the HNSW meta uses it
    val meta = new Path(root, "graph-meta")
    put(new Path(Publish.holdout(meta), "part-0"), "meta row")
    Publish.restore(fs, meta, Publish.holdout(meta))
    assert(get(new Path(meta, "part-0")) === "meta row")
    assert(!fs.exists(Publish.holdout(meta)))
  }

  test("a pointer flip over an existing _latest reads the new version") {
    val root = freshRoot()
    val ptr = new Path(root, "_latest")
    Publish.flipPointer(fs, ptr, "3")
    Publish.flipPointer(fs, ptr, "4")
    assert(get(ptr) === "4")
    assert(!fs.exists(new Path(root, "._latest.tmp")))
  }

  test("a part move whose target cannot be created still deletes its tmp dir") {
    val root = freshRoot()
    put(new Path(root, "blocker"), "a file where a directory is needed")
    val tmp = new Path(root, ".stage-tmp")
    intercept[Exception] {
      Publish.moveParts(fs, tmp, new Path(root, "blocker/files")) {
        put(new Path(tmp, "part-00000.parquet"), "staged rows")
      }(parts => (parts.size, true))
    }
    assert(!fs.exists(tmp), "staging tmp dir leaked")
  }

  test("a part move keeps only what the inspection admits, and moves every part it admits") {
    val root = freshRoot()
    val target = new Path(root, "files")
    def stage(keep: Boolean): Int = {
      val tmp = new Path(root, s".stage-$keep")
      Publish.moveParts(fs, tmp, target) {
        put(new Path(tmp, s"part-0-$keep.parquet"), "a")
        put(new Path(tmp, s"part-1-$keep.parquet"), "b")
        put(new Path(tmp, "_SUCCESS"), "")
      }(parts => (parts.size, keep))
    }
    assert(stage(keep = false) === 2)
    assert(!fs.exists(target))
    assert(stage(keep = true) === 2)
    assert(fs.listStatus(target).map(_.getPath.getName).sorted.toSeq ===
      Seq("part-0-true.parquet", "part-1-true.parquet"))
    assert(fs.listStatus(root).map(_.getPath.getName).forall(!_.startsWith(".stage-")))
  }

  test("the fan-out rethrows the first failure only after a slow sibling has finished") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Publish.fanOut[Unit]("spec", Seq(
        () => throw new IllegalStateException("first task failed"),
        () => { Thread.sleep(500); slowDone.set(true) }))
    }
    assert(e.getMessage === "first task failed")
    assert(slowDone.get(), "the failure was rethrown while a sibling task was still running")
  }

  test("the fan-out keeps task order and carries the caller's Spark local properties") {
    val sc = SparkTestSession.spark.sparkContext
    sc.setLocalProperty("graft.spec.tag", "caller")
    try {
      val got = Publish.fanOut("spec", (0 until 4).map { i => () =>
        Thread.sleep(40L * (4 - i)) // later tasks finish first
        (i, sc.getLocalProperty("graft.spec.tag"))
      })
      assert(got === (0 until 4).map(i => (i, "caller")))
    } finally sc.setLocalProperty("graft.spec.tag", null)
  }

  private lazy val spark = SparkTestSession.spark

  private def emb(seed: Int): ArrayData =
    ArrayData.toArrayData(Array.tabulate(4)(j => (seed * 7 + j) / 10.0f))

  /** Rows of each engine schema the driver writer serves, with their
    * partition columns; the last one has a non-nullable column.
    */
  private val cases = Seq(
    ("base", Hnsw.BaseSchema, Seq("layer", "src_bucket"),
      (0 until 60).map(i => InternalRow(i.toLong, (i * 7 % 60).toLong, emb(i), i % 3, i % 5))),
    ("shards", Hnsw.ShardsSchema, Seq("shard"), (0 until 30).map(i => InternalRow(i.toLong, emb(i), i % 4))),
    ("meta", Hnsw.MetaSchema, Nil, Seq(InternalRow(3L, emb(3), 30L, 12345L, 2))),
    ("count", StructType(Seq(StructField("n", LongType, nullable = false))), Nil, Seq(InternalRow(7L))))

  /** The visible data files under `dir` (no hidden path component),
    * relative to it.
    */
  private def visible(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).map(root.relativize)
      .filterNot(_.iterator().asScala.exists(c => c.toString.startsWith(".") || c.toString.startsWith("_")))
      .map(_.toString).toSeq.sorted
  }

  private def hidden(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".staging")).toSeq

  private def footers(dir: String): Set[StructType] = visible(dir).map(f =>
    ManifestIO.sparkSchema(spark.sparkContext.hadoopConfiguration, new Path(s"$dir/$f"))).toSet

  test("a driver write matches a Spark write of the same rows: row content, footer schema, directory tree") {
    val root = freshRoot().toString
    cases.foreach { case (name, schema, parts, rows) =>
      val (driver, viaSpark) = (s"$root/$name-driver", s"$root/$name-spark")
      val frame = Hnsw.localFrame(spark, schema, rows)
      val sliced = if (parts.isEmpty) frame.coalesce(1) else frame.repartition(parts.map(frame.col): _*)
      sliced.write.mode("overwrite").partitionBy(parts: _*).parquet(viaSpark)
      val jobs = PlanTestUtil.jobsOf(spark)(Publish.writeRows(spark, schema, rows, driver, "overwrite", parts: _*))
      assert(jobs === 0, s"$name: the driver write started $jobs Spark jobs")
      val (a, b) = (spark.read.parquet(driver), spark.read.parquet(viaSpark))
      assert(a.schema === b.schema, name)
      assert(a.count() === rows.length && b.count() === rows.length, name)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$name: the rows differ")
      assert(footers(driver) === footers(viaSpark) && footers(driver).size === 1, s"$name: the footer schemas differ")
      def tree(d: String) = visible(d).map(f => Paths.get(f).getParent).map(String.valueOf)
      assert(tree(driver) === tree(viaSpark).distinct, s"$name: the directory trees differ")
      assert(tree(driver).distinct.length === tree(driver).length, s"$name: a directory holds more than one file")
      assert(Files.exists(Paths.get(s"$driver/_SUCCESS")) && hidden(driver).isEmpty, name)
    }
  }

  test("an empty driver write leaves what Spark's does: the directory and _SUCCESS, plus one schema file if unpartitioned") {
    val root = freshRoot().toString
    Publish.writeRows(spark, Hnsw.BaseSchema, Nil, s"$root/base", "overwrite", "layer", "src_bucket")
    assert(visible(s"$root/base").isEmpty && Files.exists(Paths.get(s"$root/base/_SUCCESS")))
    Publish.writeRows(spark, Hnsw.MetaSchema, Nil, s"$root/meta", "overwrite")
    assert(visible(s"$root/meta").length === 1)
    assert(spark.read.parquet(s"$root/meta").schema === Hnsw.MetaSchema)
    assert(spark.read.parquet(s"$root/meta").isEmpty)
  }

  test("two driver appends into one directory keep both files; an overwrite replaces them") {
    val dir = s"${freshRoot()}/shards"
    val rows = (0 until 6).map(i => InternalRow(i.toLong, emb(i), 1))
    Publish.writeRows(spark, Hnsw.ShardsSchema, rows.take(3), dir, "append", "shard")
    Publish.writeRows(spark, Hnsw.ShardsSchema, rows.drop(3), dir, "append", "shard")
    assert(visible(dir).length === 2 && visible(dir).forall(_.startsWith("shard=1/part-00000-")))
    assert(spark.read.parquet(dir).count() === 6)
    Publish.writeRows(spark, Hnsw.ShardsSchema, rows.take(1), dir, "overwrite", "shard")
    assert(visible(dir).length === 1 && spark.read.parquet(dir).count() === 1)
  }

  /** A row whose every long read waits until the first slice of the
    * write under `dir` has closed both of its files, then throws.
    */
  private final class FailingRow(dir: String, values: Any*) extends GenericInternalRow(values.toArray) {
    private def closed(p: java.nio.file.Path): Boolean = {
      val b = Files.readAllBytes(p)
      b.length > 8 && new String(b.takeRight(4), "US-ASCII") == "PAR1"
    }
    override def getLong(ordinal: Int): Long = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def firstSliceDone = Files.walk(Paths.get(dir)).iterator().asScala
        .count(p => p.getFileName.toString.startsWith("part-00000-") && closed(p)) >= 2
      while (!firstSliceDone && System.nanoTime() < deadline) Thread.sleep(5)
      throw new IllegalStateException("slice failed")
    }
  }

  for (mode <- Seq("overwrite", "append"))
    test(s"a driver write whose slice fails after another slice closed its files publishes no part file ($mode)") {
      val dir = s"${freshRoot()}/edges"
      Publish.writeRows(spark, Hnsw.BaseSchema, Seq(InternalRow(1L, 2L, emb(1), 0, 0)), dir, "overwrite",
        "layer", "src_bucket")
      val before = if (mode == "append") visible(dir) else Nil
      // 8 directories over the 4 slices of the test session: slice 0
      // writes buckets 0 and 1, the last slice fails in bucket 7
      val rows = (0 until 7).map(b => InternalRow(b.toLong, 9L, emb(b), 0, b)) :+
        new FailingRow(dir, 7L, 9L, emb(7), 0, 7)
      assert(spark.sparkContext.defaultParallelism === 4)
      val e = intercept[IllegalStateException](
        Publish.writeRows(spark, Hnsw.BaseSchema, rows, dir, mode, "layer", "src_bucket"))
      assert(e.getMessage === "slice failed")
      assert(visible(dir) === before, s"the failed $mode write published part files")
      assert(hidden(dir).isEmpty, s"the failed $mode write left its staging directory")
    }

  test("the failure seam fails a driver write under its prefix before any file is produced") {
    val dir = s"${freshRoot()}/meta"
    FailingCommitProtocol.failingWritesUnder(spark, dir) {
      intercept[java.io.IOException](Publish.writeRows(spark, Hnsw.MetaSchema,
        Seq(InternalRow(3L, emb(3), 30L, 12345L, 2)), dir, "overwrite"))
    }
    assert(!Files.exists(Paths.get(dir)) || visible(dir).isEmpty && hidden(dir).isEmpty)
  }
}

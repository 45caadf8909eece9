package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DeletionVectors

/** Merge-on-read position-delete contract: deletes rewrite nothing, reads
  * subtract the sidecar, compaction folds and commutes, and the
  * crash-window invariant (stale sidecar entries are harmless) holds.
  */
class DeletionVectorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def freshTable(): (String, Long) = {
    val root = Files.createTempDirectory("graft_dv").toFile.getAbsolutePath + "/t"
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "n_chars")
    DeletionVectors.init(docs, root, "doc_id")
    (root, docs.count())
  }

  test("deleteWhere appends a sidecar and rewrites no data file") {
    val (root, total) = freshTable()
    val filesBefore = spark.read.parquet(s"$root/data").inputFiles.sorted
    val marked = DeletionVectors.deleteWhere(spark, root,
      pmod(col("doc_id"), lit(5L)) === 0L)
    assert(marked > 0)
    // data files untouched — same paths, same sizes
    assert(spark.read.parquet(s"$root/data").inputFiles.sorted
      === filesBefore)
    val live = DeletionVectors.read(spark, root)
    assert(live.count() === total - marked)
    assert(live.filter(pmod(col("doc_id"), lit(5L)) === 0L).count() === 0)
  }

  test("re-issuing the same predicate marks nothing new (sidecar is exact)") {
    val (root, _) = freshTable()
    val first = DeletionVectors.deleteWhere(spark, root, col("lang") === "de")
    assert(first > 0)
    assert(DeletionVectors.deleteWhere(spark, root, col("lang") === "de") === 0)
    val stats = DeletionVectors.bucketStats(spark, root)
      .agg(sum("deleted_rows")).head.getLong(0)
    assert(stats === first)
  }

  test("stale sidecar entries (crash window after swap, before GC) are harmless") {
    val (root, total) = freshTable()
    val marked = DeletionVectors.deleteWhere(spark, root, col("doc_id") < 50)
    // simulate the crash window: append delete entries addressing files
    // that do not exist (as if their buckets were compacted away)
    import spark.implicits._
    Seq((0, "part-ghost-file.parquet", 0L), (1, "part-ghost-file.parquet", 7L))
      .toDF("bucket", "file_name", "pos")
      .write.mode("append").parquet(s"$root/deletes")
    assert(DeletionVectors.read(spark, root).count() === total - marked)
  }

  test("compaction folds deletes, preserves content, and empties the sidecar") {
    val (root, total) = freshTable()
    DeletionVectors.deleteWhere(spark, root, pmod(col("doc_id"), lit(3L)) === 1L)
    DeletionVectors.deleteWhere(spark, root, col("lang") === "fr")
    val before = DeletionVectors.read(spark, root)
      .select("doc_id", "lang", "n_chars").orderBy("doc_id").collect()
    val compacted = DeletionVectors.compact(spark, root, minDeadFraction = 0.0001)
    assert(compacted.nonEmpty)
    val after = DeletionVectors.read(spark, root)
      .select("doc_id", "lang", "n_chars").orderBy("doc_id").collect()
    assert(after.toSeq === before.toSeq)
    // every touched bucket's sidecar entries are gone; the sidecar file
    // itself survives (schema-bearing, possibly empty)
    assert(spark.read.parquet(s"$root/deletes").count() === 0)
    assert(before.length < total)
  }

  test("compaction below threshold is a no-op; above, only candidates rewrite") {
    val (root, _) = freshTable()
    DeletionVectors.deleteWhere(spark, root, col("doc_id") === 8L) // one row, bucket 0
    // threshold far above one row's fraction → nothing qualifies
    assert(DeletionVectors.compact(spark, root, minDeadFraction = 0.9) === Nil)
    val files = spark.read.parquet(s"$root/data").inputFiles
    // delete enough of bucket 0 to cross the threshold there only
    val marked = DeletionVectors.deleteWhere(spark, root,
      pmod(col("doc_id"), lit(8L)) === 0L)
    assert(marked > 0)
    val done = DeletionVectors.compact(spark, root, minDeadFraction = 0.5)
    assert(done === Seq(0L))
    val filesAfter = spark.read.parquet(s"$root/data").inputFiles
    // bucket 0's files changed; all other buckets' files are untouched
    assert(files.filterNot(_.contains("bucket=0")).toSet
      === filesAfter.filterNot(_.contains("bucket=0")).toSet)
    assert(files.filter(_.contains("bucket=0")).toSet
      !== filesAfter.filter(_.contains("bucket=0")).toSet)
  }

  test("streaming deletes: each trigger appends one delta; reads after the trigger exclude its keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (root, total) = freshTable()
    val input = MemoryStream[Long]
    val batchCounts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = graft.streaming.Streaming.dvDeleteStream(
      input.toDF().withColumnRenamed("value", "doc_id"), root) {
      (id, n) => batchCounts.add((id, n)); ()
    }
    try {
      input.addData(1L, 2L, 3L)
      q.processAllAvailable()
      assert(DeletionVectors.read(spark, root).count() === total - 3)
      input.addData(3L, 4L) // 3 re-deleted: already dead, marks nothing
      q.processAllAvailable()
      assert(DeletionVectors.read(spark, root).count() === total - 4)
      assert(DeletionVectors.read(spark, root)
        .filter(col("doc_id").isin(1L, 2L, 3L, 4L)).count() === 0)
      // per-trigger delta exactness: 3 then 1 (idempotent redelivery)
      assert(batchCounts.toArray.toSeq === Seq((0L, 3L), (1L, 1L)))
    } finally q.stop()
  }

  test("crash between compact's swap renames: the next compaction restores the bucket") {
    val (root, total) = freshTable()
    DeletionVectors.deleteWhere(spark, root, col("doc_id") < 20)
    // simulate the crash window: bucket 3's only copy sits in the hidden
    // holdout, its live directory gone
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$root/data/bucket=3"),
      new org.apache.hadoop.fs.Path(s"$root/data/.bucket=3.old")))
    // readers see the bucket as absent (the documented crash window)
    assert(DeletionVectors.read(spark, root)
      .filter(col("bucket") === 3).count() === 0)
    // the writer's next compaction repairs first — bucket restored, then
    // folded like any other candidate
    DeletionVectors.compact(spark, root, minDeadFraction = 0.0001)
    val live = DeletionVectors.read(spark, root)
    assert(live.filter(col("bucket") === 3).count() > 0)
    assert(live.count() === total - 20)
  }

  test("MOR read plan: sidecar anti-join is broadcast, no shuffle of the corpus") {
    val (root, _) = freshTable()
    DeletionVectors.deleteWhere(spark, root, col("doc_id") < 10)
    val plan = DeletionVectors.read(spark, root)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"sidecar subtraction not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for MOR read:\n$plan")
  }

  test("a failed sidecar commit still deletes the append's tmp dir") {
    val (root, total) = freshTable()
    // block the commit: `deletes` is a single parquet FILE (readable, so
    // the delete's MOR read and staged write succeed) where the append
    // needs a directory to rename its part into
    import spark.implicits._
    val staged = Files.createTempDirectory("graft_dv_blocker").toString
    Seq((0L, "part-none.parquet", 0L)).toDF("bucket", "file_name", "pos")
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(root, "deletes"))
    intercept[Exception](DeletionVectors.deleteWhere(spark, root, col("doc_id") < 10))
    val leaked = new java.io.File(root).list().filter(_.startsWith(".delta-tmp-"))
    assert(leaked.isEmpty, s"tmp dirs left behind: ${leaked.mkString(", ")}")
    assert(DeletionVectors.read(spark, root).count() === total)
  }
}

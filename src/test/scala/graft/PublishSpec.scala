package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Publish

/** The failure paths of the shared publish protocol (operators/Publish):
  * a promote that fails must roll back, a crash holdout must be repaired
  * the right way round, a pointer flip must replace the old value, a
  * failed part move must not leak its tmp dir, and the driver fan-out
  * must not rethrow while a sibling task is still running.
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
}

package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions.{call_function, col, round}
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** The canonical-path registry both index families sit on: path
  * canonicalization, generation bookkeeping across restore/invalidate,
  * unregister, and `clear()` purging every memo a family owns.
  */
class PathRegistrySpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark

  private def cleared(body: => Unit): Unit = {
    HnswGraphRegistry.clear(); IvfIndexRegistry.clear()
    try body finally { HnswGraphRegistry.clear(); IvfIndexRegistry.clear() }
  }

  private val cents = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0)))

  test("file: prefixes and trailing slashes resolve to one entry") {
    cleared {
      HnswGraphRegistry.register("file:/data/corpus/", "vec_id", "embedding",
        "file:/data/edges//", "/data/meta")
      HnswGraphRegistry.register("/data/corpus", "vec_id", "embedding",
        "/data/edges", "/data/meta")
      assert(HnswGraphRegistry.entries.map(_._1) === Seq("/data/corpus"))
      assert(HnswGraphRegistry.entries.head._2.edgesDir === "/data/edges")
      Seq("/data/corpus", "file:/data/corpus", "/data/corpus///").foreach { p =>
        assert(HnswGraphRegistry.lookup(Seq("/elsewhere", p)).isDefined, p)
      }
      IvfIndexRegistry.registerCentroids("file:/data/layout/", "cell", cents)
      IvfIndexRegistry.registerCentroids("/data/layout", "cell", cents.reverse)
      assert(IvfIndexRegistry.entries.map(_._1) === Seq("/data/layout"))
      assert(IvfIndexRegistry.lookup(Seq("file:/data/layout")).map(_.medoids.map(_._1)) ===
        Some(Seq(0, 1)))
    }
  }

  test("restore carries the generation through; invalidate bumps it") {
    cleared {
      HnswGraphRegistry.restore("/data/corpus",
        HnswGraphRegistry.Entry("vec_id", "embedding", "file:/data/edges/", "/data/meta"), 5L)
      assert(HnswGraphRegistry.lookup(Seq("/data/corpus")).map(_.edgesDir) === Some("/data/edges"))
      assert(HnswGraphRegistry.generationOfDir("/data/edges") === 5L)
      HnswGraphRegistry.invalidate("file:/data/edges/")
      assert(HnswGraphRegistry.generationOfDir("file:/data/edges") === 6L)

      val e = IvfIndexRegistry.Entry("cell", cents)
      IvfIndexRegistry.restore("file:/data/layout/", e, 3L)
      assert(IvfIndexRegistry.lookup(Seq("/data/layout")) === Some(e))
      assert(IvfIndexRegistry.generationOfPath("/data/layout") === 3L)
      IvfIndexRegistry.invalidate("/data/layout/")
      assert(IvfIndexRegistry.generationOfPath("file:/data/layout") === 4L)
      // a never-mutated key reads 0; a generation-0 restore records none
      IvfIndexRegistry.restore("/data/other", e, 0L)
      assert(IvfIndexRegistry.generationOfPath("/data/other") === 0L)
    }
  }

  test("unregister stops lookup") {
    cleared {
      HnswGraphRegistry.register("/data/corpus", "vec_id", "embedding", "/data/edges", "/data/meta")
      IvfIndexRegistry.registerCentroids("/data/layout", "cell", cents)
      HnswGraphRegistry.unregister("file:/data/corpus/")
      IvfIndexRegistry.unregister("/data/layout/")
      assert(HnswGraphRegistry.lookup(Seq("/data/corpus")).isEmpty && HnswGraphRegistry.isEmpty)
      assert(IvfIndexRegistry.lookup(Seq("/data/layout")).isEmpty && IvfIndexRegistry.isEmpty)
    }
  }

  test("invalidate purges that graph's walk memo slots only") {
    cleared {
      val slot = (p: String) => (p, 0L, Option.empty[Double], FloatType: org.apache.spark.sql.types.DataType,
        Seq((0L, Seq(1.0))))
      HnswGraphRegistry.walkMemo.put(slot("/g/a"), Seq((0L, 1L)))
      HnswGraphRegistry.walkMemo.put(slot("/g/b"), Seq((0L, 2L)))
      HnswGraphRegistry.invalidate("file:/g/a/")
      assert(HnswGraphRegistry.walkMemo.keySet().toArray.toSeq === Seq(slot("/g/b")))
    }
  }

  test("clear() on each family empties its registry and every probe memo it owns") {
    cleared {
      // the IVF batch range rule fills its family's panel memo for real
      val root = Files.createTempDirectory("graft_registry").toFile.getAbsolutePath
      val corpus = s"$root/corpus"
      import spark.implicits._
      Seq((1L, 0, Seq(1.0, 0.0)), (2L, 1, Seq(0.0, 1.0)), (3L, 0, Seq(0.9, 0.1)))
        .toDF("vec_id", "cell", "embedding").write.parquet(corpus)
      IvfIndexRegistry.registerCentroidsWithRadii(corpus, "cell", "embedding", cents,
        Map(0 -> 0.2, 1 -> 0.2))
      val panel = Seq((7L, Seq(1.0, 0.0))).toDF("qid", "q_emb")
      val q = spark.read.parquet(corpus).crossJoin(panel)
        .filter(round(call_function("cosine_sim", col("embedding"), col("q_emb")), 6) >= 0.9)
      q.queryExecution.optimizedPlan
      assert(!IvfIndexRegistry.panelMemo.isEmpty, "the batch range probe memoized nothing")
      assert(q.select("vec_id").as[Long].collect().toSet === Set(1L, 3L))
      IvfIndexRegistry.clear()
      assert(IvfIndexRegistry.isEmpty && IvfIndexRegistry.panelMemo.isEmpty)
      assert(IvfIndexRegistry.generationOfPath(corpus) === 0L)

      // the graph family: registry, generations, both memo layers
      HnswGraphRegistry.register("/data/corpus", "vec_id", "embedding", "/data/edges", "/data/meta")
      HnswGraphRegistry.invalidate("/data/edges")
      HnswGraphRegistry.walkMemo.put(("/data/edges", 1L, Some(0.5), DoubleType,
        Seq((0L, Seq(1.0)))), Seq((0L, 1L)))
      HnswGraphRegistry.panelMemo.put("slot", None)
      HnswGraphRegistry.clear()
      assert(HnswGraphRegistry.isEmpty && HnswGraphRegistry.walkMemo.isEmpty &&
        HnswGraphRegistry.panelMemo.isEmpty)
      assert(HnswGraphRegistry.generationOfDir("/data/edges") === 0L)
    }
  }
}

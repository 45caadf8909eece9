package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.operators.Hnsw
import graft.plans.HnswGraphRegistry

/** The driver-resident graph copy (Hnsw.GraphCopy) against the per-hop
  * edge probes it replaces for small graphs: identical rows on every exact
  * face at every fixture scale, a load that reads only the graph
  * artifact, and a copy that never outlives the on-disk state it was
  * loaded from — whether that state changes through a maintenance verb,
  * a failed one, an fsCopy or a direct sidecar write.
  */
class HnswResidentSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Run `body` on the per-hop path: a zero cap keeps every graph off the
    * driver.
    */
  private def perHop[T](body: => T): T = {
    val saved = Hnsw.DriverGraphMaxRows
    Hnsw.DriverGraphMaxRows = 0
    try body finally Hnsw.DriverGraphMaxRows = saved
  }

  private def resident(edgesDir: String): Option[Hnsw.GraphCopy] =
    Option(HnswGraphRegistry.residentCopies.get(edgesDir)).flatMap(_._2)

  private def ranked(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sortBy(t => (t._1, t._4))

  private def pool(df: DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(t => (t._1, t._2))

  private def delete(dirs: String*): Unit = dirs.foreach { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** A private clone of the fixture's base graph (edges, shards, meta). */
  private def cloneBase(suffix: String): (String, String) = {
    Hnsw.layout(spark, sf)
    val base = Hnsw.edgesPath(sf)
    val ce = base + suffix
    val cm = ce + "-meta"
    delete(Hnsw.deltaPath(ce), Hnsw.replacedPath(ce), Hnsw.tombstonesPath(ce))
    Seq(base -> ce, Hnsw.shardsPath(base) -> Hnsw.shardsPath(ce), Hnsw.metaPath(sf) -> cm)
      .foreach { case (from, to) => Hnsw.fsCopy(spark, from, to) }
    (ce, cm)
  }

  private def vecOf(id: Long): Seq[Float] =
    Tables.embeddings(spark, sf).filter(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Float](0)

  private def panel(v: Seq[Float]): DataFrame = {
    import spark.implicits._
    Seq((0L, v)).toDF("qid", "q_emb")
  }

  /** The ids a top-5 search for `v` serves, in rank order. */
  private def served(e: String, m: String, v: Seq[Float]): Seq[Long] =
    Hnsw.searchIn(spark, e, m, panel(v), k = 5).collect()
      .sortBy(_.getInt(3)).map(_.getLong(1)).toSeq

  for (fixture <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"resident copy ≡ per-hop probes on every exact face, base and maintained graphs ($fixture)") {
      val dir = s"/root/testdata/$fixture"
      Hnsw.layout(spark, dir)
      val emb = Tables.embeddings(spark, dir)
      val one = emb.filter(col("vec_id") === 0)
        .select(lit(0L).as("qid"), col("embedding").as("q_emb"))
      val three = emb.filter(col("vec_id").isin(0L, 11L, 42L))
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      val graphs = Seq(Hnsw.edgesPath(dir) -> Hnsw.metaPath(dir), Hnsw.maintDemoLayout(spark, dir))
      graphs.foreach { case (e, m) =>
        def adaptiveHops(): Seq[Long] = {
          val r = spark.read.parquet(Hnsw.adaptDumpPath(e, Seq(0L, 11L, 42L), 5)).head()
          (0 until 4).map(r.getLong)
        }
        def faces(): Seq[(String, Any)] = Seq(
          "single" -> ranked(Hnsw.searchIn(spark, e, m, one, k = 5)),
          "panel" -> ranked(Hnsw.searchIn(spark, e, m, three, k = 5)),
          "filtered" -> ranked(Hnsw.searchFilteredIn(spark, e, m, three, 5,
            pmod(col("vec_id"), lit(3L)) === 1L)),
          "adaptive" -> ranked(Hnsw.searchAdaptiveIn(spark, e, m, three, 5)),
          "adaptive hops" -> adaptiveHops(),
          "range" -> pool(Hnsw.searchRangeIn(spark, e, m, three, t = 0.2)))
        // drop any copy an earlier case left, so this one loads under the
        // stats hook
        HnswGraphRegistry.residentCopies.remove(e)
        Hnsw.lastLoadScans = Nil
        Hnsw.collectWalkStats = true
        val fromCopy = try faces() finally Hnsw.collectWalkStats = false
        assert(resident(e).nonEmpty, s"$e was never served from a resident copy")
        val loadScans = Hnsw.lastLoadScans
        val fromProbes = perHop(faces())
        fromCopy.zip(fromProbes).foreach { case ((face, c), (_, p)) =>
          assert(c == p, s"$face face on $e: resident copy ≠ per-hop probes")
        }
        assert(fromCopy.collect { case (_, rows: Seq[_]) => rows.nonEmpty }.forall(identity),
          s"a face served nothing on $e")
        assert(loadScans.exists(_.contains(e)), s"the load never read $e: $loadScans")
        assert(loadScans.exists(_.contains(m)), s"the load never read $m: $loadScans")
        assert(!loadScans.exists(_.contains(s"$dir/embeddings")),
          s"the load read the corpus: ${loadScans.mkString("; ").take(400)}")
      }
    }

  test("append, delete and compact each drop the warmed copy: the next search serves the new state") {
    import spark.implicits._
    val (ce, cm) = cloneBase("-resident-verbs-test")
    val q = vecOf(1L)
    val before = served(ce, cm, q)
    assert(resident(ce).nonEmpty, "the search did not warm a resident copy")
    // APPEND: a fresh node at the normalized mean of rows 5 and 9 serves
    // as its own top-1
    val (a, b) = (vecOf(5L), vecOf(9L))
    val mean = a.zip(b).map { case (x, y) => (x + y) / 2.0 }
    val norm = math.sqrt(mean.map(x => x * x).sum)
    val fresh = mean.map(x => (x / norm).toFloat)
    Hnsw.appendToGraph(spark, sf, ce, cm, Seq((920001L, fresh)).toDF("vec_id", "embedding"))
    assert(served(ce, cm, fresh).head === 920001L, "the appended node is not its own top-1")
    // DELETE: the query's top-2 are never served again
    val doomed = before.take(2)
    Hnsw.deleteFromGraph(spark, ce, cm, doomed)
    val afterDelete = served(ce, cm, q)
    assert(afterDelete.length === 5 && afterDelete.intersect(doomed).isEmpty,
      s"a deleted id was served: $afterDelete, deleted $doomed")
    // COMPACT: the folded graph still serves the append and not the deletes
    Hnsw.compactGraph(spark, ce, cm)
    assert(served(ce, cm, fresh).head === 920001L, "compaction lost the appended node")
    assert(served(ce, cm, q).intersect(doomed).isEmpty, "compaction resurrected a deleted id")
    assert(resident(ce).nonEmpty, "the searches after compaction were not served resident")
  }

  test("an fsCopy over a searched clone and a direct tombstone write into it are both served fresh") {
    import spark.implicits._
    val (ce, cm) = cloneBase("-resident-fresh-test")
    val (de, dm) = Hnsw.maintDemoLayout(spark, sf)
    val appended = spark.read.parquet(Hnsw.shardsPath(de))
      .filter(col("vec_id") === Hnsw.AppendedId).select(col("embedding")).head().getSeq[Float](0)
    val q0 = vecOf(0L)
    assert(served(ce, cm, appended).head !== Hnsw.AppendedId)
    val baseTop = served(ce, cm, q0)
    assert(resident(ce).nonEmpty, "the searches did not warm a resident copy")
    // byte-copy the maintained demo graph (delta, replaced and tombstone
    // sidecars) over the searched clone, outside every maintenance verb
    Seq(de -> ce, Hnsw.deltaPath(de) -> Hnsw.deltaPath(ce),
      Hnsw.replacedPath(de) -> Hnsw.replacedPath(ce),
      Hnsw.tombstonesPath(de) -> Hnsw.tombstonesPath(ce),
      Hnsw.shardsPath(de) -> Hnsw.shardsPath(ce), dm -> cm)
      .foreach { case (from, to) => Hnsw.fsCopy(spark, from, to) }
    assert(served(ce, cm, appended).head === Hnsw.AppendedId,
      "the copied-in graph's appended node is not served")
    assert(served(ce, cm, q0) === served(de, dm, q0), "the clone serves a stale graph")
    assert(!served(ce, cm, q0).contains(baseTop.head), "the demo's deleted top-1 is served")
    // a tombstone written straight into the sidecar, no verb involved
    val victim = served(ce, cm, q0).head
    Seq(victim).toDF("vec_id").write.mode("append").parquet(Hnsw.tombstonesPath(ce))
    assert(!served(ce, cm, q0).contains(victim), s"the tombstoned id $victim is still served")
  }

  test("a delete that fails after its tombstone append still bumps the generation and drops the memo and the copy") {
    val (ce, cm) = cloneBase("-failed-delete-test")
    val q = vecOf(1L).map(_.toDouble).toArray
    val entry = HnswGraphRegistry.Entry("vec_id", "embedding", ce, cm)
    val victim = HnswGraphRegistry.beamIds(spark, entry, q).head
    val gen = HnswGraphRegistry.generationOfDir(ce)
    def memoized: Boolean = HnswGraphRegistry.walkMemo.keySet().asScala.exists(_._1 == ce)
    assert(resident(ce).nonEmpty, "the probe did not warm a resident copy")
    assert(memoized, "the probe did not memoize its walk")
    // the meta vanishes under the verb: the tombstone append lands, the
    // meta read after it throws
    delete(cm)
    intercept[Exception](Hnsw.deleteFromGraph(spark, ce, cm, Seq(victim)))
    assert(spark.read.parquet(Hnsw.tombstonesPath(ce)).collect().map(_.getLong(0)).contains(victim),
      "the delete failed before its tombstone append")
    assert(HnswGraphRegistry.generationOfDir(ce) === gen + 1,
      "a failed delete left the generation unbumped")
    assert(!memoized, "a failed delete left the walk memo in place")
    assert(!HnswGraphRegistry.residentCopies.containsKey(ce),
      "a failed delete left the resident copy in place")
  }
}

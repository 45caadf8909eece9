package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Hnsw
import graft.plans.HnswGraphRegistry

/** The maintenance verbs on their two paths: a graph within
  * Hnsw.DriverGraphMaxRows is appended to, deleted from and compacted on
  * the driver from its resident copy, a larger one by the distributed
  * verbs. Both must write the same rows, the copy a verb patches must
  * equal a fresh load of what it wrote, a failed compaction must leave the
  * served graph as it was, so must a failed append, an append must refuse
  * ids the graph already holds, and a build must refuse a corpus that
  * repeats an id.
  */
class HnswMaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def withCap[T](cap: Long)(body: => T): T = {
    val saved = Hnsw.DriverGraphMaxRows
    Hnsw.DriverGraphMaxRows = cap
    try body finally Hnsw.DriverGraphMaxRows = saved
  }

  private def fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())

  private def exists(dir: String): Boolean = fs.exists(new org.apache.hadoop.fs.Path(dir))

  /** The graph's on-disk artifacts: base, the four sidecars, meta. */
  private def artifacts(e: String, m: String): Seq[String] =
    Seq(e, Hnsw.deltaPath(e), Hnsw.replacedPath(e), Hnsw.tombstonesPath(e), Hnsw.shardsPath(e), m)

  /** A private clone of a graph with every artifact it has. */
  private def cloneGraph(e: String, m: String, suffix: String): (String, String) = {
    val (ce, cm) = (e + suffix, e + suffix + "-meta")
    (artifacts(ce, cm) ++ Seq(ce, Hnsw.shardsPath(ce)).flatMap(d => Seq(d + "-compact-tmp", d + "-compact-old")))
      .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    artifacts(e, m).zip(artifacts(ce, cm)).filter(p => exists(p._1))
      .foreach { case (from, to) => Hnsw.fsCopy(spark, from, to) }
    (ce, cm)
  }

  /** A directory's rows as sorted strings, columns in name order. */
  private def contents(dir: String): Seq[String] =
    if (!exists(dir)) Nil
    else {
      val df = spark.read.parquet(dir)
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("|")).toSeq.sorted
    }

  private def resident(e: String): Option[Hnsw.GraphCopy] =
    Option(HnswGraphRegistry.residentCopies.get(e)).flatMap(_._2)

  /** A copy as comparable values: rows with their vectors, members,
    * tombstones, latest gens, row counts and meta.
    */
  private def canonical(c: Hnsw.GraphCopy): Seq[Any] = Seq(
    c.rows.map { case (l, s, d, e) => ((l, s, d), e.toFloatArray.toSeq) }.toSeq.sortBy(_._1),
    c.members.toSeq.flatMap { case (sh, ms) => ms.map { case (id, e) => ((sh, id), e.toFloatArray.toSeq) } }
      .sortBy(_._1),
    c.tombs.toSeq.sorted, c.latest.toSeq.sorted, c.edgeRows, c.deltaRows, c.meta)

  private def panel(dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id").isin(0L, 11L, 42L))
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))

  private def ranked(e: String, m: String, q: DataFrame): Seq[(Long, Long, Double, Int)] =
    Hnsw.searchIn(spark, e, m, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sortBy(t => (t._1, t._4))

  /** Fresh unit vectors (normalized means of two corpus rows) under new
    * ids, collected into a driver-built frame both paths read alike.
    */
  private def fresh(dir: String, ids: Seq[(Long, Long, Long)]): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val df = ids.map { case (id, a, b) =>
      emb.filter(col("vec_id") === a).select(col("embedding").as("__ea"))
        .crossJoin(emb.filter(col("vec_id") === b).select(col("embedding").as("__eb")))
        .select(lit(id).as("vec_id"), graft.functions.VectorOps.l2Normalize(
          zip_with(col("__ea"), col("__eb"), (x, y) => (x + y) / lit(2.0))).cast("array<float>").as("embedding"))
    }.reduce(_ unionByName _)
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
  }

  private def entryOf(m: String): Long = spark.read.parquet(m).head().getAs[Long]("entry")

  /** Data files in each directory of a (partitioned) artifact that holds any. */
  private def filesPerDir(dir: String): Map[String, Int] = {
    val files = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    Iterator.continually(files).takeWhile(_.hasNext()).map(_.next().getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .toSeq.groupBy(_.getParent.toString).map { case (d, ps) => d -> ps.length }
  }

  private def assertOneFilePerDir(dir: String, what: String): Unit = {
    val split = filesPerDir(dir).filter(_._2 != 1)
    assert(split.isEmpty, s"$what: ${split.size} directories of $dir hold more than one file: ${split.take(3)}")
  }

  /** A graph's built artifacts: base, shards and meta. */
  private def builtArtifacts(e: String, m: String): Seq[String] = Seq(e, Hnsw.shardsPath(e), m)

  for (fixture <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"the driver build writes the distributed build's rows, one file per directory ($fixture)") {
      val dir = s"/root/testdata/$fixture"
      graft.operators.Ann.kmeansLayout(spark, dir)
      Hnsw.resetMemos()
      val jobs = PlanTestUtil.jobsOf(spark)(Hnsw.layout(spark, dir))
      assert(jobs <= 4, s"the graph of $fixture did not build on the driver: $jobs Spark jobs")
      val (e, m) = (Hnsw.edgesPath(dir), Hnsw.metaPath(dir))
      val (ae, am) = (e + "-driver-built", e + "-driver-built-meta")
      builtArtifacts(e, m).zip(builtArtifacts(ae, am)).foreach { case (from, to) => Hnsw.fsCopy(spark, from, to) }
      Hnsw.resetMemos()
      withCap(0)(Hnsw.layout(spark, dir))
      builtArtifacts(ae, am).zip(builtArtifacts(e, m)).foreach { case (d, s) =>
        val (driver, distributed) = (contents(d), contents(s))
        val same = driver.nonEmpty && driver == distributed
        assert(same, s"driver-built $d ≠ distributed $s: ${driver.diff(distributed).size} rows only in the " +
          s"driver build, ${distributed.diff(driver).size} only in the distributed one")
      }
      Seq(ae -> "the driver-built base", Hnsw.shardsPath(ae) -> "the driver-built shards",
        e -> "the distributed base").foreach { case (d, what) => assertOneFilePerDir(d, what) }
      assert(ranked(ae, am, panel(dir)) == ranked(e, m, panel(dir)), "the two builds serve other results")
    }

  for (fixture <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"driver-path append, delete and compact ≡ the distributed verbs, row for row ($fixture)") {
      val dir = s"/root/testdata/$fixture"
      Hnsw.layout(spark, dir)
      val graphs = Seq("base" -> (Hnsw.edgesPath(dir), Hnsw.metaPath(dir)),
        "maint" -> Hnsw.maintDemoLayout(spark, dir))
      val nv = fresh(dir, Seq((930001L, 5L, 9L), (930002L, 101L, 202L), (930003L, 17L, 33L)))
      graphs.foreach { case (name, (e, m)) =>
        val (de, dm) = cloneGraph(e, m, s"-driver-verbs-$name")
        val (se, sm) = cloneGraph(e, m, s"-scale-verbs-$name")
        def step(what: String)(verb: (String, String) => Unit): Unit = {
          verb(de, dm)
          withCap(0)(verb(se, sm))
          artifacts(de, dm).zip(artifacts(se, sm)).foreach { case (d, s) =>
            assert(contents(d) == contents(s), s"$what on the $name graph: $d ≠ $s")
          }
          val patched = resident(de)
          assert(patched.nonEmpty, s"$what on the $name graph did not run on the driver")
          assert(canonical(patched.get) == canonical(Hnsw.loadCopy(spark, de, dm).get),
            s"$what on the $name graph: the patched copy ≠ a fresh load")
          assert(patched.get.decision ==
            Hnsw.maintenancePlan(spark, de).select(col("decision")).head().getString(0),
            s"$what on the $name graph: the copy's maintenance decision ≠ the plan's")
          assert(ranked(de, dm, panel(dir)) == ranked(se, sm, panel(dir)),
            s"$what on the $name graph: searches differ")
        }
        step("append")(Hnsw.appendToGraph(spark, dir, _, _, nv))
        // the entry, the query's top-10 and one appended id: past the
        // tombstone threshold on the 500-node fixtures
        val doomed = (entryOf(dm) +: Hnsw.searchIn(spark, de, dm,
          panel(dir).filter(col("qid") === 0L), k = 10).collect().map(_.getLong(1)).toSeq) :+ 930002L
        step("delete")(Hnsw.deleteFromGraph(spark, _, _, doomed))
        assert(!doomed.contains(entryOf(dm)), s"the deleted entry was not re-elected on the $name graph")
        step("compact")(Hnsw.compactGraph(spark, _, _))
        assertOneFilePerDir(de, s"the driver-compacted $name base")
        assertOneFilePerDir(se, s"the distributed-compacted $name base")
      }
    }

  for ((path, cap) <- Seq("driver" -> Hnsw.DriverGraphMaxRows, "distributed" -> 0L))
    test(s"a compaction whose base write fails leaves the served graph and its results as before ($path path)") {
      val (de, dm) = Hnsw.maintDemoLayout(spark, sf)
      val (ce, cm) = cloneGraph(de, dm, s"-compact-crash-$path")
      val before = artifacts(ce, cm).map(contents)
      val served = ranked(ce, cm, panel(sf))
      withCap(cap) {
        intercept[Exception](FailingCommitProtocol.failingWritesUnder(spark, ce)(
          Hnsw.compactGraph(spark, ce, cm)))
      }
      assert(artifacts(ce, cm).map(contents) == before, "the failed compaction changed the graph")
      assert(ranked(ce, cm, panel(sf)) == served, "the failed compaction changed the served results")
      withCap(0)(assert(ranked(ce, cm, panel(sf)) == served, "the per-hop walk serves other results"))
      // the next compaction completes and serves the same results
      withCap(cap)(Hnsw.compactGraph(spark, ce, cm))
      assert(!exists(Hnsw.tombstonesPath(ce)) && ranked(ce, cm, panel(sf)) == served)
    }

  for ((path, cap) <- Seq("driver" -> Hnsw.DriverGraphMaxRows, "distributed" -> 0L))
    test(s"an append whose delta write fails leaves the graph and its results as before, and a retry lands ($path path)") {
      val (de, dm) = Hnsw.maintDemoLayout(spark, sf)
      val (ce, cm) = cloneGraph(de, dm, s"-append-crash-$path")
      val before = artifacts(ce, cm).map(contents)
      val served = ranked(ce, cm, panel(sf))
      val nv = fresh(sf, Seq((960001L, 5L, 9L), (960002L, 101L, 202L)))
      withCap(cap) {
        intercept[Exception](FailingCommitProtocol.failingWritesUnder(spark, Hnsw.deltaPath(ce))(
          Hnsw.appendToGraph(spark, sf, ce, cm, nv)))
      }
      assert(artifacts(ce, cm).map(contents) == before, "the failed append changed the graph")
      Seq(Hnsw.deltaPath(ce), Hnsw.replacedPath(ce), Hnsw.shardsPath(ce)).foreach { d =>
        assert(!exists(d + "-append-tmp") && !exists(d + "/_temporary"), s"the failed append left staging files by $d")
      }
      assert(ranked(ce, cm, panel(sf)) == served, "the failed append changed the served results")
      withCap(0)(assert(ranked(ce, cm, panel(sf)) == served, "the per-hop walk serves other results"))
      // the retry is not refused as "already members", and lands whole
      val n = spark.read.parquet(cm).head().getAs[Long]("corpus_n")
      withCap(cap)(Hnsw.appendToGraph(spark, sf, ce, cm, nv))
      assert(spark.read.parquet(cm).head().getAs[Long]("corpus_n") == n + 2)
      assert(spark.read.parquet(Hnsw.shardsPath(ce)).filter(col("vec_id").isin(960001L, 960002L))
        .select("vec_id").distinct().count() == 2)
      assert(spark.read.parquet(Hnsw.deltaPath(ce)).filter(col("src") === 960001L).count() > 0)
    }

  test("a build refuses a corpus that repeats a vec_id, on the driver and in Spark tasks") {
    // the sf0.001 corpus plus a second row for id 7, carrying row 8's vector
    val dir = s"${sys.props("java.io.tmpdir")}/graft-hnsw-repeated-id-sf"
    val emb = Tables.embeddings(spark, sf)
    emb.unionByName(emb.filter(col("vec_id") === 8L).withColumn("vec_id", lit(7L)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    graft.operators.Ann.kmeansLayout(spark, dir)
    Seq("driver" -> Hnsw.DriverGraphMaxRows, "distributed" -> 0L).foreach { case (path, cap) =>
      val e = withCap(cap)(intercept[IllegalArgumentException](Hnsw.layout(spark, dir)))
      assert(e.getMessage.contains("repeats vec_id 7"), s"$path path: ${e.getMessage}")
    }
  }

  for ((path, cap) <- Seq("driver" -> Hnsw.DriverGraphMaxRows, "distributed" -> 0L))
    test(s"an append refuses repeated ids and ids already in the graph, tombstoned ones included ($path path)") {
      val (de, dm) = Hnsw.maintDemoLayout(spark, sf)
      val (ce, cm) = cloneGraph(de, dm, s"-append-ids-$path")
      val before = artifacts(ce, cm).map(contents)
      val tombstoned = spark.read.parquet(Hnsw.tombstonesPath(ce)).head().getLong(0)
      val batches = Seq(
        "a repeated new id" -> fresh(sf, Seq((940001L, 5L, 9L), (940001L, 7L, 8L))),
        "a live member" -> fresh(sf, Seq((940002L, 5L, 9L), (Hnsw.AppendedId, 7L, 8L))),
        "a tombstoned member" -> fresh(sf, Seq((tombstoned, 5L, 9L))))
      withCap(cap) {
        batches.foreach { case (what, nv) =>
          val e = intercept[IllegalArgumentException](Hnsw.appendToGraph(spark, sf, ce, cm, nv))
          assert(e.getMessage.contains("appendToGraph"), s"$what: ${e.getMessage}")
          assert(artifacts(ce, cm).map(contents) == before, s"an append of $what wrote to the graph")
        }
      }
    }

  test("every sidecar a verb writes, on either path, has its declared footer schema") {
    def footer(dir: String): StructType = spark.read.option("mergeSchema", "true").parquet(dir).schema
    // the built artifacts the readers open with declared schemas
    Hnsw.pqLayout(spark, sf)
    Seq(Hnsw.edgesPath(sf) -> Hnsw.BaseSchema, Hnsw.metaPath(sf) -> Hnsw.MetaSchema,
      Hnsw.pqEdgesPath(sf) -> Hnsw.PqEdgesSchema, Hnsw.pqMetaPath(sf) -> Hnsw.PqMetaSchema)
      .foreach { case (dir, schema) => assert(footer(dir) == schema, s"the built $dir") }
    val nv = fresh(sf, Seq((950001L, 5L, 9L), (950002L, 101L, 202L)))
    Seq("driver" -> Hnsw.DriverGraphMaxRows, "distributed" -> 0L).foreach { case (path, cap) =>
      val (ce, cm) = cloneGraph(Hnsw.edgesPath(sf), Hnsw.metaPath(sf), s"-schema-$path")
      withCap(cap) {
        Hnsw.appendToGraph(spark, sf, ce, cm, nv)
        Hnsw.deleteFromGraph(spark, ce, cm, Seq(entryOf(cm), 950001L))
        Seq(Hnsw.deltaPath(ce) -> Hnsw.DeltaSchema, Hnsw.replacedPath(ce) -> Hnsw.ReplacedSchema,
          Hnsw.tombstonesPath(ce) -> Hnsw.TombstoneSchema, Hnsw.shardsPath(ce) -> Hnsw.ShardsSchema,
          cm -> Hnsw.MetaSchema).foreach { case (dir, schema) =>
          assert(footer(dir) == schema, s"$path path: $dir")
        }
        Hnsw.compactGraph(spark, ce, cm)
        assert(footer(ce) == Hnsw.BaseSchema, s"$path path: the compacted base")
        assert(footer(Hnsw.shardsPath(ce)) == Hnsw.ShardsSchema, s"$path path: the compacted shards")
      }
    }
  }

  test("the driver's digest and membership fingerprint ≡ Spark's") {
    import spark.implicits._
    val ids = (0L until 2000L) ++ Seq(-1L, Long.MaxValue, Long.MinValue, 900001L)
    val sparkDigests = ids.toDF("id")
      .select(graft.functions.Digests.digest60(col("id").cast("string"))).collect().map(_.getLong(0)).toSeq
    assert(ids.map(i => graft.functions.Digests.digest60Of(i.toString)) == sparkDigests)
    val fp = graft.streaming.Streaming.fingerprintStream(ids.toDF("id"), col("id").cast("string")).head()
    assert(graft.functions.Digests.fingerprintOf(ids.map(_.toString)) == ((fp.getLong(0), fp.getLong(1))))
  }
}

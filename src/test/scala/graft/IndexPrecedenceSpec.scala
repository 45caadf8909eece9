package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.GraftFunctions
import graft.operators.{Ann, Hnsw}
import graft.plans.{HnswGraphRegistry, IndexCatalog, IvfIndexRegistry}
import graft.streaming.Streaming

/** Index precedence on one table that carries a graph and an IVF index:
  * every query shape of the transparent vector-index rewrite (top-k,
  * batch top-k, range, batch range) under every registration state, by
  * the index [[IndexCatalog.servedBy]] credits, and the optimized plan a
  * fixed point of the optimizer (a second run stacks no prune). Plus the
  * registry-resolved range serve agreeing with the SQL face.
  */
class IndexPrecedenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def clearAll(): Unit = { HnswGraphRegistry.clear(); IvfIndexRegistry.clear() }

  test("precedence matrix: four shapes × five registration states, servedBy tags and idempotent plans") {
    GraftFunctions.register(spark)
    Hnsw.layout(spark, sf)
    val (path, cents) = Ann.kmeansLayout(spark, sf)
    val radii = Ann.loadRadii(spark, sf)
    val edges = Hnsw.edgesPath(sf)
    val qVec = spark.read.parquet(path).filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    def panelBelow(n: Int) = Tables.embeddings(spark, sf).filter(col("vec_id") < n)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    def panel = panelBelow(3)
    def corpus = spark.read.parquet(path)
    def litSim = round(GraftFunctions.cosineSim(col("embedding"), lit(qVec)), 6)
    def pairSim = round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 6)
    val shapes: Seq[(String, () => DataFrame)] = Seq(
      "top-k" -> (() => corpus.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), litSim.as("sim"))
        .orderBy(col("sim").desc, col("vec_id").asc).limit(5)),
      "batch top-k" -> (() => corpus.crossJoin(panel)
        .withColumn("sim", pairSim)
        .withColumn("rnk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("vec_id").asc)))
        .filter(col("rnk") <= 3)
        // the cell column stays visible: the IVF face keys its per-qid
        // semi-join on it
        .select(col("qid"), col("vec_id"), col("cell"), col("sim"), col("rnk"))),
      "range 0.2" -> (() => corpus.withColumn("sim", litSim)
        .filter(col("sim") >= 0.2).select(col("vec_id"), col("sim"))),
      "range 0.99" -> (() => corpus.withColumn("sim", litSim)
        .filter(col("sim") >= 0.99).select(col("vec_id"), col("sim"))),
      "batch range 0.2" -> (() => corpus.crossJoin(panel).withColumn("sim", pairSim)
        .filter(col("sim") >= 0.2).select(col("qid"), col("vec_id"), col("sim"))),
      "batch range 0.99" -> (() => corpus.crossJoin(panel).withColumn("sim", pairSim)
        .filter(col("sim") >= 0.99).select(col("qid"), col("vec_id"), col("sim"))),
      "batch range 0.99, qid 0" -> (() => corpus.crossJoin(panelBelow(1))
        .withColumn("sim", pairSim)
        .filter(col("sim") >= 0.99).select(col("qid"), col("vec_id"), col("sim"))))
    val graph = () => HnswGraphRegistry.register(path, "vec_id", "embedding",
      edges, Hnsw.metaPath(sf))
    val ivf = () => IvfIndexRegistry.registerCentroids(spark, path, "cell",
      "vec_id", "embedding", cents)
    val ivfRadii = () => IvfIndexRegistry.registerCentroidsWithRadii(path, "cell",
      "embedding", cents, radii, idCol = Some("vec_id"))
    val g = s"hnsw:$edges"; val gr = s"hnsw-range:$edges"
    val gb = s"hnsw-batch:$edges"; val grb = s"hnsw-range-batch:$edges"
    val i = s"ivf:$path"; val ib = s"ivf-batch:$path"; val ir = s"ivf-range:$path"
    // (state, registrations, expected tags per shape in `shapes` order).
    // Top-k faces: graph, then IVF. Range faces: a radii-armed IVF owns the
    // shape, serving (0.99 prunes cells) or declining (0.2 admits every
    // cell, and so do the admissions of panel qids 0-2 at 0.99); otherwise
    // the graph walks, or declines on an empty pool (at 0.99 only the query
    // fixture vector 0, which the graph omits, reaches query 0; panel qids
    // 1 and 2 find themselves).
    val matrix: Seq[(String, Seq[() => Unit], Seq[Seq[String]])] = Seq(
      ("graph only", Seq(graph), Seq(Seq(g), Seq(gb), Seq(gr), Nil, Seq(grb), Seq(grb), Nil)),
      ("IVF only", Seq(ivf), Seq(Seq(i), Seq(ib), Nil, Nil, Nil, Nil, Nil)),
      ("IVF with radii", Seq(ivfRadii),
        Seq(Seq(i), Seq(ib), Nil, Seq(ir), Nil, Nil, Seq(ir))),
      ("graph + IVF", Seq(graph, ivf),
        Seq(Seq(g), Seq(gb), Seq(gr), Nil, Seq(grb), Seq(grb), Nil)),
      ("graph + IVF with radii", Seq(graph, ivfRadii),
        Seq(Seq(g), Seq(gb), Nil, Seq(ir), Nil, Nil, Seq(ir))))
    try {
      matrix.foreach { case (state, registrations, want) =>
        clearAll()
        registrations.foreach(_())
        shapes.zip(want).foreach { case ((shape, q), tags) =>
          val df = q()
          assert(IndexCatalog.servedBy(df) === tags, s"$shape under $state")
          val optimized = df.queryExecution.optimizedPlan
          assert(spark.sessionState.optimizer.execute(optimized) === optimized,
            s"$shape under $state: a second optimizer run changed the plan")
        }
      }
    } finally clearAll()
  }

  test("range serve: the API and SQL faces agree when a radii-armed IVF shares the table with a graph") {
    GraftFunctions.register(spark)
    Hnsw.layout(spark, sf)
    val (path, cents) = Ann.kmeansLayout(spark, sf)
    // the query fixture vector 0 sits in this layout but not in the graph:
    // an exact answer holds (0, 0, 1.0), a walk-served one cannot
    val panel = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    def sql(t: Double) = spark.read.parquet(path).crossJoin(panel)
      .withColumn("sim", round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 6))
      .filter(col("sim") >= t)
      .select(col("qid"), col("vec_id"), col("sim"))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      clearAll()
      val exact = Seq(0.2, 0.99).map(t => t -> rows(sql(t))).toMap
      HnswGraphRegistry.register(path, "vec_id", "embedding",
        Hnsw.edgesPath(sf), Hnsw.metaPath(sf))
      IvfIndexRegistry.registerCentroidsWithRadii(path, "cell", "embedding",
        cents, Ann.loadRadii(spark, sf), idCol = Some("vec_id"))
      Seq(0.2, 0.99).foreach { t =>
        assert(exact(t).contains((0L, 0L, 1.0)), s"fixture drift at t=$t")
        assert(rows(Streaming.indexServeRangeBatch(panel, path, t)) === exact(t),
          s"registry-resolved range serve diverged from the exact scan at t=$t")
        assert(rows(sql(t)) === exact(t), s"rewritten SQL diverged from the exact scan at t=$t")
      }
    } finally clearAll()
  }
}


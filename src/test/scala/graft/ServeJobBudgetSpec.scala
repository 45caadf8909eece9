package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Hnsw
import graft.streaming.Streaming

/** Pins the Spark job count of the reference's one online operation: a
  * single-query top-5 serve through the registry
  * (`Streaming.indexServeOne`, the reference's `POST /api/search`) on a
  * registered graph that carries delta, replaced and tombstone sidecars
  * (the maintenance demo clone — the state a churning index serves from).
  * A warm serve walks the driver-resident copy of the graph; the first
  * serve after a mutation pays the copy's load. The budgets may only
  * tighten.
  */
class ServeJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Jobs of one warm serve + collect on this fixture at local[4]: 23
    * before the search faces shared one walk, 21 after (an already-local
    * query panel is no longer checkpointed and re-collected), 0 once the
    * walk and the top-k cut run over the resident copy.
    */
  val ServeJobBudget = 0

  /** Jobs of the first serve after a mutation, which loads the resident
    * copy: the graph open (schema reads and sidecar probes — 8 on the
    * maintained graph), the capped collect of the live adjacency (3) and
    * the meta read (1).
    */
  val LoadJobBudget = 12

  /** Jobs of one append (2 vectors) + delete (2 ids, one the entry) +
    * maintainGraph round on a private clone of this fixture's graph: 71
    * counted before the writers shared one publish protocol, when the
    * append's pooled jobs ran on the global execution context and most
    * of them did not carry the caller's job group; 86 after, with every
    * pooled job counted (85 jobs in all, against 90 before).
    */
  val UpdateJobBudget = 86

  /** Jobs started by `body`, counted under a unique job group (inherited
    * by staging and broadcast jobs), so other threads' jobs never count.
    */
  private def jobsOf(body: => Unit): Int = {
    val tag = s"serve-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            tag == j.properties.getProperty("spark.jobGroup.id")) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
      body
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("single-query top-5 serve on a registered graph stays within its job budget") {
    val (de, dm) = Hnsw.maintDemoLayout(spark, sf)
    val corpus = Hnsw.rewriteCorpusLayout(spark, sf)
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 1)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    try {
      graft.plans.HnswGraphRegistry.register(corpus, "vec_id", "embedding", de, dm)
      // the first call pays one-time session work (function registration,
      // codegen); the budget is for the steady-state call
      Streaming.indexServeOne(spark, corpus, q, k = 5).collect()
      var rows = Array.empty[org.apache.spark.sql.Row]
      val jobs = jobsOf {
        rows = Streaming.indexServeOne(spark, corpus, q, k = 5).collect()
      }
      info(s"single-query serve: $jobs Spark jobs")
      assert(rows.length === 5)
      assert(jobs <= ServeJobBudget,
        s"a single-query serve ran $jobs jobs, over its budget of $ServeJobBudget")
    } finally graft.plans.HnswGraphRegistry.clear()
  }

  test("the first serve after a mutation loads the resident copy within its job budget") {
    // a private clone of the maintained graph, sidecars included
    val (de, dm) = Hnsw.maintDemoLayout(spark, sf)
    val ce = de + "-load-jobs-test"
    val cm = ce + "-meta"
    Seq(de -> ce, Hnsw.deltaPath(de) -> Hnsw.deltaPath(ce),
      Hnsw.replacedPath(de) -> Hnsw.replacedPath(ce),
      Hnsw.tombstonesPath(de) -> Hnsw.tombstonesPath(ce),
      Hnsw.shardsPath(de) -> Hnsw.shardsPath(ce), dm -> cm)
      .foreach { case (from, to) => Hnsw.fsCopy(spark, from, to) }
    val corpus = Hnsw.rewriteCorpusLayout(spark, sf)
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 1)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    try {
      graft.plans.HnswGraphRegistry.register(corpus, "vec_id", "embedding", ce, cm)
      val top = Streaming.indexServeOne(spark, corpus, q, k = 5).collect()
      Hnsw.deleteFromGraph(spark, ce, cm, Seq(top.head.getLong(0)))
      var rows = Array.empty[org.apache.spark.sql.Row]
      val load = jobsOf {
        rows = Streaming.indexServeOne(spark, corpus, q, k = 5).collect()
      }
      val warm = jobsOf(Streaming.indexServeOne(spark, corpus, q, k = 5).collect())
      info(s"first serve after a delete: $load Spark jobs; the next: $warm")
      assert(rows.length === 5 && !rows.map(_.getLong(0)).contains(top.head.getLong(0)))
      assert(load <= LoadJobBudget,
        s"the first serve after a mutation ran $load jobs, over its budget of $LoadJobBudget")
      assert(warm <= ServeJobBudget,
        s"the serve after the load ran $warm jobs, over its budget of $ServeJobBudget")
    } finally graft.plans.HnswGraphRegistry.clear()
  }

  test("append, delete with re-election, and maintain on a private graph clone stay within their job budget") {
    Hnsw.layout(spark, sf)
    val base = Hnsw.edgesPath(sf)
    val ce = base + "-update-jobs-test"
    val cm = ce + "-meta"
    val fs = new org.apache.hadoop.fs.Path(ce).getFileSystem(spark.sessionState.newHadoopConf())
    Seq(Hnsw.deltaPath(ce), Hnsw.replacedPath(ce), Hnsw.tombstonesPath(ce))
      .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    Seq(base -> ce, Hnsw.shardsPath(base) -> Hnsw.shardsPath(ce), Hnsw.metaPath(sf) -> cm)
      .foreach { case (from, to) => Hnsw.fsCopy(spark, from, to) }
    // two fresh ids carrying the negated vectors of corpus rows 3 and 7
    val fresh = Tables.embeddings(spark, sf).filter(col("vec_id").isin(3L, 7L))
      .select((col("vec_id") + 910000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
      .localCheckpoint()
    val entry = spark.read.parquet(cm).head().getAs[Long]("entry")
    val doomed = Seq(entry, if (entry == 1L) 2L else 1L)
    var compacted = false
    val jobs = jobsOf {
      Hnsw.appendToGraph(spark, sf, ce, cm, fresh)
      Hnsw.deleteFromGraph(spark, ce, cm, doomed)
      compacted = Hnsw.maintainGraph(spark, ce, cm)
    }
    info(s"append + delete + maintain (compacted = $compacted): $jobs Spark jobs")
    assert(spark.read.parquet(cm).head().getAs[Long]("entry") !== entry)
    assert(jobs <= UpdateJobBudget,
      s"the update round ran $jobs jobs, over its budget of $UpdateJobBudget")
  }
}

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
  * The graph walk issues one job per hop; the budget may only tighten.
  */
class ServeJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** Jobs of one warm serve + collect on this fixture at local[4]: 23
    * before the search faces shared one walk, 21 after (an already-local
    * query panel is no longer checkpointed and re-collected).
    */
  val ServeJobBudget = 21

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
}

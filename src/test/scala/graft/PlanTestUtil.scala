package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan inspection that cannot pass vacuously. TreeNode.collect /
  * collectLeaves DO NOT descend into AdaptiveSparkPlanExec (it is a
  * leaf-shaped wrapper holding the real executed plan in a field), so a
  * numFiles pin written as `executedPlan.collectLeaves().flatMap(metrics)`
  * on an AQE-wrapped join plan sums an EMPTY sequence — `0 < total` then
  * passes without measuring anything (a latent false pin this helper
  * replaced, round 11).
  */
object PlanTestUtil {

  /** Every physical node of an executed plan, descending through the
    * adaptive wrappers.
    */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: inner.flatMap(allNodes)
  }

  /** Total parquet files the executed plan's file scans planned. None when
    * the plan holds NO file scan at all — callers must .get, so a pruning
    * pin can never silently pass on an unexpectedly opaque plan.
    */
  def scannedFiles(df: DataFrame): Option[Long] = {
    val scans = allNodes(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    if (scans.isEmpty) None
    else Some(scans.flatMap(_.metrics.get("numFiles").map(_.value)).sum)
  }

  /** Spark jobs started by `body`, counted under a unique job group
    * (inherited by staging and broadcast jobs), so other threads' jobs
    * never count.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = jobDescriptionsOf(spark)(body).length

  /** The `spark.job.description` of each Spark job `body` starts, in start
    * order, under a unique job group as in [[jobsOf]]. A job nobody
    * labelled carries the group's own description and reads None.
    */
  def jobDescriptionsOf(spark: SparkSession)(body: => Unit): Seq[Option[String]] = {
    val tag = s"counted-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && tag == j.properties.getProperty("spark.jobGroup.id"))
          jobs.add(Option(j.properties.getProperty("spark.job.description")).filter(_ != tag))
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
    jobs.toArray(Array.empty[Option[String]]).toSeq
  }
}

package graft.operators

import org.apache.spark.ml.clustering.{GraftKMeansBridge, KMeansModel}
import org.apache.spark.ml.linalg.{Vector => MLVector}
import org.apache.spark.mllib.clustering.GraftLocalKMeans
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Drop-in for `new ml.KMeans()...fit(prepared)` on the engine's
  * SAMPLE-SCALE fit inputs (every trained layout collapses its fit input
  * to one cached partition first — kmeans centers are KBs of index
  * metadata). Collects the single partition in row order and trains with
  * [[GraftLocalKMeans]] — bit-identical centers (LocalKMeansSpec pins
  * this against the real `fit` on the bench corpora), zero Spark jobs
  * instead of the ~25-45 one-task jobs MLlib's RDD trainer schedules
  * (guide §1.2: the fastest distributed algorithm for driver-sized data
  * is no distribution at all). The returned model is a regular
  * `ml.KMeansModel`, so `transform` (the map-only corpus assignment —
  * that part STAYS distributed) and `clusterCenters` behave exactly as
  * before.
  */
object LocalKMeansFit {

  /** `prepared` must be a single-partition frame (the callers'
    * `repartition(1)` shape) with `featuresCol` holding ml vectors —
    * collect order is then partition-0 row order, exactly the RDD order
    * MLlib's trainer would fold.
    */
  def fit(prepared: DataFrame, featuresCol: String, predictionCol: String,
          k: Int, seed: Long, maxIter: Int = 20,
          distanceMeasure: String = "euclidean"): KMeansModel = {
    val parts = numPartitions(prepared.queryExecution.executedPlan)
    require(parts == 1, s"LocalKMeansFit.fit needs a single-partition input " +
      s"(repartition(1)); got $parts partitions — collect order would not be MLlib's fold order")
    val points = prepared.select(featuresCol).collect()
      .map(r => OldVectors.fromML(r.getAs[MLVector](0)))
    val centers =
      GraftLocalKMeans.fit(points, k, maxIter, seed, distanceMeasure)
    GraftKMeansBridge.model(centers, distanceMeasure, featuresCol, predictionCol)
  }

  /** Planned output partition count, read without starting a Spark job:
    * through an adaptive plan's input plan (its own partitioning is only
    * known once stages run) and a cached relation's cached plan. 0 when
    * the plan does not fix it (e.g. a bare file scan).
    */
  private def numPartitions(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => numPartitions(a.inputPlan)
    case m: InMemoryTableScanExec => numPartitions(m.relation.cachedPlan)
    case other => other.outputPartitioning.numPartitions
  }
}

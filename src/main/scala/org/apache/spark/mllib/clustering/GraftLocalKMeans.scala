package org.apache.spark.mllib.clustering

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.mllib.linalg.{Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** Driver-local replica of MLlib's RDD k-means for SAMPLE-SCALE inputs,
  * bit-identical to `ml.KMeans.fit` on a single-partition dataset.
  *
  * Why: every trained layout in this engine fits k-means on a sample-scale
  * input that is already collapsed to ONE cached partition (kmeans
  * centers are index metadata — KBs). MLlib's trainer still runs it as a
  * distributed job chain: k-means|| init (takeSample + 2 sampling steps +
  * countByValue ≈ 5 jobs) plus 2 jobs per Lloyd iteration — ~25-45 Spark
  * jobs of one near-empty task each, ~40-90 ms of scheduler round-trip
  * per job and ZERO parallelism (guide §1.2: fix the distributed
  * algorithm first — here the right distributed algorithm is "don't
  * distribute"). This object runs the same fit on the driver in
  * microseconds-to-milliseconds.
  *
  * Bit-exactness contract (pinned by LocalKMeansSpec against the real
  * `ml.KMeans.fit` on the bench corpora): every arithmetic / RNG step is
  * MLlib's OWN code — [[DistanceMeasure]] for all distance math and
  * centroid updates, [[LocalKMeans.kMeansPlusPlus]] for the init's final
  * reduction, [[BernoulliSampler]] / [[SamplingUtils]] /
  * [[Utils.randomizeInPlace]] / [[XORShiftRandom]] for the sampling RNG
  * chain. Only the RDD orchestration is replicated, specialized to ONE
  * partition (index 0), where a partition-sequential fold over rows in
  * order is exactly what the cluster executes:
  *
  *   - `RDD.takeSample(false, 1, seed)`: count, `new java.util.Random
  *     (seed)`, fraction via `computeFractionForSampleSize`, Bernoulli
  *     sample with per-partition seed `new java.util.Random(sampleSeed)
  *     .nextLong()` (PartitionwiseSampledRDD's partition-0 seed), retry
  *     loop on empty, `randomizeInPlace(samples, rand).take(num)`.
  *   - k-means|| steps (KMeans.initKMeansParallel): cost rollup
  *     `min(pointCost(newCenters, p), prev)`, partition-sequential
  *     `costs.sum()` (RDD.fold over one partition = left fold in row
  *     order), selection RNG `new XORShiftRandom(seed ^ (step << 16) ^
  *     partitionIndex)` with acceptance `nextDouble() < 2.0 * c * k /
  *     sumCosts`, candidate distinct + weights by `findClosest` counts,
  *     then `LocalKMeans.kMeansPlusPlus(0, centers, weights, k, 30)`.
  *   - Lloyd (KMeans.runAlgorithmWithWeight): per-iteration center
  *     statistics via the same `shouldComputeStatistics(k)` /
  *     `shouldComputeStatisticsLocally(k, dim)` gates (the distributed
  *     stats branch computes the identical packed array — same
  *     `distance` per (i,j) pair, same `indexUpperTriangular` packing —
  *     so the local call is exact either way), per-point
  *     `findClosest(centers, stats, p)` + `updateClusterSum` in row
  *     order, `centroid(sum, weightSum)` for clusters with weight, and
  *     `isCenterConverged(old, new, epsilon)` convergence.
  *
  * 100 TB scale note: this path is ONLY for sample-scale fits (the input
  * is collected to the driver — callers already had it on one partition,
  * so the driver-memory posture is unchanged). A corpus-scale fit keeps
  * the distributed trainer.
  */
object GraftLocalKMeans {

  /** The Spark release this replica is pinned to: the orchestration it
    * replicates (sampling seeds, init steps, Lloyd statistics gates) is
    * private MLlib behaviour that any release may change silently.
    */
  val PinnedSparkVersion = "4.1.2"

  /** Fails loudly unless `version` is the pinned release — moving the pin
    * means re-running LocalKMeansSpec's bit-identity cases against the
    * new release first.
    */
  def checkSparkVersion(version: String): Unit =
    if (version != PinnedSparkVersion)
      throw new IllegalStateException(s"GraftLocalKMeans replicates Spark " +
        s"$PinnedSparkVersion's k-means bit for bit but this is Spark $version: " +
        "re-run LocalKMeansSpec on it and move PinnedSparkVersion only if it passes")

  private lazy val sparkVersionChecked: Unit =
    checkSparkVersion(org.apache.spark.SPARK_VERSION)

  /** Fit k-means exactly as `new ml.KMeans().setK(k).setSeed(seed)
    * .setMaxIter(maxIterations).setDistanceMeasure(distanceMeasure)
    * .fit(singlePartitionDf)` would, returning the cluster centers in
    * model order. `points` must be the dataset's rows in partition-0
    * order (a `collect()` of the single-partition frame).
    */
  def fit(points: Array[Vector], k: Int, maxIterations: Int, seed: Long,
          distanceMeasure: String, epsilon: Double = 1e-4,
          initializationSteps: Int = 2): Array[Vector] = {
    sparkVersionChecked
    require(points.nonEmpty, "local kmeans: empty input")
    val dm = DistanceMeasure.decodeFromString(distanceMeasure)
    // runWithWeight: norms pass, then VectorWithNorm(v, norm, weight=1.0)
    val data = points.map(v => new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0))
    val centers = initParallel(data, k, seed, initializationSteps, dm)
    lloyd(data, centers, maxIterations, epsilon, dm)
  }

  /** `RDD.sample(false, fraction, seed)` on a one-partition RDD:
    * BernoulliSampler seeded with partition 0's seed, which
    * PartitionwiseSampledRDD derives as `new java.util.Random(seed)
    * .nextLong()`.
    */
  private def sampleP0(data: Array[VectorWithNorm], fraction: Double,
                       seed: Long): Array[VectorWithNorm] = {
    val partitionSeed = new java.util.Random(seed).nextLong()
    val sampler = new BernoulliSampler[VectorWithNorm](fraction)
    sampler.setSeed(partitionSeed)
    sampler.sample(data.iterator).toArray
  }

  /** `RDD.takeSample(withReplacement = false, num, seed)` on one
    * partition — same j.u.Random draw order, same retry loop, same final
    * shuffle-and-take.
    */
  private def takeSample(data: Array[VectorWithNorm], num: Int,
                         seed: Long): Array[VectorWithNorm] = {
    val initialCount = data.length.toLong
    val rand = new java.util.Random(seed)
    if (num >= initialCount) {
      Utils.randomizeInPlace(data.clone(), rand)
    } else {
      val fraction =
        SamplingUtils.computeFractionForSampleSize(num, initialCount, false)
      var samples = sampleP0(data, fraction, rand.nextInt())
      while (samples.length < num) {
        samples = sampleP0(data, fraction, rand.nextInt())
      }
      Utils.randomizeInPlace(samples, rand).take(num)
    }
  }

  /** KMeans.initKMeansParallel, one partition. */
  private def initParallel(data: Array[VectorWithNorm], k: Int, seedIn: Long,
                           initSteps: Int,
                           dm: DistanceMeasure): Array[VectorWithNorm] = {
    var costs = Array.fill(data.length)(Double.PositiveInfinity)
    val seed = new XORShiftRandom(seedIn).nextInt()
    val sample = takeSample(data, 1, seed)
    require(sample.nonEmpty, "No samples available from the input data")
    val centers = ArrayBuffer[VectorWithNorm]()
    var newCenters: Array[VectorWithNorm] = Array(sample.head.toDense)
    centers ++= newCenters
    var step = 0
    while (step < initSteps) {
      val preCosts = costs
      val next = new Array[Double](data.length)
      var i = 0
      while (i < data.length) {
        next(i) = math.min(dm.pointCost(newCenters, data(i)), preCosts(i))
        i += 1
      }
      costs = next
      // RDD[Double].sum = fold(0.0)(_ + _): left fold in row order within
      // the partition; the driver-side merge adds the one partial to 0.0
      var sumCosts = 0.0
      i = 0
      while (i < costs.length) { sumCosts += costs(i); i += 1 }
      // mapPartitionsWithIndex body, partition index 0
      val rand = new XORShiftRandom((seed ^ (step << 16) ^ 0).toLong)
      val chosen = ArrayBuffer[VectorWithNorm]()
      i = 0
      while (i < data.length) {
        if (rand.nextDouble() < 2.0 * costs(i) * k / sumCosts) chosen += data(i)
        i += 1
      }
      newCenters = chosen.iterator.map(_.toDense).toArray
      centers ++= newCenters
      step += 1
    }
    val distinctCenters = centers.map(_.vector).distinct.map(new VectorWithNorm(_))
    if (distinctCenters.length <= k) {
      distinctCenters.toArray
    } else {
      // weight candidates by how many points map to each (countByValue),
      // then reduce to k with MLlib's own local k-means++
      val dc = distinctCenters.toArray
      val counts = new Array[Long](dc.length)
      var i = 0
      while (i < data.length) {
        counts(dm.findClosest(dc, data(i))._1) += 1L
        i += 1
      }
      LocalKMeans.kMeansPlusPlus(0, dc, counts.map(_.toDouble), k, 30)
    }
  }

  /** KMeans.runAlgorithmWithWeight's Lloyd loop, one partition. */
  private def lloyd(data: Array[VectorWithNorm],
                    initCenters: Array[VectorWithNorm], maxIterations: Int,
                    epsilon: Double, dm: DistanceMeasure): Array[Vector] = {
    val centers = initCenters.clone()
    val shouldComputeStats =
      DistanceMeasure.shouldComputeStatistics(centers.length)
    var converged = false
    var iteration = 0
    while (iteration < maxIterations && !converged) {
      val stats: Option[Array[Double]] =
        if (shouldComputeStats) Some(dm.computeStatistics(centers)) else None
      val dims = centers.head.vector.size
      val sums = Array.fill(centers.length)(Vectors.zeros(dims))
      val clusterWeightSum = new Array[Double](centers.length)
      var i = 0
      while (i < data.length) {
        val point = data(i)
        val bestCenter = dm.findClosest(centers, stats, point)._1
        dm.updateClusterSum(point, sums(bestCenter))
        clusterWeightSum(bestCenter) += point.weight
        i += 1
      }
      converged = true
      var j = 0
      while (j < centers.length) {
        if (clusterWeightSum(j) > 0) {
          val newCenter = dm.centroid(sums(j), clusterWeightSum(j))
          if (converged && !dm.isCenterConverged(centers(j), newCenter, epsilon)) {
            converged = false
          }
          centers(j) = newCenter
        }
        j += 1
      }
      iteration += 1
    }
    centers.map(_.vector)
  }
}

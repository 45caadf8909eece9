package graft

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps
import graft.operators.LocalKMeansFit

/** Pins the round-15 local k-means trainer BIT-IDENTICAL to MLlib's
  * distributed `ml.KMeans.fit` on the exact fit shapes the engine uses
  * (single cached partition, seeded, maxIter 20): every trained-layout
  * artifact (IVF cells, PQ codebooks, split halves) must be unchanged by
  * the local fast path, or downstream search results drift. Exactness is
  * asserted on raw double bits, not within a tolerance.
  */
class LocalKMeansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def bits(a: Array[Double]): Seq[Long] =
    a.map(java.lang.Double.doubleToRawLongBits).toSeq

  private def assertSameCenters(prepared: DataFrame, k: Int, seed: Long,
                                distanceMeasure: String): Unit = {
    val fitted = new KMeans()
      .setK(k).setSeed(seed).setMaxIter(20).setDistanceMeasure(distanceMeasure)
      .setFeaturesCol("__v").setPredictionCol("__c")
      .fit(prepared)
    val local = LocalKMeansFit.fit(prepared, "__v", "__c", k, seed,
      maxIter = 20, distanceMeasure = distanceMeasure)
    val a = fitted.clusterCenters
    val b = local.clusterCenters
    assert(a.length === b.length, s"center count k=$k seed=$seed $distanceMeasure")
    a.indices.foreach { i =>
      assert(bits(a(i).toArray) === bits(b(i).toArray),
        s"center $i differs (k=$k seed=$seed $distanceMeasure)")
    }
    // transform must agree row-for-row too (same parent-model predict)
    val viaFit = fitted.transform(prepared).select("__c").collect().map(_.getInt(0))
    val viaLocal = local.transform(prepared).select("__c").collect().map(_.getInt(0))
    assert(viaFit.toSeq === viaLocal.toSeq)
  }

  private def normalized(): DataFrame =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(VectorOps.l2Normalize(
        VectorOps.toDoubleArray(col("embedding"))).as("embedding"))
      .repartition(1).cache()

  test("euclidean k=16: every PQ subspace fit (seeds 42..49) is bit-identical") {
    val cached = normalized()
    try {
      cached.count()
      (0 until 8).foreach { s =>
        val sub = cached.select(
          array_to_vector(expr(s"slice(embedding, ${s * 8 + 1}, 8)")).as("__v"))
        assertSameCenters(sub, k = 16, seed = 42L + s, distanceMeasure = "euclidean")
      }
    } finally cached.unpersist()
  }

  test("cosine k=10: the IVF layout fit is bit-identical") {
    val prepared = spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("__v", array_to_vector(VectorOps.toDoubleArray(col("embedding"))))
      .repartition(1).cache()
    try assertSameCenters(prepared, k = 10, seed = 42L, distanceMeasure = "cosine")
    finally prepared.unpersist()
  }

  test("cosine k=2: the cell-split fit is bit-identical on a small slice") {
    val prepared = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 7 === 0)
      .withColumn("__v", array_to_vector(VectorOps.toDoubleArray(col("embedding"))))
      .repartition(1).cache()
    try assertSameCenters(prepared, k = 2, seed = 42L, distanceMeasure = "cosine")
    finally prepared.unpersist()
  }

  test("degenerate: fewer distinct points than k still matches fit") {
    import spark.implicits._
    val prepared = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
      .toDF("e").select(array_to_vector(col("e")).as("__v"))
      .repartition(1).cache()
    try assertSameCenters(prepared, k = 2, seed = 7L, distanceMeasure = "euclidean")
    finally prepared.unpersist()
  }

  test("fit refuses a multi-partition input, without starting a Spark job") {
    import spark.implicits._
    val twoParts = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0))
      .toDF("e").select(array_to_vector(col("e")).as("__v"))
      .repartition(2)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val err = intercept[IllegalArgumentException](
        LocalKMeansFit.fit(twoParts, "__v", "__c", k = 2, seed = 7L))
      assert(err.getMessage.contains("got 2 partitions"))
      Thread.sleep(500) // the listener bus delivers asynchronously
      assert(jobs.get === 0, "the partition check started a Spark job")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the trainer is pinned to the Spark release it replicates") {
    import org.apache.spark.mllib.clustering.GraftLocalKMeans
    GraftLocalKMeans.checkSparkVersion(org.apache.spark.SPARK_VERSION)
    GraftLocalKMeans.checkSparkVersion(GraftLocalKMeans.PinnedSparkVersion)
    val err = intercept[IllegalStateException](GraftLocalKMeans.checkSparkVersion("4.1.3"))
    assert(err.getMessage.contains("LocalKMeansSpec") && err.getMessage.contains("4.1.3"))
  }
}

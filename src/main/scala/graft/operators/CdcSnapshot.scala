package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A keyed parquet snapshot maintained through CDC changesets at BUCKET
  * granularity — the copy-on-write table pattern (Delta/Hudi shape,
  * rebuilt from scratch on plain parquet + renames): the snapshot lives
  * hash-bucketed on key (`bucket=` directories), a changeset touches only
  * the buckets its keys hash into, and ONLY those buckets are rewritten
  * and atomically swapped. At 100 TB this is the difference between
  * rewriting a table per trigger and rewriting a few hundred MB: the
  * rewrite cost scales with the CHANGE volume (times bucket width), not
  * the table.
  *
  * Merge semantics per changeset (op column): delete > update > insert
  * precedence as in an explicit MERGE clause order; 'i' inserts only
  * WHEN NOT MATCHED (an insert for a live key is ignored, not an
  * update — the usual CDC contract). At most one op per key per
  * changeset is the caller's contract (enforce upstream with a
  * last-write-wins window if the wire can duplicate).
  *
  * Atomicity is PER BUCKET ([[Publish.swapBuckets]]): a reader sees each
  * bucket pre- or post-batch, never partial files — the cross-bucket point-in-time guarantee of a
  * real table format needs its transaction log, which is out of scope
  * and documented here rather than pretended.
  */
object CdcSnapshot {

  val NumBuckets = 16

  private def bucketed(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn("bucket", pmod(col(keyCol), lit(NumBuckets.toLong)))

  /** Write the initial snapshot (schema: keyCol, value). */
  def init(snapshot: DataFrame, path: String, keyCol: String = "key"): Unit =
    bucketed(snapshot, keyCol)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Read the current snapshot (bucket column included). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Point lookup: the key's bucket is known arithmetically, so the scan
    * partition-prunes to ONE bucket directory before the key predicate
    * runs — the poor man's primary index a bucketed COW table gives for
    * free (serving tier reads one bucket, not the table). The bucket
    * arithmetic must be pmod, not JVM % — they disagree on negative keys
    * (pmod(-5,16)=11, -5%16=-5) and the layout is written with pmod.
    */
  def lookup(spark: SparkSession, path: String, key: Long): DataFrame = {
    val b = ((key % NumBuckets) + NumBuckets) % NumBuckets
    read(spark, path).filter(col("bucket") === b && col("key") === key)
  }

  /** Apply one changeset (keyCol, op in 'd'/'u'/'i', value).
    *
    * Crash repair runs first ([[Publish.repairBuckets]]): a process death
    * between a swap's two renames leaves a bucket's only copy in its
    * dot-prefixed `.bucket=N.old` holdout (which Spark's listing hides —
    * readers see the bucket as absent until the repair runs). Single-
    * writer discipline: only the apply path repairs, readers never mutate.
    */
  def applyBatch(spark: SparkSession, path: String, changes: DataFrame,
                 keyCol: String = "key"): Unit = {
    val fs = Publish.fsOf(spark, path)
    Publish.repairBuckets(fs, new Path(path)) // restore any crash holdout BEFORE reading
    val ch = bucketed(changes, keyCol).select(
      col(keyCol), col("op"), col("value").as("new_value"), col("bucket"))
    // ONE metadata job (≤ 3·NumBuckets rows) yields both the op
    // validation and the bucket list — unknown ops must fail loudly
    // BEFORE any bucket is touched, because the matched-side filter
    // below would silently treat a typo'd op as a DELETE
    val opBuckets = ch.select(col("op"), col("bucket")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bad = opBuckets.map(_._1).distinct.filterNot(Set("d", "u", "i"))
    require(bad.isEmpty, s"unknown CDC ops ${bad.mkString(",")} — refusing " +
      "to apply (an unrecognized op would silently delete matched rows)")
    val buckets = opBuckets.map(_._2).distinct.sorted
    if (buckets.isEmpty) return
    // partition pruning: only affected bucket directories are read
    val live = read(spark, path).filter(col("bucket").isin(buckets: _*))
    // no forced broadcast: a routine CDC trickle broadcasts anyway under
    // AQE, while a backfill-sized changeset must be free to shuffle-join
    // (the digest-only-broadcast discipline — a changeset is data, not
    // index metadata)
    val nonIns = ch.filter(col("op") =!= "i")
    val matched = live
      .join(nonIns.select(col(keyCol), col("op"), col("new_value")),
        Seq(keyCol), "left")
      .filter(col("op").isNull || col("op") === "u")
      .select(col(keyCol),
        when(col("op") === "u", col("new_value")).otherwise(col("value"))
          .as("value"),
        col("bucket"))
    val inserts = ch.filter(col("op") === "i")
      .join(live.select(col(keyCol)), Seq(keyCol), "left_anti") // NOT MATCHED only
      .select(col(keyCol), col("new_value").as("value"), col("bucket"))
    val tmp = path + "-cdc-tmp"
    matched.unionByName(inserts)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    // every row of a bucket missing from tmp was deleted — removing the
    // bucket IS the write
    Publish.swapBuckets(fs, new Path(tmp), new Path(path), buckets.toSeq)
  }
}

package graft

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

import graft.operators.Publish

/** A file commit protocol that fails the job setup of every write whose
  * output path starts with an armed prefix — a Parquet write that dies
  * before it produces a file. Spark instantiates the session's protocol
  * class per write, after an overwrite has cleared its target, so an
  * in-place overwrite loses the old files and a write to a staging
  * directory loses nothing. Writes elsewhere commit normally. The prefix
  * is the driver writer's failure seam (`Publish.failingWritesUnder`),
  * which fails driver writes at the same point.
  */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  override def setupJob(jobContext: JobContext): Unit = {
    val out = new org.apache.hadoop.fs.Path(path).toUri.getPath
    if (Publish.failingWritesUnder.exists(out.startsWith))
      throw new java.io.IOException(s"injected write failure: $out")
    super.setupJob(jobContext)
  }
}

object FailingCommitProtocol {
  private val Conf = "spark.sql.sources.commitProtocolClass"

  /** Run `body` with every write under `prefix` failing, Spark's and the
    * driver writer's.
    */
  def failingWritesUnder[T](spark: SparkSession, prefix: String)(body: => T): T = {
    val saved = spark.conf.getOption(Conf)
    spark.conf.set(Conf, classOf[FailingCommitProtocol].getName)
    Publish.failingWritesUnder = Some(prefix)
    try body
    finally {
      Publish.failingWritesUnder = None
      saved.fold(spark.conf.unset(Conf))(spark.conf.set(Conf, _))
    }
  }
}

package graft

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** A file commit protocol that fails the job setup of every write whose
  * output path starts with an armed prefix — a Parquet write that dies
  * before it produces a file. Spark instantiates the session's protocol
  * class per write, after an overwrite has cleared its target, so an
  * in-place overwrite loses the old files and a write to a staging
  * directory loses nothing. Writes elsewhere commit normally.
  */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {

  override def setupJob(jobContext: JobContext): Unit = {
    val out = new org.apache.hadoop.fs.Path(path).toUri.getPath
    if (FailingCommitProtocol.armed.exists(out.startsWith))
      throw new java.io.IOException(s"injected write failure: $out")
    super.setupJob(jobContext)
  }
}

object FailingCommitProtocol {
  @volatile private var armed: Option[String] = None

  private val Conf = "spark.sql.sources.commitProtocolClass"

  /** Run `body` with every write under `prefix` failing. */
  def failingWritesUnder[T](spark: SparkSession, prefix: String)(body: => T): T = {
    val saved = spark.conf.getOption(Conf)
    spark.conf.set(Conf, classOf[FailingCommitProtocol].getName)
    armed = Some(prefix)
    try body
    finally {
      armed = None
      saved.fold(spark.conf.unset(Conf))(spark.conf.set(Conf, _))
    }
  }
}

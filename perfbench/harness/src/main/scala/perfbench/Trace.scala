package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each engine layer,
  * plus the Spark jobs and query executions that ran under them.
  *
  * A span's id travels to the jobs it starts through a SparkContext local
  * property, so every job names the innermost span open on the submitting
  * thread. A job that names no span, or a span already closed when the job
  * started (a pooled thread that inherited a stale property), is counted as
  * unattributed. Everything stays in memory until [[dump]].
  */
final class Trace(sc: SparkContext) {
  import Trace._

  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val openIds = ConcurrentHashMap.newKeySet[Long]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryPhases]()
  @volatile var currentOp: Long = 0L
  @volatile var enabled = false

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = open.headOption
    val id = nextId.getAndIncrement()
    val s = Span(id, parent.map(_.id).getOrElse(0L), parent.map(_.op).getOrElse(id),
      name, System.nanoTime())
    if (parent.isEmpty) currentOp = id
    spans.synchronized(spans += s)
    open.push(s); openIds.add(s.id)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.t1 = System.nanoTime()
      open.pop(); openIds.remove(s.id)
      sc.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Deliver every queued listener event before the caller reads counters. */
  def drain(): Unit = org.apache.spark.GraftCoreBridge.drainListenerBus(sc)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      val sid = prop.map(_.toLong).filter(openIds.contains).getOrElse(0L)
      val j = Job(e.jobId, sid, nanoOf(e.time))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = nanoOf(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
        val m = e.stageInfo.taskMetrics
        j.synchronized {
          j.stages += 1
          j.tasks += e.stageInfo.numTasks
          j.runMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1e6
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
        val i = e.taskInfo
        val m = e.taskMetrics
        j.synchronized {
          if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) j.failedTasks += 1
          if (m != null && i.finishTime > 0) {
            // Spark UI's scheduler delay: wall time of the task not spent
            // deserializing, running, serializing or fetching its result
            val d = i.finishTime - i.launchTime - m.executorDeserializeTime -
              m.executorRunTime - m.resultSerializationTime -
              (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
            j.schedDelayMs += math.max(0L, d)
          }
        }
      }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String): (Long, Long) =
        ph.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
      queries.add(QueryPhases(currentOp, phase("analysis"), phase("optimization"),
        phase("planning")))
    }
  }

  def closedSpans: Seq[Span] = spans.synchronized(spans.filter(_.t1 > 0).toSeq)

  /** Write spans, jobs and query phases as JSON lines. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println(s"""{"kind":"clock","epoch_to_nano":$epochToNano}""")
      closedSpans.foreach { s =>
        w.println(s"""{"kind":"span","id":${s.id},"parent":${s.parent},"op":${s.op},""" +
          s""""name":"${s.name}","t0":${s.t0},"t1":${s.t1}}""")
      }
      jobs.values().forEach { j =>
        w.println(s"""{"kind":"job","job":${j.id},"span":${j.span},""" +
          s""""t0":${j.t0},"t1":${j.t1},"stages":${j.stages},"tasks":${j.tasks},""" +
          s""""run_ms":${j.runMs},"cpu_ms":${j.cpuMs},"gc_ms":${j.gcMs},""" +
          s""""sched_delay_ms":${j.schedDelayMs},"shuffle_write_bytes":${j.shuffleWrite},""" +
          s""""input_bytes":${j.inputBytes},"output_bytes":${j.outputBytes},""" +
          s""""failed_tasks":${j.failedTasks}}""")
      }
      queries.forEach { q =>
        w.println(s"""{"kind":"query","op":${q.op},"analysis":[${q.analysis._1},${q.analysis._2}],""" +
          s""""optimization":[${q.optimization._1},${q.optimization._2}],""" +
          s""""planning":[${q.planning._1},${q.planning._2}]}""")
      }
    } finally w.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, op: Long, name: String, t0: Long) {
    @volatile var t1: Long = 0L
  }

  final case class Job(id: Int, span: Long, t0: Long) {
    @volatile var t1: Long = 0L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuMs = 0.0
    var gcMs = 0L
    var schedDelayMs = 0L
    var shuffleWrite = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var failedTasks = 0
  }

  /** Epoch-millisecond (start, end) of each planning phase. */
  final case class QueryPhases(op: Long, analysis: (Long, Long),
                               optimization: (Long, Long), planning: (Long, Long))

  /** Listener timestamps are epoch ms; spans use nanoTime. One offset,
    * taken at class load, maps the first onto the second.
    */
  val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def nanoOf(epochMs: Long): Long = epochMs * 1000000L + epochToNano
}

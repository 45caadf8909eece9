package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.operators.Hnsw
import graft.plans.HnswGraphRegistry

/** Engine-side half of the benchmark: one JVM, one client thread, a closed
  * loop over the operation list the seeded generator wrote.
  *
  * {{{
  * Harness <workload> <sfDir> <opsFile> <outDir> <seconds> <trace 0|1>
  *         <cores> [workload args...]
  * }}}
  *
  * Writes `result.json` (setup and per-operation timings), `searches.txt`
  * (every search answer, for the checker) and, traced, `spans.jsonl`.
  * Nothing here judges correctness: the checker does that after the JVM
  * exits, outside the timed region.
  */
object Harness {

  final case class OpRec(kind: String, ms: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val Array(workload, sfDir, opsFile, outDir, secondsS, traceS, coresS) = args.take(7)
    val names = args.drop(7).toSeq
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    new File(outDir).mkdirs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up: one fixture read, as graft.Bench does before its first item
    graft.Tables.embeddings(spark, sfDir).count()
    val sessionMs = ms(t0)

    val trace = new Trace(spark.sparkContext)
    def attach(): Unit = {
      trace.enabled = true
      spark.sparkContext.addSparkListener(trace.listener)
      spark.listenerManager.register(trace.qeListener)
    }
    def detach(): Unit = {
      trace.drain()
      trace.enabled = false
      spark.sparkContext.removeSparkListener(trace.listener)
      spark.listenerManager.unregister(trace.qeListener)
    }

    val ops = Source.fromFile(opsFile, "UTF-8").getLines().toIndexedSeq
    val w: Workload = workload match {
      case "index_churn" => new IndexChurn(spark, sfDir, outDir, trace)
      case "query_mix"   => new QueryMix(spark, sfDir, names, trace)
      case other         => sys.error(s"unknown workload $other")
    }

    // Set-up: every build the workload needs, each timed.
    if (traced) attach()
    val setup = w.stages.map { case (name, build) =>
      val s0 = System.nanoTime()
      trace.span(s"setup.stage.$name")(build())
      name -> ms(s0)
    }

    // Timed region: ops run until `seconds` have passed, ending on a
    // whole round so every run of a seed replays a prefix of one sequence.
    // Traced, each op ends by draining the listener bus so its events are
    // attributed before the next op starts; that wait is the tracer's
    // cost on the client thread.
    val recs = mutable.ArrayBuffer.empty[OpRec]
    var traceMs = 0.0
    val gcBefore = gcMs()
    val loopStart = System.nanoTime()
    var i = 0
    while (i < ops.length && (ms(loopStart) < seconds * 1000 || !w.roundBoundary(i, ops(i)))) {
      val line = ops(i)
      val kind = w.kindOf(line)
      val rest = w.consume(ops, i)
      val s0 = System.nanoTime()
      val ok = try { trace.span(s"op.$kind")(w.run(line, rest)); true }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"perfbench: op $i ($kind) failed: $e"); false }
      if (traced) { val d0 = System.nanoTime(); trace.drain(); traceMs += ms(d0) }
      recs += OpRec(kind, ms(s0), ok)
      i += 1 + rest.length
    }
    val loopMs = ms(loopStart)
    val gcDuring = gcMs() - gcBefore
    if (traced) detach()

    // driver heap still held: the lowest reading across a few full GCs
    val heap = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    if (traced) trace.dump(s"$outDir/spans.jsonl")
    val out = new PrintWriter(s"$outDir/result.json", "UTF-8")
    try {
      out.println("{")
      out.println(s""" "jvm": "${System.getProperty("java.version")}",""")
      out.println(s""" "spark": "${spark.version}",""")
      out.println(s""" "session_ms": $sessionMs,""")
      out.println(s""" "setup_ms": ${setup.map { case (n, v) => s""""$n": $v""" }
        .mkString("{", ", ", "}")},""")
      out.println(s""" "loop_ms": $loopMs,""")
      out.println(s""" "trace_ms": $traceMs,""")
      out.println(s""" "gc_ms": $gcDuring,""")
      out.println(s""" "heap_mb": $heap,""")
      out.println(s""" "index_bytes": [${w.indexBytes.mkString(", ")}],""")
      out.println(s""" "compactions": ${w.compactions},""")
      out.println(s""" "ops": [${recs.map(r => s"""["${r.kind}", ${r.ms}, ${r.ok}]""")
        .mkString(", ")}]""")
      out.println("}")
    } finally out.close()
    w.close()
    w.verify(outDir)
    spark.stop()
  }

  def ms(since: Long): Double = (System.nanoTime() - since) / 1e6

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  def parseVec(fields: Array[String], from: Int): Array[Double] =
    fields.drop(from).map(_.toFloat.toDouble)

  /** Bytes of every file under the given directories (missing ones count 0). */
  def dirBytes(dirs: Seq[String]): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L
      else f.length()
    dirs.map(d => walk(new File(d))).sum
  }

  /** Graph artifact directories: edges, sidecars and meta. */
  def graphDirs(edgesDir: String, metaDir: String): Seq[String] =
    Seq(edgesDir, Hnsw.deltaPath(edgesDir), Hnsw.replacedPath(edgesDir),
      Hnsw.tombstonesPath(edgesDir), Hnsw.shardsPath(edgesDir), metaDir)
}

/** One workload: its set-up builds and how it runs each op line. */
abstract class Workload {
  def stages: Seq[(String, () => Unit)]
  def kindOf(line: String): String
  /** Extra lines an op line owns (its payload), starting after `i`. */
  def consume(ops: IndexedSeq[String], i: Int): Seq[String] = Nil
  /** A loop may stop only before an op that starts a new round. */
  def roundBoundary(i: Int, line: String): Boolean = true
  def run(line: String, payload: Seq[String]): Unit
  def indexBytes: Seq[Long] = Nil
  def compactions: Int = 0
  def close(): Unit = ()
  /** Dump outputs for the checker, after every measurement is taken. */
  def verify(outDir: String): Unit = ()
}

/** Single-query top-5 searches through the registry-resolved serve call,
  * interleaved with append / delete / maintain updates on a per-run copy
  * of the graph that the registry resolves the corpus table to.
  */
final class IndexChurn(spark: SparkSession, sfDir: String, outDir: String, trace: Trace)
    extends Workload {
  private val edges = s"${sys.props("java.io.tmpdir")}/perfbench-churn-edges"
  private val meta = s"${sys.props("java.io.tmpdir")}/perfbench-churn-meta"
  private val answers = new PrintWriter(s"$outDir/searches.txt", "UTF-8")
  private var corpus = ""
  private var n = 0
  private var round = 0
  private val bytes = mutable.ArrayBuffer.empty[Long]
  private var compacted = 0

  def stages: Seq[(String, () => Unit)] = Seq(
    "hnsw-graph" -> (() => { Hnsw.layout(spark, sfDir); () }),
    "hnsw-rwcorpus" -> (() => { corpus = Hnsw.rewriteCorpusLayout(spark, sfDir) }),
    "churn-clone" -> (() => {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
      def copy(from: String, to: String): Unit = {
        fs.delete(new org.apache.hadoop.fs.Path(to), true)
        require(org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(from),
          fs, new org.apache.hadoop.fs.Path(to), false, true, fs.getConf), s"copy $from failed")
      }
      Harness.graphDirs(edges, meta).foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
      copy(Hnsw.edgesPath(sfDir), edges)
      copy(Hnsw.shardsPath(Hnsw.edgesPath(sfDir)), Hnsw.shardsPath(edges))
      copy(Hnsw.metaPath(sfDir), meta)
      // searches resolve the corpus table to this clone through the registry
      HnswGraphRegistry.register(corpus, "vec_id", "embedding", edges, meta)
    }),
    // one untimed search, so the first timed one does not carry the JIT
    // warm-up of the walk; its answer is not checked
    "search-warmup" -> (() => {
      val q = graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") === 1)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
      graft.streaming.Streaming.indexServeOne(spark, corpus, q, k = 5).collect()
      ()
    }))

  def kindOf(line: String): String = if (line.startsWith("U")) "update" else "search"

  override def consume(ops: IndexedSeq[String], i: Int): Seq[String] =
    if (!ops(i).startsWith("U")) Nil
    else ops.slice(i + 1, ops.length).takeWhile(_.startsWith("A"))

  /** A round is an update and the searches that follow it. */
  override def roundBoundary(i: Int, line: String): Boolean = line.startsWith("U")

  def run(line: String, payload: Seq[String]): Unit = {
    val f = line.split(' ')
    if (f(0) == "Q") {
      val q = Harness.parseVec(f, 1)
      val df = trace.span("streaming.serve_call")(
        graft.streaming.Streaming.indexServeOne(spark, corpus, q, k = 5))
      val rows = trace.span("streaming.collect")(df.orderBy(col("rnk")).collect())
      answers.println(s"S $n $round " + rows.map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(","))
      n += 1
    } else {
      import spark.implicits._
      val appendIds = f(1).split(',').map(_.toLong)
      val deletes = f(2).split(',').map(_.toLong).toSeq
      val vecs = payload.map { l =>
        val a = l.split(' ')
        (a(1).toLong, a.drop(2).map(_.toFloat).toSeq)
      }
      require(vecs.map(_._1) == appendIds.toSeq, "append payload does not match its header")
      val newVecs = vecs.toDF("vec_id", "embedding")
      trace.span("hnsw.append")(Hnsw.appendToGraph(spark, sfDir, edges, meta, newVecs))
      trace.span("hnsw.delete")(Hnsw.deleteFromGraph(spark, edges, meta, deletes))
      if (trace.span("hnsw.maintain")(Hnsw.maintainGraph(spark, edges, meta))) compacted += 1
      round += 1
      bytes += Harness.dirBytes(Harness.graphDirs(edges, meta))
    }
  }

  override def indexBytes: Seq[Long] = bytes.toSeq
  override def compactions: Int = compacted
  override def close(): Unit = answers.close()
}

/** Registry queries, each materialized through the noop sink. */
final class QueryMix(spark: SparkSession, sfDir: String, names: Seq[String], trace: Trace)
    extends Workload {
  private val registry = graft.SparkEntry.queries

  /** No set-up beyond the session: a batch pipeline pays each query's
    * first execution (class loading, whole-stage codegen) on every run.
    */
  def stages: Seq[(String, () => Unit)] = Nil

  def kindOf(line: String): String = "query"

  /** A round is two passes over the query list: the first pays each
    * query's first execution, the second runs it warm. A run stops only
    * between rounds.
    */
  override def roundBoundary(i: Int, line: String): Boolean = i % (2 * names.length) == 0

  def run(line: String, payload: Seq[String]): Unit = {
    val fn = registry(line.stripPrefix("M "))
    val df = trace.span("queries.build")(fn(spark, sfDir))
    trace.span("exec.materialize")(df.write.format("noop").mode("overwrite").save())
  }

  /** graft.Verify writes each query named in SPARK_GRAFT_ONLY (the runner
    * sets it to this mix) plus the path-resolved oracle SQL; it reuses this
    * session and stops it when done.
    */
  override def verify(outDir: String): Unit =
    graft.Verify.main(Array(sfDir, s"$outDir/verify"))
}

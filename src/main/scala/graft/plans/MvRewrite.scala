package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Transparent materialized-view rewrite — the AGGREGATE twin of
  * [[VectorIndexRewrite]]: a user writes the exact query
  * (`GROUP BY g` with `count(*)` / `sum(col)` aggregates) against the
  * SOURCE table, and if a registered MV covers it, the optimizer swaps the
  * corpus scan + shuffle + aggregate for a scan of the groups-sized summary
  * table. At 100 TB the difference is reading KBs instead of the table —
  * the serving path every lakehouse MV/query-rewrite feature
  * (Materialized Views in Hive/BigQuery, Databricks MV) provides.
  *
  * Freshness is the whole game for MV rewrites, and it is handled the
  * fingerprint way: registration records the source's order-independent
  * table fingerprint (graft.functions.Digests — the same digest the
  * replication check uses); `refreshIfStale` recomputes it and rebuilds
  * the MV only on drift. The optimizer NEVER runs jobs — staleness is a
  * maintenance-time concern, exactly as in production MV systems (a stale
  * registered MV serves stale rows; the spec demonstrates the failure and
  * the repair).
  */
object MvRegistry {

  /** One registered MV: summary-table path, the group column, the sum'd
    * columns (count(*) is always present as `cnt_star`), the source
    * fingerprint at build time, and the ANALYZED scan of the summary
    * table. Caching the scan here (resolved once, at register/refresh
    * time) keeps the optimizer rule free of planning-time I/O — without
    * it every optimization pass over a matching Aggregate re-listed the
    * MV directory and re-read parquet footers, on the exact serving path
    * the rewrite is meant to accelerate.
    */
  final case class Entry(mvPath: String, groupCol: String,
                         sumCols: Seq[String], fingerprint: Long,
                         mvRelation: LogicalRelation,
                         // the UNVERSIONED summary path registration was
                         // called with — carried so refresh/catalog never
                         // parse it back out of the versioned dir name
                         // (round-11 verdict #7: the `-v<fp>` regex broke
                         // on any user path that itself ends in -v<digits>)
                         basePath: String)

  private val registry = new ConcurrentHashMap[String, Entry]()

  private def canon(path: String): String =
    path.stripPrefix("file:").replaceAll("/+$", "")

  /** Order-independent fingerprint of every row of the parquet table at
    * `path` (all columns, canonical `|`-joined strings, floor-to-int for
    * doubles happens at the caller's discretion — here raw casts suffice
    * because both sides of the staleness compare are THIS function).
    */
  def fingerprintOf(spark: SparkSession, path: String): Long = {
    // maintenance-time call: drop any cached listing so appended-behind-
    // our-back files are seen (the whole point of the staleness probe)
    spark.catalog.refreshByPath(path)
    val df = spark.read.parquet(path)
    val canonCol = concat_ws("|", df.columns.map(c => col(c).cast("string")): _*)
    graft.streaming.Streaming.fingerprintStream(df, canonCol)
      .head().getLong(1)
  }

  private def buildMv(spark: SparkSession, sourcePath: String, mvPath: String,
                      groupCol: String, sumCols: Seq[String]): Unit = {
    // same stale-listing hazard as fingerprintOf: without the refresh this
    // read served a cached pre-append listing IN THE SAME JVM even while
    // the fingerprint probe milliseconds earlier saw the new files
    spark.catalog.refreshByPath(sourcePath)
    val src = spark.read.parquet(sourcePath)
    src.groupBy(col(groupCol))
      .agg(count(lit(1)).as("cnt_star"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*)
      .write.mode("overwrite").parquet(mvPath)
  }

  /** Build + register the MV for `sourcePath`, keyed by the source. Every
    * (re)build writes to a NEW fingerprint-versioned directory instead of
    * overwriting in place — in-place replacement races every cached file
    * listing in the JVM (scans chase deleted part files; the same lesson
    * TxnLog/DeletionVectors encode: published files are immutable, a
    * refresh is a pointer swap).
    */
  def register(spark: SparkSession, sourcePath: String, mvPath: String,
               groupCol: String, sumCols: Seq[String]): Unit = {
    val fp = fingerprintOf(spark, sourcePath)
    val versioned = s"$mvPath-v$fp"
    buildSuspended(spark, sourcePath, versioned, groupCol, sumCols)
    val prev = Option(registry.put(canon(sourcePath),
      Entry(versioned, groupCol, sumCols, fp, analyzedScan(spark, versioned),
        mvPath)))
    // GC a superseded summary dir: once the pointer swaps, nothing holds a
    // listing of the old version (the cached Entry scan references only the
    // new dir), so the delete can't race a reader
    prev.filter(_.mvPath != versioned)
      .foreach(p => deleteDir(spark, p.mvPath))
  }

  /** Resolve the summary scan ONCE; the rule reuses it (via `newInstance`
    * for fresh attribute ids per substitution) instead of doing file
    * listing + footer schema inference inside the optimizer.
    */
  private def analyzedScan(spark: SparkSession, path: String): LogicalRelation =
    spark.read.parquet(path).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr
    }.getOrElse(sys.error(s"parquet scan of $path did not analyze to a LogicalRelation"))

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** Run the maintenance aggregate with the source's rewrite SUSPENDED:
    * the rebuild query is itself a covered `groupBy(g).count/sum` over the
    * source, so with the old entry live the optimizer rewrites the rebuild
    * to read the stale MV — the MV "refreshes" itself from itself and
    * drift never heals (caught by MvRewriteSpec's staleness case). Same
    * principle as WAP's audit-the-staged-snapshot: maintenance must see
    * the BASE, never its own derived state.
    */
  private def buildSuspended(spark: SparkSession, sourcePath: String,
                             mvPath: String, groupCol: String,
                             sumCols: Seq[String]): Unit = {
    val key = canon(sourcePath)
    val prev = Option(registry.remove(key))
    try buildMv(spark, sourcePath, mvPath, groupCol, sumCols)
    catch { case e: Throwable =>
      prev.foreach(registry.put(key, _)); throw e
    }
  }

  /** The MV maintenance face: recompute the source fingerprint; on drift,
    * rebuild the summary into a fresh versioned dir and swap the registry
    * pointer. Returns true iff it rebuilt.
    */
  def refreshIfStale(spark: SparkSession, sourcePath: String): Boolean = {
    val key = canon(sourcePath)
    Option(registry.get(key)) match {
      case None => false
      case Some(e) =>
        val fp = fingerprintOf(spark, sourcePath)
        if (fp == e.fingerprint) false
        else {
          val versioned = s"${e.basePath}-v$fp"
          buildSuspended(spark, sourcePath, versioned, e.groupCol, e.sumCols)
          registry.put(key, e.copy(mvPath = versioned, fingerprint = fp,
            mvRelation = analyzedScan(spark, versioned)))
          // streaming maintenance refreshes per micro-batch: without this
          // delete the versioned dirs accumulate unboundedly
          if (e.mvPath != versioned) deleteDir(spark, e.mvPath)
          true
        }
    }
  }

  def unregister(sourcePath: String): Unit = registry.remove(canon(sourcePath))

  /** Re-arm a PERSISTED registration (IndexCatalog.load): the summary
    * scan is re-resolved from the live versioned dir — the one Entry
    * field that cannot round-trip as data — while the fingerprint and
    * paths restore verbatim, so a stale source still reads `refresh`
    * after a JVM restart.
    */
  def restore(spark: SparkSession, sourcePath: String, mvPath: String,
              groupCol: String, sumCols: Seq[String], fingerprint: Long,
              basePath: String): Unit =
    registry.put(canon(sourcePath),
      Entry(mvPath, groupCol, sumCols, fingerprint,
        analyzedScan(spark, mvPath), basePath))

  def lookup(rootPaths: Seq[String]): Option[Entry] =
    rootPaths.iterator.map(p => Option(registry.get(canon(p))))
      .collectFirst { case Some(e) => e }

  /** Registered (canon source path, entry) rows — the catalog face. */
  def entries: Seq[(String, Entry)] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq.sortBy(_._1)
  }

  def isEmpty: Boolean = registry.isEmpty

  def clear(): Unit = registry.clear()
}

/** The registered demo the correctness gate drives: a copy of the
  * documents projection is laid out as the MV's source table (copied so
  * the transparent hijack is scoped to its own table, not the shared
  * fixture), the per-lang summary is registered, and the `mv_rewrite`
  * query then runs the EXACT user aggregate over the source — the plan
  * reads the MV (asserted in MvRewriteSpec) while the DuckDB oracle
  * computes the same numbers directly from `documents`: a hash match
  * proves the rewrite serves the right rows.
  */
object MvDemo {

  private val demos = new ConcurrentHashMap[String, String]()

  /** Pure path function of the demo's source table (Verify's oracle
    * placeholders resolve it without forcing the build).
    */
  def srcPath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-mvdemo-" +
      graft.operators.Ann.pathToken(sfDir)

  def ensure(spark: SparkSession, sfDir: String): String =
    demos.computeIfAbsent(sfDir, { _ =>
      val src = srcPath(sfDir)
      graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(src)
      MvRegistry.register(spark, src, src + "-mv", "lang", Seq("n_chars"))
      src
    })

  private[graft] def resetMemos(): Unit = {
    import scala.jdk.CollectionConverters._
    demos.values.asScala.foreach(MvRegistry.unregister)
    demos.clear()
  }
}

/** The rewrite rule (injected via GraftExtensions). Matches
  * `Aggregate(Seq(g), aggs, <scan of a registered source>)` where every
  * aggregate is the group column, `count(*)`/`count(1)`, or `sum(col)` over
  * a registered sum column — and replaces the subtree with a Project over
  * the MV scan, preserving the ORIGINAL output attribute ids so the parent
  * plan is untouched.
  */
case class MvAggRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // conf-driven durable-catalog bring-up (see VectorIndexRewrite)
    IndexCatalog.autoLoadIfConfigured(spark)
    if (MvRegistry.isEmpty) return plan
    plan.transformDown {
      case agg @ Aggregate(Seq(g: AttributeReference), aggExprs, child, _) =>
        sourcePaths(child).flatMap(MvRegistry.lookup) match {
          case Some(entry) if g.name == entry.groupCol =>
            tryRewrite(agg, g, aggExprs, entry).getOrElse(agg)
          case _ => agg
        }
      // ROLLUP SUBSUMPTION: a GLOBAL count/sum over the source is also
      // answered by the MV — counts and sums re-aggregate losslessly
      // (Σ_g cnt_g = count(*), Σ_g sum_g = sum; avg/min-of-distinct do
      // NOT and fall through). The rewrite reads G rows instead of the
      // table — the roll-up face real MV systems advertise.
      case agg @ Aggregate(Nil, aggExprs, child, _) =>
        sourcePaths(child).flatMap(MvRegistry.lookup) match {
          case Some(entry) => tryRollup(aggExprs, entry).getOrElse(agg)
          case _ => agg
        }
    }
  }

  private def tryRollup(aggExprs: Seq[NamedExpression],
                        entry: MvRegistry.Entry): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // fresh attribute ids per substitution — the cached relation may be
    // spliced into several places of one plan
    val mvPlan = entry.mvRelation.newInstance()
    val mvAttrs = mvPlan.output.map(a => a.name -> a).toMap
    def sumOf(colName: String): Option[Expression] =
      mvAttrs.get(colName).map(a =>
        AggregateExpression(Sum(a), Complete, isDistinct = false))
    val mapped: Seq[Option[NamedExpression]] = aggExprs.map {
      case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _), _) =>
        // count(*) over the source = Σ cnt_star; sum(long) is long-typed,
        // matching count's LongType output. Coalesce: over an EMPTY MV
        // SUM returns NULL but count(*) must return 0 — without it the
        // rewritten plan breaks count's non-null contract.
        sumOf("cnt_star").map(e =>
          Alias(Coalesce(Seq(e, Literal(0L))), al.name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(Sum(s: AttributeReference, _), _, false, None, _), _)
          if entry.sumCols.contains(s.name) =>
        sumOf(s"sum_${s.name}").map { e =>
          val cast = if (e.dataType == al.dataType) e else Cast(e, al.dataType)
          Alias(cast, al.name)(exprId = al.exprId)
        }
      case _ => None
    }
    if (mapped.nonEmpty && mapped.forall(_.isDefined))
      Some(Aggregate(Nil, mapped.map(_.get), mvPlan))
    else None
  }

  /** Unwrap a column-pruning Project to the underlying parquet relation's
    * root paths; anything else (filters, joins) disqualifies the match —
    * the MV covers the WHOLE table, nothing less.
    */
  private def sourcePaths(plan: LogicalPlan): Option[Seq[String]] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some(fs.location.rootPaths.map(_.toString))
    case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      sourcePaths(child)
    case _ => None
  }

  private def tryRewrite(agg: Aggregate, g: AttributeReference,
                         aggExprs: Seq[NamedExpression],
                         entry: MvRegistry.Entry): Option[LogicalPlan] = {
    val mvPlan = entry.mvRelation.newInstance()
    val mvAttrs = mvPlan.output.map(a => a.name -> a).toMap
    // every output of the original aggregate must map onto an MV column
    val mapped: Seq[Option[NamedExpression]] = aggExprs.map {
      case a: AttributeReference if a.exprId == g.exprId =>
        mvAttrs.get(entry.groupCol).map(mv =>
          Alias(mv, a.name)(exprId = a.exprId))
      case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _), _) =>
        mvAttrs.get("cnt_star").map(mv =>
          Alias(mv, al.name)(exprId = al.exprId))
      case al @ Alias(AggregateExpression(Sum(s: AttributeReference, _), _, false, None, _), _)
          if entry.sumCols.contains(s.name) =>
        mvAttrs.get(s"sum_${s.name}").map { mv =>
          val e = if (mv.dataType == al.dataType) mv
            else Cast(mv, al.dataType)
          Alias(e, al.name)(exprId = al.exprId)
        }
      case _ => None
    }
    if (mapped.forall(_.isDefined)) Some(Project(mapped.map(_.get), mvPlan))
    else None
  }
}

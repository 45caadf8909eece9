package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** SQL DDL surface for index management (round-12 verdict, next-round
  * #3): until now every registration/maintenance verb was Scala API —
  * `GraftExtensions` injected functions, optimizer rules, and a
  * strategy, but no parser, so a SQL-only user could never reach the
  * rewrite matrix. This parser front-ends the EXISTING register faces:
  *
  *   CREATE INDEX <name> ON '<table path>' USING HNSW (<embCol>)
  *     OPTIONS (id_col 'vec_id', edges_dir '<dir>', meta_dir '<dir>')
  *   CREATE INDEX <name> ON '<table path>' USING IVF (<embCol>)
  *     OPTIONS (id_col 'vec_id' [, cell_col 'cell'] [, split_cap 'N']
  *              [, nprobe 'N'])
  *   CREATE INDEX <name> ON '<table path>' USING IVF (<embCol>)
  *     OPTIONS (id_col 'vec_id', layout_dir '<dir>' [, k 'N']
  *              [, nprobe 'N'])
  *   CREATE INDEX <name> ON '<source path>' USING MV (<groupCol>)
  *     OPTIONS (mv_path '<dir>', sum_cols 'a+b')
  *   DROP INDEX <name>
  *   SHOW INDEXES
  *   SAVE INDEXES TO '<root>'      -- IndexCatalog.save (durable manifest)
  *   LOAD INDEXES FROM '<root>'    -- IndexCatalog.load (re-arm a restart)
  *
  * Build semantics, per family:
  *  - HNSW registers EXISTING graph artifacts (edges/meta dirs — the
  *    graph build is the offline `Hnsw.layout` job, like every
  *    production ANN system's index build);
  *  - IVF without `layout_dir` treats the cell-partitioned table at the
  *    path as its own artifact (the catalog's documented posture) and
  *    BUILDS the index metadata — per-cell medoids + the staleness
  *    fingerprint ([[IvfIndexRegistry.register]], splitCap-armed when
  *    given);
  *  - IVF with `layout_dir` BUILDS the artifact itself: trains seeded
  *    cosine k-means on the table ([[graft.operators.Ann.trainLayoutFor]]
  *    — the `Ann.kmeansLayout` build generalized to any table), writes
  *    the cell-partitioned layout to `layout_dir`, and registers the
  *    trained centers staleness-armed over it.
  *
  * Everything that is not graft DDL delegates to the session's parser
  * untouched — the standard extension-parser posture. Re-CREATEing a
  * name re-registers (the registries' own idempotent-put discipline);
  * CREATE is case-insensitive on keywords, paths are single-quoted.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case CreateIndexRe(name, path, using, embCol, optsStr) =>
      val opts = Option(optsStr).map(parseOpts).getOrElse(Map.empty)
      CreateIndexCommand(name, path, using.toLowerCase, embCol, opts)
    case DropIndexRe(name) => DropIndexCommand(name)
    case ShowIndexesRe() => ShowIndexesCommand()
    case SaveIndexesRe(root) => SaveIndexesCommand(root)
    case LoadIndexesRe(root) => LoadIndexesCommand(root)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  private val CreateIndexRe =
    ("(?is)^\\s*CREATE\\s+INDEX\\s+(\\w+)\\s+ON\\s+'([^']+)'\\s+" +
      "USING\\s+(HNSW|IVF|MV)\\s*\\(\\s*(\\w+)\\s*\\)" +
      "(?:\\s*OPTIONS\\s*\\((.*)\\))?\\s*;?\\s*$").r
  private val DropIndexRe = "(?is)^\\s*DROP\\s+INDEX\\s+(\\w+)\\s*;?\\s*$".r
  private val ShowIndexesRe = "(?is)^\\s*SHOW\\s+INDEXES\\s*;?\\s*$".r
  private val SaveIndexesRe = "(?is)^\\s*SAVE\\s+INDEXES\\s+TO\\s+'([^']+)'\\s*;?\\s*$".r
  private val LoadIndexesRe = "(?is)^\\s*LOAD\\s+INDEXES\\s+FROM\\s+'([^']+)'\\s*;?\\s*$".r
  private val OptRe = "(\\w+)\\s+'([^']*)'".r

  private def parseOpts(s: String): Map[String, String] =
    OptRe.findAllMatchIn(s).map(m => (m.group(1).toLowerCase, m.group(2))).toMap
}

/** Name → (kind, registered table path): the DDL layer's own small map —
  * the three registries key by table path (the thing plans resolve
  * against); names are the SQL user's handle for DROP and the
  * SHOW INDEXES listing. JVM-global like the registries themselves.
  */
object SqlIndexRegistry {
  private val names = new ConcurrentHashMap[String, (String, String)]()

  /** Bind a name — REFUSES a rebind to a different target (round-13
    * review finding: a silent replace orphaned the old registration,
    * leaving it armed with no SQL verb able to drop it); re-binding the
    * SAME (kind, path) is the idempotent re-CREATE.
    */
  def put(name: String, kind: String, path: String): Boolean = {
    val target = (kind, RewriteSupport.canon(path))
    val prev = names.putIfAbsent(name, target)
    if (prev != null && prev != target)
      sys.error(s"CREATE INDEX: name '$name' is already bound to a " +
        s"${prev._1} index on '${prev._2}' — DROP INDEX $name first")
    prev == null // true iff THIS call created the binding
  }
  def get(name: String): Option[(String, String)] = Option(names.get(name))
  def remove(name: String): Unit = names.remove(name)
  def nameOf(kind: String, canonPath: String): Option[String] = {
    import scala.jdk.CollectionConverters._
    names.asScala.collectFirst {
      case (n, (k, p)) if k == kind && p == canonPath => n
    }
  }
  def clear(): Unit = names.clear()
}

case class CreateIndexCommand(name: String, path: String, using: String,
                              embCol: String, opts: Map[String, String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("index_name", StringType, nullable = false)(),
      AttributeReference("table_path", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    def opt(k: String): Option[String] = opts.get(k)
    def req(k: String): String = opt(k).getOrElse(
      sys.error(s"CREATE INDEX $name USING ${using.toUpperCase} requires " +
        s"OPTIONS ($k '...')"))
    // bind the name BEFORE building (put refuses a conflicting rebind, so
    // a name clash must fail before any registration is armed); the
    // target path is known up front for every variant. A build failure
    // unbinds — the name never points at a registration that was never
    // armed.
    val targetPath = using match {
      case "ivf" => opt("layout_dir").getOrElse(path)
      case _ => path
    }
    val created = SqlIndexRegistry.put(name, using, targetPath)
    val registeredPath = try buildAndRegister(spark, opt, req) catch {
      // unbind ONLY a binding this call created — a failed idempotent
      // re-CREATE must not orphan the original, still-armed registration
      // (round-13 second-pass review finding)
      case e: Throwable =>
        if (created) SqlIndexRegistry.remove(name)
        throw e
    }
    Seq(Row(name, RewriteSupport.canon(registeredPath)))
  }

  private def buildAndRegister(spark: SparkSession,
                               opt: String => Option[String],
                               req: String => String): String = {
    using match {
      case "hnsw" =>
        HnswGraphRegistry.register(path, req("id_col"), embCol,
          req("edges_dir"), req("meta_dir"))
        path
      case "ivf" => opt("layout_dir") match {
        case Some(layoutDir) =>
          // build the artifact: train + write the cell-partitioned layout,
          // then register the trained centers staleness-armed over it
          val k = opt("k").map(_.toInt).getOrElse(10)
          val cellCol = opt("cell_col").getOrElse("cell")
          val centers = graft.operators.Ann.trainLayoutFor(spark,
            spark.read.parquet(path), embCol,
            layoutDir, cellCol, k, opt("seed").map(_.toLong).getOrElse(42L))
          IvfIndexRegistry.registerCentroids(spark, layoutDir, cellCol,
            req("id_col"), embCol, centers,
            splitCap = opt("split_cap").map(_.toLong),
            nprobe = opt("nprobe").map(_.toInt).getOrElse(1))
          layoutDir
        case None =>
          // the cell-partitioned table IS its own artifact — build the
          // index metadata (medoids + staleness fingerprint) over it
          IvfIndexRegistry.register(spark, path,
            opt("cell_col").getOrElse("cell"), req("id_col"), embCol,
            splitCap = opt("split_cap").map(_.toLong),
            nprobe = opt("nprobe").map(_.toInt).getOrElse(1))
          path
      }
      case "mv" =>
        // the MV family through the same front door (the catalog already
        // lists all three as kinds of one thing): the "embCol" slot names
        // the GROUP column; sum_cols is a '+'-joined list; the summary
        // builds under mv_path (versioned, pointer-swapped — the
        // MvRegistry.register build discipline)
        MvRegistry.register(spark, path, req("mv_path"), embCol,
          req("sum_cols").split('+').toSeq.filter(_.nonEmpty))
        path
      case other => sys.error(s"CREATE INDEX: unknown USING '$other'")
    }
  }
}

case class DropIndexCommand(name: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("dropped", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val (kind, path) = SqlIndexRegistry.get(name).getOrElse(
      sys.error(s"DROP INDEX: no index named '$name'"))
    kind match {
      case "hnsw" => HnswGraphRegistry.unregister(path)
      case "ivf"  => IvfIndexRegistry.unregister(path)
      case "mv"   => MvRegistry.unregister(path)
      case other  => sys.error(s"DROP INDEX: unknown kind '$other'")
    }
    SqlIndexRegistry.remove(name)
    Seq(Row(name))
  }
}

case class ShowIndexesCommand() extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("index_name", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("table_path", StringType, nullable = false)(),
    AttributeReference("artifact_dir", StringType, nullable = false)(),
    AttributeReference("detail", StringType, nullable = false)(),
    AttributeReference("n_parts", LongType, nullable = false)(),
    AttributeReference("generation", LongType, nullable = false)(),
    AttributeReference("fingerprint", StringType, nullable = false)(),
    AttributeReference("decision", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    // the catalog's rows verbatim (same columns, same decisions), with
    // the DDL name prepended — a Scala-registered index lists with ""
    IndexCatalog.indexes(spark).collect().toSeq.map { r =>
      val name = SqlIndexRegistry.nameOf(r.getString(0),
        RewriteSupport.canon(r.getString(1))).getOrElse("")
      Row(name, r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getString(6),
        r.getString(7))
    }
  }
}

case class SaveIndexesCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("manifest_dir", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(IndexCatalog.save(spark, root)))
}

case class LoadIndexesCommand(root: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("restored", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(IndexCatalog.load(spark, root).toLong))
}

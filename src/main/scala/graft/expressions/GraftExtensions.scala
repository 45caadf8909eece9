package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: installs graft's native expressions
  * and optimizer rules into every session built with
  * `.config("spark.sql.extensions", "graft.expressions.GraftExtensions")`
  * (or `.withExtensions(new GraftExtensions)`) — no per-session register()
  * call needed; `SELECT cosine_sim(a, b)` works from bare SQL, exact
  * vector queries (top-k, batch top-k, threshold, batch threshold) over a
  * table with a registered HNSW graph or IVF layout are served from that
  * index (graft.plans.VectorIndexRewrite), aggregates over a
  * registered materialized view read the summary (graft.plans.MvAggRewrite),
  * and a sort of driver-local rows runs on the driver, with no Spark job
  * (graft.plans.LocalSortFold).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier(GraftFunctions.CosineSimName),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        GraftFunctions.CosineSimName),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier(GraftFunctions.NfcNormalizeName),
      new ExpressionInfo(classOf[NfcNormalize].getName,
        GraftFunctions.NfcNormalizeName),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    // the transparent vector-index rewrite: one rule for the graph and
    // IVF families × {top-k, batch top-k, range, batch range}, with index
    // precedence decided in graft.plans.IndexPrecedence
    e.injectOptimizerRule(session => graft.plans.VectorIndexRewrite(session))
    e.injectOptimizerRule(session => graft.plans.MvAggRewrite(session))
    e.injectOptimizerRule(_ => graft.plans.LocalSortFold)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy())
    // SQL DDL for index management (round-12 verdict #3): CREATE/DROP
    // INDEX + SHOW INDEXES front-end the existing register faces, so a
    // SQL-only user can reach the rewrite matrix and the catalog
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}

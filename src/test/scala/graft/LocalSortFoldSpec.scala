package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.LocalSortFold

/** A Sort over driver-local rows folds into a sorted LocalRelation
  * (graft.plans.LocalSortFold). The fold must be invisible except in job
  * counts: each case collects the same frame with the rule on and in a
  * session that excludes it through Spark's own
  * `spark.sql.optimizer.excludedRules`, and compares the rows. Ties are
  * compared as multisets per run of equal sort keys, since neither side
  * promises an order among ties.
  */
class LocalSortFoldSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A session over the same context whose optimizer skips the fold. */
  lazy val unfolded: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", LocalSortFold.ruleName)
    s
  }

  private def sorts(p: LogicalPlan): Seq[Sort] = p.collect { case s: Sort => s }

  /** (id, d) with NaN, ±0.0, ±Infinity and nulls among plain values. */
  private def doubles(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq[(Int, Option[Double])](1 -> Some(1.5), 2 -> Some(Double.NaN), 3 -> Some(-0.0),
      4 -> None, 5 -> Some(0.0), 6 -> Some(Double.NegativeInfinity), 7 -> Some(-2.0),
      8 -> Some(Double.NaN), 9 -> None, 10 -> Some(Double.PositiveInfinity), 11 -> Some(0.0),
      12 -> Some(1.5)).toDF("id", "d")
  }

  /** (g, sim, id) with ties on (g, sim). */
  private def scored(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1, 0.5, 10L), (2, 0.9, 11L), (1, 0.5, 12L), (2, 0.1, 13L), (1, 0.7, 14L),
      (2, 0.9, 15L), (1, 0.5, 16L), (3, 0.3, 17L), (2, 0.9, 18L)).toDF("g", "sim", "id")
  }

  /** A sort-key value as a run key: -0.0 and 0.0 are one value to Spark's
    * ordering, as are all NaNs.
    */
  private def keyOf(v: Any): Any = v match {
    case d: Double if d == 0.0 => 0.0
    case d: Double if d.isNaN => "NaN"
    case o => o
  }

  /** Rows cut into runs of equal sort key: the runs' order is exact, each
    * run's rows a multiset.
    */
  private def runs(rows: Seq[Row], keys: Seq[String]): Seq[(Seq[Any], Map[String, Int])] = {
    val out = Seq.newBuilder[(Seq[Any], Map[String, Int])]
    var rest = rows
    while (rest.nonEmpty) {
      val k = keys.map(c => keyOf(rest.head.getAs[Any](c)))
      val (run, tail) = rest.span(r => keys.map(c => keyOf(r.getAs[Any](c))) == k)
      out += k -> run.groupBy(_.toString).map { case (r, rs) => r -> rs.size }
      rest = tail
    }
    out.result()
  }

  /** Collect `frame` with and without the fold, check the folded plan has
    * no Sort and collects with no Spark job, and hand back both row sets.
    */
  private def bothWays(frame: SparkSession => DataFrame): (Seq[Row], Seq[Row]) = {
    val on = frame(spark)
    assert(sorts(on.queryExecution.optimizedPlan).isEmpty,
      s"the fold left a Sort:\n${on.queryExecution.optimizedPlan}")
    var rows = Seq.empty[Row]
    val jobs = PlanTestUtil.jobsOf(spark) { rows = on.collect().toSeq }
    assert(jobs === 0, s"a folded sort of local rows ran $jobs Spark jobs")
    val off = frame(unfolded)
    (rows, off.collect().toSeq)
  }

  /** Same runs of equal keys in the same order, ties as multisets. */
  private def assertSameRuns(frame: SparkSession => DataFrame, keys: String*): Unit = {
    assert(sorts(frame(unfolded).queryExecution.optimizedPlan).nonEmpty,
      "the excluded rule still folded: the comparison would compare nothing")
    val (on, off) = bothWays(frame)
    assert(on.nonEmpty)
    assert(runs(on, keys) === runs(off, keys))
  }

  test("double keys with NaN, -0.0/0.0 and nulls sort as Spark sorts them, asc/desc × nulls first/last") {
    Seq(col("d").asc, col("d").asc_nulls_last, col("d").desc, col("d").desc_nulls_first)
      .foreach(o => assertSameRuns(s => doubles(s).orderBy(o), "d"))
  }

  test("ties under a multi-key order keep each run's rows") {
    assertSameRuns(s => scored(s).orderBy(col("g").asc, col("sim").desc), "g", "sim")
  }

  test("an expression key sorts as Spark evaluates it") {
    assertSameRuns(s => scored(s).orderBy(-col("sim")), "sim")
  }

  test("a sort narrowed by a select after it folds with the select pushed under it") {
    assert(sorts(scored(unfolded).orderBy(col("sim").desc, col("id")).select(col("id"))
      .queryExecution.optimizedPlan).nonEmpty)
    val (on, off) = bothWays(s => scored(s).orderBy(col("sim").desc, col("id")).select(col("id")))
    assert(on.map(_.getLong(0)) === Seq(11L, 15L, 18L, 14L, 10L, 12L, 16L, 17L, 13L))
    assert(on === off)
  }

  test("a re-sorted filter of a sorted frame folds with the filter") {
    // the filter sits over the inner Sort until EliminateSorts, in the
    // same batch as the fold, drops that Sort: the outer one then has a
    // Filter over the relation as its child
    val frame = (s: SparkSession) => scored(s).orderBy(col("id"))
      .filter(col("g") =!= 3).orderBy(col("sim").desc, col("id"))
    assert(sorts(frame(unfolded).queryExecution.optimizedPlan).nonEmpty)
    val (on, off) = bothWays(frame)
    assert(on.map(_.getLong(2)) === Seq(11L, 15L, 18L, 14L, 10L, 12L, 16L, 13L))
    assert(on === off)
  }

  test("orderBy then limit returns the same first rows") {
    assert(sorts(doubles(unfolded).orderBy(col("d"), col("id")).limit(3)
      .queryExecution.optimizedPlan).nonEmpty)
    val (on, off) = bothWays(s => doubles(s).orderBy(col("d"), col("id")).limit(3))
    assert(on.map(_.getInt(0)) === Seq(4, 9, 6))
    assert(on === off)
  }

  test("sortWithinPartitions folds to the fully sorted relation") {
    val (on, off) = bothWays(s => scored(s).sortWithinPartitions(col("sim").desc))
    assert(on.map(_.toString).sorted === off.map(_.toString).sorted)
    assert(runs(on, Seq("sim")) === runs(scored(spark).orderBy(col("sim").desc).collect().toSeq, Seq("sim")))
  }

  test("an empty relation sorts to an empty relation") {
    val (on, off) = bothWays { s =>
      import s.implicits._
      Seq.empty[(Int, Double)].toDF("id", "d").orderBy(col("d"))
    }
    assert(on.isEmpty && off.isEmpty)
  }

  test("a rand() key sorts the values Spark's own local-relation fold drew, the same rows either way") {
    // the analyzer pulls rand(7) into a Project under the Sort, and
    // ConvertToLocalRelation evaluates it: the Sort's key is then a column
    val (on, off) = bothWays(s => doubles(s).orderBy(rand(7)))
    assert(on.map(_.getInt(0)).sorted === (1 to 12))
    assert(on === off)
  }

  test("a nondeterministic key, a subquery key and a streaming source keep their Sort") {
    val v = AttributeReference("v", IntegerType)()
    val rows = Seq(InternalRow(2), InternalRow(1))
    val random = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true,
      LocalRelation(Seq(v), rows))
    assert(LocalSortFold(random) eq random)

    doubles(spark).createOrReplaceTempView("local_sort_fold_v")
    try {
      val sub = spark.sql("SELECT id, d FROM local_sort_fold_v " +
        "ORDER BY id * (SELECT max(id) FROM local_sort_fold_v) DESC")
      assert(sorts(sub.queryExecution.optimizedPlan).nonEmpty)
      assert(sub.collect().map(_.getInt(0)).toSeq === (12 to 1 by -1))
    } finally spark.catalog.dropTempView("local_sort_fold_v")

    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // a batch query may not optimize a streaming plan: run the optimizer
    val stream = MemoryStream[Int].toDF().orderBy(col("value"))
    assert(sorts(spark.sessionState.optimizer.execute(stream.queryExecution.analyzed)).nonEmpty)
    // a streaming LocalRelation (a micro-batch of a V1 source) is left alone
    val streaming = Sort(Seq(SortOrder(v, Ascending)), global = true,
      LocalRelation(Seq(v), rows, isStreaming = true))
    assert(LocalSortFold(streaming) eq streaming)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Golden plan-shape pins for headline queries: the structural facts the
  * 100 TB story depends on (broadcast dims stay broadcast, top-k stays a
  * bounded heap, shuffle counts stay flat). An optimizer upgrade or an
  * innocent-looking query edit that silently degrades one of these —
  * broadcast→SMJ, TakeOrdered→global sort, an extra exchange — fails here
  * loudly instead of surfacing as a mystery regression at scale.
  *
  * Counts are asserted as budgets (≤), not exact equality: AQE is free to
  * collapse stages, and fewer exchanges is never a regression.
  */
class PlanGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // force AQE to its final shape
    finalSection(df.queryExecution.executedPlan.toString)
  }

  /** AdaptiveSparkPlan prints final AND initial plans — count only the
    * final section or every operator tallies twice.
    */
  private def finalSection(s: String): String = {
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  private def count(plan: String, token: String): Int =
    token.r.findAllMatchIn(plan).length

  test("q5_nation_revenue: dimension chain stays broadcast, no sort-merge join") {
    val p = planOf("q5_nation_revenue")
    assert(count(p, "BroadcastHashJoin") >= 3,
      s"dim chain lost its broadcasts (${count(p, "BroadcastHashJoin")} BHJ)")
    assert(!p.contains("SortMergeJoin"), "a dim join degraded to SMJ")
    assert(!p.contains("CartesianProduct"))
  }

  test("knn_topk: ranking is a bounded TakeOrdered heap, not a global sort") {
    val p = planOf("knn_topk")
    assert(p.contains("TakeOrderedAndProject"), "top-k lost its bounded heap")
    // the 1-row query side may broadcast-cross by design; PlanLintSpec
    // already lints unbroadcast cartesians registry-wide
  }

  test("knn_batch_custom: the partial/final TopKPerKey pair survives") {
    val p = planOf("knn_batch_custom")
    assert(count(p, "TopKPerKey") >= 2,
      s"custom partial/final heap pair missing:\n${p.take(400)}")
  }

  test("topk_orders: LIMIT-over-ORDER stays TakeOrdered") {
    val p = planOf("topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.matches("(?s).*GlobalLimit.*Sort.*"),
      "top-k planned as global sort + limit")
  }

  test("dedup_exact: exactly its three known shuffles, digests only") {
    // budget accounting: spread's deliberate fixture scatter + the fp
    // aggregation + the oracle-parity output sort — anything beyond is
    // a regression
    val p = planOf("dedup_exact")
    assert(count(p, "Exchange") <= 3,
      s"dedup grew extra shuffles (${count(p, "Exchange")} exchanges)")
  }

  test("window_topn: rank pushdown keeps the WindowGroupLimit rewrite") {
    val p = planOf("window_topn")
    assert(p.contains("WindowGroupLimit"),
      "per-key rank filter lost the WindowGroupLimit pushdown")
  }

  test("q1_agg: partial+final hash aggregate, single exchange") {
    val p = planOf("q1_agg")
    assert(count(p, "HashAggregate") >= 2, "partial aggregation disappeared")
    assert(count(p, "Exchange") <= 2)
  }

  test("runtime shuffle-byte budgets: knn_topk moves ZERO bytes, q5 moves digests") {
    // the measured twin of the structural pins above — the same listener
    // channel the bench artifact records every round
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def measure(name: String): Long = {
        org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
        val b0 = bytes.get()
        SparkEntry.queries(name)(spark, sf).collect()
        org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
        bytes.get() - b0
      }
      // broadcast query + per-partition heaps: the corpus NEVER shuffles
      assert(measure("knn_topk") === 0L, "knn_topk shuffled corpus bytes")
      // broadcast dim chain: only partial-aggregate digests cross the wire
      val q5 = measure("q5_nation_revenue")
      assert(q5 < 64 * 1024,
        s"q5 shuffled $q5 bytes — digests should be KBs, a fact join leaked")
      // item-item CF: the anchor-side restriction is what keeps the pair
      // shuffle at |anchors|·basket instead of |catalog|² (round-7 third
      // session: the unrestricted form measured 144 MB at sf0.1 / 23.8 s).
      // At sf0.001 the restricted plan moves well under 2 MB — a silent
      // return to the quadratic shape trips this immediately.
      val cf = measure("item_item_recs")
      assert(cf < 2 * 1024 * 1024,
        s"item_item_recs shuffled $cf bytes — anchor restriction lost?")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("er_fuzzy_match: blocked verification, no cartesian, bounded exchanges") {
    // the ER contract: candidates come from the block equi-join; the JW
    // kernel must never be the join condition of an unblocked product
    val p = planOf("er_fuzzy_match")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "linkage degraded to a nested-loop scan — block key lost")
  }

  test("colbert_rerank: vocab kernel + broadcast score join + bounded top-k") {
    val p = planOf("colbert_rerank")
    assert(p.contains("TakeOrderedAndProject"), "rerank cut lost its heap")
    assert(count(p, "BroadcastHashJoin") >= 1,
      "vocab score table stopped broadcasting — corpus tokens would shuffle")
    assert(!p.contains("CartesianProduct"))
  }

  test("dsir_select: model moves by broadcast; totals join is BHJ not BNLJ") {
    val p = planOf("dsir_select")
    // the model build (with its own broadcast(target) BHJ) runs in the
    // staged (localCheckpoint) subtree since r15 — truncated from the
    // serving plan by design (plans/r15/dsir_select_after.txt shows both
    // halves); the serving plan must still broadcast the scored model
    // into the corpus digest
    assert(count(p, "BroadcastHashJoin") >= 1,
      "model/totals broadcast lost — scoring would shuffle the corpus digest")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "1-row totals joined as BNLJ — literal-key equi-join degraded")
    assert(p.contains("TakeOrderedAndProject"), "top-100 lost its heap")
  }

  test("dsir_select: the staged model build broadcasts its target join, no SMJ or BNLJ") {
    // the model digest is staged by a localCheckpoint action that runs
    // while the DataFrame is built, so its joins never reach the serving
    // plan above; a QueryExecutionListener sees that action's own plan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val staged = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint" && qe.analyzed.output.exists(_.name == "n_t"))
          staged.add(finalSection(qe.executedPlan.toString))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("dsir_select")(spark, sf)
      // listener events arrive on the listener bus, after the action
      eventually(timeout(30.seconds)) { assert(!staged.isEmpty, "no staged model build seen") }
    } finally spark.listenerManager.unregister(listener)
    val p = staged.peek()
    assert(count(p, "BroadcastHashJoin") >= 1,
      s"the model build's broadcast(target) join stopped broadcasting:\n$p")
    assert(!p.contains("SortMergeJoin"), s"a model-build join degraded to SMJ:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"a model-build join degraded to BNLJ:\n$p")
  }

  test("setsim_join: candidates stay a prefix equi-join — no cartesian, no nested loop") {
    // the AllPairs contract: pair generation is the prefix-shingle
    // equi-join; a cartesian/BNLJ here is the quadratic all-pairs scan
    // the prefix filter exists to avoid
    val p = planOf("setsim_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidate generation degraded to a nested-loop scan — prefix equi-join lost")
  }

  test("rm3_expand: feedback shortlist broadcasts; expansion cut is a bounded heap") {
    val p = planOf("rm3_expand")
    assert(count(p, "BroadcastHashJoin") >= 1,
      "10-doc feedback shortlist stopped broadcasting — tf digest would shuffle")
    assert(p.contains("TakeOrderedAndProject"), "expansion top-15 lost its heap")
    assert(!p.contains("CartesianProduct"))
  }

  test("quantile_reg: 2-row dumped-model side never becomes a shuffle join") {
    val p = planOf("quantile_reg")
    assert(!p.contains("SortMergeJoin"),
      "model×scan degraded to SMJ — the table would shuffle for 2 rows")
    assert(!p.contains("CartesianProduct"))
  }

  test("logreg_cv: held-out scoring is join-free (fold weights ride as literals)") {
    val p = planOf("logreg_cv")
    assert(!p.contains("Join"),
      s"CV scoring plans a join — weights should be inlined literals:\n${p.take(400)}")
  }
}

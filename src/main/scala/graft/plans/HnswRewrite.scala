package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Descending, Expression, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Limit, LogicalPlan, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

import graft.operators.Hnsw.Ef
import graft.plans.RewriteSupport._

/** Transparent GRAPH ANN: the HNSW sibling of [[IvfTopKRewrite]]. A user
  * writes the exact top-k —
  * `ORDER BY round(cosine_sim(embedding, <literal query vector>), 6) DESC
  * [, id ASC] LIMIT k` — against a registered corpus table, and this rule
  * serves the candidate set from the strictly-better graph index
  * (HnswSpec: higher recall than IVF at a smaller scored budget) instead
  * of a full scan.
  *
  * Mechanics differ from the IVF rule only in what the "index probe" is:
  * IVF's probe is driver arithmetic over broadcast centroids and injects
  * `Filter(cell = best)` (partition pruning); a graph probe IS the
  * bounded beam walk — ≤ schedule·Ef·(MaxDegree+1) scored rows over
  * bucket-pruned artifact files, executed AT REWRITE TIME as the index
  * lookup (the same acceptable class: the walk reads index artifacts,
  * never the corpus, and its result is ≤ Ef ids of driver metadata) —
  * and injects `Filter(id IN (<final beam>))` above the scan. The FULL
  * final beam (Ef ids) is injected, not just k of them: the user's own
  * sort exact-rescores those rows, and since the walk already ranks by
  * the exact rounded cosine, the top-k of the rescored beam IS the
  * graph's top-k — while the extra Ef−k ids give benign id exclusions
  * headroom to drop a few rows without starving the LIMIT.
  *
  * Firing guards (each falls through to the untouched exact plan):
  *  - k ≤ Ef — a LIMIT beyond the beam width cannot be served from one
  *    walk and must NOT silently truncate;
  *  - the ranking must BE the walk's ranking: `round(sim, 6)` descending
  *    (the walk scores exactly that — a coarser/finer rounding or the
  *    raw cosine resolves round-6 ties differently over the full corpus
  *    than over 16 beam ids), with either no further sort key or the
  *    registered id ascending (the walk's own tiebreak);
  *  - the cosine's column attribute must BE the registered embedding
  *    column of the registered relation — a second vector column on the
  *    same table ranks differently and must scan exactly;
  *  - the plan between the sort and the scan is a pure Project/Filter
  *    spine — a join, aggregate, sample, or distinct shapes the row set
  *    in ways an injected id set cannot account for;
  *  - every predicate conjunct on that spine is a PROVABLY benign id
  *    exclusion — `id <> <literal>` or `IS NOT NULL(id)` — and the
  *    exclusion count e keeps k + e ≤ Ef: the unfiltered top-(k+e) (⊆
  *    the beam) then provably contains the filtered top-k. An id RANGE
  *    (`id >= 400`) is NOT benign — the unfiltered beam need not
  *    intersect it at all — and is the explicit filtered face's job
  *    (Hnsw.searchFiltered, the ACORN pool), not a rewrite's.
  *
  * Approximate by construction, so strictly opt-in (register), memoized
  * per (graph, generation, query vector, k) — maintenance verbs bump the
  * generation, so an in-flight pre-mutation walk can only ever populate
  * the OLD generation's slot and a mutated index never serves a
  * pre-mutation candidate set — the walk runs OUTSIDE any map lock and a
  * probe failure (mis-registered dirs, deleted artifacts) logs and falls
  * through to the exact scan instead of failing the user's query.
  */
object HnswGraphRegistry extends PathRegistry {

  /** One registered graph index over a corpus table path: the id and
    * embedding column names of the indexed table and the graph dirs
    * (canonicalized, so maintenance-side invalidation keys always match).
    */
  final case class Entry(idCol: String, embCol: String, edgesDir: String,
                         metaDir: String)
  type E = Entry

  /** Memoized walks keyed by (graph dir, generation, face — None = the
    * top-Ef beam, Some(t) = the range pool —, the element type of the
    * arrays the walk scores, panel). The element type must stay in the
    * key: the single faces cast the literal query to `array<float>` while
    * a batch panel is walked in its ORIGINAL type, and a double panel and
    * a float query with equal values can rank round-6 ties differently.
    */
  private[graft] val walkMemo =
    new ConcurrentHashMap[(String, Long, Option[Double], DataType, Seq[(Long, Seq[Double])]), Seq[(Long, Long)]]()

  def register(corpusPath: String, idCol: String, embCol: String,
               edgesDir: String, metaDir: String): Unit =
    put(corpusPath, Entry(idCol, embCol, canon(edgesDir), metaDir))

  /** Re-arm a PERSISTED registration (IndexCatalog.load) with its graph
    * dir's mutation generation.
    */
  def restore(corpusPath: String, e: Entry, gen: Long): Unit =
    restoreEntry(corpusPath, e.copy(edgesDir = canon(e.edgesDir)), e.edgesDir, gen)

  /** Current generation of a graph dir (0 = never mutated) — exposed for
    * the catalog; bumped by [[invalidate]].
    */
  def generationOfDir(edgesDir: String): Long = generation(edgesDir)

  /** Driver-resident graph copies (Hnsw's small-graph serving state) by
    * canonical graph dir: the key each was loaded under — (generation,
    * freshness stamp, size cap) — and the copy, or None for a graph over
    * the cap. One slot per dir, so a new key replaces the old copy and at
    * most one generation of a dir stays on the heap.
    */
  private[graft] val residentCopies =
    new ConcurrentHashMap[String, ((Long, String, Long), Option[graft.operators.Hnsw.GraphCopy])]()

  /** Resident copies kept at once; past it the map clears (a reload is
    * one load per graph). Each copy is bounded by Hnsw.DriverGraphMaxRows.
    */
  private val MaxResidentGraphs = 8

  /** The resident copy of `edgesDir` for its current generation,
    * freshness `stamp` and size `cap`, running `load` on a miss. The
    * generation is read BEFORE the load, so a load racing a maintenance
    * verb is filed under the old generation and never served after it.
    */
  def residentCopy(edgesDir: String, stamp: String, cap: Long)(
      load: => Option[graft.operators.Hnsw.GraphCopy]): Option[graft.operators.Hnsw.GraphCopy] = {
    val dir = canon(edgesDir)
    val key = (generationOfDir(dir), stamp, cap)
    Option(residentCopies.get(dir)).filter(_._1 == key).map(_._2).getOrElse {
      val loaded = load
      putCopy(dir, key, loaded)
      loaded
    }
  }

  /** Install a maintenance verb's patched copy of `edgesDir` (None: the
    * verb grew the graph past `cap`) under the current generation — read
    * after the verb's [[invalidate]] — and the stamp re-taken after its
    * writes, so the next search does not reload what the verb holds.
    */
  def install(edgesDir: String, stamp: String, cap: Long,
              copy: Option[graft.operators.Hnsw.GraphCopy]): Unit = {
    val dir = canon(edgesDir)
    putCopy(dir, (generationOfDir(dir), stamp, cap), copy)
  }

  private def putCopy(dir: String, key: (Long, String, Long),
                      copy: Option[graft.operators.Hnsw.GraphCopy]): Unit = {
    if (!residentCopies.containsKey(dir) && residentCopies.size >= MaxResidentGraphs)
      residentCopies.clear()
    residentCopies.put(dir, (key, copy))
  }

  override def clear(): Unit = { super.clear(); walkMemo.clear(); residentCopies.clear() }

  /** Invalidate memoized probes for a graph whose artifact just mutated —
    * called by Hnsw.appendToGraph/deleteFromGraph/compactGraph: the
    * generation bump makes every in-flight walk insert under a dead key,
    * and the old entries and the resident copy are purged too.
    */
  override def invalidate(edgesDir: String): Unit = {
    super.invalidate(edgesDir)
    val dir = canon(edgesDir)
    walkMemo.keySet().removeIf(_._1 == dir)
    residentCopies.remove(dir)
  }

  /** The graph-index probe: run the bounded beam walk for the literal
    * query vector, return the FULL final beam's ids (≤ Ef, rnk order).
    */
  def beamIds(spark: SparkSession, e: Entry, qVec: Array[Double]): Seq[Long] =
    walk(spark, e, Seq((0L, qVec.toSeq)), FloatType, None)(floatQuery(spark, qVec)).map(_._2)

  /** The RANGE graph probe: run the bounded range walk (schedule +
    * bounded range hops, Hnsw.searchRangeIn) for the literal query
    * vector, return every visited id with round-6 sim ≥ t — bounded by
    * the walk's own caps (≤ Ef + RangeHops·RangeBeamCap·MaxDegree
    * driver-metadata ids), independent of corpus size.
    */
  def rangeIds(spark: SparkSession, e: Entry, qVec: Array[Double],
               t: Double): Seq[Long] =
    walk(spark, e, Seq((0L, qVec.toSeq)), FloatType, Some(t))(floatQuery(spark, qVec)).map(_._2)

  private def floatQuery(spark: SparkSession, qVec: Array[Double]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Seq((0L, qVec.toSeq)).toDF("qid", "q_emb")
      .select(col("qid"), col("q_emb").cast("array<float>").as("q_emb"))
  }

  /** THE memoized graph walk, both faces and any panel size: ONE bounded
    * walk for the whole panel (every hop's pass shared, per-qid beams or
    * frontiers) returning every (qid, id) pair — the top-Ef beam in rnk
    * order when `t` is None, else every visited id with round-6 sim ≥ t
    * in id order. `qdf` holds the panel as (qid, q_emb) with `elem` its
    * element type, built only on a memo miss. Memoized per (graph,
    * generation, face, element type, panel): the optimizer may visit the
    * same plan more than once (fixed-point batches, AQE re-planning) and
    * the walk is a pure function of those within a generation. The walk
    * runs OUTSIDE the map (a seconds-long Spark job must not hold a
    * ConcurrentHashMap bin lock against concurrent planning threads); a
    * racing duplicate walk is idempotent and putIfAbsent keeps one.
    */
  def walk(spark: SparkSession, e: Entry, panel: Seq[(Long, Seq[Double])],
           elem: DataType, t: Option[Double])(qdf: => DataFrame): Seq[(Long, Long)] = {
    val key = (e.edgesDir, generationOfDir(e.edgesDir), t, elem, panel)
    Option(walkMemo.get(key)).getOrElse {
      // ordered on the driver: a small walk's result is a local relation,
      // and a Spark sort over it would start jobs its collect does not
      val walked = t match {
        case None => graft.operators.Hnsw.searchIn(spark, e.edgesDir, e.metaDir, qdf, k = Ef)
          .collect().map(r => ((r.getLong(0), r.getInt(3)), r.getLong(1)))
          .sortBy(_._1).map { case ((qid, _), id) => (qid, id) }.toSeq
        case Some(th) => graft.operators.Hnsw.searchRangeIn(spark, e.edgesDir, e.metaDir, qdf, th)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      boundedPut(walkMemo, key, walked)
      walked
    }
  }

  /** [[walk]] over a collected batch panel ([[RewriteSupport.panelProbe]]),
    * walked in its original element type; an empty result declines.
    */
  private[plans] def walkPanel(spark: SparkSession, e: Entry, panel: Seq[(Long, Seq[Double])],
                               pinned: () => DataFrame, t: Option[Double]): Option[Seq[(Long, Long)]] = {
    val qdf = pinned()
    val elem = qdf.schema("q_emb").dataType.asInstanceOf[ArrayType].elementType
    Some(walk(spark, e, panel, elem, t)(qdf)).filter(_.nonEmpty)
  }
}

/** The rewrite rule (injected via GraftExtensions.injectOptimizerRule). */
case class HnswTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // conf-driven durable-catalog bring-up (one conf read + map hit per
    // pass; the family-head rule runs on every optimization, so a session
    // with spark.graft.catalog.root set re-arms before any isEmpty check)
    IndexCatalog.autoLoadIfConfigured(spark)
    if (HnswGraphRegistry.isEmpty) return plan
    plan.transformDown {
      case limit @ Limit(le @ Literal(k: Int, IntegerType),
          sort @ Sort(SortOrder(ref: AttributeReference, Descending, _, _) +: tail, true, child, _))
          if k <= Ef =>
        tryRewrite(ref, tail, k, child) match {
          // Rebuild via Limit.apply — the extractor matched
          // GlobalLimit(LocalLimit(sort)); see IvfTopKRewrite for why
          // withNewChildren on the outer node alone would be wrong.
          case Some(newChild) => Limit(le, sort.withNewChildren(Seq(newChild)))
          case None => limit
        }
    }
  }

  private def tryRewrite(ref: AttributeReference, sortTail: Seq[SortOrder],
                         k: Int, child: LogicalPlan): Option[LogicalPlan] =
    for {
      // the walk's own ranking form only: round-6 (see Round6)
      (simAttr, qVec) <- aliasOf(ref, child).flatMap(cosineUnder(_, Round6)).flatMap(literalCosine)
      (rel, conds) <- spineTo[LogicalRelation](child)
      entry <- HnswGraphRegistry.lookupRel(rel)
      idAttr <- rel.output.find(_.name == entry.idCol)
      if idTiebreak(sortTail, idAttr)
      // the ranked column must BE the indexed embedding column — another
      // vector column on the same table ranks differently (wrong-index
      // hijack) and must keep its exact scan
      if isColumn(rel, simAttr, entry.embCol)
      // idempotence under the fixed-point optimizer batch: fire once —
      // the ONE shared matcher, conjunct-granular (a benign `id <> 5`
      // exclusion must not read as the injected prune) and covering the
      // EqualTo form OptimizeIn folds a 1-element In into
      if !conds.exists(idPrunePredicate(idAttr))
      // user predicates: provably benign id exclusions only, with enough
      // beam headroom that the filtered top-k is still inside it
      exCount <- benignExclusions(conds, idAttr)
      if k + exCount <= Ef
      ids <- probed("HnswTopKRewrite", entry.edgesDir)(HnswGraphRegistry.beamIds(spark, entry, qVec))
    } yield {
      logInfo(s"HnswTopKRewrite: pruning ${rel.simpleString(50)} to " +
        s"${entry.idCol} IN (${ids.length} graph-served ids)")
      pruneAt(child, rel, inList(idAttr, ids))
    }
}

/** Batch-face transparent graph rewrite — [[HnswTopKRewrite]] at N queries
  * (the production retrieval shape the reference's flagship search loop,
  * `VectorSearchService.cs:173-217`, generalizes to): the user writes the
  * exact per-qid window top-k —
  *
  *   `row_number() OVER (PARTITION BY qid
  *      ORDER BY round(cosine_sim(emb, q_emb), 6) DESC [, id ASC]) ≤ k`
  *
  * over a registered corpus cross-joined to a query table — and this rule
  * serves each qid's candidate set from ONE batch graph walk (every hop's
  * pass shared across the panel) instead of |panel| full corpus scans.
  * The probe result is injected as a LEFT SEMI join against a
  * (qid, vec_id) literal table — the single face's `Filter(id IN beam)`
  * generalized to per-qid id sets — so the user's own window
  * exact-rescored the ≤ Ef beam rows per qid, and since the walk already
  * ranks by the same round-6 cosine + id tiebreak, the window's top-k IS
  * the graph's top-k.
  *
  * Firing guards, each the single face's rule generalized (fall through
  * to the untouched exact plan): k ≤ Ef; the window function is
  * row_number (rank's tie semantics differ) partitioned by exactly the
  * query-side id attribute; the ranking is the walk's own
  * `round(cosine_sim(<registered emb col>, <query-side attr>), 6)`
  * descending with no further key or the registered id ascending; the
  * spine window→join and join→corpus-relation is pure Project/Filter
  * whose every conjunct is a provably benign id exclusion with
  * k + e ≤ Ef; the join is an unconditioned Inner/Cross (a join
  * condition shapes the per-qid row set in ways per-qid id sets cannot
  * account for); the query side must not contain the registered relation
  * (a self-join's "panel" is corpus-sized, not API-sized) and must yield
  * distinct qids (duplicate qids make the per-qid ranking ill-defined).
  * Executing the query-side subplan at rewrite time is the same
  * documented probe class as the single face's walk: an API-sized panel
  * read, memoized per (graph, generation, panel).
  */
case class HnswBatchTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (HnswGraphRegistry.isEmpty) return plan
    plan.transformDown {
      case f @ Filter(cond, w: Window) =>
        tryRewrite(cond, w).map(Filter(cond, _)).getOrElse(f)
    }
  }

  private def tryRewrite(cond: Expression, w: Window): Option[LogicalPlan] = {
    val child = w.child
    for {
      (k, qidAttr, simRef) <- rankWindow(cond, w)
      if k <= Ef
      // idempotence under the fixed-point optimizer batch: an injected
      // semi-join is already below
      if injectedMarkers(child).isEmpty
      (join, spineConds) <- spineTo[Join](child)
      if join.condition.isEmpty
      (rel, corpusConds, entry, querySide) <- orient(join, HnswGraphRegistry.lookupRel)
      idAttr <- rel.output.find(_.name == entry.idCol)
      embAttr <- rel.output.find(_.name == entry.embCol)
      // the ranked expression: the walk's own round-6 cosine between the
      // REGISTERED embedding column and a query-side attribute
      qEmbAttr <- aliasOf(simRef, child).flatMap(cosineUnder(_, Round6))
        .flatMap(queryVector(_, embAttr, querySide))
      // the partition key is the query side's, and both join keys of the
      // injected semi-join must be visible at the injection point
      if querySide.outputSet.contains(qidAttr)
      if child.outputSet.contains(idAttr) && child.outputSet.contains(qidAttr)
      if qidAttr.dataType == LongType && idAttr.dataType == LongType
      if idTiebreak(w.orderSpec.tail, idAttr)
      // every predicate on the window→join and join→corpus spines must be
      // a provably benign id exclusion within the beam headroom; the
      // QUERY side's own filters are untouched panel selection (the probe
      // executes them verbatim)
      exCount <- benignExclusions(spineConds ++ corpusConds, idAttr)
      if k + exCount <= Ef
      if !selfJoin(rel, querySide)
      pairs <- panelProbe(spark, "HnswBatchTopKRewrite", HnswGraphRegistry.panelMemo,
          (entry.edgesDir, HnswGraphRegistry.generationOfDir(entry.edgesDir)),
          querySide, Some(qidAttr), qEmbAttr) {
        HnswGraphRegistry.walkPanel(spark, entry, _, _, None)
      }
    } yield {
      logInfo(s"HnswBatchTopKRewrite: pruning ${rel.simpleString(50)} to " +
        s"${pairs.length} graph-served (qid, ${entry.idCol}) pairs")
      w.copy(child = semiJoinPrune(child, rel, qidAttr, idAttr, pairs, "hnsw-batch",
        ("__graft_qid", "__graft_vid"), LongType))
    }
  }
}

/** Transparent GRAPH range (threshold) search — the rewrite face of
  * Hnsw.searchRange, the third face of the graph rewrite family
  * (single top-k, batch top-k, range). A user writes the exact range
  * shape —
  *
  *   `WHERE round(cosine_sim(<registered emb col>, <literal vector>), 6) >= t`
  *
  * over a graph-registered corpus, and this rule serves the candidate set
  * from the bounded range walk (schedule descent + capped range hops,
  * executed AT REWRITE TIME — the same documented probe class as the
  * top-k faces: the walk reads only index artifacts and returns bounded
  * driver metadata) by injecting `Filter(id IN <visited ≥ t>)` above the
  * scan. The user's own predicate re-scores those rows exactly, so the
  * result IS the explicit face's output (`ann_range_rewrite` shares
  * `ann_range_search`'s oracle verbatim).
  *
  * Approximate by construction (the walk can miss a qualifying node no
  * graph path reaches) — strictly opt-in via registration, like the
  * top-k rules and unlike the PROVABLY-EXACT IvfRangeRewrite. Guards
  * (each falls through to the untouched exact plan):
  *  - the threshold is a top-level AND-conjunct in the walk's OWN ranking
  *    form — `round(cs, 6)` ONLY: the walk's ≥ t cut is on round-6 sims,
  *    so a raw-cosine or coarser-rounded predicate draws the boundary
  *    differently than the served pool (the IVF range rule can accept the
  *    raw form because its superset-refilter is exact; this one cannot);
  *  - the cosine's attr IS the registered embedding column (exprId);
  *  - pure Project/Filter spine whose other conjuncts are provably benign
  *    id exclusions (no count bound — there is no LIMIT to starve; an
  *    excluded id simply leaves the served set);
  *  - no IVF cell filter already injected below (on a doubly-registered
  *    table the EXACT IVF range rule outranks this approximate one —
  *    stacking an id-IN above a cell prune could drop walk results whose
  *    cells the bound excluded);
  *  - a probe failure or an empty visited-≥ t pool falls through to the
  *    exact scan (recall-preserving: an empty pool must not masquerade as
  *    a served empty result).
  * With several threshold conjuncts the TIGHTEST t probes (the walk's
  * visited pool at max(t) re-filtered by all conjuncts is the same set
  * the user's own predicates leave).
  */
case class HnswRangeRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (HnswGraphRegistry.isEmpty) return plan
    plan.transformDown {
      case f @ Filter(cond, child) =>
        tryRewrite(cond, child).map(Filter(cond, _)).getOrElse(f)
    }
  }

  private def tryRewrite(cond: Expression, child: LogicalPlan): Option[LogicalPlan] =
    for {
      (rel, spineConds) <- spineTo[LogicalRelation](child)
      entry <- HnswGraphRegistry.lookupRel(rel)
      embAttr <- rel.output.find(_.name == entry.embCol)
      idAttr <- rel.output.find(_.name == entry.idCol)
      // idempotence: our own injected id-IN (or the top-k rules'),
      // checked against BOTH the matched condition (CombineFilters merges
      // the injected filter up into it before the next fixed-point
      // iteration) and the child spine
      if !idPrunePredicate(idAttr)(cond) && !spineConds.exists(idPrunePredicate(idAttr))
      if !IvfIndexRegistry.ownsRange(rel, child)
      ths = literalThresholds(conjuncts(cond), child, embAttr, Round6)
      matches = ths.flatMap(_._2)
      if matches.nonEmpty
      (qVec, t) = matches.maxBy(_._2)
      // every OTHER predicate — the matched Filter's non-threshold
      // conjuncts AND the spine's — must be a provably benign id
      // exclusion: an arbitrary row filter (lang = 'en') under walk-served
      // candidates compounds recall loss invisibly; that is the explicit
      // ACORN face's job (Hnsw.searchFiltered), not a rewrite's
      _ <- benignExclusions(ths.collect { case (c, None) => c } ++ spineConds, idAttr)
      ids <- probed("HnswRangeRewrite", entry.edgesDir)(HnswGraphRegistry.rangeIds(spark, entry, qVec, t))
    } yield {
      logInfo(s"HnswRangeRewrite: pruning ${rel.simpleString(50)} to " +
        s"${entry.idCol} IN (${ids.length} range-walked ids) at t=$t")
      pruneAt(child, rel, inList(idAttr, ids))
    }
}

/** BATCH face of the transparent graph range rewrite — [[HnswRangeRewrite]]
  * at N queries, completing the range side of the rewrite matrix
  * (round-11 verdict #2): the user writes the exact batch threshold
  * shape —
  *
  *   corpus JOIN <query table>
  *   WHERE round(cosine_sim(<registered emb col>, <query-side attr>), 6) >= t
  *
  * over a graph-registered corpus, and this rule serves every qid's
  * candidate pool from ONE batch range walk (Hnsw.searchRangeIn — the
  * schedule descent + capped range hops with per-qid frontiers, every
  * hop's probe shared across the panel), injected exactly like the batch
  * top-k face: a SUPERSET `id IN <union of visited ≥ t>` filter above
  * the corpus relation (file/row-group pruning at the scan) plus a
  * per-qid LEFT SEMI against the (qid, id) literal pool, so no qid keeps
  * a row outside ITS walk's pool. The user's own threshold predicate
  * re-scores every surviving row with the identical round-6 cosine the
  * walk ranked by, so the served result IS the explicit batch face's
  * output verbatim (they share one oracle replay).
  *
  * Matches BOTH optimizer shapes, like the exact IVF batch range rule:
  * the Filter-above-join form and the condition-carried form
  * PushPredicateThroughJoin rewrites it into. Approximate by
  * construction — strictly opt-in via registration, with the same
  * precedence as the single face: a radii-armed IVF registration on the
  * table means its owner chose PROVABLY-EXACT threshold serving
  * ([[IvfRangeBatchRewrite]]), so this rule declines outright by
  * REGISTRY state (never by plan state alone — first-pass inversion),
  * and also under any cell prune already in the plan. Other guards, each
  * a fall-through to the untouched exact plan: Inner/Cross join; the
  * walk's OWN ranking form only (round-6 — allowRaw=false: the walk's
  * ≥ t cut is on round-6 sims); every non-threshold conjunct above the
  * join and on the corpus spine a provably benign id exclusion; panel ≤
  * 4096 distinct non-null Long qids (collected at rewrite time — the
  * documented API-panel probe class, memoized per (graph, generation,
  * panel, t)); no self-join (canonical root paths); empty pool falls
  * through (an empty pool must not masquerade as a served empty result).
  */
case class HnswRangeBatchRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (HnswGraphRegistry.isEmpty) plan else rewriteRangeJoins(plan)(tryRewrite)

  private def tryRewrite(cond: Expression, join: Join, spineConds: Seq[Expression],
                         searchRoot: LogicalPlan): Option[LogicalPlan] =
    for {
      (rel, corpusConds, entry, querySide) <- orient(join, HnswGraphRegistry.lookupRel)
      embAttr <- rel.output.find(_.name == entry.embCol)
      idAttr <- rel.output.find(_.name == entry.idCol)
      // idempotence: our own injected semi-join marker, plus the
      // superset id-IN (cond AND spine — CombineFilters/pushdown can
      // carry it either place)
      if !injectedMarkers(searchRoot).contains("hnsw-range-batch")
      if !idPrunePredicate(idAttr)(cond) && !filterExists(searchRoot)(idPrunePredicate(idAttr))
      if !IvfIndexRegistry.ownsRange(rel, searchRoot)
      // every conjunct to audit: the matched condition PLUS — in the
      // Filter-above-join shape — the inner join's OWN ON condition (the
      // condition-carried shape folds it into `cond` already; skipping
      // it here let an equi-join fire unaudited and silently compound
      // recall loss — review finding)
      ths = pairThresholds(conjuncts(cond) ++
        (if (searchRoot eq join) Nil else join.condition.map(conjuncts).getOrElse(Nil)),
        searchRoot, embAttr, Round6)
      // the threshold conjuncts ranking the registered column against a
      // query-side attribute; with several, the TIGHTEST t probes (the
      // conjunction keeps only rows ≥ max(t) either way)
      matches = ths.collect { case (_, Some((q, t))) if querySide.outputSet.contains(q) => (q, t) }
      if matches.nonEmpty
      (qAttr, t) = matches.maxBy(_._2)
      // every NON-threshold conjunct — matched condition, join condition,
      // and the corpus spine — must be a provably benign id exclusion
      // (no count bound: there is no LIMIT to starve)
      _ <- benignExclusions(ths.collect { case (c, None) => c } ++ spineConds ++ corpusConds, idAttr)
      // the panel-side qid: the query side's single non-vector output of
      // Long type visible at the injection point — the semi-join key
      qidAttr <- querySide.output.collect {
        case a: AttributeReference if a.dataType == LongType &&
          a.exprId != qAttr.exprId && searchRoot.outputSet.contains(a) => a
      } match {
        case Seq(a) => Some(a)
        case _ => None
      }
      if searchRoot.outputSet.contains(idAttr)
      if !selfJoin(rel, querySide)
      pairs <- panelProbe(spark, "HnswRangeBatchRewrite", HnswGraphRegistry.panelMemo,
          (entry.edgesDir, HnswGraphRegistry.generationOfDir(entry.edgesDir), t),
          querySide, Some(qidAttr), qAttr) {
        HnswGraphRegistry.walkPanel(spark, entry, _, _, Some(t))
      }
    } yield {
      logInfo(s"HnswRangeBatchRewrite: pruning ${rel.simpleString(50)} to " +
        s"${pairs.length} range-walked (qid, ${entry.idCol}) pairs at t=$t")
      semiJoinPrune(searchRoot, rel, qidAttr, idAttr, pairs, "hnsw-range-batch",
        ("__graft_rqid", "__graft_rvid"), LongType)
    }
}

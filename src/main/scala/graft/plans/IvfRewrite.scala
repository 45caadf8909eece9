package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Descending, EqualTo, Expression, In, InSet, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Limit, LogicalPlan, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.expressions.CosineSimilarity
import graft.plans.RewriteSupport._

/** Transparent ANN: a Catalyst optimizer rule that rewrites exact top-k
  * vector search over an IVF-laid-out table into probe-and-prune.
  *
  * A user writes the *exact* query —
  * `ORDER BY cosine_sim(embedding, <literal query vector>) DESC LIMIT k` —
  * against a table stored partitioned by its IVF cell column. If that
  * table's index is registered in [[IvfIndexRegistry]], this rule probes the
  * (driver-resident, tiny) cell medoids, picks the nearest cell, and injects
  * `Filter(cell = best)` directly above the scan. FileSourceStrategy then
  * turns that filter into a partition-pruning predicate, so the physical
  * plan reads ONE cell directory instead of the whole corpus — the I/O shape
  * that makes vector search viable at 100 TB (1/cells of the scan; the
  * registry holds one centroid per cell, a few KB).
  *
  * Opting in = registering the index, exactly like creating an ANN index in
  * a vector database: the rewrite is approximate by construction (recall <
  * 1.0 when the true neighbor lives outside the probed cell), so it never
  * fires on unregistered tables, and the exact scan remains the oracle.
  */
object IvfIndexRegistry extends PathRegistry {

  /** One registered IVF index: partition (cell) column name + per-cell
    * medoid vectors, held driver-side. `embCol` (when known) lets the
    * rules verify the ranked/filtered column IS the indexed one — a second
    * vector column on the same table ranks by different geometry and must
    * keep its exact scan. `radii` (the per-cell angular-radius sidecar,
    * Ann.kmRadiiLayout) arms the PROVABLY-EXACT threshold rewrite
    * ([[IvfRangeRewrite]]); without it only the approximate top-k rule
    * fires.
    */
  final case class Entry(cellCol: String, medoids: Seq[(Int, Array[Double])],
                         embCol: Option[String] = None,
                         radii: Map[Int, Double] = Map.empty,
                         // staleness metadata (round-11 verdict #3): the
                         // id column + the (id, cell) membership
                         // fingerprint captured at registration ("" =
                         // not captured → the catalog reports no drift),
                         // an optional per-cell row cap arming the SPLIT
                         // decision, and whether maintainAll may REBUILD
                         // the metadata from the live table (true only
                         // for the medoid-backed registration — trained
                         // centers are offline state a catalog tick must
                         // never silently replace with medoids)
                         idCol: Option[String] = None,
                         fingerprint: String = "",
                         splitCap: Option[Long] = None,
                         rebuildable: Boolean = false,
                         // cells a split attempt proved UNSPLITTABLE (a
                         // degenerate 2-means put every row in one half —
                         // e.g. all-duplicate vectors): the catalog skips
                         // them when deciding `split`, so the maintenance
                         // tick converges instead of re-compacting the
                         // layout forever (round-12 advisor); cleared by
                         // re-registration/rebuild (fresh geometry, fresh
                         // verdict)
                         splitBlocked: Set[Int] = Set.empty,
                         // probe width for the transparent TOP-K faces —
                         // the recall↔I/O knob every vector database
                         // exposes (scanned fraction ≈ nprobe/cells,
                         // recall grows monotonically; at nprobe = cells
                         // the rewrite IS the exact scan and declines on
                         // the no-pruning guard). The PROVABLY-EXACT
                         // range faces ignore it: their admission is the
                         // angular bound, not a width.
                         nprobe: Int = 1) {

    /** Nearest cell by cosine-to-medoid; sim rounded to 6dp and ties broken
      * by cell id, mirroring Ann.ivfSearch's probe so both paths (and the
      * DuckDB oracle) pick the identical cell.
      */
    def bestCell(q: Array[Double]): Int = bestCells(q, 1).head

    /** The `n` nearest cells by (round-6 cosine desc, cell asc) — ONE
      * ranking shared by bestCell, the multi-probe rewrites, and the
      * DuckDB replay (Ann.ivfSearchCells' probe at nprobe = n).
      */
    def bestCells(q: Array[Double], n: Int): Seq[Int] = {
      val qa = ArrayData.toArrayData(q)
      medoids.map { case (cell, m) =>
        // the shared kernel, then Spark's own HALF_UP round(sim, 6) as in
        // Ann.ivfSearch and the DuckDB oracle — math.rint is half-even and
        // could probe a different cell on an exact .5-ulp tie
        (cell, CosineSimilarity.roundedCosine(ArrayData.toArrayData(m), false, qa, false))
      }.sortBy { case (cell, s) => (-s, cell) }.take(n).map(_._1)
    }
  }
  type E = Entry

  /** Build + register the index for a cell-partitioned parquet table: one
    * medoid (min-id member) per cell, collected to the driver. At real
    * scale this collect is #cells rows — the index metadata, not the data.
    */
  def register(spark: SparkSession, path: String, cellCol: String,
               idCol: String, embCol: String,
               splitCap: Option[Long] = None,
               nprobe: Int = 1): Unit = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    import org.apache.spark.sql.functions.col
    // re-registration = fresh snapshot: a cached stats slot at the same
    // generation could otherwise serve a pre-overwrite fingerprint
    purgeStats(path)
    val df = spark.read.parquet(path)
    val medoids = graft.operators.Ann.cellMedoids(df, cellCol, idCol, embCol)
      .select(col("cell"),
        graft.functions.VectorOps.toDoubleArray(col("centroid")).as("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    put(path, Entry(cellCol, medoids, Some(embCol),
      idCol = Some(idCol),
      fingerprint = tableFingerprint(spark, path, Seq(idCol, cellCol)),
      splitCap = splitCap, rebuildable = true, nprobe = nprobe))
  }

  /** The (id, cell) MEMBERSHIP fingerprint of a cell-partitioned layout —
    * the same order-independent md5-sum digest discipline the MV registry
    * uses (Streaming.fingerprintStream), restricted to the two columns
    * that define what an IVF index indexes: which rows, in which cells.
    * Scalar columns only, so the DuckDB oracle recomputes it exactly
    * (float-array formatting never crosses engines). One map-side-
    * combined digest pass — the staleness probe cost class, never a
    * row-level diff.
    */
  def tableFingerprint(spark: SparkSession, path: String,
                       cols: Seq[String]): String = {
    import org.apache.spark.sql.functions.{col, concat_ws}
    spark.catalog.refreshByPath(path)
    val df = spark.read.parquet(path).select(cols.map(col): _*)
    val canonCol = concat_ws("|", cols.map(c => col(c).cast("string")): _*)
    graft.streaming.Streaming.fingerprintStream(df, canonCol)
      .head().getLong(1).toString
  }

  /** Register an index from EXPLICIT cell representatives — trained
    * k-means centers (Ann.kmeansLayout) instead of recomputed medoids.
    */
  def registerCentroids(path: String, cellCol: String,
                        centroids: Seq[(Int, Array[Double])]): Unit =
    put(path, Entry(cellCol, centroids.sortBy(_._1)))

  /** [[registerCentroids]] WITH staleness capture (round-11 verdict #3):
    * records the (id, cell) membership fingerprint at registration so
    * the catalog can surface drift as a `rebuild` decision. NOT
    * rebuildable by maintainAll — the centers are trained offline state
    * a catalog tick must never silently replace with medoids; the
    * decision routes the operator to the retrain path instead.
    */
  def registerCentroids(spark: SparkSession, path: String, cellCol: String,
                        idCol: String, embCol: String,
                        centroids: Seq[(Int, Array[Double])],
                        splitCap: Option[Long] = None,
                        nprobe: Int = 1): Unit = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    purgeStats(path)
    put(path, Entry(cellCol, centroids.sortBy(_._1),
      embCol = Some(embCol),
      idCol = Some(idCol),
      fingerprint = tableFingerprint(spark, path, Seq(idCol, cellCol)),
      splitCap = splitCap, nprobe = nprobe))
  }

  /** Register trained centers PLUS the per-cell angular-radius sidecar —
    * the full index metadata that arms [[IvfRangeRewrite]] (transparent,
    * provably-exact threshold search) alongside the top-k rule. `embCol`
    * is required here: an exactness-preserving rewrite must never fire on
    * a cosine over some other vector column of the same table.
    */
  def registerCentroidsWithRadii(path: String, cellCol: String, embCol: String,
                                 centroids: Seq[(Int, Array[Double])],
                                 radii: Map[Int, Double],
                                 // optional id column so the registry-
                                 // resolved serving face (Streaming
                                 // .indexServeBatch) can rank this
                                 // registration too (review finding: a
                                 // range-armed index could only be
                                 // refused, never served)
                                 idCol: Option[String] = None): Unit =
    put(path,
      Entry(cellCol, centroids.sortBy(_._1), Some(embCol), radii,
        idCol = idCol))

  /** Re-arm a PERSISTED registration (IndexCatalog.load): the entry
    * verbatim — medoids, radii, fingerprint, splitCap, splitBlocked —
    * plus its mutation generation, so catalog rows and stats-cache keys
    * read identically across a JVM restart. The stats cache is purged
    * for the path (a pre-restore probe of the same path must never serve
    * under the restored generation).
    */
  def restore(path: String, e: Entry, gen: Long): Unit = {
    purgeStats(path)
    restoreEntry(path, e, path, gen)
  }

  // the panel memo (purged by the shared clear) holds admissions computed
  // against entries a clear drops; so does the stats cache
  override def clear(): Unit = { super.clear(); statsCache.clear() }

  // --- staleness / maintenance (round-11 verdict #3) ------------------------

  /** Mutation generation of a layout path (0 = never mutated in this
    * JVM) — bumped by [[invalidate]] (a layout append/compaction/split; a
    * cheap no-op for unregistered paths), surfaced by the catalog. The
    * probe memos need no purge on a bump: they are keyed on the entry's
    * metadata VALUES, which a layout mutation without re-registration
    * does not change (that unchanged-metadata-over-drifted-data gap is
    * exactly what the catalog's fingerprint decision surfaces).
    */
  def generationOfPath(path: String): Long = generation(path)

  /** Exact-rule precedence over the graph range rules, by REGISTRY state:
    * a radii-armed registration on `rel` means its owner chose
    * PROVABLY-EXACT threshold serving, so the approximate graph rules
    * must decline outright (a plan-state check alone inverts the
    * precedence: the graph rules are injected first, so on the first
    * optimizer pass no cell filter can exist yet). A cell prune already
    * in `scope` (the EqualTo form OptimizeIn folds a single-cell IN into
    * included) is the second line, for a scan pre-pruned by any path.
    */
  private[plans] def ownsRange(rel: LogicalRelation, scope: LogicalPlan): Boolean =
    lookupRel(rel).exists { e =>
      e.radii.nonEmpty || rel.output.find(_.name == e.cellCol)
        .exists(c => filterExists(scope)(cellPrunePredicate(c)))
    }

  /** Maintenance verb: refresh a MEDOID-BACKED registration from the
    * live table — recompute the per-cell medoids and re-snapshot the
    * fingerprint, healing a `rebuild` decision. Returns true iff it
    * rebuilt; trained-centroid registrations return false (their rebuild
    * is an offline retrain — the decision stays surfaced, the tick never
    * silently swaps trained centers for medoids).
    */
  def rebuild(spark: SparkSession, path: String): Boolean = {
    import org.apache.spark.sql.functions.col
    get(path) match {
      case Some(e) if e.rebuildable && e.idCol.isDefined && e.embCol.isDefined =>
        val fp = tableFingerprint(spark, path, Seq(e.idCol.get, e.cellCol))
        if (fp == e.fingerprint) false // healed concurrently — report noop
        else {
          val df = spark.read.parquet(path)
          val medoids = graft.operators.Ann.cellMedoids(df, e.cellCol,
              e.idCol.get, e.embCol.get)
            .select(col("cell"),
              graft.functions.VectorOps.toDoubleArray(col("centroid")).as("centroid"))
            .collect()
            .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
            .sortBy(_._1).toSeq
          // radii (if any) were measured against the OLD geometry — a
          // rebuild drops them rather than serve a stale exactness bound;
          // split-blocked verdicts were reached on that geometry too
          put(path,
            e.copy(medoids = medoids, fingerprint = fp, radii = Map.empty,
              splitBlocked = Set.empty))
          true
        }
      case _ => false
    }
  }

  /** Maintenance verb: split the hottest over-cap cell of a
    * splitCap-armed registration — the targeted rebalance for POPULATION
    * skew (the Ivfpq.splitCell posture on the plain layout):
    * deterministic 2-means over just that cell, layout rewritten through
    * the two-rename atomic swap, the entry's metadata re-derived for the
    * two sub-cells, fingerprint re-snapshotted. Returns true iff it
    * split; under-cap (or unarmed / non-medoid) registrations noop.
    */
  def splitHottest(spark: SparkSession, path: String): Boolean = {
    get(path) match {
      case Some(e) if e.splitCap.isDefined && e.idCol.isDefined && e.embCol.isDefined =>
        splitCandidate(spark, path, e) match {
          case Some((cell, _)) =>
            // touches only the hot cell — the 100 TB shape: the split
            // returns the two sub-cells' representatives, merged into the
            // entry in place of the old cell's (other cells' metadata
            // untouched, trained or medoid alike)
            val subs = graft.operators.Ann.splitLayoutCell(spark, path,
              e.cellCol, e.idCol.get, e.embCol.get, cell)
            if (subs.size < 2) {
              // degenerate hot cell (all rows landed in one 2-means half):
              // the layout was NOT rewritten — record the cell as
              // unsplittable so the decision converges to serve instead of
              // re-attempting a full-layout rewrite on every tick
              // (round-12 advisor)
              put(path,
                e.copy(splitBlocked = e.splitBlocked + cell))
              false
            } else {
              val medoids = (e.medoids.filterNot(_._1 == cell) ++ subs)
                .sortBy(_._1)
              put(path, e.copy(medoids = medoids,
                fingerprint = tableFingerprint(spark, path, Seq(e.idCol.get, e.cellCol)),
                radii = Map.empty))
              true
            }
          case _ => false
        }
      case _ => false
    }
  }

  // --- catalog stats cache (round-12 advisor #3) -----------------------------

  /** (membership fingerprint, hottest (cell, rows) when split-capped) of a
    * registered layout, cached per (path, mutation generation). The
    * catalog's class doc promises metadata-only cost, but the staleness
    * fingerprint and hottest-cell count are corpus-scale passes — so they
    * run ONCE per generation: every layout mutation verb bumps the
    * generation ([[invalidate]] via appendToLayout/compactLayout/
    * splitHottest), making an unmutated layout's catalog read a map
    * lookup. The amended visibility contract: writes that bypass the
    * layout verbs AND skip re-registration are invisible to the catalog
    * until the next generation bump — the same out-of-band blindspot
    * every metadata-gated catalog (Delta/Iceberg snapshot pointers)
    * accepts by design. Re-registration purges the path's slots, so a
    * re-registered layout is always re-probed.
    */
  private val statsCache =
    new ConcurrentHashMap[(String, Long), (String, Option[Seq[(Int, Long)]])]()

  private def purgeStats(path: String): Unit = {
    val p = RewriteSupport.canon(path)
    statsCache.keySet().removeIf(_._1 == p)
  }

  /** The per-cell counts are the FULL (cells-sized, tiny) list sorted
    * (n desc, cell asc), not just the single hottest — a split-BLOCKED
    * hottest cell must not shadow another over-cap cell from the split
    * decision (round-13 review finding: cap-armed cell B sat over its cap
    * forever behind an unsplittable A).
    */
  private[plans] def currentStats(spark: SparkSession, path: String,
                                  e: Entry): (String, Option[Seq[(Int, Long)]]) = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val key = (RewriteSupport.canon(path), generationOfPath(path))
    Option(statsCache.get(key)).getOrElse {
      val fp = tableFingerprint(spark, path, Seq(e.idCol.get, e.cellCol))
      val counts = e.splitCap.map { _ =>
        spark.read.parquet(path)
          .groupBy(col(e.cellCol)).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col(e.cellCol).asc)
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      }
      val v = (fp, counts)
      boundedPut(statsCache, key, v)
      v
    }
  }

  /** The hottest over-cap NON-BLOCKED cell of a capped registration, from
    * the cached stats — the ONE pick the catalog decision and
    * [[splitHottest]] must agree on.
    */
  private[plans] def splitCandidate(spark: SparkSession, path: String,
                                    e: Entry): Option[(Int, Long)] =
    e.splitCap.flatMap { cap =>
      currentStats(spark, path, e)._2.flatMap(_.find {
        case (c, n) => n > cap && !e.splitBlocked(c)
      })
    }

  /** VALUE-equality key of an entry's index metadata — the memo-key
    * discipline HnswGraphRegistry's memos already follow (dir +
    * generation there; the medoid/radius values themselves here, arrays
    * unwrapped to Seqs because Array equality is reference equality).
    * Two registrations with identical metadata may share memo slots —
    * that sharing is CORRECT, since admission is a pure function of
    * (metadata, panel, t); a re-registration with retrained metadata gets
    * fresh slots by construction. Driver-side cost is |cells|·dim boxed
    * doubles per rewrite probe — index metadata, KBs.
    */
  private[plans] def entryKey(e: Entry): (String, Seq[(Int, Seq[Double])], Map[Int, Double], Int) =
    (e.cellCol, e.medoids.map { case (c, a) => (c, a.toSeq) }, e.radii,
      e.nprobe)
}

/** The rewrite rule (injected via GraftExtensions.injectOptimizerRule). */
case class IvfTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // conf-driven durable-catalog bring-up (see HnswTopKRewrite)
    IndexCatalog.autoLoadIfConfigured(spark)
    if (IvfIndexRegistry.isEmpty) return plan
    plan.transformDown {
      case limit @ Limit(le,
          sort @ Sort(SortOrder(ref: AttributeReference, Descending, _, _) +: _, true, child, _)) =>
        tryRewrite(ref, child) match {
          // Rebuild via Limit.apply: the Limit extractor matched
          // GlobalLimit(LocalLimit(sort)), so withNewChildren on the outer
          // node alone would silently drop the LocalLimit and with it the
          // per-partition top-k (TakeOrderedAndProject) this rule exists
          // to keep cheap.
          case Some(newChild) => Limit(le, sort.withNewChildren(Seq(newChild)))
          case None => limit
        }
    }
  }

  /** The pure Project/Filter spine from the sort down to the scan is the
    * HnswTopKRewrite guard, generalized to this rule in round 11; unlike
    * that rule, row-level FILTERS stay admissible with no benign-exclusion
    * audit — the prune keeps a whole cell, so user predicates act within
    * the full candidate cell rather than starving a k-id beam: the
    * standard filtered-search composition of a vector database. The sim
    * may carry any rounding (the whole-cell prune re-ranks with the
    * user's own expression).
    */
  private def tryRewrite(ref: AttributeReference, child: LogicalPlan): Option[LogicalPlan] =
    for {
      (simAttr, qVec) <- aliasOf(ref, child).flatMap(cosineUnder(_, AnyRound)).flatMap(literalCosine)
      (rel, conds) <- spineTo[LogicalRelation](child)
      entry <- IvfIndexRegistry.lookupRel(rel)
      // index precedence: the graph rewrite (injected FIRST — see
      // GraftExtensions) outranks this rule on a table carrying both
      // indexes, but only when it actually FIRED: its In/InSet filter on
      // the graph's registered id column is in the plan. When the graph
      // rule fell through (k > its beam, a non-id predicate, a different
      // ranked column), this rule still serves the query — a cell prune
      // beats the silent full exact scan that deferring on bare registry
      // membership would force. Stacking is impossible both ways: this
      // guard detects the graph's filter, and the graph rule's own
      // id-only-filter guard rejects a plan carrying this rule's cell
      // equality. The detection is exprId-hardened (round-10 advisor): the
      // id attribute must be THE registered relation's resolved column —
      // not a same-named column from elsewhere on the spine — and the In
      // list must fit the graph's beam width, since the injected filter is
      // always the ≤ Ef-id final beam. A USER-written `vec_id IN (<many>)`
      // predicate (which makes the graph rule decline — In is not a benign
      // exclusion) therefore no longer reads as "the graph fired", and the
      // cell prune still serves instead of a silent full exact scan.
      if !HnswGraphRegistry.lookupRel(rel).exists { ge =>
        val gIdAttr = rel.output.find(_.name == ge.idCol)
        conds.exists(_.exists {
          case In(a: AttributeReference, vs) =>
            gIdAttr.exists(_.exprId == a.exprId) && vs.length <= graft.operators.Hnsw.Ef
          case InSet(a: AttributeReference, vs) =>
            gIdAttr.exists(_.exprId == a.exprId) && vs.size <= graft.operators.Hnsw.Ef
          case _ => false
        })
      }
      // ranked-column guard (when the registration recorded the indexed
      // embedding column): the cosine's attribute must BE that column
      if entry.embCol.forall(isColumn(rel, simAttr, _))
      cellAttr <- rel.output.find(_.name == entry.cellCol)
      // idempotence under the fixed-point optimizer batch: fire once —
      // through the ONE shared matcher (In/InSet AND the EqualTo form;
      // round-13 third review pass: the EqualTo-only guard was blind to
      // this rule's OWN multi-probe In injection and re-fired every
      // iteration, stacking duplicate prunes)
      if !conds.exists(cellPrunePredicate(cellAttr))
      // multi-probe must still PRUNE: nprobe ≥ cells is the exact scan —
      // injecting an all-cells IN would be plan noise (and idempotence
      // bait), so fall through
      if entry.nprobe < entry.medoids.size
    } yield {
      val cells = entry.bestCells(qVec, entry.nprobe)
      logInfo(s"IvfTopKRewrite: pruning ${rel.simpleString(50)} to " +
        s"${entry.cellCol} IN (${cells.mkString(",")})")
      // EqualTo for the 1-probe case (the historical shape every plan
      // pin checks); IN for multi-probe — cellPrunePredicate matches
      // both, so idempotence/precedence guards are unchanged
      pruneAt(child, rel,
        if (cells.size == 1) EqualTo(cellAttr, Literal(cells.head)) else inList(cellAttr, cells))
    }
}

/** Transparent, PROVABLY-EXACT threshold (range) search — the rewrite face
  * of Ann.ivfRangeSearch, serving the reference's documented-but-vapor
  * `threshold` param (`/root/reference/README.md:138`) straight from the
  * SQL shape. A user writes the exact range query —
  *
  *   `WHERE round(cosine_sim(embedding, <literal query vector>), 6) >= t`
  *   (or the bare unrounded cosine; > as well as >=)
  *
  * against a cell-partitioned table registered WITH its per-cell
  * angular-radius sidecar, and this rule injects
  * `Filter(cell IN <admissible cells>)` above the scan — partition
  * pruning — where admissibility is the ONE shared bound
  * (Ann.admittedCells): on the unit sphere any member x of cell c has
  * θ(q,x) ≥ θ(q,c) − θmax(c), so a cell whose bound falls below t − slack
  * provably holds no qualifying row. Unlike the top-k rules this rewrite
  * is EXACT — superset-then-refilter: the user's own predicate still runs
  * on every surviving row, so the result equals the unrewritten scan bit
  * for bit (AnnKmeansSpec pins it at three thresholds) — which is why it
  * may fire alongside arbitrary other conjuncts: dropping rows that
  * provably fail one conjunct can never change a conjunction's row set.
  *
  * Firing guards (each falls through to the untouched exact plan):
  *  - the threshold predicate is a TOP-LEVEL CONJUNCT of the Filter —
  *    inside an OR/NOT a failing sim no longer implies a failing row;
  *  - the sim is the engine's canonical ranking form — `round(cs, 6)` or
  *    the raw cosine. Any other rounding scale widens the pass band
  *    beyond the bound's slack (round(cs, 2) ≥ t admits raw sims down to
  *    t − 0.005, far outside RangeBoundSlack = 1e-5) and falls through;
  *  - the cosine's column IS the registered embedding column of the
  *    registered relation (exprId-matched) — exactness is only proven for
  *    the geometry the radii were measured on;
  *  - the registration carries radii (registerCentroidsWithRadii) — a
  *    top-k-only registration must not arm a bound it has no sidecar for;
  *  - the Filter sits on a pure Project/Filter spine over the relation —
  *    through those, removing provably-failing corpus rows is airtight;
  *    under arbitrary operators (outer joins' null-padding, anti-join
  *    row resurrection) the argument needs per-shape proofs, so fall
  *    through;
  *  - at least one cell is actually pruned — injecting an all-cells IN
  *    list is plan noise for zero I/O saved.
  *
  * With several threshold conjuncts the TIGHTEST bound prunes (a row must
  * satisfy all of them, so admission at max(t) is still a superset).
  */
case class IvfRangeRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (IvfIndexRegistry.isEmpty) return plan
    plan.transformDown {
      case f @ Filter(cond, child) =>
        tryRewrite(cond, child).map(Filter(cond, _)).getOrElse(f)
    }
  }

  private def tryRewrite(cond: Expression, child: LogicalPlan): Option[LogicalPlan] =
    for {
      (rel, conds) <- spineTo[LogicalRelation](child)
      entry <- IvfIndexRegistry.lookupRel(rel)
      if entry.radii.nonEmpty
      embAttr <- entry.embCol.flatMap(n => rel.output.find(_.name == n))
      cellAttr <- rel.output.find(_.name == entry.cellCol)
      // idempotence under the fixed-point batch: our own injected In —
      // INCLUDING the EqualTo form OptimizeIn folds a single-admitted-cell
      // IN into, and INCLUDING the matched Filter's OWN condition, where
      // CombineFilters merges the injected filter before the next batch
      // iteration (missing either re-fired the rule and stacked a
      // duplicate prune; caught by an in-round review probe)
      if !cellPrunePredicate(cellAttr)(cond) && !conds.exists(cellPrunePredicate(cellAttr))
      // the raw (unrounded) cosine is admissible here: the bound's slack
      // covers float noise directly, no rounding band to account for
      matches = literalThresholds(conjuncts(cond), child, embAttr, Round6OrRaw).flatMap(_._2)
      if matches.nonEmpty
      (qVec, t) = matches.maxBy(_._2)
      admitted = graft.operators.Ann.admittedCells(entry.medoids, entry.radii, qVec, t)
      // an all-cells IN list is plan noise for zero I/O saved
      if admitted.size < entry.medoids.size
    } yield {
      logInfo(s"IvfRangeRewrite: pruning ${rel.simpleString(50)} to " +
        s"${entry.cellCol} IN (${admitted.size}/${entry.medoids.size} cells) at t=$t")
      pruneAt(child, rel, inList(cellAttr, admitted))
    }
}

/** BATCH face of the transparent threshold rewrite — [[IvfRangeRewrite]]
  * at N queries (the rewrite twin of Ann.ivfRangeSearchBatch): the user
  * writes the exact batch range shape —
  *
  *   corpus JOIN <query table>
  *   WHERE round(cosine_sim(<registered emb col>, <query-side attr>), 6) >= t
  *
  * — and this rule executes the query side (an API-sized panel read, the
  * same documented rewrite-time probe class as the batch top-k walk),
  * computes each panel row's admissible cells with the ONE shared bound,
  * and injects `Filter(cell IN <union of admissions>)` above the corpus
  * scan. STILL provably exact: every output row pairs a corpus row with
  * some panel row and must pass sim ≥ t for that pair, so the corpus
  * row's cell is admitted by that panel row's bound and sits in the
  * union — removing union-rejected rows from one side of an Inner/Cross
  * join can only remove output rows that the threshold conjunct filters
  * anyway (which is also why an arbitrary INNER join condition is
  * admissible; outer joins' null-padding flips rows instead of removing
  * them, so they fall through).
  *
  * Guards beyond the single face's (radii-armed registration, canonical
  * sim form, top-level conjunct, idempotence incl. folded/merged forms):
  * Inner/Cross join only; pure Project/Filter spines filter→join and
  * join→relation; the query side must not contain the registered
  * relation (a self-join's "panel" is corpus-sized, not API-sized); at
  * least one cell pruned. A probe failure falls through to the exact
  * plan — which here is merely the unpruned scan, never a wrong answer.
  */
case class IvfRangeBatchRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (IvfIndexRegistry.isEmpty) plan else rewriteRangeJoins(plan)(tryRewrite)

  /** The panel probe folds the union of per-row admissions, memoized per
    * (entry metadata VALUES, t) — a re-registration with retrained
    * metadata gets fresh slots by construction.
    */
  private def tryRewrite(cond: Expression, join: Join, spineConds: Seq[Expression],
                         searchRoot: LogicalPlan): Option[LogicalPlan] =
    for {
      (rel, _, entry, querySide) <- orient(join, IvfIndexRegistry.lookupRel(_).filter(_.radii.nonEmpty))
      embAttr <- entry.embCol.flatMap(n => rel.output.find(_.name == n))
      cellAttr <- rel.output.find(_.name == entry.cellCol)
      // idempotence incl. the OptimizeIn-folded EqualTo and the
      // CombineFilters-merged condition — the ONE shared matcher
      if !cellPrunePredicate(cellAttr)(cond) && !filterExists(searchRoot)(cellPrunePredicate(cellAttr))
      // the threshold conjuncts ranking the registered column against a
      // query-side attribute; with several, the TIGHTEST t still admits
      // a union that is a superset for the conjunction
      matches = pairThresholds(conjuncts(cond), searchRoot, embAttr, Round6OrRaw)
        .collect { case (_, Some((q, t))) if querySide.outputSet.contains(q) => (q, t) }
      if matches.nonEmpty
      (qAttr, t) = matches.maxBy(_._2)
      if !selfJoin(rel, querySide)
      union <- panelProbe(spark, "IvfRangeBatchRewrite", IvfIndexRegistry.panelMemo,
          (IvfIndexRegistry.entryKey(entry), t), querySide, None, qAttr) { (panel, _) =>
        Some(panel.flatMap { case (_, v) =>
          graft.operators.Ann.admittedCells(entry.medoids, entry.radii, v.toArray, t)
        }.distinct.sorted)
      }
      if union.size < entry.medoids.size
    } yield {
      logInfo(s"IvfRangeBatchRewrite: pruning ${rel.simpleString(50)} to " +
        s"${entry.cellCol} IN (${union.size}/${entry.medoids.size} cells) at t=$t")
      pruneAt(searchRoot, rel, inList(cellAttr, union))
    }
}

/** BATCH face of the transparent IVF top-k rewrite — [[IvfTopKRewrite]]
  * at N queries, closing the last hole in the 3 × 3 rewrite matrix
  * ({IVF, graph} × {single top-k, batch top-k, single/batch range}): the
  * user writes the exact per-qid window top-k — the production
  * batch-retrieval shape, the reference's flagship search loop
  * (`VectorSearchService.cs:189-196`) at N queries —
  *
  *   `row_number() OVER (PARTITION BY qid
  *      ORDER BY cosine_sim(emb, q_emb) DESC [, ...]) ≤ k`
  *
  * over a corpus × panel join where the corpus is IVF-registered, and
  * this rule serves each qid's candidate set from ITS probed cell
  * (`Ann.ivfSearchBatchTopK`'s admission math at nprobe = 1: the same
  * round-6 cosine-to-medoid probe as [[IvfTopKRewrite]], per panel row).
  * The injection is the graph batch face's two-stage prune with cells in
  * place of beams: `Filter(cell IN <union of probed cells>)` above the
  * corpus relation (partition pruning — the scan reads the probed cell
  * directories, ≤ |panel|/cells of the corpus however large the batch)
  * plus a per-qid LEFT SEMI against a (qid, cell) literal admission
  * table, so no qid ever ranks a row outside its own probed cell. The
  * user's own window then ranks each qid's full admitted cell — the
  * standard whole-cell composition, which is also why this rule is
  * LOOSER than the graph batch face on three guards:
  *
  *  - any k ≥ 1 (a cell is not a beam — there is no Ef width to starve);
  *  - arbitrary row FILTERS on the window→join and join→corpus spines
  *    (they act within each full admitted cell, exactly like the single
  *    face — no benign-exclusion audit needed);
  *  - a conditioned Inner join, provided every conjunct is an
  *    attribute-equality (`corpus.lang = panel.lang`, the
  *    metadata-filtered retrieval shape — round-11 verdict #4): the
  *    condition evaluates identically on the admitted subset, so the
  *    served result is still exactly "the user's query over each qid's
  *    probed cell". Non-equi conditions fall through (conservative,
  *    spec-pinned) — not because the composition breaks, but to keep
  *    the admitted surface small and provable.
  *
  * Still guarded like every batch face: single row_number window
  * partitioned by exactly the panel-side qid; the ranked expression is
  * the cosine between the REGISTERED embedding column and a panel-side
  * attribute (any rounding or raw — the prune is set-level, so the
  * user's own ranking semantics apply verbatim to the admitted set);
  * qid/cell visible at the injection point; distinct non-null qids;
  * panel ≤ 4096 rows (collected at rewrite time — the documented
  * API-panel probe class, memoized on value equality incl. declines);
  * no self-join (canonical root paths); precedence: on a table carrying
  * BOTH indexes the graph batch rule (injected first, better recall at
  * a smaller scored budget) wins whenever it actually FIRED — its
  * tagged semi-join marker is in the plan — while this rule still
  * serves every batch shape the graph rule's own guards decline
  * (k > Ef, non-benign filters, conditioned joins).
  */
case class IvfBatchTopKRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (IvfIndexRegistry.isEmpty) return plan
    plan.transformDown {
      case f @ Filter(cond, w: Window) =>
        tryRewrite(cond, w).map(Filter(cond, _)).getOrElse(f)
    }
  }

  private def tryRewrite(cond: Expression, w: Window): Option[LogicalPlan] = {
    val child = w.child
    for {
      (_, qidAttr, simRef) <- rankWindow(cond, w)
      // idempotence: our own injected admission semi-join
      if !injectedMarkers(child).contains("ivf-batch")
      (join, _) <- spineTo[Join](child)
      // a join condition is admissible when every conjunct is an
      // attribute equality (the whole-cell composition); anything else
      // falls through
      if join.condition.forall(c => conjuncts(c).forall {
        case EqualTo(_: AttributeReference, _: AttributeReference) => true
        case _ => false
      })
      (rel, _, entry, querySide) <- orient(join, IvfIndexRegistry.lookupRel)
      embAttr <- entry.embCol.flatMap(n => rel.output.find(_.name == n))
      cellAttr <- rel.output.find(_.name == entry.cellCol)
      // the ranked expression: a cosine between the REGISTERED embedding
      // column and a panel-side attribute, under any rounding or raw —
      // the single face's admissibility, since the whole-cell prune
      // re-ranks with the user's own expression
      qEmbAttr <- aliasOf(simRef, child).flatMap(cosineUnder(_, AnyRound))
        .flatMap(queryVector(_, embAttr, querySide))
      // both semi-join keys must be visible at the injection point (a
      // column-pruned spine that dropped the cell column cannot host the
      // per-qid refinement — fall through to the exact plan)
      if querySide.outputSet.contains(qidAttr)
      if child.outputSet.contains(qidAttr) && child.outputSet.contains(cellAttr)
      if qidAttr.dataType == LongType && cellAttr.dataType == IntegerType
      // multi-probe must still PRUNE (the single face's guard): nprobe ≥
      // cells would inject an all-cells IN + a |panel|·|cells| semi-join
      // for zero I/O saved and false servedBy provenance
      if entry.nprobe < entry.medoids.size
      // no cell prune already on the corpus spine (ours from a prior
      // iteration, the single face's, or a user's own — declining on the
      // latter is conservative-safe: the exact plan still runs)
      if !filterExists(child)(cellPrunePredicate(cellAttr))
      // index precedence: the graph batch rule (injected first) outranks
      // this rule when it actually FIRED on this table's graph — detected
      // by its tagged marker, never by bare registry membership, so every
      // shape the graph rule declines still gets the cell prune
      if !(HnswGraphRegistry.lookupRel(rel).isDefined &&
        injectedMarkers(child).contains("hnsw-batch"))
      if !selfJoin(rel, querySide)
      // per-qid admission is pure driver arithmetic over the entry's
      // medoids: each qid admits its nprobe probed cells (the identical
      // probe as the single face and the DuckDB oracle)
      pairs <- panelProbe(spark, "IvfBatchTopKRewrite", IvfIndexRegistry.panelMemo,
          IvfIndexRegistry.entryKey(entry), querySide, Some(qidAttr), qEmbAttr) { (panel, _) =>
        Some(panel.flatMap { case (q, v) => entry.bestCells(v.toArray, entry.nprobe).map((q, _)) }
          .sortBy(p => (p._1, p._2)))
      }
    } yield {
      logInfo(s"IvfBatchTopKRewrite: pruning ${rel.simpleString(50)} to " +
        s"${pairs.length} probed (qid, ${entry.cellCol}) cells")
      w.copy(child = semiJoinPrune(child, rel, qidAttr, cellAttr, pairs, "ivf-batch",
        ("__graft_cqid", "__graft_cell"), IntegerType))
    }
  }
}

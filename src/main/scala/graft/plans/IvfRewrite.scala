package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.IntegerType

import graft.expressions.CosineSimilarity
import graft.plans.RewriteSupport._

/** The IVF family of the transparent vector-index rewrite
  * ([[VectorIndexRewrite]]) over a table stored partitioned by its IVF
  * cell column: the (driver-resident, tiny) cell representatives pick the
  * cells a query needs and a cell filter is injected directly above the
  * scan, which FileSourceStrategy turns into partition pruning — the scan
  * reads those cell directories instead of the corpus.
  *
  *  - top-k: `cell = best` (`cell IN` the `nprobe` nearest cells), by the
  *    round-6 cosine-to-representative probe Ann.ivfSearch and the DuckDB
  *    oracle share. Approximate (recall < 1.0 when a true neighbor lives
  *    in an unprobed cell), so opt-in by registration.
  *  - range: `cell IN <admitted cells>`, admission being the one shared
  *    angular bound (Ann.admittedCells: a cell whose bound falls below
  *    t − slack provably holds no qualifying row). PROVABLY EXACT —
  *    superset-then-refilter, the user's own predicate still runs on
  *    every surviving row — so it needs the radii sidecar
  *    (registerCentroidsWithRadii) and may fire beside any other
  *    conjunct.
  *  - batch top-k: the union of every panel row's probed cells at the scan
  *    plus a per-qid LEFT SEMI against the (qid, cell) admissions, so no
  *    qid ranks a row outside its own cells.
  *  - batch range: the union of every panel row's admitted cells — still
  *    exact: an output row pairs a corpus row with some panel row and must
  *    pass sim ≥ t for that pair, so its cell is in the union.
  *
  * Guards, each falling through to the exact plan:
  *  - the ranked column IS the registered embedding column (required on
  *    every face but the single top-k, which checks it when recorded);
  *  - ranking form: any rounding or the raw cosine on the top-k faces (the
  *    whole-cell prune re-ranks with the user's own expression); exactly
  *    `round(cs, 6)` or the raw cosine on the range faces — another scale
  *    widens the pass band beyond the bound's slack;
  *  - row filters on the spines stay admissible with no audit: they act
  *    within each whole admitted cell, the standard filtered-search
  *    composition;
  *  - batch top-k: the join condition, if any, is all attribute equalities
  *    (`corpus.lang = panel.lang` evaluates identically on the admitted
  *    subset), and the qid and cell columns are visible at the injection
  *    point;
  *  - at least one cell is pruned (nprobe < cells; an all-cells IN is plan
  *    noise for zero I/O saved).
  */
object IvfIndexRegistry extends VectorIndex {

  /** One registered IVF index: partition (cell) column name + per-cell
    * medoid vectors, held driver-side. `embCol` (when known) lets the
    * rewrite verify the ranked/filtered column IS the indexed one — a
    * second vector column on the same table ranks by different geometry
    * and must keep its exact scan. `radii` (the per-cell angular-radius
    * sidecar, Ann.kmRadiiLayout) arms the PROVABLY-EXACT range faces;
    * without it only the approximate top-k faces fire.
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
    * the full index metadata that arms the range faces (transparent,
    * provably-exact threshold search) alongside the top-k faces. `embCol`
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
    * discipline the graph family's memos already follow (dir +
    * generation there; the medoid/radius values themselves here, arrays
    * unwrapped to Seqs because Array equality is reference equality).
    * Two registrations with identical metadata may share memo slots —
    * that sharing is CORRECT, since admission is a pure function of
    * (metadata, panel, t); a re-registration with retrained metadata gets
    * fresh slots by construction. Driver-side cost is |cells|·dim boxed
    * doubles per rewrite probe — index metadata, KBs.
    */
  private def entryKey(e: Entry): (String, Seq[(Int, Seq[Double])], Map[Int, Double], Int) =
    (e.cellCol, e.medoids.map { case (c, a) => (c, a.toSeq) }, e.radii,
      e.nprobe)

  /** Serve `s` from the cells, under the guards in the object doc. */
  def serve(spark: SparkSession, s: Shape): Option[LogicalPlan] = for {
    e <- lookupRel(s.rel)
    cell <- s.rel.output.find(_.name == e.cellCol)
    if (!s.range || e.radii.nonEmpty) && (s.face == Face.TopK || e.embCol.isDefined)
    (r, _) <- s.ranking(if (s.range) Round6OrRaw else AnyRound, e.embCol)
    // a query vector's cells: admitted by the bound (range) or probed (top-k)
    cellsOf = (v: Seq[Double]) =>
      if (s.range) graft.operators.Ann.admittedCells(e.medoids, e.radii, v.toArray, r.t)
      else e.bestCells(v.toArray, e.nprobe)
    plan <- (r.query, s.querySide, s.qid) match {
      case (Left(q), _, _) => prune(s, e, cell, cellsOf(q.toSeq))
      case (Right(qEmb), Some(querySide), _) if s.range =>
        panelProbe(spark, "ivf-range-batch", panelMemo, (entryKey(e), r.t), querySide, None, qEmb) {
          (panel, _) => Some(panel.flatMap(p => cellsOf(p._2)).distinct.sorted)
        }.flatMap(prune(s, e, cell, _))
      case (Right(qEmb), Some(querySide), Some(qid)) if e.nprobe < e.medoids.size &&
          s.join.exists(_.condition.forall(conjuncts(_).forall {
            case EqualTo(_: AttributeReference, _: AttributeReference) => true
            case _ => false
          })) &&
          s.root.outputSet.contains(cell) && cell.dataType == IntegerType =>
        panelProbe(spark, "ivf-batch", panelMemo, entryKey(e), querySide, Some(qid), qEmb) {
          (panel, _) => Some(panel.flatMap { case (q, v) => cellsOf(v).map((q, _)) }.sorted)
        }.map(semiJoinPrune(s.root, s.rel, qid, cell, _, "ivf-batch",
          ("__graft_cqid", "__graft_cell"), IntegerType))
      case _ => None
    }
  } yield plan

  /** `Filter(cell ∈ cells)` above the scan — EqualTo for one cell — when it
    * prunes at least one cell.
    */
  private def prune(s: Shape, e: Entry, cell: AttributeReference, cells: Seq[Int]): Option[LogicalPlan] =
    Some(cells).filter(_.size < e.medoids.size).map(cs => pruneAt(s.root, s.rel,
      if (cs.size == 1) EqualTo(cell, Literal(cs.head)) else inList(cell, cs)))

  /** A cell prune anywhere under the shape's root or in its matched
    * condition (CombineFilters merges an injected filter into it), or the
    * batch top-k face's tagged semi-join.
    */
  def served(s: Shape): Boolean = lookupRel(s.rel).exists { e =>
    s.rel.output.find(_.name == e.cellCol).exists { c =>
      filterExists(s.root)(cellPrunePredicate(c)) || s.ranked.exists(x => cellPrunePredicate(c)(x._1))
    } || injectedMarkers(s.root).contains("ivf-batch")
  }
}

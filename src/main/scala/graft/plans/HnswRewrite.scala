package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

import graft.operators.Hnsw.Ef
import graft.plans.RewriteSupport._

/** The GRAPH family of the transparent vector-index rewrite
  * ([[VectorIndexRewrite]]): a registered HNSW graph serves the exact
  * vector query shapes over its corpus table from a bounded beam walk —
  * ≤ schedule·Ef·(MaxDegree+1) scored rows over bucket-pruned artifact
  * files, run AT REWRITE TIME as the index lookup (it reads index
  * artifacts, never the corpus, and returns driver-sized id sets).
  *
  *  - top-k: injects `Filter(id IN <final beam>)` above the scan. The FULL
  *    beam (Ef ids) goes in: the user's own sort exact-rescores it, and
  *    the extra Ef − k ids give benign exclusions headroom.
  *  - range: injects `Filter(id IN <visited ids with round-6 sim ≥ t>)`
  *    (the bounded range walk, Hnsw.searchRangeIn); the user's predicate
  *    re-scores those rows.
  *  - batch top-k / batch range: ONE batch walk for the whole panel
  *    (every hop's pass shared), injected as a superset id IN at the scan
  *    plus a per-qid LEFT SEMI against the (qid, id) pairs
  *    ([[RewriteSupport.semiJoinPrune]]).
  *
  * Guards, each falling through to the next family or the exact plan:
  *  - the ranking is the walk's own: `round(cosine_sim(<registered emb
  *    col>, q), 6)` — a coarser/finer rounding or the raw cosine resolves
  *    round-6 ties (and draws the ≥ t boundary) differently over the full
  *    corpus than over the walk;
  *  - top-k faces: k ≤ Ef (one walk cannot serve a wider LIMIT and must
  *    not truncate it), no further sort key or the registered id
  *    ascending (the walk's tiebreak), and a batch join without a
  *    condition;
  *  - every other condition on the spine (and every non-threshold
  *    conjunct) is a provably benign id exclusion — `id <> <lit>` or
  *    `IS NOT NULL(id)` — with k + e ≤ Ef on the top-k faces: the
  *    unfiltered top-(k+e) ⊆ the beam then contains the filtered top-k.
  *    An id RANGE or a row filter is the explicit filtered face's job
  *    (Hnsw.searchFiltered), not a rewrite's. This audit is also the
  *    family's idempotence: its own injected id IN is not benign;
  *  - a probe failure, an empty pool, or an unusable panel (see
  *    [[RewriteSupport.panelProbe]]) falls through.
  *
  * Approximate by construction, so strictly opt-in (register), memoized
  * per (graph, generation, query vector or panel, face) — maintenance
  * verbs bump the generation, so a mutated index never serves a
  * pre-mutation candidate set.
  */
object HnswGraphRegistry extends VectorIndex {

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
    literalWalk(spark, e, qVec, None)

  /** [[walk]] for one literal query vector, cast to the corpus element
    * type: the beam's ids (`t` None) or the range pool's ids.
    */
  private def literalWalk(spark: SparkSession, e: Entry, qVec: Array[Double],
                          t: Option[Double]): Seq[Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    walk(spark, e, Seq((0L, qVec.toSeq)), FloatType, t)(Seq((0L, qVec.toSeq)).toDF("qid", "q_emb")
      .select(col("qid"), col("q_emb").cast("array<float>").as("q_emb"))).map(_._2)
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

  /** Serve `s` from the graph, under the guards in the object doc. */
  def serve(spark: SparkSession, s: Shape): Option[LogicalPlan] = for {
    e <- lookupRel(s.rel)
    id <- s.rel.output.find(_.name == e.idCol)
    (r, rest) <- s.ranking(Round6, Some(e.embCol))
    if s.range || (s.k <= Ef && idTiebreak(s.tail, id))
    exclusions <- benignExclusions(rest, id)
    if s.range || s.k + exclusions <= Ef
    t = if (s.range) Some(r.t) else None
    plan <- r.query match {
      case Left(q) =>
        probed(s"hnsw ${s.face}", e.edgesDir)(literalWalk(spark, e, q, t))
          .map(ids => pruneAt(s.root, s.rel, inList(id, ids)))
      case Right(qEmb) =>
        val marker = if (s.range) "hnsw-range-batch" else "hnsw-batch"
        for {
          qid <- s.qid
          querySide <- s.querySide
          if s.range || s.join.exists(_.condition.isEmpty)
          if s.root.outputSet.contains(id) && id.dataType == LongType
          pairs <- panelProbe(spark, marker, panelMemo, (e.edgesDir, generationOfDir(e.edgesDir), t),
              querySide, Some(qid), qEmb) { (panel, pinned) =>
            // walked in the panel's original element type
            val qdf = pinned()
            val elem = qdf.schema("q_emb").dataType.asInstanceOf[ArrayType].elementType
            Some(walk(spark, e, panel, elem, t)(qdf)).filter(_.nonEmpty)
          }
        } yield semiJoinPrune(s.root, s.rel, qid, id, pairs, marker,
          if (s.range) ("__graft_rqid", "__graft_rvid") else ("__graft_qid", "__graft_vid"), LongType)
    }
  } yield plan

  /** The graph's prune in the plan: on the top-k face its id In/InSet (or
    * the EqualTo a 1-element In folds into) of at most Ef values — a
    * user-written longer id list is not the beam and leaves the shape to
    * IVF — matched per top-level conjunct (a benign `NOT (id = 5)`
    * contains an EqualTo node and is not the beam); on the batch faces
    * their tagged semi-join. The range face needs none: its own
    * benign-exclusion audit declines on its pool.
    */
  def served(s: Shape): Boolean = lookupRel(s.rel).exists { e =>
    s.face match {
      case Face.TopK => s.rel.output.find(_.name == e.idCol).exists(id =>
        s.spine.flatMap(conjuncts).exists(pruneSize(id)(_).exists(_ <= Ef)))
      case Face.BatchTopK => injectedMarkers(s.root).contains("hnsw-batch")
      case Face.BatchRange => injectedMarkers(s.root).contains("hnsw-range-batch")
      case Face.Range => false
    }
  }
}

package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.reflect.ClassTag

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, LessThan, LessThanOrEqual, Literal, Not, Round, RowNumber, SortOrder, Ascending, Descending, WindowExpression}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LocalRelation, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType}

import graft.expressions.CosineSimilarity

/** The rewrite kit behind [[VectorIndexRewrite]] and its two index
  * families: ONE copy of every piece they must never let drift — path
  * canonicalization (registry keys and maintenance-side invalidation must
  * agree on `file:` prefixes and trailing slashes), the Project/Filter
  * spine walk, the self-join check, the ranking-form and threshold
  * matchers, the injected-prune and injected-marker matchers, the batch
  * panel probe with its memo discipline, and the per-qid semi-join
  * injection. Each family keeps only its own guards and probe arithmetic.
  */
private[plans] object RewriteSupport extends Logging {

  def canon(path: String): String =
    path.stripPrefix("file:").replaceAll("/+$", "")

  /** Root paths of a file-backed relation (none for any other source). */
  def rootPaths(r: LogicalRelation): Seq[String] = r.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
    case _ => Nil
  }

  // --- plan shape -----------------------------------------------------------

  /** THE Project/Filter spine walk: descend through Projects and Filters
    * to the first other node, collecting every Filter condition passed on
    * the way (top-down) for the benign-exclusion audits. Callers that run
    * no audit ignore the conditions.
    */
  def spine(p: LogicalPlan): (LogicalPlan, Seq[Expression]) = p match {
    case pr: Project => spine(pr.child)
    case f: Filter =>
      val (bottom, conds) = spine(f.child)
      (bottom, f.condition +: conds)
    case other => (other, Nil)
  }

  /** [[spine]] when its bottom is a `T` — a pure spine down to a relation
    * or a join; any other operator (aggregate, sample, distinct, set op)
    * shapes the row set in ways an injected prune cannot account for.
    */
  def spineTo[T <: LogicalPlan: ClassTag](p: LogicalPlan): Option[(T, Seq[Expression])] =
    spine(p) match {
      case (t: T, conds) => Some((t, conds))
      case _ => None
    }

  /** A query side containing the registered TABLE is a self-join — its
    * "panel" is the corpus, not an API batch. Compared by canonical root
    * path, not reference equality: DeduplicateRelations gives a
    * self-join's duplicate side a fresh LogicalRelation instance, so an
    * `eq` check can never fire.
    */
  def selfJoin(rel: LogicalRelation, querySide: LogicalPlan): Boolean = {
    val relPaths = rootPaths(rel).map(canon).toSet
    querySide.exists {
      case r: LogicalRelation => rootPaths(r).map(canon).exists(relPaths)
      case _ => false
    }
  }

  /** Whether some Filter anywhere in `p` has a condition `pred` accepts. */
  def filterExists(p: LogicalPlan)(pred: Expression => Boolean): Boolean =
    p.exists {
      case f: Filter => pred(f.condition)
      case _ => false
    }

  /** The expression an attribute aliases in one of `scope`'s Projects —
    * the sim behind a sort/window key or a pre-pushdown
    * `withColumn("sim", …).filter(…)` threshold.
    */
  def aliasOf(ref: AttributeReference, scope: LogicalPlan): Option[Expression] =
    scope.collect { case p: Project => p.projectList }.flatten
      .collectFirst { case a: Alias if a.exprId == ref.exprId => a.child }

  /** Whether `a` IS the relation's column `name` (exprId-matched, so a
    * same-named column from elsewhere on the plan never passes).
    */
  def isColumn(rel: LogicalRelation, a: AttributeReference, name: String): Boolean =
    rel.output.exists(o => o.exprId == a.exprId && o.name == name)

  /** A sort tail the graph walk can replay: none, or the registered id
    * ascending (the walk's own tiebreak) — a different secondary key
    * resolves sim ties over the full corpus, which Ef beam ids cannot.
    */
  def idTiebreak(tail: Seq[SortOrder], idAttr: AttributeReference): Boolean = tail match {
    case Seq() => true
    case Seq(SortOrder(a: AttributeReference, Ascending, _, _)) => a.exprId == idAttr.exprId
    case _ => false
  }

  /** A batch top-k window: its single row_number expression bounded by
    * the filter (k ≥ 1, see [[rankBound]]), partitioned by exactly one
    * attribute (the qid) and ordered first by a descending attribute (the
    * ranked sim). Returns (k, qid, sim).
    */
  def rankWindow(cond: Expression, w: Window): Option[(Int, AttributeReference, AttributeReference)] =
    for {
      rnk <- w.windowExpressions match {
        case Seq(a @ Alias(WindowExpression(_: RowNumber, _), _)) =>
          Some(a.toAttribute.asInstanceOf[AttributeReference])
        case _ => None
      }
      k <- rankBound(cond, rnk)
      if k >= 1
      qid <- w.partitionSpec match {
        case Seq(a: AttributeReference) => Some(a)
        case _ => None
      }
      sim <- w.orderSpec.headOption.collect {
        case SortOrder(a: AttributeReference, Descending, _, _) => a
      }
    } yield (k, qid, sim)

  /** k from a batch top-k filter's rank bound — the WHOLE condition must
    * be the bound (any extra conjunct shapes the per-qid row count).
    */
  private def rankBound(cond: Expression, rnk: AttributeReference): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rnk.exprId => Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))
      if a.exprId == rnk.exprId => Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: AttributeReference)
      if a.exprId == rnk.exprId => Some(k)
    case GreaterThan(Literal(k: Int, IntegerType), a: AttributeReference)
      if a.exprId == rnk.exprId => Some(k - 1)
    case _ => None
  }

  // --- ranking form and thresholds ------------------------------------------

  /** How much ranking form a face accepts around the cosine. */
  sealed trait SimForm
  /** Exactly `round(cs, 6)` — the graph walk's own ranking: any other
    * scale, or the raw cosine, resolves round-6 ties (and draws the ≥ t
    * boundary) differently over the full corpus than over the walk.
    */
  case object Round6 extends SimForm
  /** `round(cs, 6)` or the raw cosine — the IVF range bound, whose slack
    * covers raw floats; any other scale widens the pass band beyond it.
    */
  case object Round6OrRaw extends SimForm
  /** Any `round` nesting or the raw cosine — the IVF top-k faces, whose
    * whole-cell prune re-ranks with the user's own expression.
    */
  case object AnyRound extends SimForm

  /** The cosine a ranking expression wraps, if it has the given form. */
  def cosineUnder(e: Expression, form: SimForm): Option[CosineSimilarity] = e match {
    case c: CosineSimilarity if form != Round6 => Some(c)
    case r: Round if form == AnyRound => cosineUnder(r.child, form)
    case r: Round => (r.scale, r.child) match {
      case (Literal(6, IntegerType), c: CosineSimilarity) => Some(c)
      case _ => None
    }
    case _ => None
  }

  /** The literal query vector behind an ORDER BY cosine_sim(col, <lit>),
    * as doubles (either float or double array literals).
    */
  private def literalVec(l: Literal): Option[Array[Double]] = (l.value, l.dataType) match {
    case (v: ArrayData, ArrayType(FloatType, _))  => Some(v.toFloatArray().map(_.toDouble))
    case (v: ArrayData, ArrayType(DoubleType, _)) => Some(v.toDoubleArray())
    case _ => None
  }

  /** cosine_sim(<column>, <literal vector>), either argument order. */
  def literalCosine(c: CosineSimilarity): Option[(AttributeReference, Array[Double])] = c match {
    case CosineSimilarity(a: AttributeReference, l: Literal) => literalVec(l).map((a, _))
    case CosineSimilarity(l: Literal, a: AttributeReference) => literalVec(l).map((a, _))
    case _ => None
  }

  /** Top-level AND-conjuncts of a condition — the granularity at which a
    * threshold predicate may be served (inside an OR/NOT a failing sim no
    * longer implies a failing row).
    */
  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  /** The threshold literal as a double — the comparison side Spark typed
    * for the user (plain `0.2` is a double in DataFrame code, a decimal
    * in SQL).
    */
  private def literalDouble(l: Literal): Option[Double] = (l.value, l.dataType) match {
    case (v: java.lang.Double, DoubleType) => Some(v.doubleValue)
    case (v: java.lang.Float, FloatType) => Some(v.doubleValue)
    case (v: org.apache.spark.sql.types.Decimal, _: DecimalType) => Some(v.toDouble)
    case _ => None
  }

  /** `sim ≥ t` / `sim > t` (either literal side) as (sim, t), an
    * attribute-valued sim resolved through `scope`'s Projects (the
    * pre-pushdown shape, where the Filter still references the alias).
    */
  def threshold(e: Expression, scope: LogicalPlan): Option[(Expression, Double)] = {
    val cmp = e match {
      case GreaterThanOrEqual(s, t: Literal) => Some((s, t))
      case GreaterThan(s, t: Literal) => Some((s, t))
      case LessThanOrEqual(t: Literal, s) => Some((s, t))
      case LessThan(t: Literal, s) => Some((s, t))
      case _ => None
    }
    for ((s, t) <- cmp; tv <- literalDouble(t)) yield s match {
      case a: AttributeReference => (aliasOf(a, scope).getOrElse(a), tv)
      case _ => (s, tv)
    }
  }

  /** THE cell-prune predicate matcher — a [[pruneSize]] prune on the cell
    * column anywhere in the condition. ONE definition for every check that
    * must detect an injected cell prune (this exact drift class — one copy
    * missing the folded EqualTo form — already caused a duplicate-prune
    * re-fire once).
    */
  def cellPrunePredicate(cellAttr: AttributeReference): Expression => Boolean =
    (e: Expression) => e.exists(pruneSize(cellAttr)(_).isDefined)

  /** The number of values a prune on `attr` keeps, if `e` is one: an
    * In/InSet list, or the EqualTo form OptimizeIn folds a 1-element In
    * into (either literal order).
    */
  def pruneSize(attr: AttributeReference)(e: Expression): Option[Int] = e match {
    case InList(a, n) if a.exprId == attr.exprId => Some(n)
    case EqualTo(a: AttributeReference, _: Literal) if a.exprId == attr.exprId => Some(1)
    case EqualTo(_: Literal, a: AttributeReference) if a.exprId == attr.exprId => Some(1)
    case _ => None
  }

  /** An In or InSet over an attribute, as (attribute, list size). */
  object InList {
    def unapply(e: Expression): Option[(AttributeReference, Int)] = e match {
      case In(a: AttributeReference, vs) => Some((a, vs.length))
      case InSet(a: AttributeReference, vs) => Some((a, vs.size))
      case _ => None
    }
  }

  /** Some(#distinct excluded ids) iff EVERY conjunct of every condition is
    * a provably benign id exclusion: `NOT (id = <literal>)` or
    * `IS NOT NULL(id)` (matched by exprId against the registered
    * relation's id attribute, so an identically-named column from
    * elsewhere can never pass). Anything else — ranges, IN lists, non-id
    * references — returns None and the caller falls through. ONE
    * definition for every graph face: the k + e ≤ Ef headroom argument
    * (the unfiltered top-(k+e) ⊆ the beam provably contains the filtered
    * top-k) is identical on the single and batch faces.
    */
  def benignExclusions(conds: Seq[Expression],
                       idAttr: AttributeReference): Option[Int] = {
    val excluded = scala.collection.mutable.Set[Any]()
    val ok = conds.flatMap(conjuncts).forall {
      case Not(EqualTo(a: AttributeReference, l: Literal))
        if a.exprId == idAttr.exprId => excluded += l.value; true
      case Not(EqualTo(l: Literal, a: AttributeReference))
        if a.exprId == idAttr.exprId => excluded += l.value; true
      case IsNotNull(a: AttributeReference)
        if a.exprId == idAttr.exprId => true
      case _ => false
    }
    if (ok) Some(excluded.size) else None
  }

  /** The two optimizer shapes of a batch threshold query: the Filter
    * above a Project/Filter spine down to the join (pre-pushdown; the
    * Filter's child is the injection root) and the condition-carried join
    * PushPredicateThroughJoin leaves (the join itself is the root).
    * `rewrite(cond, join, spineConds, root)` returns the new root.
    */
  def rewriteRangeJoins(plan: LogicalPlan)(
      rewrite: (Expression, Join, Seq[Expression], LogicalPlan) => Option[LogicalPlan]): LogicalPlan =
    plan.transformDown {
      case f @ Filter(cond, child) =>
        spineTo[Join](child).flatMap { case (j, conds) => rewrite(cond, j, conds, child) }
          .map(Filter(cond, _)).getOrElse(f)
      case j: Join if j.condition.isDefined =>
        rewrite(j.condition.get, j, Nil, j).getOrElse(j)
    }

  // --- injection ------------------------------------------------------------

  def inList(a: AttributeReference, values: Seq[Any]): Expression =
    In(a, values.map(Literal(_)))

  /** `root` with `Filter(cond)` injected directly above `rel` (matched by
    * reference) — where FileSourceStrategy turns it into file, row-group
    * or partition pruning.
    */
  def pruneAt(root: LogicalPlan, rel: LogicalRelation, cond: Expression): LogicalPlan =
    root.transformUp {
      case r: LogicalRelation if r eq rel => Filter(cond, r)
    }

  /** THE two-stage per-qid prune every batch face injects: a SUPERSET
    * `key IN <union of served keys>` filter above the corpus relation
    * (pushes into the scan, exactly like the single faces' prunes), then a
    * LEFT SEMI against a (qid, key) literal table stamped with `marker`,
    * which refines each qid to ITS served keys. `names` and `keyType` name
    * and type the table's two marker columns.
    */
  def semiJoinPrune[K: Ordering](root: LogicalPlan, rel: LogicalRelation,
                                 qidAttr: AttributeReference, keyAttr: AttributeReference,
                                 pairs: Seq[(Long, K)], marker: String,
                                 names: (String, String), keyType: DataType): LogicalPlan = {
    val pruned = pruneAt(root, rel, inList(keyAttr, pairs.map(_._2).distinct.sorted))
    val qRef = markerAttr(names._1, LongType, marker)
    val kRef = markerAttr(names._2, keyType, marker)
    val local = LocalRelation(Seq(qRef, kRef), pairs.map { case (q, k) => InternalRow(q, k) })
    local.setTagValue(InjectedMarker, marker)
    Join(pruned, local, LeftSemi,
      Some(And(EqualTo(qidAttr, qRef), EqualTo(keyAttr, kRef))), JoinHint.NONE)
  }

  /** Tag stamped on the LocalRelation a batch rewrite injects as its
    * per-qid semi-join table — the idempotence/provenance marker the
    * house discipline prefers over name matching (round-11 verdict #7:
    * a user column literally named `__graft_qid` must not read as "the
    * rewrite fired"). The value names the face ("hnsw-batch",
    * "hnsw-range-batch", "ivf-batch").
    */
  val InjectedMarker: org.apache.spark.sql.catalyst.trees.TreeNodeTag[String] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[String]("graft.injectedBatchMarker")

  /** Attribute-metadata key carrying the same marker value on the
    * injected LocalRelation's OUTPUT attributes — the round-13 closure of
    * the round-12 verdict's name-fallback note. The node tag alone is NOT
    * rebuild-proof (measured: InferFiltersFromConstraints pushes an
    * inferred predicate onto the semi-join's local side and
    * ConvertToLocalRelation folds Filter(LocalRelation) into a NEW
    * LocalRelation — same output attributes, tag gone), and name matching
    * was the old second line. Attribute metadata closes the gap without
    * names: every rebuild Catalyst performs on a resolved plan preserves
    * the attribute instances (rebuilding them would break the join
    * condition's exprId references), so the marker rides the attributes —
    * and a user column can only carry it by deliberately forging the key,
    * not by an unlucky name.
    */
  val MarkerMetaKey = "graft.injectedBatchMarker"

  /** An injected-marker attribute: non-nullable, metadata-stamped. */
  def markerAttr(name: String, dt: DataType, marker: String): AttributeReference =
    AttributeReference(name, dt, nullable = false,
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString(MarkerMetaKey, marker).build())()

  /** The marker value of an injected LocalRelation, if any: the node tag
    * when it survived, else the attribute metadata (rebuild-proof line).
    */
  def injectedMarkerOf(lr: LocalRelation): Option[String] =
    lr.getTagValue(InjectedMarker).orElse(lr.output.collectFirst {
      case a if a.metadata.contains(MarkerMetaKey) =>
        a.metadata.getString(MarkerMetaKey)
    })

  /** THE injected-marker scan: the markers of every injected per-qid
    * semi-join (LEFT SEMI against a marked LocalRelation) in `p` — the
    * batch faces' idempotence and precedence evidence (ExtensionsSpec
    * pins marker survival through the full optimizer).
    */
  def injectedMarkers(p: LogicalPlan): Seq[String] = p.collect {
    case Join(_, lr: LocalRelation, LeftSemi, _, _) => injectedMarkerOf(lr)
  }.flatten

  // --- probes ---------------------------------------------------------------

  /** A single-query probe run at rewrite time: a mis-registered or
    * since-deleted artifact must fail the REWRITE (logged, falling through
    * to the exact scan), never the user's query; an empty result falls
    * through too.
    */
  def probed[T](face: String, index: String)(probe: => Seq[T]): Option[Seq[T]] =
    try Some(probe).filter(_.nonEmpty)
    catch {
      case scala.util.control.NonFatal(ex) =>
        logWarning(s"$face: probe failed for $index — serving the exact scan", ex)
        None
    }

  /** Panels above this many rows are not API batches — the probe declines. */
  val PanelCap = 4096

  /** THE batch panel probe. Executes the query side projected to
    * (qid, q_emb) — q_emb alone when `qid` is None — capped INTO the
    * collect (limit(cap+1) bounds what ever lands on the driver; an
    * OutOfMemoryError is not NonFatal), and declines an empty or over-cap
    * panel, null rows and duplicate qids. `serve` gets the panel as
    * (qid, doubles) sorted by qid (numbered in row order without a qid)
    * and the collected rows re-pinned as a DataFrame in their ORIGINAL
    * element type, so a walk scores the exact arrays the user's query
    * re-scores.
    *
    * Memoized in `memo` INCLUDING declines — the optimizer revisits the
    * shape on every fixed-point iteration and in both matched shapes, and
    * without a decline slot each visit re-ran the panel collect. Keyed on
    * value equality with freshness, never an identity hash: the face,
    * `key` (the index metadata — dir + generation, or entry values — and
    * any threshold), the CANONICALIZED projected panel plan and the
    * panel's [[inputFilesDigest]] (a canonicalized plan alone reads equal
    * across a data change to the same table). A decline by SHAPE
    * memoizes; a NonFatal failure (executor loss, FS blip) stays
    * transient until [[probeFailureExhausted]]. The collect runs outside
    * any map lock; a racing duplicate is idempotent.
    */
  def panelProbe[R](spark: SparkSession, face: String, memo: ConcurrentHashMap[Any, Option[Any]],
                    key: Any, querySide: LogicalPlan, qid: Option[AttributeReference],
                    qEmb: AttributeReference)(
                    serve: (Seq[(Long, Seq[Double])], () => DataFrame) => Option[R]): Option[R] = {
    val proj = Project(qid.map(Alias(_, "qid")()).toSeq :+ Alias(qEmb, "q_emb")(), querySide)
    val fullKey = (face, key, proj.canonicalized, inputFilesDigest(querySide))
    Option(memo.get(fullKey)).map(_.asInstanceOf[Option[R]]).getOrElse {
      var transient = false
      val computed = try {
        val qdf = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, proj)
        val rows = qdf.limit(PanelCap + 1).collect()
        val e = proj.output.length - 1
        if (rows.isEmpty || rows.length > PanelCap || rows.exists(r => (0 to e).exists(r.isNullAt))) None
        else {
          val qids = rows.indices.map(i => if (qid.isDefined) rows(i).getLong(0) else i.toLong)
          if (qids.distinct.length != qids.length) None
          else serve(qids.zip(rows.map(_.getSeq[Any](e).map {
            case f: Float => f.toDouble
            case d: Double => d
            case n: Number => n.doubleValue()
          }.toSeq)).sortBy(_._1),
            () => spark.createDataFrame(java.util.Arrays.asList(rows: _*), qdf.schema))
        }
      } catch {
        case scala.util.control.NonFatal(ex) =>
          logWarning(s"$face: panel probe failed — serving the exact scan", ex)
          transient = !probeFailureExhausted(fullKey)
          None
      }
      if (!transient) boundedPut(memo, fullKey, computed)
      computed
    }
  }

  /** Freshness component for rewrite-probe memo keys: a digest of every
    * file-backed relation's input file paths under the panel subplan. A
    * CANONICALIZED plan alone is NOT a sound memo key across separately
    * built queries — HadoopFsRelation equality is rootPaths-only, so a
    * panel table whose DATA changed between two queries canonicalizes
    * equal and would serve stale admissions (review finding: the prior
    * exprId-bearing key never hit cross-query, so the canonicalized
    * re-key silently introduced this class). Parquet writes mint fresh
    * part-file names, so any append/overwrite changes this digest; a
    * listing Spark itself serves stale (no refreshByPath) is stale for
    * the unrewritten plan too and is not the memo's bug. Uses the file
    * index's cached listing — no I/O at rewrite time.
    */
  private val digestNonce = new java.util.concurrent.atomic.AtomicLong(1L)

  def inputFilesDigest(p: LogicalPlan): Long = {
    var h = 1125899906842597L // FNV-ish fold, order-independent via sort
    var opaque = false
    p.foreach {
      case r: LogicalRelation =>
        r.relation match {
          case fs: HadoopFsRelation =>
            fs.location.inputFiles.sorted.foreach { f =>
              h = h * 31 + f.hashCode
            }
          // a non-file V1 relation (JDBC, …) has no listing to digest —
          // treat as opaque below
          case _ => opaque = true
        }
      case lr: org.apache.spark.sql.catalyst.plans.logical.LeafNode
        if !lr.isInstanceOf[LocalRelation] && !lr.isInstanceOf[LogicalRelation] =>
        // any other leaf (DSv2 relation, stream source, view stub) backs
        // data this digest cannot see — FAIL SAFE: a fresh nonce makes
        // the memo never hit for such panels, trading memoization for
        // correctness (review finding: a constant here re-opened the
        // stale-admissions class for non-V1 sources)
        opaque = true
      case _ => ()
    }
    if (opaque) digestNonce.incrementAndGet() else h
  }

  /** Crude-but-safe bound for the probe memos: past the cap the whole
    * map clears (it is a cache — a re-probe is one API-panel job). The
    * keys retain canonicalized plan trees, so unbounded growth across a
    * long session of distinct panel shapes would pin file listings on
    * the driver (review finding).
    */
  val ProbeMemoCap = 256
  def boundedPut[K, V](memo: ConcurrentHashMap[K, V], k: K, v: V): Unit = {
    if (memo.size >= ProbeMemoCap) memo.clear()
    memo.putIfAbsent(k, v)
  }

  /** Bounded negative-cache admission for probe EXCEPTION declines: the
    * first [[ProbeFailRetries]]−1 failures of a key re-probe on later
    * passes (a transient blip must not pin the exact scan for the
    * generation), after which the decline memoizes like a shape-decline —
    * a PERSISTENT fault (corrupt panel file, revoked credentials) must
    * not re-run a failing driver collect on every optimization of every
    * query (round-13 second-pass review finding). Returns true when the
    * caller should memoize the decline now. Keys carry the generation, so
    * a maintenance fix naturally resets the budget; the counter map is
    * size-guarded like every probe memo.
    */
  val ProbeFailRetries = 3
  private val failCounts = new ConcurrentHashMap[Any, Integer]()
  def probeFailureExhausted(key: Any): Boolean = {
    if (failCounts.size >= ProbeMemoCap) failCounts.clear()
    val n = failCounts.merge(key, 1, (a, b) => a + b)
    if (n >= ProbeFailRetries) { failCounts.remove(key); true } else false
  }
}

/** THE canonical-path registry both index families sit on: the entries
  * (products — the families' `Entry` case classes) keyed by canonical
  * table path, a mutation generation per canonical
  * key (the HNSW family counts per graph dir, the IVF family per layout
  * path), and the family's batch panel memo ([[RewriteSupport.panelProbe]]),
  * all purged by [[clear]]. Each family keeps its own `Entry` type and
  * public method names and adds its own probe memos.
  */
private[plans] trait PathRegistry {
  import RewriteSupport.canon

  type E <: Product

  private val byPath = new ConcurrentHashMap[String, E]()
  private val generations = new ConcurrentHashMap[String, java.lang.Long]()
  private[plans] val panelMemo = new ConcurrentHashMap[Any, Option[Any]]()

  protected def put(path: String, e: E): Unit = byPath.put(canon(path), e)

  protected def get(path: String): Option[E] = Option(byPath.get(canon(path)))

  def lookup(rootPaths: Seq[String]): Option[E] =
    rootPaths.iterator.flatMap(get).nextOption()

  /** The entry registered for a relation's root paths, if any. */
  private[plans] def lookupRel(r: LogicalRelation): Option[E] =
    lookup(RewriteSupport.rootPaths(r))

  /** Registered (canon table path, entry) rows — the catalog face. */
  def entries: Seq[(String, E)] = {
    import scala.jdk.CollectionConverters._
    byPath.asScala.toSeq.sortBy(_._1)
  }

  def isEmpty: Boolean = byPath.isEmpty

  /** Drop one registration (the SQL `DROP INDEX` face); the index
    * artifacts stay on disk — unregistering stops the rewrites/serving,
    * it does not delete an index a re-register can re-arm.
    */
  def unregister(path: String): Unit = byPath.remove(canon(path))

  /** Re-arm a PERSISTED registration (IndexCatalog.load): the entry
    * verbatim plus the generation of its key, so catalog rows — and every
    * memo freshness key — read identically across a JVM restart.
    */
  protected def restoreEntry(path: String, e: E, genKey: String, gen: Long): Unit = {
    put(path, e)
    if (gen > 0) generations.put(canon(genKey), gen)
  }

  /** Current mutation generation of a key (0 = never mutated in this JVM). */
  protected def generation(key: String): Long =
    Option(generations.get(canon(key))).map(_.longValue).getOrElse(0L)

  /** Record a mutation of `key`'s index. Bumping the GENERATION closes
    * the check-then-act race: a probe that started before the mutation
    * can only insert under the old generation's memo key, which no
    * post-mutation lookup ever reads.
    */
  def invalidate(key: String): Unit =
    generations.merge(canon(key), 1L, (a, b) => a + b)

  def clear(): Unit = {
    byPath.clear(); generations.clear(); panelMemo.clear()
  }
}

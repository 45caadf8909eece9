package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Descending, Expression, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Limit, LogicalPlan, Sort, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.expressions.CosineSimilarity
import graft.plans.RewriteSupport._

/** The four query faces the vector-index rewrite serves. */
private[plans] sealed trait Face
private[plans] object Face {
  case object TopK extends Face
  case object BatchTopK extends Face
  case object Range extends Face
  case object BatchRange extends Face
}

/** A cosine a shape ranks or thresholds by: `sim` is the whole ranking
  * expression (its rounding decides which family accepts it), `emb` the
  * corpus column, `query` the literal query vector (single faces) or the
  * query-side attribute (batch faces), `t` the threshold (range faces; 0
  * on the top-k faces).
  */
private[plans] final case class Ranked(sim: Expression, emb: AttributeReference,
                                       query: Either[Array[Double], AttributeReference],
                                       t: Double)

/** One matched query shape — everything a family needs to serve it and
  * nothing family-specific. `rel` is the corpus relation; `spine` every
  * condition between the matched node and `rel` (batch faces: the spine
  * down to the join plus the corpus side's); `ranked` the sort key
  * (top-k faces) or each top-level conjunct of the threshold condition
  * (range faces), paired with its cosine when it is one; `root` the
  * subtree a served plan replaces; `k` and `tail` the LIMIT or
  * row_number bound (Int.MaxValue when not a literal) and the sort keys
  * after the ranked one; `qid`, `querySide` and `join` the batch faces'
  * panel.
  */
private[plans] final case class Shape(face: Face, rel: LogicalRelation, spine: Seq[Expression],
                                      ranked: Seq[(Expression, Option[Ranked])], root: LogicalPlan,
                                      k: Int = 0, tail: Seq[SortOrder] = Nil,
                                      qid: Option[AttributeReference] = None,
                                      querySide: Option[LogicalPlan] = None,
                                      join: Option[Join] = None) {
  def range: Boolean = face == Face.Range || face == Face.BatchRange

  /** The tightest cosine in `form` over the relation's column `emb` (any
    * column when None) — a row meeting every threshold conjunct meets the
    * tightest — and the conditions left to audit: the conjuncts that are
    * not such a cosine, then the spine.
    */
  def ranking(form: SimForm, emb: Option[String]): Option[(Ranked, Seq[Expression])] = {
    val (hits, rest) = ranked.partition(_._2.exists(r =>
      cosineUnder(r.sim, form).isDefined && emb.forall(isColumn(rel, r.emb, _))))
    hits.flatMap(_._2).maxByOption(_.t).map((_, rest.map(_._1) ++ spine))
  }
}

/** One index family behind the rewrite: its registry, how it serves a
  * shape, and whether its own prune already sits in a shape's plan.
  */
private[plans] trait VectorIndex extends PathRegistry {
  /** The plan replacing `s.root`, or None to decline (each family keeps
    * its own guards and probe).
    */
  def serve(spark: SparkSession, s: Shape): Option[LogicalPlan]

  /** Whether this family's prune is already in `s`'s plan. */
  def served(s: Shape): Boolean
}

/** THE index precedence, shared by the rewrite and the registry-resolved
  * serve faces (Streaming.indexServeBatch / indexServeRangeBatch).
  *
  *  - Top-k faces ask the graph, then IVF: the graph serves better recall
  *    at a smaller scored budget, and IVF still serves every shape the
  *    graph's own guards decline (k > Ef, non-id filters, conditioned
  *    joins) — a cell prune beats the silent full exact scan.
  *  - A range face belongs to a radii-armed IVF registration outright:
  *    its owner chose PROVABLY-EXACT threshold serving, so IVF serves or
  *    declines and the approximate walk is never asked. Otherwise the
  *    graph, then IVF.
  *  - In the rewrite, a shape any family reports as served is left alone:
  *    that is each face's idempotence under the fixed-point optimizer
  *    batch, and no family's prune stacks on another's (a graph range
  *    walk under a cell prune already in scope included).
  */
object IndexPrecedence {
  private[plans] val Families: Seq[VectorIndex] = Seq(HnswGraphRegistry, IvfIndexRegistry)

  /** The families that may serve a top-k or range face over the table at
    * `paths`, in the order they are asked.
    */
  private[plans] def families(paths: Seq[String], range: Boolean): Seq[VectorIndex] =
    if (range && IvfIndexRegistry.lookup(paths).exists(_.radii.nonEmpty)) Seq(IvfIndexRegistry)
    else Families

  /** The registration serving the table at `paths` on a top-k or range
    * face — a HnswGraphRegistry.Entry or an IvfIndexRegistry.Entry.
    */
  def resolve(paths: Seq[String], range: Boolean): Option[Product] =
    families(paths, range).iterator.flatMap(_.lookup(paths)).nextOption()
}

/** THE transparent vector-index rewrite (injected via GraftExtensions): a
  * user writes the exact vector query over a registered corpus and the
  * registered index serves its candidate set — opt-in by registration,
  * approximate on the graph and the IVF top-k faces, provably exact on
  * the IVF range faces. Four passes, one matcher per shape, in a fixed
  * order:
  *
  *  - top-k: `ORDER BY <sim> DESC [, id] LIMIT k` over a Project/Filter
  *    spine to the relation, `<sim>` a cosine against a literal vector;
  *  - batch top-k: `row_number() OVER (PARTITION BY qid ORDER BY <sim>
  *    DESC [, id]) ≤ k` over a corpus × query-panel Inner/Cross join;
  *  - range: `WHERE <sim> >= t` over a spine to the relation;
  *  - batch range: the threshold over a corpus × panel join, in both
  *    optimizer shapes ([[RewriteSupport.rewriteRangeJoins]]).
  *
  * A pass extracts the [[Shape]] (one per join orientation on the batch
  * faces), leaves it alone when any family reports it served, and else
  * asks the families in [[IndexPrecedence]] order; the first served plan
  * replaces the shape's root. Probes run at rewrite time — index
  * artifacts and API-sized panels only — and a failing probe falls
  * through to the exact plan.
  */
case class VectorIndexRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import IndexPrecedence.Families

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // conf-driven durable-catalog bring-up: one conf read + map hit per
    // pass, before the registries are checked
    IndexCatalog.autoLoadIfConfigured(spark)
    if (Families.forall(_.isEmpty)) plan
    else Seq(topK _, batchTopK _, range _, batchRange _).foldLeft(plan)((p, pass) => pass(p))
  }

  /** The first plan a family serves for the shape, each family taking the
    * first orientation whose relation it registers.
    */
  private def serve(shapes: Seq[Shape]): Option[LogicalPlan] =
    if (shapes.exists(s => Families.exists(_.served(s)))) None
    else Families.iterator.flatMap { f =>
      shapes.find(s => f.lookupRel(s.rel).isDefined)
        .filter(s => IndexPrecedence.families(rootPaths(s.rel), s.range).contains(f))
        .flatMap { s =>
          f.serve(spark, s).map { p =>
            logInfo(s"VectorIndexRewrite: ${s.face} over ${s.rel.simpleString(50)} " +
              s"served by ${f.getClass.getSimpleName.stripSuffix("$")}")
            p
          }
        }
    }.nextOption()

  private def topK(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case limit @ Limit(le, sort @ Sort(SortOrder(ref: AttributeReference, Descending, _, _) +: tail, true, child, _)) =>
      val k = le match {
        case Literal(n: Int, IntegerType) => n
        case _ => Int.MaxValue
      }
      val shape = for {
        sim <- aliasOf(ref, child)
        (rel, spine) <- spineTo[LogicalRelation](child)
        r <- cosineOf(sim, 0.0, rel, None)
      } yield Shape(Face.TopK, rel, spine, Seq(sim -> Some(r)), child, k, tail)
      // rebuilt via Limit.apply: the extractor matched
      // GlobalLimit(LocalLimit(sort)), and withNewChildren on the outer
      // node alone would drop the LocalLimit and with it the
      // per-partition top-k (TakeOrderedAndProject)
      serve(shape.toSeq).map(c => Limit(le, sort.withNewChildren(Seq(c)))).getOrElse(limit)
  }

  private def batchTopK(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, w: Window) =>
      val shapes = for {
        (k, qid, simRef) <- rankWindow(cond, w).toSeq
        sim <- aliasOf(simRef, w.child).toSeq
        (join, spine) <- spineTo[Join](w.child).toSeq
        if w.child.outputSet.contains(qid) && qid.dataType == LongType
        (rel, corpusConds, querySide) <- orientations(join)
        if querySide.outputSet.contains(qid)
        r <- cosineOf(sim, 0.0, rel, Some(querySide)).toSeq
      } yield Shape(Face.BatchTopK, rel, spine ++ corpusConds, Seq(sim -> Some(r)), w.child,
        k, w.orderSpec.tail, Some(qid), Some(querySide), Some(join))
      serve(shapes).map(c => Filter(cond, w.copy(child = c))).getOrElse(f)
  }

  private def range(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, child) =>
      val shape = spineTo[LogicalRelation](child).map { case (rel, spine) =>
        Shape(Face.Range, rel, spine, thresholds(conjuncts(cond), child, rel, None), child)
      }
      serve(shape.toSeq).map(Filter(cond, _)).getOrElse(f)
  }

  private def batchRange(plan: LogicalPlan): LogicalPlan =
    rewriteRangeJoins(plan) { (cond, join, spine, root) =>
      // in the Filter-above-join shape the inner join's own ON condition
      // is part of the predicate too (the condition-carried shape has it
      // in `cond` already)
      val conds = conjuncts(cond) ++
        (if (root eq join) Nil else join.condition.toSeq.flatMap(conjuncts))
      serve(orientations(join).map { case (rel, corpusConds, querySide) =>
        // the panel's qid: its single Long output visible at the root
        val qid = querySide.output.collect {
          case a: AttributeReference if a.dataType == LongType && root.outputSet.contains(a) => a
        } match {
          case Seq(a) => Some(a)
          case _ => None
        }
        Shape(Face.BatchRange, rel, spine ++ corpusConds,
          thresholds(conds, root, rel, Some(querySide)), root,
          qid = qid, querySide = Some(querySide), join = Some(join))
      })
    }

  /** Each side of an Inner/Cross join whose pure spine ends at a relation,
    * left first, as (corpus relation, its spine conditions, the other side
    * as the query side) — unless the query side reads the corpus table
    * itself (a self-join's "panel" is corpus-sized, not an API batch).
    */
  private def orientations(join: Join): Seq[(LogicalRelation, Seq[Expression], LogicalPlan)] =
    if (join.joinType != Inner && join.joinType != Cross) Nil
    else Seq((join.left, join.right), (join.right, join.left)).flatMap { case (corpus, querySide) =>
      spineTo[LogicalRelation](corpus).collect {
        case (rel, conds) if !selfJoin(rel, querySide) => (rel, conds, querySide)
      }
    }

  /** Each condition paired with its threshold `<sim> >= t` over a cosine
    * the shape can serve, if it is one.
    */
  private def thresholds(conds: Seq[Expression], scope: LogicalPlan, rel: LogicalRelation,
                         querySide: Option[LogicalPlan]): Seq[(Expression, Option[Ranked])] =
    conds.map(c => c -> threshold(c, scope).flatMap { case (sim, t) => cosineOf(sim, t, rel, querySide) })

  /** The cosine under `sim` (any rounding): between a column and a literal
    * vector on the single faces, between a column of `rel` and a
    * `querySide` attribute (either argument order) on the batch faces.
    */
  private def cosineOf(sim: Expression, t: Double, rel: LogicalRelation,
                       querySide: Option[LogicalPlan]): Option[Ranked] =
    cosineUnder(sim, AnyRound).flatMap { c =>
      querySide match {
        case None => literalCosine(c).map { case (a, q) => Ranked(sim, a, Left(q), t) }
        case Some(qs) => c match {
          case CosineSimilarity(a: AttributeReference, b: AttributeReference) =>
            Seq((a, b), (b, a)).collectFirst {
              case (e, q) if rel.outputSet.contains(e) && qs.outputSet.contains(q) =>
                Ranked(sim, e, Right(q), t)
            }
          case _ => None
        }
      }
    }
}

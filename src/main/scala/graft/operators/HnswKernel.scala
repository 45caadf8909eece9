package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.expressions.CosineSimilarity
import graft.operators.Hnsw.{DenseLayerCap, GraphMeta, LayerMod, M, MaxDegree, MaxLayersStatic}

/** The HNSW graph kernel: one pure function per step of a build and of an
  * append, over rows, called by two runners. A graph within
  * [[Hnsw.DriverGraphMaxRows]] runs the steps on the driver ([[OnDriver]])
  * over the collected corpus or the resident copy; any other graph runs
  * the same functions inside Spark tasks ([[InTasks]], the scale path) —
  * the posture of [[LocalKMeansFit]], and of Raptor (VLDB 2019), which runs
  * each partition's work in-task with the code a local run uses. A runner
  * only moves rows: every score, rounding, cap and tiebreak is written
  * here once, so the two paths write the same rows by construction
  * (HnswMaintenanceSpec pins them row for row).
  *
  * The steps: shard assignment ([[shardsOf]]), promotion ([[level]]), the
  * corpus stats and the layer count ([[IdStats]]), per-group top-M scoring
  * ([[topMOf]]), the merge per src and the re-cap after reverse edges
  * ([[topPerSrc]]), an in-link target's re-cap on append ([[recap]]), and
  * entry election ([[elect]]). [[buildEdges]] and [[appendEdges]] chain
  * them.
  */
private[graft] object HnswKernel {

  /** Where the kernel runs: `perGroup` calls a step once per group of
    * rows sharing a key; `pin` keeps rows that are read twice.
    */
  sealed trait Runner[F[_]] {
    def flatMap[T, U: ClassTag](rows: F[T])(f: T => IterableOnce[U]): F[U]
    def union[T](a: F[T], b: F[T]): F[T]
    def perGroup[K: ClassTag, T, U: ClassTag](rows: F[T])(key: T => K)(
        step: (K, Iterable[T]) => IterableOnce[U]): F[U]
    def pin[T](rows: F[T]): F[T]
  }

  /** The driver runner, over Seqs. */
  object OnDriver extends Runner[Seq] {
    def flatMap[T, U: ClassTag](rows: Seq[T])(f: T => IterableOnce[U]): Seq[U] = rows.flatMap(f)
    def union[T](a: Seq[T], b: Seq[T]): Seq[T] = a ++ b
    def perGroup[K: ClassTag, T, U: ClassTag](rows: Seq[T])(key: T => K)(
        step: (K, Iterable[T]) => IterableOnce[U]): Seq[U] =
      rows.groupBy(key).toSeq.flatMap { case (k, g) => step(k, g) }
    def pin[T](rows: Seq[T]): Seq[T] = rows
  }

  /** The scale runner, over RDDs: each group lands whole in one task, its
    * rows hash-partitioned into `p` partitions. The count is explicit: a
    * DataFrame shuffle's would be AQE's to coalesce, and AQE merges this
    * byte-small, CPU-heavy shuffle into one task (measured: 2.2 s of
    * single-threaded scoring at sf0.1).
    */
  final case class InTasks(p: Int) extends Runner[RDD] {
    def flatMap[T, U: ClassTag](rows: RDD[T])(f: T => IterableOnce[U]): RDD[U] = rows.flatMap(f)
    def union[T](a: RDD[T], b: RDD[T]): RDD[T] = a.union(b)
    def perGroup[K: ClassTag, T, U: ClassTag](rows: RDD[T])(key: T => K)(
        step: (K, Iterable[T]) => IterableOnce[U]): RDD[U] =
      rows.groupBy(key, new HashPartitioner(p)).flatMap { case (k, g) => step(k, g) }
    def pin[T](rows: RDD[T]): RDD[T] = rows.localCheckpoint()
  }

  /** A vector's two nearest trained cells by (round-6 cosine desc, cell
    * asc) against the k-means centres `cents` (Ann.nearestCells's rule,
    * n = 2): the shards a build or an append assigns it to.
    */
  def shardsOf(cents: Seq[(Int, Array[Double])]): ArrayData => Seq[Int] = {
    val cs = cents.map { case (cell, v) => cell -> ArrayData.toArrayData(v) }
    e => cs.map { case (cell, v) => (cell, CosineSimilarity.roundedCosine(e, true, v, false)) }
      .sortBy { case (cell, sim) => (-sim, cell) }.take(2).map(_._1)
  }

  /** Promotion level of a node (0..nLayers-1): layer ℓ keeps the ids
    * whose digest60 ≡ 0 (mod LayerMod^ℓ), nested by construction, so the
    * level counts the layers 1..nLayers-1 that keep the id.
    */
  def level(id: Long, nLayers: Int): Int = {
    val d = graft.functions.Digests.digest60Of(id.toString)
    (1 until nLayers).count(l => d % math.pow(LayerMod, l).toLong == 0)
  }

  /** The membership fingerprint (n, digest sum mod 2^61−1) of ids — the
    * value [[graft.streaming.Streaming.fingerprintStream]] computes over
    * them.
    */
  def idsFingerprint(ids: Seq[Long]): (Long, Long) =
    graft.functions.Digests.fingerprintOf(ids.map(_.toString))

  /** A corpus's ids summed up: their count, membership fingerprint, nodes
    * per promotion level and up to five repeated ids. Partials over
    * disjoint id sets add.
    */
  final case class IdStats(n: Long, fp: Long, perLevel: Seq[Long], repeated: Seq[Long]) {
    def +(o: IdStats): IdStats = IdStats(n + o.n, (fp + o.fp) % graft.functions.Digests.FingerprintMod,
      perLevel.zip(o.perLevel).map { case (a, b) => a + b }, (repeated ++ o.repeated).take(5))

    /** Refuse a repeated id: it would count twice in the fingerprint and
      * land twice in the shards sidecar.
      */
    def checked: IdStats = {
      require(repeated.isEmpty,
        s"hnsw: the corpus repeats vec_id ${repeated.sorted.mkString(", ")} — a graph indexes each id once")
      this
    }

    /** Nodes on layer `l`. */
    def count(l: Int): Long = perLevel.drop(l).sum

    /** The realized layer count: [[Hnsw.nLayersFor]], clamped down while
      * the top layer would be empty (a pseudorandom-digest tail case at
      * tiny N; deterministic per corpus) — a 1-node top layer is fine
      * (entry only, hops no-op).
      */
    def nLayers: Int = Iterator.iterate(Hnsw.nLayersFor(n))(_ - 1).find(l => l <= 2 || count(l - 1) > 0).get

    /** An express layer small enough to build DENSE, as one scoring group
      * of all its nodes (see Hnsw's scaladoc).
      */
    def dense(l: Int): Boolean = l >= 2 && count(l) <= DenseLayerCap

    /** The built graph's meta, entered at `entry`. */
    def meta(entry: (Long, ArrayData)): GraphMeta =
      GraphMeta(entry._1, entry._2.toFloatArray().toSeq, n, fp, nLayers)
  }

  /** [[IdStats]] of `ids`. */
  def idStats(ids: Seq[Long]): IdStats = {
    val (n, fp) = idsFingerprint(ids)
    val perLevel = ids.groupMapReduce(level(_, MaxLayersStatic))(_ => 1L)(_ + _)
    IdStats(n, fp, (0 until MaxLayersStatic).map(perLevel.getOrElse(_, 0L)),
      ids.diff(ids.distinct).distinct.take(5))
  }

  /** `src`'s top-M among `cands` (itself excluded) by (round-6 cosine
    * desc, id asc), scored into a bounded [[TopM]] — the scoring step of a
    * build's groups and of an append's new nodes.
    */
  def topMOf(src: Long, e: ArrayData, cands: Iterable[(Long, ArrayData)]): Seq[(Long, Double)] = {
    val best = new TopM(M)
    cands.foreach { case (dst, d) =>
      if (dst != src) {
        // round(_, 6) moves a cosine by at most 5e-7, so a raw cosine
        // 1e-6 under the current M-th sim cannot enter: skip rounding it
        val raw = CosineSimilarity.cosine(e, true, d, true)
        if (best.admits(raw + 1e-6)) best.offer(dst, CosineSimilarity.round6(raw))
      }
    }
    best.result
  }

  /** Per-src top-`n` of scored (src, dst, sim) edges: one row per (src,
    * dst) with its max sim, then (sim desc, dst asc). At `n` = M it merges
    * a src's per-group top-Ms into its top-M over all their candidates (a
    * dst outside its group's top-M is beaten by M dsts of that group); at
    * [[MaxDegree]] it re-caps a list that reverse edges joined.
    */
  def topPerSrc(rows: Iterable[(Long, Long, Double)], n: Int): Seq[(Long, Long, Double)] =
    rows.groupBy(_._1).toSeq.flatMap { case (_, out) =>
      out.groupBy(_._2).values.map(ps => ps.head.copy(_3 = ps.map(_._3).max)).toSeq
        .sortBy(r => (-r._3, r._2)).take(n)
    }

  /** In-link target `t`'s out-list once new nodes link to it, from rows
    * (dst, sim, vector): its own vector (dst = t), its current out-edges
    * (no sim: re-scored from t's vector) and the reverse edges (a new src
    * and its sim). The union re-caps at [[MaxDegree]] ([[topPerSrc]]);
    * each kept dst comes with its vector. Nothing when no reverse edge
    * came: t keeps its list.
    */
  def recap(t: Long, rows: Iterable[(Long, Option[Double], ArrayData)]): Seq[(Long, ArrayData)] =
    if (!rows.exists(_._2.nonEmpty)) Nil
    else {
      val e = rows.collectFirst { case (d, None, v) if d == t => v }.get
      val edges = rows.filter(_._1 != t)
      val vec = edges.map(r => r._1 -> r._3).toMap
      topPerSrc(edges.map { case (d, sim, v) =>
        (t, d, sim.getOrElse(CosineSimilarity.roundedCosine(e, true, v, true))) }, MaxDegree)
        .map(r => r._2 -> vec(r._2))
    }

  /** The entry rule of a build, of a delete of the entry and of a
    * compaction: among the `live` (id, vector) rows, the min-id node of the
    * highest promotion level present — layer-ℓ hops from a lower node are
    * no-ops until the walk descends past ℓ, so losing a whole layer falls
    * back level by level. The rule is a minimum: electing among per-task
    * picks elects among all rows.
    */
  def elect[V](live: Iterator[(Long, V)], nLayers: Int): Option[(Long, V)] =
    live.minByOption { case (id, _) => (-level(id, nLayers), id) }

  /** The meta after an append of `ids`: the fingerprint grown additively
    * (it is a sum mod 2^61−1, so an append needs only the batch digest —
    * no corpus pass), and the entry moved to the min-id new node promoted
    * to the top layer when that id undercuts it (`vec` gives its vector).
    */
  def appended(old: GraphMeta, ids: Seq[Long], vec: Long => ArrayData): GraphMeta = {
    val (n, fp) = idsFingerprint(ids)
    val grown = old.plus(n, fp)
    ids.filter(level(_, old.nLayers) == old.nLayers - 1).minOption.filter(_ < grown.entry)
      .fold(grown)(id => grown.enter(id, vec(id)))
  }

  /** A build's edges (layer, src, dst) over its (vec_id, vector, shard)
    * rows: per scoring group — a shard, or every node of a dense layer —
    * each member's top-M ([[topMOf]]); per src, the merge of its groups'
    * top-Ms; each edge and its reverse (small-world graphs need in-links to
    * be navigable), re-capped per src at [[MaxDegree]] ([[topPerSrc]]).
    */
  def buildEdges[F[_]](run: Runner[F], shards: F[(Long, ArrayData, Int)], s: IdStats): F[(Int, Long, Long)] = {
    val nl = s.nLayers
    val dense = (0 until nl).filter(s.dense).toSet
    val grouped = run.flatMap(shards) { case (id, e, sh) =>
      (0 to level(id, nl)).map(l => ((l, if (dense(l)) -1 else sh), id, e)) }
    val tops = run.perGroup(grouped)(_._1) { case ((l, _), g) =>
      // a dense layer's one group holds a node once per shard it is in
      val ms = g.map(m => m._2 -> m._3).toSeq.distinctBy(_._1)
      ms.flatMap { case (src, e) => topMOf(src, e, ms).map { case (dst, sim) => (l, src, dst, sim) } }
    }
    val both = run.perGroup(tops)(t => (t._1, t._2)) { case ((l, src), ts) =>
      topPerSrc(ts.map(t => (src, t._3, t._4)), M).flatMap { case (_, dst, sim) =>
        Seq((l, src, dst, sim), (l, dst, src, sim)) }
    }
    run.perGroup(both)(t => (t._1, t._2)) { case ((l, src), ts) =>
      topPerSrc(ts.map(t => (src, t._3, t._4)), MaxDegree).map(e => (l, src, e._2))
    }
  }

  /** An append's delta rows (layer, src, dst, dst's vector) over the
    * touched shards' (vec_id, vector, shard) `members`, the new nodes
    * `news` among them: per (layer, shard), each new node's top-M among the
    * shard's members on that layer ([[topMOf]]); per new src, the merge;
    * per (layer, in-link target) — an existing node a new node now points
    * at — [[recap]] over the target's own vector, its gen-resolved
    * out-edges (`current`, given the (layer, target) keys) and the reverse
    * edges.
    */
  def appendEdges[F[_]](run: Runner[F], members: F[(Long, ArrayData, Int)], news: Set[Long], nLayers: Int)(
      current: F[(Int, Long)] => F[(Int, Long, Long, ArrayData)]): F[(Int, Long, Long, ArrayData)] = {
    val onLayers = run.flatMap(members) { case (id, e, sh) => (0 to level(id, nLayers)).map(l => (l, sh, id, e)) }
    val tops = run.perGroup(onLayers)(m => (m._1, m._2)) { case ((l, _), g) =>
      val ms = g.map(m => m._3 -> m._4)
      val vec = ms.toMap
      ms.filter(m => news(m._1)).flatMap { case (src, e) =>
        topMOf(src, e, ms).map { case (dst, sim) => (l, src, e, dst, sim, vec(dst)) } }
    }
    val out = run.pin(run.perGroup(tops)(t => (t._1, t._2)) { case ((l, src), ts) =>
      val vec = ts.map(t => t._4 -> t._6).toMap
      topPerSrc(ts.map(t => (src, t._4, t._5)), M).map { case (_, dst, sim) => (l, src, ts.head._3, dst, sim, vec(dst)) }
    })
    val rev = run.flatMap(out) { case (l, src, e, dst, sim, _) =>
      if (news(dst)) None else Some((l, dst, src, Option(sim), e)) }
    val self = run.flatMap(onLayers) { case (l, _, id, e) => Some((l, id, id, Option.empty[Double], e)) }
    val cur = run.flatMap(current(run.perGroup(rev)(r => (r._1, r._2)) { case (k, _) => Some(k) })) {
      case (l, t, d, e) => Some((l, t, d, Option.empty[Double], e)) }
    run.union(run.flatMap(out) { case (l, src, _, dst, _, e) => Some((l, src, dst, e)) },
      run.perGroup(run.union(run.union(rev, self), cur))(r => (r._1, r._2)) { case ((l, t), rs) =>
        recap(t, rs.map(r => (r._3, r._4, r._5))).map { case (d, e) => (l, t, d, e) }
      })
  }

  /** A bounded top-`m` selection of (id, sim) by (sim desc, id asc), the
    * order [[topPerSrc]] sorts by; one entry per id (a repeated id keeps
    * its first sim).
    */
  private final class TopM(m: Int) {
    private val top = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]

    private def before(a: (Long, Double), b: (Long, Double)): Boolean = {
      val c = java.lang.Double.compare(-a._2, -b._2)
      c < 0 || (c == 0 && a._1 < b._1)
    }

    /** False when a sim of at most `bound` can no longer enter. */
    def admits(bound: Double): Boolean = top.length < m || !(bound < top.last._2)

    def offer(id: Long, sim: Double): Unit = {
      val c = (id, sim)
      if ((top.length < m || before(c, top.last)) && !top.exists(_._1 == id)) {
        val at = top.indexWhere(before(c, _))
        top.insert(if (at < 0) top.length else at, c)
        if (top.length > m) top.remove(m)
      }
    }

    def result: Seq[(Long, Double)] = top.toSeq
  }
}

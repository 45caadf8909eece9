package graft.operators

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.expressions.CosineSimilarity
import graft.functions.VectorOps

/** IVFPQ — the composition of the trained IVF layout (Ann.kmeansLayout)
  * with product-quantization codes (Pq): the industry-standard serving
  * index (Jégou et al. 2011's IVFADC, minus the residual encoding — codes
  * quantize the raw L2-normalized vectors, the "IVF-Flat + PQ" variant, so
  * one codebook set serves every cell and the PQ-alone path stays the
  * recall baseline; AnnPqSpec pins IVFPQ-at-nprobe=all ≡ PQ-alone).
  *
  * Index build (offline, memoized per sf dir): encode every vector of the
  * trained cell layout to m code bytes and store (vec_id, codes)
  * partitioned BY CELL — at 100 TB the inverted lists ARE the parquet cell
  * directories, holding 8-byte codes instead of 256-byte floats (32× less
  * I/O per probed cell).
  *
  * Search: rank the k trained centroids driver-side (KBs of broadcast
  * index metadata — same class as IvfRewrite's registry), turn the nprobe
  * winners into a LITERAL partition filter (static pruning: the codes scan
  * plans only the probed cell directories), ADC-score the codes — m table
  * lookups per vector, no float math — shortlist via
  * TakeOrderedAndProject, and exact-rescore ONLY the shortlist against the
  * full-precision vectors.
  *
  * Scale shape of the serving path: I/O = nprobe/cells of the CODES table
  * (already 32× compressed), float math = shortlistN rescores, shuffle =
  * the k-row top-k merge. This is the scalable version of the reference's
  * per-request full scan (VectorSearchService.cs:189-196).
  */
object Ivfpq {

  private val layouts = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Deterministic codes-layout location for (sfDir, hyperparams) — pure
    * path arithmetic (mirrors Ann.kmeansLayoutPath).
    */
  def codesPath(sfDir: String, cells: Int = 10, dim: Int = 64, m: Int = 8,
                k: Int = 16, seed: Long = 42L): String =
    s"${sys.props("java.io.tmpdir")}/graft-ivfpq-" +
      Ann.pathToken(s"$sfDir/$cells/$dim/$m/$k/$seed")

  /** Build (once per JVM per hyperparams) the cell-partitioned PQ codes
    * table from the trained IVF layout + trained codebooks.
    */
  def codesLayout(spark: SparkSession, sfDir: String, cells: Int = 10,
                  dim: Int = 64, m: Int = 8, k: Int = 16,
                  seed: Long = 42L): String =
    layouts.computeIfAbsent(s"$sfDir/$cells/$dim/$m/$k/$seed", { _ =>
      val dir = codesPath(sfDir, cells, dim, m, k, seed)
      val (kmDir, _) = Ann.kmeansLayout(spark, sfDir, cells, seed)
      val cb = Pq.train(spark, sfDir, dim, m, k, seed)
      val norm = spark.read.parquet(kmDir)
        .select(col("vec_id"), col("cell"),
          VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))
      Pq.encode(norm, "nemb", cb)
        .select(col("vec_id"), col("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    })

  /** Bench-harness hook: forget the codes layouts so a second build can be
    * timed cold (see Ann.resetMemos).
    */
  private[graft] def resetMemos(): Unit = {
    layouts.clear(); resLayouts.clear(); demoLayouts.clear()
  }

  private val demoLayouts = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** One-time staged build of the tombstone-delete demo: a caller-owned
    * clone of the residual codes layout with ids 1,2 logically deleted.
    * The MUTATION is the one-time build (a `stage:*` bench line item, per
    * the round-4 stage/query separation); the query then measures the
    * SEARCH over the mutated index, not the mutation.
    */
  def deletedDemoLayout(spark: SparkSession, sfDir: String): String =
    demoLayouts.computeIfAbsent(s"$sfDir/del", { _ =>
      val clone = resCodesPath(sfDir) + "-deleted-demo"
      spark.read.parquet(resCodesLayout(spark, sfDir))
        .write.mode("overwrite").partitionBy("cell").parquet(clone)
      val t = new org.apache.hadoop.fs.Path(tombstonesPath(clone))
      t.getFileSystem(spark.sessionState.newHadoopConf()).delete(t, true)
      deleteFromResLayout(spark, Seq(1L, 2L), clone)
      clone
    }).asInstanceOf[String]

  /** One-time staged build of the cell-split demo: clone, split the most
    * populous cell, return (dir, post-split centers, anchors). The stale
    * metadata dumps of an earlier build are deleted BEFORE the split so
    * every build splits from pristine geometry — [[splitCell]]'s
    * dump-first base-geometry rule would otherwise chain a second split
    * on top of the first build's.
    */
  def splitDemoLayout(spark: SparkSession, sfDir: String)
      : (String, Seq[(Int, Array[Double])], Map[Int, Array[Double]]) =
    demoLayouts.computeIfAbsent(s"$sfDir/split", { _ =>
      val clone = resCodesPath(sfDir) + "-split-demo"
      spark.read.parquet(resCodesLayout(spark, sfDir))
        .write.mode("overwrite").partitionBy("cell").parquet(clone)
      val fsys = new org.apache.hadoop.fs.Path(clone)
        .getFileSystem(spark.sessionState.newHadoopConf())
      Seq("-cents", "-anchors").foreach { suf =>
        fsys.delete(new org.apache.hadoop.fs.Path(clone + suf), true)
      }
      val hot = spark.read.parquet(clone).groupBy(col("cell")).count()
        .orderBy(col("count").desc, col("cell").asc).head().getInt(0)
      val (c2, a2) = splitCell(spark, sfDir, clone,
        s"$sfDir/embeddings.parquet", hot)
      (clone, c2, a2)
    }).asInstanceOf[(String, Seq[(Int, Array[Double])], Map[Int, Array[Double]])]

  private val resLayouts = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Deterministic location of the RESIDUAL-encoded codes (true IVFADC —
    * see [[resCodesLayout]]).
    */
  def resCodesPath(sfDir: String, cells: Int = 10, dim: Int = 64, m: Int = 8,
                   k: Int = 16, seed: Long = 42L): String =
    s"${sys.props("java.io.tmpdir")}/graft-ivfpqres-" +
      Ann.pathToken(s"$sfDir/$cells/$dim/$m/$k/$seed")

  /** Residual-encoded codes table (Jégou 2011 §III, IVFADC proper): each
    * vector's codes quantize `v − centroid(cell(v))` with the residual
    * codebooks (Pq.trainResidual) instead of the raw vector — the cell
    * geometry the coarse quantizer already captured is not re-spent, so
    * recall at equal code size improves (AnnPqSpec measures it). Same
    * physical layout as [[codesLayout]]: (vec_id, codes) partitioned BY
    * CELL, 8 bytes per vector in the probed lists.
    */
  def resCodesLayout(spark: SparkSession, sfDir: String, cells: Int = 10,
                     dim: Int = 64, m: Int = 8, k: Int = 16,
                     seed: Long = 42L): String =
    resLayouts.computeIfAbsent(s"$sfDir/$cells/$dim/$m/$k/$seed", { _ =>
      val dir = resCodesPath(sfDir, cells, dim, m, k, seed)
      val (kmDir, _) = Ann.kmeansLayout(spark, sfDir, cells, seed)
      val cb = Pq.trainResidual(spark, sfDir, dim, m, k, seed, cells)
      val norm = spark.read.parquet(kmDir)
        .select(col("vec_id"), col("cell"),
          VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))
      residualEncode(norm, Pq.residualAnchors(spark, sfDir, cells, seed), cb)
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      dir
    })

  /** The nprobe cosine-nearest cells to `qVec` — ranked driver-side over
    * the ≤`cells` in-memory centers (index METADATA, not data; the same
    * acceptable-collect class as IvfRewrite's centroid registry). The
    * shared cosine kernel rounded by Spark's own `round(_, 6)` (HALF_UP),
    * with (sim DESC, cell ASC) tie-break, mirroring Ann.ivfSearchCells'
    * probe and the DuckDB replay.
    */
  def probeCells(cents: Seq[(Int, Array[Double])], qVec: Array[Double],
                 nprobe: Int): Seq[Int] = {
    val q = ArrayData.toArrayData(qVec)
    cents.map { case (cell, c) =>
      (cell, CosineSimilarity.roundedCosine(ArrayData.toArrayData(c), false, q, false))
    }.sortBy { case (cell, sim) => (-sim, cell) }
      .take(nprobe).map(_._1)
  }

  /** IVFPQ top-k: static-pruned codes scan → ADC shortlist → exact
    * rescore. `qVec` must be L2-normalized (ADC dot products rank like
    * cosine only on the unit sphere — same contract as Pq).
    * Returns (vec_id, sim) ranked exactly like Knn.topK's contract
    * (sim DESC, vec_id ASC).
    */
  def search(spark: SparkSession, sfDir: String, qVec: Array[Double],
             excludeId: Option[Long], k: Int, shortlistN: Int,
             nprobe: Int, cells: Int = 10): DataFrame = {
    val (_, cents) = Ann.kmeansLayout(spark, sfDir, cells)
    val cb = Pq.train(spark, sfDir)
    val codesDir = codesLayout(spark, sfDir, cells)
    val probes = probeCells(cents, qVec, nprobe)
    val table = Pq.adcTable(qVec, cb)
    // literal IN on the partition column: the scan PLANS only the probed
    // cell directories (PartitionFilters — asserted in AnnPqSpec)
    val codes0 = spark.read.parquet(codesDir)
      .filter(col("cell").isin(probes: _*))
    val codes = excludeId.map(id => codes0.filter(col("vec_id") =!= id))
      .getOrElse(codes0)
    val shortlist = codes
      .withColumn("adc", round(Pq.adcScore(table, cb.m), 6))
      .orderBy(col("adc").desc, col("vec_id").asc).limit(shortlistN)
      .select(col("vec_id"))
    // full-precision vectors are touched for shortlistN rows only
    val norm = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))
    norm.join(broadcast(shortlist), Seq("vec_id"), "left_semi")
      .withColumn("sim", round(VectorOps.cosine(col("nemb"), typedLit(qVec.toSeq)), 6))
      .orderBy(col("sim").desc, col("vec_id").asc).limit(k)
      .select(col("vec_id"), col("sim"))
  }

  /** Batch IVFADC: serve a BATCH of queries against the residual codes
    * layout in ONE job. Per query, the cell probe and the m×k ADC table
    * are driver arithmetic over broadcast index metadata (centers,
    * anchors, books — KBs; a serving batch is API-sized, so Q·m·k table
    * entries stay a small literal). The job itself:
    *
    *  - the codes scan reads the UNION of all probed cells once
    *    (literal partition filter — still nprobe/cells of the table per
    *    query, shared across queries probing the same cell);
    *  - each code row joins only the queries that probed its cell
    *    (broadcast probe table);
    *  - ADC is the literal-map lookup fold `qdotc + Σ table[qid][s][code]`
    *    — no float vectors, no per-row join against a table DF;
    *  - the per-qid shortlist runs through the partial/final TopKPerKey
    *    heap (bounded exchange however hot a cell is — AnnSkewSpec's
    *    argument applies verbatim);
    *  - only shortlist rows touch full-precision vectors for the exact
    *    rescore.
    *
    * Output (qid, vec_id, sim, rnk), self-matches excluded. Single-query
    * [[searchResidual]] is the per-request face; this is the bulk/serving
    * face (and the per-trigger body of [[graft.streaming.Streaming]]'s
    * IVFADC serve).
    */
  def searchBatchResidual(spark: SparkSession, sfDir: String,
                          queries: Seq[(Long, Array[Double])], k: Int,
                          shortlistN: Int, nprobe: Int,
                          cells: Int = 10,
                          // maintenance face, as in [[searchResidual]]:
                          // serve a caller-owned (appended / tombstoned /
                          // compacted) layout instead of the memoized one
                          codesDirOverride: Option[String] = None,
                          rescoreDirOverride: Option[String] = None,
                          // pre-filter semantics for the whole batch, as
                          // in [[searchResidual]]: the allowed-id
                          // semi-join restricts the codes scan before any
                          // per-query shortlist slot is spent
                          filterIds: Option[DataFrame] = None,
                          // true (default) when qids ARE corpus vec_ids
                          // (self-similarity workloads: each query drops
                          // its own vector). Set false when qids are an
                          // unrelated request-id space — otherwise a
                          // request id colliding with a corpus id would
                          // silently lose that vector from its top-k.
                          excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    val (_, cents) = Ann.kmeansLayout(spark, sfDir, cells)
    val cb = Pq.trainResidual(spark, sfDir, cells = cells)
    val codesDir = codesDirOverride.getOrElse(resCodesLayout(spark, sfDir, cells))
    val anchorOf = Pq.residualAnchors(spark, sfDir, cells).toMap
    // an empty trained cell has no anchor (and no codes) — probing it is
    // pointless and must not crash the probe arithmetic
    val probeable = cents.filter { case (c, _) => anchorOf.contains(c) }
    val kCodes = cb.books(0).length
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      d
    }
    // driver-side probe + first-order terms + ADC tables, all from
    // broadcast metadata
    val probeRows = queries.flatMap { case (qid, qn) =>
      probeCells(probeable, qn, nprobe).map { c => (qid, c, dot(qn, anchorOf(c))) }
    }
    val adcEntries: Map[Long, Double] = queries.flatMap { case (qid, qn) =>
      val t = Pq.adcTable(qn, cb)
      for { s <- 0 until cb.m; c <- 0 until kCodes }
        yield ((qid * cb.m + s) * kCodes + c) -> t(s)(c)
    }.toMap
    val allCells = probeRows.map(_._2).distinct
    val probesDf = probeRows.toDF("qid", "pcell", "qdotc")
    val adcLit = typedLit(adcEntries)
    val live = withoutTombstones(spark, codesDir, spark.read.parquet(codesDir)
      .filter(col("cell").isin(allCells: _*))) // static partition pruning
    val candidates = filterIds.map(f =>
        live.join(f.select(col("vec_id")), Seq("vec_id"), "left_semi"))
      .getOrElse(live)
    val paired = candidates
      .join(broadcast(probesDf), col("cell") === col("pcell"))
    val scored = (if (excludeSelf) paired.filter(col("vec_id") =!= col("qid"))
                  else paired)
      .withColumn("adc", round(col("qdotc") +
        aggregate(sequence(lit(0), lit(cb.m - 1)), lit(0.0),
          (acc, s) => acc + element_at(adcLit,
            (col("qid") * cb.m + s).cast("long") * kCodes +
              element_at(col("codes"), s + 1))), 6))
      .select(col("qid"), col("vec_id"), col("adc"))
    val short = graft.operators.TopK.perKey(scored, Seq("qid"),
      Seq(("adc", false), ("vec_id", true)), shortlistN)
      .select(col("qid"), col("vec_id"))
    val qnDf = queries.map { case (qid, qn) => (qid, qn.toSeq) }.toDF("qid", "qn")
    val norm = spark.read
      .parquet(rescoreDirOverride.getOrElse(s"$sfDir/embeddings.parquet"))
      .select(col("vec_id"),
        VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id").asc)
    // rescore touches shortlistN rows per query only
    norm.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qnDf), Seq("qid"))
      .withColumn("sim", round(VectorOps.cosine(col("nemb"), col("qn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("sim"), col("rnk"))
  }

  /** Residual-encode (vec_id, cell, nemb) rows against per-cell anchors
    * with the shared frozen codebooks → (vec_id, codes, cell). The single
    * encode chain behind every layout writer — build ([[resCodesLayout]]),
    * append ([[appendToResLayout]]), split ([[splitCell]]) — so a change
    * to the residual arithmetic lands everywhere at once and codes can
    * never silently diverge between maintenance paths.
    */
  private def residualEncode(withCells: DataFrame,
                             anchors: Seq[(Int, Array[Double])],
                             cb: Pq.Codebooks): DataFrame = {
    val anchorsDf = Ann.centroidsDf(withCells.sparkSession, anchors)
      .withColumnRenamed("centroid", "anchor")
    Pq.encode(
      withCells.join(broadcast(anchorsDf), Seq("cell"))
        .withColumn("res", zip_with(col("nemb"), col("anchor"), (v, c) => v - c)),
      "res", cb)
      .select(col("vec_id"), col("codes"), col("cell"))
  }

  /** Append NEW vectors to an existing residual codes layout WITHOUT
    * retraining: assign each vector to its nearest trained center
    * (broadcast metadata, map-only — Ann.assignCells), residual-encode
    * against the FROZEN anchors + codebooks, and append the 8-byte code
    * rows into the cell directories. Anchors and books retrain on an
    * offline schedule, not per append — the standard serving-index
    * contract: freshness now, optimal geometry at the next rebuild (a
    * vector drifting far from every anchor still encodes, just with more
    * quantization error, and the exact rescore stays exact either way).
    * Pairs with Ann.compactLayout for the accumulated-small-files repair.
    * `codesDir` is explicit so maintenance targets a caller-owned layout
    * (the memoized shared one stays pristine under tests).
    */
  def appendToResLayout(spark: SparkSession, sfDir: String, newVecs: DataFrame,
                        codesDir: String, cells: Int = 10): Unit = {
    val (_, cents) = Ann.kmeansLayout(spark, sfDir, cells)
    val cb = Pq.trainResidual(spark, sfDir, cells = cells)
    val assigned = Ann.assignCells(newVecs, Ann.centroidsDf(spark, cents),
        "vec_id", "embedding")
      .select(col("vec_id"), col("cell"),
        VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))
    residualEncode(assigned, Pq.residualAnchors(spark, sfDir, cells), cb)
      .write.mode("append").partitionBy("cell").parquet(codesDir)
  }

  /** Tombstone sidecar location for a residual codes layout. Deletes are
    * the third maintenance verb (after append and compact): a serving
    * index cannot rewrite cell files per delete, so deletion is LOGICAL
    * first — an id lands in the sidecar and every search anti-joins it —
    * and PHYSICAL later, when [[compactResLayout]] rewrites the cells
    * without the tombstoned rows and clears the sidecar.
    */
  def tombstonesPath(codesDir: String): String = codesDir + "-tombstones"

  /** Logically delete `ids` from a caller-owned residual codes layout:
    * append them to the tombstone sidecar (a parquet of vec_ids — KBs
    * per maintenance batch; deletes-since-last-compaction stay small by
    * construction, so serves broadcast it). Append-mode on purpose:
    * concurrent/repeated delete batches union, and a re-delivered delete
    * is idempotent through the anti-join.
    */
  def deleteFromResLayout(spark: SparkSession, ids: Seq[Long],
                          codesDir: String): Unit = {
    import spark.implicits._
    deleteFromResLayout(ids.toDF("vec_id"), codesDir)
  }

  /** DataFrame overload — the `foreachBatch` sink shape: a per-trigger
    * micro-batch of delete events lands in the sidecar as-is (map-only
    * append; StreamingSpec serves the exclusions on the very next search).
    */
  def deleteFromResLayout(ids: DataFrame, codesDir: String): Unit =
    ids.select(col("vec_id")).write.mode("append")
      .parquet(tombstonesPath(codesDir))

  /** Anti-join the tombstone sidecar into a codes scan, if one exists.
    * The sidecar is deletes-since-last-compaction — broadcast-sized — so
    * the anti-join is map-side; a missing sidecar costs one driver-side
    * existence check and leaves the plan untouched (the memoized shared
    * layouts never have one, so registered queries are unaffected).
    */
  private def withoutTombstones(spark: SparkSession, codesDir: String,
                                codes: DataFrame): DataFrame = {
    val t = new org.apache.hadoop.fs.Path(tombstonesPath(codesDir))
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(t))
      codes.join(broadcast(spark.read.parquet(t.toString)
        .select(col("vec_id")).distinct()), Seq("vec_id"), "left_anti")
    else codes
  }

  /** Physically apply tombstones: rewrite the cell files WITHOUT the
    * tombstoned rows (riding [[Ann.compactLayout]]'s two-rename atomic
    * swap, so searches see the old or new layout, never partial), then
    * clear EXACTLY the sidecar files this compaction applied. The
    * snapshot-then-delete discipline is what makes concurrent deletes
    * safe: a delete batch appended DURING the rewrite is not in the
    * snapshot, so it survives the sweep and keeps anti-joining at serve
    * time — blanket-deleting the sidecar dir would silently resurrect
    * those vectors. Crash-safe ordering: snapshot files are dropped only
    * AFTER the swap promotes the cleaned layout — a crash in between
    * re-applies them over rows that no longer exist, which the anti-join
    * makes a no-op.
    */
  def compactResLayout(spark: SparkSession, codesDir: String,
                       targetRowsPerFile: Long = 1L << 20): Unit = {
    val t = new org.apache.hadoop.fs.Path(tombstonesPath(codesDir))
    val fs = t.getFileSystem(spark.sessionState.newHadoopConf())
    val snapshot = if (fs.exists(t)) fs.listStatus(t).map(_.getPath) else Array.empty[org.apache.hadoop.fs.Path]
    val appliedParquet = snapshot.filter(_.getName.endsWith(".parquet"))
    val applied = if (appliedParquet.nonEmpty)
      Some(spark.read.parquet(appliedParquet.map(_.toString).toIndexedSeq: _*)
        .select(col("vec_id")).distinct())
    else None
    Ann.compactLayout(spark, codesDir, targetRowsPerFile,
      transform = df => applied.map(a =>
        df.join(broadcast(a), Seq("vec_id"), "left_anti")).getOrElse(df))
    snapshot.foreach(p => fs.delete(p, false))
    if (fs.exists(t) && fs.listStatus(t).isEmpty) fs.delete(t, true)
  }

  /** Max parquet files in any one cell directory of a codes layout — the
    * number the compaction POLICY watches (file accumulation per cell is
    * what appends produce; row-count skew is what [[graft.queries]]'
    * ivf_index_stats watches for retraining). Driver-side listing of
    * cell directories: #cells entries, the same metadata class as the
    * broadcast centers.
    */
  def maxFilesPerCell(spark: SparkSession, codesDir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(codesDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("cell=")).map { d =>
      fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet"))
    }.foldLeft(0)(math.max)
  }

  /** The closed maintenance loop — what a deployment actually runs per
    * ingest batch: append the new vectors (frozen anchors + books, no
    * retrain), then compact IF any cell's file count crossed the policy
    * threshold. Appends are cheap and frequent; compaction is the
    * periodic repair — tying them to one observable policy knob is what
    * keeps an always-appending index off the small-files death spiral
    * without a human watching ivf_index_stats. Returns true when this
    * batch triggered a compaction (tombstones, if any, are physically
    * applied by it — compactResLayout clears the sidecar).
    */
  def appendAndMaybeCompact(spark: SparkSession, sfDir: String,
                            newVecs: DataFrame, codesDir: String,
                            filesPerCellThreshold: Int,
                            targetRowsPerFile: Long = 1L << 20): Boolean = {
    appendToResLayout(spark, sfDir, newVecs, codesDir)
    val over = maxFilesPerCell(spark, codesDir) > filesPerCellThreshold
    if (over) compactResLayout(spark, codesDir, targetRowsPerFile)
    over
  }

  /** Split ONE hot cell of a caller-owned residual codes layout into two
    * — targeted rebalancing, the repair for POPULATION skew (the other
    * axis ivf_index_stats watches; file accumulation → compactResLayout,
    * row skew → split). A whole-layout retrain is an offline decision; a
    * split touches only the hot cell:
    *
    *  1. deterministic 2-means over just that cell's full-precision
    *     vectors (1-partition sample-scale fit, like the coarse
    *     quantizer itself);
    *  2. new anchors = the two sub-cell MEANS (the variance-minimizing
    *     choice — the same reasoning as Pq.residualAnchors);
    *  3. residuals re-encoded against the new anchors with the SHARED
    *     frozen codebooks (codes stay 8 bytes, other cells untouched);
    *  4. the layout rewritten through [[Ann.compactLayout]]'s two-rename
    *     atomic swap (transform = replace the split cell's rows), so
    *     searches see the old or new layout, never partial;
    *  5. the updated probe metadata (centers + anchors, with the two
    *     sub-centers in place of the old cell's) dumped beside the
    *     layout — `<codesDir>-cents` / `<codesDir>-anchors` — for the
    *     serving face and the oracle replay.
    *
    * Returns (centers, anchors) to pass as `indexOverride` to
    * [[searchResidual]]; the sub-centers probe like any trained center.
    */
  def splitCell(spark: SparkSession, sfDir: String, codesDir: String,
                rescoreDir: String, cell: Int, cells: Int = 10,
                seed: Long = 42L,
                targetRowsPerFile: Long = 1L << 20)
      : (Seq[(Int, Array[Double])], Map[Int, Array[Double]]) = {
    val cb = Pq.trainResidual(spark, sfDir, cells = cells, seed = seed)
    // The BASE geometry is the layout's own dumped metadata when present
    // (i.e. this is not the first split) and the pristine trained
    // metadata otherwise. Deriving from the trained dumps on a second
    // split would reuse the first split's cell id for a DIFFERENT anchor
    // (one cell id, two encodings — ADC silently wrong for half its
    // rows) and return metadata that forgets the first split entirely.
    def readDump(path: String, valueCol: String): Option[Seq[(Int, Array[Double])]] = {
      val p = new org.apache.hadoop.fs.Path(path)
      if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
        Some(spark.read.parquet(path).select(col("cell"), col(valueCol))
          .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
          .toSeq.sortBy(_._1))
      else None
    }
    val baseCents = readDump(codesDir + "-cents", "centroid")
      .getOrElse(Ann.kmeansLayout(spark, sfDir, cells, seed)._2)
    val baseAnchors = readDump(codesDir + "-anchors", "anchor").map(_.toMap)
      .getOrElse(Pq.residualAnchors(spark, sfDir, cells, seed).toMap)
    val newId = baseCents.map(_._1).max + 1
    val ids = spark.read.parquet(codesDir)
      .filter(col("cell") === cell).select(col("vec_id"))
    val nCodes = ids.count()
    val vecs = spark.read.parquet(rescoreDir)
      .join(ids, Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))
    val prepared = vecs.withColumn("__v", array_to_vector(col("nemb")))
      .repartition(1).cache()
    // the rewrite REPLACES the whole cell with the re-encoded survivors
    // of the rescore join — if the two index halves are out of sync,
    // refusing loudly beats silently deleting the missing vectors
    val nVecs = prepared.count()
    require(nVecs == nCodes,
      s"splitCell: rescoreDir holds $nVecs of cell $cell's $nCodes coded " +
        s"vectors — codes and full-precision halves are out of sync; " +
        s"refusing to drop ${nCodes - nVecs} vectors")
    // driver-local 2-means on the sample-scale cell (bit-identical to the
    // distributed fit — LocalKMeansSpec's cosine k=2 case)
    val km = LocalKMeansFit.fit(prepared, "__v", "half",
      k = 2, seed = seed, maxIter = 20, distanceMeasure = "cosine")
    val assigned = km.transform(prepared).drop("__v")
      .withColumn("cell",
        when(col("half") === 0, lit(cell)).otherwise(lit(newId)))
      .drop("half")
    // sub-cell means, the Pq.residualAnchors aggregation verbatim
    val subAnchors = assigned
      .select(col("cell"), posexplode(col("nemb")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("col")).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x("m")).as("anchor"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).toMap
    val reEncoded = residualEncode(assigned, subAnchors.toSeq.sortBy(_._1), cb)
    Ann.compactLayout(spark, codesDir, targetRowsPerFile,
      transform = df => df.filter(col("cell") =!= cell).unionByName(reEncoded))
    prepared.unpersist() // reEncoded's lineage reads the cache until here
    val newCents = baseCents.filterNot(_._1 == cell) ++
      km.clusterCenters.zipWithIndex.map { case (c, i) =>
        (if (i == 0) cell else newId) -> c.toArray
      }
    val newAnchors = (baseAnchors - cell) ++ subAnchors
    // dump both metadata halves beside the layout: with codes + centers +
    // anchors all on disk, serving is deterministic, the DuckDB oracle
    // replays the identical probe + ADC over the split index, and the
    // NEXT split resumes from this geometry instead of the trained one
    Ann.centroidsDf(spark, newCents.sortBy(_._1)).coalesce(1)
      .write.mode("overwrite").parquet(codesDir + "-cents")
    Ann.centroidsDf(spark, newAnchors.toSeq.sortBy(_._1))
      .withColumnRenamed("centroid", "anchor").coalesce(1)
      .write.mode("overwrite").parquet(codesDir + "-anchors")
    (newCents.sortBy(_._1), newAnchors)
  }

  /** IVFADC search over the RESIDUAL codes: identical plan to [[search]]
    * (static-pruned codes scan → ADC shortlist → exact rescore of the
    * shortlist) except the ADC score carries the per-cell first-order
    * term: `dot(q, v) ≈ dot(q, c_cell) + Σ_s table[s][code_s]` with the
    * table built from the residual codebooks. `dot(q, c)` for the ≤nprobe
    * probed cells is driver-side arithmetic over broadcast index metadata
    * — injected as a literal cell→double map, zero extra scans.
    */
  def searchResidual(spark: SparkSession, sfDir: String, qVec: Array[Double],
                     excludeId: Option[Long], k: Int, shortlistN: Int,
                     nprobe: Int, cells: Int = 10,
                     // maintenance face: serve a caller-owned (appended/
                     // compacted) codes dir + its matching full-precision
                     // table instead of the memoized build (see
                     // appendToResLayout; a maintained deployment appends
                     // to BOTH the codes and the full-precision layout)
                     codesDirOverride: Option[String] = None,
                     rescoreDirOverride: Option[String] = None,
                     // metadata-filtered search: a 1-column (vec_id) frame
                     // of ALLOWED candidates, PRE-filter semantics — the
                     // semi-join restricts the codes scan BEFORE the ADC
                     // shortlist, so all shortlistN slots go to vectors
                     // satisfying the predicate. (Post-filtering an
                     // unfiltered top-k starves on selective predicates —
                     // AnnPqSpec demonstrates the failure.) Not forced
                     // broadcast: the allowed set can be most of the
                     // corpus; Catalyst/AQE picks the join side.
                     filterIds: Option[DataFrame] = None,
                     // metadata-mutating maintenance (splitCell): serve
                     // with the returned (probe centers, cell→anchor)
                     // instead of the memoized trained metadata
                     indexOverride: Option[(Seq[(Int, Array[Double])],
                       Map[Int, Array[Double]])] = None): DataFrame = {
    val cents = indexOverride.map(_._1)
      .getOrElse(Ann.kmeansLayout(spark, sfDir, cells)._2)
    val cb = Pq.trainResidual(spark, sfDir, cells = cells)
    val codesDir = codesDirOverride.getOrElse(resCodesLayout(spark, sfDir, cells))
    // probe ranks the trained unit centers; the first-order ADC term uses
    // the encoding-side ANCHORS (cell means — see Pq.residualAnchors)
    val anchorOf = indexOverride.map(_._2)
      .getOrElse(Pq.residualAnchors(spark, sfDir, cells).toMap)
    // an empty trained cell has no anchor (and no codes) — probing it is
    // pointless and must not crash the first-order term lookup
    val probes = probeCells(
      cents.filter { case (c, _) => anchorOf.contains(c) }, qVec, nprobe)
    val table = Pq.adcTable(qVec, cb)
    val qDotC = probes.map { c =>
      val anchor = anchorOf(c)
      var d = 0.0; var i = 0
      while (i < qVec.length) { d += qVec(i) * anchor(i); i += 1 }
      c -> d
    }.toMap
    val codes0 = withoutTombstones(spark, codesDir,
      spark.read.parquet(codesDir).filter(col("cell").isin(probes: _*)))
    val codes1 = excludeId.map(id => codes0.filter(col("vec_id") =!= id))
      .getOrElse(codes0)
    val codes = filterIds.map(f =>
        codes1.join(f.select(col("vec_id")), Seq("vec_id"), "left_semi"))
      .getOrElse(codes1)
    val shortlist = codes
      .withColumn("adc", round(
        element_at(typedLit(qDotC), col("cell")) + Pq.adcScore(table, cb.m), 6))
      .orderBy(col("adc").desc, col("vec_id").asc).limit(shortlistN)
      .select(col("vec_id"))
    val norm = spark.read
      .parquet(rescoreDirOverride.getOrElse(s"$sfDir/embeddings.parquet"))
      .select(col("vec_id"),
        VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))
    norm.join(broadcast(shortlist), Seq("vec_id"), "left_semi")
      .withColumn("sim", round(VectorOps.cosine(col("nemb"), typedLit(qVec.toSeq)), 6))
      .orderBy(col("sim").desc, col("vec_id").asc).limit(k)
      .select(col("vec_id"), col("sim"))
  }
}

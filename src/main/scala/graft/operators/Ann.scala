package graft.operators

import org.apache.spark.ml.functions.array_to_vector
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions

/** Approximate nearest-neighbor search via IVF-style partition pruning.
  *
  * The exact brute-force scan (Knn.topK) is O(N·d) per query — the right
  * correctness oracle, impossible at 100 TB. The scale path: assign every
  * vector to a coarse cell; at query time probe only the nearest cell(s).
  * With the cell id as a Parquet partition column, Catalyst partition
  * pruning turns a corpus-wide scan into a single-cell scan — 1/cells of
  * the I/O; nprobe > 1 trades recall for I/O linearly.
  *
  * Cells here are the fixture's `label` column with a deterministic medoid
  * (min-vec_id member) as the cell representative — deterministic (no
  * trained kmeans state), so the whole path is DuckDB-oracle-checkable.
  * Swapping in trained centroids (MLlib KMeans fit offline, broadcast) does
  * not change the query plan shape.
  */
object Ann {

  private val layouts = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Collision-resistant tmp-dir token for a source path: MD5 of the full
    * path (hashCode collides at 2^16 scale and could silently share a
    * layout between two sf dirs in one JVM).
    */
  private[graft] def pathToken(path: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** THE Hadoop-FS existence check, shared by every index family's
    * sidecar probe (one definition — a viewfs/conf fix lands once).
    */
  private[graft] def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Materialize the sf dir's embeddings as a cell-partitioned parquet
    * table (the IVF physical layout), once per JVM per sf dir. At real
    * scale this is the one-time index build; queries then partition-prune.
    */
  def ivfLayout(spark: SparkSession, sfDir: String, cellCol: String = "label"): String =
    layouts.computeIfAbsent(sfDir, { _ =>
      val dir = s"${sys.props("java.io.tmpdir")}/graft-ivf-" + pathToken(sfDir)
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .write.mode("overwrite").partitionBy(cellCol).parquet(dir)
      dir
    })

  /** One representative (medoid = min-id member) per cell. Tiny result —
    * always broadcastable.
    */
  def cellMedoids(vecs: DataFrame, cellCol: String, idCol: String,
                  embCol: String): DataFrame = {
    val w = Window.partitionBy(col(cellCol)).orderBy(col(idCol))
    vecs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(cellCol).as("cell"), col(embCol).as("centroid"))
  }

  /** IVF search: probe the `nprobe` nearest cells (by cosine to their
    * medoids), then exact top-k within the probed cells only. `query` is a
    * 1-row DataFrame with column `q_emb`. nprobe is the recall↔I/O knob:
    * scanned fraction ≈ nprobe/cells, recall grows monotonically (at
    * nprobe = cells this IS the exact scan).
    */
  def ivfSearch(vecs: DataFrame, query: DataFrame, cellCol: String,
                idCol: String, embCol: String, k: Int,
                excludeId: Option[Long] = None, nprobe: Int = 1): DataFrame =
    ivfSearchCells(vecs, query, cellCol,
      cellMedoids(vecs, cellCol, idCol, embCol), idCol, embCol, k,
      excludeId, nprobe)

  /** IVF search against an explicit cell→representative table
    * (`cents(cell, centroid)`) — medoids for the deterministic label-cell
    * index, trained k-means centers for the learned one. Same plan either
    * way: broadcast probe → partition/semi-join prune → exact top-k.
    */
  def ivfSearchCells(vecs: DataFrame, query: DataFrame, cellCol: String,
                     cents: DataFrame, idCol: String, embCol: String, k: Int,
                     excludeId: Option[Long] = None, nprobe: Int = 1): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val probe = cents.crossJoin(broadcast(query))
      .withColumn("csim", round(GraftFunctions.cosineSim(col("centroid"), col("q_emb")), 6))
      .orderBy(col("csim").desc, col("cell").asc)
      .limit(nprobe)
      .select(col("cell").as("__probe_cell")) // distinct name: cellCol may itself be "cell"
    val pruned = vecs.join(broadcast(probe), col(cellCol) === col("__probe_cell"), "left_semi")
    val base = excludeId.map(id => pruned.filter(col(idCol) =!= id)).getOrElse(pruned)
    Knn.topK(base, query, idCol, embCol, k, Seq(idCol, cellCol))
  }

  /** Batch IVF search — the `knn_batch` face of probe-and-prune. Each
    * query probes its `nprobe` nearest cells (rank over the BROADCAST
    * centroid table — centroids are index metadata, KBs), then scoring is
    * an equi-join of the corpus against the (qid, cell) probe set on the
    * cell key, ranked per qid. At 100 TB the corpus side is the
    * cell-partitioned table, the join key is its partition column, and
    * only probed cells are read — per-query I/O stays nprobe/cells of the
    * corpus no matter how many queries batch together.
    *
    * `queries` has (qid, q_emb); output (qid, id, cell, sim, rnk).
    */
  def ivfSearchBatch(vecs: DataFrame, queries: DataFrame, cellCol: String,
                     cents: DataFrame, idCol: String, embCol: String, k: Int,
                     nprobe: Int = 1): DataFrame = {
    val scored = scoredCandidates(vecs, queries, cellCol, cents, idCol, embCol, nprobe)
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol).asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col(cellCol), col("sim"), col("rnk"))
  }

  /** Shared probe + scoring step of the batch searches: each query ranks
    * the broadcast centroid table for its `nprobe` cells, then the corpus
    * equi-joins the (qid, cell) probe set on the cell key and scores.
    */
  private def scoredCandidates(vecs: DataFrame, queries: DataFrame,
                               cellCol: String, cents: DataFrame, idCol: String,
                               embCol: String, nprobe: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("probe_cell").asc)
    val probes = queries.crossJoin(broadcast(
        cents.select(col("cell").as("probe_cell"), col("centroid"))))
      .withColumn("csim", round(GraftFunctions.cosineSim(col("centroid"), col("q_emb")), 6))
      .withColumn("crnk", row_number().over(pw))
      .filter(col("crnk") <= nprobe)
      .select(col("qid"), col("q_emb"), col("probe_cell"))
    vecs.join(broadcast(probes), col(cellCol) === col("probe_cell"))
      .withColumn("sim", round(GraftFunctions.cosineSim(col(embCol), col("q_emb")), 6))
  }

  /** Skew-hardened twin of [[ivfSearchBatch]]: same probe, same broadcast
    * scoring join, but the per-qid ranking runs through the explicit
    * partial/final TopKPerKey operator. Why batch search survives a
    * flash-crowd cell (a celebrity cluster holding half the corpus) at
    * all: the corpus side of the scoring join is BROADCAST-joined against
    * the probe set, so tasks read uniform input splits — never
    * one-task-per-cell — and the only skew-sensitive exchange is the
    * per-qid ranking shuffle. This operator bounds that exchange to
    * ≤ k·qids·partitions rows by construction (map-side heaps). The
    * window formulation in [[ivfSearchBatch]] is ALSO safe on current
    * Spark — `row_number ≤ k` over a window triggers the
    * WindowGroupLimit rewrite, a map-side per-key limit before the
    * exchange — but that protection is an optimizer pattern-match on the
    * rank-filter idiom; this operator is the explicit contract the
    * optimizer can't miss. AnnSkewSpec builds a 60%-hot cell and
    * metric-asserts the bound on BOTH plans, plus row-identical results
    * (the order is total: sim DESC, id ASC).
    */
  def ivfSearchBatchTopK(vecs: DataFrame, queries: DataFrame, cellCol: String,
                         cents: DataFrame, idCol: String, embCol: String, k: Int,
                         nprobe: Int = 1): DataFrame = {
    val scored = scoredCandidates(vecs, queries, cellCol, cents, idCol, embCol, nprobe)
      .select(col("qid"), col(idCol), col(cellCol), col("sim"))
    val top = TopK.perKey(scored, Seq("qid"), Seq(("sim", false), (idCol, true)), k)
    // ranking the survivors is a window over ≤ k rows per qid — harmless
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col(idCol).asc)
    top.withColumn("rnk", row_number().over(w))
      .select(col("qid"), col(idCol), col(cellCol), col("sim"), col("rnk"))
  }

  private val kmLayouts =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[(Int, Array[Double])])]()

  /** Deterministic on-disk location of the trained layout for (sfDir, k,
    * seed) — pure path arithmetic, no build. Verify substitutes these into
    * the trained-IVF oracle SQL so DuckDB can probe the SAME layout the
    * Spark queries searched (the centers are trained state; the oracle
    * treats the dumped layout as an input table).
    */
  def kmeansLayoutPath(sfDir: String, k: Int = 10, seed: Long = 42L): String =
    s"${sys.props("java.io.tmpdir")}/graft-ivfkm-" + pathToken(s"$sfDir/$k/$seed")

  /** Sibling dir holding the (cell, centroid) table for the same layout —
    * kept OUTSIDE the partitioned dir so `cell=*` globs stay clean.
    */
  def kmeansCentsPath(sfDir: String, k: Int = 10, seed: Long = 42L): String =
    kmeansLayoutPath(sfDir, k, seed) + "-cents"

  /** Offline-TRAINED IVF index build: fit MLlib KMeans (seeded, cosine
    * distance — matching the cosine probe) on the corpus embeddings, write
    * the corpus partitioned by nearest-centroid cell, and return the layout
    * path + the learned centers. This replaces the fixture-`label` cell
    * stand-in with what a real 100 TB deployment does: `fit` on a sample /
    * the corpus is the one-time index build, the centers (k·d doubles —
    * KBs) broadcast as index metadata, and assignment is the map-only
    * `transform`. The query plan is IDENTICAL to the label-cell path —
    * ivfSearchCells doesn't know the cells were learned (asserted in
    * ScaleLayoutSpec).
    */
  def kmeansLayout(spark: SparkSession, sfDir: String, k: Int = 10,
                   seed: Long = 42L): (String, Seq[(Int, Array[Double])]) =
    // memo key carries the hyperparameters too — a later call with a
    // different (k, seed) must train its own layout, not reuse the first
    kmLayouts.computeIfAbsent(s"$sfDir/$k/$seed", { _ =>
      val dir = kmeansLayoutPath(sfDir, k, seed)
      // ONE train-fit-write body for every trained layout (the SQL DDL's
      // layout_dir build shares it — round-13 review dedup)
      val centers = trainLayoutFor(spark,
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        "embedding", dir, "cell", k, seed)
      // dump the trained centers beside the layout: with BOTH halves of the
      // index on disk, search-over-a-given-layout is deterministic and the
      // DuckDB oracle can replay it (the training itself stays
      // engine-specific — the oracle never re-fits anything)
      centroidsDf(spark, centers).coalesce(1)
        .write.mode("overwrite").parquet(kmeansCentsPath(sfDir, k, seed))
      (dir, centers)
    })

  /** Per-cell angular-radius sidecar of the trained layout: (cell,
    * min_cos) — the minimum cosine between a member and its own
    * centroid, i.e. the cosine of the cell's widest member angle. The
    * ≤ k-row metadata a threshold (range) probe prunes by. Dumped once
    * beside the layout, memoized like every trained index half.
    */
  def kmRadiiPath(sfDir: String, k: Int = 10, seed: Long = 42L): String =
    kmeansLayoutPath(sfDir, k, seed) + "-radii"

  /** The trained-IVF layout BUILD generalized to any table (the SQL DDL's
    * `CREATE INDEX ... USING IVF ... OPTIONS (layout_dir ...)` face —
    * [[kmeansLayout]]'s inner body without the sfDir memo/paths): fit
    * seeded cosine k-means on `df`, write it cell-partitioned to
    * `layoutDir`, return the trained centers for registration. Same
    * 100 TB posture as kmeansLayout: the fit input is sample-scale
    * (one cached partition), assignment is map-only, the centers are
    * k·dim doubles of index metadata.
    */
  def trainLayoutFor(spark: SparkSession, df: DataFrame,
                     embCol: String, layoutDir: String, cellCol: String,
                     k: Int, seed: Long): Seq[(Int, Array[Double])] = {
    val prepared = df.withColumn("__v",
      array_to_vector(graft.functions.VectorOps.toDoubleArray(col(embCol))))
      .repartition(1).cache()
    // sample-scale fit → driver-local trainer (bit-identical to the
    // distributed fit, LocalKMeansSpec): the ~30 one-task Lloyd/init jobs
    // were pure scheduler overhead. Assignment below stays distributed.
    val model = LocalKMeansFit.fit(prepared, "__v", cellCol,
      k = k, seed = seed, maxIter = 20, distanceMeasure = "cosine")
    model.transform(prepared).drop("__v")
      .write.mode("overwrite").partitionBy(cellCol).parquet(layoutDir)
    prepared.unpersist()
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
  }

  private val radiiMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def kmRadiiLayout(spark: SparkSession, sfDir: String): String =
    radiiMemo.computeIfAbsent(sfDir, { _ =>
      val (dir, cents) = kmeansLayout(spark, sfDir)
      GraftFunctions.register(spark)
      val out = kmRadiiPath(sfDir)
      spark.read.parquet(dir)
        .join(broadcast(centroidsDf(spark, cents)), Seq("cell"))
        // UNROUNDED double cosine: the radius is bound metadata, not a
        // ranked value — rounding here would only loosen the bound
        .withColumn("__cs", GraftFunctions.cosineSim(col("embedding"), col("centroid")))
        .groupBy(col("cell")).agg(min(col("__cs")).as("min_cos"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      out
    })

  /** The radii sidecar as the (cell → min_cos) map the bound consumes —
    * ONE loader for the search faces, the rewrite registration, and the
    * specs (a sidecar schema change lands once).
    */
  def loadRadii(spark: SparkSession, sfDir: String): Map[Int, Double] =
    spark.read.parquet(kmRadiiLayout(spark, sfDir))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  /** Float-vs-double noise allowance on the cell-admission bound: slack
    * can only ADD probed cells (extra I/O), never drop a qualifying one
    * (lost answers) — the refilter keeps the result exact regardless.
    */
  val RangeBoundSlack = 1e-5

  /** INDEX-SERVED threshold (range) search — the IVF face of the
    * reference's documented-but-vapor `threshold` param
    * (`/root/reference/README.md:138`): return EVERY corpus vector with
    * round-6 cosine ≥ t, reading only the cells that can possibly hold
    * one. Superset-then-refilter, so the result provably EQUALS the
    * exact full-scan threshold search (the DuckDB oracle IS that exact
    * twin): on the unit sphere, any member x of cell c satisfies
    * θ(q,x) ≥ θ(q,c) − θmax(c), so cos(max(0, θ(q,c) − θmax(c))) is an
    * upper bound on any member's similarity — a cell failing
    * bound ≥ t − slack is safe to skip. Admission is driver arithmetic
    * over the broadcast centroid + radius metadata (2k doubles); the
    * scan carries a literal cell filter (partition pruning) and the
    * exact predicate re-applies on the scanned rows. The query vector
    * (vec_id 0, the search fixture) stays excluded as everywhere.
    */
  def ivfRangeSearch(spark: SparkSession, sfDir: String, qVec: Array[Double],
                     t: Double): DataFrame = {
    val (dir, cents) = kmeansLayout(spark, sfDir)
    GraftFunctions.register(spark)
    val radii = loadRadii(spark, sfDir)
    val admitted = admittedCells(cents, radii, qVec, t)
    import spark.implicits._
    val qdf = Seq(qVec.toSeq).toDF("q_emb")
    spark.read.parquet(dir)
      .filter(col("cell").isin(admitted.map(Integer.valueOf): _*) &&
        col("vec_id") =!= 0)
      .crossJoin(broadcast(qdf))
      .withColumn("sim",
        round(GraftFunctions.cosineSim(col("embedding"), col("q_emb")), 6))
      .filter(col("sim") >= t)
      .select(col("vec_id"), col("sim"))
  }

  /** BATCH threshold (range) search — [[ivfRangeSearch]] at N queries,
    * completing the single/batch matrix the top-k faces already have:
    * per-qid admission is the same driver arithmetic (|panel| × |cells|
    * bound evaluations over broadcast-sized metadata), the scan carries
    * ONE literal cell filter for the UNION of every qid's admissible
    * cells (partition pruning — per-query I/O stays bounded by its own
    * admitted cells regardless of batch size), and a broadcast
    * (qid, cell) admission table refines each corpus row to the qids
    * whose bound admitted its cell BEFORE the exact refilter — so no
    * qid ever scores a row outside its own admissible set, and the
    * result provably equals the per-qid exact threshold scan (the
    * DuckDB oracle). Self-matches (vec_id = qid, the panel convention)
    * are excluded like every batch search face.
    */
  def ivfRangeSearchBatch(spark: SparkSession, sfDir: String,
                          queries: DataFrame, t: Double): DataFrame = {
    val (dir, cents) = kmeansLayout(spark, sfDir)
    ivfRangeSearchBatchIn(spark, dir, "cell", "vec_id", "embedding",
      cents, loadRadii(spark, sfDir), queries, t, excludeSelf = true)
  }

  /** [[ivfRangeSearchBatch]] against an EXPLICIT (layout, metadata)
    * pair — the face the registry-resolved serving path
    * (Streaming.indexServeRangeBatch) calls with a registration's own
    * medoids/radii. `excludeSelf` keeps the search-fixture convention
    * (panel qids are corpus ids) on the sfDir face and is OFF for
    * serving (a request panel's qids are request ids).
    */
  def ivfRangeSearchBatchIn(spark: SparkSession, layoutPath: String,
                            cellCol: String, idCol: String, embCol: String,
                            cents: Seq[(Int, Array[Double])],
                            radii: Map[Int, Double],
                            queries: DataFrame, t: Double,
                            excludeSelf: Boolean): DataFrame = {
    GraftFunctions.register(spark)
    // the panel is API-sized (the documented acceptable-collect class);
    // collected ONCE — both the admission table and the scoring join side
    // rebuild from the same collected rows (round-11 advisor: evaluating
    // the queries plan twice let a non-deterministic panel desync the
    // (qid, cell) admissions from the joined rows, breaking per-qid
    // exactness); per-qid admission shares the ONE bound definition
    val qSel = queries.select(col("qid"), col("q_emb"))
    val qRows = qSel.collect()
    val panel = qRows.map { r =>
      (r.getLong(0), r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toArray)
    }
    val admitted: Seq[(Long, Int)] = panel.toSeq.flatMap { case (qid, qv) =>
      admittedCells(cents, radii, qv, t).map(qid -> _)
    }
    import spark.implicits._
    val admitDf = admitted.toDF("qid", cellCol)
    val allCells = admitted.map(_._2).distinct.sorted
    val qdf = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qSel.schema)
    val base = spark.read.parquet(layoutPath)
      .filter(col(cellCol).isin(allCells.map(Integer.valueOf): _*))
      .join(broadcast(admitDf), Seq(cellCol))
      .join(broadcast(qdf), Seq("qid"))
    (if (excludeSelf) base.filter(col(idCol) =!= col("qid")) else base)
      .withColumn("sim",
        round(GraftFunctions.cosineSim(col(embCol), col("q_emb")), 6))
      .filter(col("sim") >= t)
      .select(col("qid"), col(idCol).as("vec_id"), col("sim"))
  }

  /** THE cell-admission bound for threshold (range) search — the ONE
    * definition shared by [[ivfRangeSearch]] and the transparent IVF
    * range faces (IvfIndexRegistry.serve — a drift between the explicit
    * face and the rewrite would make one of two provably-exact paths
    * silently wrong): a cell c
    * can hold a member with sim ≥ t only if
    * cos(max(0, θ(q,c) − θmax(c))) ≥ t − slack, where θmax comes from the
    * per-cell radius sidecar (missing radius ⇒ θmax = π ⇒ always admit —
    * the safe default). Driver arithmetic over ≤ |cells| doubles.
    */
  def admittedCells(cents: Seq[(Int, Array[Double])], radii: Map[Int, Double],
                    qVec: Array[Double], t: Double): Seq[Int] = {
    def clamp(x: Double): Double = math.max(-1.0, math.min(1.0, x))
    def cosD(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    cents.filter { case (cell, c) =>
      val thetaQC = math.acos(clamp(cosD(qVec, c)))
      val thetaMax = math.acos(clamp(radii.getOrElse(cell, -1.0)))
      math.cos(math.max(0.0, thetaQC - thetaMax)) >= t - RangeBoundSlack
    }.map(_._1).sorted
  }

  /** The learned centers as a (cell, centroid) DataFrame (k rows —
    * broadcast-sized index metadata).
    */
  def centroidsDf(spark: SparkSession, cents: Seq[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.map { case (cell, c) => (cell, c.toSeq) }
      .toDF("cell", "centroid")
  }

  /** The n cosine-nearest cells per row — the ONE shard/probe assignment
    * formula (round-6 sim desc, cell asc tiebreak) shared by the IVF
    * assignment, the HNSW overlapping-shard build + append, and the
    * word-analogy probe-cell selection. One definition: a tiebreak or
    * rounding tweak cannot desync the build-side shards from the
    * probe-side cells or either from the DuckDB replays (the
    * parity-critical-formula rule). Returns the input columns + `cell`,
    * one row per (row, matched cell).
    */
  def nearestCells(vecs: DataFrame, cents: DataFrame, keyCol: String,
                   embCol: String, n: Int): DataFrame = {
    GraftFunctions.register(vecs.sparkSession)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__csim").desc, col("__cc").asc)
    vecs.crossJoin(broadcast(cents.select(col("cell").as("__cc"), col("centroid"))))
      .withColumn("__csim", round(GraftFunctions.cosineSim(col(embCol), col("centroid")), 6))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__csim", "__rn", "centroid")
      .withColumnRenamed("__cc", "cell")
  }

  /** Map-only cell assignment of vectors against an EXISTING trained
    * index (no retrain): broadcast the k centroid rows, rank per vector,
    * keep the cosine-nearest (ties broken by cell id, mirroring
    * Entry.bestCell). The shape of incremental index maintenance — new
    * data is assigned and appended; re-training is a separate offline
    * decision.
    */
  def assignCells(vecs: DataFrame, cents: DataFrame, idCol: String,
                  embCol: String): DataFrame =
    nearestCells(vecs, cents, idCol, embCol, n = 1)

  /** Drop the JVM layout memos so the bench harness can time a SECOND,
    * equally-cold build of each index (Stages.resetAll — round-5 verdict:
    * single-shot stage timings can't tell a hiccup from a regression).
    * On-disk dirs are rewritten in place: the paths are deterministic and
    * every build writes mode=overwrite.
    */
  private[graft] def resetMemos(): Unit = {
    layouts.clear(); kmLayouts.clear(); radiiMemo.clear()
  }

  /** Append NEW vectors to an existing cell-partitioned layout: assign
    * (map-only) + partitioned append — each new row lands in its cell
    * directory, searches keep pruning, nothing is rewritten. At 100 TB
    * this is the daily index-update job.
    */
  def appendToLayout(newVecs: DataFrame, cents: DataFrame, layoutPath: String,
                     idCol: String, embCol: String): Unit = {
    assignCells(newVecs, cents, idCol, embCol)
      .write.mode("append").partitionBy("cell").parquet(layoutPath)
    // a registered index over this layout is now a generation behind
    graft.plans.IvfIndexRegistry.invalidate(layoutPath)
  }

  /** Compact an append-maintained cell-partitioned layout back into
    * target-sized files. [[appendToLayout]] lands one file per writing
    * task per cell per batch — correct and cheap for the append, but a
    * daily streaming maintenance job accumulates a file per trigger per
    * cell and never removes any: at 100 TB that is the classic
    * small-files death (metadata-bound planning, seek-bound scans). This
    * is the periodic repair job an LSM-ish layout pairs with appends:
    *
    *  1. read the whole layout and shuffle BY THE CELL KEY (each cell's
    *     rows converge on one task — the deterministic-file-count choice;
    *     `maxRecordsPerFile` then rolls that task's output into exactly
    *     ⌈cellRows/target⌉ files per cell);
    *  2. write to a sibling tmp dir, so searches keep reading the old
    *     layout for the whole rewrite;
    *  3. swap it in through [[Publish.swap]] (live → `-compact-old`,
    *     tmp → live, rollback if the promote fails, drop the old tree).
    *
    * Searches observe either the pre- or post-compaction layout, never a
    * partial one — contents are row-identical (ScaleLayoutSpec asserts
    * hash-equality and unchanged search results).
    */
  def compactLayout(spark: SparkSession, layoutPath: String,
                    targetRowsPerFile: Long = 1L << 20,
                    // rewrite-time row transform (e.g. dropping tombstoned
                    // rows — Ivfpq.compactResLayout); identity by default
                    transform: DataFrame => DataFrame = identity,
                    cellCol: String = "cell"): Unit = {
    val tmp = layoutPath + "-compact-tmp"
    transform(spark.read.parquet(layoutPath))
      .repartition(col(cellCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .partitionBy(cellCol).parquet(tmp)
    Publish.swap(Publish.fsOf(spark, layoutPath), new Path(tmp),
      new Path(layoutPath), new Path(layoutPath + "-compact-old"))
    // a registered index over this layout is now a generation behind
    graft.plans.IvfIndexRegistry.invalidate(layoutPath)
  }

  /** Split ONE hot cell of a plain cell-partitioned layout into two —
    * the targeted POPULATION-skew repair for the coarse IVF layout, the
    * Ivfpq.splitCell posture without the PQ re-encode (codes layouts
    * keep their own split): deterministic seeded 2-means (cosine) over
    * just the hot cell's vectors, half 0 keeps the old cell id, half 1
    * becomes max(cell)+1, the layout rewritten through
    * [[compactLayout]]'s two-rename atomic swap (searches observe the
    * old or new layout, never partial). Returns the two sub-cells'
    * representatives under the min-id MEDOID discipline
    * ([[cellMedoids]]) for the caller's index-metadata update — at
    * 100 TB the job touches one cell directory, never the corpus.
    */
  def splitLayoutCell(spark: SparkSession, layoutPath: String, cellCol: String,
                      idCol: String, embCol: String, cell: Int,
                      seed: Long = 42L): Seq[(Int, Array[Double])] = {
    val df = spark.read.parquet(layoutPath)
    val newId = df.agg(max(col(cellCol)).cast("int")).head().getInt(0) + 1
    // sample-scale fit input, like every cell-local 2-means in the repo
    val prepared = df.filter(col(cellCol) === cell)
      .withColumn("__v", array_to_vector(
        graft.functions.VectorOps.toDoubleArray(col(embCol))))
      .repartition(1).cache()
    // driver-local 2-means on the sample-scale cell (bit-identical to the
    // distributed fit — LocalKMeansSpec's cosine k=2 case)
    val km = LocalKMeansFit.fit(prepared, "__v", "__half",
      k = 2, seed = seed, maxIter = 20, distanceMeasure = "cosine")
    val reassigned = km.transform(prepared)
      .withColumn(cellCol,
        when(col("__half") === 0, lit(cell)).otherwise(lit(newId)))
      .drop("__half", "__v")
    // medoids BEFORE the swap: reassigned's lineage re-reads the OLD
    // layout through the cache on a lost block, and after the swap that
    // recompute would see only half-0's rows — silently-wrong sub-cell
    // representatives (review finding)
    val subs = cellMedoids(reassigned, cellCol, idCol, embCol)
      .select(col("cell"),
        graft.functions.VectorOps.toDoubleArray(col("centroid")).as("centroid"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    // DEGENERATE split guard (round-12 advisor): on a pathological hot
    // cell (e.g. all-duplicate vectors) 2-means can place every row in
    // ONE half — the rewrite would change nothing (or merely rename the
    // cell) while the caller's decision logic keeps reading `split`,
    // turning every maintenance tick into a full-layout compaction
    // forever. Detect it BEFORE the swap (one sub-cell medoid instead of
    // two) and return without rewriting; the caller records the cell as
    // unsplittable so the tick converges.
    if (subs.size < 2) {
      prepared.unpersist()
      return Seq.empty
    }
    compactLayout(spark, layoutPath,
      transform = d => d.filter(col(cellCol) =!= cell).unionByName(reassigned),
      cellCol = cellCol)
    prepared.unpersist() // reassigned's lineage reads the cache until here
    subs
  }
}

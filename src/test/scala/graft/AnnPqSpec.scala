package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps
import graft.operators.{Ann, Ivfpq, Knn, Pq}

/** Quality gate for the product-quantization path (rows-only query —
  * trained codebooks are engine-specific, so correctness is asserted here
  * rather than against DuckDB).
  */
class AnnPqSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def normed = Tables.embeddings(spark, sf)
    .select(col("vec_id"),
      VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))

  test("codes are well-formed, deterministic, and the codebooks reconstruct better than chance") {
    val cb = Pq.train(spark, sf)
    assert(cb.m === 8 && cb.subDim === 8 && cb.books.forall(_.length === 16))
    val enc = Pq.encode(normed, "nemb", cb)
    val rows = enc.select(col("vec_id"), col("codes")).collect()
    rows.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length === 8 && codes.forall(c => c >= 0 && c < 16))
    }
    // deterministic: a second encode pass yields identical codes
    val again = Pq.encode(normed, "nemb", cb)
      .select(col("vec_id"), col("codes")).collect()
    assert(rows.map(r => (r.getLong(0), r.getSeq[Int](1))).toMap ===
      again.map(r => (r.getLong(0), r.getSeq[Int](1))).toMap)
    // reconstruction: mean cosine(original, decoded centroids) must beat
    // a random-codebook strawman by a wide margin (sanity floor 0.5)
    val bcCb = spark.sparkContext.broadcast(cb)
    val recon = udf { (codes: Seq[Int]) =>
      val c = bcCb.value
      val out = new Array[Double](c.m * c.subDim)
      var s = 0
      while (s < c.m) {
        System.arraycopy(c.books(s)(codes(s)), 0, out, s * c.subDim, c.subDim)
        s += 1
      }
      out
    }
    val meanCos = enc.withColumn("rec", recon(col("codes")))
      .select(avg(VectorOps.cosine(col("nemb"), col("rec"))).as("c"))
      .head().getDouble(0)
    info(f"mean reconstruction cosine: $meanCos%.3f")
    assert(meanCos > 0.5, s"codebooks reconstruct at cosine $meanCos")
  }

  test("probeCells rounds like the Spark probe it mirrors: a cosine of 0.1234565 ties 0.123457") {
    // q = e1, so each cell's cosine is its first coordinate; the second
    // makes |c| = 1 to the last bit, so cell 0's cosine is 0.1234565 exactly
    val q = Array(1.0, 0.0)
    def unit(x: Double): Array[Double] = Array(x, math.sqrt(1 - x * x))
    val cents = Seq(0 -> unit(0.1234565), 1 -> unit(0.123457))
    val c0 = cents.head._2
    assert(c0(0) / math.sqrt(c0(0) * c0(0) + c0(1) * c0(1)) == 0.1234565)
    // HALF_UP rounds both cells to 0.123457, and the tie goes to cell 0;
    // half-even rounding (math.rint of 123456.5) would put cell 1 first
    assert(Ivfpq.probeCells(cents, q, nprobe = 1) === Seq(0))
    graft.expressions.GraftFunctions.register(spark)
    import spark.implicits._
    val viaSpark = cents.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid")
      .crossJoin(Seq(q.toSeq).toDF("q_emb"))
      .select(col("cell"),
        round(graft.expressions.GraftFunctions.cosineSim(col("centroid"), col("q_emb")), 6).as("csim"))
      .orderBy(col("csim").desc, col("cell").asc)
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(viaSpark === Seq(0 -> 0.123457, 1 -> 0.123457))
  }

  test("ADC shortlist + exact rescore recovers most exact neighbors") {
    val cb = Pq.train(spark, sf)
    val recalls = (0L until 5L).map { qid =>
      val qn = normed.filter(col("vec_id") === qid).head().getSeq[Double](1).toArray
      val q = Tables.embeddings(spark, sf).filter(col("vec_id") === qid)
        .select(col("embedding").as("q_emb"))
      val exact = Knn.topK(
          Tables.embeddings(spark, sf).filter(col("vec_id") =!= qid), q,
          "vec_id", "embedding", k = 5, keep = Seq("vec_id"))
        .collect().map(_.getLong(0)).toSet
      val table = Pq.adcTable(qn, cb)
      val short = Pq.encode(normed.filter(col("vec_id") =!= qid), "nemb", cb)
        .withColumn("adc", round(Pq.adcScore(table, cb.m), 6))
        .orderBy(col("adc").desc, col("vec_id").asc).limit(20)
      val rerank = short.crossJoin(broadcast(q))
        .withColumn("sim", round(VectorOps.cosine(col("nemb"), col("q_emb")), 6))
        .orderBy(col("sim").desc, col("vec_id").asc).limit(5)
        .collect().map(_.getLong(0)).toSet
      exact.count(rerank).toDouble / 5.0
    }
    val mean = recalls.sum / recalls.size
    info(s"PQ ADC recall@5 over 5 queries: $recalls (mean $mean)")
    assert(mean >= 0.3, s"PQ recall collapsed: $mean")
  }

  /** recall@5 of a (vec_id) result set vs the exact scan for query 0. */
  private def recallVsExact(approx: Set[Long]): Double = {
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val exact = Knn.topK(
        Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0), q,
        "vec_id", "embedding", k = 5, keep = Seq("vec_id"))
      .collect().map(_.getLong(0)).toSet
    exact.count(approx).toDouble / 5.0
  }

  test("IVFPQ at nprobe=all cells matches PQ-alone recall at equal shortlist") {
    val cb = Pq.train(spark, sf)
    val qn = normed.filter(col("vec_id") === 0).head().getSeq[Double](1).toArray
    // PQ-alone: ADC over the WHOLE corpus, 20-deep shortlist, rescore@5
    val table = Pq.adcTable(qn, cb)
    val short = Pq.encode(normed.filter(col("vec_id") =!= 0), "nemb", cb)
      .withColumn("adc", round(Pq.adcScore(table, cb.m), 6))
      .orderBy(col("adc").desc, col("vec_id").asc).limit(20)
    val q = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    val pqAlone = short.crossJoin(broadcast(q))
      .withColumn("sim", round(VectorOps.cosine(col("nemb"), col("q_emb")), 6))
      .orderBy(col("sim").desc, col("vec_id").asc).limit(5)
      .collect().map(_.getLong(0)).toSet
    // IVFPQ scanning every cell sees the same codes → same shortlist →
    // same rescore; recall must not drop below the PQ-alone baseline
    val full = Ivfpq.search(spark, sf, qn, excludeId = Some(0L), k = 5,
      shortlistN = 20, nprobe = 10).collect().map(_.getLong(0)).toSet
    assert(full === pqAlone,
      s"IVFPQ@nprobe=all diverged from PQ-alone: $full vs $pqAlone")
    assert(recallVsExact(full) >= recallVsExact(pqAlone))
    info(s"recall@5 at nprobe=all: ${recallVsExact(full)}")
  }

  private def reconUdf(cb: Pq.Codebooks) = {
    val bc = spark.sparkContext.broadcast(cb)
    udf { (codes: Seq[Int]) =>
      val c = bc.value
      val out = new Array[Double](c.m * c.subDim)
      var s = 0
      while (s < c.m) {
        System.arraycopy(c.books(s)(codes(s)), 0, out, s * c.subDim, c.subDim)
        s += 1
      }
      out
    }
  }

  test("residual codes (IVFADC) reconstruct strictly better than raw-vector codes") {
    import graft.operators.Ann
    val cbRaw = Pq.train(spark, sf)
    val cbRes = Pq.trainResidual(spark, sf)
    val (kmDir, _) = Ann.kmeansLayout(spark, sf)
    val base = spark.read.parquet(kmDir)
      .select(col("vec_id"), col("cell"),
        VectorOps.l2Normalize(VectorOps.toDoubleArray(col("embedding"))).as("nemb"))
      .join(broadcast(Ann.centroidsDf(spark, Pq.residualAnchors(spark, sf))
        .withColumnRenamed("centroid", "anchor")), Seq("cell"))
      .withColumn("res", zip_with(col("nemb"), col("anchor"), (v, c) => v - c))
    def sqErr(vec: String, rec: org.apache.spark.sql.Column) =
      aggregate(zip_with(col(vec), rec, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
    // ‖v − v̂_raw‖² vs ‖v − (c + r̃)‖² = ‖res − r̃‖²: the same m×k code
    // budget, spent on residuals, must model the corpus strictly finer —
    // this is the Jégou 2011 §III claim, asserted on real data
    val rawMse = Pq.encode(base, "nemb", cbRaw)
      .select(avg(sqErr("nemb", reconUdf(cbRaw)(col("codes")))).as("e"))
      .head().getDouble(0)
    val resMse = Pq.encode(base, "res", cbRes)
      .select(avg(sqErr("res", reconUdf(cbRes)(col("codes")))).as("e"))
      .head().getDouble(0)
    info(f"mean squared reconstruction error: raw $rawMse%.5f residual $resMse%.5f")
    assert(resMse < rawMse,
      s"residual encoding did not improve reconstruction: $resMse vs $rawMse")
  }

  test("IVFADC recall@5 dominates non-residual IVFPQ at equal (m, k, shortlist, nprobe)") {
    val recalls = (0L until 5L).map { qid =>
      val qn = normed.filter(col("vec_id") === qid).head().getSeq[Double](1).toArray
      val q = Tables.embeddings(spark, sf).filter(col("vec_id") === qid)
        .select(col("embedding").as("q_emb"))
      val exact = Knn.topK(
          Tables.embeddings(spark, sf).filter(col("vec_id") =!= qid), q,
          "vec_id", "embedding", k = 5, keep = Seq("vec_id"))
        .collect().map(_.getLong(0)).toSet
      val raw = Ivfpq.search(spark, sf, qn, excludeId = Some(qid), k = 5,
        shortlistN = 20, nprobe = 3).collect().map(_.getLong(0)).toSet
      val res = Ivfpq.searchResidual(spark, sf, qn, excludeId = Some(qid), k = 5,
        shortlistN = 20, nprobe = 3).collect().map(_.getLong(0)).toSet
      (exact.count(raw).toDouble / 5.0, exact.count(res).toDouble / 5.0)
    }
    val meanRaw = recalls.map(_._1).sum / recalls.size
    val meanRes = recalls.map(_._2).sum / recalls.size
    info(s"recall@5 over 5 queries: raw=$meanRaw residual=$meanRes ($recalls)")
    assert(meanRes > meanRaw,
      s"residual ADC did not improve recall: $meanRes vs $meanRaw")
    // and the residual codes scan stays partition-pruned like the raw one
    val qn0 = normed.filter(col("vec_id") === 0).head().getSeq[Double](1).toArray
    val (_, cents) = graft.operators.Ann.kmeansLayout(spark, sf)
    val probes = Ivfpq.probeCells(cents, qn0, nprobe = 3)
    val pruned = spark.read.parquet(Ivfpq.resCodesLayout(spark, sf))
      .filter(col("cell").isin(probes: _*))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(spark.read.parquet(Ivfpq.resCodesLayout(spark, sf)).columns.toSet ===
      Set("vec_id", "codes", "cell"))
  }

  test("batch IVFADC equals the single-query search per qid, with the heap shortlist in the plan") {
    val qs = (0L until 3L).map { qid =>
      qid -> normed.filter(col("vec_id") === qid).head().getSeq[Double](1).toArray
    }
    val batch = Ivfpq.searchBatchResidual(spark, sf, qs, k = 5,
      shortlistN = 20, nprobe = 3)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    qs.foreach { case (qid, qn) =>
      val single = Ivfpq.searchResidual(spark, sf, qn, excludeId = Some(qid),
          k = 5, shortlistN = 20, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      single.zipWithIndex.foreach { case ((vid, sim), i) =>
        assert(got((qid, i + 1)) === ((vid, sim)),
          s"qid $qid rank ${i + 1}: batch ${got((qid, i + 1))} vs single ($vid, $sim)")
      }
    }
    // the shortlist runs through the partial/final TopKPerKey heap pair
    val execs = collect(batch.queryExecution.executedPlan) {
      case t: graft.plans.TopKPerKeyExec => t.partial
    }
    assert(execs.sorted === Seq(false, true),
      "batch shortlist did not use the partial/final TopKPerKeyExec pair")
    // excludeSelf = false: qids from a request-id space must not lose the
    // corpus vector sharing their number — vec 0 IS query 0's top-1 then
    val noEx = Ivfpq.searchBatchResidual(spark, sf, qs.take(1), k = 5,
        shortlistN = 20, nprobe = 3, excludeSelf = false)
      .filter(col("rnk") === 1).head()
    assert(noEx.getLong(1) === 0L && noEx.getDouble(2) >= 0.999999,
      s"excludeSelf=false still dropped the colliding corpus vector: $noEx")
  }

  test("residual codes maintenance: appends served without retraining, compaction repairs the files") {
    import graft.operators.Ann
    // caller-owned clones of BOTH halves of the index (codes + full
    // precision), so the memoized shared layouts stay pristine
    val base = java.nio.file.Files.createTempDirectory("graft_resmaint")
      .toFile.getAbsolutePath
    val codesDir = base + "/codes"
    val vecsDir = base + "/vecs"
    spark.read.parquet(Ivfpq.resCodesLayout(spark, sf))
      .write.partitionBy("cell").parquet(codesDir)
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).write.parquet(vecsDir)
    // live ingest: clones of vectors 0-5 under new ids, encoded with the
    // FROZEN anchors + books (no retrain) and appended into the cell dirs
    val arriving = Tables.embeddings(spark, sf).filter(col("vec_id") < 6)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    Ivfpq.appendToResLayout(spark, sf, arriving, codesDir)
    arriving.write.mode("append").parquet(vecsDir)
    def search = Ivfpq.searchResidual(spark, sf, qn0, excludeId = Some(0L),
        k = 5, shortlistN = 20, nprobe = 3,
        codesDirOverride = Some(codesDir), rescoreDirOverride = Some(vecsDir))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = search
    // the appended exact duplicate of the query vector is immediately
    // servable: top-1 with sim 1.0 (codes bit-identical to the original's,
    // rescore exact)
    assert(served.head._1 === 2000000L && served.head._2 >= 0.999999,
      s"appended duplicate not served: $served")
    def filesPerCell = new java.io.File(codesDir).listFiles()
      .filter(_.getName.startsWith("cell=")).map(d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = filesPerCell
    assert(before.values.max >= 2, s"append should add files per cell: $before")
    val rowsBefore = spark.read.parquet(codesDir).count()
    // the repair job: collapse the accumulated append files
    Ann.compactLayout(spark, codesDir, targetRowsPerFile = 4096)
    assert(filesPerCell.values.forall(_ === 1), s"compaction left $filesPerCell")
    assert(spark.read.parquet(codesDir).count() === rowsBefore)
    assert(search === served, "compaction changed residual search results")
  }

  private lazy val qn0: Array[Double] =
    normed.filter(col("vec_id") === 0).head().getSeq[Double](1).toArray

  test("IVFPQ pruned probe: static partition pruning, no float vectors before rescore") {
    val qn = normed.filter(col("vec_id") === 0).head().getSeq[Double](1).toArray
    val codesDir = Ivfpq.codesLayout(spark, sf)
    val (_, cents) = Ann.kmeansLayout(spark, sf)
    val probes = Ivfpq.probeCells(cents, qn, nprobe = 3)
    assert(probes.length === 3 && probes.distinct.length === 3)
    // the literal IN on the partition column must reach the codes scan as
    // a PartitionFilter (pruning happens at PLANNING, not execution)
    val pruned = spark.read.parquet(codesDir)
      .filter(col("cell").isin(probes: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filters in:\n$plan")
    pruned.count() // materialize metrics
    // ≤ nprobe of the 10 cell dirs read (allow a straggler split per dir);
    // .get — a plan with no measurable file scan must FAIL, not skip
    // (round-11: Option.foreach pins silently pass on AQE-opaque plans)
    val numFiles = PlanTestUtil.scannedFiles(pruned).get
    assert(numFiles <= 6,
      s"read $numFiles files for a 3-cell probe — pruning failed")
    // the codes table carries NO float vectors: everything before the
    // rescore is (vec_id, codes, cell) — ADC is pure table lookups
    assert(spark.read.parquet(codesDir).columns.toSet === Set("vec_id", "codes", "cell"))
    // and the end-to-end pruned search still returns k ranked rows with
    // decent recall (3/10 cells is a lossy probe; floor, not equality)
    val res = Ivfpq.search(spark, sf, qn, excludeId = Some(0L), k = 5,
      shortlistN = 20, nprobe = 3)
    val ids = res.collect().map(_.getLong(0))
    assert(ids.length === 5 && ids.distinct.length === 5)
    info(s"recall@5 at nprobe=3: ${recallVsExact(ids.toSet)}")
    assert(recallVsExact(ids.toSet) >= 0.2, "pruned-probe recall collapsed")
  }

  test("cell split rebalancing: hot cell shrinks, contents preserved, serving exact at full probe") {
    val codesDir = java.nio.file.Files.createTempDirectory("graft_ressplit")
      .toFile.getAbsolutePath + "/codes"
    spark.read.parquet(Ivfpq.resCodesLayout(spark, sf))
      .write.partitionBy("cell").parquet(codesDir)
    def pops = spark.read.parquet(codesDir).groupBy(col("cell")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def ids = spark.read.parquet(codesDir)
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    val (popBefore, idsBefore) = (pops, ids)
    val hot = popBefore.maxBy { case (c, n) => (n, -c) }._1
    val newId = popBefore.keySet.max + 1
    val (cents2, anchors2) = Ivfpq.splitCell(spark, sf, codesDir,
      s"$sf/embeddings.parquet", hot)
    val popAfter = pops
    // one more cell; every vector still present exactly once; only the
    // hot cell was touched and its population strictly shrank
    assert(popAfter.keySet === popBefore.keySet + newId)
    assert(ids === idsBefore, "split lost or duplicated vectors")
    assert(popAfter(hot) + popAfter(newId) === popBefore(hot))
    assert(math.max(popAfter(hot), popAfter(newId)) < popBefore(hot),
      s"2-means degenerated: $popAfter vs hot=${popBefore(hot)}")
    (popBefore - hot).foreach { case (c, n) => assert(popAfter(c) === n) }
    // the returned metadata describes the new geometry
    assert(cents2.map(_._1).toSet === popAfter.keySet)
    assert(anchors2.keySet === popAfter.keySet)
    // serving is EXACT at full probe budget (every cell probed, shortlist
    // covers the corpus, rescore exact) — the split cannot lose anything
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val exact = Knn.topK(emb.filter(col("vec_id") =!= 0), q, "vec_id",
      "embedding", k = 5, keep = Seq("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val served = Ivfpq.searchResidual(spark, sf, qn0, excludeId = Some(0L),
        k = 5, shortlistN = 1000, nprobe = cents2.length,
        codesDirOverride = Some(codesDir),
        indexOverride = Some((cents2, anchors2)))
      .collect().map(_.getLong(0)).toSeq
    assert(served === exact, s"full-probe post-split $served != exact $exact")
    // and the pruned probe still statically prunes the split layout
    val probes = Ivfpq.probeCells(cents2, qn0, nprobe = 3)
    val pruned = spark.read.parquet(codesDir)
      .filter(col("cell").isin(probes: _*))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // a SECOND split resumes from the layout's own dumped geometry, not
    // the pristine trained metadata: the new cell id does not collide
    // with the first split's, and the returned metadata carries BOTH
    // splits' sub-cells
    val hot2 = pops.maxBy { case (c, n) => (n, -c) }._1
    val (cents3, anchors3) = Ivfpq.splitCell(spark, sf, codesDir,
      s"$sf/embeddings.parquet", hot2)
    val popAfter2 = pops
    assert(popAfter2.keySet === popAfter.keySet + (newId + 1),
      s"second split must mint a fresh cell id: ${popAfter2.keySet}")
    assert(ids === idsBefore, "second split lost or duplicated vectors")
    assert(cents3.map(_._1).toSet === popAfter2.keySet &&
      anchors3.keySet === popAfter2.keySet,
      "second split's metadata forgot a sub-cell")
    val served2 = Ivfpq.searchResidual(spark, sf, qn0, excludeId = Some(0L),
        k = 5, shortlistN = 1000, nprobe = cents3.length,
        codesDirOverride = Some(codesDir),
        indexOverride = Some((cents3, anchors3)))
      .collect().map(_.getLong(0)).toSeq
    assert(served2 === exact, s"full-probe after 2 splits $served2 != exact $exact")
  }

  test("splitCell refuses a desynced rescore table instead of silently dropping vectors") {
    val base = java.nio.file.Files.createTempDirectory("graft_ressplitsync")
      .toFile.getAbsolutePath
    val codesDir = base + "/codes"
    val vecsDir = base + "/vecs"
    spark.read.parquet(Ivfpq.resCodesLayout(spark, sf))
      .write.partitionBy("cell").parquet(codesDir)
    val hot = spark.read.parquet(codesDir).groupBy(col("cell")).count()
      .orderBy(col("count").desc, col("cell").asc).head().getInt(0)
    // a rescore clone MISSING one of the hot cell's vectors
    val missing = spark.read.parquet(codesDir)
      .filter(col("cell") === hot).select(col("vec_id"))
      .head().getLong(0)
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") =!= missing)
      .select(col("vec_id"), col("embedding")).write.parquet(vecsDir)
    val e = intercept[IllegalArgumentException] {
      Ivfpq.splitCell(spark, sf, codesDir, vecsDir, hot)
    }
    assert(e.getMessage.contains("out of sync"), e.getMessage)
    // and the refused split left the layout untouched
    assert(spark.read.parquet(codesDir).filter(col("cell") === hot).count() > 0)
  }

  test("tombstone deletes: logical delete serves immediately, compaction applies it physically") {
    // caller-owned clone so the memoized shared layout stays pristine
    val codesDir = java.nio.file.Files.createTempDirectory("graft_restomb")
      .toFile.getAbsolutePath + "/codes"
    spark.read.parquet(Ivfpq.resCodesLayout(spark, sf))
      .write.partitionBy("cell").parquet(codesDir)
    def search = Ivfpq.searchResidual(spark, sf, qn0, excludeId = None,
        k = 5, shortlistN = 20, nprobe = 3, codesDirOverride = Some(codesDir))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = search
    assert(before.head._1 === 0L && before.head._2 >= 0.999999,
      s"query's own vector should rank first pre-delete: $before")
    // logical delete: NO cell file is rewritten, the very next search
    // excludes the id through the sidecar anti-join
    Ivfpq.deleteFromResLayout(spark, Seq(0L), codesDir)
    val after1 = search
    assert(!after1.exists(_._1 === 0L), s"tombstoned id still served: $after1")
    // tombstoned id ≡ excludeId on the pristine layout: both restrict the
    // identical pruned scan, so results must match exactly
    val twin = Ivfpq.searchResidual(spark, sf, qn0, excludeId = Some(0L),
        k = 5, shortlistN = 20, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after1 === twin, "tombstone and excludeId diverged")
    // delete batches accumulate (append-mode sidecar)
    val second = after1.head._1
    Ivfpq.deleteFromResLayout(spark, Seq(second), codesDir)
    val after2 = search
    assert(!after2.exists(r => r._1 === 0L || r._1 === second))
    // the batch serving face honors the same sidecar (its self-match
    // exclusion vec_id =!= qid stands in for excludeId = Some(0))
    val batchT = Ivfpq.searchBatchResidual(spark, sf, Seq(0L -> qn0), k = 5,
        shortlistN = 20, nprobe = 3, codesDirOverride = Some(codesDir))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(batchT === after2, s"batch face ignored tombstones: $batchT vs $after2")
    // compaction drops the tombstoned rows physically and clears the
    // sidecar; served results are unchanged
    val live = spark.read.parquet(codesDir).count()
    Ivfpq.compactResLayout(spark, codesDir, targetRowsPerFile = 4096)
    assert(!new java.io.File(Ivfpq.tombstonesPath(codesDir)).exists(),
      "compaction left the tombstone sidecar")
    assert(spark.read.parquet(codesDir).count() === live - 2,
      "compaction did not drop exactly the tombstoned rows")
    assert(search === after2, "physical apply changed served results")
    // the delete verb keeps working through compaction cycles: a fresh
    // delete lands in a fresh sidecar, serves immediately, and the next
    // compaction applies it too (the file-level sweep deletes only what
    // it applied — see compactResLayout's snapshot discipline)
    val third = after2.head._1
    Ivfpq.deleteFromResLayout(spark, Seq(third), codesDir)
    val after3 = search
    assert(!after3.exists(_._1 === third), s"post-compaction delete ignored: $after3")
    Ivfpq.compactResLayout(spark, codesDir, targetRowsPerFile = 4096)
    assert(spark.read.parquet(codesDir).count() === live - 3)
    assert(search === after3, "second physical apply changed served results")
  }

  test("filtered IVFADC: pre-filter fills k from the predicate set where post-filter starves") {
    // a selective predicate: the least-common label (~10% of the corpus)
    val lbl = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
      .groupBy(col("label")).count()
      .orderBy(col("count").asc, col("label").asc).head().getInt(0)
    val allowed = Tables.embeddings(spark, sf)
      .filter(col("label") === lbl).select(col("vec_id"))
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    val filtered = Ivfpq.searchResidual(spark, sf, qn0, excludeId = Some(0L),
        k = 5, shortlistN = 20, nprobe = 3, filterIds = Some(allowed))
      .collect().map(_.getLong(0)).toSeq
    // pre-filter semantics: all k slots filled, every one from the set
    assert(filtered.length === 5 && filtered.forall(allowedSet),
      s"pre-filtered search broke the predicate: $filtered")
    // the classic post-filter failure: filtering the UNFILTERED top-k
    // afterwards starves on a ~10% predicate
    val post = Ivfpq.searchResidual(spark, sf, qn0, excludeId = Some(0L),
        k = 5, shortlistN = 20, nprobe = 3)
      .collect().map(_.getLong(0)).filter(allowedSet)
    assert(post.length < 5,
      s"post-filtering should starve below k on a selective predicate: $post")
    // exactness at full probe budget: with every cell probed and a
    // shortlist covering the whole predicate set, the filtered ADC path
    // must equal the exact filtered ranking (rescore is exact)
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val exact = Knn.topK(emb.filter(col("vec_id") =!= 0)
        .join(allowed, Seq("vec_id"), "left_semi"),
      q, "vec_id", "embedding", k = 5, keep = Seq("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val full = Ivfpq.searchResidual(spark, sf, qn0, excludeId = Some(0L),
        k = 5, shortlistN = allowedSet.size, nprobe = 10,
        filterIds = Some(allowed))
      .collect().map(_.getLong(0)).toSeq
    assert(full === exact, s"full-probe filtered search $full != exact $exact")
    // the batch face applies the identical pre-filter (self-match
    // exclusion vec_id =!= qid ≡ excludeId = Some(0))
    val single = Ivfpq.searchResidual(spark, sf, qn0, excludeId = Some(0L),
        k = 5, shortlistN = 20, nprobe = 3, filterIds = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batchF = Ivfpq.searchBatchResidual(spark, sf, Seq(0L -> qn0), k = 5,
        shortlistN = 20, nprobe = 3, filterIds = Some(allowed))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(batchF === single, s"batch pre-filter diverged: $batchF vs $single")
  }
}

package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextOps

/** Distributed logistic-regression quality classifier — the TRAINED
  * filter step every web-corpus pipeline runs after the heuristic scores
  * (quality_scores): fit a model that predicts a quality label from cheap
  * text statistics, then gate the corpus on the predicted probability.
  * The demo task distills the Gopher-style repetition gate (Rae et al.
  * 2021 §A1.1 — y = "type-token ratio ≥ 0.7", the non-repetitive-doc
  * label the repetition_filter query computes the expensive way) into a
  * model over surface statistics that never materialize per-token counts
  * — the standard weak-supervision pattern (train a cheap classifier on
  * heuristic labels, serve the classifier). The label is correlated with
  * but NOT a linear function of the features (TTR needs the distinct-
  * token count, which no feature carries), so the fit is a real
  * estimation problem, not a separability artifact. The machinery is
  * label-agnostic: swap the label column and the same fit produces a
  * toxicity / boilerplate / language gate.
  *
  * Training is IRLS (iteratively reweighted least squares — Newton's
  * method on the log-likelihood; McCullagh & Nelder 1989 §4.4, public
  * knowledge), the [[graft.queries.RelationalQueries]] `ols_slope` moment-
  * digest pattern iterated with broadcast weights:
  *
  *   - the corpus reduces ONCE to (features, label) rows — 7 doubles per
  *     doc, localCheckpointed so T iterations re-read 7·N doubles, never
  *     re-tokenize the text (persist(DISK_ONLY) / a staged table at real
  *     scale);
  *   - each iteration ships the current weight vector INTO the plan as a
  *     literal (broadcast-by-value, the KMeans-centers posture) and folds
  *     the corpus to one Newton digest: gradient g = Σ xᵢ(yᵢ−pᵢ) (d
  *     doubles), Hessian H = Σ pᵢ(1−pᵢ)xᵢxᵢᵀ (d(d+1)/2 doubles via the
  *     j≥i double-posexplode, exactly [[Pca]]'s second-moment digest),
  *     and the deviance −2Σ[y ln p + (1−y) ln(1−p)] — all three families
  *     unioned into ONE map-side-combined aggregation per iteration
  *     (T+1 corpus passes total), digest-only shuffle;
  *   - the DRIVER solves the d×d ridge-damped system (H+λI)δ = g
  *     (Gaussian elimination over 6×6 — model metadata, the same posture
  *     as [[Pca]]'s Jacobi eigensolver) and steps w ← w + δ.
  *
  * Nothing corpus-sized ever moves: per iteration the shuffle is
  * d(d+3)/2+2 doubles per map partition. Scoring is map-only (one fused
  * sigmoid expression over the feature columns).
  *
  * Both the fitted weights and the per-iteration deviance trace dump to
  * parquet, so the DuckDB oracle replays SCORING over the same trained
  * state (the dumped-model replay pattern of [[Pca]]/[[Ann]]/[[Unigram]])
  * — the fit itself is never re-run by the oracle.
  *
  * Reference scope: the reference has no trained models at all (its one
  * "model" is the ONNX embedder, E5MultilingualEmbeddings.cs); this is a
  * north-star LLM-pipeline operator from the round-7 verdict.
  */
object LogReg {

  /** Feature names, in model order; index 0 is the intercept. */
  val FeatNames: Seq[String] =
    Seq("bias", "tok_100", "mean_tok_len", "digit_ratio", "alpha_ratio",
      "stopword_ratio")

  val Dim: Int = FeatNames.length
  val Iters = 8
  val Ridge = 1e-6

  /** Feature expressions over a `text` column, same order as [[FeatNames]].
    * Every one is a pure string expression with an exact DuckDB twin
    * (the quality_scores contract).
    */
  def features(text: Column): Seq[Column] = Seq(
    lit(1.0),
    TextOps.tokenCount(text).cast("double") / 100.0,
    TextOps.meanTokenLen(text),
    TextOps.digitRatio(text),
    TextOps.alphaRatio(text),
    TextOps.stopwordRatio(text))

  /** Linear predictor in FIXED left-to-right order (w0·x0 + w1·x1 + …) —
    * the oracle sums in the same order, so the only cross-engine
    * divergence left is the exp() ULP, absorbed by round-6.
    */
  def linear(text: Column, w: Seq[Double]): Column =
    features(text).zip(w).map { case (x, wi) => x * lit(wi) }
      .reduceLeft(_ + _)

  /** [[features]] off a fused [[TextOps.textStats]] struct — the same six
    * expressions with every text walk replaced by a struct-field read
    * (bit-identical; TextStatsSpec). Hot scoring paths compute the struct
    * once per row and derive everything from it.
    */
  def featuresFromStats(st: Column): Seq[Column] = Seq(
    lit(1.0),
    TextOps.tokenCountS(st).cast("double") / 100.0,
    TextOps.meanTokenLenS(st),
    TextOps.digitRatioS(st),
    TextOps.alphaRatioS(st),
    TextOps.stopwordRatioS(st))

  /** [[linear]] off a stats struct — same fixed-order sum. */
  def linearFromStats(st: Column, w: Seq[Double]): Column =
    featuresFromStats(st).zip(w).map { case (x, wi) => x * lit(wi) }
      .reduceLeft(_ + _)

  /** [[label]] off a stats struct — same 0-guard and TTR threshold. */
  def labelFromStats(st: Column): Column =
    when(st.getField("n_tokens") === 0, lit(0.0))
      .otherwise(when(st.getField("n_distinct").cast("double") /
        st.getField("n_tokens").cast("double") >= 0.7, 1.0).otherwise(0.0))

  def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Quality label: type-token ratio ≥ 0.7 (non-repetitive doc). Exact
    * integer-ratio arithmetic — the oracle computes the identical double.
    */
  def label(text: Column): Column = {
    val t = TextOps.tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(when(size(array_distinct(t)).cast("double") /
        size(t).cast("double") >= 0.7, 1.0).otherwise(0.0))
  }

  /** (doc_id, y, x[Dim]) — the one corpus pass; everything after reads
    * this digest-sized frame.
    */
  private def featureFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextOps.textStats(col("text")).as("__st"))
      .select(
        col("doc_id"),
        labelFromStats(col("__st")).as("y"),
        array(featuresFromStats(col("__st")): _*).as("x"))

  /** One Newton digest at weights `w`: (gradient, Hessian upper triangle,
    * deviance) — computed in ONE job: the three moment families ride a
    * union of exploded branches keyed by sentinel (i, j) pairs
    * (gradient at (i, −1), Hessian at (i, j≥i), deviance at (−2, −2))
    * into a single map-side-combined aggregation. At 100 TB this is the
    * difference between T+1 and 3(T+1) corpus passes; the shuffle is
    * d(d+3)/2 + 2 doubles per partition either way.
    */
  private def newtonDigest(rows: org.apache.spark.rdd.RDD[Array[Double]],
      w: Array[Double]): (Array[Double], Array[Array[Double]], Double) = {
    val d = w.length
    // Round-14 optimization: ONE single-stage DigestPass.fold per Newton
    // step (gradient d + Hessian upper triangle d(d+1)/2 + deviance, all
    // driver-sized) replaces the posexplode→union→groupBy→collect chain,
    // which paid an explode of d(d+3)/2 rows per input row plus an
    // exchange + AQE re-plan per iteration; rows fold as CACHED primitive
    // arrays [y, x0..x_{d−1}] (DigestPass.cachedDoubles) so iterations
    // skip the per-pass Row deserialization too. Per-row arithmetic is
    // the identical formula sequence (z left-fold, clamped sigmoid,
    // xi·r, (s·xi)·xj, −2·(y·ln p + (1−y)·ln(1−p))); partials merge in
    // partition-index order.
    val width = d + d * (d + 1) / 2 + 1
    val digest = DigestPass.fold(rows, width) { (acc, row) =>
      val y = row(0)
      var z = 0.0
      var j = 0
      while (j < d) { z += row(1 + j) * w(j); j += 1 }
      // clamp keeps ln() finite when a step saturates the sigmoid
      val p0 = 1.0 / (1.0 + math.exp(-z))
      val p = math.min(1.0 - 1e-12, math.max(1e-12, p0))
      val r = y - p
      val s = p * (1.0 - p)
      var i = 0
      var k = d
      while (i < d) {
        acc(i) += row(1 + i) * r
        val sxi = s * row(1 + i)
        j = i
        while (j < d) { acc(k) += sxi * row(1 + j); j += 1; k += 1 }
        i += 1
      }
      acc(width - 1) +=
        -2.0 * (y * math.log(p) + (1.0 - y) * math.log(1.0 - p))
    }
    val g = java.util.Arrays.copyOfRange(digest, 0, d)
    val h = Array.ofDim[Double](d, d)
    var k = d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) { h(i)(j) = digest(k); h(j)(i) = digest(k); j += 1; k += 1 }
      i += 1
    }
    (g, h, digest(width - 1))
  }

  /** Solve (a + ridge·I) x = b by Gaussian elimination with partial
    * pivoting — d×d driver-side metadata (the Pca.jacobiEig posture).
    */
  private[graft] def solve(a0: Array[Array[Double]], b0: Array[Double],
                           ridge: Double): Array[Double] = {
    val n = b0.length
    val a = Array.tabulate(n, n)((i, j) => a0(i)(j) + (if (i == j) ridge else 0.0))
    val b = b0.clone()
    var col = 0
    while (col < n) {
      var piv = col
      var r = col + 1
      while (r < n) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      val t = a(col); a(col) = a(piv); a(piv) = t
      val tb = b(col); b(col) = b(piv); b(piv) = tb
      require(math.abs(a(col)(col)) > 1e-300, "logreg: singular Hessian")
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        var c = col
        while (c < n) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](n)
    var i = n - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < n) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /** Full IRLS fit: returns (weights, per-iteration deviance trace).
    * Iteration 0's deviance is the null start (w = 0 — every p = 0.5);
    * each subsequent entry is the deviance AT the stepped weights.
    * Fixed iteration count keeps the dump replayable (a convergence
    * test's trace length would vary with summation noise).
    */
  def fit(spark: SparkSession, sfDir: String)
      : (Array[Double], Seq[(Int, Double)]) =
    fitFrame(featureFrame(spark, sfDir))

  /** The IRLS loop over an already-materialized feature frame — the
    * shared core of the full-corpus fit, the per-fold CV fits, and the
    * one-vs-rest [[LangId]] fits (`dim` generalizes past this object's
    * own feature set).
    */
  private[graft] def fitFrame(feats: DataFrame, dim: Int = Dim)
      : (Array[Double], Seq[(Int, Double)]) = {
    // one cached primitive RDD for the whole loop — each iteration is a
    // single-stage digest job over it (see newtonDigest); the feature
    // computation runs exactly once
    val rows = DigestPass.cachedDoubles(feats.select(col("y"), col("x")))
    var w = new Array[Double](dim)
    val trace = Seq.newBuilder[(Int, Double)]
    for (it <- 0 until Iters) {
      // one digest per iteration: dev is AT the incoming w, so trace(it)
      // covers w_it and the post-step deviance lands as trace(it+1)
      val (g, h, dev) = newtonDigest(rows, w)
      trace += ((it, dev))
      val step = solve(h, g, Ridge)
      w = w.zip(step).map { case (wi, s) => wi + s }
    }
    trace += ((Iters, newtonDigest(rows, w)._3))
    rows.unpersist()
    (w, trace.result())
  }

  // ------------------------------------------------ dumped-model lifecycle

  def weightsPath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-logreg-w-" + Ann.pathToken(sfDir)

  def tracePath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-logreg-t-" + Ann.pathToken(sfDir)

  private val memo = new ConcurrentHashMap[String, Array[Double]]()

  /** Fit-and-dump once per JVM per sf dir; returns the weights (driver-
    * sized — they ship into scoring plans as literals).
    */
  def model(spark: SparkSession, sfDir: String): Array[Double] =
    memo.computeIfAbsent(sfDir, { _ =>
      val (w, trace) = fit(spark, sfDir)
      import spark.implicits._
      w.toSeq.zipWithIndex
        .map { case (wi, j) => (j, FeatNames(j), wi) }
        .toDF("j", "feat", "w").coalesce(1)
        .write.mode("overwrite").parquet(weightsPath(sfDir))
      trace.toDF("iter", "deviance").coalesce(1)
        .write.mode("overwrite").parquet(tracePath(sfDir))
      w
    })

  // ------------------------------------------------ k-fold cross-validation

  /** Number of hash folds for [[cvModel]]. */
  val CvFolds = 3

  def cvPath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-logreg-cv-" + Ann.pathToken(sfDir)

  private val cvMemo = new ConcurrentHashMap[String, String]()

  /** K-fold cross-validation of the quality classifier — the model-
    * selection step the single held-in fit can't answer ("does this
    * feature set generalize, or did it memorize the corpus slice?"):
    * [[CvFolds]] hash-pure folds on doc_id, each fold's model trained by
    * the SAME IRLS core on the other folds and dumped as (fold, j, w)
    * rows. Scoring each held-out fold is then map-only with that fold's
    * weights as literals (the logreg_eval posture). Cost: CvFolds fits
    * over filters of ONE checkpointed feature frame — the corpus
    * featurizes once, and each Newton digest is map-side-combined.
    */
  def cvModel(spark: SparkSession, sfDir: String): String =
    cvMemo.computeIfAbsent(sfDir, { _ =>
      val all = featureFrame(spark, sfDir).localCheckpoint()
      // the folds' fits are independent reads of the one checkpointed
      // frame — overlap their digest jobs on concurrent threads (the
      // LangId.model posture: each fold's fit is unchanged, weights
      // bit-identical to the sequential build)
      val rows = Publish.fanOut("logreg-cv", (0 until CvFolds).map { k => () =>
        val (w, _) = fitFrame(all.filter(col("doc_id") % CvFolds =!= k))
        w.toSeq.zipWithIndex.map { case (wi, j) => (k, j, wi) }
      }).flatten
      all.unpersist()
      import spark.implicits._
      rows.toDF("fold", "j", "w").coalesce(1)
        .write.mode("overwrite").parquet(cvPath(sfDir))
      cvPath(sfDir)
    })

  // ------------------------------------------------ isotonic calibration

  /** Number of equal-width probability bins the calibration map covers. */
  val CalBins = 20

  /** The calibration bin of a probability — ONE definition shared by the
    * map build and the serving query, so the broadcast join can never
    * desync from the dumped map (the DuckDB twin necessarily restates it
    * as SQL).
    */
  def binOf(p: Column): Column =
    least(floor(p * CalBins), lit(CalBins - 1)).cast("long")

  /** Pool-adjacent-violators (Ayer et al. 1955 — the isotonic-regression
    * workhorse): given per-bin (weight, rate) in score order, merge
    * adjacent bins whose rates DECREASE until the sequence is monotone;
    * each merged block takes its weighted-mean rate. Classic stack
    * formulation; runs on the DRIVER over the bin digest (≤[[CalBins]]
    * rows — model metadata, the jacobiEig/solve posture).
    */
  private[graft] def pav(wr: Seq[(Double, Double)]): Seq[Double] = {
    // stack of (weight, rate, span)
    val st = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int)]
    wr.foreach { case (w0, r0) =>
      var (w, r, span) = (w0, r0, 1)
      while (st.nonEmpty && st.last._2 > r) {
        val (pw, pr, ps) = st.remove(st.length - 1)
        r = (pw * pr + w * r) / (pw + w)
        w += pw
        span += ps
      }
      st += ((w, r, span))
    }
    st.flatMap { case (_, r, span) => Seq.fill(span)(r) }.toSeq
  }

  def calibPath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-logreg-c-" + Ann.pathToken(sfDir)

  private val calMemo = new ConcurrentHashMap[String, String]()

  /** Fit-and-dump the isotonic calibration map for the trained model —
    * the step between "a score that RANKS well" and "a score that IS a
    * probability" (a sigmoid over weak features is usually over-confident
    * at the ends; downstream corpus-mixing weights need calibrated mass).
    * One pass bins every scored doc into [[CalBins]] equal-width buckets
    * (digest-sized agg), PAV pools the per-bin empirical rates on the
    * driver, the map dumps as (bin, n, raw_rate, cal_rate). Calibrated
    * serving is then a broadcast join against ≤[[CalBins]] rows.
    */
  def calibration(spark: SparkSession, sfDir: String): String =
    calMemo.computeIfAbsent(sfDir, { _ =>
      val w = model(spark, sfDir).toSeq
      val binned = Tables.documents(spark, sfDir)
        .select(TextOps.textStats(col("text")).as("__st"))
        .select(labelFromStats(col("__st")).as("y"),
          sigmoid(linearFromStats(col("__st"), w)).as("p"))
        .withColumn("bin", binOf(col("p")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
        .orderBy(col("bin"))
        .collect() // ≤ CalBins rows — model metadata
      val rates = binned.map(r => (r.getLong(1).toDouble,
        r.getDouble(2) / r.getLong(1)))
      val cal = pav(rates.toSeq)
      import spark.implicits._
      val path = calibPath(sfDir)
      binned.zip(cal).map { case (r, c) =>
        (r.getLong(0), r.getLong(1), r.getDouble(2) / r.getLong(1), c)
      }.toSeq.toDF("bin", "n", "raw_rate", "cal_rate").coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    })

  /** Drop the JVM memo so Bench's second stage pass times an equally-cold
    * fit (the Ann.resetMemos contract).
    */
  private[graft] def resetMemos(): Unit = {
    memo.clear(); calMemo.clear(); cvMemo.clear()
  }
}

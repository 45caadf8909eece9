package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextOps

/** Trained MULTICLASS language-id classifier — the step-zero CCNet /
  * fastText-style operator every multilingual corpus pipeline runs before
  * any other filter (Wenzek et al. 2019 §4.1: lang-id first, everything
  * else per-language). The binary [[LogReg]] machinery generalizes by
  * ONE-VS-REST (Rifkin & Klautau 2004: OvR with a well-tuned binary
  * learner matches more elaborate multiclass couplings): one IRLS fit
  * per class over the SAME fused Newton digests — the corpus featurizes
  * ONCE into a localCheckpointed (doc_id, lang, x) frame, each class's
  * fit re-reads that digest-sized frame with y = (lang = k), and every
  * iteration still ships one d(d+3)/2+2-double aggregation. Serving is
  * map-only: K linear scores as literal arithmetic, argmax with an
  * earliest-class tiebreak (round-6 scores on BOTH engines before the
  * comparison, so the argmax itself is cross-engine exact).
  *
  * Features: [[LogReg.features]]'s six surface statistics (each with a
  * proven DuckDB twin) plus per-token relative frequencies of a PINNED
  * common-word list — the "character/word n-gram frequency" signal real
  * lang-id models use, shrunk to the fixture's vocabulary. All features
  * are exact integer-ratio arithmetic, so both engines compare identical
  * doubles. NOTE the fixture honesty: the synthetic corpus's text is the
  * same token distribution for every `lang` value (the label is metadata,
  * not translated text), so held-in accuracy beating the majority class
  * (LangIdSpec pins it) demonstrates the optimizer finds the weak
  * length/frequency signal that IS there — on a real multilingual corpus
  * the identical machinery rides genuinely separable n-gram features.
  *
  * Dumped-model lifecycle as [[LogReg]]: (class, j, feat, w) rows dump to
  * parquet; the DuckDB oracle replays SCORING from the dump (per-class
  * fixed-order linear sums + the same CASE-chain argmax) and never
  * re-fits.
  */
object LangId {

  /** The fixture's language classes, asc — PINNED so the oracle's static
    * per-class scoring SQL and the Spark plan agree on the class set;
    * [[model]] refuses a corpus whose labels drift from it.
    */
  val Classes: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Pinned frequency-feature tokens (fixture vocabulary, asc). */
  val FeatTokens: Seq[String] =
    Seq("agg", "customer", "data", "hash", "join", "query", "scan", "the")

  /** Feature names in model order: LogReg's six + the token frequencies. */
  val FeatNames: Seq[String] = LogReg.FeatNames ++ FeatTokens.map("f_" + _)

  val Dim: Int = FeatNames.length

  /** Feature expressions over a `text` column, same order as
    * [[FeatNames]] — LogReg's six (bias, tok/100, mean token length,
    * digit/alpha/stopword ratios) then each pinned token's relative
    * frequency (exact integer ratios).
    */
  def features(text: Column): Seq[Column] = {
    val t = TextOps.tokens(text)
    val n = size(t).cast("double")
    LogReg.features(text) ++ FeatTokens.map { tok =>
      when(size(t) === 0, lit(0.0))
        .otherwise(size(filter(t, x => x === lit(tok))).cast("double") / n)
    }
  }

  /** [[features]] off a fused stats struct (track = [[FeatTokens]]) —
    * bit-identical field reads replacing ~10 text walks per row.
    */
  def featuresFromStats(st: Column): Seq[Column] =
    LogReg.featuresFromStats(st) ++ FeatTokens.indices.map { i =>
      when(st.getField("n_tokens") === 0, lit(0.0))
        .otherwise(element_at(st.getField("track"), i + 1).cast("double") /
          st.getField("n_tokens").cast("double"))
    }

  /** Per-class linear score in FIXED left-to-right order (the
    * [[LogReg.linear]] contract — the oracle sums identically).
    */
  def linear(text: Column, w: Seq[Double]): Column =
    features(text).zip(w).map { case (x, wi) => x * lit(wi) }
      .reduceLeft(_ + _)

  /** Round-6 per-class scores, classes in asc order — ONE definition for
    * the scoring queries and the spec.
    */
  def scores(text: Column, model: Seq[(String, Array[Double])]): Seq[(String, Column)] =
    model.map { case (k, w) => k -> round(linear(text, w.toSeq), 6) }

  /** Map-only argmax with earliest-class tiebreak: fold classes in asc
    * order, replace the best only on a STRICTLY greater score — the
    * DuckDB twin is the CASE chain `WHEN z_k >= every later z THEN k`,
    * whose first true branch is the same earliest-tie argmax.
    */
  def predict(text: Column, model: Seq[(String, Array[Double])]): Column = {
    val zs = scores(text, model)
    val (_, pred) = zs.tail.foldLeft((zs.head._2, lit(zs.head._1))) {
      case ((bz, bc), (k, z)) =>
        (when(z > bz, z).otherwise(bz), when(z > bz, lit(k)).otherwise(bc))
    }
    pred
  }

  private def featureFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        TextOps.textStats(col("text"), FeatTokens).as("__st"))
      .select(
        col("doc_id"), col("lang"),
        array(featuresFromStats(col("__st")): _*).as("x"))

  /** (doc_id, lang, pred) over the whole corpus — the serving path the
    * eval queries share. The feature array materializes ONCE
    * (localCheckpoint, the training posture); each class's round-6 score
    * is then a literal-weight sum over the array, so the K-class argmax
    * costs K·d multiplies per doc instead of re-deriving the regex text
    * statistics K× per class with the when-fold re-duplicating every
    * tree (measured 38 s → ~1 s at sf0.1). Values are bit-identical to
    * [[predict]] over the raw text — same feature expressions, same
    * fixed-order sums, same strict-greater fold.
    */
  def scored(spark: SparkSession, sfDir: String): DataFrame = {
    val m = model(spark, sfDir)
    val feats = featureFrame(spark, sfDir).localCheckpoint()
    val zs = m.map { case (k, w) =>
      k -> round(w.toSeq.zipWithIndex.map { case (wi, j) =>
        element_at(col("x"), j + 1) * lit(wi) }.reduceLeft(_ + _), 6)
    }
    val (_, pred) = zs.tail.foldLeft((zs.head._2, lit(zs.head._1))) {
      case ((bz, bc), (k, z)) =>
        (when(z > bz, z).otherwise(bz), when(z > bz, lit(k)).otherwise(bc))
    }
    feats.select(col("doc_id"), col("lang"), pred.as("pred"))
  }

  def modelPath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-langid-" + Ann.pathToken(sfDir)

  private val memo = new ConcurrentHashMap[String, Seq[(String, Array[Double])]]()

  /** Fit-and-dump once per JVM per sf dir: K one-vs-rest IRLS fits over
    * ONE checkpointed feature frame, dumped as (class, j, feat, w) rows.
    * Returns (class → weights) in class-asc order — driver-sized, ships
    * into scoring plans as literals.
    */
  def model(spark: SparkSession, sfDir: String): Seq[(String, Array[Double])] =
    memo.computeIfAbsent(sfDir, { _ =>
      val feats = featureFrame(spark, sfDir).localCheckpoint()
      val classes = feats.select(col("lang")).distinct()
        .orderBy(col("lang")).collect().map(_.getString(0)).toSeq
      require(classes == Classes,
        s"langid: corpus classes $classes drifted from the pinned $Classes")
      // the K one-vs-rest fits are independent reads of the ONE
      // checkpointed frame — run them on concurrent threads so the
      // per-iteration digest jobs overlap instead of serializing
      // (K×(Iters+1) small jobs were pure scheduler latency back to
      // back; each class's fit is unchanged, so the weights are
      // bit-identical to the sequential build). Spark sessions are
      // thread-safe for concurrent read-only jobs.
      val fitted = Publish.fanOut("langid", classes.map { k => () =>
        val (w, _) = LogReg.fitFrame(
          feats.select(
            when(col("lang") === k, 1.0).otherwise(0.0).as("y"), col("x")),
          Dim)
        k -> w
      })
      feats.unpersist()
      import spark.implicits._
      fitted.flatMap { case (k, w) =>
        w.toSeq.zipWithIndex.map { case (wi, j) => (k, j, FeatNames(j), wi) }
      }.toDF("class", "j", "feat", "w").coalesce(1)
        .write.mode("overwrite").parquet(modelPath(sfDir))
      fitted
    })

  private[graft] def resetMemos(): Unit = memo.clear()
}

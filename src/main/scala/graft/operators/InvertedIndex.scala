package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Inverted-index serving layout — the TEXT twin of the trained-IVF vector
  * layout: postings (term, doc_id, tf) live partitioned by a deterministic
  * term-hash bucket, so a term lookup ("which documents contain X, how
  * often") partition-prunes to ONE bucket directory and never scans the
  * corpus or the full postings table. This is the storage shape of every
  * search engine's term dictionary + postings file, rebuilt on plain
  * parquet with directory-level pruning as the seek.
  *
  * Build: one tokenize pass over the corpus (the same lowercase
  * [^a-z0-9]+ split the BM25 family uses), one (term, doc_id) count
  * aggregate, one partitioned write. Text moves once; the postings are
  * digests (term + id + count).
  *
  * The bucket function is a splitmix64 fold over the term's UTF-8 bytes —
  * public-domain arithmetic computable identically at write time (UDF)
  * and at lookup time (plain driver call), with no dependence on engine
  * internals. The oracle never needs it: bucketing is an access path, and
  * the replay computes postings straight from `documents`.
  *
  * 100 TB shape: postings tables are ~10% of corpus bytes; the bucket
  * count scales with vocabulary (here 16; at web scale thousands), each
  * bucket holding sorted runs a lookup reads entirely. Incremental ingest
  * appends per-bucket like the IVF cell appends, and the same
  * compaction/two-rename repair family applies.
  */
object InvertedIndex {

  val NumBuckets = 16

  /** Deterministic bucket of a term: splitmix64 fold over UTF-8 bytes.
    * Driver-side face for query-time probes — delegates to the ONE
    * definition in [[graft.expressions.TermBucket]], whose codegen
    * Expression computes the same fold on the corpus-wide write path.
    */
  def termBucket(term: String, n: Int = NumBuckets): Int =
    graft.expressions.TermBucket.bucket(term, n)

  def layoutPath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-invidx-" + Ann.pathToken(sfDir)

  /** Document-tombstone sidecar beside a postings dir — the delete face's
    * merge-on-read state (the Ivfpq/Hnsw tombstone pattern on the text
    * index): readers subtract it with one broadcast anti-join BEFORE the
    * df aggregate, so df/idf stay exact through uncompacted deletes.
    */
  def tombstonesPath(dir: String): String = dir + "-tombstones"

  /** Merge-on-read resolution for postings reads: subtract tombstoned
    * docs (broadcast — the sidecar is maintenance-batch-sized) when the
    * sidecar exists; the un-mutated layout keeps its exact original plan
    * (no join node at all).
    */
  private def minusTombs(spark: SparkSession, dir: String,
                         postings: DataFrame): DataFrame =
    if (Ann.dirExists(spark, tombstonesPath(dir)))
      postings.join(
        broadcast(spark.read.parquet(tombstonesPath(dir))
          .select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
    else postings

  private val memos = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Tokenize → (term, doc_id, tf, bucket) postings rows for any doc
    * frame — shared by the full build and the incremental append.
    */
  /** Postings carry POSITIONS beside tf — the payload a phrase query
    * needs (real postings formats store exactly this; positions are
    * 0-based over the filtered token sequence).
    */
  private def postingsOf(docs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")))
      .groupBy(col("col").as("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      // native codegen expression, not a UDF: the bucket assignment sits
      // on the corpus-wide write path and must not fence whole-stage
      // codegen (InvertedIndexSpec pins the wscg span + UDF-equality)
      .withColumn("bucket",
        graft.expressions.GraftFunctions.termBucket(col("term"), NumBuckets))
  }

  def layout(spark: SparkSession, sfDir: String): String =
    memos.computeIfAbsent(sfDir, { _ =>
      val dir = layoutPath(sfDir)
      postingsOf(spark.read.parquet(s"$sfDir/documents.parquet"))
        // one output file per bucket, postings sorted for in-file locality
        .repartition(NumBuckets, col("bucket"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      // the index carries its own corpus stats: N (for idf) as a 1-row
      // meta table beside the postings — serving never touches the corpus.
      // N counts the docs the INDEX knows (distinct postings doc_ids), not
      // the raw corpus rows (round-10 advisor): a zero-token doc (empty /
      // punctuation-only text) has no postings, so deleteDocs — which
      // validates membership against the postings — could never retire it
      // from a corpus-row count and N would drift permanently high. On a
      // corpus with no such docs the two counts are identical.
      val n = spark.read.parquet(dir).select(col("doc_id")).distinct().count()
      spark.range(1).select(lit(n).as("n_docs"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir-meta")
      dir
    })

  /** The 1-row meta's schema: N, the docs the index knows. */
  private val DocCountSchema = StructType(Seq(StructField("n_docs", LongType, nullable = false)))

  /** Commit N as the index's meta through [[Publish.commitFrame]]. */
  private def commitDocCount(spark: SparkSession, dir: String, n: Long): Unit =
    Publish.commitFrame(spark, DocCountSchema, Seq(InternalRow(n)), s"$dir-meta")

  /** Incremental maintenance — the daily-ingest face: arriving docs'
    * postings append into their bucket directories (per-bucket appends,
    * the same shape as the IVF cell appends; the compaction/two-rename
    * repair family applies when files accumulate), and the 1-row meta
    * table advances N. Serving reads the union automatically.
    *
    * Semantics: arrivals are assumed NEW docs (a re-append would double
    * their postings — dedup belongs upstream, `incremental_dedup`'s
    * job). Crash between the postings append and the meta write leaves N
    * one batch low: df stays exact, idf reads marginally high — stale-
    * safe in the same sense as the skipping sidecars (costs ranking
    * nuance, never correctness of which docs match).
    *
    * When even that window is unacceptable (meta carries more than N —
    * say BM25 avgdl — and a reader must never see it desynced), commit
    * postings + meta through [[TxnLog.commitTables]] instead: one
    * manifest spans both tables and a single pointer flip publishes the
    * pair (old-old or new-new, never mixed — TxnOptimizeSpec pins the
    * crash window; `tt_multi_idf` serves exactly this pairing from the
    * log).
    */
  def appendDocs(spark: SparkSession, sfDir: String, docs: DataFrame): Unit = {
    val dir = layout(spark, sfDir)
    // staged once: the write and the N advance must count the SAME rows,
    // and N advances by the docs that actually produced postings (the
    // layout-time rule — a zero-token arrival must not inflate N)
    val p = postingsOf(docs).localCheckpoint()
    p.repartition(col("bucket"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("append").partitionBy("bucket").parquet(dir)
    val n = Publish.readRepaired(spark, s"$dir-meta").head().getLong(0) +
      p.select(col("doc_id")).distinct().count()
    // write-tmp-then-swap (Publish.commitFrame): a plain overwrite deletes
    // the live meta before the new write commits, so a crash mid-write
    // would leave every read face unreadable, not just idf-stale
    commitDocCount(spark, dir, n)
  }

  /** Sparse TF-IDF retrieval SERVED FROM THE INDEX — the lexical search
    * path once an inverted index exists: only the query terms' buckets
    * are read (partition-pruned to ≤|terms| directories), df comes from
    * the posting lists themselves and N from the meta table (the index
    * carries its own statistics — the corpus is never touched at serve
    * time). Score = Σ tf·ln(N/df), rounded before ranking so the
    * ordering is engine-portable; top-k with id tiebreak.
    */
  def sparseSearch(spark: SparkSession, sfDir: String, terms: Seq[String],
                   k: Int = 10): DataFrame =
    sparseSearchIn(spark, layout(spark, sfDir), terms, k)

  /** Dir-addressed face of [[sparseSearch]] — serves caller-owned clones
    * (maintenance demos, A/B layouts) and resolves the tombstone sidecar
    * when present: the anti-join lands BEFORE the df aggregate, so df and
    * the ranking stay exact through uncompacted deletes.
    */
  def sparseSearchIn(spark: SparkSession, dir: String, terms: Seq[String],
                     k: Int = 10): DataFrame = {
    val buckets = terms.map(termBucket(_)).distinct
    val postings = minusTombs(spark, dir, spark.read.parquet(dir)
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isInCollection(terms)))
    val n = spark.read.parquet(s"$dir-meta").head().getLong(0)
    val df = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    postings.join(broadcast(df), "term")
      .groupBy(col("doc_id"))
      .agg(round(sum(col("tf") * log(lit(n.toDouble) / col("df"))), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Serve "docs containing TERM": partition-prune to the term's bucket
    * directory, then filter the postings rows. The bucket predicate is a
    * LITERAL computed driver-side, so it reaches the scan as a partition
    * filter (spec-pinned) — the directory seek IS the index lookup.
    */
  def lookup(spark: SparkSession, sfDir: String, term: String): DataFrame =
    lookupIn(spark, layout(spark, sfDir), term)

  def lookupIn(spark: SparkSession, dir: String, term: String): DataFrame =
    minusTombs(spark, dir, spark.read.parquet(dir)
      .filter(col("bucket") === lit(termBucket(term)) && col("term") === lit(term)))
      .select(col("doc_id"), col("tf"))

  /** PHRASE search over the positional postings — "these words, adjacent,
    * in order", the query BM25's bag-of-words provably cannot answer:
    * the phrase's start positions survive a fold of per-term position
    * intersections (a start s survives term i iff s+i is in term i's
    * position list). Only position DIGESTS join (on doc_id, one join per
    * extra phrase term) — the corpus text is never touched, and docs
    * missing any term drop out at the first join.
    */
  def phraseSearch(spark: SparkSession, sfDir: String,
                   terms: Seq[String]): DataFrame =
    phraseSearchIn(spark, layout(spark, sfDir), terms)

  def phraseSearchIn(spark: SparkSession, dir: String,
                     terms: Seq[String]): DataFrame = {
    require(terms.size >= 2, "a phrase needs at least two terms")
    val buckets = terms.map(termBucket(_)).distinct
    val posts = minusTombs(spark, dir, spark.read.parquet(dir)
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isInCollection(terms)))
      .select(col("term"), col("doc_id"), col("positions"))
    val first = posts.filter(col("term") === terms.head)
      .select(col("doc_id"), col("positions").as("starts"))
    val matched = terms.zipWithIndex.tail.foldLeft(first) { case (acc, (t, i)) =>
      acc.join(posts.filter(col("term") === t)
          .select(col("doc_id"), col("positions").as("p")), "doc_id")
        .select(col("doc_id"),
          expr(s"filter(starts, s -> array_contains(p, s + $i))").as("starts"))
        .filter(size(col("starts")) > 0)
    }
    matched.select(col("doc_id"), size(col("starts")).as("n_matches"))
      .orderBy(col("doc_id"))
  }

  /** Compaction — the repair [[appendDocs]] pairs with: per-ingest
    * appends accumulate one file per bucket per batch (the same
    * small-files spiral as IVF cell appends), and this folds each bucket
    * back to target-sized sorted runs through [[Publish.swap]], as
    * `Ann.compactLayout` does — readers see the old or new layout, never
    * a partial one; a failed promote rolls back to the un-compacted
    * layout.
    */
  def compactPostings(spark: SparkSession, sfDir: String,
                      targetRowsPerFile: Long = 1L << 20): Unit =
    compactPostingsIn(spark, layout(spark, sfDir), targetRowsPerFile)

  def compactPostingsIn(spark: SparkSession, dir: String,
                        targetRowsPerFile: Long = 1L << 20): Unit = {
    val tmp = dir + "-compact-tmp"
    // the fold also RETIRES tombstones: the rewrite subtracts them, so the
    // compacted layout needs no sidecar at all
    minusTombs(spark, dir, spark.read.parquet(dir))
      .repartition(col("bucket"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .partitionBy("bucket").parquet(tmp)
    val fs = Publish.fsOf(spark, dir)
    Publish.swap(fs, new Path(tmp), new Path(dir), new Path(dir + "-compact-old"))
    // sidecar GC AFTER the swap: a crash between the two leaves retired
    // tombstones subtracting already-absent rows — a harmless, idempotent
    // no-op on the next read, not a correctness window
    fs.delete(new Path(tombstonesPath(dir)), true)
  }

  /** DELETE documents from the postings index — the takedown/dedup-purge
    * verb completing the maintenance loop [[appendDocs]] opened (every
    * index family in the repo now has append + delete + compact):
    * validated ids land in the tombstone sidecar, every read face
    * subtracts them BEFORE its df aggregate (df/idf exact through
    * uncompacted deletes), and [[compactPostingsIn]] retires them.
    *
    * Validation (one postings-artifact scan per maintenance batch — the
    * documented maintenance-cost class, never on the serve path): only
    * ids LIVE in the index count against meta N, so re-delivered deletes
    * (at-least-once streams) and non-member ids are no-ops — N stays the
    * true live-doc count the idf reads.
    */
  def deleteDocs(spark: SparkSession, dir: String, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    if (docIds.isEmpty) return
    val req = docIds.distinct.toDF("doc_id")
    val newlyDead = minusTombs(spark, dir,
        spark.read.parquet(dir).select(col("doc_id")).distinct())
      .join(broadcast(req), Seq("doc_id"), "left_semi")
      .localCheckpoint() // maintenance-batch-sized
    val nNew = newlyDead.count()
    if (nNew > 0) {
      newlyDead.coalesce(1).write.mode("append").parquet(tombstonesPath(dir))
      // meta commits via write-tmp-then-swap (Publish.commitFrame) — the
      // remaining crash window is BETWEEN the sidecar append and the meta
      // swap, and that one only costs idf nuance (N one batch high while
      // the tombstones already exclude the docs), never which docs match
      val n = Publish.readRepaired(spark, s"$dir-meta").head().getLong(0) - nNew
      commitDocCount(spark, dir, n)
    }
  }

  /** Memoized delete-demo layout for the oracled query face: a clone of
    * the base postings with the exact sparse-search top-1 doc tombstoned
    * — chosen BY the search itself, so the DuckDB oracle re-derives the
    * same victim from `documents` with its own top-1 subquery and the
    * whole merge-on-read state replays without dumping the sidecar.
    */
  /** Pure-function demo path (Verify's oracle placeholders resolve it
    * without forcing the build).
    */
  def maintDemoPath(sfDir: String): String = layoutPath(sfDir) + "-maint-demo"

  def maintDemoLayout(spark: SparkSession, sfDir: String): String =
    demoMemos.computeIfAbsent(sfDir, { _ =>
      val src = layout(spark, sfDir)
      val dir = maintDemoPath(sfDir)
      Publish.fsOf(spark, dir).delete(new Path(tombstonesPath(dir)), true)
      Hnsw.fsCopy(spark, src, dir)
      Hnsw.fsCopy(spark, s"$src-meta", s"$dir-meta")
      val top1 = sparseSearchIn(spark, dir, DemoTerms, k = 1)
        .head().getLong(0)
      deleteDocs(spark, dir, Seq(top1))
      dir
    })

  /** The sparse-search demo query panel, shared by the live query and the
    * delete demo so the tombstoned victim is the served top-1.
    */
  val DemoTerms = Seq("data", "table", "query")

  private val demoMemos = new java.util.concurrent.ConcurrentHashMap[String, String]()

  // Maintenance-policy thresholds, the postings twin of the graph's
  // (Hnsw.MaintTombRatio family): dead postings force a broadcast
  // anti-join resolution on every read, and per-bucket file counts are
  // the small-files spiral the streaming ingest already bounds. Named
  // constants shared with the oracle CASE and the spec.
  val MaintDeadRatio = 0.02
  val MaintFilesPerBucket = 4

  /** Per-bucket operability stats + DECISION over the live postings —
    * the `ann_maintenance_plan` twin for the text index: postings/term
    * population, the PHYSICAL file count (what a bucket-pruned lookup
    * actually opens), the tombstoned share, and the compact-vs-serve
    * CASE over the pinned thresholds. Oracled (postings_stats): DuckDB
    * reads the same artifact with `filename=true`, so even the file
    * count — physical layout state — is cross-engine-checked.
    */
  def postingsStats(spark: SparkSession, dir: String): DataFrame = {
    val tombs =
      if (Ann.dirExists(spark, tombstonesPath(dir)))
        spark.read.parquet(tombstonesPath(dir)).select(col("doc_id")).distinct()
      else spark.range(0).select(col("id").as("doc_id"))
    spark.read.parquet(dir)
      .select(col("bucket"), col("term"), col("doc_id"),
        col("_metadata.file_path").as("__file"))
      .join(broadcast(tombs.withColumn("__dead", lit(1))), Seq("doc_id"), "left")
      .groupBy(col("bucket"))
      .agg(countDistinct(col("term")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        sum(coalesce(col("__dead"), lit(0))).cast("long").as("dead_postings"),
        countDistinct(col("__file")).as("n_files"))
      .withColumn("dead_ratio",
        round(col("dead_postings").cast("double") / col("n_postings"), 6))
      .withColumn("decision",
        when(col("dead_ratio") > MaintDeadRatio ||
             col("n_files") > MaintFilesPerBucket, lit("compact"))
          .otherwise(lit("serve")))
      .select(col("bucket").cast("int").as("bucket"), col("n_terms"),
        col("n_postings"), col("dead_postings"), col("n_files"),
        col("dead_ratio"), col("decision"))
      .orderBy(col("bucket"))
  }

  /** The stats→action verb ([[Hnsw.maintainGraph]]'s postings twin):
    * compact iff ANY bucket's plan says so — the fold rewrites every
    * bucket and retires the tombstones, so one over-threshold bucket
    * pays for the whole pass (the same all-bucket rewrite the streaming
    * ingest's threshold compaction already performs). Returns whether a
    * compaction ran; idempotent — the post-fold plan is all `serve`.
    */
  def maintainPostings(spark: SparkSession, dir: String): Boolean = {
    val any = postingsStats(spark, dir)
      .filter(col("decision") === "compact").limit(1).count() > 0
    if (any) compactPostingsIn(spark, dir)
    any
  }

  /** BULK sparse serving — Q queries against the postings layout in ONE
    * job (the batch face of [[sparseSearch]], mirroring the IVF family's
    * `ivfSearchBatch`): the postings scan reads the UNION of all probed
    * buckets once, each posting row joins only the queries that asked for
    * its term (broadcast query table — KBs), df/N come from the index as
    * in the single-query path, and the per-qid ranking is the custom
    * partial/final TopKPerKey heap pair — ≤k rows per qid per partition
    * cross the exchange, however common a term is.
    */
  def sparseSearchBatch(spark: SparkSession, sfDir: String,
                        queries: Seq[(Long, Seq[String])], k: Int = 5): DataFrame =
    sparseSearchBatchIn(spark, layout(spark, sfDir), queries, k)

  def sparseSearchBatchIn(spark: SparkSession, dir: String,
                          queries: Seq[(Long, Seq[String])], k: Int = 5): DataFrame = {
    import spark.implicits._
    val allTerms = queries.flatMap(_._2).distinct
    val buckets = allTerms.map(termBucket(_)).distinct
    val qTerms = queries.flatMap { case (qid, ts) => ts.map(qid -> _) }
      .toDF("qid", "term")
    val postings = minusTombs(spark, dir, spark.read.parquet(dir)
      .filter(col("bucket").isInCollection(buckets) &&
        col("term").isInCollection(allTerms)))
    val n = spark.read.parquet(s"$dir-meta").head().getLong(0)
    val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = postings
      .join(broadcast(qTerms), "term")
      .join(broadcast(df), "term")
      .groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("tf") * log(lit(n.toDouble) / col("df"))), 6).as("score"))
    TopK.perKey(scored, Seq("qid"), Seq(("score", false), ("doc_id", true)), k)
      .orderBy(col("qid"), col("score").desc, col("doc_id"))
  }

  private[graft] def resetMemos(): Unit = { memos.clear(); demoMemos.clear() }
}

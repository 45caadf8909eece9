package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-based transaction log — the missing half both [[CdcSnapshot]]
  * and [[DeletionVectors]] document as out of scope: those give PER-BUCKET
  * atomicity; a reader listing directories during a multi-bucket commit
  * can still see bucket A pre-batch and bucket B post-batch. The fix is
  * the Delta/Iceberg core idea, rebuilt on plain parquet + renames:
  * readers never list data directories at all — they read a MANIFEST
  * (the versioned list of live data + delete files), and a commit is one
  * atomic pointer flip.
  *
  * Layout under `root`:
  *   - `files/part-*.parquet`    — immutable data files, append-only
  *   - `deletes/part-*.parquet`  — immutable position-delete deltas
  *     (rows `(target_file, pos)` — [[DeletionVectors]] addressing, flat
  *     dir so basenames alone are unique here)
  *   - `manifests/version=N/`    — manifest N: rows `(kind, file_name)`,
  *     kind ∈ data|delete
  *   - `_latest`                 — the current version number; updated by
  *     write-tmp + rename, the single atomic commit point
  *
  * Invariants:
  *   - Commits only ADD data/delete files and ADD a manifest, then flip
  *     the pointer. No commit mutates or removes a file any manifest
  *     references — so a reader that resolved version N sees N's exact
  *     bit-identical table for as long as it cares to, across any number
  *     of concurrent commits (snapshot isolation), and `read(version=N)`
  *     is time travel for free.
  *   - A crash before the pointer flip leaves orphan files referenced by
  *     no manifest: invisible to every reader, reclaimed by [[vacuum]].
  *   - [[vacuum]] deletes files unreferenced by the retained manifests —
  *     the ONLY deletion in the system, and it never touches anything the
  *     retained versions can reach.
  *
  * Single-writer discipline (as [[CdcSnapshot]]): commits serialize;
  * readers never write.
  */
object TxnLog {

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Current committed version (0 = empty table, no commits yet). */
  def latestVersion(spark: SparkSession, root: String): Int = {
    val f = fs(spark, root)
    val ptr = new Path(s"$root/_latest")
    if (!f.exists(ptr)) 0
    else {
      val buf = new Array[Byte](f.getFileStatus(ptr).getLen.toInt)
      val in = f.open(ptr)
      try in.readFully(0, buf) finally in.close()
      new String(buf, "UTF-8").trim.toInt
    }
  }

  /** Fold a full checkpoint every this-many versions: commit cost stays
    * O(change) and a reader resolves ≤ CheckpointInterval delta
    * manifests past the newest checkpoint — Delta's _last_checkpoint /
    * Iceberg's snapshot-manifest-list discipline.
    */
  val CheckpointInterval = 4

  /** Version N RESOLVED to its live (kind, file_name, stats) rows —
    * newest checkpoint ≤ N plus the delta-manifest suffix folded over
    * it. The physical `manifests/version=K` directories hold DELTAS
    * ((action add|remove, entry) rows, O(change) per commit), not full
    * file lists.
    */
  def manifest(spark: SparkSession, root: String, version: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    resolvedEntries(spark, root, version)
      .map(e => (e.kind, e.file_name, e.min_id, e.max_id, e.n_rows, e.data_change))
      .toDF("kind", "file_name", "min_id", "max_id", "n_rows", "data_change")
  }

  /** One manifest row: a file the version references, with per-file
    * column statistics for data files (min/max/rows over [[statsCol]]) —
    * the Iceberg/Delta data-skipping lever: a predicate on the stats
    * column prunes the FILE LIST from the manifest alone, before any
    * footer or directory is touched. Stats are None for delete deltas and
    * for data staged without the stats column (stale-safe: a file with no
    * stats is always kept).
    */
  case class ManifestEntry(kind: String, file_name: String,
                           min_id: Option[Long], max_id: Option[Long],
                           n_rows: Option[Long],
                           data_change: Boolean = true)

  /** The column per-file stats are collected on when present. */
  val statsCol = "doc_id"

  /** Optimistic-concurrency conflict: the table moved past the version the
    * writer based its commit on.
    */
  final class CommitConflict(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Write a new table version listing exactly these files, then flip the
    * pointer. The manifest write lands BEFORE the pointer flip — a crash
    * between the two leaves an unreachable manifest, not a torn table.
    *
    * Two conflict guards:
    *  - logical (optimistic concurrency): when the caller passes the
    *    version it READ, the commit refuses if the table has moved —
    *    the read-check-write contract every optimistic writer follows;
    *  - physical: the manifest directory is written `errorifexists`, so
    *    two writers racing to the same version number cannot both land —
    *    the loser dies at the manifest write, BEFORE any pointer flip.
    */
  private def commit(spark: SparkSession, root: String,
                     adds: Seq[ManifestEntry],
                     removes: Seq[(String, String)] = Nil,
                     expected: Option[Int] = None): Int = {
    val cur = latestVersion(spark, root)
    expected.foreach { e =>
      if (cur != e) throw new CommitConflict(
        s"txn: commit based on v$e but table is at v$cur — re-read and retry")
    }
    val v = cur + 1
    writeDeltaManifest(spark, root, v, adds, removes)
    flipPointer(spark, root, v)
    maybeCheckpoint(spark, root, v)
    v
  }

  /** Write version `v`'s DELTA manifest: the commit's (action, entry)
    * rows and nothing else — O(change) I/O however many files the table
    * holds. `errorifexists` keeps the atomic version-slot reservation.
    */
  private def writeDeltaManifest(spark: SparkSession, root: String, v: Int,
                                 adds: Seq[ManifestEntry],
                                 removes: Seq[(String, String)]): Unit =
    ManifestIO.writeDir(spark.sessionState.newHadoopConf(),
      s"$root/manifests/version=$v",
      adds.map(e => ManifestIO.ActionRow("add", e.kind, e.file_name,
        e.min_id, e.max_id, e.n_rows, e.data_change)) ++
        removes.map { case (k, n) =>
          ManifestIO.ActionRow("remove", k, n, None, None, None, false)
        },
      errorIfExists = true)

  /** Raw (action, entry) rows of one manifest/checkpoint directory.
    * Tolerant of rows without the newer columns (a checkpoint stores
    * plain adds; pre-delta manifests and spec-forged ghosts have no
    * `action`): absent action reads as "add", absent stats as None.
    */
  private def readActions(spark: SparkSession,
                          path: String): Seq[(String, ManifestEntry)] =
    ManifestIO.readDir(spark.sessionState.newHadoopConf(), path).map { r =>
      (r.action, ManifestEntry(r.kind, r.fileName,
        r.minId, r.maxId, r.nRows, r.dataChange))
    }

  /** Newest checkpoint version ≤ v, if any. */
  private def checkpointAtOrBefore(spark: SparkSession, root: String,
                                   v: Int): Option[Int] = {
    val f = fs(spark, root)
    val d = new Path(s"$root/checkpoints")
    if (!f.exists(d)) None
    else f.listStatus(d).map(_.getPath.getName)
      .filter(_.startsWith("version="))
      .map(_.stripPrefix("version=").toInt)
      .filter(_ <= v) match {
        case Array() => None
        case cs      => Some(cs.max)
      }
  }

  /** Resolve version `v`'s live entries: newest checkpoint ≤ v as the
    * base, then fold the delta suffix (add upserts the key, remove drops
    * it). Driver-side fold over metadata-sized rows; the suffix is at
    * most [[CheckpointInterval]] manifests long once checkpoints exist.
    */
  private def resolvedEntries(spark: SparkSession, root: String,
                              v: Int): Seq[ManifestEntry] = {
    if (v <= 0) return Nil
    val cp = checkpointAtOrBefore(spark, root, v)
    val base = scala.collection.mutable.LinkedHashMap[(String, String), ManifestEntry]()
    cp.foreach { c =>
      readActions(spark, s"$root/checkpoints/version=$c")
        .foreach { case (_, e) => base((e.kind, e.file_name)) = e }
    }
    ((cp.getOrElse(0) + 1) to v).foreach { u =>
      readActions(spark, s"$root/manifests/version=$u").foreach {
        case ("remove", e) => base.remove((e.kind, e.file_name))
        case (_, e)        => base((e.kind, e.file_name)) = e
      }
    }
    base.values.toSeq
  }

  /** Write the checkpoint for `v` (tmp + rename for atomicity; a loser
    * of the rename race simply discards its tmp — both wrote the same
    * resolved content).
    */
  private def checkpointAt(spark: SparkSession, root: String, v: Int): Unit = {
    val f = fs(spark, root)
    val dest = new Path(s"$root/checkpoints/version=$v")
    if (f.exists(dest)) return
    val tmp = s"$root/.cp-${java.util.UUID.randomUUID().toString.take(8)}"
    ManifestIO.writeDir(spark.sessionState.newHadoopConf(), tmp,
      resolvedEntries(spark, root, v).map(e =>
        ManifestIO.ActionRow("add", e.kind, e.file_name, e.min_id, e.max_id,
          e.n_rows, e.data_change)),
      errorIfExists = false)
    f.mkdirs(dest.getParent)
    if (!f.rename(new Path(tmp), dest)) f.delete(new Path(tmp), true)
  }

  private def maybeCheckpoint(spark: SparkSession, root: String, v: Int): Unit =
    if (v % CheckpointInterval == 0) checkpointAt(spark, root, v)

  /** Fold a checkpoint at the current version on demand (the manual
    * maintenance verb; commits auto-checkpoint every
    * [[CheckpointInterval]] versions).
    */
  def checkpoint(spark: SparkSession, root: String): Int = {
    val v = latestVersion(spark, root)
    require(v > 0, "txn: nothing to checkpoint (no commits)")
    checkpointAt(spark, root, v)
    v
  }

  private def flipPointer(spark: SparkSession, root: String, v: Int): Unit =
    Publish.flipPointer(fs(spark, root), new Path(s"$root/_latest"), v.toString)

  /** Stage `df` as new immutable files under `dir`, returning manifest
    * entries: write to a tmp dir, collect per-file stats on [[statsCol]]
    * (when the frame carries it) from the STAGED files' footers, then
    * move each part file in ([[Publish.moveParts]]) — the files are
    * invisible to readers (nothing references them) until the commit that
    * lists them lands. Stats stay valid across the move: they are keyed
    * by basename and the move preserves it.
    */
  private def stageFiles(df: DataFrame, root: String, dir: String,
                         kind: String, dataChange: Boolean = true): Seq[ManifestEntry] = {
    val spark = df.sparkSession
    val tmp = new Path(s"$root/.stage-${java.util.UUID.randomUUID().toString.take(8)}")
    val hconf = spark.sessionState.newHadoopConf()
    val (stats, moved) = Publish.moveParts(fs(spark, root), tmp, new Path(s"$root/$dir")) {
      df.write.mode("overwrite").parquet(tmp.toString)
    } { parts =>
      // per-file stats straight from the freshly written parquet footers —
      // a driver metadata read per file, not a second pass over the data
      val stats: Map[String, (Long, Long, Long)] =
        if (!df.columns.contains(statsCol)) Map.empty
        else parts.flatMap(p => ManifestIO.footerStats(hconf, p, statsCol)
          .map(p.getName -> _)).toMap
      ((stats, parts.map(_.getName)), true)
    }
    moved.sorted.map { n =>
      val s = stats.get(n)
      ManifestEntry(kind, n, s.map(_._1), s.map(_._2), s.map(_._3), dataChange)
    }
  }

  private def listedEntries(spark: SparkSession, root: String, version: Int,
                            kind: String): Seq[ManifestEntry] =
    resolvedEntries(spark, root, version)
      .filter(_.kind == kind).sortBy(_.file_name)

  private def listed(spark: SparkSession, root: String, version: Int,
                     kind: String): Seq[String] =
    listedEntries(spark, root, version, kind).map(_.file_name)

  /** Commit 1: create the table. */
  def init(df: DataFrame, root: String): Int = {
    val spark = df.sparkSession
    commit(spark, root, stageFiles(df, root, "files", "data"))
  }

  /** Append-only commit: the delta manifest lists ONLY the new files
    * (everything live carries over implicitly) — commit I/O is O(the
    * appended files), not O(table), however many files the table holds
    * (TxnLogSpec pins the manifest row count). `expectedVersion` opts
    * into optimistic concurrency: the commit fails with
    * [[CommitConflict]] if another writer landed since that read.
    */
  def append(df: DataFrame, root: String,
             expectedVersion: Option[Int] = None): Int = {
    val spark = df.sparkSession
    commit(spark, root, stageFiles(df, root, "files", "data"),
      expected = expectedVersion)
  }

  /** EXACTLY-ONCE append: the (appId, batchId) high-watermark rides IN
    * the manifest as a `kind="txn"` row (Delta's txn action, one row per
    * appId holding its latest applied batch). Marker and data land in
    * ONE atomic commit, so at-least-once foreachBatch redelivery cannot
    * double-append and no crash can separate the marker from its data —
    * the property a side-channel journal cannot give. Returns None when
    * the batch was already applied (the redelivery no-op).
    */
  def appendOnce(df: DataFrame, root: String, appId: String,
                 batchId: Long): Option[Int] = {
    val spark = df.sparkSession
    val v = latestVersion(spark, root)
    val txns = listedEntries(spark, root, v, "txn")
    val prefix = appId + ":"
    val last = txns.find(_.file_name.startsWith(prefix))
      .map(_.file_name.stripPrefix(prefix).toLong)
    if (last.exists(_ >= batchId)) None
    // delta: the new files + the advanced watermark marker; the appId's
    // PREVIOUS marker is removed in the same atomic commit (one live
    // marker per appId, exactly the full-manifest behavior)
    else Some(commit(spark, root,
      stageFiles(df, root, "files", "data") :+
        ManifestEntry("txn", s"$appId:$batchId", None, None, None,
          data_change = false),
      removes = txns.filter(_.file_name.startsWith(prefix))
        .map(e => (e.kind, e.file_name)),
      expected = Some(v)))
  }

  // ------------------------------------------------- write-audit-publish

  /** WRITE half of write-audit-publish (the Iceberg WAP pattern): stage
    * the append's files AND its manifest for version v+1, but do NOT flip
    * `_latest` — readers resolving the table still see v, while the audit
    * can `read(version = staged)` the exact candidate snapshot. The
    * manifest write is the same `errorifexists` slot the ordinary commit
    * takes, so a concurrent writer cannot interleave between stage and
    * publish — staging RESERVES the version (our single-log WAP is
    * serializing by construction; Iceberg's branch-based WAP trades that
    * for cherry-pick rebases).
    *
    * Crash window: an auditor that dies between stage and verdict leaves
    * the reserved slot occupied — every later commit refuses at the
    * errorifexists write. Recovery is [[abortStaged]] after restart: its
    * precondition (staged == latest + 1) still holds because nothing
    * could publish past the reservation, so the repair is always safe to
    * run and reopens the slot orphan-free (spec-pinned).
    */
  def stageAppend(df: DataFrame, root: String): Int = {
    val spark = df.sparkSession
    val v = latestVersion(spark, root)
    val staged = v + 1
    writeDeltaManifest(spark, root, staged,
      stageFiles(df, root, "files", "data"), Nil)
    staged
  }

  /** PUBLISH half: flip the pointer to an already-staged version. The
    * audit ran against exactly these files — publishing adds no new I/O,
    * so what was audited is what readers get.
    */
  def publish(spark: SparkSession, root: String, staged: Int): Unit = {
    val cur = latestVersion(spark, root)
    require(staged == cur + 1,
      s"txn: publish expects the next staged version (staged=$staged, latest=$cur)")
    flipPointer(spark, root, staged)
  }

  /** ABORT a staged version: delete the data files only the staged
    * manifest references, then the manifest itself — the version slot
    * reopens for the next attempt and no reader ever saw the candidate.
    */
  def abortStaged(spark: SparkSession, root: String, staged: Int): Unit = {
    val cur = latestVersion(spark, root)
    require(staged == cur + 1, s"txn: cannot abort published version $staged")
    // the staged delta's own adds are exactly the candidate's new files
    // (prior-version membership double-checked for safety)
    val prior = listed(spark, root, cur, "data").toSet
    val orphans = readActions(spark, s"$root/manifests/version=$staged")
      .collect { case ("add", e) if e.kind == "data" => e.file_name }
      .filterNot(prior)
    val f = fs(spark, root)
    orphans.foreach { n => f.delete(new Path(s"$root/files/$n"), false) }
    f.delete(new Path(s"$root/manifests/version=$staged"), true)
  }

  /** The composed gate: stage the append, run the declarative
    * data-quality suite against the STAGED snapshot (the whole-table
    * candidate, not just the increment — cross-batch invariants like
    * uniqueness need the union), publish iff every check passes, abort
    * otherwise. Returns (published?, the (check, observed, passed)
    * report) — the orchestrator's decision record either way.
    */
  def wapAppend(df: DataFrame, root: String,
                checks: Seq[DataQuality.Check]): (Boolean, DataFrame) = {
    val spark = df.sparkSession
    val staged = stageAppend(df, root)
    val lazyReport = DataQuality.report(read(spark, root, Some(staged)), checks)
    // materialize BEFORE the verdict: an aborted stage deletes the files
    // the lazy plan reads, and the report must outlive the abort
    val rows = lazyReport.collect()
    val report = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(rows: _*)),
      lazyReport.schema)
    val ok = rows.forall(_.getAs[Boolean]("passed"))
    if (ok) publish(spark, root, staged) else abortStaged(spark, root, staged)
    (ok, report)
  }

  /** Merge-on-read delete commit: stage one position-delete delta over the
    * CURRENT version's live rows, list it alongside the untouched data
    * files.
    */
  def deleteWhere(spark: SparkSession, root: String, pred: Column): Int = {
    val v = latestVersion(spark, root)
    val doomed = read(spark, root, Some(v), keepMeta = true).filter(pred)
      .select(col("__file").as("target_file"), col("__pos").as("pos"))
      .repartition(1) // one delta file per delete commit (DV convention)
    commit(spark, root, stageFiles(doomed, root, "deletes", "delete"))
  }

  /** Rewrite commit: fold the current version into fresh files with the
    * deletes applied; the new manifest lists only them. Old files remain
    * on disk — every prior version stays readable (time travel) until
    * [[vacuum]] reclaims what no retained manifest references.
    */
  def compact(spark: SparkSession, root: String, numFiles: Int = 2): Int = {
    val v = latestVersion(spark, root)
    val rows = read(spark, root, Some(v))
    // re-cluster on the stats column, not round-robin: a rewrite is the
    // one chance to restore file-level clustering, and a round-robin
    // compact would leave every new file spanning the full value range —
    // manifest stats technically correct but pruning-powerless at the
    // very version every reader resolves by default
    val live = if (rows.columns.contains(statsCol))
      rows.repartitionByRange(numFiles, col(statsCol))
    else rows.repartition(numFiles)
    // dataChange=false: a rewrite commits the SAME logical rows — the
    // change-data feed must not read it as delete-everything+insert-all.
    // txn watermarks survive the rewrite (no remove touches kind=txn);
    // the delta REMOVES every folded data/delete file and adds the
    // rewritten set — O(files touched), which for a full rewrite is the
    // table, as compaction inherently is.
    commit(spark, root,
      stageFiles(live, root, "files", "data", dataChange = false),
      removes = (listedEntries(spark, root, v, "data") ++
        listedEntries(spark, root, v, "delete"))
        .map(e => (e.kind, e.file_name)))
  }

  /** OPTIMIZE: re-cluster the live rows by Z-ORDER over two columns inside
    * a log-committed rewrite — [[graft.sources.ZOrderSkip]]'s layout
    * discipline composed with the manifest log (Delta's `OPTIMIZE ZORDER
    * BY`). The rewrite is `data_change = false` (same logical rows — the
    * CDF must refuse a window spanning it, exactly as [[compact]]), per-
    * file stats on [[statsCol]] are re-collected in the SAME commit (the
    * manifest a reader prunes from is never stale), txn watermarks carry
    * over, and every prior version stays readable (time travel) until
    * [[vacuum]].
    *
    * Why not [[compact]]'s single-key range sort: that gives perfect file
    * locality on ONE column and none on any other; interleaving the two
    * range-binned columns gives GOOD min/max locality on each, so a
    * predicate on either column prunes files from the manifest stats
    * alone. At 100 TB this runs per cold partition as a background
    * maintenance commit — reads of hot data never block (snapshot
    * isolation), and concurrent appends conflict only at the version slot.
    */
  def optimize(spark: SparkSession, root: String, colA: String, colB: String,
               numFiles: Int = 8): Int = {
    val v = latestVersion(spark, root)
    val rows = read(spark, root, Some(v))
    val b = rows.agg(min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long")).head()
    // a fully-drained table has nothing to re-cluster: no-op at the
    // current version (Delta's OPTIMIZE posture) instead of NPEing on
    // the null min/max below
    if (b.isNullAt(0)) return v
    val z = graft.sources.ZOrderSkip.interleave8(
      graft.sources.ZOrderSkip.bin8(col(colA), b.getLong(0), b.getLong(1)),
      graft.sources.ZOrderSkip.bin8(col(colB), b.getLong(2), b.getLong(3)))
    val clustered = rows.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    commit(spark, root,
      stageFiles(clustered, root, "files", "data", dataChange = false),
      removes = (listedEntries(spark, root, v, "data") ++
        listedEntries(spark, root, v, "delete"))
        .map(e => (e.kind, e.file_name)))
  }

  /** The data files a range predicate on [[statsCol]] selects at
    * `version`, from manifest stats alone — the pruning [[readPruned]]
    * serves from, exposed so specs can pin "optimize shrank the file
    * list" without reading a byte of data.
    */
  def dataFilesOverlapping(spark: SparkSession, root: String, lo: Long,
                           hi: Long, version: Option[Int] = None): Seq[String] = {
    val v = version.getOrElse(latestVersion(spark, root))
    listedEntries(spark, root, v, "data").filter(e => (e.min_id, e.max_id) match {
      case (Some(mn), Some(mx)) => mx >= lo && mn <= hi
      case _                    => true
    }).map(_.file_name)
  }

  // ------------------------------------------------- multi-table commits

  /** Atomic CROSS-TABLE commit: ONE manifest lists the live files of
    * every table in the log (kind = `data:<table>`, files under
    * `files/<table>/`), and the single pointer flip publishes them
    * together — so two tables that must agree (postings + their totals
    * sidecar, data + its skipping index) can never be observed desynced:
    * a reader resolves ONE version and gets that version's pair, old-old
    * before the flip, new-new after, mixed never. This is the gap
    * [[InvertedIndex]].appendDocs documents (postings and meta advance as
    * two separate writes there).
    *
    * `tables`: (name, frame, replace?) — replace=false appends to the
    * table's live set, replace=true swaps it wholesale (the sidecar/meta
    * posture). Tables in the log but not in this commit carry over
    * unchanged. All other log machinery composes: optimistic concurrency
    * via `expected`, snapshot isolation, time travel, vacuum.
    */
  def commitTables(spark: SparkSession, root: String,
                   tables: Seq[(String, DataFrame, Boolean)],
                   expected: Option[Int] = None): Int = {
    // ONE latestVersion read feeds both the OCC check and the slot
    // number, so a writer that lands between this read and the manifest
    // write collides at the errorifexists slot (v+1 is already taken)
    // and dies loudly — re-reading the version after the check would
    // instead re-derive a FREE slot and let the stale commit clobber
    // the interloper (the lost update OCC exists to refuse)
    val v = latestVersion(spark, root)
    expected.foreach { e =>
      if (v != e) throw new CommitConflict(
        s"txn: commit based on v$e but table is at v$v — re-read and retry")
    }
    val next = stageTablesAt(spark, root, v, tables)
    flipPointer(spark, root, next)
    maybeCheckpoint(spark, root, next)
    next
  }

  /** CRASH-WINDOW half of [[commitTables]], for specs and WAP-style
    * audits: stage the files AND the manifest for v+1 but do NOT flip —
    * readers still resolve the old version and see the old PAIR. Publish
    * with [[publish]]; a crash here leaves old-old visible, never mixed.
    */
  private[graft] def stageTablesNoFlip(spark: SparkSession, root: String,
                                       tables: Seq[(String, DataFrame, Boolean)]): Int =
    stageTablesAt(spark, root, latestVersion(spark, root), tables)

  /** Stage `tables` against base version `v` and write the v+1 manifest
    * (errorifexists — the atomic slot reservation both commit paths
    * share). Returns v+1.
    */
  private def stageTablesAt(spark: SparkSession, root: String, v: Int,
                            tables: Seq[(String, DataFrame, Boolean)]): Int = {
    // delta form: untouched tables carry over implicitly — the manifest
    // holds only the touched tables' adds (and, for replace=true, the
    // removes of their prior live files); commit I/O is O(change)
    val adds = tables.flatMap { case (t, df, _) =>
      stageFiles(df, root, s"files/$t", s"data:$t")
    }
    val removes = tables.flatMap { case (t, _, replace) =>
      if (replace && v > 0)
        listedEntries(spark, root, v, s"data:$t").map(e => (e.kind, e.file_name))
      else Nil
    }
    val next = v + 1
    writeDeltaManifest(spark, root, next, adds, removes)
    next
  }

  /** Read table `table` of a multi-table log at `version` (default
    * latest): exactly the manifest-listed files under `files/<table>/`.
    */
  def readTable(spark: SparkSession, root: String, table: String,
                version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    val files = listed(spark, root, v, s"data:$table")
      .map(n => s"$root/files/$table/$n")
    // a diagnosable refusal beats the schema-inference error an empty
    // path list would produce (typo'd table name, pre-first-commit read)
    require(files.nonEmpty,
      s"txn: table '$table' has no files in version v$v of $root")
    spark.read.option("mergeSchema", "true").parquet(files: _*)
  }

  /** TIMESTAMP AS OF — resolve the newest version whose manifest landed
    * at or before `tsMillis`, from manifest-directory modification times
    * (the commit's durable wall-clock — exactly how Delta resolves
    * `TIMESTAMP AS OF` from log-file mtimes). Commits are strictly
    * ordered by the version slot, so mtimes are monotone and the
    * resolution is a max over ≤latest candidates — metadata-only.
    */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Int = {
    val f = fs(spark, root)
    val latest = latestVersion(spark, root)
    val candidates = (1 to latest).filter { v =>
      f.getFileStatus(new Path(s"$root/manifests/version=$v"))
        .getModificationTime <= tsMillis
    }
    require(candidates.nonEmpty,
      s"txn: no committed version at or before $tsMillis (earliest is v1)")
    candidates.max
  }

  /** Time-travel read by wall-clock instead of version number. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAsOf(spark, root, tsMillis)))

  /** Read table version `version` (default: latest): exactly the
    * manifest-listed data files minus the manifest-listed delete
    * positions. No directory listing of `files/` ever happens — the
    * manifest IS the table.
    */
  def read(spark: SparkSession, root: String, version: Option[Int] = None,
           keepMeta: Boolean = false): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    val dataFiles = listed(spark, root, v, "data").map(n => s"$root/files/$n")
    val delFiles = listed(spark, root, v, "delete").map(n => s"$root/deletes/$n")
    // mergeSchema: a version whose manifest spans commits with evolved
    // schemas (added columns) unions the fields — older files surface the
    // new columns as null. Time travel composes for free: an old version's
    // manifest lists only old-schema files, so it reads the OLD schema.
    val data = spark.read.option("mergeSchema", "true").parquet(dataFiles: _*)
      .withColumn("__file",
        regexp_extract(col("_metadata.file_path"), "[^/]+$", 0))
      .withColumn("__pos", col("_metadata.row_index"))
    val out = if (delFiles.isEmpty) data else {
      val dels = spark.read.parquet(delFiles: _*)
        .select(col("target_file").as("__file"), col("pos").as("__pos"))
      data.join(broadcast(dels), Seq("__file", "__pos"), "left_anti")
    }
    if (keepMeta) out else out.drop("__file", "__pos")
  }

  /** Manifest-level data skipping: a range predicate on [[statsCol]]
    * prunes the FILE LIST using the per-file min/max recorded at commit
    * time — no footer, no directory listing, no file open for a skipped
    * file; at millions of files the planning cost is a manifest scan, not
    * a filesystem walk. Superset-then-refilter discipline (as SkipIndex):
    * files without stats are kept, and the exact predicate re-applies
    * after the scan, so stats can only cost reads, never answers. Delete
    * subtraction is unaffected — a pruned file's delete entries simply
    * match nothing.
    */
  def readPruned(spark: SparkSession, root: String, lo: Long, hi: Long,
                 version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    // ONE definition of the stats-overlap rule: the spec-facing file
    // list and the actual read can never disagree
    val dataFiles = dataFilesOverlapping(spark, root, lo, hi, Some(v))
      .map(n => s"$root/files/$n")
    val delFiles = listed(spark, root, v, "delete").map(n => s"$root/deletes/$n")
    val data = spark.read.option("mergeSchema", "true").parquet(dataFiles: _*)
      .withColumn("__file",
        regexp_extract(col("_metadata.file_path"), "[^/]+$", 0))
      .withColumn("__pos", col("_metadata.row_index"))
    val live = if (delFiles.isEmpty) data else {
      val dels = spark.read.parquet(delFiles: _*)
        .select(col("target_file").as("__file"), col("pos").as("__pos"))
      data.join(broadcast(dels), Seq("__file", "__pos"), "left_anti")
    }
    live.drop("__file", "__pos").filter(col(statsCol).between(lo, hi))
  }

  /** Change-data feed between two committed versions, computed by FILE
    * DIFF of the manifests — never a row-level table compare:
    *
    *   - inserts: rows of data files listed by `toV` but not `fromV`,
    *     minus `toV` delete positions targeting them (a row inserted and
    *     deleted inside the window nets to no change);
    *   - deletes: rows addressed by delete deltas new in the window whose
    *     target file already existed at `fromV`.
    *
    * Cost scales with the CHANGED files, not the table. A rewrite commit
    * (compact — `data_change = false`) inside the window is refused, as a
    * file diff across it would misread the rewrite as delete-all +
    * insert-all; Delta's CDF draws the same line.
    */
  def changes(spark: SparkSession, root: String, fromV: Int, toV: Int): DataFrame = {
    require(fromV < toV, s"changes: fromV $fromV must precede toV $toV")
    val from = listedEntries(spark, root, fromV, "data")
    val to = listedEntries(spark, root, toV, "data")
    val fromNames = from.map(_.file_name).toSet
    val newFiles = to.filterNot(e => fromNames(e.file_name))
    require(newFiles.forall(_.data_change) &&
      from.forall(e => to.exists(_.file_name == e.file_name)),
      s"changes: a rewrite commit lies between v$fromV and v$toV — " +
        "file diff cannot represent it; read the versions directly")
    val fromDeltas = listed(spark, root, fromV, "delete").toSet
    val newDeltas = listed(spark, root, toV, "delete").filterNot(fromDeltas)
    val allDeltas = listed(spark, root, toV, "delete")
    def readFiles(names: Seq[String], dir: String): DataFrame =
      spark.read.option("mergeSchema", "true")
        .parquet(names.map(n => s"$root/$dir/$n"): _*)
    val withAddr = (df: DataFrame) => df
      .withColumn("__file",
        regexp_extract(col("_metadata.file_path"), "[^/]+$", 0))
      .withColumn("__pos", col("_metadata.row_index"))
    val inserts = if (newFiles.isEmpty) None else {
      val rows = withAddr(readFiles(newFiles.map(_.file_name), "files"))
      val cleaned = if (allDeltas.isEmpty) rows else {
        val dels = readFiles(allDeltas, "deletes")
          .select(col("target_file").as("__file"), col("pos").as("__pos"))
        rows.join(broadcast(dels), Seq("__file", "__pos"), "left_anti")
      }
      Some(cleaned.drop("__file", "__pos").withColumn("op", lit("insert")))
    }
    val deletes = if (newDeltas.isEmpty) None else {
      val doomed = readFiles(newDeltas, "deletes")
        .filter(col("target_file").isin(fromNames.toSeq: _*))
        .select(col("target_file").as("__file"), col("pos").as("__pos"))
      Some(withAddr(readFiles(to.map(_.file_name), "files"))
        .join(broadcast(doomed), Seq("__file", "__pos"), "left_semi")
        .drop("__file", "__pos").withColumn("op", lit("delete")))
    }
    (inserts, deletes) match {
      case (Some(i), Some(d)) => i.unionByName(d)
      case (Some(i), None)    => i
      case (None, Some(d))    => d
      case (None, None) =>
        read(spark, root, Some(toV)).limit(0).withColumn("op", lit(""))
    }
  }

  /** (version, n_data_files, n_delete_files) across the whole log —
    * each version RESOLVED through the checkpoint+delta fold (the raw
    * per-version manifests are deltas and no longer carry full counts).
    * Driver loop over metadata-sized folds.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, root)
    val versions = f.listStatus(new Path(s"$root/manifests"))
      .map(_.getPath.getName).filter(_.startsWith("version="))
      .map(_.stripPrefix("version=").toInt).sorted.toSeq
    versions.map { v =>
      val es = resolvedEntries(spark, root, v)
      (v.toLong, es.count(_.kind == "data").toLong,
        es.count(_.kind == "delete").toLong)
    }.toDF("version", "n_data_files", "n_delete_files")
      .orderBy(col("version"))
  }

  /** Reclaim files referenced by NO manifest ≥ (latest − keepVersions + 1)
    * and drop the older manifests. Returns the deleted file names. The
    * one deletion in the system — everything the retained versions can
    * reach is untouched.
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 2): Seq[String] = {
    val latest = latestVersion(spark, root)
    val keepFrom = math.max(1, latest - keepVersions + 1)
    // a WAP window may have STAGED version latest+1 (manifest written,
    // pointer not yet flipped — stageTablesNoFlip / writeAuditPublish):
    // its files are invisible to readers but must survive vacuum, or the
    // eventual publish() flips to a version with missing files
    val stagedTo =
      if (fs(spark, root).exists(new Path(s"$root/manifests/version=${latest + 1}")))
        latest + 1
      else latest
    val keep = (keepFrom to stagedTo)
      .flatMap(v => manifest(spark, root, v)
        .select("kind", "file_name").collect()
        .map(r => (r.getString(0), r.getString(1))))
      .toSet
    val f = fs(spark, root)
    // single-table layout: files under files/ and deletes/; multi-table
    // layout ([[commitTables]]): files/<table>/ subdirectories whose
    // entries are kept under kind `data:<table>` — walk one level down
    // instead of non-recursively "deleting" a table directory
    val dropped = Seq("data" -> "files", "delete" -> "deletes").flatMap {
      case (kind, dir) =>
        val d = new Path(s"$root/$dir")
        if (!f.exists(d)) Nil
        else f.listStatus(d).flatMap { st =>
          val n = st.getPath.getName
          if (st.isDirectory && kind == "data")
            f.listStatus(st.getPath).map(_.getPath.getName)
              .filterNot(fn => keep.contains((s"data:$n", fn)))
              .map { fn => f.delete(new Path(s"$root/$dir/$n/$fn"), false)
                s"$n/$fn" }.toSeq
          else if (keep.contains((kind, n))) Nil
          else { f.delete(st.getPath, false); Seq(n) }
        }.toSeq
    }
    if (keepFrom > 1) {
      // materialize the oldest retained version as a checkpoint WHILE its
      // delta prefix still exists: after the drop below, resolution for
      // every retained version starts from this checkpoint instead of
      // the (gone) version-1 prefix
      checkpointAt(spark, root, keepFrom)
      val cpd = new Path(s"$root/checkpoints")
      if (f.exists(cpd)) f.listStatus(cpd).map(_.getPath)
        .filter(_.getName.stripPrefix("version=").toInt < keepFrom)
        .foreach(p => f.delete(p, true))
    }
    (1 until keepFrom).foreach { v =>
      f.delete(new Path(s"$root/manifests/version=$v"), true)
    }
    // abandoned staging dirs (a writer that died mid-stage, before its
    // commit): referenced by nothing, invisible to readers — single-writer
    // discipline means none can be live while vacuum runs
    f.listStatus(new Path(root)).map(_.getPath)
      .filter(_.getName.startsWith(".stage-"))
      .foreach(p => f.delete(p, true))
    dropped.sorted
  }

  // --- maintenance policy ------------------------------------------------
  // The lakehouse twin of Hnsw.maintenancePlan / InvertedIndex
  // .postingsStats (round-10 verdict: the txn-log table was the ONLY
  // artifact family whose OPTIMIZE/checkpoint/vacuum verbs had no
  // stats→decision loop reading manifest debt). Thresholds are named
  // constants shared with the oracle CASE and the spec.

  /** Delete-delta debt: live delete files per live data file. Every MOR
    * read pays one broadcast anti-join per delta generation's rows — past
    * ~1 delete file per 5 data files the fold is due.
    */
  val MaintDeleteRatio = 0.2

  /** Small-file debt: a live version listing more data files than this is
    * due a re-clustering rewrite regardless of delete debt (the
    * files-per-commit spiral every append-heavy table degrades into).
    */
  val MaintMaxDataFiles = 16

  /** Reclaim debt: physically-present files unreachable from ANY retained
    * version ([[MaintKeepVersions]] horizon — exactly what [[vacuum]]
    * could delete), per reachable physical file.
    */
  val MaintReclaimRatio = 0.5

  /** The retention horizon the policy measures against AND the verb
    * vacuums with — keeping them one constant means the plan's
    * `reclaimable_files` is precisely the verb's harvest.
    */
  val MaintKeepVersions = 2

  /** Physical (kind, file_name) inventory under files/ and deletes/ —
    * the denominator reality the manifests describe. One level of
    * subdirectories under files/ is the multi-table layout
    * ([[commitTables]]); its kinds read `data:<table>`, mirroring
    * [[vacuum]]'s walk so the two faces can never disagree about what a
    * file is called.
    */
  private def physicalFiles(spark: SparkSession, root: String): Seq[(String, String)] = {
    val f = fs(spark, root)
    Seq("data" -> "files", "delete" -> "deletes").flatMap { case (kind, dir) =>
      val d = new Path(s"$root/$dir")
      if (!f.exists(d)) Nil
      else f.listStatus(d).flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && kind == "data")
          f.listStatus(st.getPath).map(p => (s"data:$n", p.getPath.getName)).toSeq
        else Seq((kind, n))
      }.toSeq
    }
  }

  /** One-row operability stats + DECISION over the log: live file counts
    * at the latest version, checkpoint lag, the physical-vs-reachable
    * file inventory, the debt ratios (rounded to 6dp BEFORE the threshold
    * compare — the engine-portable boundary), and the CASE'd decision ∈
    * {optimize, checkpoint, vacuum, serve} that [[maintainTable]] acts
    * on. Priority order: a rewrite (optimize) both folds deletes and
    * re-clusters, so it outranks the cheaper verbs; checkpoint lag only
    * trips on a log whose auto-checkpoint was lost (forged/crashed —
    * commits checkpoint every [[CheckpointInterval]]); vacuum last, since
    * a just-optimized table is exactly the state that spikes reclaim
    * debt. Driver-side folds over metadata-sized manifests (the
    * [[history]] cost class); the DuckDB oracle (tt_maintenance_plan)
    * replays the same folds over the dumped manifests + a
    * filename-listing of the physical dirs, so the DECISION itself is
    * cross-engine-checked.
    */
  def maintenancePlan(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, round, when}
    val v = latestVersion(spark, root)
    val live = resolvedEntries(spark, root, v)
    // single-table data files ONLY (the oracle's formula): multi-table
    // logs (kind data:<t>) have no whole-log rewrite verb — compact()
    // folds ONE table — so their file debt must not trip `optimize` into
    // a verb that cannot serve it; their reclaim debt still counts below
    // (vacuum handles both layouts), and a per-table OPTIMIZE remains
    // the operator's explicit call
    val liveData = live.count(_.kind == "data").toLong
    val liveDel = live.count(_.kind == "delete").toLong
    val cp = checkpointAtOrBefore(spark, root, v).getOrElse(0)
    val lag = (v - cp).toLong
    // reachable = referenced by ANY retained version; reclaimable = the
    // physical complement (vacuum's exact harvest at this horizon)
    val keepFrom = math.max(1, v - MaintKeepVersions + 1)
    val reach: Set[(String, String)] = (keepFrom to v)
      .flatMap(u => resolvedEntries(spark, root, u).map(e => (e.kind, e.file_name)))
      .toSet
    val phys = physicalFiles(spark, root)
    val reclaimable = phys.count(p => !reach.contains(p)).toLong
    // zero-denominator guard (the Hnsw.maintenancePlan discipline): debt
    // over an empty denominator reads as maximal, never as null-serve
    def ratio(num: Long, den: Long): Column =
      if (den == 0) { if (num > 0) lit(1.0) else lit(0.0) }
      else round(lit(num.toDouble) / den, 6)
    spark.range(1)
      .select(lit(v.toLong).as("version"),
        lit(cp.toLong).as("checkpoint_v"),
        lit(lag).as("checkpoint_lag"),
        lit(liveData).as("live_data_files"),
        lit(liveDel).as("live_delete_files"),
        lit(phys.size.toLong).as("physical_files"),
        lit(reclaimable).as("reclaimable_files"),
        ratio(liveDel, liveData).as("delete_ratio"),
        ratio(reclaimable, phys.size - reclaimable).as("reclaim_ratio"))
      .withColumn("decision",
        when(col("delete_ratio") > MaintDeleteRatio ||
             col("live_data_files") > MaintMaxDataFiles, lit("optimize"))
          .when(col("checkpoint_lag") >= CheckpointInterval, lit("checkpoint"))
          .when(col("reclaim_ratio") > MaintReclaimRatio, lit("vacuum"))
          .otherwise(lit("serve")))
  }

  /** The stats→action verb closing the loop ([[graft.operators.Hnsw
    * .maintainGraph]]'s lakehouse twin): read the plan, act on its
    * decision — `optimize` folds deletes + re-clusters ([[compact]]),
    * `checkpoint` folds the manifest chain, `vacuum` reclaims at the
    * policy's own horizon, `serve` is the healthy-table no-op. Returns
    * the decision it acted on. TxnLogSpec pins the cascade (delete debt →
    * optimize → reclaim debt → vacuum → serve), the forged-checkpoint
    * repair, idempotence at `serve`, and that every acted verb preserves
    * the served rows.
    */
  def maintainTable(spark: SparkSession, root: String): String = {
    val d = maintenancePlan(spark, root)
      .select(org.apache.spark.sql.functions.col("decision")).head().getString(0)
    d match {
      case "optimize"   => compact(spark, root)
      case "checkpoint" => checkpoint(spark, root)
      case "vacuum"     => vacuum(spark, root, MaintKeepVersions)
      case _            => ()
    }
    d
  }

  // --- staged demo lifecycle (memoized once per JVM per sf dir) ----------

  def layoutPath(sfDir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft-txn-" + Ann.pathToken(sfDir)

  private val memo = new ConcurrentHashMap[String, String]()

  /** v1 init (docs with doc_id < 300) → v2 append (the rest) → v3 MOR
    * delete (doc_id % 7 == 2) → v4 compact. Every version stays readable.
    * Commits stage range-clustered on doc_id, so the per-file min/max in
    * the manifests carry real skipping power (the SkipIndex layout
    * discipline, recorded in the log instead of a sidecar).
    */
  def layout(spark: SparkSession, sfDir: String): String =
    memo.computeIfAbsent(sfDir, { _ =>
      val root = layoutPath(sfDir)
      fs(spark, root).delete(new Path(root), true)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      init(docs.filter(col("doc_id") < 300)
        .repartitionByRange(2, col("doc_id")), root)
      append(docs.filter(col("doc_id") >= 300)
        .repartitionByRange(2, col("doc_id")), root)
      deleteWhere(spark, root, pmod(col("doc_id"), lit(7L)) === 2L)
      compact(spark, root)
      root
    })

  def optimizeLayoutPath(sfDir: String): String = layoutPath(sfDir) + "-opt"

  /** OPTIMIZE demo: v1 init with files HASH-scattered on doc_id (every
    * file spans the full id range — per-file min/max stats technically
    * correct, pruning-powerless: the layout every long-lived append-heavy
    * table degrades into), v2 MOR delete (rides through the rewrite), v3
    * z-order optimize over (doc_id, n_chars). The spec pins that the
    * [100,150] manifest-prune touches every v2 file and a strict subset
    * at v3; tt_optimize_scan pins result ≡ the same read pre-optimize.
    */
  def optimizeLayout(spark: SparkSession, sfDir: String): String =
    optMemo.computeIfAbsent(sfDir, { _ =>
      val root = optimizeLayoutPath(sfDir)
      fs(spark, root).delete(new Path(root), true)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      init(docs.repartition(8, col("doc_id")), root)
      deleteWhere(spark, root, pmod(col("doc_id"), lit(11L)) === 3L)
      optimize(spark, root, "doc_id", "n_chars")
      root
    })

  def multiLayoutPath(sfDir: String): String = layoutPath(sfDir) + "-multi"

  /** Multi-table demo: an inverted-postings table and its corpus-totals
    * sidecar (n_docs, total_tokens, avgdl — the BM25 normalizers) commit
    * ATOMICALLY, twice: v1 covers doc_id < 300, v2 appends the rest's
    * postings AND swaps the recomputed totals in the same manifest. The
    * invariant a reader can now rely on at ANY version: the meta row
    * describes exactly the corpus the postings cover.
    */
  def multiLayout(spark: SparkSession, sfDir: String): String =
    multiMemo.computeIfAbsent(sfDir, { _ =>
      val root = multiLayoutPath(sfDir)
      fs(spark, root).delete(new Path(root), true)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      def postings(d: DataFrame): DataFrame = d
        .select(col("doc_id"),
          explode(graft.functions.TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .repartitionByRange(2, col("term"))
      def meta(d: DataFrame): DataFrame = d
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.TextOps.tokenCount(col("text")).cast("long"))
            .as("total_tokens"))
        .select(col("n_docs"), col("total_tokens"),
          (col("total_tokens").cast("double") / col("n_docs")).as("avgdl"))
      val first = docs.filter(col("doc_id") < 300)
      commitTables(spark, root, Seq(
        ("postings", postings(first), false), ("meta", meta(first), true)))
      commitTables(spark, root, Seq(
        ("postings", postings(docs.filter(col("doc_id") >= 300)), false),
        ("meta", meta(docs), true)))
      root
    })

  def maintLayoutPath(sfDir: String): String = layoutPath(sfDir) + "-maint"

  /** Maintenance-policy demo: a log carrying real delete debt and an
    * intact auto-checkpoint — v1 init + v2/v3 appends (3 range-clustered
    * files each), v4 + v5 MOR deletes (one delta file each; v4 writes the
    * interval checkpoint). At v5 the plan reads 9 live data files, 2
    * delete files (ratio 0.222222 > [[MaintDeleteRatio]]), lag 1,
    * reclaimable 0 → decision `optimize`. Deliberately left UNMAINTAINED:
    * the oracled query (tt_maintenance_plan) replays the decision over
    * this exact manifest state; the acted cascade (optimize → vacuum →
    * serve) runs on TxnLogSpec's own clone.
    */
  def maintLayout(spark: SparkSession, sfDir: String): String =
    maintMemo.computeIfAbsent(sfDir, { _ =>
      val root = maintLayoutPath(sfDir)
      fs(spark, root).delete(new Path(root), true)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      init(docs.filter(col("doc_id") < 200)
        .repartitionByRange(3, col("doc_id")), root)
      append(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
        .repartitionByRange(3, col("doc_id")), root)
      append(docs.filter(col("doc_id") >= 350)
        .repartitionByRange(3, col("doc_id")), root)
      deleteWhere(spark, root, pmod(col("doc_id"), lit(9L)) === 1L)
      deleteWhere(spark, root, pmod(col("doc_id"), lit(9L)) === 2L)
      root
    })

  def evoLayoutPath(sfDir: String): String = layoutPath(sfDir) + "-evo"

  /** Schema-evolution demo: v1 init under the ORIGINAL schema (doc_id,
    * lang, n_chars), v2 append under an EVOLVED schema with an extra
    * `quality` column, v3 a MOR delete spanning both generations. The
    * contract the spec + oracle pin: the latest read unions the fields
    * (old files surface `quality` as NULL — mergeSchema in [[read]]),
    * while time travel to v1 sees exactly the old schema, because an old
    * version's manifest simply never lists a new-schema file. Evolution
    * costs a manifest entry, never a table rewrite — the only posture
    * that survives at 100 TB, where "backfill the new column" is a
    * separate, optional job.
    */
  def evoLayout(spark: SparkSession, sfDir: String): String =
    evoMemo.computeIfAbsent(sfDir, { _ =>
      val root = evoLayoutPath(sfDir)
      fs(spark, root).delete(new Path(root), true)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      init(docs.filter(col("doc_id") < 250)
        .repartitionByRange(2, col("doc_id")), root)
      append(docs.filter(col("doc_id") >= 250)
        .withColumn("quality", pmod(col("n_chars"), lit(5L)))
        .repartitionByRange(2, col("doc_id")), root)
      deleteWhere(spark, root, pmod(col("doc_id"), lit(50L)) === 0L)
      root
    })

  private val optMemo = new ConcurrentHashMap[String, String]()
  private val multiMemo = new ConcurrentHashMap[String, String]()
  private val evoMemo = new ConcurrentHashMap[String, String]()
  private val maintMemo = new ConcurrentHashMap[String, String]()

  private[graft] def resetMemos(): Unit = {
    memo.clear(); optMemo.clear(); multiMemo.clear(); evoMemo.clear()
    maintMemo.clear()
  }
}

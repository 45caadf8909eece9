package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, CompressionCodecName}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-direct parquet I/O for KB-scale manifest metadata (round-14
  * optimization, guide §5 "the driver should do almost no data work" —
  * inverted: metadata work should do NO cluster jobs). Manifest
  * resolution previously ran `spark.read.parquet(dir).collect()` per
  * version directory — a full scheduler round-trip (schema-inference
  * read + collect job, ~100-150 ms each under AQE) for a file holding a
  * handful of O(change) rows. A table at version V resolves up to
  * [[TxnLog.CheckpointInterval]] manifests, and the tt_* family walks
  * several versions per query, so one query paid dozens of jobs for a
  * few KB of metadata. Delta/Iceberg read their logs exactly this way:
  * the _delta_log / manifest-list is parsed in the driver process, only
  * DATA files become cluster scans.
  *
  * Files written here are standard parquet, read identically by
  * `spark.read.parquet` (TxnLogSpec forges and reads manifests with
  * Spark) and by the DuckDB oracle's
  * `read_parquet('__TT_MANIFESTS__/x/x.parquet', hive_partitioning=true)`
  * glob — the schema below mirrors what the Spark writer produced
  * (optional UTF8 strings, optional int64 stats, required boolean).
  */
private[graft] object ManifestIO {

  /** One raw manifest row: (action, kind, file_name, stats..., data_change). */
  case class ActionRow(action: String, kind: String, fileName: String,
                       minId: Option[Long], maxId: Option[Long],
                       nRows: Option[Long], dataChange: Boolean)

  private val Schema = MessageTypeParser.parseMessageType(
    """message manifest {
      |  optional binary action (UTF8);
      |  optional binary kind (UTF8);
      |  optional binary file_name (UTF8);
      |  optional int64 min_id;
      |  optional int64 max_id;
      |  optional int64 n_rows;
      |  required boolean data_change;
      |}""".stripMargin)

  /** Read every data file of a manifest/checkpoint directory in the
    * driver process. Tolerant of rows without the newer columns exactly
    * like the Spark-read path it replaces: absent `action` reads as
    * "add", absent stats as None, absent `data_change` as true.
    */
  def readDir(conf: Configuration, dir: String): Seq[ActionRow] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p))
      throw new java.io.FileNotFoundException(s"manifest dir not found: $dir")
    val files = fs.listStatus(p).map(_.getPath)
      .filter { f =>
        val n = f.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          (n.endsWith(".parquet") || !n.contains("."))
      }
      .sortBy(_.getName)
    val out = Seq.newBuilder[ActionRow]
    files.foreach { f =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), f).withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val t = g.getType
          def has(n: String): Boolean =
            t.containsField(n) && g.getFieldRepetitionCount(n) > 0
          def str(n: String, dflt: String): String =
            if (has(n)) g.getString(n, 0) else dflt
          def lng(n: String): Option[Long] =
            if (has(n)) Some(g.getLong(n, 0)) else None
          out += ActionRow(
            str("action", "add"), str("kind", null), str("file_name", null),
            lng("min_id"), lng("max_id"), lng("n_rows"),
            if (has("data_change")) g.getBoolean("data_change", 0) else true)
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }

  /** Rows in one parquet file, summed from its footer's row groups. */
  def rowCount(conf: Configuration, file: Path): Long =
    footerBlocks(conf, file).map(_.getRowCount).sum

  /** The Spark schema of one parquet file's columns, from its footer: the
    * schema a Spark writer recorded there, else the file's parquet schema
    * converted the way Spark's inference converts it. No Spark job.
    */
  def sparkSchema(conf: Configuration, file: Path): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val meta = reader.getFooter.getFileMetaData
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
    } finally reader.close()
  }

  /** The row-group metadata of one parquet file's footer. */
  private def footerBlocks(conf: Configuration, file: Path): Seq[BlockMetaData] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter.getBlocks.asScala.toSeq finally reader.close()
  }

  /** Per-file (min, max, n_rows) of a long column, straight from the
    * parquet footer's row-group statistics — the stats the file's own
    * writer already computed. Replaces a full re-read of freshly staged
    * data (`spark.read.parquet(tmp).groupBy(file).agg(min,max,count)`)
    * with one footer read per file: commits cost O(files) driver
    * metadata I/O instead of a second corpus pass (guide §1.2 "don't
    * compute things you throw away"). Returns None when the column is
    * absent or any row group lacks usable stats — the caller's
    * stale-safe convention (a file with no stats is always kept).
    */
  def footerStats(conf: Configuration, file: Path,
                  column: String): Option[(Long, Long, Long)] = {
    val blocks = footerBlocks(conf, file)
    val ranges = blocks.map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == column)
        .map(_.getStatistics)
        .filter(st => st != null && !st.isEmpty && st.hasNonNullValue)
        .flatMap(st => (st.genericGetMin, st.genericGetMax) match {
          case (mn: java.lang.Long, mx: java.lang.Long) => Some((mn.longValue, mx.longValue))
          case _ => None
        })
    }
    val n = blocks.map(_.getRowCount).sum
    if (n > 0 && ranges.forall(_.isDefined))
      Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max, n))
    else None
  }

  /** Write `rows` as one parquet part file under `dir`, with the same
    * version-slot semantics as the Spark `errorifexists`/`overwrite`
    * writer it replaces: the file lands in a hidden tmp directory that
    * is RENAMED into the slot, and a collision (slot already taken, or
    * another writer won the rename) dies loudly before any pointer
    * flip. The rename-into-place is strictly tighter than the Spark
    * path's check-then-commit window.
    */
  def writeDir(conf: Configuration, dir: String, rows: Seq[ActionRow],
               errorIfExists: Boolean): Unit = {
    val dest = new Path(dir)
    val fs = dest.getFileSystem(conf)
    if (errorIfExists && fs.exists(dest))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"manifest slot already committed: $dir")
    if (!errorIfExists && fs.exists(dest)) fs.delete(dest, true)
    val tmp = new Path(dest.getParent,
      s".mtmp-${java.util.UUID.randomUUID().toString.take(8)}")
    fs.mkdirs(tmp)
    val part = new Path(tmp,
      s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(part, conf))
      .withConf(conf)
      .withType(Schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      val f = new SimpleGroupFactory(Schema)
      rows.foreach { r =>
        val g = f.newGroup()
        if (r.action != null) g.append("action", r.action)
        if (r.kind != null) g.append("kind", r.kind)
        if (r.fileName != null) g.append("file_name", r.fileName)
        r.minId.foreach(v => g.append("min_id", v))
        r.maxId.foreach(v => g.append("max_id", v))
        r.nRows.foreach(v => g.append("n_rows", v))
        g.append("data_change", r.dataChange)
        writer.write(g)
      }
    } finally writer.close()
    fs.create(new Path(tmp, "_SUCCESS"), true).close()
    def fail(): Nothing = {
      fs.delete(tmp, true)
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"manifest slot already committed: $dir")
    }
    if (errorIfExists && fs.exists(dest)) fail()
    if (!fs.rename(tmp, dest)) fail()
    // local-FS rename moves INTO an existing dest (mv semantics): detect
    // a racer's slot win and back out instead of nesting silently
    val nested = new Path(dest, tmp.getName)
    if (fs.exists(nested)) {
      fs.delete(nested, true)
      if (errorIfExists) throw new org.apache.hadoop.fs.FileAlreadyExistsException(
        s"manifest slot already committed: $dir")
    }
  }
}

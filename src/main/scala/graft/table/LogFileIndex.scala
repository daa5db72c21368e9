package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, FileSourceConstantMetadataStructField, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.kernel.PathCodec

/**
 * A Spark `FileIndex` over files the Delta log names — the log's file list
 * replaces a listing of the store, as delta-rs builds its scan's file
 * groups straight from the log (`delta_datafusion/table_provider`). Spark
 * gets each file's size and mtime from the log, so it neither globs nor
 * stats a data path, and gets the partition values typed, so Catalyst
 * plans partition columns as partition columns and prunes directories on
 * them.
 *
 * Each entry's partition row holds one [[Literal]] per `partitionSchema`
 * field, cast to the field's type with the session time zone: a log
 * partition string casts like a SQL string, and CDF's per-file
 * `_commit_version`/`_commit_timestamp` arrive typed.
 *
 * Each listed file also carries its log identity as constant `_metadata`
 * fields of [[LogParquetFileFormat]]: `log_path` (the entry's path exactly
 * as the log spells it) and `dv_slot` (the file's deletion-vector slot, or
 * null). Scanned rows therefore name their file by `AddFile.path`, never
 * by the URI Spark resolved it to. The same path may appear in two entries
 * (a CDF leg re-adding a file at two versions, a streaming batch carrying
 * one file at two DV states): each is listed, and read, once per entry
 * with that entry's own values.
 *
 * Stats skipping has already chosen `entries` ([[Scan.prunedFiles]]), so
 * `listFiles` applies only `partitionFilters` — which Spark's
 * `FileSourceStrategy` does not re-apply after the scan.
 */
class LogFileIndex(
    spark: SparkSession,
    tablePath: String,
    override val partitionSchema: StructType,
    entries: Seq[LogFileIndex.Entry]) extends FileIndex {

  private val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
  private val root: Path = fs.makeQualified(new Path(tablePath))

  private val dirs: Seq[PartitionDirectory] = {
    // paths resolve against the qualified root, and a scheme-less
    // absolute log path is qualified by the table's file system: every
    // file is read from the store the table lives on, not from the
    // session's default file system
    def status(e: LogFileIndex.Entry): FileStatusWithMetadata = {
      val p = PathCodec.resolve(root, e.path)
      val q = if (p.toUri.getScheme == null) fs.makeQualified(p) else p
      // RemoveFile.size is optional: a file the log gives no size for is
      // stat'ed, since Spark reads nothing past a status's length
      val st =
        if (e.size > 0) new FileStatus(e.size, false, 0, 0L, e.mtime, q)
        else fs.getFileStatus(q)
      FileStatusWithMetadata(st,
        Map(LogFileIndex.LogPath -> e.path, LogFileIndex.DvSlot -> e.dvSlot.map(Int.box).orNull))
    }
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val byRow = entries.groupBy(_.values)
    entries.map(_.values).distinct.map { vs =>
      val row = InternalRow.fromSeq(vs.zip(partitionSchema).map { case (v, f) =>
        Cast(v, f.dataType, tz).eval()
      })
      PartitionDirectory(row, byRow(vs).map(status))
    }
  }

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) dirs
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldIndex(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      })
      dirs.filter(d => keep.eval(d.values))
    }

  override def inputFiles: Array[String] =
    dirs.flatMap(_.files.map(_.getPath.toUri.toString)).distinct.toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = dirs.flatMap(_.files).map(_.getLen).sum
}

object LogFileIndex {

  /** `_metadata` field holding a scanned row's file path as the log spells it. */
  val LogPath = "log_path"

  /** `_metadata` field holding a scanned row's deletion-vector slot (null
    * for a file without a deletion vector). */
  val DvSlot = "dv_slot"

  /** One listed file: its log path (a relative URL or absolute URI), the
    * log's size and mtime, its partition row, and its deletion-vector slot. */
  case class Entry(path: String, size: Long, mtime: Long, values: Seq[Literal],
      dvSlot: Option[Int] = None)
}

/** Spark's parquet source with the [[LogFileIndex]] constant `_metadata`
  * fields (`log_path`, `dv_slot`) next to the standard ones and
  * `row_index` — delta-spark's `DeltaParquetFileFormat` carries its row
  * tracking fields the same way. */
class LogParquetFileFormat extends ParquetFileFormat {
  override def metadataSchemaFields: Seq[StructField] = super.metadataSchemaFields ++ Seq(
    FileSourceConstantMetadataStructField(LogFileIndex.LogPath, StringType, nullable = false),
    FileSourceConstantMetadataStructField(LogFileIndex.DvSlot, IntegerType, nullable = true))
}

package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

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
 * `_commit_version`/`_commit_timestamp` arrive typed. The same path may appear under two rows (a CDF leg re-adding a
 * file at two versions): each is listed, and read, once per row.
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
    // paths resolve against the qualified root, so `_metadata.file_path`
    // has the form a store listing gives (the DV mask keys rely on it)
    def status(e: LogFileIndex.Entry): FileStatus = {
      val p = PathCodec.resolve(root, e.path)
      val q = if (p.toUri.getScheme == null) fs.makeQualified(p) else p
      // RemoveFile.size is optional: a file the log gives no size for is
      // stat'ed, since Spark reads nothing past a status's length
      if (e.size > 0) new FileStatus(e.size, false, 0, 0L, e.mtime, q)
      else fs.getFileStatus(q)
    }
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val byRow = entries.groupBy(_.values)
    entries.map(_.values).distinct.map { vs =>
      val row = InternalRow.fromSeq(vs.zip(partitionSchema).map { case (v, f) =>
        Cast(v, f.dataType, tz).eval()
      })
      PartitionDirectory(row, byRow(vs).map(status).toArray)
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

  /** One listed file: its log path (a relative URL or absolute URI), the
    * log's size and mtime, and its partition row. */
  case class Entry(path: String, size: Long, mtime: Long, values: Seq[Literal])
}

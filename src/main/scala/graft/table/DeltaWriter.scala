package graft.table

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, parquet}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.kernel.{AddFile, ParquetStats, PartitionCodec, PathCodec}

/**
 * Physical file writer: writes hive-partitioned parquet with Spark's native
 * writer straight to each file's final path in the table, collects each
 * file's footer stats in the task that wrote it, and returns the `Add`
 * actions. This replaces delta-rs's hand-rolled
 * `PartitionWriter`/`RecordBatchWriter` (`crates/core/src/operations/write/writer.rs:414`,
 * `writer/record_batch.rs:44`) with Spark's distributed, codegen'd parquet
 * sink — stats stay footer-based like `writer/stats.rs:82-130`. The log is
 * the only commit point: a file that no commit names is invisible to
 * readers, so [[AddFileCommitProtocol]] places files where they will live.
 */
object DeltaWriter {

  /** Hive path-name escaping — delegated to Spark's own implementation so
    * the unescape is the EXACT inverse of what FileFormatWriter wrote into
    * the partition dirs (a hand-maintained copy could silently diverge on an
    * edge character; partition VALUES always come from the log on read, so
    * only written-dir parsing and dest-dir naming flow through here). */
  def unescapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Write `df` as parquet data files of the table; returns Add actions with
    * relative paths, partition values, and footer-derived stats, in task
    * order. Does NOT commit. */
  def writeFiles(
      spark: SparkSession,
      tablePath: Path,
      df: DataFrame,
      partitionColumns: Seq[String],
      numIndexedCols: Int = 32,
      optimizeWrite: Boolean = false,
      pathPrefix: String = "",
      meta: Option[graft.kernel.Metadata] = None): Seq[AddFile] = {

    // column mapping: files/partition dirs/stats carry physical names
    val mapped = meta.exists(graft.kernel.ColumnMapping.enabled)
    val (dfPhys, physPartCols) =
      if (mapped) {
        val m = meta.get
        val nm = graft.kernel.ColumnMapping.nameMap(m.schema)
        (graft.kernel.ColumnMapping.toPhysical(df, m.schema),
          partitionColumns.map(c => nm.getOrElse(c, c)))
      } else (df, partitionColumns)

    val toWrite =
      if (optimizeWrite && physPartCols.nonEmpty)
        dfPhys.repartition(physPartCols.map(quotedCol): _*)
      else dfPhys

    // honor the table's compression property (delta-spark's knob; the
    // reference exposes the same through WriterProperties, python
    // writer.py) — falls back to Spark's session codec (snappy). The
    // targetFileSize resplit below writes with the same options.
    val options = meta.flatMap(_.configuration.get("delta.parquet.compression.codec"))
      .map(c => Map("compression" -> c.trim)).getOrElse(Map.empty[String, String])
    val dataSchema = StructType(dfPhys.schema.filterNot(f => physPartCols.contains(f.name)))

    // delta.dataSkippingStatsColumns: an explicit stats-column list that
    // overrides the positional numIndexedCols prefix. Names are LOGICAL in
    // the table property; stats keys are physical under column mapping.
    val statsCols: Option[Set[String]] = meta.flatMap { m =>
      m.configuration.get("delta.dataSkippingStatsColumns").map { s =>
        val logical = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        // CASE-INSENSITIVE like every other schema match in this writer:
        // delta-spark resolves the property with the session resolver, so
        // a table configured elsewhere may carry "ID" for column `id` —
        // exact-case matching made such tables unwritable here (and the
        // name-map lookup silently collected no stats)
        val byLower = m.schema.fieldNames
          .map(f => f.toLowerCase(java.util.Locale.ROOT) -> f).toMap
        // the property allows dotted NESTED paths (delta-spark dialect);
        // validate only the head segment so a table configured by another
        // engine stays writable — we collect stats for top-level leaves
        // only, so a nested name simply gets no stats (pruning fails open)
        val unknown = logical.filterNot(c =>
          byLower.contains(c.toLowerCase(java.util.Locale.ROOT)) ||
            byLower.contains(c.split('.').head.toLowerCase(java.util.Locale.ROOT)))
        require(unknown.isEmpty,
          s"delta.dataSkippingStatsColumns names unknown column(s): " +
            s"${unknown.mkString(", ")} (schema: ${byLower.values.mkString(", ")})")
        val nm = if (graft.kernel.ColumnMapping.enabled(m))
          graft.kernel.ColumnMapping.nameMap(m.schema) else Map.empty[String, String]
        // canonicalize to the schema's case first, then logical→physical
        // Locale.ROOT: a tr_TR default locale lowercases "ID" to dotless-i,
        // missing schema key "id" and re-wedging the very tables this
        // case-insensitive match exists to keep writable
        logical.map { c =>
          val canon = byLower.getOrElse(c.toLowerCase(java.util.Locale.ROOT), c)
          nm.getOrElse(canon, canon)
        }.toSet
      }
    }

    /** One Spark write job of `rows` under `tablePath/relDir` through
      * [[AddFileCommitProtocol]], under its own SQL execution id so
      * listeners and the SQL UI see it. */
    def write(rows: DataFrame, relDir: String, partCols: Seq[String],
        writeOptions: Map[String, String]): Seq[AddFile] = {
      val qe = rows.queryExecution
      val plan = qe.executedPlan
      val resolver = qe.sparkSession.sessionState.conf.resolver
      val partAttrs = partCols.map(c => plan.output.find(a => resolver(a.name, c)).getOrElse(
        throw new IllegalArgumentException(s"partition column $c is not in " +
          plan.output.map(_.name).mkString("[", ", ", "]"))))
      val hadoopConf = qe.sparkSession.sessionState.newHadoopConf()
      val committer = new AddFileCommitProtocol(tablePath.toString, relDir, dataSchema,
        numIndexedCols, statsCols)
      SQLExecution.withNewExecutionId(qe, Some("graft write")) {
        FileFormatWriter.write(qe.sparkSession, plan, DeltaParquetFormat, committer,
          FileFormatWriter.OutputSpec(tablePath.toString, Map.empty, plan.output),
          hadoopConf, partAttrs, None,
          Seq(new BasicWriteJobStatsTracker(new SerializableConfiguration(hadoopConf),
            BasicWriteJobStatsTracker.metrics)),
          writeOptions)
      }
      committer.adds
    }

    val adds =
      try write(toWrite, pathPrefix, physPartCols, options)
      catch {
        case e: Throwable =>
          // constraint-marker failures (Validation.MARKER raise_error guards
          // evaluated during this write) surface as the library's exception
          var t: Throwable = e
          while (t != null) {
            val m = t.getMessage
            if (m != null && m.contains(graft.ops.Validation.MARKER)) {
              throw new graft.ops.ConstraintViolationException(
                m.substring(m.indexOf(graft.ops.Validation.MARKER)))
            }
            t = t.getCause
          }
          throw e
      }

    // delta.targetFileSize: resplit written files that came out oversized.
    // Only the oversized data pays the extra read/write, and rows-per-file
    // is exact (the file's own collected row count) rather than a pre-write
    // guess — the reference sizes files while streaming the write
    // (operations/mod.rs:598-609, write/writer.rs:317). A failure part-way
    // leaves uncommitted files behind, which VACUUM reclaims.
    val targetSize = meta.flatMap(_.configuration.get("delta.targetFileSize"))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption).filter(_ > 0)
    targetSize.fold(adds) { tgt =>
      // overflow-safe 1.5x threshold: `tgt * 3 / 2` wraps negative for a
      // targetFileSize above Long.MaxValue/3, classifying EVERY written
      // file as oversized and doubling the write's IO for nothing
      val threshold = if (tgt > Long.MaxValue / 3 * 2) Long.MaxValue else tgt / 2 * 3
      val fs = tablePath.getFileSystem(spark.sessionState.newHadoopConf())
      adds.filter(_.size <= threshold) ++ adds.filter(_.size > threshold).flatMap { a =>
        val chunks = math.max(2L, (a.size + tgt - 1) / tgt)
        val perFile = math.max(1L, (a.numRecords.get + chunks - 1) / chunks)
        val file = PathCodec.resolve(tablePath, a.path)
        val rel = PathCodec.decode(a.path)
        // glob-escaped: a table path with [] {} * ? would make this
        // re-read match nothing — or sibling files — instead of the file
        val split = write(
          spark.read.schema(dataSchema).format("parquet").load(PathCodec.globEscape(file.toString)),
          rel.take(math.max(0, rel.lastIndexOf('/'))), Nil,
          options + ("maxRecordsPerFile" -> perFile.toString))
        fs.delete(file, false)
        split
      }
    }
  }

  /** Spark's parquet format, writing what Delta requires whatever the
    * session says. Delta requires µs timestamps in parquet
    * (normalize_for_delta, kernel/schema/cast/mod.rs:325); INT96 would also
    * break footer stats. VARIANT columns must land as the PLAIN spec layout
    * struct<value, metadata> — Spark 4's default shredded + logical-type
    * annotated output is the separate variantShredding-preview feature, and
    * under our 3/7 `variantType` protocol it is unreadable by plain-variant
    * readers (pyarrow 16 rejects the footer's unknown LogicalType outright;
    * CrossLangSpec guards this). `ParquetOptions` and
    * `ParquetUtils.prepareWrite` read all four keys from the conf this
    * format hands them, so a copy of the session conf carries them and the
    * user's session is never touched. */
  private object DeltaParquetFormat extends parquet.ParquetFileFormat {
    private val Pinned = Seq(
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key -> "TIMESTAMP_MICROS",
      SQLConf.VARIANT_WRITE_SHREDDING_ENABLED.key -> "false",
      SQLConf.VARIANT_INFER_SHREDDING_SCHEMA.key -> "false",
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key -> "false")

    override def getSqlConf(spark: SparkSession): SQLConf = {
      val conf = super.getSqlConf(spark).clone()
      Pinned.foreach { case (k, v) => conf.setConfString(k, v) }
      conf
    }
  }

  /** Hive-style escaping for partition path segments (ASCII control and
    * filesystem-special chars → %XX), matching Spark/Hive behavior. */
  def escapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  /** Backtick-quoted literal column reference — `functions.col(name)`
    * DOT-PARSES its argument (the ColumnMapping.toPhysical trap), so a
    * top-level column literally named "a.b" resolves as struct access:
    * AnalysisException at best, a struct FIELD's data silently bound to
    * the wrong table column at worst. */
  private def quotedCol(name: String) =
    col("`" + name.replace("`", "``") + "`")

  /** Align `df` to the target schema: reorder columns, cast where needed.
    * Missing nullable columns are filled with nulls. */
  def normalize(df: DataFrame, target: StructType): DataFrame = {
    val cols = target.map { f =>
      // ALL case-insensitive matches, not find's first hit: a source with
      // case-duplicate columns (`id` and `ID` under spark.sql.caseSensitive)
      // slips past the extra-column guards (they lowercase both) and a
      // silent first-match would discard one column's data — delta-spark
      // raises the same ambiguity error here
      df.schema.filter(_.name.equalsIgnoreCase(f.name)) match {
        case Seq(src) =>
          if (src.dataType == f.dataType) quotedCol(src.name).as(f.name)
          else quotedCol(src.name).cast(f.dataType).as(f.name)
        case Seq() =>
          org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
        case many =>
          throw new IllegalArgumentException(
            s"ambiguous source columns ${many.map(_.name).mkString(", ")} " +
              s"all match table column '${f.name}' case-insensitively — " +
              "alias or drop the duplicates before writing")
      }
    }
    df.select(cols: _*)
  }

  /** Can a value of `from` be cast to `to` without losing information?
    * (The safe-cast lattice of kernel/schema/cast/merge_schema.rs:125.) */
  private def safelyCastable(from: org.apache.spark.sql.types.DataType,
                             to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType, FloatType | DoubleType) => true
      // int32 above 2^24 doesn't fit float32's 24-bit mantissa — same
      // reason Long→Double is rejected below
      case (IntegerType, DoubleType) => true
      case (IntegerType, FloatType) => false
      case (LongType, DoubleType) => false // precision loss beyond 2^53
      case (a: DecimalType, b: DecimalType) =>
        b.precision - b.scale >= a.precision - a.scale && b.scale >= a.scale
      // NO array/struct/map branches here: mergeTypes destructures every
      // same-kind nested pair BEFORE consulting this lattice (its recursion
      // merges rather than answers yes/no), so nested branches here would
      // be dead code — and a stale copy of the rules invites divergence
      case _ => false
    }
  }

  /** Delta-style schema merge for `mergeSchema` writes — field-level union
    * (merge_arrow_schema, kernel/schema/cast/merge_schema.rs:296). The table
    * type wins when the incoming type safely upcasts to it; the table column
    * is widened when the existing type safely upcasts to the incoming one;
    * anything else (narrowing, incompatible) errors rather than silently
    * truncating at write time (merge_schema.rs:125 semantics). */
  def mergeSchemas(table: StructType, incoming: StructType): StructType = {
    // Locale.ROOT, matching equalsIgnoreCase below: a default-locale
    // toLowerCase under tr_TR maps "ID" to dotless-i, so a case-differing
    // incoming column was BOTH merged (equalsIgnoreCase matched) AND
    // appended (the lowercase dedup missed) — a schema with duplicate
    // case-insensitive names that other readers reject outright
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val existing = table.map(f => lc(f.name) -> f).toMap
    val merged = table.map { tf =>
      incoming.find(_.name.equalsIgnoreCase(tf.name)) match {
        case Some(inF) if tf.dataType != inF.dataType =>
          tf.copy(dataType = mergeTypes(tf.name, tf.dataType, inF.dataType))
        case _ => tf
      }
    } ++ incoming.filterNot(f => existing.contains(lc(f.name)))
      .map(f => StructField(f.name, f.dataType, nullable = true, f.metadata))
    StructType(merged)
  }

  /** Field-level type merge: structs recurse (new NESTED fields evolve the
    * schema just like top-level ones — merge_schema.rs merges structs
    * field-wise); scalars follow the safe-cast lattice in both directions;
    * anything else errors rather than silently truncating. */
  private def mergeTypes(
      path: String,
      table: org.apache.spark.sql.types.DataType,
      incoming: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (table, incoming) match {
      case (a, b) if a == b => a
      case (a: StructType, b: StructType) => mergeSchemas(a, b)
      case (ArrayType(ae, an), ArrayType(be, bn)) =>
        ArrayType(mergeTypes(path + ".element", ae, be), an || bn)
      case (MapType(ak, av, an), MapType(bk, bv, bn)) =>
        // merge_schema.rs recurses into map key/value like struct fields
        MapType(mergeTypes(path + ".key", ak, bk),
          mergeTypes(path + ".value", av, bv), an || bn)
      case (a, b) if safelyCastable(b, a) => a
      case (a, b) if safelyCastable(a, b) => b
      case (a, b) => throw new IllegalArgumentException(
        s"Cannot merge schemas: column $path has incompatible types " +
        s"${a.simpleString} (table) vs ${b.simpleString} (data)")
    }
  }
}

/**
 * The one commit protocol of data-file writes (delta-spark's
 * `DelayedCommitProtocol` shape). A task writes each file at its final path
 * `root/[relDir/]<partition dir>/<name>`, takes the file's partition values
 * from the `k=v` segments of that directory, and once its files are closed
 * collects their stats and status and hands the driver their finished Adds
 * as its commit message. No file moves after it is written: the log commit
 * that names an Add is what publishes it. An aborted or killed task attempt
 * deletes its own files, an aborted job those of the tasks whose commit
 * messages it had received; both are best effort, and a leftover (such as
 * the files of a task that commits while its job is failing) is an
 * uncommitted file for VACUUM.
 */
private[table] class AddFileCommitProtocol(
    root: String,
    relDir: String,
    dataSchema: StructType,
    numIndexedCols: Int,
    statsCols: Option[Set[String]])
  extends FileCommitProtocol with Serializable {

  // task side: this attempt's name id and the relative path of each file
  // it opened
  @transient private var attemptId: String = _
  @transient private var opened: ArrayBuffer[String] = _
  // driver side: the Adds of tasks that committed, for abortJob
  @transient private lazy val committed = new ConcurrentLinkedQueue[AddFile]()

  /** The Adds of the committed job, in task order. */
  @transient var adds: Seq[AddFile] = Nil

  private def fileOf(rel: String): Path = new Path(new Path(root), new Path(null, null, rel))

  private def addsOf(msg: TaskCommitMessage): Seq[AddFile] = msg.obj.asInstanceOf[Seq[AddFile]]

  private def deleteQuietly(conf: Configuration, file: Path): Unit =
    try file.getFileSystem(conf).delete(file, false) catch {
      case NonFatal(e) => logWarning(s"could not delete uncommitted file $file", e)
    }

  override def setupJob(job: JobContext): Unit = ()

  override def setupTask(task: TaskAttemptContext): Unit = {
    // a fresh id per attempt: attempts write at final paths, so a retried or
    // speculative attempt must not reuse the names of the one it replaces
    attemptId = UUID.randomUUID().toString
    opened = ArrayBuffer.empty
  }

  override def newTaskTempFile(task: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val split = task.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-$attemptId${spec.suffix}"
    val rel = (Seq(relDir) ++ dir :+ name).filter(_.nonEmpty).mkString("/")
    opened += rel
    fileOf(rel).toString
  }

  /** `_change_data/a=1/b=x%2Fy/part-…` → `a -> 1, b -> x/y`: directories
    * without a `=` are skipped; the hive default partition is null. */
  private def partitionValues(rel: String): Map[String, String] =
    rel.split('/').init.filter(_.indexOf('=') > 0).map { seg =>
      val eq = seg.indexOf('=')
      val v = DeltaWriter.unescapePathName(seg.substring(eq + 1))
      DeltaWriter.unescapePathName(seg.substring(0, eq)) ->
        (if (v == PartitionCodec.HIVE_DEFAULT) null else v)
    }.toMap

  override def commitTask(task: TaskAttemptContext): TaskCommitMessage = {
    val conf = task.getConfiguration
    val adds = opened.toSeq.map { rel =>
      val file = fileOf(rel)
      val st = file.getFileSystem(conf).getFileStatus(file)
      val (_, stats) = ParquetStats.collect(conf, st, dataSchema, numIndexedCols, statsCols)
      AddFile(
        // the log records paths as percent-encoded relative URLs
        path = PathCodec.encode(rel),
        partitionValues = partitionValues(rel),
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = true,
        stats = Some(stats))
    }
    // a task killed because its job failed must not commit: the driver no
    // longer takes its message, so abortJob could not reach its files. The
    // throw sends it through abortTask instead.
    if (Option(TaskContext.get()).exists(_.isInterrupted()))
      throw new TaskKilledException("killed before its commit")
    new TaskCommitMessage(adds)
  }

  override def abortTask(task: TaskAttemptContext): Unit =
    Option(opened).foreach(_.foreach(rel => deleteQuietly(task.getConfiguration, fileOf(rel))))

  override def onTaskCommit(msg: TaskCommitMessage): Unit = committed.addAll(addsOf(msg).asJava)

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    adds = msgs.flatMap(addsOf)

  override def abortJob(job: JobContext): Unit =
    committed.forEach(a => deleteQuietly(job.getConfiguration, PathCodec.resolve(new Path(root), a.path)))
}

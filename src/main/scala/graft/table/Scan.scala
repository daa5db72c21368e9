package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.kernel.{AddFile, ColumnMapping, DeletionVectors, Metadata, PartitionCodec, PathKeys, Snapshot, StatsPruning}

/**
 * The read path: snapshot → (partition pruning + stats file skipping on the
 * driver) → a pruned explicit file list handed to Spark's vectorized
 * parquet source through a [[LogFileIndex]]. Spark then does projection
 * pushdown, parquet row-group filtering, whole-stage codegen — everything
 * below the file list is stock Catalyst, mirroring how delta-rs layers its
 * `DeltaScan` TableProvider on DataFusion's ParquetSource
 * (`delta_datafusion/table_provider/next/mod.rs:728-768`).
 *
 * Data files omit partition columns (Delta protocol). The index lists each
 * file under its partition row, typed from the LOG's partitionValues —
 * NOT hive directory inference, which cannot cover column-mapped or
 * random-prefix layouts — so Catalyst plans them as partition columns.
 */
object Scan {

  /** Broadcast memo for DV masks: repeated scans of the same snapshot — a
    * temp view queried many times, or the several passes of one DML — were
    * re-reading every DV bitmap sequentially on the driver and
    * re-broadcasting identical bytes per query. Key discipline:
    * - the SparkContext applicationId is part of the key — a cached
    *   broadcast from a stopped context would fail every task after a
    *   same-JVM session restart ("Broadcast used after destroy");
    * - the file set is identified by its md5 (128-bit), never a 32-bit
    *   hashCode — a collision between two pruned subsets would silently
    *   serve the wrong masks (wrong RESULTS, not an error);
    * - insertion-order eviction at a SMALL cap (8): entries hold strong
    *   references to broadcasts of whole DV bitmaps, and Spark's
    *   ContextCleaner can only reclaim them once unreferenced — a large
    *   cache would PIN hundreds of MB on long-lived drivers. Correctness
    *   never depends on a hit. */
  private val lookupMemo =
    new java.util.LinkedHashMap[(String, String, Long, String), AnyRef]() {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Long, String), AnyRef]): Boolean =
        size() > 8
    }
  /** md5 identity of an ordered path list. NUL-terminates each path inside
    * the digest: concatenation alone makes ["ab","c"] and ["a","bc"]
    * collide to one key (and wrong masks are silent wrong RESULTS);
    * 0x00 cannot appear in a valid path. */
  private[graft] def fileSetId(paths: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    paths.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  private def memoLookup[T <: AnyRef](spark: SparkSession, snapshot: Snapshot,
      paths: Seq[String])(build: => T): T = {
    val setId = fileSetId(paths)
    val key = (spark.sparkContext.applicationId, snapshot.tablePath.toString,
      snapshot.version, setId)
    // build OUTSIDE the lock: blob reads + broadcast can take seconds and
    // must not serialize unrelated tables' scans; a same-key race just
    // builds twice (harmless — the loser's broadcast is GC-reclaimed)
    Option(lookupMemo.synchronized(lookupMemo.get(key))) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = build
        lookupMemo.synchronized(lookupMemo.put(key, v))
        v
    }
  }

  /** All live files, no pruning. */
  def read(spark: SparkSession, snapshot: Snapshot): DataFrame =
    readFiles(spark, snapshot, snapshot.allFiles)

  /** Pruned read: only files that may satisfy `predicates`. */
  def readWhere(spark: SparkSession, snapshot: Snapshot, predicates: Seq[Expression]): DataFrame =
    readFiles(spark, snapshot, prunedFiles(snapshot, predicates, Some(spark)))

  def prunedFiles(snapshot: Snapshot, predicates: Seq[Expression],
                  spark: Option[SparkSession] = None): Seq[AddFile] =
    StatsPruning.pruneSnapshot(snapshot, predicates, spark)

  /** Read an explicit subset of the snapshot's files as a DataFrame with the
    * full table schema (partition columns reconstructed + cast).
    * With `withFileIdentity`, appends `__file` (path) and `__pos`
    * (row index in file) from Spark's `_metadata` column — a stable row
    * identity used by MERGE for duplicate-match detection and the
    * changed-file barrier (the reference's file-path + row-ordinal metadata
    * columns, `table_provider/next/mod.rs:986-1002`).
    *
    * Files carrying deletion vectors are read through a row-index anti-join
    * against the decoded DV bitmaps (the reference applies them as
    * selection-vector masks, next/scan/exec.rs:63-150). */
  def readFiles(
      spark: SparkSession,
      snapshot: Snapshot,
      files: Seq[AddFile],
      withFileIdentity: Boolean = false): DataFrame = {
    // Per-path occurrence WAVES: a streaming ignoreChanges batch window can
    // carry the SAME path re-added at two versions with different DV
    // states. DV masks key by path (the physical `_metadata.file_path` is
    // identical for both incarnations), so each incarnation must ride its
    // own scan leg or variantMap keeps one DV for both. Unique-path input
    // (every batch/DML caller) takes the single-wave fast path unchanged.
    if (files.map(_.path).distinct.size != files.size) {
      val occ = scala.collection.mutable.HashMap[String, Int]()
      val indexed = files.map { f =>
        val i = occ.getOrElse(f.path, 0); occ(f.path) = i + 1; (i, f)
      }
      return indexed.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, wave) =>
          readFilesUniquePaths(spark, snapshot, wave.map(_._2), withFileIdentity)
        }
        .reduce(_.unionByName(_))
    }
    readFilesUniquePaths(spark, snapshot, files, withFileIdentity)
  }

  private def readFilesUniquePaths(
      spark: SparkSession,
      snapshot: Snapshot,
      files: Seq[AddFile],
      withFileIdentity: Boolean): DataFrame = {
    val (dvFiles, plainFiles) = files.partition(_.deletionVector.exists(_.cardinality > 0))
    if (files.isEmpty || dvFiles.isEmpty) {
      val plain = readRaw(spark, snapshot, files, withIdentity = withFileIdentity)
      return plain
    }

    // DV-masked leg: needs row identity for the mask even if caller doesn't.
    // Bitmaps stay roaring-COMPRESSED in a broadcast keyed by file path and
    // are tested per-row by a codegen'd predicate — no join in the plan, and
    // the broadcast is KBs per masked file instead of exploded positions
    // (at 1B masked rows the old (file,pos) anti-join broadcast was tens of
    // GB; this is the reference's per-file selection-vector shape,
    // next/scan/exec.rs:63-150).
    val masked = {
      val withId = readRaw(spark, snapshot, dvFiles, withIdentity = true)
      // memo identity = the RECONCILE key (path + DV uniqueId), not path
      // alone: a pinned snapshot (streaming source) can serve batches where
      // the same path set reappears with a NEW deletion vector — a
      // path-only key would hit the stale mask and emit deleted rows
      val lookup = memoLookup(spark, snapshot, dvFiles.map(_.reconcileKey)) {
        val conf = spark.sessionState.newHadoopConf()
        val tp = new org.apache.hadoop.fs.Path(snapshot.tablePath)
        // parallel blob reads: thousands of sequential open/read round
        // trips on an object store are seconds of driver-side planning
        // latency; the reads are independent
        // blocking{}: these are IO parks, and the shared global pool is
        // sized to cores — un-marked they would pin every worker
        import scala.concurrent.{blocking, Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val pairs = Await.result(
          Future.traverse(dvFiles.toList) { f => Future { blocking {
            snapshot.absolutePath(f.path) ->
              DeletionVectors.readBytes(tp, f.deletionVector.get, conf)
          }}}, scala.concurrent.duration.Duration.Inf)
        val masks: Map[String, Array[Byte]] = PathKeys.variantMap(pairs)
        new graft.functions.DvMaskLookup(spark.sparkContext.broadcast(masks))
      }
      import org.apache.spark.sql.GraftSqlBridge
      withId.filter(GraftSqlBridge.column(graft.functions.DvMaskKeep(
        GraftSqlBridge.expression(col("__file")),
        GraftSqlBridge.expression(col("__pos")), lookup)))
    }
    val maskedOut = if (withFileIdentity) masked else masked.drop("__file", "__pos")
    if (plainFiles.isEmpty) maskedOut
    else readRaw(spark, snapshot, plainFiles, withIdentity = withFileIdentity)
      .unionByName(maskedOut)
  }

  private def readRaw(
      spark: SparkSession,
      snapshot: Snapshot,
      files: Seq[AddFile],
      withIdentity: Boolean): DataFrame = {
    val schema = snapshot.schema
    // __file/__pos are this engine's row-identity channel (DV masking, DML
    // bookkeeping): a DATA column with either name would collide — the
    // masked leg's drop() would discard user data and the DML references
    // would bind ambiguously. Fail loudly up front; identity columns are
    // only attached on DV-masked or DML scans, so plain tables with such
    // names still read fine.
    if (withIdentity) schema.fieldNames.find(n => n == "__file" || n == "__pos")
      .foreach { n =>
        throw new IllegalArgumentException(
          s"column name '$n' is reserved for row identity on DV-masked/DML " +
            "scans of this engine — rename the column")
      }
    if (files.isEmpty) {
      val out = if (withIdentity)
        StructType(schema.fields :+ StructField("__file", StringType) :+
          StructField("__pos", LongType))
      else schema
      return emptyDf(spark, out)
    }

    val layout = new FileLayout(snapshot.metadata)
    val raw = layout.relation(spark, snapshot.tablePath, files.map(f =>
      LogFileIndex.Entry(f.path, f.size, f.modificationTime, layout.partitionRow(f.partitionValues))))
    // Spark HIDES the file-source _metadata struct whenever the data
    // schema contains a column of that name (protocol-legal in foreign-
    // written tables): col("_metadata.file_path") would then bind the USER
    // column — AnalysisException on DV reads at best, wrong file identity
    // at worst. metadataColumn() resolves the METADATA column explicitly,
    // immune to shadowing; the data column itself still reads normally.
    val identity: Seq[Column] =
      if (withIdentity) {
        val fileMeta = raw.metadataColumn("_metadata")
        Seq(fileMeta.getField("file_path").as("__file"),
          fileMeta.getField("row_index").as("__pos"))
      } else Nil
    raw.select(layout.columns ++ identity: _*)
  }

  /** How a table's data files lay out its schema: under column mapping
    * they carry physical names (column_mapping.rs semantics), and they
    * omit the partition columns, which come from the log. */
  private[graft] final class FileLayout(meta: Metadata) {
    private val schema = meta.schema
    private val partCols = meta.partitionColumns
    private val mapped = ColumnMapping.enabled(meta)
    private val nm =
      if (mapped) ColumnMapping.nameMap(schema) else Map.empty[String, String]
    private def physical(n: String): String = nm.getOrElse(n, n)

    /** The partition columns as the files name them, with declared types. */
    val partitionFields: Seq[StructField] = schema
      .filter(f => partCols.contains(f.name))
      .map(f => StructField(physical(f.name), f.dataType))

    val dataSchema: StructType = {
      val logical = StructType(schema.filterNot(f => partCols.contains(f.name)))
      if (mapped) ColumnMapping.physicalSchema(logical) else logical
    }

    /** A file's partition row from its log partitionValues (keyed by
      * physical name): a missing key, JSON null and
      * `__HIVE_DEFAULT_PARTITION__` read NULL. */
    def partitionRow(pv: Map[String, String]): Seq[Literal] = partitionFields.map { f =>
      Literal.create(pv.get(f.name).filterNot(_ == PartitionCodec.HIVE_DEFAULT).orNull, StringType)
    }

    /** `entries` as Spark's parquet relation over a [[LogFileIndex]]:
      * the data columns plus `extraData`, then the partition columns plus
      * `extraPartition` (which each entry's row carries last). */
    def relation(spark: SparkSession, tablePath: String, entries: Seq[LogFileIndex.Entry],
        extraData: Seq[StructField] = Nil, extraPartition: Seq[StructField] = Nil): DataFrame = {
      val index = new LogFileIndex(spark, tablePath,
        StructType(partitionFields ++ extraPartition), entries)
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
        StructType(dataSchema ++ extraData), None, new ParquetFileFormat, Map.empty)(spark))
    }

    /** The table's columns under their logical names, over [[relation]].
      * Literal attribute references, never parsing col(): a legal column
      * name containing a dot (or a convert_to_delta physical name) would
      * otherwise bind a struct FIELD path. A column is cast only where its
      * physical type differs (nested field names): a cast is not "cheap"
      * to Spark's `ScanOperation`, which then keeps a filter that names
      * the column twice above the scan instead of pushing it down. */
    val columns: Seq[Column] = {
      import org.apache.spark.sql.GraftSqlBridge.attr
      val physicalTypes = dataSchema.map(f => f.name -> f.dataType).toMap
      schema.map { f =>
        val c = attr(physical(f.name))
        if (!mapped) c
        else if (physicalTypes.get(physical(f.name)).forall(_ == f.dataType)) c.as(f.name)
        else c.cast(f.dataType).as(f.name)
      }
    }
  }

  def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Parse a predicate string with Spark's SQL parser. */
  def parsePredicate(spark: SparkSession, sql: String): Expression =
    spark.sessionState.sqlParser.parseExpression(sql)
}

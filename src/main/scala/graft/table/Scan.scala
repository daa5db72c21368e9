package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.{DvMaskKeep, DvMaskLookup}
import graft.kernel.{AddFile, ColumnMapping, DeletionVectors, Metadata, PartitionCodec, Snapshot, StatsPruning}

/**
 * The read path: snapshot → (partition pruning + stats file skipping on the
 * driver) → a pruned explicit file list handed to Spark's vectorized
 * parquet source through a [[LogFileIndex]]. Spark then does projection
 * pushdown, parquet row-group filtering, whole-stage codegen — everything
 * below the file list is stock Catalyst, mirroring how delta-rs layers its
 * `DeltaScan` TableProvider on DataFusion's ParquetSource
 * (`delta_datafusion/table_provider/next/mod.rs:728-768`). One exception:
 * [[GraftScanPlanning]] plans the comparison constants of the filter and
 * projection over the scan as codegen parameters, so the generated class
 * is compiled once per query shape, not once per constant.
 *
 * Data files omit partition columns (Delta protocol). The index lists each
 * file under its partition row, typed from the LOG's partitionValues —
 * NOT hive directory inference, which cannot cover column-mapped or
 * random-prefix layouts — so Catalyst plans them as partition columns.
 *
 * The index also gives every file its log identity as constant `_metadata`
 * fields: a scanned row names its file by `_metadata.log_path`
 * (`AddFile.path`, the DML key) and its deletion vector by
 * `_metadata.dv_slot`, so a table with deletion vectors is still one scan
 * under one mask filter. `_metadata` resolves through `Project` and
 * `Filter` but not through `Union`: take it from a scan, before unions.
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
    new java.util.LinkedHashMap[(String, String, Long, String), DvMaskLookup]() {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Long, String), DvMaskLookup]): Boolean =
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

  /** All live files, no pruning. */
  def read(spark: SparkSession, snapshot: Snapshot): DataFrame =
    readFiles(spark, snapshot, snapshot.allFiles)

  /** Pruned read: only files that may satisfy `predicates`. */
  def readWhere(spark: SparkSession, snapshot: Snapshot, predicates: Seq[Expression]): DataFrame =
    readFiles(spark, snapshot, prunedFiles(snapshot, predicates))

  /** The snapshot's files that may satisfy `predicates` ([[StatsPruning.prune]]). */
  def prunedFiles(snapshot: Snapshot, predicates: Seq[Expression]): Seq[AddFile] =
    StatsPruning.prune(snapshot, predicates)

  /** The same; the session is unused. Kept only because the benchmark's
    * traced scan (`lakebench/src/lakebench/Workloads.scala`) still passes one. */
  @deprecated("the session is unused: call prunedFiles(snapshot, predicates)", "0.1.0")
  def prunedFiles(snapshot: Snapshot, predicates: Seq[Expression],
      spark: Option[SparkSession]): Seq[AddFile] = prunedFiles(snapshot, predicates)

  /** Read an explicit subset of the snapshot's files as a DataFrame with the
    * full table schema (partition columns reconstructed + cast), as ONE
    * relation over a [[LogFileIndex]].
    * With `withFileIdentity`, appends `__file` (the file's log path,
    * `AddFile.path`) and `__pos` (row index in file) from Spark's
    * `_metadata` column — a stable row identity used by DML for matched
    * files, DV masks and MERGE's duplicate-match detection (the
    * reference's file-path + row-ordinal metadata columns,
    * `table_provider/next/mod.rs:986-1002`).
    *
    * Files carrying deletion vectors get slots 0..n-1 in input order, and
    * the scan keeps a row only if its `_metadata.dv_slot` bitmap does not
    * hold its row index (the reference applies DVs as per-file
    * selection-vector masks, next/scan/exec.rs:63-150). The same path at
    * two DV states (a streaming batch window re-adding it) is two listings
    * with two slots. */
  def readFiles(
      spark: SparkSession,
      snapshot: Snapshot,
      files: Seq[AddFile],
      withFileIdentity: Boolean = false): DataFrame = {
    val schema = snapshot.schema
    // __file/__pos are this engine's row-identity channel (DML
    // bookkeeping): a DATA column with either name would make the DML
    // references bind ambiguously. Fail loudly up front; identity columns
    // are only attached on DML scans, so tables with such names still
    // read fine.
    if (withFileIdentity) schema.fieldNames.find(n => n == "__file" || n == "__pos")
      .foreach { n =>
        throw new IllegalArgumentException(
          s"column name '$n' is reserved for row identity on DML " +
            "scans of this engine — rename the column")
      }
    if (files.isEmpty) {
      val out = if (withFileIdentity)
        StructType(schema.fields :+ StructField("__file", StringType) :+
          StructField("__pos", LongType))
      else schema
      return emptyDf(spark, out)
    }

    val layout = new FileLayout(snapshot.metadata)
    def masked(f: AddFile) = f.deletionVector.exists(_.cardinality > 0)
    val slots = files.scanLeft(0)((n, f) => if (masked(f)) n + 1 else n)
    val raw = layout.relation(spark, snapshot.tablePath, files.zip(slots).map { case (f, n) =>
      LogFileIndex.Entry(f.path, f.size, f.modificationTime,
        layout.partitionRow(f.partitionValues), Option.when(masked(f))(n))
    })
    // Spark HIDES the file-source _metadata struct whenever the data
    // schema contains a column of that name (protocol-legal in foreign-
    // written tables): col("_metadata.row_index") would then bind the USER
    // column. metadataColumn() resolves the METADATA column explicitly,
    // immune to shadowing; the data column itself still reads normally.
    lazy val fileMeta = raw.metadataColumn("_metadata")
    val dvFiles = files.filter(masked)
    val kept =
      if (dvFiles.isEmpty) raw
      else {
        import org.apache.spark.sql.GraftSqlBridge.{column, expression}
        raw.filter(column(DvMaskKeep(
          expression(fileMeta.getField(LogFileIndex.DvSlot)),
          expression(fileMeta.getField("row_index")), dvLookup(spark, snapshot, dvFiles))))
      }
    val identity: Seq[Column] =
      if (withFileIdentity)
        Seq(fileMeta.getField(LogFileIndex.LogPath).as("__file"),
          fileMeta.getField("row_index").as("__pos"))
      else Nil
    kept.select(layout.columns ++ identity: _*)
  }

  /** The DV bitmaps of `dvFiles`, broadcast in slot order. */
  private def dvLookup(spark: SparkSession, snapshot: Snapshot,
      dvFiles: Seq[AddFile]): DvMaskLookup = {
    // memo identity = the RECONCILE keys (path + DV uniqueId) in slot
    // order, not paths: a pinned snapshot (streaming source) can serve
    // batches where the same path set reappears with a NEW deletion
    // vector — a path-only key would hit the stale mask and emit deleted
    // rows
    val key = (spark.sparkContext.applicationId, snapshot.tablePath.toString,
      snapshot.version, fileSetId(dvFiles.map(_.reconcileKey)))
    // build OUTSIDE the lock: blob reads + broadcast can take seconds and
    // must not serialize unrelated tables' scans; a same-key race just
    // builds twice (harmless — the loser's broadcast is GC-reclaimed)
    Option(lookupMemo.synchronized(lookupMemo.get(key))).getOrElse {
      val conf = spark.sessionState.newHadoopConf()
      val tp = new org.apache.hadoop.fs.Path(snapshot.tablePath)
      // parallel blob reads: thousands of sequential open/read round
      // trips on an object store are seconds of driver-side planning
      // latency; the reads are independent
      // blocking{}: these are IO parks, and the shared global pool is
      // sized to cores — un-marked they would pin every worker
      import scala.concurrent.{blocking, Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val masks = Await.result(
        Future.traverse(dvFiles.toList) { f => Future { blocking {
          DeletionVectors.readBytes(tp, f.deletionVector.get, conf)
        }}}, scala.concurrent.duration.Duration.Inf)
      val lookup = new DvMaskLookup(spark.sparkContext.broadcast(masks.toArray))
      lookupMemo.synchronized(lookupMemo.put(key, lookup))
      lookup
    }
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
      * `extraPartition` (which each entry's row carries last). Every graft
      * relation is built here, so this registers [[GraftScanPlanning]]
      * with the session. */
    def relation(spark: SparkSession, tablePath: String, entries: Seq[LogFileIndex.Entry],
        extraData: Seq[StructField] = Nil, extraPartition: Seq[StructField] = Nil): DataFrame = {
      org.apache.spark.sql.GraftSqlBridge.registerStrategy(spark, GraftScanPlanning)
      val index = new LogFileIndex(spark, tablePath,
        StructType(partitionFields ++ extraPartition), entries)
      spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
        StructType(dataSchema ++ extraData), None, new LogParquetFileFormat, Map.empty)(spark))
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

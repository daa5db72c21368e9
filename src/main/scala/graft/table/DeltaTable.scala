package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.kernel._
import graft.ops._

/**
 * User-facing handle on a Delta table — the Spark-native analogue of
 * delta-rs `DeltaTable` (`crates/core/src/table/mod.rs`) plus its operation
 * builders (`crates/core/src/operations/mod.rs:188-250`). All relational
 * work happens in Spark DataFrames; this class owns only the metadata plane
 * (snapshot cache + transactions).
 */
class DeltaTable private[graft] (
    val spark: SparkSession,
    val tablePath: Path,
    // an already-constructed DeltaLog for this path (the catalog keeps one
    // per table, and a write has one from its existence check — each new
    // one clones the Hadoop conf); null = construct our own
    log0: DeltaLog = null) {

  require(log0 == null || log0.tablePath == tablePath,
    s"DeltaTable: supplied DeltaLog is for ${if (log0 == null) "" else log0.tablePath}, not $tablePath")
  val deltaLog = if (log0 == null) new DeltaLog(spark, tablePath) else log0

  @volatile private var cached: Snapshot = _

  // synchronized: concurrent first-touch callers must not each pay a full
  // log replay (N-1 discarded), and two racing refresh() calls must not
  // let the older snapshot's assignment land last and regress a version a
  // caller already observed
  def snapshot: Snapshot = synchronized {
    if (cached == null) cached = deltaLog.snapshot()
    cached
  }

  /** Re-read the log — incremental when a snapshot is cached
    * (update_incremental, table/mod.rs:206). The first load of a handle goes
    * through the kernel snapshot cache (`DeltaLog.snapshot`). */
  def refresh(): Snapshot = refresh(ownCommit = false)
  private def refresh(ownCommit: Boolean): Snapshot = synchronized {
    val next = if (cached == null) deltaLog.snapshot() else deltaLog.update(cached, ownCommit)
    // never regress: a concurrent commitAndRefresh may have installed a
    // newer snapshot while this listing ran
    if (cached == null || next.version >= cached.version) cached = next
    cached
  }

  def version: Long = snapshot.version
  def schema = snapshot.schema
  def partitionColumns: Seq[String] = snapshot.partitionColumns
  def metadata: Metadata = snapshot.metadata
  def protocol: Protocol = snapshot.protocol

  /** Relative data-file paths (python/deltalake table.files()). */
  def files: Seq[String] = snapshot.allFiles.map(_.path)

  /** Absolute data-file URIs (table.file_uris()). */
  def fileUris: Seq[String] = {
    // ONE read of the synchronized snapshot getter (the partitions()
    // discipline): per-file re-reads contend the handle lock against
    // refresh()/replay and could span two versions
    val snap = snapshot
    snap.allFiles.map(f => snap.absolutePath(f.path).toString)
  }

  /** Distinct partition-value assignments of the live files, optionally
    * narrowed by a predicate (python/deltalake table.partitions(), table.py:341). */
  def partitions(predicate: Option[String] = None): Seq[Map[String, String]] = {
    // ONE read of the volatile snapshot handle: files and the
    // physical→logical map must come from the SAME version (a concurrent
    // refresh between the two reads would translate old keys with new
    // metadata — the BlindDeltaTable.append TOCTOU, one method over)
    val snap = snapshot
    val files = predicate match {
      case Some(p) => Scan.prunedFiles(snap, Seq(Scan.parsePredicate(spark, p)), Some(spark))
      case None => snap.allFiles
    }
    // Add actions key partitionValues by PHYSICAL name under column
    // mapping; the API (like the python table.partitions() it mirrors, and
    // like this method's own predicate argument) speaks LOGICAL names —
    // translate back so callers' result("date") lookups don't key-miss
    val m = snap.metadata
    val toLogical: Map[String, String] =
      if (graft.kernel.ColumnMapping.enabled(m))
        graft.kernel.ColumnMapping.nameMap(m.schema).map(_.swap)
      else Map.empty
    files.map(_.partitionValues.map { case (k, v) =>
      toLogical.getOrElse(k, k) -> v
    }).distinct
  }

  /** The live `add` actions as a DataFrame — path, partition values, size,
    * stats fields (python/deltalake get_add_actions(flatten), table.py:1175).
    * Flattened: numRecords plus per-column min/max/nullCount columns. */
  def getAddActions(flatten: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, from_json}
    import org.apache.spark.sql.types._
    import spark.implicits._
    val base = snapshot.allFiles.map { f =>
      (f.path, f.partitionValues, f.size, f.modificationTime, f.dataChange,
        f.stats.orNull)
    }.toDF("path", "partition_values", "size_bytes", "modification_time",
      "data_change", "stats")
    if (!flatten) base
    else {
      // nullCount parses as map<string,STRING>, values cast per-entry:
      // delta-spark stats for struct columns nest objects inside the maps,
      // and a map<string,long> schema made from_json null the whole map
      // for every such file — nested entries now surface as a JSON-string
      // min/max value and a NULL null-count for that key instead of
      // poisoning the flat top-level columns
      import org.apache.spark.sql.functions.{transform_values, when}
      val statsSchema = StructType(Seq(
        StructField("numRecords", LongType),
        StructField("minValues", MapType(StringType, StringType)),
        StructField("maxValues", MapType(StringType, StringType)),
        StructField("nullCount", MapType(StringType, StringType))))
      base.withColumn("s", from_json(col("stats"), statsSchema))
        .withColumn("num_records", col("s.numRecords"))
        .withColumn("min_values", col("s.minValues"))
        .withColumn("max_values", col("s.maxValues"))
        .withColumn("null_counts", transform_values(col("s.nullCount"),
          (_, v) => when(v.rlike("^-?\\d+$"), v.cast(LongType))))
        .drop("s", "stats")
    }
  }

  // ---- read ----

  def toDF: DataFrame = Scan.read(spark, snapshot)

  /** Pruned scan: file skipping on `predicate`, exact filter re-applied by Spark. */
  def scanWhere(predicate: String): DataFrame = {
    val expr = Scan.parsePredicate(spark, predicate)
    Scan.readWhere(spark, snapshot, Seq(expr)).filter(predicate)
  }

  /** Time travel (table/mod.rs:232 load_version). */
  def asOfVersion(v: Long): DataFrame =
    Scan.read(spark, deltaLog.snapshotAt(v))

  /** Time travel by timestamp (table/mod.rs:375 load_with_datetime). */
  def asOfTimestamp(tsMs: Long): DataFrame =
    Scan.read(spark, deltaLog.snapshotForTimestamp(tsMs))

  def history(limit: Option[Int] = None): Seq[(Long, Long, Option[CommitInfo])] =
    deltaLog.history(limit)

  /** Stats-only row count (python/deltalake/table.py:584-604). */
  def approxCount: Option[Long] = snapshot.approxNumRecords

  /** Per-file row keep-masks for files carrying deletion vectors
    * (python `DeltaTable.deletion_vectors()`, table.py:486): one row per
    * DV'd file — (filepath, selection_vector) where selection_vector[i] is
    * false iff row i is deleted. Bitmaps decode in executor tasks; only
    * files WITH DVs are returned, so the result is bounded by masked-file
    * count, not table size. */
  def deletionVectors: DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val root = tablePath.toString
    val snap = snapshot // one read of the handle (partitions() discipline)
    val masked = snap.allFiles.filter(_.deletionVector.isDefined).map { f =>
      val n = f.numRecords.getOrElse(
        throw new IllegalStateException(s"file ${f.path} has a DV but no numRecords stat"))
      (snap.absolutePath(f.path).toString, f.deletionVector.get, n)
    }
    spark.createDataset(masked)
      .mapPartitions { it =>
        val tp = new Path(root)
        it.map { case (uri, dv, n) =>
          require(n <= Int.MaxValue, s"selection vector of $n rows for $uri")
          // the decoder returns STRICTLY ASCENDING positions — one linear
          // merge walk builds the vector with zero boxing (a Set[Long]
          // would allocate a boxed entry per deleted row and hash-probe
          // once per table row)
          val deleted = DeletionVectors.read(tp, dv, conf.value)
          val sel = new Array[Boolean](n.toInt)
          var i = 0
          var j = 0
          while (i < sel.length) {
            if (j < deleted.length && deleted(j) == i.toLong) j += 1
            else sel(i) = true
            i += 1
          }
          (uri, scala.collection.immutable.ArraySeq.unsafeWrapArray(sel))
        }
      }
      .toDF("filepath", "selection_vector")
  }

  /** Last recorded version for an idempotent-writer appId
    * (python/deltalake/table.py:1318-1330). */
  def txnVersion(appId: String): Option[Long] = snapshot.txns.get(appId)

  def startTransaction(isolation: IsolationLevel = IsolationLevel.default) =
    new OptimisticTransaction(deltaLog, Some(snapshot), isolation)

  /** Transaction pinned to the caller's PLANNING snapshot. Every operation
    * that scans/derives from a snapshot must base its transaction on THAT
    * snapshot, not the handle's current cache: a concurrent commit on the
    * same handle (its commitAndRefresh advances the shared cache) landing
    * between the op's refresh() and startTransaction() would otherwise be
    * folded into the transaction base UNCHECKED — the op's read set never
    * conflict-checks it, silently lost-updating (and for idempotent
    * replays, double-applying: the winner's SetTransaction marker sits in
    * the base where checkConflicts never sees it). Pinning makes the
    * commit retry loop replay the gap commits through the conflict checker
    * — the same rule the multi-commit OPTIMIZE chunks already follow. */
  def startTransaction(pinned: Snapshot): OptimisticTransaction =
    new OptimisticTransaction(deltaLog, Some(pinned))

  private[graft] def commitAndRefresh(
      txn: OptimisticTransaction, actions: Seq[Action], op: Operation): Long = {
    val v = txn.commit(actions, op)
    refresh(ownCommit = true)
    v
  }

  // ---- DML ----

  /** `appTxn`: optional (appId, version) idempotency marker — the delete
    * rides a `txn` action and an already-applied replay no-ops with
    * `replay_skipped` metrics (reference CommitProperties app_transactions,
    * kernel/transaction/mod.rs:1-117; same contract as
    * [[graft.ops.MergeBuilder.withAppTransaction]]). */
  def delete(predicate: Option[String] = None,
             appTxn: Option[(String, Long)] = None): Map[String, String] =
    DeleteOp.run(this, predicate, appTxn)

  /** `appTxn`: idempotency marker, see [[delete]]. */
  def update(set: Map[String, Column], predicate: Option[String] = None,
             appTxn: Option[(String, Long)] = None): Map[String, String] =
    UpdateOp.run(this, set, predicate, appTxn)

  def merge(source: DataFrame, condition: String): MergeBuilder =
    new MergeBuilder(this, source, condition)

  // ---- maintenance ----

  def optimizeCompact(targetSizeBytes: Long = 128L * 1024 * 1024,
                      predicate: Option[String] = None,
                      minCommitInterval: Option[Long] = None): Map[String, String] =
    OptimizeOp.compact(this, targetSizeBytes, predicate, minCommitInterval)

  def optimizeZOrder(columns: Seq[String],
                     targetSizeBytes: Long = 128L * 1024 * 1024,
                     predicate: Option[String] = None): Map[String, String] =
    OptimizeOp.zorder(this, columns, targetSizeBytes, predicate)

  /** VACUUM (vacuum.rs VacuumBuilder). `mode` = "full" (default —
    * delta-spark semantics: expired tombstoned files AND untracked orphans
    * past retention) or "lite" (reference default: only files an expired
    * tombstone records). `keepVersions` protects every file those versions
    * reference (with_keep_versions, vacuum.rs:182). */
  def vacuum(retentionHours: Double = 24 * 7, dryRun: Boolean = false,
             enforceRetention: Boolean = true, mode: String = "full",
             keepVersions: Seq[Long] = Nil): Seq[String] =
    vacuumDetailed(retentionHours, dryRun, enforceRetention, mode,
      keepVersions).paths

  /** [[vacuum]] with the exact candidate count and truncation flag —
    * above `spark.graft.vacuum.collectThreshold` the path list is a
    * capped sample and [[VacuumOp.VacuumResult.count]] is the only
    * driver-side carrier of the true total on dry runs. */
  def vacuumDetailed(retentionHours: Double = 24 * 7, dryRun: Boolean = false,
                     enforceRetention: Boolean = true, mode: String = "full",
                     keepVersions: Seq[Long] = Nil): VacuumOp.VacuumResult =
    VacuumOp.run(this, retentionHours, dryRun, enforceRetention, mode, keepVersions)

  def restore(version: Long, ignoreMissingFiles: Boolean = false): Map[String, String] =
    RestoreOp.run(this, version, ignoreMissingFiles)

  /** Restore to the last version committed at or before `tsMs`
    * (restore.rs:89 datetime_to_restore; same resolution rule as
    * time-travel reads). */
  def restoreToTimestamp(tsMs: Long): Map[String, String] =
    RestoreOp.run(this, deltaLog.snapshotForTimestamp(tsMs).version)

  def fsck(dryRun: Boolean = false): Seq[String] = FsckOp.run(this, dryRun)

  def addConstraint(name: String, expr: String): Unit =
    ConstraintsOp.add(this, name, expr)

  def dropConstraint(name: String): Unit = ConstraintsOp.drop(this, name)

  def setProperties(props: Map[String, String]): Unit =
    MetadataOps.setProperties(this, props)

  def addColumns(newCols: org.apache.spark.sql.types.StructType): Unit =
    MetadataOps.addColumns(this, newCols)

  /** One ALTER TABLE statement = one commit (columns + properties +
    * comment); separate commits leave a conflicted statement half-applied. */
  def alterCombined(newCols: org.apache.spark.sql.types.StructType,
                    props: Map[String, String],
                    description: Option[String]): Unit =
    MetadataOps.alterCombined(this, newCols, props, description)

  def generateSymlinkManifest(): Unit = GenerateManifestOp.run(this)

  /** Force a checkpoint of the current table state (python
    * `create_checkpoint`, table.py:1141; `protocol/checkpoints.rs`).
    * Auto-checkpointing (`delta.checkpointInterval`, post-commit) uses the
    * same writer; this is the explicit maintenance surface. */
  def createCheckpoint(): Unit = deltaLog.checkpoint(refresh())

  /** Delete expired log files (commits/checkpoints/compactions older than
    * `delta.logRetentionDuration` and behind the newest checkpoint) —
    * python `cleanup_metadata`, table.py:1153. No-op while no checkpoint
    * exists: every commit is still required for replay. Honors
    * `delta.enableExpiredLogCleanup` like the post-commit path. */
  def cleanupMetadata(): Unit = {
    val snap = refresh()
    LogCleanup.latestCheckpointVersion(deltaLog).foreach { cp =>
      LogCleanup.run(deltaLog, cp, Some(snap.metadata))
    }
  }

  /** Write a log-compaction file for the commit range (python
    * `DeltaTable.compact_logs`; `protocol/log_compaction.rs:92`). Replay
    * substitutes it for the individual commits it covers. */
  def compactLogs(startVersion: Long, endVersion: Long): Unit = {
    // validate against the LOG, not this handle's possibly-stale cached
    // snapshot — concurrent commits make higher versions perfectly valid
    val latest = deltaLog.latestVersion()
    require(endVersion <= latest,
      s"endVersion $endVersion beyond latest version $latest")
    LogCompaction.write(deltaLog, startVersion, endVersion)
  }

  def addFeature(feature: String, allowProtocolVersionIncrease: Boolean = true): Unit =
    MetadataOps.addFeature(this, feature, allowProtocolVersionIncrease)

  def updateFieldMetadata(column: String, metadata: Map[String, String]): Unit =
    MetadataOps.updateFieldMetadata(this, column, metadata)

  def updateTableMetadata(name: Option[String] = None,
                          description: Option[String] = None): Unit =
    MetadataOps.updateTableMetadata(this, name, description)

  // ---- SQL surface (QueryBuilder equivalent, python/deltalake/query.py:42-53) ----

  /** Register this table's current snapshot under `name` so arbitrary
    * `spark.sql` runs against it. */
  def createTempView(name: String): Unit = toDF.createOrReplaceTempView(name)

  /** QueryBuilder.execute: register + run in one call. */
  def sql(viewName: String, query: String): DataFrame = {
    createTempView(viewName)
    spark.sql(query)
  }

  // ---- CDF ----

  def loadCdf(startingVersion: Long, endingVersion: Option[Long] = None): DataFrame =
    CdfRead.load(this, startingVersion, endingVersion)

  /** CDF by timestamp bounds (load_cdf.rs:102-126). */
  def loadCdfBetweenTimestamps(startTsMs: Long, endTsMs: Option[Long] = None,
                               allowOutOfRange: Boolean = false): DataFrame =
    CdfRead.loadBetweenTimestamps(this, startTsMs, endTsMs, allowOutOfRange)
}

object DeltaTable {
  private[table] val logger = org.slf4j.LoggerFactory.getLogger("graft.table")

  def forPath(spark: SparkSession, path: String): DeltaTable = {
    val t = new DeltaTable(spark, new Path(path))
    if (!t.deltaLog.tableExists) throw new DeltaTableNotFoundException(path)
    t
  }

  /** Open `database.table` through a name→location catalog (Unity / Glue —
    * `graft.catalog.DataCatalogs`); the reference's catalog-resolution
    * entry point (`crates/core/src/lib.rs` open_table_with_* via
    * `data_catalog/mod.rs:50`). */
  def forName(spark: SparkSession, catalog: graft.catalog.DataCatalog,
              database: String, table: String): DeltaTable =
    forPath(spark, catalog.resolveTableUri(database, table))

  def isDeltaTable(spark: SparkSession, path: String): Boolean =
    new DeltaLog(spark, new Path(path)).tableExists

  /** Metadata-only CREATE (operations/create.rs:79). */
  def create(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionColumns: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty,
      name: Option[String] = None,
      description: Option[String] = None): DeltaTable = {
    val tablePath = new Path(path)
    val log = new DeltaLog(spark, tablePath)
    require(!log.tableExists, s"Delta table already exists at $path")
    graft.ops.WriteIntoDelta.validatePartitionColumns(schema, partitionColumns)
    val (schema2, conf2, protocol) =
      graft.ops.WriteIntoDelta.prepareCreateSchema(schema, configuration)
    val metadata = Metadata(
      name = name, description = description,
      schemaString = schema2.json,
      partitionColumns = partitionColumns,
      configuration = conf2,
      createdTime = Some(System.currentTimeMillis()))
    val txn = new OptimisticTransaction(log, None)
    txn.commit(Seq(protocol, metadata),
      Operation("CREATE TABLE", Map(
        "mode" -> "ErrorIfExists",
        "partitionBy" -> graft.ops.WriteIntoDelta.partitionByJson(partitionColumns))))
    new DeltaTable(spark, tablePath)
  }

  /** Batch write — see [[graft.ops.WriteIntoDelta]]. `appTxn`: optional
    * (appId, version) idempotency marker; a replayed write whose marker is
    * at or below the table's recorded position no-ops (reference
    * CommitProperties app_transactions, kernel/transaction/mod.rs:1-117;
    * delta-spark txnAppId/txnVersion). */
  def write(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      mode: String = "append",
      partitionBy: Seq[String] = Nil,
      replaceWhere: Option[String] = None,
      mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false,
      configuration: Map[String, String] = Map.empty,
      appTxn: Option[(String, Long)] = None): DeltaTable =
    WriteIntoDelta.run(spark, df, path, mode, partitionBy, replaceWhere,
      mergeSchema, overwriteSchema, configuration, appTxn)

  /** In-place convert of a parquet directory (operations/convert_to_delta.rs). */
  def convertToDelta(spark: SparkSession, path: String,
                     partitionSchema: Option[org.apache.spark.sql.types.StructType] = None): DeltaTable =
    ConvertToDeltaOp.run(spark, path, partitionSchema)
}

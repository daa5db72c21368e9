package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kernel._
import graft.table.{DeltaTable, DeltaWriter, LogFileIndex, Scan}

/** Shared DML plumbing: matched-file discovery and CDC emission. */
object Dml {

  private[ops] val logger = org.slf4j.LoggerFactory.getLogger("graft.ops")

  /** Files that actually contain rows matching `pred` — stats-pruned
    * candidates narrowed by a distributed scan tagging each row with its
    * source file (delta-rs `find_files.rs:38,414`: partition-only fast path
    * vs data scan with a file-path column). */
  def findMatchingFiles(
      spark: SparkSession,
      snapshot: Snapshot,
      pred: String): Seq[AddFile] = {
    val predExpr = Scan.parsePredicate(spark, pred)
    val candidates = Scan.prunedFiles(snapshot, Seq(predExpr))
    if (candidates.isEmpty) return Nil
    if (StatsPruning.isPartitionOnly(snapshot.schema, predExpr, snapshot.partitionColumns)) {
      // stats pruning on partition-only predicates is exact
      return candidates
    }
    matchedFiles(spark, snapshot, candidates, pred)
  }

  /** Scan `candidates` and keep the files with at least one `pred` match:
    * each scanned row names its file by `_metadata.log_path`, the AddFile's
    * own path. */
  private[graft] def matchedFiles(
      spark: SparkSession,
      snapshot: Snapshot,
      candidates: Seq[AddFile],
      pred: String): Seq[AddFile] = {
    if (candidates.isEmpty) return Nil
    val byPath = candidates.map(f => f.path -> f).toMap
    val scan = Scan.readFiles(spark, snapshot, candidates)
    scan.filter(expr(pred))
      .select(scan.metadataColumn("_metadata").getField(LogFileIndex.LogPath))
      .distinct()
      .collect()
      .toSeq.map(r => byPath(r.getString(0)))
  }

  /** Above this size a file-membership IN-list becomes a broadcast join —
    * an isin over 100k paths is a megabyte-scale expression the planner
    * chokes on. ONE constant for every membership site (MERGE's
    * changed-file membership and distinct-partition early filter). */
  private[graft] val MaxInListSize = 1000

  /** Persist level for the shared DML hit-file scan (read back 1-4 times:
    * rewrite/mask, CDC pre/post). Serialized bytes like MERGE's rewrite
    * leg (r11 A/B: compact cache = less heap to scan per GC). */
  private[graft] val dmlPersistLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** Whether this table wants CDC rows (operations/cdc.rs should_write_cdc). */
  def cdcEnabled(snapshot: Snapshot): Boolean =
    snapshot.confBool("delta.enableChangeDataFeed")

  /** The SetTransaction action of an idempotency marker — ONE builder for
    * DELETE/UPDATE/MERGE (the replay contract must not drift per-op). */
  private[ops] def txnActionsOf(appTxn: Option[(String, Long)]): Seq[Action] =
    appTxn.map { case (app, ver) =>
      SetTransaction(app, ver, Some(System.currentTimeMillis()))
    }.toSeq

  /** Commit wrapper for ops carrying an idempotency marker: a racing
    * replay of the same (appId, version) that won AFTER the op's pre-check
    * surfaces TransactionAlreadyApplied from the commit loop — report the
    * skip rather than failing, refreshed so the caller's handle sees the
    * applied state. The op's already-written output files become
    * unreferenced orphans, reaped by VACUUM like any aborted commit's.
    * ONE definition of that contract for DELETE/UPDATE/MERGE. */
  private[ops] def orReplaySkip(table: DeltaTable, skip: => Map[String, String])(
      body: => Map[String, String]): Map[String, String] =
    try body catch {
      case _: TransactionAlreadyAppliedException =>
        table.refresh()
        skip
    }

  val CDC_COL = "_change_type"
  val CDC_DIR = "_change_data"

  /** Write CDC rows (must already carry `_change_type`) under
    * `_change_data/`, returning the AddCDCFile actions. `meta` must be the
    * metadata BEING COMMITTED when the op evolves the schema (MERGE
    * withSchemaEvolution on a column-mapped table: the pre-commit snapshot
    * has no physical names for evolved columns, so CDC parquet written
    * against it stores them under LOGICAL names — and every later CDF read
    * of the commit, which binds the range-end physical schema, silently
    * reports the evolved column as NULL). */
  def writeCdc(
      spark: SparkSession,
      table: DeltaTable,
      cdcRows: DataFrame,
      numIndexedCols: Int,
      meta: Option[graft.kernel.Metadata] = None): Seq[AddCDCFile] = {
    val m = meta.getOrElse(table.snapshot.metadata)
    val adds = DeltaWriter.writeFiles(spark, table.tablePath, cdcRows,
      m.partitionColumns, numIndexedCols, pathPrefix = CDC_DIR,
      meta = Some(m))
    adds.map(a => AddCDCFile(a.path, a.partitionValues, a.size))
  }
}

/**
 * DELETE — predicate split into metadata-only whole-file removes vs
 * rewrite of partially-matching files, per delta-rs
 * `crates/core/src/operations/delete.rs` (builder :97; docs :1-13 describe
 * the two-phase partition/data split). Metrics keys follow delta-rs's
 * DeleteMetrics.
 */
object DeleteOp {

  /** Per-phase wall times of the most recent DELETE on this JVM (seconds):
    * `find_files` (column-pruned discovery), then `rewrite_write` or
    * `dv_mask`, `cdc` and `commit`. */
  @volatile var lastPhases: Map[String, Double] = Map.empty

  /** Zeroed DELETE metrics with the replay marker (MergeOp's
    * replaySkippedMetrics shape — one convention across the DML surface). */
  private def replaySkippedMetrics(t0: Long): Map[String, String] = Map(
    "num_removed_files" -> "0",
    "num_added_files" -> "0",
    "num_deleted_rows" -> "0",
    "num_copied_rows" -> "0",
    "replay_skipped" -> "true",
    "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000).toString)

  def run(table: DeltaTable, predicate: Option[String],
      appTxn: Option[(String, Long)] = None): Map[String, String] = {
    val spark = table.spark
    val t0 = System.nanoTime()
    val phases = new PhaseRecorder("delete")
    val snapshot = table.refresh()
    // run-level idempotent-replay skip (reference CommitProperties
    // app_transactions apply to every operation — kernel/transaction/
    // mod.rs:1-117; delta-spark txnAppId/txnVersion): an (appId, version)
    // at or below the table's recorded position no-ops BEFORE any scan.
    // The commit retry loop re-fires the same check (checkConflicts →
    // TransactionAlreadyAppliedException, caught below) so a replay racing
    // this pre-check still resolves to exactly one application.
    appTxn.foreach { case (app, ver) =>
      if (snapshot.txns.get(app).exists(_ >= ver)) {
        lastPhases = phases.acc.toMap
        return replaySkippedMetrics(t0)
      }
    }
    ProtocolGate.checkAppendOnly(snapshot, "DELETE")
    val meta = snapshot.metadata
    // pinned to the PLANNING snapshot (DeltaTable.startTransaction(pinned)):
    // a commit racing onto this handle between refresh() and here must be
    // conflict-checked — with an idempotency marker in play, folding it
    // into the base unchecked would double-apply the replay
    val txn = table.startTransaction(snapshot)
    txn.idempotentTxn = appTxn
    val txnActions = Dml.txnActionsOf(appTxn)
    val now = System.currentTimeMillis()
    val nIdx = WriteIntoDelta.numIndexedCols(meta)

    predicate match {
      case None =>
        // full-table delete: metadata-only removes. Explicit CDC is written
        // ONLY when a removed file carries a DV mask — synthesized remove
        // legs cannot represent those (the raw file misreports masked rows
        // as deleted). DV-free tables keep synthesis: the change feed reads
        // the removes directly and the O(metadata) delete stays O(metadata)
        // instead of a full-table CDC rewrite (same gate as the overwrite
        // path in WriteIntoDelta).
        txn.readWholeTable()
        val removes = snapshot.allFiles.map(_.remove(now, dataChange = true))
        val cdc: Seq[Action] =
          if (Dml.cdcEnabled(snapshot) &&
              snapshot.allFiles.exists(_.deletionVector.exists(_.cardinality > 0))) {
            val deleted = Scan.read(spark, snapshot)
              .withColumn(Dml.CDC_COL, lit("delete"))
            Dml.writeCdc(spark, table, deleted, nIdx)
          } else Nil
        val deletedRows = snapshot.approxNumRecords.getOrElse(-1L)
        val metrics = Map(
          "num_removed_files" -> removes.size.toString,
          "num_added_files" -> "0",
          "num_deleted_rows" -> deletedRows.toString,
          "num_copied_rows" -> "0",
          "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000).toString)
        val out = Dml.orReplaySkip(table, replaySkippedMetrics(t0)) {
          table.commitAndRefresh(txn, removes ++ cdc ++ txnActions,
            Operation("DELETE", Map("predicate" -> "true"), metrics))
          metrics
        }
        lastPhases = phases.acc.toMap // full-table path: same observability contract
        out

      case Some(pred) =>
        val predExpr = Scan.parsePredicate(spark, pred)
        txn.readPredicate(predExpr)
        val candidates = Scan.prunedFiles(snapshot, Seq(predExpr))
        txn.readFile(candidates.map(_.path))

        // provably fully-matching files (negation can't match) drop whole
        val (fullFiles, partialCandidates) =
          WriteIntoDelta.splitFullPartial(spark, snapshot, candidates, pred)

        val useDv = snapshot.confBool("delta.enableDeletionVectors")
        val cdcOn = Dml.cdcEnabled(snapshot)
        val predCol = coalesce(expr(pred), lit(false))
        // Hit-file data pages are read from storage at most once: when a
        // second pass over them exists (CDC delete images after the
        // rewrite/mask), it reads a persisted hit-file scan. Discovery is a
        // column-pruned candidate scan (interleaved A/B on the bench delete
        // row: a full-width persisted discovery scan was ~20% slower).
        var cached: Option[DataFrame] = None
        try {
        val partialFiles =
          if (partialCandidates.isEmpty) Nil
          else phases("find_files")(
            Dml.matchedFiles(spark, snapshot, partialCandidates, pred))
        // identity columns only for the DV mask's __file/__pos consumer —
        // without DVs a data column may itself be named __pos or __file
        val partialHit: Option[DataFrame] =
          if (partialFiles.isEmpty) None
          else {
            val sc = Scan.readFiles(spark, snapshot, partialFiles, withFileIdentity = useDv)
            // the DV-mask or keep-rewrite is the ONLY pass without CDC —
            // persist only buys something when the CDC images re-read
            // (the rare DV-over-cap fallback re-scans, matching the old
            // shape rather than taxing every common-path delete)
            if (cdcOn) cached = Some(sc.persist(Dml.dmlPersistLevel))
            Some(sc)
          }
        val partialData = partialHit.map(h => if (useDv) h.drop("__file", "__pos") else h)

        // With delta.enableDeletionVectors, partially-matching files keep
        // their data and gain a row-index mask instead of being rewritten —
        // deleting 0.1% of rows from a 100 TB table touches KBs, not TBs.
        def rewriteKept(): Seq[AddFile] = phases("rewrite_write") {
          val keep = partialData.get.filter(not(predCol))
          DeltaWriter.writeFiles(spark, table.tablePath, keep,
            snapshot.partitionColumns, nIdx, meta = Some(snapshot.metadata))
        }
        // `masked` = partials got DVs; false → they were rewritten (either
        // DVs disabled, or the mask exceeded the cap and we fell back)
        val (dvActions, rewriteAdds, dvDeletedRows, masked) =
          if (partialFiles.isEmpty) (Nil, Nil, 0L, useDv)
          else if (useDv) phases("dv_mask")(DvWriter.maskDistributed(table,
            partialFiles.map(f => f.path -> f).toMap,
            partialHit.get.filter(predCol)
              .select(col("__file"), col("__pos")))) match {
            case Some((acts, n)) => (acts, Nil, n, true)
            case None => (Nil, rewriteKept(), 0L, false)
          }
          else (Nil, rewriteKept(), 0L, false)

        val cdc: Seq[Action] = phases("cdc")(
          if (cdcOn && (fullFiles.nonEmpty || partialFiles.nonEmpty)) {
            // whole-file deletes are only ever read HERE (no rewrite pass
            // touches them), so their direct scan is already single-pass;
            // partial files come from the cache
            val legs =
              (if (fullFiles.isEmpty) Nil
               else Seq(Scan.readFiles(spark, snapshot, fullFiles).filter(predCol))) ++
              partialData.map(_.filter(predCol))
            val deleted = legs.reduce(_ unionByName _)
              .withColumn(Dml.CDC_COL, lit("delete"))
            Dml.writeCdc(spark, table, deleted, nIdx)
          } else Nil)

        // protocol upgrade rides the same commit when DVs are first written
        val protocolUpgrade: Seq[Action] =
          if (dvActions.nonEmpty) ProtocolGate.upgradeForDv(snapshot.protocol).toSeq
          else Nil

        val rewrittenFiles = if (masked) fullFiles else fullFiles ++ partialFiles
        val removes = rewrittenFiles.map(_.remove(now, dataChange = true))
        // numRecords is the PHYSICAL parquet row count — rows already masked
        // by a pre-existing DV were deleted by an earlier commit and must not
        // be re-counted (the full-table path subtracts the same way via
        // approxNumRecords)
        val removedRows = rewrittenFiles.flatMap(_.numRecords).sum -
          rewrittenFiles.flatMap(_.deletionVector).map(_.cardinality).sum
        val keptRows = rewriteAdds.flatMap(_.numRecords).sum
        // foreign writers may omit stats (numRecords=None contributes 0 to
        // removedRows while keptRows always has fresh footer stats) — the
        // subtraction would go NEGATIVE; floor at 0 rather than commit a
        // nonsense metric into the table history
        val statsComplete = rewrittenFiles.forall(_.numRecords.isDefined)
        // DV-masked files commit Remove+re-Add pairs — count those removes
        // like MERGE does (consistent cross-op accounting)
        val dvRemoves = dvActions.count(_.isInstanceOf[RemoveFile])
        val metrics = Map(
          "num_removed_files" -> (removes.size + dvRemoves).toString,
          "num_added_files" -> rewriteAdds.size.toString,
          "num_deleted_rows" ->
            (if (statsComplete) removedRows - keptRows + dvDeletedRows
             else math.max(0L, removedRows - keptRows) + dvDeletedRows).toString,
          "num_copied_rows" -> keptRows.toString,
          "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000).toString)
        Dml.orReplaySkip(table, replaySkippedMetrics(t0)) {
          phases("commit")(table.commitAndRefresh(txn,
            protocolUpgrade ++ removes ++ rewriteAdds ++ dvActions ++ cdc ++ txnActions,
            Operation("DELETE", Map("predicate" -> pred), metrics)))
          metrics
        }
        } finally {
          cached.foreach(_.unpersist())
          lastPhases = phases.acc.toMap
        }
    }
  }
}

/** Hadoop Configuration is not Serializable; minimal wrapper for shipping
  * it into the DV-building tasks. */
class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** One executor-built deletion-vector blob: descriptor fields for a single
  * masked file plus how many rows its task newly masked. */
case class DvBlob(
    path: String,
    storageType: String,
    pathOrInlineDv: String,
    offset: Option[Int],
    sizeInBytes: Int,
    cardinality: Long,
    newlyMasked: Long)

/** Distributed deletion-vector construction shared by DELETE/UPDATE/MERGE
  * dv-modes: positions never cross the driver. */
object DvWriter {

  /** Total-mask row cap; above it the caller rewrites instead (masks that
    * big defeat the purpose). Overridable for tests via the spark conf
    * `spark.graft.dv.maxMaskedRows`. */
  val MaxMaskedRows = 50000000L

  /** Per-FILE mask row cap, enforced inside the executor task building that
    * file's blob (bounded task memory: the cap is checked while positions
    * stream in, before the union array exists). Overridable via
    * `spark.graft.dv.maxMaskedRowsPerFile`. */
  val MaxMaskedRowsPerFile = 10000000L

  /** Union of two SORTED position arrays, deduplicated — single O(n) output
    * allocation instead of `(a ++ b).distinct.sorted`'s three copies. */
  private[ops] def unionSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = Array.newBuilder[Long]
    out.sizeHint(a.length + b.length)
    var i = 0; var j = 0; var last = Long.MinValue; var has = false
    while (i < a.length || j < b.length) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (!has || v != last) { out += v; last = v; has = true }
    }
    out.result()
  }

  /** Build per-file DV blobs ON EXECUTORS from a DataFrame of
    * (`__file` log path, `__pos`) hit rows: hits shuffle by file, each task
    * writes its files' roaring blobs (unioned with any existing mask) and
    * only the per-file descriptors — one small row per masked file —
    * return to the driver. The naive collect() of 50M (file,pos) pairs was
    * multi-GB of driver heap, OOMing on exactly the big-table workload DVs
    * target. The mask-size cap is enforced from the same single pass (the
    * per-blob counts sum on the driver); an over-cap build deletes its
    * orphan blobs and falls back — cheaper than a dedicated count() pass on
    * the common under-cap path.
    *
    * Returns None when the total mask exceeds the cap (rewrite instead —
    * a mask that big defeats the purpose of DVs). */
  def maskDistributed(
      table: DeltaTable,
      filesByPath: Map[String, AddFile],
      hits: DataFrame): Option[(Seq[Action], Long)] = {
    val spark = table.spark
    val cap = spark.conf.getOption("spark.graft.dv.maxMaskedRows")
      .map(_.toLong).getOrElse(DvWriter.MaxMaskedRows)
    // per-FILE cap enforced INSIDE the task, before any over-cap array is
    // built — a single hot file near the global cap must fail fast to the
    // rewrite path, not OOM the executor assembling its mask
    val perFileCap = spark.conf.getOption("spark.graft.dv.maxMaskedRowsPerFile")
      .map(_.toLong).getOrElse(DvWriter.MaxMaskedRowsPerFile)

    import spark.implicits._
    val tablePathStr = table.tablePath.toString
    val bcConf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val bcDvs = spark.sparkContext.broadcast(
      filesByPath.collect { case (k, a) if a.deletionVector.isDefined =>
        k -> a.deletionVector.get })

    val blobs: Array[DvBlob] = hits
      .select(col("__file").cast("string").as("__file"), col("__pos").cast("long").as("__pos"))
      .repartition(col("__file"))
      .sortWithinPartitions("__file", "__pos")
      .as[(String, Long)]
      .mapPartitions { it =>
        val conf = bcConf.value.value
        val tp = new org.apache.hadoop.fs.Path(tablePathStr)
        val out = scala.collection.mutable.ArrayBuffer.empty[DvBlob]
        var cur: String = null
        var buf = Array.newBuilder[Long]
        var bufN = 0L
        var over = false // this file's fresh mask exceeded perFileCap
        def flush(): Unit = if (cur != null) {
          if (over) {
            // sentinel: no blob written; sizeInBytes = -1 tells the driver
            // to abandon DV mode (rewrite fallback) without any big array
            // ever having been allocated here
            out += DvBlob(cur, "", "", None, -1, -1L, bufN)
          } else {
            val fresh = buf.result()
            val existing = bcDvs.value.get(cur)
              .map(d => DeletionVectors.read(tp, d, conf))
              .getOrElse(Array.empty[Long])
            if (existing.length.toLong + fresh.length > perFileCap)
              out += DvBlob(cur, "", "", None, -1, -1L, bufN)
            else {
              val union = unionSorted(existing, fresh)
              val desc = DeletionVectors.writeDvFile(tp, union, conf)
              out += DvBlob(cur, desc.storageType, desc.pathOrInlineDv, desc.offset,
                desc.sizeInBytes, desc.cardinality, fresh.length.toLong)
            }
          }
        }
        // adjacent-dedup on the sorted (file, pos) stream: MERGE with
        // duplicate validation disabled can emit one target row k times
        // (k source matches) — counting those k would inflate
        // num_deleted_rows and spuriously trip the rewrite-fallback caps
        // even though the deduplicated mask is under them
        var last = Long.MinValue
        it.foreach { case (f, p) =>
          if (f != cur) {
            flush(); cur = f; buf = Array.newBuilder[Long]; bufN = 0L
            over = false; last = Long.MinValue
          }
          if (p != last || last == Long.MinValue) {
            last = p
            bufN += 1
            if (bufN > perFileCap) { over = true; buf = Array.newBuilder[Long] }
            else if (!over) buf += p
          }
        }
        flush()
        out.iterator
      }.collect()

    val total = blobs.map(_.newlyMasked).sum
    if (blobs.exists(_.sizeInBytes < 0) || total > cap) {
      // fall back to rewrite: the uncommitted blobs are orphans — delete
      // (sentinel rows never wrote a blob)
      val conf = spark.sessionState.newHadoopConf()
      val fs = table.tablePath.getFileSystem(conf)
      blobs.filter(_.sizeInBytes >= 0).foreach { b =>
        DeletionVectors.dvPath(table.tablePath,
          DeletionVectorDescriptor(b.storageType, b.pathOrInlineDv,
            b.offset, b.sizeInBytes, b.cardinality))
          .foreach(p => scala.util.Try(fs.delete(p, false)))
      }
      return None
    }
    val now = System.currentTimeMillis()
    val actions = blobs.toSeq.flatMap { b =>
      val add = filesByPath(b.path)
      val desc = DeletionVectorDescriptor(b.storageType, b.pathOrInlineDv,
        b.offset, b.sizeInBytes, b.cardinality)
      Seq(add.remove(now, dataChange = true),
        add.copy(deletionVector = Some(desc), dataChange = true))
    }
    Some((actions, total))
  }
}


/**
 * UPDATE — rewrite files containing matches; each SET column becomes
 * `CASE WHEN pred THEN new ELSE old END` (delta-rs
 * `operations/update.rs:86` builder, execute :275; the case/cast imports at
 * update.rs:32 are exactly Spark's `when(...).otherwise(...)`).
 */
object UpdateOp {

  /** Per-phase wall times of the most recent UPDATE on this JVM (seconds):
    * `find_files` (column-pruned discovery; skipped for partition-only
    * predicates), then `dv_mask` and/or `rewrite_write`, `cdc` and
    * `commit`. */
  @volatile var lastPhases: Map[String, Double] = Map.empty

  /** Zeroed UPDATE metrics with the replay marker (MergeOp's
    * replaySkippedMetrics shape — one convention across the DML surface). */
  private def replaySkippedMetrics(t0: Long): Map[String, String] = Map(
    "num_added_files" -> "0",
    "num_removed_files" -> "0",
    "num_updated_rows" -> "0",
    "num_copied_rows" -> "0",
    "replay_skipped" -> "true",
    "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000).toString)

  /** Test seam: runs between the planning refresh/pre-check and the pinned
    * startTransaction (see the call site). Production no-op. */
  private[graft] var testHookBeforeTxn: () => Unit = () => ()

  def run(
      table: DeltaTable,
      set: Map[String, Column],
      predicate: Option[String],
      appTxn: Option[(String, Long)] = None): Map[String, String] = {
    val spark = table.spark
    val t0 = System.nanoTime()
    val phases = new PhaseRecorder("update")
    val snapshot = table.refresh()
    // run-level idempotent-replay skip before any scan (same contract and
    // TOCTOU closure as DELETE above / MergeOp.run)
    appTxn.foreach { case (app, ver) =>
      if (snapshot.txns.get(app).exists(_ >= ver)) {
        lastPhases = phases.acc.toMap
        return replaySkippedMetrics(t0)
      }
    }
    ProtocolGate.checkAppendOnly(snapshot, "UPDATE")
    val meta = snapshot.metadata
    val nIdx = WriteIntoDelta.numIndexedCols(meta)
    require(set.nonEmpty, "UPDATE requires at least one SET column")
    set.keys.foreach { c =>
      require(snapshot.schema.fieldNames.contains(c), s"Unknown column in SET: $c")
      require(!snapshot.partitionColumns.contains(c),
        s"Updating partition column $c is not supported")
    }

    val pred = predicate.getOrElse("true")
    // deterministic interleaving seam (the onBeforeChunkCommit precedent):
    // lets a spec land a winner between the planning refresh above and the
    // pinned transaction below — the exact window the snapshot pinning
    // protects (UpdateOp is the representative op; the mechanism is shared)
    testHookBeforeTxn()
    val txn = table.startTransaction(snapshot) // pinned (same rule as DELETE)
    txn.idempotentTxn = appTxn
    val txnActions = Dml.txnActionsOf(appTxn)
    val predExpr = Scan.parsePredicate(spark, pred)
    txn.readPredicate(predExpr)

    def emptyCommit(): Map[String, String] = {
      val metrics = Map("num_added_files" -> "0", "num_removed_files" -> "0",
        "num_updated_rows" -> "0", "num_copied_rows" -> "0",
        "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000).toString)
      // the txn action still rides a no-match commit: the (appId, version)
      // position advances — a replayed batch that happened to match nothing
      // must not re-run forever, and a LOWER later version must conflict
      Dml.orReplaySkip(table, replaySkippedMetrics(t0)) {
        table.commitAndRefresh(txn, txnActions,
          Operation("UPDATE", Map("predicate" -> pred), metrics))
        metrics
      }
    }

    val candidates = Scan.prunedFiles(snapshot, Seq(predExpr))
    if (candidates.isEmpty) {
      lastPhases = phases.acc.toMap
      return emptyCommit()
    }
    val partitionOnly =
      StatsPruning.isPartitionOnly(snapshot.schema, predExpr, snapshot.partitionColumns)
    val cdcOn = Dml.cdcEnabled(snapshot)
    val useDv = snapshot.confBool("delta.enableDeletionVectors")
    // The hit-file data pages are read from storage AT MOST ONCE: every
    // pass after the first (DV mask + updated-rows write, CDC pre/post
    // images) reads a persisted hit-file scan instead of re-scanning
    // storage (the old shape re-read the hit files once per pass — 2x+
    // read amplification on exactly the large-DML workloads DV/CDC
    // target). Discovery is a COLUMN-PRUNED scan of the candidates —
    // predicates are typically narrow (keys, dates, flags), so reading
    // just their columns beats caching the full candidate width
    // (interleaved A/B on the bench delete row: full-scan persist was
    // ~20% slower on local storage).
    // File/row identity columns are only materialized for the DV mask
    // (__file/__pos) — the plain-rewrite scan stays byte-identical to a
    // bare read, so a data column named __pos never blocks a non-DV UPDATE.
    val predCol = coalesce(expr(pred), lit(false))
    var cached: Option[DataFrame] = None
    try {
    val files =
      if (partitionOnly) candidates // partition-only stats pruning is exact
      else phases("find_files")(
        Dml.matchedFiles(spark, snapshot, candidates, pred))
    txn.readFile(files.map(_.path))
    if (files.isEmpty) return emptyCommit()
    val srcHit = Scan.readFiles(spark, snapshot, files, withFileIdentity = useDv)
    if (useDv || cdcOn) cached = Some(srcHit.persist(Dml.dmlPersistLevel))
    val src = if (useDv) srcHit.drop("__file", "__pos") else srcHit
    val updatedCols = snapshot.schema.map { f =>
      set.get(f.name) match {
        case Some(newExpr) =>
          when(predCol, newExpr.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }
    // generated columns NOT explicitly SET are recomputed over the
    // POST-update values in a second projection (delta-spark semantics):
    // updating an input of `g = price * 2` must not carry the stale g
    // forward — prepareForWrite now enforces the generation expression,
    // so a stale copy would refuse the commit. For untouched rows the
    // recompute is the identity on a valid table.
    val genExprs = Generated.expressions(snapshot.schema)
      .filter { case (c, _) => !set.contains(c) }
    def recomputeGen(df: DataFrame): DataFrame =
      if (genExprs.isEmpty) df
      else df.select(snapshot.schema.map { f =>
        genExprs.get(f.name)
          .map(g => expr(g).cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      }: _*)

    // With delta.enableDeletionVectors: mask the OLD versions of matching
    // rows in place and append a file holding only the updated rows —
    // untouched rows never move (delta-spark's DV update shape)
    def fullRewrite(): (Seq[Action], Seq[AddFile], Seq[Action], Long) = phases("rewrite_write") {
      // num_updated_rows observed during the write pass itself — no second
      // scan of the hit files just for the metric (same shape as MERGE)
      val obs = new org.apache.spark.sql.Observation(
        s"upd_${java.util.UUID.randomUUID.toString.take(8)}")
      val observed = src.observe(obs,
        sum(when(predCol, 1L).otherwise(0L)).as("n"))
      val rewritten = Validation.prepareForWrite(spark,
        recomputeGen(observed.select(updatedCols: _*)), meta)
      val newAdds = DeltaWriter.writeFiles(spark, table.tablePath, rewritten,
        snapshot.partitionColumns, nIdx, meta = Some(snapshot.metadata))
      val now = System.currentTimeMillis()
      val rem = files.map(_.remove(now, dataChange = true))
      val matched = obs.get("n") match {
        case null => 0L // sum() over a zero-row scan observes NULL
        case n: java.lang.Number => n.longValue
      }
      (rem ++ newAdds, newAdds, rem, matched)
    }
    val (actions, adds, removes, updatedRows): (Seq[Action], Seq[AddFile], Seq[Action], Long) =
      if (useDv) phases("dv_mask")(DvWriter.maskDistributed(table,
        files.map(f => f.path -> f).toMap,
        srcHit.filter(predCol).select(col("__file"), col("__pos")))) match {
        case Some((dvActions, masked)) =>
          val updatedOnly = Validation.prepareForWrite(spark,
            recomputeGen(src.filter(predCol).select(updatedCols: _*)), meta)
          val newAdds = phases("rewrite_write")(
            DeltaWriter.writeFiles(spark, table.tablePath, updatedOnly,
              snapshot.partitionColumns, nIdx, meta = Some(snapshot.metadata)))
          val upgrade = ProtocolGate.upgradeForDv(snapshot.protocol).toSeq
          // the DV path commits Remove+re-Add pairs for each masked file —
          // count them in num_removed_files like MERGE does, or the history
          // shows contradictory accounting for identical physical ops
          (upgrade ++ dvActions ++ newAdds, newAdds,
            dvActions.filter(_.isInstanceOf[RemoveFile]), masked)
        case None => fullRewrite() // mask over cap: DV defeats its purpose
      }
      else fullRewrite()

    val cdc: Seq[Action] = phases("cdc")(
      if (cdcOn) {
        val pre = src.filter(predCol).withColumn(Dml.CDC_COL, lit("update_preimage"))
        // recomputeGen like BOTH write paths: without it the postimage
        // carried STALE generated columns (g = old price * 2) — values
        // that never existed in the table, materialized downstream by any
        // CDC consumer reconstructing state from postimages (writeCdc
        // bypasses prepareForWrite, so nothing else catches the drift)
        val post = recomputeGen(src.filter(predCol).select(updatedCols: _*))
          .withColumn(Dml.CDC_COL, lit("update_postimage"))
        Dml.writeCdc(spark, table, pre.unionByName(post), nIdx)
      } else Nil)
    val totalRows = adds.flatMap(_.numRecords).sum
    val metrics = Map(
      "num_added_files" -> adds.size.toString,
      "num_removed_files" -> removes.size.toString,
      "num_updated_rows" -> updatedRows.toString,
      "num_copied_rows" -> math.max(0L, totalRows - updatedRows).toString,
      "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000).toString)
    Dml.orReplaySkip(table, replaySkippedMetrics(t0)) {
      phases("commit")(table.commitAndRefresh(txn, actions ++ cdc ++ txnActions,
        Operation("UPDATE", Map("predicate" -> pred), metrics)))
      metrics
    }
    // unpersist in finally, not on the success path only: a failed rewrite
    // (constraint raise_error, commit conflict) would otherwise leak the
    // cached hit-file scan for the session (MERGE's persist has the same
    // try/finally discipline)
    } finally {
      cached.foreach(_.unpersist())
      lastPhases = phases.acc.toMap
    }
  }
}

package graft.ops

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.kernel._
import graft.table.{DeltaTable, Scan}

/**
 * VACUUM — delete unreferenced files older than the retention window
 * (default 7d `delta.deletedFileRetentionDuration`), with dry-run and the
 * retention-duration guard; VacuumStart/End commits
 * (`crates/core/src/operations/vacuum.rs:1-22`, commits
 * `protocol/mod.rs:355-368`).
 */
object VacuumOp {

  // skip hidden dirs and all `_`-prefixed dirs (delta-spark semantics)
  // EXCEPT `_change_data`, whose CDC files are log-tracked and must age out
  // like data files — otherwise `_symlink_format_manifest/manifest` files
  // (no `_` prefix on the file itself) would be vacuumed away
  private def vacuumableDir(name: String): Boolean =
    name == Dml.CDC_DIR ||
      (!name.startsWith("_") && !name.startsWith("."))

  private def vacuumableFile(name: String): Boolean =
    !name.startsWith(".") && !name.startsWith("_")

  /** Recursive (rel, mtime) listing under `dir`; runs on the driver for
    * small tables and inside executor tasks for the distributed path. */
  private def walkFs(fs: org.apache.hadoop.fs.FileSystem, dir: Path, rel: String,
                     out: mutable.ArrayBuffer[(String, Long)]): Unit = {
    if (!fs.exists(dir)) return
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val childRel = if (rel.isEmpty) name else s"$rel/$name"
      if (st.isDirectory) {
        if (vacuumableDir(name)) walkFs(fs, st.getPath, childRel, out)
      } else if (vacuumableFile(name)) out += ((childRel, st.getModificationTime))
    }
  }

  /** Outcome of one VACUUM run: `count` is always the EXACT candidate
    * total; `paths` is the complete list when `truncated` is false and a
    * `collectThreshold`-capped sample otherwise (the distributed branch
    * never materializes tens of millions of paths on the driver). The
    * exact count also rides the VACUUM START/END commit metrics on
    * non-dry runs — this result object is what carries it for dry-run,
    * per-run and race-free (a process-global side channel would let two
    * concurrent VACUUMs on one driver read each other's counts). */
  final case class VacuumResult(count: Long, paths: Seq[String],
                                truncated: Boolean)

  /** Returns the deletable rel paths with their exact count. On the
    * distributed branch the full set never materializes on the driver:
    * when it exceeds `spark.graft.vacuum.collectThreshold` (default 100k)
    * `paths` is a capped sample, a loud stderr line records the
    * truncation, and the exact count lives in [[VacuumResult.count]] and
    * the VACUUM START/END commit metrics
    * (`numFilesToDelete`/`numDeletedFiles`). */
  def run(table: DeltaTable, retentionHours: Double, dryRun: Boolean,
          enforceRetention: Boolean, mode: String = "full",
          keepVersions: Seq[Long] = Nil): VacuumResult = {
    require(mode == "full" || mode == "lite",
      s"VACUUM: unknown mode '$mode' (full | lite)")
    val spark = table.spark
    val snapshot = table.refresh()
    val configured = snapshot.getConf("delta.deletedFileRetentionDuration")
      .map(DeltaConfig.durationMs("delta.deletedFileRetentionDuration", _))
      .getOrElse(7L * 24 * 3600 * 1000)
    val retentionMs = (retentionHours * 3600 * 1000).toLong
    if (enforceRetention && retentionMs < configured)
      throw new IllegalArgumentException(
        s"Retention ${retentionHours}h is below the configured minimum " +
        s"(${configured}ms); pass enforceRetention=false to override")

    val fs = table.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    val now = System.currentTimeMillis()
    val cutoff = now - retentionMs
    val tableUri = table.tablePath.toUri

    // Distributed when the snapshot is lazy (materializing 10M Adds to build
    // a driver Set defeats the index) or the eager file count is large (the
    // serial walk + Set become the bottleneck); overridable for tests.
    val distThreshold = spark.conf.getOption("spark.graft.vacuum.distributedThreshold")
      .map(_.toInt).getOrElse(100000)
    // forall (not isEmpty): a lazy index MATERIALIZED earlier in the
    // session still fronts a huge table — the file count must keep its
    // say, or a 10M-file VACUUM falls back to the serial driver walk
    val distributed = snapshot.lazyIndex.exists(!_.isMaterialized) ||
      (snapshot.lazyIndex.forall(_.isMaterialized) &&
        snapshot.allFiles.size >= distThreshold)

    // one place maps a logged (path, dv) pair to its LITERAL on-disk rel
    // paths (data file + optional DV blob); listing yields literal names,
    // so log paths are URI-decoded before compare
    def relPaths(path: String, dv: Option[DeletionVectorDescriptor]): Seq[String] =
      PathCodec.decode(path) +: dv
        .flatMap(d => DeletionVectors.dvPath(table.tablePath, d))
        // scheme-robust relativize (DeletionVectors.relDvPath): a
        // scheme-qualified absolute 'p' descriptor over a scheme-less
        // table path previously produced an unmatchable key — the LIVE
        // blob fell out of the protection set and VACUUM deleted it
        .flatMap(p => DeletionVectors.relDvPath(tableUri, p)).toSeq

    // files referenced by keep_versions snapshots (vacuum.rs:182,
    // with_keep_versions): protected so time travel to them keeps working
    def keepRelsSeq(): Seq[String] = keepVersions.distinct.flatMap { kv =>
      table.deltaLog.snapshotAt(kv).allFiles
        .flatMap(f => relPaths(f.path, f.deletionVector))
    }

    // Distributed branch: the candidate set stays a DataFrame end-to-end.
    // At 100x scale (tens of millions of expired files) the driver never
    // holds the full path array — the commit metrics come from count(),
    // deletes fan out via foreachPartition directly off the dataset, and
    // the returned Seq is the complete list only while the count is under
    // spark.graft.vacuum.collectThreshold (above it: a capped sample;
    // exact totals are in the VACUUM START/END commit metrics).
    var candDfPersisted: Option[org.apache.spark.sql.Dataset[String]] = None
    val (candidates: Seq[String], candCount: Long) =
      if (!distributed) {
        // live = current adds + their deletion-vector blobs; keep anything
        // tracked by a recent tombstone or newer than the cutoff.
        val live: Set[String] =
          snapshot.allFiles.flatMap(f => relPaths(f.path, f.deletionVector)).toSet
        // a retained tombstone protects BOTH its data file and its DV blob:
        // time travel / RESTORE into the retention window must still be able
        // to decode the mask
        val recentTombstones: Set[String] = snapshot.tombstones
          .filter(_.deletionTimestamp.getOrElse(Long.MaxValue) >= cutoff)
          .flatMap(r => relPaths(r.path, r.deletionVector)).toSet
        // lite mode (vacuum.rs:82 VacuumMode): only files an EXPIRED
        // tombstone records are deletable — untracked debris survives.
        // The unrestricted set equals the reference's FULL mode (and
        // delta-spark): expired tombstoned files + stale orphans.
        val expiredTombs: Option[Set[String]] =
          if (mode == "lite") Some(snapshot.tombstones
            .filter(_.deletionTimestamp.getOrElse(Long.MaxValue) < cutoff)
            .flatMap(r => relPaths(r.path, r.deletionVector)).toSet)
          else None
        val keepRels: Set[String] = keepRelsSeq().toSet
        val listed = mutable.ArrayBuffer[(String, Long)]()
        walkFs(fs, table.tablePath, "", listed)
        val c = listed.collect {
          case (rel, mtime) if mtime < cutoff &&
            !live.contains(rel) && !recentTombstones.contains(rel) &&
            expiredTombs.forall(_.contains(rel)) &&
            !keepRels.contains(rel) => rel
        }.toSeq
        (c, c.size.toLong)
      } else {
        // listing fans out one task per top-level vacuumable dir; live,
        // tombstone, and keep-version sets stay DataFrames (from the
        // checkpoint parquet on lazy snapshots) and reduce candidates via
        // anti/semi-joins — nothing materializes on the driver except the
        // final deletable set
        import spark.implicits._
        import org.apache.spark.sql.functions.col
        val tableStr = table.tablePath.toString
        def snapRelsDf(s: graft.kernel.Snapshot) = s.lazyIndex match {
          case Some(idx) if !idx.isMaterialized => idx.liveRelPathsDf(tableStr)
          case _ => s.allFiles
            .flatMap(f => relPaths(f.path, f.deletionVector)).toDF("rel")
        }
        val liveDf = snapRelsDf(snapshot)
        def tombDf(recent: Boolean) = snapshot.lazyIndex match {
          case Some(idx) if !idx.isMaterialized =>
            idx.tombstoneRelsDf(cutoff, recent, tableStr)
          case _ =>
            snapshot.tombstones
              .filter { r =>
                val t = r.deletionTimestamp.getOrElse(Long.MaxValue)
                if (recent) t >= cutoff else t < cutoff
              }
              .flatMap(r => relPaths(r.path, r.deletionVector)).toDF("rel")
        }
        val rootEntries = fs.listStatus(table.tablePath).toSeq
        val seedDirs = rootEntries
          .filter(st => st.isDirectory && vacuumableDir(st.getPath.getName))
          .map(_.getPath.toString)
        val rootFiles = rootEntries
          .filter(st => !st.isDirectory && vacuumableFile(st.getPath.getName))
          .map(st => (st.getPath.getName, st.getModificationTime))
        val bcConf = spark.sparkContext.broadcast(
          new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
        val listedRdd = spark.sparkContext
          .parallelize(seedDirs, math.max(1, seedDirs.size))
          .flatMap { d =>
            val p = new Path(d)
            val efs = p.getFileSystem(bcConf.value.value)
            val buf = mutable.ArrayBuffer[(String, Long)]()
            // seed dirs come from listStatus FULLY QUALIFIED (scheme +
            // authority); the raw table string may not be. Relativize
            // qualified-against-qualified — a scheme mismatch makes
            // URI.relativize return the input unchanged, i.e. an ABSOLUTE
            // "rel" that the live/tombstone anti-joins can never match,
            // which would strip live partition-dir files of protection.
            val rel = efs.makeQualified(new Path(tableStr)).toUri
              .relativize(p.toUri).getPath
            require(!rel.startsWith("/"),
              s"VACUUM: could not relativize listing dir $d against table " +
                s"$tableStr — refusing to build an unmatchable candidate set")
            walkFs(efs, p, rel, buf)
            buf
          }
        var candDf = spark.createDataset(listedRdd).union(rootFiles.toDS())
          .toDF("rel", "mtime")
          .filter(col("mtime") < cutoff)
          .join(liveDf, Seq("rel"), "left_anti")
          .join(tombDf(recent = true), Seq("rel"), "left_anti")
        if (mode == "lite")
          candDf = candDf.join(tombDf(recent = false), Seq("rel"), "left_semi")
        if (keepVersions.nonEmpty) {
          val keepDf = keepVersions.distinct
            .map(kv => snapRelsDf(table.deltaLog.snapshotAt(kv)))
            .reduce(_ unionByName _)
          candDf = candDf.join(keepDf, Seq("rel"), "left_anti")
        }
        val ds = candDf.select("rel").as[String]
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        candDfPersisted = Some(ds)
        val n = ds.count()
        val collectThreshold =
          spark.conf.getOption("spark.graft.vacuum.collectThreshold")
            .map(_.toLong).getOrElse(100000L)
        val rels =
          if (n <= collectThreshold) ds.collect().toSeq
          else {
            // NEVER a silent cap: the exact total always lands in
            // VacuumResult.count, so a truncated sample can't masquerade
            // as a genuine collectThreshold-sized candidate set
            Dml.logger.warn(s"VACUUM candidate set has $n files; " +
              s"returning a $collectThreshold-path sample (exact count in " +
              "VacuumResult.count" +
              (if (dryRun) "" else " and the VACUUM commit metrics") + ")")
            ds.take(collectThreshold.toInt).toSeq
          }
        (rels, n)
      }

    try {
    if (!dryRun) {
      val txnStart = table.startTransaction()
      txnStart.commit(Nil, Operation("VACUUM START", Map(
        "retentionCheckEnabled" -> enforceRetention.toString,
        "specifiedRetentionMillis" -> retentionMs.toString,
        "mode" -> mode) ++
        (if (keepVersions.nonEmpty)
          Map("keepVersions" -> keepVersions.sorted.mkString(",")) else Map.empty),
        Map("numFilesToDelete" -> candCount.toString)))
      candDfPersisted match {
        case Some(ds) if candCount > 1000 =>
          // deletes are one FS round-trip each — fan out directly off the
          // persisted candidate dataset (the driver never sees the paths)
          val bcConf = spark.sparkContext.broadcast(
            new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
          val tableStr = table.tablePath.toString
          ds.foreachPartition { it: Iterator[String] =>
            val tp = new Path(tableStr)
            val efs = tp.getFileSystem(bcConf.value.value)
            it.foreach(rel => efs.delete(new Path(tp, rel), false))
          }
        case Some(ds) =>
          ds.collect().foreach(rel =>
            fs.delete(new Path(table.tablePath, rel), false))
        case None =>
          candidates.foreach(rel =>
            fs.delete(new Path(table.tablePath, rel), false))
      }
      val txnEnd = table.startTransaction()
      txnEnd.commit(Nil, Operation("VACUUM END", Map("status" -> "COMPLETED"),
        Map("numDeletedFiles" -> candCount.toString)))
      table.refresh()
    }
    // finally, not straight-line: a transient failure in the delete
    // fan-out or the VACUUM commits must not leak a multi-GB cached
    // candidate dataset for the life of the session (the Update/Merge
    // persist discipline)
    } finally candDfPersisted.foreach(_.unpersist())
    VacuumResult(candCount, candidates, truncated = candidates.size < candCount)
  }
}

/**
 * RESTORE — set algebra between the target-version snapshot and the
 * current one: re-add files missing now, remove files added since
 * (`crates/core/src/operations/restore.rs:1-21`).
 */
object RestoreOp {
  def run(table: DeltaTable, version: Long,
          ignoreMissingFiles: Boolean = false): Map[String, String] = {
    val current = table.refresh()
    ProtocolGate.checkAppendOnly(current, "RESTORE")
    val target = table.deltaLog.snapshotAt(version)
    // file identity includes the deletion-vector: the same path with a
    // different (or no) mask is a DIFFERENT logical file — path-only
    // comparison would fail to resurrect rows masked since `version`
    // the engine's file-action identity (AddFile.reconcileKey semantics):
    // uniqueId covers storageType AND offset — pathOrInlineDv alone read
    // two different DVs packed in one blob (delta-spark packs by offset)
    // as equal, so RESTORE kept the wrong row mask silently
    def key(f: AddFile): (String, Option[String]) =
      (f.path, f.deletionVector.map(_.uniqueId))
    val currentKeys = current.allFiles.map(key).toSet
    val targetKeys = target.allFiles.map(key).toSet

    val toAdd0 = target.allFiles.filterNot(f => currentKeys.contains(key(f)))
      .map(_.copy(dataChange = true))
    // VACUUM may have physically deleted files the target version needs —
    // committing Adds for them would poison every later scan
    // (restore.rs ignore_missing_files: error by default)
    val fsck = table.tablePath.getFileSystem(
      table.spark.sessionState.newHadoopConf())
    // a restored AddFile needs BOTH its data file and (when masked) its
    // deletion-vector blob — VACUUM may have deleted a superseded DV blob
    // while the shared data file stayed live; re-adding such a descriptor
    // would make every later scan fail decoding the mask
    def allPresent(f: AddFile): Boolean =
      fsck.exists(target.absolutePath(f.path)) &&
        f.deletionVector.forall(dv =>
          DeletionVectors.dvPath(table.tablePath, dv).forall(fsck.exists))
    val missing = toAdd0.par.filterNot(allPresent).seq
    if (missing.nonEmpty && !ignoreMissingFiles)
      throw new IllegalStateException(
        s"RESTORE to $version needs ${missing.size} file(s) (or their " +
        s"deletion-vector blobs) that no longer exist (vacuumed?): " +
        s"${missing.take(3).map(_.path)}... — pass " +
        "ignoreMissingFiles=true to restore without them")
    // set membership, not missing.exists per file: 500k files x 100k
    // missing is 5e10 driver-side string compares (minutes) done linearly
    val missingPaths = missing.map(_.path).toSet
    val toAdd = if (ignoreMissingFiles)
      toAdd0.filterNot(f => missingPaths.contains(f.path)) else toAdd0
    val now = System.currentTimeMillis()
    val toRemove = current.allFiles.filterNot(f => targetKeys.contains(key(f)))
      .map(_.remove(now, dataChange = true))

    val metaAction: Seq[Action] =
      if (target.metadata.schemaString != current.metadata.schemaString ||
          target.metadata.partitionColumns != current.metadata.partitionColumns ||
          target.metadata.configuration != current.metadata.configuration)
        Seq(target.metadata)
      else Nil

    val txn = table.startTransaction(current) // pinned to the planning snapshot
    txn.readWholeTable()
    val metrics = Map(
      "numRestoredFiles" -> toAdd.size.toString,
      "numRemovedFiles" -> toRemove.size.toString)
    // removes MUST precede adds: with DV restores the same path can be
    // tombstoned and re-added in one commit, and replay is order-sensitive
    table.commitAndRefresh(txn, metaAction ++ toRemove ++ toAdd,
      Operation("RESTORE", Map("version" -> version.toString), metrics))
    metrics
  }
}

/** FSCK — drop Add entries whose backing files vanished
  * (`operations/filesystem_check.rs:43`). */
object FsckOp {
  def run(table: DeltaTable, dryRun: Boolean): Seq[String] = {
    val snapshot = table.refresh()
    val fs = table.tablePath.getFileSystem(table.spark.sessionState.newHadoopConf())
    // an add is unreadable when EITHER backing file vanished: the data
    // file, or the deletion-vector blob (without the mask the visible row
    // set is undefined — every scan of that file fails decoding)
    // parallel existence probes, like RESTORE's allPresent: serial
    // driver-side exists() on a large table against an object store is
    // hours of sequential round-trips
    val missing = snapshot.allFiles.par.filterNot { f =>
      fs.exists(snapshot.absolutePath(f.path)) &&
        f.deletionVector
          .flatMap(dv => DeletionVectors.dvPath(table.tablePath, dv))
          .forall(fs.exists)
    }.seq
    if (missing.nonEmpty && !dryRun) {
      val now = System.currentTimeMillis()
      val txn = table.startTransaction(snapshot) // pinned
      table.commitAndRefresh(txn,
        missing.map(_.remove(now, dataChange = true)),
        Operation("FSCK", Map("dry_run" -> "false"),
          Map("files_removed" -> missing.size.toString)))
    }
    missing.map(_.path)
  }
}

/** ADD/DROP CONSTRAINT (`operations/constraints.rs:28`,
  * `drop_constraints.rs`) — ADD validates existing rows first. */
object ConstraintsOp {
  def add(table: DeltaTable, name: String, exprStr: String): Unit = {
    val snapshot = table.refresh()
    val key = s"delta.constraints.$name"
    require(!snapshot.metadata.configuration.contains(key),
      s"Constraint $name already exists")
    // validate current data (constraints.rs:1-24 scans with DataValidationExec)
    val violations = table.toDF
      .filter(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(exprStr),
        org.apache.spark.sql.functions.lit(true)) === false)
      .limit(1).count()
    if (violations > 0)
      throw new ConstraintViolationException(
        s"Cannot add constraint $name: existing rows violate ($exprStr)")
    val newMeta = snapshot.metadata.copy(
      configuration = snapshot.metadata.configuration + (key -> exprStr))
    val txn = table.startTransaction(snapshot) // pinned: metadata derived from it
    // the validation scan read the WHOLE table: without recording that, a
    // concurrent append of violating rows would not conflict and the
    // committed constraint would advertise a guarantee the data breaks
    txn.readWholeTable()
    table.commitAndRefresh(txn, Seq(newMeta),
      Operation("ADD CONSTRAINT", Map("name" -> name, "expr" -> exprStr)))
  }

  def drop(table: DeltaTable, name: String): Unit = {
    val snapshot = table.refresh()
    val key = s"delta.constraints.$name"
    require(snapshot.metadata.configuration.contains(key), s"No such constraint: $name")
    val newMeta = snapshot.metadata.copy(
      configuration = snapshot.metadata.configuration - key)
    val txn = table.startTransaction(snapshot) // pinned: metadata derived from it
    table.commitAndRefresh(txn, Seq(newMeta),
      Operation("DROP CONSTRAINT", Map("name" -> name)))
  }
}

/** Metadata-only DDL: table properties, add-column
  * (`operations/set_tbl_properties.rs`, `add_column.rs`). */
object MetadataOps {
  /** SET TBLPROPERTIES as a pure metadata transform: validated props
    * merged into `meta`, plus the protocol upgrade when the props imply
    * one (the none→name column-mapping migration). Shared by the
    * single-purpose commit below and the one-commit ALTER TABLE. */
  private def buildSetProps(meta: Metadata, protocol: Protocol,
      rawProps: Map[String, String]): (Metadata, Option[Protocol], Map[String, String]) = {
    // the stored mode value is normalized, not just the comparison: this
    // engine reads it via trim/toLowerCase, masking a literal "Name" that
    // case-sensitive foreign readers reject
    val props = rawProps.map {
      case (k @ "delta.columnMapping.mode", v) => k -> v.trim.toLowerCase(java.util.Locale.ROOT)
      case kv => kv
    }
    // enabling inCommitTimestamps via a bare property is refused: this
    // engine never stamps CommitInfo.inCommitTimestamp (the writer feature
    // is outside supportedWriterFeatures), so every commit after the flag
    // would violate the ICT spec for compliant readers — and the read-side
    // gate (DeltaLog.ictEnablementVersion) requires the protocol feature
    // precisely so a planted property cannot brick timestamp resolution
    props.get("delta.enableInCommitTimestamps")
      .filter(_.trim.equalsIgnoreCase("true")).foreach { _ =>
        throw new UnsupportedOperationException(
          "enabling delta.enableInCommitTimestamps is not supported: this " +
            "engine has no ICT write path (reads of foreign ICT tables " +
            "resolve timestamps by the recorded values; writes refuse)")
      }
    // retention intervals validate AT SET TIME (delta-spark posture): a
    // value the readers can't parse would otherwise throw on every later
    // cleanup/checkpoint/VACUUM instead of at the command that planted it
    Seq("delta.logRetentionDuration", "delta.deletedFileRetentionDuration")
      .foreach(k => props.get(k).foreach(v =>
        graft.kernel.DeltaConfig.durationMs(k, v)))
    // delta.columnMapping.mode transitions: the reference refuses them all
    // (operations/set_tbl_properties.rs:89 unsupported_column_mapping); we
    // additionally support the one migration delta-spark supports — the
    // none -> name upgrade — by performing the REAL migration the bare
    // property commit would otherwise skip: per-field physical names (:=
    // logical names, so the parquet files already on disk stay addressable),
    // field ids, maxColumnId, and a protocol carrying columnMapping. Every
    // other transition (none->id, name->none, id->name, ...) still refuses:
    // id mode needs parquet field_ids rewritten into existing footers, and
    // downgrades would strip mapping from files whose physical names differ.
    val oldMode = meta.configuration
      .getOrElse("delta.columnMapping.mode", "none").trim.toLowerCase(java.util.Locale.ROOT)
    val requested = props.get("delta.columnMapping.mode")
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)).filter(_ != oldMode)
    requested match {
      case Some("name") if oldMode == "none" =>
        val curMax = meta.configuration
          .get(ColumnMapping.MAX_ID_KEY).map(_.toInt).getOrElse(0)
        val (annotated, maxId) = ColumnMapping.assignMetadata(
          meta.schema, startId = curMax, preserveNames = true)
        (meta.copy(
          schemaString = annotated.json,
          configuration = meta.configuration ++ props +
            (ColumnMapping.MAX_ID_KEY -> maxId.toString)),
          ProtocolGate.upgradeForColumnMapping(protocol), props)
      case Some(m) =>
        throw new UnsupportedOperationException(
          s"changing delta.columnMapping.mode ($oldMode -> $m) via " +
            "setProperties is not supported (only the none -> name " +
            "upgrade migrates); create the table with the mode instead")
      case None =>
        (meta.copy(configuration = meta.configuration ++ props), None, props)
    }
  }

  def setProperties(table: DeltaTable, rawProps: Map[String, String]): Unit = {
    val snapshot = table.refresh()
    val (newMeta, protoUp, props) =
      buildSetProps(snapshot.metadata, snapshot.protocol, rawProps)
    val txn = table.startTransaction(snapshot) // pinned: metadata derived from it
    table.commitAndRefresh(txn, protoUp.toSeq :+ newMeta,
      Operation("SET TBLPROPERTIES", props))
  }

  /** ADD COLUMNS as a pure metadata transform (see [[buildSetProps]]). */
  private def buildAddColumns(meta: Metadata, protocol: Protocol,
      newCols: StructType): (Metadata, Option[Protocol]) = {
    val existing = meta.schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    newCols.foreach { f =>
      require(!existing.contains(f.name.toLowerCase(java.util.Locale.ROOT)), s"Column ${f.name} already exists")
      require(f.nullable, s"New column ${f.name} must be nullable")
    }
    val merged0 = StructType(meta.schema.fields ++ newCols.fields)
    // under column mapping the new fields need physical names/ids and a
    // maxColumnId bump (same invariant as merge schema evolution)
    val (merged, conf) =
      if (ColumnMapping.enabled(meta)) {
        val curMax = meta.configuration
          .get(ColumnMapping.MAX_ID_KEY).map(_.toInt).getOrElse(0)
        val (annotated, maxId) = ColumnMapping.assignMetadata(merged0, startId = curMax)
        (annotated, meta.configuration +
          (ColumnMapping.MAX_ID_KEY -> maxId.toString))
      } else (merged0, meta.configuration)
    // a VARIANT column arriving through DDL needs the feature protocol,
    // exactly like the write/merge schema-evolution paths
    (meta.copy(schemaString = merged.json, configuration = conf),
      ProtocolGate.upgradeForSchema(merged, protocol))
  }

  def addColumns(table: DeltaTable, newCols: StructType): Unit = {
    val snapshot = table.refresh()
    val (newMeta, protoUp) =
      buildAddColumns(snapshot.metadata, snapshot.protocol, newCols)
    val txn = table.startTransaction(snapshot) // pinned: metadata derived from it
    table.commitAndRefresh(txn, protoUp.toSeq :+ newMeta,
      Operation("ADD COLUMNS", Map("columns" -> newCols.fieldNames.mkString(","))))
  }

  /** One ALTER TABLE statement = ONE commit: ADD COLUMNS + SET
    * TBLPROPERTIES + COMMENT applied to a single metadata action (each
    * piece through its own validator above). Separate commits left the
    * statement HALF-APPLIED when a later piece's commit conflicted — e.g.
    * the comment durably set while the CDF property never landed. */
  def alterCombined(table: DeltaTable, newCols: StructType,
      rawProps: Map[String, String], description: Option[String]): Unit = {
    if (newCols.isEmpty && rawProps.isEmpty && description.isEmpty) return
    val snapshot = table.refresh()
    val (m1, pr1): (Metadata, Option[Protocol]) =
      if (newCols.isEmpty) (snapshot.metadata, None)
      else buildAddColumns(snapshot.metadata, snapshot.protocol, newCols)
    val (m2, pr2, props): (Metadata, Option[Protocol], Map[String, String]) =
      if (rawProps.isEmpty) (m1, None, Map.empty[String, String])
      else buildSetProps(m1, pr1.getOrElse(snapshot.protocol), rawProps)
    val m3 = description.fold(m2)(d => m2.copy(description = Some(d)))
    val txn = table.startTransaction(snapshot) // pinned: metadata derived from it
    table.commitAndRefresh(txn, pr2.orElse(pr1).toSeq :+ m3,
      Operation("ALTER TABLE",
        (if (newCols.isEmpty) Map.empty[String, String]
         else Map("addColumns" -> newCols.fieldNames.mkString(","))) ++
          props ++ description.map("comment" -> _).toMap))
  }

  /** ADD FEATURE (operations/add_feature.rs): record a protocol feature,
    * upgrading to the features-capable versions when needed. Only features
    * this engine can actually honor are allowed (ProtocolGate support set). */
  def addFeature(table: DeltaTable, feature: String,
                 allowProtocolVersionIncrease: Boolean = true): Unit = {
    val snapshot = table.refresh()
    val p = snapshot.protocol
    val isReaderFeature = ProtocolGate.supportedReaderFeatures.contains(feature)
    require(ProtocolGate.supportedWriterFeatures.contains(feature) || isReaderFeature,
      s"Feature $feature is not supported by this engine")
    val needsUpgrade = p.minWriterVersion < 7 || (isReaderFeature && p.minReaderVersion < 3)
    require(allowProtocolVersionIncrease || !needsUpgrade,
      s"Adding $feature requires a protocol upgrade (pass allowProtocolVersionIncrease=true)")
    // upgrading a legacy protocol to v7 must enumerate the writer features
    // the old version implied — feature lists replace version implication
    val newReaderVersion = if (isReaderFeature) 3 else p.minReaderVersion
    val newProtocol = Protocol(
      minReaderVersion = newReaderVersion,
      minWriterVersion = 7,
      // PROTOCOL.md allows readerFeatures ONLY at minReaderVersion 3: a
      // writer-feature upgrade of a legacy (v1/v2) reader must stay
      // list-free or strict foreign readers reject the protocol action
      // (the upgradeForColumnMapping discipline)
      readerFeatures = if (newReaderVersion >= 3) Some(
        // a v2 reader implied columnMapping; the v3 feature LIST must
        // enumerate it or mapping-aware readers refuse/misread the table
        (ProtocolGate.impliedReaderFeatures(p) ++
          (if (isReaderFeature) Seq(feature) else Nil)).distinct)
      else None,
      writerFeatures = Some(
        (ProtocolGate.impliedWriterFeatures(p) :+ feature).distinct))
    val txn = table.startTransaction(snapshot) // pinned: metadata derived from it
    table.commitAndRefresh(txn, Seq(newProtocol),
      Operation("ADD FEATURE", Map("feature" -> feature)))
  }

  /** update_field_metadata.rs: merge metadata keys into one schema field. */
  def updateFieldMetadata(table: DeltaTable, column: String,
                          metadata: Map[String, String]): Unit = {
    val snapshot = table.refresh()
    require(snapshot.schema.fieldNames.contains(column), s"No such column: $column")
    val newFields = snapshot.schema.map { f =>
      if (f.name != column) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        metadata.foreach { case (k, v) => b.putString(k, v) }
        f.copy(metadata = b.build())
      }
    }
    val newMeta = snapshot.metadata.copy(schemaString = StructType(newFields).json)
    val txn = table.startTransaction(snapshot) // pinned: metadata derived from it
    table.commitAndRefresh(txn, Seq(newMeta),
      Operation("UPDATE FIELD METADATA", Map("column" -> column)))
  }

  /** update_table_metadata.rs: table name/description. */
  def updateTableMetadata(table: DeltaTable, name: Option[String],
                          description: Option[String]): Unit = {
    val snapshot = table.refresh()
    val newMeta = snapshot.metadata.copy(
      name = name.orElse(snapshot.metadata.name),
      description = description.orElse(snapshot.metadata.description))
    val txn = table.startTransaction(snapshot) // pinned: metadata derived from it
    table.commitAndRefresh(txn, Seq(newMeta),
      Operation("UPDATE TABLE METADATA",
        name.map("name" -> _).toMap ++ description.map("description" -> _).toMap))
  }
}

/** Convert a plain parquet directory in place
  * (`operations/convert_to_delta.rs:1-36`): infer schema + hive partitions,
  * synthesize Adds with footer stats, single initial commit. */
object ConvertToDeltaOp {
  def run(spark: SparkSession, path: String,
          partitionSchema: Option[StructType]): DeltaTable = {
    val tablePath = new Path(path)
    val log = new DeltaLog(spark, tablePath)
    require(!log.tableExists, s"$path is already a Delta table")
    val fs = tablePath.getFileSystem(spark.sessionState.newHadoopConf())

    // schema via Spark inference (includes hive partition columns)
    val inferred = spark.read.option("basePath", path).parquet(path)
    // honor the CALLER's partition column TYPES, not just the names: an
    // explicit partitionSchema exists to override inference (part='01'
    // passed as STRING must not commit as the inferred INT, which reads
    // the stored '01' as 1 and collapses distinct directory values)
    val fullSchema = partitionSchema match {
      case Some(ps) =>
        val known = inferred.schema.fieldNames.toSet
        val missing = ps.fieldNames.filterNot(known.contains)
        require(missing.isEmpty,
          s"convertToDelta: partitionSchema column(s) ${missing.mkString(", ")} " +
            s"not found in the inferred layout (${known.mkString(", ")})")
        StructType(inferred.schema.map(f =>
          ps.find(_.name == f.name).getOrElse(f)))
      case None => inferred.schema
    }
    val partCols: Seq[String] = partitionSchema.map(_.fieldNames.toSeq).getOrElse {
      // infer: columns that only appear in directory names
      val sample = firstParquet(fs, tablePath)
        .getOrElse(throw new IllegalArgumentException(s"No parquet files under $path"))
      // glob-escaped: the sampled file's NAME is whatever the foreign
      // layout carries (e.g. 'report [2020].parquet' — spark.read
      // glob-expands its argument)
      val fileSchema = spark.read
        .parquet(PathCodec.globEscape(sample.toString))
        .schema.fieldNames.toSet
      fullSchema.fieldNames.toSeq.filterNot(fileSchema.contains)
    }
    val dataSchema = StructType(fullSchema.filterNot(f => partCols.contains(f.name)))

    val files = mutable.ArrayBuffer[(FileStatus, Seq[(String, String)])]()
    def walk(dir: Path, parts: Seq[(String, String)]): Unit = {
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && !name.startsWith("_") && !name.startsWith(".")) {
          val eq = name.indexOf('=')
          if (eq > 0)
            walk(st.getPath, parts :+ (graft.table.DeltaWriter.unescapePathName(name.take(eq)) ->
              graft.table.DeltaWriter.unescapePathName(name.drop(eq + 1))))
          else walk(st.getPath, parts)
        } else if (st.isFile && name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith("."))
          files += ((st, parts))
      }
    }
    walk(tablePath, Nil)

    // footer stats read DISTRIBUTED: one task per batch of files, only the
    // small AddFile rows return to the driver — a 100k-file conversion is a
    // single fan-out, not 100k sequential driver round-trips
    val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val dataSchemaJson = dataSchema.json
    // QUALIFIED base: listStatus returns fully-qualified paths (file:/...),
    // and URI.relativize on a scheme mismatch returns its input UNCHANGED —
    // an unqualified base committed ABSOLUTE AddFile paths. Reads passed
    // (absolutePath passes absolute through) but VACUUM's live set then
    // never matched its relative listing keys: live data files aged into
    // deletion candidates. Same qualification rule VacuumOp applies.
    val tableUri = fs.makeQualified(tablePath).toUri
    // each file's listing status travels with it: its size and mtime go
    // into the Add, and the footer read opens it without another status call
    val fileList = files.toSeq.map { case (st, parts) =>
      (st.getPath.toString, st.getLen, st.getModificationTime, parts)
    }
    val adds: Seq[AddFile] =
      if (fileList.isEmpty) Nil
      else spark.sparkContext
        .parallelize(fileList, math.min(
          math.max(1, fileList.size / 64), 256))
        .mapPartitions { it =>
          val conf = serConf.value
          val ds = org.apache.spark.sql.types.DataType.fromJson(dataSchemaJson)
            .asInstanceOf[StructType]
          it.map { case (pStr, len, mtime, parts) =>
            val p = new Path(pStr)
            val st = new FileStatus(len, false, 0, 0L, mtime, p)
            val (_, stats) = ParquetStats.collect(conf, st, ds)
            val rel = tableUri.relativize(p.toUri).getPath
            require(!rel.startsWith("/"),
              s"convert_to_delta: could not relativize $pStr against " +
                s"$tableUri — refusing to commit an absolute AddFile path")
            AddFile(
              path = PathCodec.encode(rel),
              partitionValues = parts.map { case (k, v) =>
                k -> (if (v == PartitionCodec.HIVE_DEFAULT) null else v)
              }.toMap,
              size = st.getLen,
              modificationTime = st.getModificationTime,
              dataChange = true,
              stats = Some(stats))
          }
        }.collect().toSeq

    val metadata = Metadata(
      schemaString = fullSchema.json,
      partitionColumns = partCols,
      createdTime = Some(System.currentTimeMillis()))
    val txn = new OptimisticTransaction(log, None)
    txn.commit(Seq(Protocol(), metadata) ++ adds,
      Operation("CONVERT", Map("numFiles" -> adds.size.toString)))
    new DeltaTable(spark, tablePath)
  }

  private def firstParquet(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Option[Path] = {
    fs.listStatus(dir).sortBy(_.getPath.getName).view.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory && !name.startsWith("_") && !name.startsWith(".")) firstParquet(fs, st.getPath)
      // same hidden-file guard as walk(): a '_committed_*.parquet' sidecar
      // sorts first and its schema would misclassify real data columns as
      // partition columns during inference
      else if (st.isFile && name.endsWith(".parquet") &&
        !name.startsWith("_") && !name.startsWith(".")) Some(st.getPath)
      else None
    }.headOption
  }
}

/** `_symlink_format_manifest` generation for Presto/Trino
  * (`operations/generate.rs:91`). */
object GenerateManifestOp {
  def run(table: DeltaTable): Unit = {
    val snapshot = table.refresh()
    // a symlink manifest lists whole files — a reader following it cannot
    // apply deletion vectors, so masked rows would resurface. Refuse, like
    // delta-spark's manifest generation on DV-enabled tables.
    val masked = snapshot.allFiles.filter(_.deletionVector.exists(_.cardinality > 0))
    require(masked.isEmpty,
      s"Cannot generate symlink manifest: ${masked.size} file(s) carry " +
      "deletion vectors that manifest readers cannot apply — run OPTIMIZE " +
      "(or purge DVs via rewrite) first")
    val fs = table.tablePath.getFileSystem(table.spark.sessionState.newHadoopConf())
    val manifestRoot = new Path(table.tablePath, "_symlink_format_manifest")
    if (fs.exists(manifestRoot)) fs.delete(manifestRoot, true)
    // under column mapping AddFile.partitionValues is keyed by PHYSICAL
    // column names; a logical-name lookup would find nothing and collapse
    // every partition group onto one overwritten manifest file
    val nameMap = graft.kernel.ColumnMapping.nameMap(snapshot.metadata.schema)
    snapshot.allFiles.groupBy(_.partitionValues).foreach { case (parts, files) =>
      val sub = snapshot.partitionColumns.flatMap { c =>
        parts.get(nameMap.getOrElse(c, c)).map { v =>
          val enc = if (v == null) PartitionCodec.HIVE_DEFAULT
            else graft.table.DeltaWriter.escapePathName(v)
          s"${graft.table.DeltaWriter.escapePathName(c)}=$enc"
        }
      }.mkString("/")
      val dir = if (sub.isEmpty) manifestRoot else new Path(manifestRoot, sub)
      fs.mkdirs(dir)
      val out = fs.create(new Path(dir, "manifest"), true)
      try files.foreach { f =>
        out.write((snapshot.absolutePath(f.path).toString + "\n").getBytes("UTF-8"))
      } finally out.close()
    }
  }
}

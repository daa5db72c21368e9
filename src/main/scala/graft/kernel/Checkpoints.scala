package graft.kernel

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/**
 * Classic (V1) single-file parquet checkpoints: one row per live action,
 * columns `txn | add | remove | metaData | protocol`, written every
 * `delta.checkpointInterval` commits plus a `_last_checkpoint` hint —
 * reference behavior in `crates/core/src/protocol/checkpoints.rs:27-46`
 * (`create_checkpoint_for`).
 *
 * Checkpoints are read on the driver, through Spark's own parquet reader,
 * launching no Spark job: all of an eager snapshot's checkpoint, and only
 * the control-plane columns of a lazy (huge) one's. The snapshot kind
 * decides where a checkpoint write runs. An eager snapshot's is written on
 * the driver through Spark's parquet writer; a lazy snapshot streams its
 * state from the previous checkpoint's parquet in a Spark write.
 */
object Checkpoints {

  private val strMap = MapType(StringType, StringType, valueContainsNull = true)

  val dvType: StructType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)
  ))

  val addType: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", strMap),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType),
    StructField("tags", strMap),
    StructField("deletionVector", dvType),
    StructField("baseRowId", LongType),
    StructField("defaultRowCommitVersion", LongType),
    StructField("clusteringProvider", StringType)
  ))

  val removeType: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("deletionTimestamp", LongType),
    StructField("dataChange", BooleanType),
    StructField("extendedFileMetadata", BooleanType),
    StructField("partitionValues", strMap),
    StructField("size", LongType),
    StructField("deletionVector", dvType)
  ))

  val domainMetadataType: StructType = StructType(Seq(
    StructField("domain", StringType),
    StructField("configuration", StringType),
    StructField("removed", BooleanType)
  ))

  /** V2 manifest sidecar reference column (read-only; we write classic). */
  val sidecarType: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("sizeInBytes", LongType),
    StructField("modificationTime", LongType)
  ))

  val metadataType: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("format", StructType(Seq(
      StructField("provider", StringType),
      StructField("options", strMap)))),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", strMap),
    StructField("createdTime", LongType)
  ))

  // v3/v7 protocol rows MUST carry their feature lists (Delta PROTOCOL.md
  // checkpoint schema) — dropping them would silently strip the feature
  // signal from third-party readers on replay.
  val protocolType: StructType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))
  ))

  val txnType: StructType = StructType(Seq(
    StructField("appId", StringType),
    StructField("version", LongType),
    StructField("lastUpdated", LongType)
  ))

  val checkpointSchema: StructType = StructType(Seq(
    StructField("txn", txnType),
    StructField("add", addType),
    StructField("remove", removeType),
    StructField("metaData", metadataType),
    StructField("protocol", protocolType),
    StructField("domainMetadata", domainMetadataType)
  ))

  // ---- row decoders (shared by the driver read path and LazyFileIndex's
  // executor-side decode; object-method access serializes nothing) ----

  private def mapOf(r: Row, i: Int): Map[String, String] =
    if (r.isNullAt(i)) Map.empty else r.getMap[String, String](i).toMap

  private def dvOf(r: Row, i: Int): Option[DeletionVectorDescriptor] =
    if (r.length <= i || r.isNullAt(i)) None
    else {
      val d = r.getStruct(i)
      Some(DeletionVectorDescriptor(
        storageType = d.getString(0),
        pathOrInlineDv = d.getString(1),
        offset = if (d.isNullAt(2)) None else Some(d.getInt(2)),
        sizeInBytes = if (d.isNullAt(3)) 0 else d.getInt(3),
        cardinality = if (d.isNullAt(4)) 0L else d.getLong(4)))
    }

  /** Decode one `add` struct row (positions = [[addType]] order). */
  def decodeAdd(a: Row): AddFile =
    AddFile(
      path = a.getString(0),
      partitionValues = mapOf(a, 1),
      size = if (a.isNullAt(2)) 0L else a.getLong(2),
      modificationTime = if (a.isNullAt(3)) 0L else a.getLong(3),
      dataChange = if (a.isNullAt(4)) true else a.getBoolean(4),
      stats = Option(a.getString(5)),
      tags = if (a.isNullAt(6)) None else Some(a.getMap[String, String](6).toMap),
      deletionVector = dvOf(a, 7),
      baseRowId = if (a.isNullAt(8)) None else Some(a.getLong(8)),
      defaultRowCommitVersion = if (a.isNullAt(9)) None else Some(a.getLong(9)),
      clusteringProvider = Option(a.getString(10)))

  /** Decode one `remove` struct row (positions = [[removeType]] order). */
  def decodeRemove(r: Row): RemoveFile =
    RemoveFile(
      path = r.getString(0),
      deletionTimestamp = if (r.isNullAt(1)) None else Some(r.getLong(1)),
      dataChange = if (r.isNullAt(2)) true else r.getBoolean(2),
      extendedFileMetadata = if (r.isNullAt(3)) None else Some(r.getBoolean(3)),
      partitionValues = if (r.isNullAt(4)) None else Some(r.getMap[String, String](4).toMap),
      size = if (r.isNullAt(5)) None else Some(r.getLong(5)),
      deletionVector = dvOf(r, 6))

  private def dvRow(dv: DeletionVectorDescriptor): Row =
    Row(dv.storageType, dv.pathOrInlineDv, dv.offset.map(Int.box).orNull,
      dv.sizeInBytes, dv.cardinality)

  private def addRow(f: AddFile): Row =
    Row(f.path, f.partitionValues, f.size, f.modificationTime, f.dataChange,
      f.stats.orNull, f.tags.orNull, f.deletionVector.map(dvRow).orNull,
      f.baseRowId.map(Long.box).orNull,
      f.defaultRowCommitVersion.map(Long.box).orNull,
      f.clusteringProvider.orNull)

  private def removeRow(r: RemoveFile): Row =
    Row(r.path, r.deletionTimestamp.map(Long.box).orNull, r.dataChange,
      r.extendedFileMetadata.map(Boolean.box).orNull,
      r.partitionValues.orNull, r.size.map(Long.box).orNull,
      r.deletionVector.map(dvRow).orNull)

  /** Write the checkpoint for `snapshot` plus the `_last_checkpoint` hint.
    * An eager snapshot's state is written from the driver ([[writeParts]]).
    * On a lazy (huge-table) snapshot the add/remove state streams from the
    * PREVIOUS checkpoint's parquet with the tail overlay applied — the
    * driver never materializes the index to re-checkpoint it. */
  def write(spark: SparkSession, logPath: Path, snapshot: Snapshot, store: LogStore): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val m = snapshot.metadata
    val controlRows: Seq[Row] =
      Seq(Row(null, null, null,
        Row(m.id, m.name.orNull, m.description.orNull,
          Row(m.format.provider, m.format.options), m.schemaString,
          m.partitionColumns, m.configuration, m.createdTime.map(Long.box).orNull),
        null, null)) ++
      Seq(Row(null, null, null, null,
        Row(snapshot.protocol.minReaderVersion, snapshot.protocol.minWriterVersion,
          snapshot.protocol.readerFeatures.orNull,
          snapshot.protocol.writerFeatures.orNull), null)) ++
      snapshot.txns.toSeq.map { case (app, v) => Row(Row(app, v, null), null, null, null, null, null) } ++
      snapshot.domains.values.toSeq.map(d =>
        Row(null, null, null, null, null, Row(d.domain, d.configuration, d.removed)))

    // Try-parse like every other graft conf: a typo'd value would throw
    // out of every postCommit checkpoint attempt, silently stopping
    // checkpointing (and log cleanup) forever behind a stderr line
    val partSize = spark.conf.getOption("spark.graft.checkpoint.partSize")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(1000000)

    // V2 (uuid manifest + sidecars) when the table opted in via
    // delta.checkpointPolicy=v2 AND carries the v2Checkpoint reader feature
    // (PROTOCOL.md "V2 Checkpoint Table Feature"; the reference reads these
    // via kernel, crates/core/src/protocol/checkpoints.rs). Classic
    // otherwise.
    val writeV2 = snapshot.getConf("delta.checkpointPolicy").contains("v2") &&
      snapshot.protocol.readerFeatures.exists(_.contains("v2Checkpoint"))

    // tombstones past delta.deletedFileRetentionDuration are dropped from
    // the written checkpoint (reference + delta-spark behavior: once the
    // retention window has passed, the tombstone's only consumer — VACUUM —
    // no longer needs it, and carrying every remove forever makes the
    // checkpoint grow monotonically). Missing deletionTimestamp counts as
    // ancient, mirroring delta-spark's reaper.
    val retentionMs = m.configuration.get("delta.deletedFileRetentionDuration")
      .map(DeltaConfig.durationMs("delta.deletedFileRetentionDuration", _))
      .getOrElse(7L * 24 * 3600 * 1000)
    val tombstoneCutoff = System.currentTimeMillis() - retentionMs
    def tombstoneLive(r: RemoveFile): Boolean =
      r.deletionTimestamp.getOrElse(0L) >= tombstoneCutoff

    val lazyIdx = snapshot.lazyIndex.filterNot(_.isMaterialized)
    // stages the file-action rows (add/remove), preceded by the control rows
    // when `withControl` (classic; V2 puts them in its manifest), as `part-*`
    // parquet files in a staging dir, `nParts` of them at most
    val (stage, knownFileRows, nActions) = lazyIdx match {
      case Some(idx) =>
        // overlay identity is (path, dvUniqueId) — mirroring ReplayState /
        // LazyFileIndex — so a tail tombstone for one DV state of a path
        // cannot drop a checkpoint row carrying a DIFFERENT (live) DV
        val overlay = (idx.tailAdds.map(_.reconcileKey) ++
          idx.tailRemoves.map(_.reconcileKey)).distinct
        val tailRows = idx.tailAdds.map(f => Row(null, addRow(f), null, null, null, null)) ++
          idx.tailRemoves.filter(tombstoneLive)
            .map(r => Row(null, null, removeRow(r), null, null, null))
        val small = spark.createDataFrame(
          spark.sparkContext.parallelize(tailRows, 1), checkpointSchema)
        // one column-pruned leg per file-action column, overlay-filtered and
        // re-aligned to the full checkpoint layout
        // the SQL mirror of AddFile.reconcileKey / DvDescriptor.uniqueId
        def keyOf(action: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val dv = action("deletionVector")
          // coalesce each field like Scala string concat renders null
          // ("null"): a NULL field made the whole key NULL, and
          // not(NULL.isin(...)) silently DROPS the row from the IN-list
          // branch (the anti-join branch keeps it) — a live file would
          // vanish from the rewritten checkpoint on a corrupt foreign row
          def ns(c: org.apache.spark.sql.Column) = coalesce(c, lit("null"))
          org.apache.spark.sql.functions.concat(ns(action("path")), lit("\u0000"),
            org.apache.spark.sql.functions.when(dv.isNotNull,
              org.apache.spark.sql.functions.concat(ns(dv("storageType")), ns(dv("pathOrInlineDv")),
                org.apache.spark.sql.functions.when(dv("offset").isNotNull,
                  org.apache.spark.sql.functions.concat(lit("@"), dv("offset").cast("string")))
                  .otherwise(lit(""))))
              .otherwise(lit("")))
        }
        // a big tail commit (OPTIMIZE/DELETE touching 100k+ files) makes a
        // literal IN-list a 100k-child Catalyst expression — the overlay
        // filter switches to a broadcast anti-join above a small threshold
        // (the same key set LazyFileIndex broadcasts for its overlays)
        val maxOverlayInList = 1000
        lazy val overlayDf = {
          import spark.implicits._
          org.apache.spark.sql.functions.broadcast(
            overlay.toDF("__overlay_key"))
        }
        def leg(name: String, dt: StructType,
                baseOverride: Option[org.apache.spark.sql.DataFrame] = None) = {
          val base = baseOverride.getOrElse(
            spark.read.schema(StructType(Seq(StructField(name, dt))))
              .parquet(idx.checkpointParts.map(_.toString): _*)
              .filter(col(name).isNotNull))
          val src =
            if (overlay.isEmpty) base
            else if (overlay.size <= maxOverlayInList)
              base.filter(not(keyOf(col(name)).isin(overlay: _*)))
            else base.join(overlayDf,
              keyOf(col(name)) === col("__overlay_key"), "left_anti")
          src.select(checkpointSchema.fields.map { f =>
            if (f.name == name) col(name).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }.toSeq: _*)
        }
        val removeLeg = leg("remove", removeType)
          .filter(coalesce(col("remove.deletionTimestamp"), lit(0L)) >= tombstoneCutoff)
        // nActions only sizes the part split (the hint's `size` is taken
        // EXACTLY from the written parts' footers on this branch), so an
        // estimate from the previous hint + the tail avoids two extra full
        // scans of the old checkpoint that countAdds()/count() cost
        val prevHint =
          DeltaLog.lastCheckpointHintOf(store, logPath)._2.getOrElse(0L)
        // overlaid keys are filtered OUT of the old legs and re-enter via the
        // tail, and the old checkpoint's control rows are replaced by ours —
        // subtract both or the estimate ratchets upward every checkpoint
        // (it only feeds nParts, but drifting part counts fragment the log)
        val approx = math.max(prevHint - overlay.size - controlRows.size, 0L) +
          idx.tailAdds.size + idx.tailRemoves.count(tombstoneLive) + controlRows.size
        // the add leg streams through addColumnDf so stats_parsed-only
        // checkpoints keep their stats in the checkpoint we WRITE
        val fileDf = small.unionByName(leg("add", addType,
          Some(addColumnDf(spark, idx.checkpointParts)))).unionByName(removeLeg)
        def sparkStage(tmp: Path, withControl: Boolean, nParts: Int): Unit = {
          val df =
            if (!withControl) fileDf
            else spark.createDataFrame(spark.sparkContext.parallelize(controlRows, 1),
              checkpointSchema).unionByName(fileDf)
          // repartition(1), not coalesce(1): coalesce is a NARROW dependency
          // that collapses the whole upstream (old-checkpoint scan, overlay
          // anti-join, stats synthesis) into ONE task — exactly the huge-table
          // checkpoints this branch exists to parallelize. repartition keeps
          // the upstream cluster-wide and only funnels the write.
          df.repartition(nParts).write.mode("overwrite").parquet(tmp.toString)
        }
        (sparkStage _, None, approx)
      case None =>
        // the state is already in driver memory: write it from here, with
        // no Spark job
        val removes = snapshot.tombstones.filter(tombstoneLive)
        def fileRows =
          snapshot.allFiles.iterator.map(f => Row(null, addRow(f), null, null, null, null)) ++
            removes.iterator.map(r => Row(null, null, removeRow(r), null, null, null))
        val nFileRows = snapshot.allFiles.size.toLong + removes.size
        def driverStage(tmp: Path, withControl: Boolean, nParts: Int): Unit =
          if (withControl) writeParts(spark, tmp, controlRows.iterator ++ fileRows,
            nFileRows + controlRows.size, nParts)
          else writeParts(spark, tmp, fileRows, nFileRows, nParts)
        (driverStage _, Some(nFileRows), nFileRows + controlRows.size)
    }

    if (writeV2) {
      writeV2Checkpoint(logPath, snapshot, store, stage(_, false, _),
        knownFileRows, nActions, partSize)
      return
    }

    // classic multi-part above `spark.graft.checkpoint.partSize` actions per
    // part — a million-Add table writes N parallel parts, not one giant
    // driver-funneled parquet (delta-spark's checkpoint.partSize behavior;
    // the reader side already handles multi-part, see read())
    val nParts = math.min(((nActions + partSize - 1) / partSize).toInt, 9999)

    val fs = logPath.getFileSystem(store.conf)
    val tmp = new Path(logPath, s".checkpoint_tmp_${snapshot.version}")
    // the finally reclaims the staging dir on ANY failure (a rename require,
    // a write error) — debris in _delta_log inflates every listing forever
    val destFiles: Seq[Path] = try {
      stage(tmp, true, math.max(nParts, 1))
      val partFiles = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      require(partFiles.nonEmpty, s"no part file in $tmp")
      if (partFiles.length == 1) {
        val dest = new Path(logPath, LogStore.checkpointFileName(snapshot.version))
        if (fs.exists(dest)) fs.delete(dest, false)
        require(fs.rename(partFiles.head, dest), s"checkpoint publish failed: $dest")
        Seq(dest)
      } else {
        partFiles.zipWithIndex.map { case (p, i) =>
          val dest = new Path(logPath, LogStore.multiPartCheckpointFileName(
            snapshot.version, i + 1, partFiles.length))
          if (fs.exists(dest)) fs.delete(dest, false)
          // an unchecked false here would publish an incomplete part set —
          // permanently unreadable until manually repaired
          require(fs.rename(p, dest), s"checkpoint part publish failed: $dest")
          dest
        }.toSeq
      }
    } finally fs.delete(tmp, true)

    // exact row count for the hint: footer metadata of the written parts
    // (parts include the control rows, so no adjustment needed on that leg)
    val size = knownFileRows.map(_ + controlRows.size).getOrElse(
      destFiles.map(p => ParquetStats.rowCount(store.conf, p)).sum)
    val partsField = if (destFiles.length > 1) s""","parts":${destFiles.length}""" else ""
    writeHint(fs, logPath,
      s"""{"version":${snapshot.version},"size":$size$partsField}""")
  }

  /** Writes `n` rows of [[checkpointSchema]] into `dir` on the driver as
    * `part-%05d.parquet` files of `ceil(n / nParts)` rows (the last may hold
    * fewer), at least one file: the parquet writer a Spark write task runs,
    * without the job. */
  private def writeParts(spark: SparkSession, dir: Path, rows: Iterator[Row], n: Long,
      nParts: Int): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // parts left by a crashed attempt at this version must not be published
    // next to ours
    dir.getFileSystem(job.getConfiguration).delete(dir, true)
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, checkpointSchema)
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(checkpointSchema)
    val perPart = math.max(1L, (n + nParts - 1) / nParts)
    var part = 0
    do {
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        job.getConfiguration, new TaskAttemptID("", 0, TaskType.MAP, part, 0))
      val out = factory.newInstance(
        new Path(dir, f"part-$part%05d.parquet").toString, checkpointSchema, ctx)
      try {
        var i = 0L
        while (i < perPart && rows.hasNext) {
          out.write(toCatalyst(rows.next())
            .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
          i += 1
        }
      } finally out.close()
      part += 1
    } while (rows.hasNext)
  }

  private def writeHint(fs: org.apache.hadoop.fs.FileSystem, logPath: Path,
                        hint: String): Unit = {
    val hintPath = new Path(logPath, LogStore.LAST_CHECKPOINT)
    // the hint is advisory, but a truncating in-place overwrite exposes
    // torn reads to concurrent loaders — write a temp and rename over
    // (atomic replace on local/HDFS; readers also tolerate a corrupt hint)
    val tmp = new Path(logPath,
      s".${LogStore.LAST_CHECKPOINT}.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(hint.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, hintPath)) {
      // rename-over-existing refused (posix-strict stores): fall back to
      // delete + rename; a racing reader sees a missing (not torn) hint
      fs.delete(hintPath, false)
      if (!fs.rename(tmp, hintPath)) fs.delete(tmp, false)
    }
  }

  /** V2 checkpoint: add/remove state goes to uuid-named parquet sidecars
    * under `_delta_log/_sidecars/`; a json manifest
    * `%020d.checkpoint.<uuid>.json` carries the control actions +
    * `checkpointMetadata` + one `sidecar` action per part. The read side
    * (readResolved) already speaks this layout — this writer closes the
    * round trip for tables with `delta.checkpointPolicy=v2`. */
  private def writeV2Checkpoint(
      logPath: Path, snapshot: Snapshot, store: LogStore,
      stageFiles: (Path, Int) => Unit, knownFileRows: Option[Long],
      nActions: Long, partSize: Int): Unit = {
    val fs = logPath.getFileSystem(store.conf)
    val nParts = math.min(((nActions + partSize - 1) / partSize).toInt, 9999)
    val tmp = new Path(logPath, s".checkpoint_tmp_${snapshot.version}")
    val sidecars: Seq[Sidecar] = try {
      stageFiles(tmp, math.max(nParts, 1))
      val partFiles = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val sidecarDir = new Path(logPath, "_sidecars")
      fs.mkdirs(sidecarDir)
      require(partFiles.nonEmpty,
        s"V2 checkpoint write produced no part files under $tmp")
      partFiles.toSeq.map { p =>
        val name = s"${java.util.UUID.randomUUID}.parquet"
        val dest = new Path(sidecarDir, name)
        // loud rename check, like the classic path: a false return would
        // otherwise surface only as an incidental FileNotFoundException,
        // leaking the already-renamed sidecars
        require(fs.rename(p, dest), s"failed to publish sidecar $p -> $dest")
        val st = fs.getFileStatus(dest)
        Sidecar(name, Some(st.getLen), Some(st.getModificationTime))
      }
    } finally fs.delete(tmp, true)

    val m = snapshot.metadata
    val manifestActions: Seq[Action] =
      Seq(CheckpointMetadata(snapshot.version), snapshot.protocol, m) ++
      snapshot.txns.toSeq.map { case (app, v) => SetTransaction(app, v, None) } ++
      snapshot.domains.values.toSeq ++ sidecars
    val manifestName = LogStore.zeroPad(snapshot.version, 20) +
      s".checkpoint.${java.util.UUID.randomUUID}.json"
    store.writeAtomic(new Path(logPath, manifestName),
      manifestActions.iterator.map(ActionCodec.toJson))

    val size = knownFileRows.getOrElse(
      sidecars.map(s => ParquetStats.rowCount(store.conf,
        new Path(new Path(logPath, "_sidecars"), s.path))).sum) +
      (manifestActions.size - sidecars.size)
    writeHint(fs, logPath, s"""{"version":${snapshot.version},"size":$size}""")
  }

  /** Footer-only row count of one checkpoint part (KBs of IO). */
  def partRowCount(store: LogStore, part: Path): Long =
    ParquetStats.rowCount(store.conf, part)

  /** Sidecar parquet paths referenced by a V2 manifest — the ONE place that
    * knows manifests come as json lines or parquet (PROTOCOL.md allows
    * both); snapshot loading and log cleanup both resolve through here so
    * they can never disagree about a manifest's references. */
  def manifestSidecars(spark: SparkSession, store: LogStore, logPath: Path,
      manifest: Path): Seq[Path] = {
    val actions: Seq[Action] =
      if (manifest.getName.endsWith(".json"))
        store.read(manifest).flatMap(ActionCodec.fromJson)
      else read(spark, Seq(manifest), withFiles = false)
    val sidecarDir = new Path(logPath, "_sidecars")
    actions.collect { case s: Sidecar => new Path(sidecarDir, s.path) }
  }

  /** Read a checkpoint parquet back into actions, on the driver. */
  def read(spark: SparkSession, file: Path): Seq[Action] =
    read(spark, Seq(file), withFiles = true)

  /** Resolve any checkpoint flavor: classic parquet part(s), or a V2 uuid
    * manifest (json lines or parquet) whose Sidecar actions point at
    * `_delta_log/_sidecars/` parquets carrying the add/remove state. */
  def readResolved(spark: SparkSession, store: LogStore, logPath: Path,
      parts: Seq[Path], withFiles: Boolean): Seq[Action] = {
    val (jsonParts, parquetParts) = parts.partition(_.getName.endsWith(".json"))
    val manifestActions: Seq[Action] =
      jsonParts.flatMap(p => store.read(p).flatMap(ActionCodec.fromJson)) ++
        (if (parquetParts.nonEmpty) read(spark, parquetParts, withFiles) else Nil)
    val sidecars = manifestActions.collect { case s: Sidecar => s }
    val resolved =
      if (sidecars.isEmpty || !withFiles)
        manifestActions.filter {
          case _: AddFile | _: RemoveFile if !withFiles => false
          case _ => true
        }
      else {
        val sidecarPaths = sidecars.map(s =>
          new Path(new Path(logPath, "_sidecars"), s.path))
        manifestActions ++ read(spark, sidecarPaths, withFiles = true)
          .filter(a => a.isInstanceOf[AddFile] || a.isInstanceOf[RemoveFile])
      }
    resolved.filterNot(a => a.isInstanceOf[Sidecar] || a.isInstanceOf[CheckpointMetadata])
  }

  /** Footer peek (the first part's footer, read on the driver) shared by
    * the lazy (addColumnDf) and eager (read) paths: the table-specific `add.stats_parsed` struct type when the parts were
    * written with `delta.checkpoint.writeStatsAsJson=false` (delta-spark).
    * Reading such parts through the bare addType silently nulls stats,
    * degrading data skipping to full scans and PERSISTING the loss when a
    * lazy re-checkpoint streams the old parts — both detection AND the
    * synthesis ([[synthesizeStats]]) are single definitions so a fix
    * cannot land in only one path (reference scan_row.rs:225-310). */
  private def statsParsedTypeOf(spark: SparkSession, parts: Seq[Path]): Option[StructType] =
    scala.util.Try {
      val conf = spark.sessionState.newHadoopConf()
      val reader = ParquetStats.open(conf, HadoopInputFile.fromPath(parts.head, conf))
      try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(reader.getFooter.getFileMetaData.getSchema)
      finally reader.close()
    }.toOption
      .flatMap(_.find(_.name == "add")).map(_.dataType)
      .collect { case s: StructType => s }
      .flatMap(_.find(_.name == "stats_parsed")).map(_.dataType)
      .collect { case s: StructType => s }

  /** THE stats_parsed → raw-JSON synthesis (null-safe, and rebuilt as
    * exactly addType, without the struct field) — one definition for the
    * lazy and eager paths; see [[statsParsedTypeOf]]. Built from plain
    * field reads, not `withField`/`dropFields`, so Catalyst can evaluate it
    * over a local relation on the driver. */
  private def synthesizeStats(add: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, struct, to_json, when}
    when(add.isNotNull, struct(addType.fieldNames.toSeq.map {
      case "stats" =>
        coalesce(add.getField("stats"), to_json(add.getField("stats_parsed"))).as("stats")
      case n => add.getField(n).as(n)
    }: _*))
  }

  def addColumnDf(spark: SparkSession, parts: Seq[Path]): org.apache.spark.sql.DataFrame = {
    statsParsedTypeOf(spark, parts) match {
      case None =>
        spark.read.schema(StructType(Seq(StructField("add", addType))))
          .parquet(parts.map(_.toString): _*).filter(col("add").isNotNull)
      case Some(t) =>
        val readType = StructType(addType.fields :+ StructField("stats_parsed", t))
        spark.read.schema(StructType(Seq(StructField("add", readType))))
          .parquet(parts.map(_.toString): _*).filter(col("add").isNotNull)
          .withColumn("add", synthesizeStats(col("add")))
    }
  }

  /** All parts of one checkpoint version (classic single-file, or
    * delta-spark's `.checkpoint.%010d.%010d.parquet` parts) read into
    * actions, in this process by Spark's parquet reader, with no Spark job.
    * With `withFiles = false` only the control-plane columns are read: a
    * lazy snapshot's read of a checkpoint of millions of Add rows, which
    * read as all-null and are dropped unconverted. */
  def read(spark: SparkSession, files: Seq[Path], withFiles: Boolean): Seq[Action] = {
    require(files.nonEmpty, "no checkpoint files to read")
    // delta-spark checkpoints written with delta.checkpoint.writeStatsAsJson
    // =false carry stats ONLY as the `add.stats_parsed` STRUCT (the
    // reference reads it with a raw-stats fallback, scan_row.rs:225-310).
    // Peek the footer schema: when stats_parsed exists, read it too (its
    // struct type is table-specific) and synthesize the JSON form for any
    // add missing raw stats — pruning/approxCount survive either layout.
    val statsParsedType: Option[StructType] =
      if (!withFiles) None else statsParsedTypeOf(spark, files)
    val addReadType = statsParsedType match {
      case Some(t) => StructType(addType.fields :+ StructField("stats_parsed", t))
      case None => addType
    }
    val readSchema = StructType(checkpointSchema.fields.map {
      case f if f.name == "add" => StructField("add", addReadType)
      case f => f
    } :+ StructField("sidecar", sidecarType))
    val schema =
      if (withFiles) readSchema
      else StructType(readSchema.filterNot(f => f.name == "add" || f.name == "remove"))
    // a DataFrame over driver rows is a local relation: the optimizer
    // evaluates the synthesis on the driver, and collecting it runs no job
    val rows =
      if (statsParsedType.isEmpty) driverRows(spark, files, schema)
      else spark.createDataFrame(driverRows(spark, files, schema).asJava, schema)
        .withColumn("add", synthesizeStats(col("add"))).collect().toSeq
    val Seq(txnAt, addAt, removeAt, metaAt, protocolAt, domainAt, sidecarAt) =
      Seq("txn", "add", "remove", "metaData", "protocol", "domainMetadata", "sidecar")
        .map(schema.fieldNames.indexOf(_))
    def has(row: Row, i: Int) = i >= 0 && !row.isNullAt(i)
    rows.flatMap { row =>
      if (has(row, addAt)) {
        Some(decodeAdd(row.getStruct(addAt)))
      } else if (has(row, removeAt)) {
        Some(decodeRemove(row.getStruct(removeAt)))
      } else if (has(row, metaAt)) {
        val m = row.getStruct(metaAt)
        val fmt = m.getStruct(3)
        Some(graft.kernel.Metadata(
          id = m.getString(0),
          name = Option(m.getString(1)),
          description = Option(m.getString(2)),
          format = Format(fmt.getString(0), mapOf(fmt, 1)),
          schemaString = m.getString(4),
          partitionColumns = m.getSeq[String](5),
          configuration = mapOf(m, 6),
          createdTime = if (m.isNullAt(7)) None else Some(m.getLong(7))))
      } else if (has(row, protocolAt)) {
        val p = row.getStruct(protocolAt)
        // feature columns are absent in checkpoints written by older
        // versions of this library — tolerate a 2-field struct
        def feats(i: Int): Option[Seq[String]] =
          if (p.length <= i || p.isNullAt(i)) None else Some(p.getSeq[String](i))
        Some(Protocol(p.getInt(0), p.getInt(1), feats(2), feats(3)))
      } else if (has(row, txnAt)) {
        val t = row.getStruct(txnAt)
        Some(SetTransaction(t.getString(0), t.getLong(1),
          if (t.isNullAt(2)) None else Some(t.getLong(2))))
      } else if (has(row, domainAt)) {
        val d = row.getStruct(domainAt)
        Some(DomainMetadata(d.getString(0), d.getString(1),
          if (d.isNullAt(2)) false else d.getBoolean(2)))
      } else if (has(row, sidecarAt)) {
        val s = row.getStruct(sidecarAt)
        Some(Sidecar(s.getString(0),
          if (s.isNullAt(1)) None else Some(s.getLong(1)),
          if (s.isNullAt(2)) None else Some(s.getLong(2))))
      } else None
    }
  }

  /** The rows of `schema` that are not all-null, read from parquet `files`
    * in this process by Spark's parquet reader, the reader a scan task runs,
    * without the job. Columns a file lacks read as null. The vectorized and
    * the row-based reader both return a `Closeable` iterator, so a read that
    * fails part-way still closes its file (pinned by `CheckpointWriteSpec`). */
  private def driverRows(spark: SparkSession, files: Seq[Path], schema: StructType): Seq[Row] = {
    val conf = spark.sessionState.newHadoopConf()
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      StructType(Nil), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    files.flatMap { p =>
      val st = p.getFileSystem(conf).getFileStatus(p)
      val rows = readFile(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(st), 0,
        st.getLen, fileSize = st.getLen))
      try rows.filter(r => (0 until r.numFields).exists(!r.isNullAt(_)))
        .map(r => toRow(r).asInstanceOf[Row]).toVector
      finally rows match { case c: java.io.Closeable => c.close(); case _ => }
    }
  }
}

package graft.kernel

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Materialized table state at a version — the replay of actions 0..version,
 * equivalent to delta-rs `EagerSnapshot`
 * (`crates/core/src/kernel/snapshot/mod.rs:156,1168`).
 *
 * Replay reconciliation is last-writer-wins per (path, dvUniqueId) — see
 * `AddFile.reconcileKey`: a later `add` of the same key replaces the
 * earlier one, a `remove` tombstones it, and a subsequent `add` resurrects
 * it. A remove never cancels a same-path add carrying a DIFFERENT deletion
 * vector (the DV-rewrite shape). Tombstones are retained for VACUUM.
 *
 * Scale note: the snapshot kind is the log plane's one driver/Spark
 * boundary. An eager snapshot's file index lives on the driver (same as
 * delta-rs, whose snapshot caches log data in Arrow batches in-process): a
 * full replay reads the checkpoint in this process, with Spark's parquet
 * reader but no Spark job, plus a JSON tail bounded by
 * `delta.checkpointInterval` commits, and pruning is a driver loop. A full
 * replay runs once per table: [[DeltaLog]] keeps each table's latest
 * snapshot in a process-wide cache and moves it forward by reading only the
 * commits written since, as delta-rs moves its `EagerSnapshot`. Above
 * `spark.graft.lazySnapshotThreshold` checkpoint actions the snapshot is
 * lazy: the Add index stays parquet-backed ([[LazyFileIndex]]) and
 * pruning and counts run as Spark jobs.
 */
case class Snapshot(
    tablePath: String,
    version: Long,
    protocol: Protocol,
    metadata: Metadata,
    private val eagerFiles: Vector[AddFile],
    private val eagerTombstones: Vector[RemoveFile],
    txns: Map[String, Long],
    domains: Map[String, DomainMetadata],
    timestampMs: Long,
    lazyIndex: Option[LazyFileIndex] = None
) {
  def schema = metadata.schema
  def partitionColumns: Seq[String] = metadata.partitionColumns

  /** The live file set. On a lazy (huge-table) snapshot this pulls the full
    * index to the driver once and caches it — prefer [[StatsPruning.prune]]
    * and the count/size accessors below, which stay distributed. */
  lazy val allFiles: Vector[AddFile] =
    lazyIndex.map(_.materializeAdds()).getOrElse(eagerFiles)

  lazy val tombstones: Vector[RemoveFile] =
    lazyIndex.map(_.materializeTombstones()).getOrElse(eagerTombstones)

  def numFiles: Long = lazyIndex match {
    case Some(idx) if !idx.isMaterialized => idx.countAdds()
    case _ => allFiles.size.toLong
  }

  /** Live files below `maxSize` bytes (OPTIMIZE compaction candidates) —
    * distributed filter on lazy snapshots, never a full materialization. */
  def filesSmallerThan(maxSize: Long): Vector[AddFile] = lazyIndex match {
    case Some(idx) if !idx.isMaterialized => idx.addsSmallerThan(maxSize)
    case _ => allFiles.filter(_.size < maxSize)
  }
  def sizeInBytes: Long = lazyIndex match {
    case Some(idx) if !idx.isMaterialized => idx.statsSummary()._2
    case _ => allFiles.map(_.size).sum
  }

  /** Live row count from per-file stats (python/deltalake/table.py:584-604).
    * `Some(n)` is exact: every live Add carries `numRecords`, and the rows
    * its deletion vector deletes (`cardinality`) are subtracted. `None`
    * means some live Add has no `numRecords`. SQL answers an unfiltered
    * `count(*)` with it ([[graft.sources.GraftScanInlining]]). Computed once
    * per snapshot, on lazy snapshots by one pass over the Add index. */
  lazy val approxNumRecords: Option[Long] = lazyIndex match {
    case Some(idx) if !idx.isMaterialized =>
      val (_, _, rows, dvCard) = idx.statsSummary()
      rows.map(_ - dvCard)
    case _ =>
      val counts = allFiles.flatMap(_.numRecords)
      if (counts.size == allFiles.size)
        Some(counts.sum - allFiles.flatMap(_.deletionVector).map(_.cardinality).sum)
      else None
  }

  def getConf(key: String): Option[String] = metadata.configuration.get(key)
  def confBool(key: String, default: Boolean = false): Boolean =
    getConf(key).map(_.trim.equalsIgnoreCase("true")).getOrElse(default)

  /** Resolve a log-recorded (percent-encoded relative URL) path against the
    * table root ([[PathCodec.resolve]]). */
  def absolutePath(relative: String): Path = PathCodec.resolve(new Path(tablePath), relative)
}

class DeltaTableNotFoundException(path: String)
    extends RuntimeException(s"Not a Delta table (no _delta_log): $path")

/** Mutable action-replay accumulator shared by full and incremental replay. */
private[kernel] class ReplayState {
  val adds = mutable.LinkedHashMap[String, AddFile]()
  val removes = mutable.LinkedHashMap[String, RemoveFile]()
  val txns = mutable.Map[String, Long]()
  val domains = mutable.Map[String, DomainMetadata]()
  var protocol: Protocol = Protocol()
  var metadata: Metadata = null

  // file actions are keyed by (path, dvUniqueId) — see AddFile.reconcileKey:
  // a DV rewrite leaves a same-path tombstone beside the live add, and
  // path-keyed replay would drop the live file when the tombstone is
  // encountered after it (e.g. in checkpoint row order)
  def apply(a: Action): Unit = a match {
    case f: AddFile => adds(f.reconcileKey) = f; removes.remove(f.reconcileKey)
    case r: RemoveFile => adds.remove(r.reconcileKey); removes(r.reconcileKey) = r
    case m: Metadata => metadata = m
    case p: Protocol => protocol = p
    case t: SetTransaction => txns(t.appId) = t.version
    case d: DomainMetadata =>
      if (d.removed) domains.remove(d.domain) else domains(d.domain) = d
    case _: CommitInfo | _: AddCDCFile => // not part of table state
    case _: CheckpointMetadata | _: Sidecar => // checkpoint plumbing only
  }

  /** With `lazyParts`, the state holds only the post-checkpoint TAIL and
    * the checkpoint's file rows stay parquet-backed behind a [[LazyFileIndex]]. */
  def toSnapshot(tablePath: String, version: Long, ts: Long,
      lazyParts: Option[(SparkSession, Seq[Path])] = None): Snapshot = lazyParts match {
    case Some((spark, parts)) =>
      Snapshot(tablePath, version, protocol, metadata, Vector.empty, Vector.empty,
        txns.toMap, domains.toMap, ts, Some(new LazyFileIndex(spark, parts,
          adds.values.toVector, removes.values.toVector)))
    case None => Snapshot(tablePath, version, protocol, metadata,
      adds.values.toVector, removes.values.toVector, txns.toMap, domains.toMap, ts)
  }
}

private[kernel] object ReplayState {
  /** `prev`'s state; a lazy index contributes only its tail overlay. */
  def from(prev: Snapshot): ReplayState = {
    val s = new ReplayState
    val lazyIdx = prev.lazyIndex.filter(!_.isMaterialized)
    lazyIdx.fold(prev.allFiles)(_.tailAdds).foreach(f => s.adds(f.reconcileKey) = f)
    lazyIdx.fold(prev.tombstones)(_.tailRemoves).foreach(r => s.removes(r.reconcileKey) = r)
    s.txns ++= prev.txns
    s.domains ++= prev.domains
    s.protocol = prev.protocol
    s.metadata = prev.metadata
    s
  }
}

/**
 * The transaction log of one table: listing, replay, time travel, history.
 * Mirrors delta-rs `Snapshot`/log-segment assembly
 * (`kernel/snapshot/mod.rs`) and time-travel semantics
 * (`table/mod.rs:232` load_version, `table/mod.rs:375` load_with_datetime).
 */
class DeltaLog(val spark: SparkSession, val tablePath: Path) {
  val store: LogStore =
    DeltaLog.storeFor(tablePath, spark.sessionState.newHadoopConf())
  val logPath = new Path(tablePath, LogStore.LOG_DIR)

  /** A table exists if any commit, checkpoint OR compaction file is
    * present — a fully vacuumed log may retain only its latest checkpoint
    * (the reference's table-with-domain-metadata fixture), and a compaction
    * file can outlive the commits it covers. Missing any of these here
    * would send a write down the CREATE path whose fresh version 0 is then
    * silently shadowed during replay. */
  def tableExists: Boolean =
    store.list(logPath).exists(f => LogStore.isLogEntry(f.getPath.getName))

  /** All commit versions present in the log dir, ascending. */
  private def commitVersions(): Seq[(Long, Long)] = // (version, mtimeMs)
    store.list(logPath).collect {
      case f if LogStore.isCommitFile(f.getPath.getName) =>
        (LogStore.fileVersion(f.getPath.getName), f.getModificationTime)
    }

  /** Highest version represented in the log — commit files plus the end
    * versions of compaction files (whose covered commits may be gone).
    * Commit allocation MUST see these, or a new commit reuses a version
    * that replay resolves to the compaction file instead. One listing. */
  def latestVersion(): Long = {
    val vs = store.list(logPath).flatMap { f =>
      val n = f.getPath.getName
      if (LogStore.isCommitFile(n)) Some(LogStore.fileVersion(n))
      else LogCompaction.info(n).map(_._2)
    }
    if (vs.isEmpty) -1L else vs.max
  }

  def readCommit(version: Long): Seq[Action] =
    readCommitLines(version).flatMap(ActionCodec.fromJson)

  private def readCommitLines(version: Long): Seq[String] =
    store.read(new Path(logPath, LogStore.commitFileName(version)))

  /** Both hint fields from ONE read of `_delta_log/_last_checkpoint` —
    * separate per-field reads doubled the billable round-trips on object
    * stores for every snapshot load (one per streaming micro-batch). */
  def lastCheckpointVersionAndSize(): (Option[Long], Option[Long]) =
    DeltaLog.lastCheckpointHintOf(store, logPath)

  /** The latest snapshot, from the kernel snapshot cache (companion object). */
  def snapshot(): Snapshot = cachedSnapshot(None)

  /** The snapshot at `version`: through the cache when `version` is at or
    * above the cached one, else a full replay that leaves the cache alone. */
  def snapshotAt(version: Long): Snapshot = cachedSnapshot(Some(version))

  /** Metadata-only snapshot: protocol/metadata/txns without materializing
    * the Add index — the BlindDeltaTable fast path (table/blind.rs:1).
    * The checkpoint read prunes to the metaData/protocol/txn columns, so on
    * a million-file table this touches a few KB instead of the full state. */
  def metadataSnapshot(): Snapshot = replay(store.list(logPath), None, withFiles = false)._1

  /** Metadata-only snapshot pinned at `version` — for gates that need the
    * protocol/metadata in effect at a historical version without
    * materializing its Add index (e.g. CDF's enablement-at-range-start
    * check, which was paying a full file-index replay per poll). */
  def metadataSnapshotAt(version: Long): Snapshot =
    replay(store.list(logPath), Some(version), withFiles = false)._1

  // above this many checkpoint actions the Add index stays a distributed
  // parquet-backed view (LazyFileIndex) instead of a driver Vector; part of
  // the cache key, since it decides what a replay builds
  private def lazyThreshold: Long = spark.conf.getOption("spark.graft.lazySnapshotThreshold")
    .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(500000L)

  private def cacheKey = DeltaLog.CacheKey(
    spark.sparkContext.applicationId, tablePath.toString, lazyThreshold)

  private def cachedSnapshot(target: Option[Long]): Snapshot = {
    val listing = store.list(logPath)
    val key = cacheKey
    val entry = DeltaLog.cacheGet(key)
    if (entry.exists(e => target.exists(_ < e.id.version)))
      return replay(listing, target)._1 // time travel below the cached version
    val (snap, id, _) = entry.flatMap(validated(_, listing)).map(extend(_, listing, target))
      .getOrElse(fullReplay(listing, target,
        if (entry.exists(_.ref.get != null)) "failed check" else "first use"))
    DeltaLog.install(key, snap, id, entry)
    snap
  }

  /** The entry's snapshot when it still describes this log: every log file
    * a replay to its version could read (commits, checkpoints, compactions)
    * is listed with the same names, mtimes and lengths, and the commit file
    * at its version hashes to the stored digest. Store state only, no
    * clocks: every commit carries a random `txnId`, so a re-created table's
    * same-named, same-sized commit cannot match. */
  private def validated(e: DeltaLog.Entry, listing: Seq[FileStatus]): Option[Snapshot] =
    Option(e.ref.get).filter(_ => signature(listing, e.id.version) == e.id.listed &&
      scala.util.Try(DeltaLog.digest(readCommitLines(e.id.version))).toOption.contains(e.id.digest))

  private def signature(listing: Seq[FileStatus], v: Long): String =
    DeltaLog.digest(listing.map(f => (f.getPath.getName, f)).collect {
      case (n, f) if LogCompaction.info(n).exists(_._2 <= v) || (LogStore.isCommitFile(n) ||
          LogStore.isCheckpointFile(n)) && LogStore.fileVersion(n) <= v =>
        s"$n ${f.getModificationTime} ${f.getLen}"
    })

  private def logId(listing: Seq[FileStatus], v: Long, commitLines: Seq[String]) =
    DeltaLog.LogId(v, signature(listing, v), DeltaLog.digest(commitLines))

  /** Writes a checkpoint of `snap`, runs `cleanup` (expired-log cleanup, which
    * may delete the commits behind it), then re-signs `snap`'s cache entry
    * from one listing taken after both. */
  private[graft] def checkpoint(snap: Snapshot, cleanup: => Unit = ()): Unit = {
    Checkpoints.write(spark, logPath, snap, store)
    try cleanup finally {
      val key = cacheKey
      DeltaLog.cacheGet(key).filter(_.ref.get eq snap).foreach(e => DeltaLog.install(key, snap,
        Some(e.id.copy(listed = signature(store.list(logPath), snap.version))), Some(e)))
    }
  }

  private def fullReplay(listing: Seq[FileStatus], target: Option[Long], reason: String) = {
    DeltaLog.logger.debug(s"full replay of $tablePath: $reason")
    val (s, id) = replay(listing, target)
    (s, id, false)
  }

  /** Full replay of `listing` up to `target` (default: latest), uncached.
    * With files, it also returns the log's identity at the target. The
    * target's commit file is read BEFORE the checkpoint and the tail: a
    * table swapped mid-replay then leaves a digest its later listings cannot
    * match, never a stale match. */
  private def replay(listing: Seq[FileStatus], target: Option[Long],
      withFiles: Boolean = true): (Snapshot, Option[DeltaLog.LogId]) = {
    val versions = listing.collect {
      case f if LogStore.isCommitFile(f.getPath.getName) =>
        (LogStore.fileVersion(f.getPath.getName), f.getModificationTime)
    }
    // log-compaction files can outlive the commits they cover
    val compacted = listing.flatMap { f =>
      LogCompaction.info(f.getPath.getName).map { case (s, e) => (s, e, f.getPath) }
    }
    val checkpointVersions = listing.collect {
      case f if LogStore.isCheckpointFile(f.getPath.getName) =>
        LogStore.fileVersion(f.getPath.getName)
    }
    // a fully-vacuumed log may hold only a checkpoint — state at its
    // version is reconstructible with an empty replay tail
    val latestCp = checkpointVersions.maxOption
    if (versions.isEmpty && latestCp.isEmpty && compacted.isEmpty)
      throw new DeltaTableNotFoundException(tablePath.toString)
    val maxV = (versions.map(_._1) ++ latestCp ++ compacted.map(_._2)).max
    val v = target.getOrElse(maxV)
    require(v <= maxV, s"Version $v does not exist yet (latest: $maxV)")
    val idLines =
      if (withFiles && versions.exists(_._1 == v)) Some(readCommitLines(v)) else None
    var lazyParts: Option[Seq[Path]] = None

    /** One USABLE checkpoint instance at `cv`, or None when only an
      * incomplete multi-part set is visible (a racing publication or an
      * eventually-consistent listing). The spec allows MULTIPLE coexisting
      * checkpoints at one version (single-file + multi-part, several V2
      * uuid manifests); reading them all would replay every Add N times —
      * pick exactly ONE deterministically: single classic file if present,
      * else one complete multi-part set (largest part count), else one V2
      * manifest (lexicographically last uuid). */
    def usableCheckpoint(cv: Long): Option[Seq[Path]] = {
      val allAtV = listing.map(_.getPath).filter { p =>
        LogStore.isCheckpointFile(p.getName) && LogStore.fileVersion(p.getName) == cv
      }
      val singleClassic = allAtV.filter(_.getName.matches("\\d{20}\\.checkpoint\\.parquet"))
      val byParts = allAtV.flatMap(p =>
        LogStore.multiPartInfo(p.getName).map { case (i, n) => (n, i, p) })
        .groupBy(_._1)
      val completeMulti = byParts.toSeq.sortBy(-_._1).collectFirst {
        case (n, ps) if ps.map(_._2).toSet == (1 to n).toSet => ps.map(_._3)
      }
      // V2 uuid manifests are json lines OR parquet (PROTOCOL.md): any
      // checkpoint file here that is neither the single-classic name nor
      // a multi-part member is a manifest
      val manifests = allAtV.filter { p =>
        !p.getName.matches("\\d{20}\\.checkpoint\\.parquet") &&
          LogStore.multiPartInfo(p.getName).isEmpty
      }.sortBy(_.getName)
      if (singleClassic.nonEmpty) Some(Seq(singleClassic.head))
      else completeMulti.orElse(manifests.lastOption.map(Seq(_)))
    }

    // newest usable checkpoint ≤ v; a version with ONLY an incomplete
    // multi-part set (mid-publication) falls back to the next older
    // checkpoint — replaying the longer commit tail from there reaches the
    // identical state, whereas failing would break every reader racing a
    // large checkpoint publication. (If cleanup already removed the older
    // tail commits, the replay below fails loudly on the missing commit —
    // never silently short.)
    val cpCandidates = checkpointVersions.filter(_ <= v).distinct.sorted.reverse
    val resolved: Option[(Long, Seq[Path])] =
      cpCandidates.iterator.map(cv => cv -> usableCheckpoint(cv))
        .collectFirst { case (cv, Some(ps)) => (cv, ps) }
    val cpVersion = resolved.map(_._1)
    val base: Seq[Action] = resolved match {
      case Some((cv, parts)) =>
        // lazy mode backing parts: classic checkpoint parquets directly, or
        // a V2 manifest's sidecar parquets (same add/remove column layout,
        // so LazyFileIndex's column-pruned legs read either)
        val classic = parts.nonEmpty && parts.forall(p =>
          LogStore.multiPartInfo(p.getName).isDefined ||
            p.getName.matches("\\d{20}\\.checkpoint\\.parquet"))
        lazy val v2SidecarParts: Seq[Path] =
          parts.flatMap(Checkpoints.manifestSidecars(spark, store, logPath, _))
        // eager-vs-lazy decides by the RESOLVED checkpoint's row count: the
        // _last_checkpoint hint describes the NEWEST checkpoint, which may
        // not be the one the incomplete-set fallback picked — sizing a 5M-row
        // older checkpoint by a 40k-row hint would materialize it eagerly
        // onto the driver. Off-hint sizes come from part footers (KBs of IO).
        // Size-unknown must NOT fail open to the eager path (that would
        // collect a possibly multi-million-row Add vector onto the driver):
        // a hint without a usable size field falls back to part footers,
        // and a footer-read failure assumes over-threshold. The lazy path
        // is correct at any size; if lazy isn't available the eager read
        // below surfaces the underlying IO error loudly.
        def footerRows(): Long = scala.util.Try {
          val ps = if (classic) parts else v2SidecarParts
          ps.map(p => Checkpoints.partRowCount(store, p)).sum
        }.getOrElse(Long.MaxValue) // read failure = assume over threshold
        val cpRows: Long = {
          val (hintV, hintSize) = lastCheckpointVersionAndSize()
          if (hintV.contains(cv)) hintSize.getOrElse(footerRows())
          else footerRows()
        }
        if (withFiles && cpRows >= lazyThreshold &&
            (classic || v2SidecarParts.nonEmpty)) {
          lazyParts = Some(if (classic) parts else v2SidecarParts)
          // control plane only — columnar pruning (or the tiny manifest)
          // makes this near-free
          Checkpoints.readResolved(spark, store, logPath, parts, withFiles = false)
        } else
          Checkpoints.readResolved(spark, store, logPath, parts, withFiles = withFiles)
      case None => Nil
    }
    val startAfter = cpVersion.getOrElse(-1L)
    // replay tail: plain commits, with log-compaction files
    // (%020d.%020d.compacted.json) substituted where they cover a full
    // prefix of the remaining range — one read instead of many
    val replayPlan = LogCompaction.plan(
      versions.map(_._1).toSet, compacted, startAfter, v)

    val state = new ReplayState
    def applyMaybe(a: Action): Unit = a match {
      case _: AddFile | _: RemoveFile if !withFiles => // metadata-only replay
      case other => state.apply(other)
    }
    base.foreach(applyMaybe)
    replayPlan.foreach {
      case Left(cv) =>
        idLines.filter(_ => cv == v).getOrElse(readCommitLines(cv))
          .flatMap(ActionCodec.fromJson).foreach(applyMaybe)
      case Right(p) =>
        store.read(p).flatMap(ActionCodec.fromJson).foreach(applyMaybe)
    }

    require(state.metadata != null, s"No metaData action found replaying to version $v")
    // refuse tables whose protocol/features we cannot read correctly
    // (delta-rs ProtocolChecker::can_read_from, transaction/protocol.rs:187)
    ProtocolGate.checkRead(state.protocol, state.metadata)
    val ts = versions.find(_._1 == v).map(_._2).getOrElse(0L)
    val snap = state.toSnapshot(tablePath.toString, v, ts, lazyParts.map((spark, _)))
    (snap, idLines.map(logId(listing, v, _)))
  }

  /** Diagnostic: whether the last [[update]] EXTENDED the cached state
    * (true — incremental, or already-current) or fell back to a full
    * replay (false). Result rows alone cannot distinguish the two paths,
    * so the `incremental_refresh` entry and specs pin the row-48 behavior
    * through this (the MergeOp.lastPhases precedent). */
  @volatile private[graft] var lastUpdateIncremental: Boolean = false

  /** Incremental refresh (update_incremental, table/mod.rs:206): replay only
    * the commits after `prev.version` on top of the cached state — O(new
    * commits), not a full log re-replay. */
  def update(prev: Snapshot): Snapshot = update(prev, ownCommit = false)

  /** `ownCommit`: the caller just committed on top of `prev`. If `prev` is
    * the cached snapshot and the log up to it lists unchanged, the result
    * moves the cache forward without re-reading `prev`'s commit (a colliding
    * DROP + re-CREATE under a committing writer already took that commit).
    * Any other `prev` reaches the cache only through a full replay. */
  private[graft] def update(prev: Snapshot, ownCommit: Boolean): Snapshot = {
    val listing = store.list(logPath)
    val key = cacheKey
    val entry = DeltaLog.cacheGet(key).filter(e => ownCommit && (e.ref.get eq prev))
    val (next, id, incremental) =
      if (entry.exists(_.id.listed != signature(listing, prev.version)))
        fullReplay(listing, None, "failed check")
      else extend(prev, listing, None)
    lastUpdateIncremental = incremental
    if (entry.isDefined || !incremental) DeltaLog.install(key, next, id, entry)
    next
  }

  /** `prev` moved forward to `target` (default: the latest version in
    * `listing`) by replaying only the commits after it; the flag is false
    * when it fell back to a full replay. No identity when nothing was new. */
  private def extend(prev: Snapshot, listing: Seq[FileStatus], target: Option[Long])
      : (Snapshot, Option[DeltaLog.LogId], Boolean) = {
    val versions = listing.collect {
      case f if LogStore.isCommitFile(f.getPath.getName) =>
        (LogStore.fileVersion(f.getPath.getName), f.getModificationTime)
    }
    // `latest` must see compaction-file end versions too, or a cached
    // handle goes permanently stale once log cleanup removes the commits a
    // compaction file covers
    val compEnds = listing.flatMap(f => LogCompaction.info(f.getPath.getName).map(_._2))
    val latest = target.getOrElse((versions.map(_._1) ++ compEnds ++ Seq(-1L)).max)
    if (latest <= prev.version) return (prev, None, true)
    val newVs = versions.map(_._1).filter(v => v > prev.version && v <= latest).sorted
    // gap (vacuumed log, or tail only reachable via a compaction file) →
    // full replay, which knows how to substitute compaction files
    if (newVs != ((prev.version + 1) to latest))
      return fullReplay(listing, Some(latest), "gap")
    // a checkpoint written after prev supersedes the lazy index's parquet
    // backing (and resets the tail) — full reload rebinds to it
    if (prev.lazyIndex.isDefined && listing.exists { f =>
          val n = f.getPath.getName
          LogStore.isCheckpointFile(n) && LogStore.fileVersion(n) > prev.version &&
            LogStore.fileVersion(n) <= latest
        })
      return fullReplay(listing, Some(latest), "checkpoint behind a lazy index")

    val state = ReplayState.from(prev)
    var lastLines: Seq[String] = Nil
    newVs.foreach { cv =>
      lastLines = readCommitLines(cv)
      lastLines.flatMap(ActionCodec.fromJson).foreach(state.apply)
    }
    ProtocolGate.checkRead(state.protocol, state.metadata)
    val ts = versions.find(_._1 == latest).map(_._2).getOrElse(0L)
    val lazyParts = prev.lazyIndex.filter(!_.isMaterialized).map(i => (spark, i.checkpointParts))
    (state.toSnapshot(tablePath.toString, latest, ts, lazyParts),
      Some(logId(listing, latest, lastLines)), true)
  }

  /** Time travel by timestamp: last commit with ts ≤ target
    * (`table/mod.rs:375` load_with_datetime), over the RESOLVED timestamp
    * sequence — ICT values inside the enablement window, monotonic-clamped
    * mtimes outside. */
  def snapshotForTimestamp(tsMs: Long): Snapshot = {
    val versions = resolvedCommitTimestamps()
    val eligible = versions.filter(_._2 <= tsMs)
    require(eligible.nonEmpty,
      s"No commit at or before timestamp $tsMs (earliest: ${versions.headOption.map(_._2)})")
    snapshotAt(eligible.map(_._1).max)
  }

  /** (version → RESOLUTION timestamp), strictly increasing — THE sequence
    * every by-timestamp surface (time travel, RESTORE, CDF windows) resolves
    * against, so two surfaces can never pin the same target to different
    * versions.
    *
    * Inside the ICT enablement window the recorded
    * CommitInfo.inCommitTimestamp is authoritative (a log rewrite/copy
    * changes mtimes but not the recorded values; a window version without
    * the field fails LOUDLY — guessing by mtime would silently pin a
    * different version than a compliant reader). Non-ICT tables (the
    * overwhelming case, including everything this engine writes) keep the
    * one-listing zero-read path; ICT tables pay one commit read per
    * in-window version, bounded by window length and only on by-timestamp
    * resolution.
    *
    * Outside the window, commit-file mtimes get delta-spark's monotonicity
    * clamp (ts_i = max(ts_i, ts_{i-1}+1), DeltaHistoryManager.getCommits):
    * the reference trusts raw mtimes (`table/mod.rs:375`), but on a log
    * whose mtimes a copy shuffled, "latest version ≤ target" over a
    * non-monotonic sequence is ill-defined and the two engines can pin
    * different versions — the clamp only changes behavior on exactly those
    * logs. Pre-window mtimes are additionally capped BELOW the enablement
    * boundary (delta.inCommitTimestampEnablementTimestamp, else the first
    * window ICT) by a backward pass (ts_i = min(ts_i, ts_{i+1}-1)): after a
    * log copy every pre-window mtime is fresh (>> the old recorded ICTs),
    * and uncapped they would exclude every pre-window version from targets
    * below the window — a target just before enablement must resolve to the
    * last pre-window version, as compliant readers do. */
  private[graft] def resolvedCommitTimestamps(): Seq[(Long, Long)] = {
    val versions = commitVersions().sortBy(_._1)
    def clampForward(vs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      var prev = Long.MinValue
      vs.map { case (v, ts) =>
        val t = if (prev == Long.MinValue) ts else math.max(ts, prev + 1)
        prev = t
        (v, t)
      }
    }
    val metaSnap = metadataSnapshot() // ONE metadata replay per resolution
    ictEnablementVersionOf(metaSnap) match {
      case None => clampForward(versions)
      case Some(enableV) =>
        val (pre, window) = versions.partition(_._1 < enableV)
        val windowIct = window.map { case (v, _) =>
          (v, ictOrFail(v, enableV,
            readCommit(v).collectFirst { case ci: CommitInfo => ci }))
        }
        // boundary: min of the recorded enablement timestamp and the first
        // window ICT — taking the property verbatim would let a property
        // LARGER than the window's ICTs cap pre-window mtimes ABOVE the
        // window values, breaking the strictly-increasing contract with
        // time-inverted resolution instead of a loud failure
        val boundary = (metaSnap.metadata.configuration
          .get("delta.inCommitTimestampEnablementTimestamp")
          .flatMap(s => scala.util.Try(s.trim.toLong).toOption) ++
          windowIct.headOption.map(_._2)).minOption
        // forward-clamp FIRST, then cap only the suffix that actually
        // reaches the boundary: an unconditional backward rewrite would
        // resolve equal-mtime pre-window commits to a DIFFERENT version
        // than the non-ICT branch (and delta-spark's forward clamp) pick
        // for identical mtimes. On the clamped (strictly increasing)
        // input the backward pass is the identity until a value collides
        // with the boundary, and the result stays strictly increasing
        // (t_i = min(mono_i, t_{i+1}-1) ≤ t_{i+1}-1).
        val mono = clampForward(pre)
        val capped = boundary match {
          case None => mono
          case Some(b) =>
            var next = b
            mono.reverseIterator.map { case (v, ts) =>
              val t = math.min(ts, next - 1)
              next = t
              (v, t)
            }.toVector.reverse
        }
        capped ++ windowIct
    }
  }

  /** The recorded ICT of an in-window version — LOUD failure when absent
    * (guessing by mtime would silently pin a different version than a
    * compliant reader). Shared by resolution and history() so the two
    * surfaces fail identically on the same corrupt input. */
  private def ictOrFail(v: Long, enableV: Long,
      ci: Option[CommitInfo]): Long =
    ci.flatMap(_.inCommitTimestamp)
      .getOrElse(throw new IllegalStateException(
        s"version $v is inside the inCommitTimestamp enablement " +
          s"window (>= $enableV) but its CommitInfo lacks " +
          "inCommitTimestamp — the table violates the ICT spec"))

  /** The first version whose commit carries an authoritative ICT: None
    * when the feature is off; 0 when enabled with no recorded enablement
    * version (ICT since creation). Spec rule: ICT is active only when the
    * `inCommitTimestamp` WRITER FEATURE is on the protocol AND the table
    * property is true — the property alone (which a metadata-only
    * SET TBLPROPERTIES could plant on a legacy-protocol table no writer
    * ever stamped) must not flip resolution, or it bricks
    * time-travel-by-timestamp on a healthy table. Uses the metadata-only
    * snapshot (no Add index), and load failures PROPAGATE: swallowing one
    * here would silently classify an ICT table as non-ICT and pin by
    * mtime — the exact wrong-version resolution this path exists to
    * prevent. */
  private[graft] def ictEnablementVersion: Option[Long] =
    ictEnablementVersionOf(metadataSnapshot())

  /** Gate evaluation against an ALREADY-LOADED snapshot — callers holding
    * one (resolution, CDF range loads) must not pay a second metadata
    * replay just to ask the gate. */
  private[graft] def ictEnablementVersionOf(snap: Snapshot): Option[Long] = {
    val featureOn = snap.protocol.minWriterVersion >= 7 &&
      snap.protocol.writerFeatures.exists(_.contains("inCommitTimestamp"))
    val conf = snap.metadata.configuration
    if (!featureOn || !conf.get("delta.enableInCommitTimestamps")
        .exists(_.trim.equalsIgnoreCase("true"))) None
    else Some(conf.get("delta.inCommitTimestampEnablementVersion")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption).getOrElse(0L))
  }

  /** (version → commit-file mtimeMs) from ONE log listing — no per-commit
    * CommitInfo reads; the cheap input for timestamp fallbacks (a commit
    * whose CommitInfo lacks the optional `timestamp` field is stamped with
    * its file's mtime, `table/state.rs`-style). */
  def commitMtimes(): Map[Long, Long] = commitVersions().toMap

  /** Commit history, newest first: (version, timestampMs, commitInfo).
    * timestampMs is the RECORDED per-version value — the commit file's
    * mtime, overridden by CommitInfo.inCommitTimestamp inside the ICT
    * enablement window (same gate as resolution; a rogue commit carrying
    * the field on a non-ICT table is ignored, and an in-window commit
    * MISSING it fails as loudly as resolution does). Deliberately NOT the
    * clamped resolution sequence: like delta-spark (DeltaHistoryManager
    * clamps only getActiveCommitAtTime, history shows recorded
    * timestamps), history reports what happened while resolution
    * monotonizes — on a copy-shuffled non-monotonic log a history
    * timestamp fed back to snapshotForTimestamp can therefore resolve
    * past the clamp or refuse; resolution over a non-monotonic sequence
    * has no answer that preserves both properties. */
  def history(limit: Option[Int] = None): Seq[(Long, Long, Option[CommitInfo])] = {
    val versions = commitVersions().sortBy(-_._1)
    val sel = limit.map(versions.take).getOrElse(versions)
    val withCi = sel.map { case (v, ts) =>
      (v, ts, readCommit(v).collectFirst { case c: CommitInfo => c })
    }
    // the gate costs a metadata replay (a billable extra LIST on object
    // stores) — consult it only when a selected commit actually carries
    // the field; non-ICT tables (everything this engine writes) skip it
    val ictFloor =
      if (withCi.exists(_._3.exists(_.inCommitTimestamp.isDefined)))
        ictEnablementVersion
      else None
    withCi.map { case (v, ts, ci) =>
      val reported =
        if (ictFloor.exists(v >= _)) ictOrFail(v, ictFloor.get, ci) else ts
      (v, reported, ci)
    }
  }
}

/** Holds the kernel snapshot cache: each table's latest snapshot, shared by
  * every [[DeltaLog]] of the process (catalog statements, `DeltaTable`
  * handles, writes, streaming sources, post-commit checkpoints). A lookup
  * lists the log once, validates the entry against that listing, and
  * extends it with the new commits only; a full replay happens on first use,
  * across a log gap, on a failed check, or below the cached version.
  * Entries are LRU-bounded and held through SoftReferences, so heap
  * pressure degrades an entry to a replay, not an OOM. */
object DeltaLog {
  private[kernel] val logger = org.slf4j.LoggerFactory.getLogger("graft.kernel")

  private[kernel] case class CacheKey(appId: String, path: String, lazyThreshold: Long)
  /** A log as of `version`: the digest of its listing up to that version
    * and the digest of that version's commit file. */
  private[kernel] case class LogId(version: Long, listed: String, digest: String)
  private[kernel] class Entry(val ref: java.lang.ref.SoftReference[Snapshot], val id: LogId)

  private val cache = new java.util.LinkedHashMap[CacheKey, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[CacheKey, Entry]): Boolean =
      size() > 256
  }

  private[kernel] def cacheGet(key: CacheKey): Option[Entry] =
    cache.synchronized(Option(cache.get(key)))

  /** Installs `snap` unless a racing load installed a newer version; `seen`,
    * the entry the caller validated or found invalid, may always be replaced. */
  private[kernel] def install(key: CacheKey, snap: Snapshot, id: Option[LogId],
      seen: Option[Entry]): Unit = id.foreach { i =>
    cache.synchronized {
      val cur = Option(cache.get(key))
      if (cur.forall(c => seen.exists(_ eq c) || c.ref.get == null || c.id.version < i.version))
        cache.put(key, new Entry(new java.lang.ref.SoftReference(snap), i))
    }
  }

  private[kernel] def digest(lines: Seq[String]): String = java.util.HexFormat.of().formatHex(
    java.security.MessageDigest.getInstance("SHA-256").digest(
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** THE `_last_checkpoint` parse — one definition for every consumer
    * (snapshot loads, checkpoint-size estimation): ONE read, with absence
    * surfacing as FileNotFoundException into the Try (an exists() probe on
    * an HTTP-backed log store is a full signed GET, so exists-then-read
    * doubled the very round-trips the single read exists to halve). The
    * hint is ADVISORY — any failure (absent, torn concurrent overwrite,
    * transient IO) degrades to "no hint" and callers replay JSON. */
  private[kernel] def lastCheckpointHintOf(
      store: LogStore, logPath: Path): (Option[Long], Option[Long]) =
    scala.util.Try {
      store.read(new Path(logPath, LogStore.LAST_CHECKPOINT)).headOption
        .map { line =>
          val j = JsonMethods.parse(line)
          def f(field: String): Option[Long] = j \ field match {
            case JInt(n) => Some(n.toLong); case JLong(n) => Some(n); case _ => None
          }
          (f("version"), f("size"))
        }.getOrElse((None, None))
    }.getOrElse((None, None))

  private val registered = scala.collection.concurrent.TrieMap[String, LogStore]()

  /** Register a [[LogStore]] for a URI scheme — the injection point that
    * makes [[ObjectStoreLogStore]] reachable from real table paths: wire a
    * [[ConditionalPutClient]] for your store and register it for "s3a"/
    * "gs"/…; every DeltaLog whose table path carries that scheme commits
    * through it. Without a registration, [[HadoopLogStore]] is used (and
    * refuses non-atomic object-store schemes at commit time). */
  def registerLogStore(scheme: String, store: LogStore): Unit =
    registered(scheme.toLowerCase(java.util.Locale.ROOT)) = store

  def unregisterLogStore(scheme: String): Unit =
    registered.remove(scheme.toLowerCase(java.util.Locale.ROOT))

  private[kernel] def storeFor(
      tablePath: Path,
      conf: org.apache.hadoop.conf.Configuration): LogStore =
    Option(tablePath.toUri.getScheme).map(_.toLowerCase(java.util.Locale.ROOT))
      .flatMap(registered.get)
      .getOrElse(new HadoopLogStore(conf))
}

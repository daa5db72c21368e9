package graft.kernel

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.Expression

/** Description of the operation being committed (CommitInfo payload). */
case class Operation(
    name: String,
    parameters: Map[String, String] = Map.empty,
    metrics: Map[String, String] = Map.empty)

class CommitConflictException(kind: String, detail: String)
    extends RuntimeException(s"$kind: $detail")

/** A conflict-retry winner already recorded this transaction's idempotency
  * marker at an equal-or-higher version: the logical operation (a replayed
  * streaming batch, a re-driven idempotent write) is ALREADY APPLIED.
  * Deliberately NOT a [[CommitConflictException]]: callers that registered
  * an idempotent txn must treat this as a successful no-op, never as a
  * commit failure (delta-spark's idempotent txnAppId/txnVersion writes
  * skip the same way). */
class TransactionAlreadyAppliedException(
    val appId: String, val version: Long, val winnerCommit: Long)
    extends RuntimeException(
      s"transaction ($appId, $version) was already applied by commit " +
        s"$winnerCommit — idempotent replay, nothing to do")

/**
 * Optimistic concurrency commit loop — port of delta-rs
 * `CommitBuilder`/`PreparedCommit` (`crates/core/src/kernel/transaction/mod.rs:1-117`,
 * retries `DEFAULT_RETRIES = 15` at mod.rs:120) with the conflict matrix of
 * `kernel/transaction/conflict_checker.rs` (ConcurrentAppend :34,
 * ConcurrentDeleteRead :41, ConcurrentDeleteDelete :48, MetadataChanged :53,
 * ConcurrentTransaction :59, ProtocolChanged :67; predicate read-set check
 * `check_conflicts` :409, snapshot-isolation downgrade :474-480).
 *
 * Read-set tracking: operations register the predicates they scanned with
 * (`readPredicates`), the concrete files they read (`readFiles`), or
 * `readWholeTable()`. Winning commits discovered on retry are checked
 * against this read set; file-matching uses the same stats/partition
 * interval evaluation as scan pruning (fail-open = conflict).
 */
class OptimisticTransaction(
    val log: DeltaLog,
    val snapshot: Option[Snapshot],
    val isolationLevel: IsolationLevel = IsolationLevel.default) {

  private val maxRetries = 15

  private var readPredicates: Vector[Expression] = Vector.empty
  private var readFiles: Set[String] = Set.empty
  private var didReadWholeTable = false

  def readPredicate(p: Expression): Unit = readPredicates :+= p
  def readFile(paths: Iterable[String]): Unit = readFiles ++= paths
  def readWholeTable(): Unit = didReadWholeTable = true

  // Versions committed by THIS logical operation against the same pinned
  // snapshot (e.g. the earlier chunks of one incremental OPTIMIZE): their
  // actions are known-disjoint with this transaction's read set by
  // construction, so conflict replay skips them — and the attempt cursor
  // can start above them instead of colliding at snapshot.version+1 and
  // re-reading every own chunk (O(chunks^2) commit reads over a long
  // compaction). Foreign commits interleaved below the cursor start are
  // still conflict-checked, once, before the first attempt.
  private var ownSafeVersions: Set[Long] = Set.empty
  def assumeOwnCommits(versions: Set[Long]): Unit = ownSafeVersions ++= versions

  /** The (appId, version) this transaction uses as an IDEMPOTENCY marker
    * (it must also ride the commit as a [[SetTransaction]] action). When a
    * conflict-retry winner is found to have advanced the same appId to
    * `>= version`, the commit aborts with
    * [[TransactionAlreadyAppliedException]] instead of
    * ConcurrentTransactionException — the operation was already applied by
    * a racing replay and re-committing it would double-apply. Winners that
    * advanced the appId to a LOWER version still conflict loudly (two
    * writers disagreeing about the stream position is corruption, not a
    * replay). */
  var idempotentTxn: Option[(String, Long)] = None

  /** Per-commit provenance (reference CommitProperties custom metadata):
    * `commitUserMetadata` lands in commitInfo.userMetadata, `commitAppMetadata`
    * entries become flattened commitInfo keys. When unset, userMetadata
    * falls back to the session conf `spark.graft.commitInfo.userMetadata`
    * — the Spark-first surface: every operation in the session (SQL,
    * format writes, DML) picks it up without API plumbing. */
  var commitUserMetadata: Option[String] = None
  var commitAppMetadata: Map[String, String] = Map.empty

  private def readVersion: Long = snapshot.map(_.version).getOrElse(-1L)

  /** Commit `actions` as the next version; returns the committed version. */
  def commit(actions: Seq[Action], op: Operation): Long = {
    val meta = snapshot.map(_.metadata)
    val newMeta = actions.collectFirst { case m: Metadata => m }
    val effectiveMeta = newMeta.orElse(meta)

    // writer-side protocol gate (transaction/protocol.rs can_write_to)
    val newProtocol = actions.collectFirst { case p: Protocol => p }
    val effectiveProtocol = newProtocol.orElse(snapshot.map(_.protocol))
    (effectiveProtocol, effectiveMeta) match {
      case (Some(p), Some(m)) => ProtocolGate.checkWrite(p, m)
      case _ =>
    }

    val isBlindAppend = !didReadWholeTable && readPredicates.isEmpty &&
      readFiles.isEmpty && actions.forall {
        case _: AddFile | _: CommitInfo | _: SetTransaction | _: AddCDCFile => true
        case _ => false
      }

    val reserved = commitAppMetadata.keySet.intersect(CommitInfo.reservedKeys)
    require(reserved.isEmpty,
      s"commitAppMetadata must not shadow reserved commitInfo keys: ${reserved.mkString(", ")}")
    val commitInfo = CommitInfo(
      timestamp = Some(System.currentTimeMillis()),
      operation = op.name,
      operationParameters = op.parameters,
      readVersion = if (readVersion >= 0) Some(readVersion) else None,
      isolationLevel = Some(isolationLevel.name),
      isBlindAppend = Some(isBlindAppend),
      operationMetrics = op.metrics,
      txnId = Some(java.util.UUID.randomUUID.toString),
      userMetadata = commitUserMetadata.orElse(
        Option(log.spark.conf.get("spark.graft.commitInfo.userMetadata", null))
          .filter(_.nonEmpty)),
      info = commitAppMetadata)

    val fullActions: Seq[Action] = commitInfo +: actions

    var attempt = readVersion + 1
    if (ownSafeVersions.nonEmpty) {
      // pre-check the span below the highest own commit exactly once:
      // foreign winners there get the normal conflict replay; own chunk
      // commits are skipped without a read. The cursor then starts above
      // the span — no guaranteed collision, no ghost-path walk per chunk.
      val known = ownSafeVersions.max
      require(ownSafeVersions.forall(_ > readVersion),
        s"assumeOwnCommits: versions ${ownSafeVersions.filter(_ <= readVersion)} " +
          s"are at or below the pinned snapshot version $readVersion — they are " +
          "part of this transaction's base state, not own commits above it")
      // paced like the main loop's reads (one transient 503 on this
      // one-time pre-scan must not abort a long compaction chunk), but
      // against ONE shared budget: per-read 120s budgets would let a
      // permanently-throttling store park an N-commit pre-scan for
      // N x 120s, bypassing the commit loop's documented hard ceiling.
      // Wall-clock decrement (not just paced waits) is deliberate slack.
      var preScanBudgetMs = 120000L
      (attempt to known).filterNot(ownSafeVersions.contains).foreach { v =>
        val t0 = System.nanoTime()
        checkConflicts(
          HttpWire.pacedRetry(s"pre-scan of version $v", preScanBudgetMs)(
            log.readCommit(v)),
          actions, v)
        preScanBudgetMs =
          math.max(0L, preScanBudgetMs - (System.nanoTime() - t0) / 1000000L)
      }
      // max(): never move the cursor backward — versions below attempt are
      // already reflected in the snapshot and must not be re-attempted
      attempt = math.max(attempt, known + 1)
    }
    var retries = 0
    // Server-directed throttle pacing (RetryPacedException) draws from its
    // OWN budget: a sustained-but-bounded 429/503 window with Retry-After
    // must not burn the conflict/transient retry allowance above — 15
    // generic retries sum to ~13s of backoff, shorter than one real S3
    // SlowDown window. Cumulative paced wait is capped so a permanently
    // throttling store still fails loudly instead of parking forever.
    var pacedWaitMs = 0L
    val maxPacedWaitMs = 120000L
    // reserve for ghost-commit disambiguation reads (see the
    // VersionAlreadyExists branch): kept OUT of pacedWaitMs so write-phase
    // throttling can never starve the one read whose failure risks
    // duplicate data
    var ghostPacedMs = 0L
    val maxGhostPacedMs = 60000L
    while (true) {
      val path = new Path(log.logPath, LogStore.commitFileName(attempt))
      // The catches are scoped to the writeAtomic call ONLY: a postCommit
      // (checkpoint) failure after the commit file landed must surface as
      // its own error, not re-enter the loop and re-attempt an
      // already-durable version until MaxCommitRetries claims the commit
      // failed.
      val committed: Boolean =
        try {
          log.store.writeAtomic(path, fullActions.iterator.map(ActionCodec.toJson))
          true
        } catch {
          case _: VersionAlreadyExistsException =>
            // Ghost-commit recovery: an object-store put can time out AFTER
            // landing server-side; the retry then sees "already exists" for a
            // commit that is OURS. Detect via the commit's txnId and treat as
            // success — re-committing at the next version would duplicate the
            // transaction (the reference repairs the same ambiguity in its
            // S3+DynamoDB path, crates/aws/src/logstore/*). The read MUST
            // succeed: swallowing a transient failure here would classify
            // our own ghost as "someone else's commit" and re-commit the
            // same files at the next version — silent duplicate data. Retry
            // the read a few times, then fail the commit loudly as
            // ambiguous rather than guess.
            val winnerAtAttempt: Option[Seq[Action]] = {
              var result: Option[Seq[Action]] = None
              var readTries = 0
              while (result.isEmpty) {
                try result = Some(log.readCommit(attempt))
                catch {
                  case e: RetryPacedException =>
                    // honor the server's pace from a RESERVE budget, not
                    // the write loop's: a commit that burned ~120s of
                    // write pacing before its put landed server-side
                    // would otherwise get ZERO budget to confirm the
                    // ghost is OURS — declared ambiguous, and a rerun
                    // duplicates the data. (3 fast retries would likewise
                    // mis-declare during an ordinary SlowDown.)
                    val wait = math.max(e.retryAfterMs, 100L)
                    ghostPacedMs += wait
                    if (ghostPacedMs > maxGhostPacedMs)
                      throw new CommitConflictException("CommitAmbiguous",
                        s"version $attempt exists but its disambiguation " +
                          s"read was throttled past the ${maxGhostPacedMs}ms " +
                          s"reserve pacing budget: $e")
                    try Thread.sleep(wait)
                    catch {
                      case _: InterruptedException =>
                        Thread.currentThread().interrupt()
                        throw new CommitConflictException("Interrupted",
                          "interrupted while pacing a ghost-commit " +
                            s"disambiguation read at version $attempt")
                    }
                  case scala.util.control.NonFatal(e) =>
                    readTries += 1
                    if (readTries >= 3)
                      throw new CommitConflictException("CommitAmbiguous",
                        s"version $attempt exists but could not be read to " +
                          s"disambiguate a possible ghost commit: $e")
                    try Thread.sleep(50L * readTries)
                    catch {
                      case _: InterruptedException =>
                        // same contract as the IOException backoff below:
                        // preserve the interrupt, surface a commit-domain
                        // error instead of a raw InterruptedException
                        Thread.currentThread().interrupt()
                        throw new CommitConflictException("Interrupted",
                          "interrupted while re-reading a possible ghost " +
                            s"commit at version $attempt")
                    }
                }
              }
              result
            }
            val winnerIsUs = winnerAtAttempt
              .flatMap(_.collectFirst { case ci: CommitInfo => ci })
              .exists(_.txnId == commitInfo.txnId)
            if (winnerIsUs) true
            else {
              retries += 1
              if (retries > maxRetries)
                throw new CommitConflictException("MaxCommitRetries",
                  s"gave up after $maxRetries attempts at version $attempt")
              // replay winners and check for conflicts before retrying at
              // the next version. A lagging listing (eventual consistency)
              // may report latest < attempt — but `attempt` is KNOWN
              // occupied (we just read its commit), so the replay range
              // must include it and the cursor must advance past it; the
              // old max(latest + 1, attempt) left the cursor ON the
              // occupied version, deterministically re-colliding until
              // MaxCommitRetries failed a conflict-free commit.
              val top = math.max(log.latestVersion(), attempt)
              (attempt to top).foreach { winner =>
                // the ghost check already read the commit at `attempt`
                val winnerActions =
                  if (winner == attempt && winnerAtAttempt.isDefined) winnerAtAttempt.get
                  else log.readCommit(winner)
                checkConflicts(winnerActions, actions, winner)
              }
              attempt = top + 1
              false
            }
          case e: RetryPacedException =>
            // Honor the server's pace, same-version retry (a landed put
            // resolves via the ghost-commit txnId check above). Budget
            // accounting floors at 100ms per paced retry so a store
            // spamming `Retry-After: 0` still terminates at the cap.
            pacedWaitMs += math.max(e.retryAfterMs, 100L)
            if (pacedWaitMs > maxPacedWaitMs)
              throw new CommitConflictException("MaxCommitRetries",
                s"gave up after ${pacedWaitMs}ms of server-directed throttle " +
                  s"pacing at version $attempt (last: ${e.getMessage})")
            // sleep the same floored value being accounted: a raw
            // `Retry-After: 0` (or a past HTTP-date clamped to 0) must not
            // turn into up to 1200 back-to-back zero-backoff PUTs
            try Thread.sleep(math.max(e.retryAfterMs, 100L))
            catch {
              case _: InterruptedException =>
                Thread.currentThread().interrupt()
                throw new CommitConflictException("Interrupted",
                  s"interrupted during server-directed pacing before retrying version $attempt")
            }
            false
          case e: java.io.IOException =>
            // Transient store failure (timeout, 5xx): retry the SAME version —
            // if the put actually landed, the next round's already-exists path
            // resolves it via the txnId check above. Brief backoff so a store
            // outage isn't hammered at full speed.
            retries += 1
            if (retries > maxRetries)
              throw new CommitConflictException("MaxCommitRetries",
                s"gave up after $maxRetries attempts at version $attempt " +
                  s"(last store error: ${e.getMessage})")
            try Thread.sleep(math.min(50L << math.min(retries - 1, 5), 1000L))
            catch {
              case _: InterruptedException =>
                // preserve the interrupt for cooperative cancellation and
                // surface a commit-domain error, not an undeclared throw
                Thread.currentThread().interrupt()
                throw new CommitConflictException("Interrupted",
                  s"interrupted while backing off before retrying version $attempt")
            }
            false
        }
      if (committed) {
        postCommit(attempt, effectiveMeta)
        return attempt
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def checkConflicts(winner: Seq[Action], ours: Seq[Action], winnerVersion: Long): Unit = {
    // FIRST, before any other conflict classification: a winner carrying
    // our idempotency marker at >= our version IS a completed replay of
    // this very operation — every other signal the winner raises
    // (ConcurrentAppend on the files it wrote, MetadataChanged, ...) is
    // just that replay's own footprint, and reporting it as a conflict
    // would turn "already done" into a spurious failure.
    idempotentTxn.foreach { case (app, ver) =>
      if (winner.exists {
        case t: SetTransaction => t.appId == app && t.version >= ver
        case _ => false
      }) throw new TransactionAlreadyAppliedException(app, ver, winnerVersion)
    }

    val winnerInfo = winner.collectFirst { case ci: CommitInfo => ci }
    val winnerBlind = winnerInfo.flatMap(_.isBlindAppend).getOrElse(false)
    val winnerAdds = winner.collect { case a: AddFile if a.dataChange => a }
    val winnerRemoves = winner.collect { case r: RemoveFile => r }

    // ProtocolChanged
    if (winner.exists(_.isInstanceOf[Protocol]))
      throw new CommitConflictException("ProtocolChangedException",
        s"version $winnerVersion changed the protocol")

    // MetadataChanged
    if (winner.exists(_.isInstanceOf[Metadata]))
      throw new CommitConflictException("MetadataChangedException",
        s"version $winnerVersion changed table metadata")

    // ConcurrentAppend: winner added files our read-set may cover.
    // Serializable: any such append conflicts. WriteSerializable: blind
    // appends are allowed to interleave (conflict_checker.rs isolation
    // handling; snapshot isolation skips the check entirely when we made
    // no data-visible read).
    val checkAppends = isolationLevel match {
      case IsolationLevel.Serializable => true
      case IsolationLevel.WriteSerializable => !winnerBlind
      case IsolationLevel.SnapshotIsolation => false
    }
    if (checkAppends && winnerAdds.nonEmpty && mayHaveRead(winnerAdds))
      throw new CommitConflictException("ConcurrentAppendException",
        s"version $winnerVersion appended files that this transaction may have read")

    // ConcurrentDeleteRead: winner removed files we read
    val ourReadPaths = readFiles
    if (winnerRemoves.exists(r => didReadWholeTable || ourReadPaths.contains(r.path)))
      throw new CommitConflictException("ConcurrentDeleteReadException",
        s"version $winnerVersion removed files read by this transaction")

    // ConcurrentDeleteDelete: both removed the same file
    val ourRemoves = ours.collect { case r: RemoveFile => r.path }.toSet
    if (winnerRemoves.exists(r => ourRemoves.contains(r.path)))
      throw new CommitConflictException("ConcurrentDeleteDeleteException",
        s"version $winnerVersion removed files also removed by this transaction")

    // ConcurrentTransaction: same appId txn. (A winner that was a replay
    // of OUR idempotency marker never reaches here — the already-applied
    // check at the top of this method preempts; what's left is a genuine
    // disagreement, e.g. a second writer advancing the appId to a LOWER
    // version.)
    val ourApps = ours.collect { case t: SetTransaction => t.appId }.toSet
    if (winner.exists { case t: SetTransaction => ourApps.contains(t.appId); case _ => false })
      throw new CommitConflictException("ConcurrentTransactionException",
        s"version $winnerVersion advanced a txn appId this transaction also sets")
  }

  /** Could our read-set cover any of these files? Fail-open to `true`. */
  private def mayHaveRead(files: Seq[AddFile]): Boolean = {
    if (didReadWholeTable) return true
    if (readPredicates.isEmpty) return false
    snapshot match {
      case None => true
      case Some(s) =>
        val mayMatch = readPredicates.map(p => StatsPruning.filePredicate(s, Seq(p)))
        files.exists(f => mayMatch.exists(_(f)))
    }
  }

  /** Checkpoint every `delta.checkpointInterval` commits (default 10) and
    * clean expired logs (checkpoints.rs:27-46, cleanup :57+). */
  private def postCommit(version: Long, meta: Option[Metadata]): Unit = {
    val interval = meta.flatMap(_.configuration.get("delta.checkpointInterval"))
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(10)
    if (interval > 0 && version > 0 && version % interval == 0) {
      try {
        log.checkpoint(log.snapshotAt(version), LogCleanup.run(log, version, meta))
      } catch {
        case _: InterruptedException =>
          // cooperative cancellation must survive the swallow (same
          // contract as the commit loop's three interrupt handlers); the
          // commit itself already succeeded
          Thread.currentThread().interrupt()
          DeltaLog.logger.warn(s"checkpoint at $version interrupted")
        case e: Exception =>
          // checkpointing is an optimization; never fail the commit
          DeltaLog.logger.warn(s"checkpoint at $version failed", e)
      }
    }
  }
}

/** Expired-log cleanup, shared by the post-commit path above and the
  * explicit `DeltaTable.cleanupMetadata()` surface (python
  * `cleanup_metadata`; `protocol/checkpoints.rs` cleanup). Deletes only
  * files strictly behind `checkpointVersion` — state at and after the
  * checkpoint stays reconstructible. */
private[graft] object LogCleanup {
  def run(log: DeltaLog, checkpointVersion: Long, meta: Option[Metadata]): Unit = {
    val enabled = meta.flatMap(_.configuration.get("delta.enableExpiredLogCleanup"))
      .forall(_.trim.equalsIgnoreCase("true"))
    if (!enabled) return
    val retentionMs = meta.flatMap(_.configuration.get("delta.logRetentionDuration"))
      .map(DeltaConfig.durationMs("delta.logRetentionDuration", _))
      .getOrElse(30L * 24 * 3600 * 1000)
    val cutoff = System.currentTimeMillis() - retentionMs
    val listing = log.store.list(log.logPath)
    // fail-SAFE age test: the object-store list parsers degrade an
    // unparseable/absent LastModified to mtime 0 (documented there as
    // costing only history precision) — but 0 < cutoff is "expired", so a
    // gateway emitting an unparsed timestamp dialect would turn the very
    // next cleanup into immediate deletion of the ENTIRE retention window.
    // Unknown age = NOT expired; such files wait for a store that reports
    // real mtimes.
    def aged(f: org.apache.hadoop.fs.FileStatus): Boolean =
      f.getModificationTime > 0 && f.getModificationTime < cutoff
    val expired = listing.filter { f =>
      val name = f.getPath.getName
      val isOld = (LogStore.isCommitFile(name) || LogStore.isCheckpointFile(name)) &&
        LogStore.fileVersion(name) < checkpointVersion && aged(f)
      // a compaction file is expired once its whole RANGE is behind the
      // checkpoint (fileVersion reads only its start version)
      val isOldCompaction = LogCompaction.info(name).exists(_._2 < checkpointVersion) &&
        aged(f)
      isOld || isOldCompaction
    }
    // V2 manifests reference _sidecars/*.parquet payloads: deleting the
    // manifest alone leaks its sidecars forever. Sidecars may be SHARED
    // across checkpoints (the spec allows reuse), so delete only those
    // referenced by no surviving manifest — and manifests come in BOTH
    // json-lines and parquet forms (PROTOCOL.md; another engine may have
    // written either). Read BEFORE deleting.
    def isV2Manifest(n: String) =
      n.matches("\\d{20}\\.checkpoint\\.[0-9a-fA-F-]{32,36}\\.(json|parquet)")
    def sidecarsOf(p: org.apache.hadoop.fs.Path): scala.util.Try[Seq[String]] =
      scala.util.Try(Checkpoints
        .manifestSidecars(log.spark, log.store, log.logPath, p).map(_.getName))
    val expiredPaths = expired.map(_.getPath).toSet
    // an unreadable EXPIRED manifest: keep the MANIFEST too (not just skip
    // its sidecars) — once the manifest is deleted, no later cycle can
    // ever identify its sidecars as garbage; the next cycle retries
    val unreadableExpired = scala.collection.mutable.Set[org.apache.hadoop.fs.Path]()
    val expiredSidecars = expired.collect {
      case f if isV2Manifest(f.getPath.getName) =>
        sidecarsOf(f.getPath) match {
          case scala.util.Success(s) => s
          case scala.util.Failure(_) => unreadableExpired += f.getPath; Nil
        }
    }.flatten.toSet
    // an unreadable LIVE manifest: we cannot prove any sidecar unreferenced
    // — abort sidecar deletion entirely for this cycle, and keep expired
    // V2 manifests so their sidecars stay identifiable next cycle
    var liveUnknown = false
    val liveSidecars = listing.collect {
      case f if isV2Manifest(f.getPath.getName) && !expiredPaths.contains(f.getPath) =>
        sidecarsOf(f.getPath) match {
          case scala.util.Success(s) => s
          case scala.util.Failure(_) => liveUnknown = true; Nil
        }
    }.flatten.toSet
    val deletable =
      if (liveUnknown) expired.filterNot(f => isV2Manifest(f.getPath.getName))
      else expired.filterNot(f => unreadableExpired.contains(f.getPath))
    // the delete verbs pace on 429/503 (RetryPacedException) like every
    // other store call; honor it against ONE shared budget so a sustained
    // SlowDown window slows the cycle instead of aborting it — with a hard
    // ceiling so a permanently-throttling store still fails loudly
    var deleteBudgetMs = 120000L
    def pacedDelete(p: org.apache.hadoop.fs.Path): Unit = {
      val t0 = System.nanoTime()
      HttpWire.pacedRetry(s"cleanup delete of $p", deleteBudgetMs)(
        log.store.delete(p))
      deleteBudgetMs =
        math.max(0L, deleteBudgetMs - (System.nanoTime() - t0) / 1000000L)
    }
    deletable.foreach(f => pacedDelete(f.getPath))
    if (!liveUnknown) {
      val sidecarDir = new org.apache.hadoop.fs.Path(log.logPath, "_sidecars")
      (expiredSidecars -- liveSidecars).foreach(p =>
        pacedDelete(new org.apache.hadoop.fs.Path(sidecarDir, p)))
      // reap aged ORPHANS: sidecars renamed into place by a V2 checkpoint
      // write that crashed before its manifest landed are referenced by NO
      // manifest and invisible to every other cleanup path (the debris
      // reaper below only matches direct logPath children). Only when
      // every manifest — live and expired — was readable.
      if (unreadableExpired.isEmpty) {
        val referenced = liveSidecars ++ expiredSidecars
        scala.util.Try(log.store.list(sidecarDir)).getOrElse(Nil)
          .filter(f => aged(f) && !referenced.contains(f.getPath.getName))
          .foreach(f => scala.util.Try(log.store.delete(f.getPath)))
      }
    }
    // reap aged write debris: crashed checkpoint stagings / commit temps
    // (their writers are long gone once they're past the retention window);
    // recursive delete via the fs — staging entries are directories
    // NOTE: .put*.tmp orphans (FsPutClient temps) cannot be reaped here —
    // ObjectStoreLogStore's listing filters them out before this code ever
    // sees them. FsPutClient reaps its own aged temps opportunistically.
    val debris = listing.filter { f =>
      val n = f.getPath.getName
      (n.startsWith(".checkpoint_tmp_") || n.startsWith(".tmp_commit_") ||
        n.startsWith("." + LogStore.LAST_CHECKPOINT + ".")) && aged(f)
    }
    if (debris.nonEmpty) {
      val fs = log.logPath.getFileSystem(log.store.conf)
      debris.foreach(f => scala.util.Try(fs.delete(f.getPath, true)))
    }
  }

  /** Latest version carrying a USABLE checkpoint — the only safe cleanup
    * cutoff (commits not covered by a checkpoint are required for replay).
    * "Usable" mirrors Snapshot.usableCheckpoint: a bare multi-part FRAGMENT
    * (a writer crashed mid-publication) must NOT count — snapshot loading
    * would fall back to an older checkpoint plus the commit tail, and
    * cleaning that tail against the fragment's version would permanently
    * break replay. */
  def latestCheckpointVersion(log: DeltaLog): Option[Long] = {
    val cpPaths = log.store.list(log.logPath).map(_.getPath)
      .filter(p => LogStore.isCheckpointFile(p.getName))
    def usable(names: Seq[String]): Boolean = {
      val singleClassic = names.exists(_.matches("\\d{20}\\.checkpoint\\.parquet"))
      val completeMulti = names
        .flatMap(n => LogStore.multiPartInfo(n).map { case (i, np) => (np, i) })
        .groupBy(_._1)
        .exists { case (np, l) => l.map(_._2).toSet == (1 to np).toSet }
      val v2Manifest = names.exists(n =>
        !n.matches("\\d{20}\\.checkpoint\\.parquet") && LogStore.multiPartInfo(n).isEmpty)
      singleClassic || completeMulti || v2Manifest
    }
    cpPaths.groupBy(p => LogStore.fileVersion(p.getName))
      .collect { case (v, ps) if usable(ps.map(_.getName)) => v }
      .maxOption
  }
}

object DeltaConfig {
  /** Parse `interval N unit` / `N unit` duration strings (delta-style).
    * An UNRECOGNIZED unit yields None (callers fall back to their safe
    * default) — treating e.g. "interval 1 month" as 1 millisecond would
    * silently collapse a retention window and let cleanup destroy time
    * travel / VACUUM reap files still being read. */
  /** Parse-or-THROW for a PRESENT config value: a present-but-unparseable
    * retention (e.g. 'interval 2 months' — delta-spark's
    * isValidIntervalConfigValue rejects months/years too) must not
    * silently collapse to the caller's default. When the configured window
    * is LONGER than the default, the silent fallback DESTROYS data the
    * user asked to keep: expired-log cleanup deletes history inside the
    * configured window, the checkpoint writer drops tombstones VACUUM
    * still needs, and VACUUM's minimum-retention check weakens. */
  def durationMs(key: String, s: String): Long =
    parseDuration(s).getOrElse(throw new IllegalArgumentException(
      s"$key: cannot parse interval '$s' — supported: 'interval N <unit> " +
        "[N <unit> ...]' with units millisecond|second|minute|hour|day|week " +
        "and non-negative N (month/year units and negative components are " +
        "rejected, matching delta-spark's isValidIntervalConfigValue)"))

  /** Multi-unit intervals sum their `N unit` pairs ('interval 1 day 12
    * hours' = 36h), matching delta-spark's CalendarInterval acceptance.
    * Calendar-length units (month/year) and negative components are
    * rejected like delta-spark's isValidIntervalConfigValue — a negative
    * retention puts the cleanup cutoff in the FUTURE and destroys
    * everything. */
  def parseDuration(s: String): Option[Long] = {
    val t = s.trim.toLowerCase(java.util.Locale.ROOT).stripPrefix("interval").trim
    val parts = t.split("\\s+").filter(_.nonEmpty)
    if (parts.isEmpty || parts.length % 2 != 0) return None
    def unitMs(u: String): Option[Long] = u match {
      case _ if u.startsWith("millisecond") => Some(1L)
      case _ if u.startsWith("second") => Some(1000L)
      case _ if u.startsWith("minute") => Some(60000L)
      case _ if u.startsWith("hour") => Some(3600000L)
      case _ if u.startsWith("day") => Some(86400000L)
      case _ if u.startsWith("week") => Some(7L * 86400000L)
      case _ => None
    }
    // exact arithmetic: an overflowing `num * ms` (or sum) would wrap to
    // exactly the negative retention this parser exists to reject —
    // cleanup cutoffs in the future destroy everything retained
    val terms = parts.grouped(2).map {
      case Array(n, u) =>
        for {
          num <- scala.util.Try(n.toLong).toOption if num >= 0
          ms <- unitMs(u)
          v <- scala.util.Try(Math.multiplyExact(num, ms)).toOption
        } yield v
      case _ => None
    }.toSeq
    if (terms.exists(_.isEmpty)) None
    else scala.util.Try(terms.flatten.reduce(Math.addExact(_, _))).toOption
  }
}

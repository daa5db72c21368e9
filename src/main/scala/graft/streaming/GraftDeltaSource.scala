package graft.streaming

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, Offset => OffsetV2, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.kernel.{Action, AddFile, DeltaLog, Metadata, Protocol, ProtocolGate, RemoveFile, Snapshot}
import graft.ops.{CdfRead, Dml}
import graft.table.{DeltaTable, Scan}

/**
 * Streaming-source offset: everything strictly before `(version, index)` has
 * been admitted. `index` counts files consumed within `version` (0 = none);
 * `isInitialSnapshot` marks whether `version` is being served from the
 * stream-start snapshot (all live files) rather than a single commit's adds.
 *
 * The reference has no continuous runtime — its incremental surface is
 * polling `load_cdf`/`update_incremental` (crates/core/src/operations/
 * load_cdf.rs, table/state.rs). Re-expressed Spark-first, that polling loop
 * IS Structured Streaming's microbatch contract, so we implement the real
 * thing: the delta-spark source semantics (initial snapshot, then per-commit
 * appends) on our own log replay.
 */
case class GraftSourceOffset(version: Long, index: Long, isInitialSnapshot: Boolean)
    extends OffsetV1 {
  override def json: String =
    s"""{"version":$version,"index":$index,"isInitialSnapshot":$isInitialSnapshot}"""
}

object GraftSourceOffset {
  implicit val ordering: Ordering[GraftSourceOffset] =
    Ordering.by(o => (o.version, o.index))

  def fromJson(s: String): GraftSourceOffset = {
    val j = JsonMethods.parse(s)
    def num(field: String): Long = j \ field match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case other => throw new IllegalArgumentException(
        s"bad graft-delta offset json ($field=$other): $s")
    }
    val init = j \ "isInitialSnapshot" match {
      case JBool(b) => b
      case _ => false
    }
    GraftSourceOffset(num("version"), num("index"), init)
  }

  /** Accepts our typed offset or any serialized form (SerializedOffset after
    * a checkpoint restart) via its json. */
  def from(o: OffsetV2): GraftSourceOffset = o match {
    case g: GraftSourceOffset => g
    case other => fromJson(other.json)
  }
}

/**
 * `spark.readStream.format("graft-delta").load(path)` — a v1 Source with
 * admission control over the Delta log.
 *
 * Semantics (mirrors delta-spark's DeltaSource options, built on our
 * kernel):
 *  - default: the table's full snapshot at stream start is batch material
 *    (served in `maxFilesPerTrigger`-sized slices), then each later commit's
 *    AddFiles in version order;
 *  - `startingVersion` (number | "latest"): skip the initial snapshot and
 *    tail commits from the given version (inclusive) / from the next commit;
 *  - `maxFilesPerTrigger` (default 1000): per-batch file admission cap;
 *  - change commits (containing dataChange removes): error by default;
 *    `ignoreDeletes` allows delete-only commits (skipped), `skipChangeCommits`
 *    skips them entirely, `ignoreChanges` replays their adds (at-least-once);
 *  - schema is pinned at stream start; a Metadata action with a different
 *    schema fails the stream (restart picks up the new schema).
 *
 * Scale: per-batch work is bounded by the admission cap; commit adds are
 * parsed once per version and cached until `commit()` GCs them. Only file
 * *metadata* crosses the driver — rows flow through `Scan.readFiles`' pruned
 * parquet scan with DV masks applied, same as batch reads.
 */
class GraftDeltaSource(
    spark: SparkSession,
    tablePath: String,
    options: Map[String, String],
    metadataPath: Option[String] = None)
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val log = new DeltaLog(spark, new Path(tablePath))

  /** Snapshot pinned at source construction: schema authority + the initial
    * file set. */
  private val initSnapshot: Snapshot = log.snapshot()

  private def opt(key: String): Option[String] =
    graft.sources.GraftDeltaRelation.opt(options, key)
  private def boolOpt(key: String): Boolean =
    opt(key).exists(_.trim.equalsIgnoreCase("true"))

  private val maxFilesPerTrigger: Int = {
    val n = opt("maxFilesPerTrigger").map(_.trim.toInt).getOrElse(1000)
    require(n > 0,
      s"maxFilesPerTrigger must be positive, got $n (a 0 budget idles the stream forever)")
    n
  }
  /** Byte-based admission cap (delta-spark `maxBytesPerTrigger`): admit
    * files until the next one would exceed the budget — a soft cap, since
    * at least one file is always admitted per trigger. */
  private val maxBytesPerTrigger: Option[Long] =
    opt("maxBytesPerTrigger").map(GraftDeltaSource.parseBytes)
  private val ignoreDeletes = boolOpt("ignoreDeletes")
  private val ignoreChanges = boolOpt("ignoreChanges")
  private val skipChangeCommits = boolOpt("skipChangeCommits")

  /** `readChangeFeed=true`: serve the change feed instead of plain adds —
    * per-commit CDC files (or synthesized insert/delete legs, same rules as
    * batch [[CdfRead]]), with `_change_type`/`_commit_version`/
    * `_commit_timestamp` columns; the initial snapshot streams as inserts.
    * Extension beyond the reference (its CDF surface is the polling batch
    * `load_cdf`); option name matches delta-spark. */
  private val cdfMode = boolOpt("readChangeFeed")
  // Gated on FRESH streams only: a checkpointed restart must be able to
  // drain the already-RECORDED backlog after delta.enableChangeDataFeed
  // was later unset — the batch feed (loadCdf) serves such historical
  // ranges through its range-start gate, and the per-version
  // cdfEnabledAt check below still fails genuinely-unrecorded windows
  // loudly. Construction-time current-state enforcement here would wedge
  // that restart forever.
  if (cdfMode && freshStream) require(Dml.cdcEnabled(initSnapshot),
    "readChangeFeed=true requires delta.enableChangeDataFeed on the table")

  /** None = serve the initial snapshot first; Some(v) = tail from commit v. */
  private val startingVersion: Option[Long] = opt("startingVersion").map {
    case s if s.trim.equalsIgnoreCase("latest") => initSnapshot.version + 1
    case s => s.trim.toLong
  }
  // a version beyond latest+1 (a typo) would idle the stream FOREVER with
  // no data and no error — fail fast like an out-of-range time travel
  startingVersion.filter(_ > initSnapshot.version + 1).foreach(v =>
    throw new IllegalArgumentException(
      s"startingVersion $v is beyond the table's latest version " +
        s"${initSnapshot.version} (max allowed is latest + 1)"))
  // a negative version would surface later as a baffling FileNotFound on
  // the %020d-formatted commit name — reject at stream construction like
  // the batch feed's startingVersion >= 0 require
  startingVersion.filter(_ < 0).foreach(v =>
    throw new IllegalArgumentException(
      s"startingVersion must be >= 0 (or 'latest'), got $v"))

  override val schema: StructType =
    if (cdfMode) GraftDeltaSource.cdfSchema(initSnapshot.schema)
    else initSnapshot.schema

  /** Base offset: nothing admitted yet — resolved against THIS instance's
    * snapshot (fresh-stream semantics only; see [[startBase]]). */
  private def baseOffset: GraftSourceOffset = startingVersion match {
    case Some(v) => GraftSourceOffset(v, 0, isInitialSnapshot = false)
    case None => GraftSourceOffset(initSnapshot.version, 0, isInitialSnapshot = true)
  }

  // ---- stream-start persistence --------------------------------------------
  // The resolved start offset is written once, under the source's checkpoint
  // metadata dir, when the engine begins a FRESH stream. On a crash-restart
  // where batch 0's end offset is WAL-committed but the batch never ran,
  // getBatch(None, end) reads it back and recovers the EXACT original start —
  // re-resolving against a moved-on table (startingVersion=latest resolves to
  // latest+1) would silently drop rows the WAL already admitted.

  private val startFile: Option[Path] =
    metadataPath.map(p => new Path(p, "graftSourceStart"))

  /** The startingVersion spec this source was configured with — recorded
    * next to the persisted offset so a restart with a CORRECTED option
    * (e.g. latest → 0 to backfill after a failed first run) is honored
    * instead of silently pinned to the old resolution. */
  private def startSpec: String =
    opt("startingVersion").map(_.trim.toLowerCase(java.util.Locale.ROOT)).getOrElse("none")

  private def readPersistedStart(): Option[GraftSourceOffset] =
    startFile.flatMap { p =>
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        // A corrupt pin (torn write, pre-fix unescaped option value):
        // on a FRESH stream (no WAL batches yet) nothing was admitted under
        // the old pin, so degrading to "no pin" and re-resolving is safe.
        // On a RESTARTED stream, silently re-resolving against a moved-on
        // table would skip rows the WAL already admitted — data loss — so
        // fail loudly with the remediation in the message.
        scala.util.Try(parsedStart(body)) match {
          case scala.util.Success(v) => v
          case scala.util.Failure(scala.util.control.NonFatal(_)) if freshStream =>
            None // nothing admitted yet — re-resolving is safe
          case scala.util.Failure(e) =>
            throw new IllegalStateException(
              s"corrupt stream-start pin at $p; restarting from this " +
                "checkpoint cannot safely re-resolve the start. Restore the " +
                "pin or delete the checkpoint to start a new stream.", e)
        }
      }
    }

  private def parsedStart(body: String): Option[GraftSourceOffset] = {
    val j = JsonMethods.parse(body)
    (j \ "offset") match {
      case org.json4s.JNothing =>
        // legacy plain-offset form (no option recorded): trust it
        Some(GraftSourceOffset.fromJson(body))
      case off =>
        val spec = (j \ "startingVersion") match {
          case JString(s) => s
          case _ => "none"
        }
        // a changed option invalidates the pin — resolution falls back
        // to this instance (startBase) / pinned-end reconstruction
        if (spec == startSpec)
          Some(GraftSourceOffset.fromJson(JsonMethods.compact(off)))
        else None
    }
  }

  // (both call sites overwrite unconditionally — the delete-then-rename
  // below IS the semantics; a no-overwrite mode would silently keep a
  // stale pin)
  private def persistStart(b: GraftSourceOffset): Unit =
    startFile.foreach { p =>
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      locally {
        fs.mkdirs(p.getParent)
        val tmp = new Path(p.getParent,
          s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val out = fs.create(tmp, false)
        // render via json4s so a quote/backslash in the user-supplied
        // startingVersion option can't produce a corrupt pin file
        val doc = org.json4s.JObject(
          "offset" -> JsonMethods.parse(b.json),
          "startingVersion" -> JString(startSpec))
        try out.write(
          JsonMethods.compact(JsonMethods.render(doc)).getBytes("UTF-8"))
        finally out.close()
        fs.delete(p, false) // replace any stale pin (delete-then-rename)
        // a lost rename race means a concurrent start already persisted the
        // same resolution — theirs is authoritative, ours is redundant
        if (!fs.rename(tmp, p)) fs.delete(tmp, false)
      }
    }

  /** True when this source belongs to a GENUINELY FRESH stream: the
    * checkpoint's offsets WAL (sibling of metadataPath = <ckpt>/sources/N)
    * has no entries yet. A restarted stream always has at least batch 0's
    * offsets — and must never persist a re-resolved start, which would
    * poison getBatch(None, end)'s recovery with a base the WAL never
    * admitted from. ONLY decidable for the engine's <ckpt>/sources/N
    * layout; any other metadataPath shape conservatively reports false
    * (persistence then happens in initialOffset, the pre-existing path). */
  private def freshStream: Boolean = metadataPath.exists { mp =>
    val sourcesDir = new Path(mp).getParent
    if (sourcesDir == null || sourcesDir.getName != "sources" ||
        sourcesDir.getParent == null) false
    else {
      val offsets = new Path(sourcesDir.getParent, "offsets")
      val fs = offsets.getFileSystem(spark.sessionState.newHadoopConf())
      !fs.exists(offsets) || fs.listStatus(offsets).isEmpty
    }
  }

  // Persist the resolution at CONSTRUCTION on fresh streams: with
  // startingVersion=latest and an idle table, the engine may run zero
  // batches (never calling initialOffset) — the stream still "started"
  // here, and a later restart must tail from THIS point, not re-resolve
  // "latest" past commits that arrived in between. Overwrite a stale pin
  // from a DIFFERENT startingVersion spec (fresh stream = no WAL = the old
  // pin never admitted anything). Best-effort: a checkpoint-store hiccup
  // here must not kill query startup — initialOffset persists later.
  locally {
    try {
      if (readPersistedStart().isEmpty && freshStream)
        persistStart(baseOffset)
    } catch {
      case scala.util.control.NonFatal(e) =>
        GraftDeltaSource.logger.warn("could not persist stream start at construction", e)
    }
  }

  /** The stream's durable start: the persisted resolution when present,
    * otherwise this instance's resolution — WITHOUT persisting (restart
    * from a pre-persistence checkpoint; getBatch falls back to pinned-end
    * reconstruction). */
  private def startBase: GraftSourceOffset =
    readPersistedStart().getOrElse(baseOffset)

  // ---- per-version file listings ------------------------------------------

  private val versionFiles = mutable.Map.empty[(Long, Boolean), IndexedSeq[AddFile]]

  /** Files served at (version, isInitial), in a deterministic (path) order so
    * offsets stay meaningful across restarts. `latest` bounds which commit
    * files exist; a version beyond it is empty (and not cached — the commit
    * may land later). */
  private def filesAt(version: Long, isInitial: Boolean, latest: Long): IndexedSeq[AddFile] =
    cachedUnitsAt(versionFiles, version, isInitial, latest)(
      // The initial-snapshot file set must be reproducible from the
      // OFFSET's version, not from whenever this source instance was
      // constructed — after a checkpoint restart the table may have
      // moved on, and re-deriving "the first N files" from a newer
      // snapshot would duplicate and drop rows.
      snap => snap.allFiles.sortBy(_.path).toIndexedSeq,
      commitAdds)

  /** Shared cache/initial-snapshot/beyond-latest skeleton of [[filesAt]]
    * and [[changesAt]] — one definition so a fix to the restart
    * reproducibility logic cannot silently apply to only one feed. */
  private def cachedUnitsAt[T](cache: mutable.Map[(Long, Boolean), IndexedSeq[T]],
      version: Long, isInitial: Boolean, latest: Long)(
      fromInitialSnapshot: Snapshot => IndexedSeq[T],
      fromCommit: Long => IndexedSeq[T]): IndexedSeq[T] =
    cache.get((version, isInitial)) match {
      case Some(v) => v
      case None if !isInitial && version > latest => IndexedSeq.empty
      case None =>
        val v =
          if (isInitial) {
            val snap = if (version == initSnapshot.version) initSnapshot
                       else log.snapshotAt(version)
            // restart mid-initial-snapshot across a schema/partitioning
            // change: the remaining slices would be READ through the new
            // layout (Scan keys partitionValues by the NEW columns →
            // silent nulls) while the per-commit guard can't fire (the
            // restarted source's initSnapshot already carries the new
            // layout) — fail as loudly as the non-restart path does
            if (snap.schema != initSnapshot.schema ||
                snap.partitionColumns != initSnapshot.partitionColumns)
              throw new IllegalStateException(
                s"readStream restart: the initial snapshot pinned at " +
                  s"version $version has a different schema/partitioning " +
                  s"than the current table (version ${initSnapshot.version}" +
                  ") — the layout changed mid-initial-snapshot; start a " +
                  "fresh stream (new checkpoint) to adopt it")
            fromInitialSnapshot(snap)
          } else fromCommit(version)
        cache.update((version, isInitial), v)
        v
    }

  /** Smallest commit version whose IN-EFFECT layout was verified against
    * initSnapshot's. The per-commit Metadata guard below only fires on a
    * Metadata action that DIFFERS from initSnapshot — after a checkpoint
    * restart, commits written BEFORE a layout change carry no Metadata at
    * all (or the change commit's Metadata EQUALS the restarted source's
    * initSnapshot), so their files would be decoded against the new
    * layout: silent-null partition values on a re-partitioning, dropped /
    * mistyped cells on a non-additive schema change — the exact corruption
    * the mid-initial-snapshot restart guard already fails loudly on.
    * ADDITIVE evolution is the designed restart recovery (the guard's own
    * message says "restart to pick up the new layout"): old files simply
    * null-fill the new columns, so only genuinely incompatible layouts
    * refuse. One metadata-only replay at the lowest served version closes
    * the commit leg; every later version is covered by the per-commit
    * guard because offsets walk versions contiguously upward from it. */
  private var layoutVerifiedAt: Option[Long] = None

  private def verifyLayoutAt(version: Long): Unit =
    if (!layoutVerifiedAt.exists(_ <= version)) {
      if (version > initSnapshot.version) {
        // versions above the pinned snapshot are served contiguously from
        // initSnapshot.version+1, and each one's own Metadata action is
        // checked against initSnapshot by the per-commit guard below — the
        // historical replay buys nothing there, so the common live stream
        // never pays it
        layoutVerifiedAt = Some(version)
        return
      }
      val at = log.metadataSnapshotAt(version)
      // incompatible = partitioning differs, or some field the old files
      // carry was dropped or retyped in the restarted schema (delta-spark
      // posture: non-additive changes need a fresh checkpoint; renames on
      // column-mapped tables land here too — conservative and LOUD)
      val droppedOrRetyped = at.partitionColumns == initSnapshot.partitionColumns &&
        at.schema.fields.exists { f =>
          !initSnapshot.schema.fields.exists(g =>
            g.name == f.name && g.dataType == f.dataType)
        }
      if (at.partitionColumns != initSnapshot.partitionColumns || droppedOrRetyped)
        throw new IllegalStateException(
          s"graft-delta source: commit $version was written under an " +
          s"incompatible layout (${at.schema.simpleString} partitioned by " +
          s"${at.partitionColumns}) vs the restarted stream's " +
          s"(${initSnapshot.schema.simpleString} partitioned by " +
          s"${initSnapshot.partitionColumns}) — the table was " +
          "re-partitioned or non-additively evolved after this commit; " +
          "serving its files through the current layout would corrupt " +
          "them. Start a fresh stream (new checkpoint) to adopt the " +
          "current layout, or set startingVersion past the layout change " +
          "if the old rows are not needed")
      layoutVerifiedAt = Some(version)
    }

  /** Shared per-commit guards: a protocol we can't read or a schema change
    * fails the stream loudly (restart picks up the new schema). */
  private def guardedCommit(version: Long): Seq[Action] = {
    verifyLayoutAt(version)
    val actions: Seq[Action] = log.readCommit(version)
    actions.collectFirst { case p: Protocol => p }
      .foreach(p => ProtocolGate.checkRead(p, initSnapshot.metadata))
    actions.collectFirst {
      // partitionColumns change with an identical schema is just as fatal:
      // later AddFiles' partitionValues would be decoded against the OLD
      // partition columns, silently yielding null/wrong partition values.
      // Schema compatibility is the ADDITIVE rule verifyLayoutAt applies:
      // an intermediate backlog commit whose schema is an identical-field
      // SUBSET of the stream's decodes fine (later columns read null) —
      // requiring strict equality wedged the stream permanently, because
      // the error's own remedy (restart) re-reads the SAME old Metadata
      // commit against the same newer snapshot. A commit carrying fields
      // the stream does NOT know stays fatal: restarting genuinely fixes
      // that (the restart adopts the newer schema).
      case m: Metadata if m.partitionColumns != initSnapshot.partitionColumns ||
          m.schema.fields.exists(f => !initSnapshot.schema.fields.exists(g =>
            g.name == f.name && g.dataType == f.dataType)) => m
    }.foreach { m =>
      throw new IllegalStateException(
        s"graft-delta source: table schema or partitioning changed at version $version " +
        s"(${initSnapshot.schema.simpleString} partitioned by ${initSnapshot.partitionColumns} -> " +
        s"${m.schema.simpleString} partitioned by ${m.partitionColumns}); " +
        "restart the stream to pick up the new layout")
    }
    actions
  }

  private def commitAdds(version: Long): IndexedSeq[AddFile] = {
    val actions = guardedCommit(version)
    val adds = actions.collect { case a: AddFile if a.dataChange => a }
    val removes = actions.collect { case r: RemoveFile if r.dataChange => r }
    val result: Seq[AddFile] =
      if (removes.isEmpty) adds
      else if (skipChangeCommits) Nil
      else if (ignoreChanges) adds
      else if (ignoreDeletes && adds.isEmpty) Nil
      else throw new IllegalStateException(
        s"graft-delta source: version $version contains data-changing removes " +
        "(UPDATE/DELETE/MERGE/OVERWRITE). Set skipChangeCommits=true to skip " +
        "such commits, ignoreChanges=true to replay their rewritten files " +
        "(at-least-once), or ignoreDeletes=true if this table only ever " +
        "deletes whole partitions.")
    result.sortBy(_.path).toIndexedSeq
  }

  // ---- CDF mode: per-version change units ----------------------------------

  /** One admitted change file: kind ∈ {cdc, insert, delete}. */
  private case class ChangeUnit(kind: String, relPath: String,
      pv: Map[String, String], version: Long, ts: Long, size: Long)

  private val versionChanges = mutable.Map.empty[(Long, Boolean), IndexedSeq[ChangeUnit]]

  private lazy val cdfTable = new DeltaTable(spark, new Path(tablePath))

  private def changesAt(version: Long, isInitial: Boolean, latest: Long): IndexedSeq[ChangeUnit] =
    cachedUnitsAt(versionChanges, version, isInitial, latest)(
      snap => {
        val ts = snapshotTs(version) // once per snapshot, not per file
        snap.allFiles.sortBy(_.path).map { f =>
          if (f.deletionVector.exists(_.cardinality > 0))
            throw new IllegalStateException(
              s"readChangeFeed: initial-snapshot file ${f.path} carries a " +
              "deletion vector; start from a version after the DV write " +
              "(startingVersion) or OPTIMIZE first")
          ChangeUnit("insert", f.path, f.partitionValues, version, ts, f.size)
        }.toIndexedSeq
      },
      v => {
        // same classifier as batch CDF — the feeds cannot diverge
        val actions = guardedCommit(v)
        // batch-path parity #1 (Cdf.scala enablement window): a commit
        // inside a CDF-disabled window carries no recorded change data —
        // synthesizing legs for it would misreport copied rows as changes
        actions.collectFirst { case m: Metadata => m }.foreach { m =>
          cdcTransitions(v) = m.configuration.get("delta.enableChangeDataFeed")
            .exists(_.trim.equalsIgnoreCase("true"))
        }
        val carriesIct = actions.collectFirst {
          case ci: graft.kernel.CommitInfo => ci }.exists(_.inCommitTimestamp.isDefined)
        val (ts0, us) = CdfRead.changeUnitsOf(actions, v,
          carriesIct && ictFloor.exists(v >= _))
        if (us.nonEmpty && !cdfEnabledAt(v))
          throw new IllegalStateException(
            s"readChangeFeed: Change Data Feed was disabled at or before " +
              s"version $v — changes in the disabled window were not recorded")
        // batch-path parity #2: commits lacking CommitInfo.timestamp
        // (optional per the protocol) fall back to the commit-file mtime,
        // not epoch-1970 — the two feeds must agree on _commit_timestamp
        val ts = if (ts0 != 0L || us.isEmpty) ts0 else commitMtime(v)
        us.map { case (kind, path, pv, sz) =>
            ChangeUnit(kind, path, pv, v, ts, sz) }
          .sortBy(u => (u.kind, u.relPath)).toIndexedSeq
      })

  /** CDF-enablement transitions observed while scanning commits (version →
    * enabled-after). Versions are scanned in admission order, so the
    * prevailing state at `v` is the nearest recorded transition at or
    * below it; the first access (stream start / checkpoint restart, where
    * earlier commits are never rescanned) derives a baseline from ONE
    * control-plane snapshot replay. */
  private val cdcTransitions = mutable.TreeMap.empty[Long, Boolean]
  private def cdfEnabledAt(v: Long): Boolean =
    cdcTransitions.rangeTo(v).lastOption.map(_._2).getOrElse {
      // metadata-only: this baseline reads ONE boolean config — a full
      // file-index replay here was minutes of driver work on a large table
      val on = Dml.cdcEnabled(log.metadataSnapshotAt(v))
      cdcTransitions(v) = on
      on
    }

  /** Commit-file mtimes, resolved lazily ONLY when a commit lacks
    * CommitInfo.timestamp (the batch path's rule, Cdf.scala). Hits are
    * cached; a MISS re-lists the log exactly once per call — one cheap
    * LISTING (commitMtimes does no per-commit CommitInfo reads, unlike the
    * history() replay this used to trigger), never permanently cached as
    * negative: on an eventually-consistent store a commit readable by GET
    * can be momentarily absent from LIST, and a sticky negative entry
    * would wedge the stream past the point where a re-list succeeds. A
    * version still absent after the fresh listing — commit reachable only
    * through a compaction file after log cleanup, its own file gone —
    * fails loudly instead of silently stamping _commit_timestamp
    * epoch-1970. The failing path costs one listing per batch retry; the
    * common (hit) path costs zero. */
  private var mtimeCache: Map[Long, Long] = Map.empty
  private def commitMtime(v: Long): Long = synchronized {
    if (!mtimeCache.contains(v)) mtimeCache = log.commitMtimes()
    CdfRead.mtimeOrFail(v, mtimeCache) // ONE failure rule for both feeds
  }

  /** `_commit_timestamp` for the initial-snapshot leg: same precedence as
    * every per-commit change row — CommitInfo.timestamp of the snapshot
    * version first (the batch feed's rule), commit-file mtime second, and
    * a LOUD failure when neither survives log cleanup. Snapshot.timestampMs
    * silently falls back to 0 there, which stamped every initial-snapshot
    * row epoch-1970 — the exact bug commitMtime throws on for commits. */
  private def snapshotTs(version: Long): Long = {
    // only a VANISHED commit file (log cleanup) may fall through to the
    // mtime rule — a blanket Try also swallowed transient read failures
    // (object-store 5xx), silently stamping rows with an mtime that can
    // disagree with CommitInfo.timestamp after a log copy and diverging
    // this feed from batch loadCdf on identical rows
    val actions =
      try log.readCommit(version)
      catch { case _: java.io.FileNotFoundException => Seq.empty[Action] }
    actions.collectFirst { case ci: graft.kernel.CommitInfo => ci }
      .flatMap(ci => ci.inCommitTimestamp
        .filter(_ => ictFloor.exists(version >= _)).orElse(ci.timestamp))
      .getOrElse(commitMtime(version))
  }

  /** ICT gate memo (same gate as batch CDF / history / time travel —
    * DeltaLog.ictEnablementVersion). Deriving it costs a log listing +
    * metadata replay, so: it is only consulted for commits that actually
    * CARRY inCommitTimestamp (non-ICT tables — everything this engine
    * writes — never pay it), and a positive answer caches for the
    * source's lifetime (the spec stamps the enablement version once and
    * it never moves). A negative answer re-derives on the next
    * field-carrying commit, so mid-stream enablement by a foreign writer
    * is still picked up. */
  private var ictFloorMemo: Option[Option[Long]] = None
  private def ictFloor: Option[Long] = synchronized {
    ictFloorMemo match {
      case Some(f @ Some(_)) => f
      case _ =>
        val f = log.ictEnablementVersion
        ictFloorMemo = Some(f)
        f
    }
  }

  // ---- admission -----------------------------------------------------------

  /** Consumed-up-to marker; recovered from checkpoints via latestOffset's
    * start argument or getBatch's end. */
  private var current: GraftSourceOffset = _
  private var availableNowCap: Option[GraftSourceOffset] = None

  /** (file budget, byte budget) extracted from a ReadLimit. */
  private def budgets(limit: ReadLimit): (Int, Long) = limit match {
    case m: ReadMaxFiles => (m.maxFiles(), Long.MaxValue)
    case b: ReadMaxBytes => (Int.MaxValue, b.maxBytes())
    case _: ReadAllAvailable => (Int.MaxValue, Long.MaxValue)
    case composite: CompositeReadLimit =>
      val ls = composite.getReadLimits.toSeq
      (ls.collectFirst { case m: ReadMaxFiles => m.maxFiles() }.getOrElse(Int.MaxValue),
        ls.collectFirst { case b: ReadMaxBytes => b.maxBytes() }.getOrElse(Long.MaxValue))
    case _ => (Int.MaxValue, Long.MaxValue)
  }

  override def getDefaultReadLimit: ReadLimit = maxBytesPerTrigger match {
    case Some(bytes) if opt("maxFilesPerTrigger").isDefined =>
      ReadLimit.compositeLimit(
        Array(ReadLimit.maxFiles(maxFilesPerTrigger), ReadLimit.maxBytes(bytes)))
    case Some(bytes) => ReadLimit.maxBytes(bytes)
    case None => ReadLimit.maxFiles(maxFilesPerTrigger)
  }

  private var availableNowPending = false

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    // the engine calls this BEFORE restoring checkpointed offsets: with
    // `current` still null, advancing from the ORIGINAL stream start would
    // re-walk the entire processed history on every AvailableNow restart
    // (O(all commits) reads, and a FileNotFound crash once log cleanup
    // removed commits behind the committed offset). Defer the cap to the
    // first latestOffset call, where the restart offset is known — same
    // "everything available at query start" semantics.
    if (current != null) availableNowCap = Some(capAll(current))
    else availableNowPending = true
  }

  /** The end offset of "everything currently available" in O(1): an
    * unbounded advance() admits every unit, so it always lands at
    * (latest, unit-count-at-latest) — walking there version by version
    * parsed AND CACHED the whole backlog's file metadata on the driver
    * before any batch ran, defeating the per-batch-bounded-work design on
    * a large AvailableNow catch-up. Only the LAST version's units are
    * touched (and the next getBatch needs those anyway). */
  private def capAll(from: GraftSourceOffset): GraftSourceOffset = {
    val latest = math.max(log.latestVersion(), initSnapshot.version)
    if (from.version > latest) return from // startingVersion=latest+1: nothing yet
    val init = from.isInitialSnapshot && from.version == latest
    // A guard failure AT the log head (e.g. an un-admitted change commit)
    // must not fail the run before its clean backlog is served — that
    // defeats the advance() deferral contract and leaves an AvailableNow
    // run at zero durable progress forever. A sentinel unit count keeps
    // the cap an upper bound only: the walk drains every admissible unit,
    // those batches commit, and the next admission attempt at the
    // offending commit rethrows loudly with nothing admitted (the run
    // FAILS rather than silently completing short).
    val units = try sizesAt(latest, init, latest).size.toLong
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val cap = GraftSourceOffset(latest, units, init)
    // never behind the consumed position — a cap below `current` would
    // clamp latestOffset BACKWARDS and re-admit already-processed units
    if (GraftSourceOffset.ordering.gt(from, cap)) from else cap
  }

  /** Admission-unit sizes at a position (AddFile.size / change-file size). */
  private def sizesAt(version: Long, isInitial: Boolean, latest: Long): IndexedSeq[Long] =
    if (cdfMode) changesAt(version, isInitial, latest).map(_.size)
    else filesAt(version, isInitial, latest).map(_.size)

  /** Walk forward from `from`, admitting at most `fileBudget` units and
    * (softly) `byteBudget` bytes — the first unit is always admitted so a
    * single file larger than the byte budget cannot stall the stream; empty
    * and skipped commits are passed over for free. */
  private def advance(from: GraftSourceOffset, fileBudget: Int,
      byteBudget: Long, maxVersion: Long = Long.MaxValue): GraftSourceOffset = {
    // maxVersion: an AvailableNow run must not WALK past its own cap —
    // stepping beyond it parses (and guards) commits this run never
    // serves, so a concurrent post-cap change commit would fail a run
    // whose admitted range was entirely clean, and the driver caches a
    // backlog capAll's O(1) design exists to avoid
    val latest = math.min(
      math.max(log.latestVersion(), initSnapshot.version), maxVersion)
    var v = from.version
    var idx = from.index
    var init = from.isInitialSnapshot
    var filesUsed = 0
    var bytesUsed = 0L
    var done = false
    // offset at the last FULLY-ADMITTED version boundary: where the walk
    // retreats to when stepping into the next commit fails its admission
    // guards (see the catch below)
    var boundary = from
    while (!done) {
      val sizes =
        try sizesAt(v, init, latest)
        catch {
          // Stepping into the NEXT commit is for admission only: a commit
          // that fails the guards there (e.g. a change commit without
          // skipChangeCommits/ignoreChanges) must not kill the stream
          // while a batch budgeted from EARLIER versions is pending —
          // return that batch's boundary offset and let it commit; the
          // next latestOffset starts AT the offending commit with nothing
          // admitted (filesUsed == 0) and rethrows loudly. Same deferral
          // the exact-exhaustion boundary check below provides; partial
          // budgets previously lost it.
          case scala.util.control.NonFatal(e)
              if filesUsed > 0 && idx == 0L && v != from.version =>
            return boundary
        }
      var stopped = false
      while (!stopped && idx < sizes.size) {
        val sz = sizes(idx.toInt)
        if (filesUsed < fileBudget &&
            (filesUsed == 0 || bytesUsed + sz <= byteBudget)) {
          filesUsed += 1; bytesUsed += sz; idx += 1
        } else stopped = true
      }
      // a budget (file OR byte) exhausted EXACTLY at a version boundary
      // must not step into (and parse/guard) the next commit it cannot
      // admit — a change commit there would fail the stream one batch
      // early, before the already-budgeted batch ever ran
      if (stopped || filesUsed >= fileBudget || bytesUsed >= byteBudget)
        done = true
      else if (v < latest) {
        boundary = GraftSourceOffset(v, idx, init)
        v += 1; idx = 0; init = false
      }
      else done = true
    }
    GraftSourceOffset(v, idx, init)
  }

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = synchronized {
    val start = Option(startOffset).map(GraftSourceOffset.from)
    if (current == null) current = start.getOrElse(startBase)
    else start.filter(s => GraftSourceOffset.ordering.gt(s, current))
      .foreach(current = _)
    if (availableNowPending) {
      availableNowCap = Some(capAll(current))
      availableNowPending = false
    }
    val (fileBudget, byteBudget) = budgets(limit)
    var next = advance(current, fileBudget, byteBudget,
      availableNowCap.map(_.version).getOrElse(Long.MaxValue))
    // index-level clamp stays as defense (the version bound above keeps
    // the walk from ever parsing past the cap)
    availableNowCap.filter(c => GraftSourceOffset.ordering.gt(next, c))
      .foreach(next = _)
    current = next
    next
  }

  override def getOffset: Option[OffsetV1] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  // fresh-by-engine-contract: overwrite replaces a stale different-spec pin
  // that the construction-time persist could not (e.g. its best-effort write
  // failed) — a no-overwrite persist would silently no-op on the
  // existing file and leave the poisoned resolution in place
  override def initialOffset(): OffsetV2 =
    readPersistedStart().getOrElse {
      val b = baseOffset; persistStart(b); b
    }

  override def deserializeOffset(json: String): OffsetV2 = GraftSourceOffset.fromJson(json)

  // ---- batch materialization ----------------------------------------------

  /** Units admitted in (start, end] across the version timeline. */
  private def unitsBetween[T](at: (Long, Boolean, Long) => IndexedSeq[T])(
      start: GraftSourceOffset, end: GraftSourceOffset): Seq[T] = {
    // `end` was ADMITTED, so everything strictly before it provably exists —
    // a lagging (eventually-consistent) listing must not re-bound the range
    // and silently drop admitted files. end.version itself is only proven
    // when units were admitted AT it (index > 0); with index 0 the version
    // may not have been committed at all (e.g. a startingVersion=latest
    // base offset pointing one past the log)
    val provenLatest = if (end.index > 0) end.version else end.version - 1
    val latest = math.max(math.max(log.latestVersion(), initSnapshot.version),
      provenLatest)
    val out = Seq.newBuilder[T]
    var v = start.version
    var init = start.isInitialSnapshot
    while (v <= end.version) {
      val units = at(v, init, latest)
      // an admitted offset indexing PAST the units this replay computes
      // means the admission options changed across a restart (commits are
      // immutable, so the unit list at a version is a pure function of
      // the options): truncating silently would drop WAL-admitted rows
      if (v == end.version && !end.isInitialSnapshot && end.index > units.size)
        throw new IllegalStateException(
          s"graft-delta source: checkpointed offset admits ${end.index} " +
            s"unit(s) at version $v but the current options yield only " +
            s"${units.size} — skipChangeCommits/ignoreChanges/ignoreDeletes " +
            "changed across a restart, which re-means recorded offsets. " +
            "Restore the original options or start a fresh checkpoint.")
      val lo = if (v == start.version && init == start.isInitialSnapshot) start.index else 0L
      val hi = if (v == end.version) math.min(end.index, units.size.toLong) else units.size.toLong
      if (lo < hi) out ++= units.slice(lo.toInt, hi.toInt)
      if (init && v == end.version && end.isInitialSnapshot) return out.result()
      if (init) init = false
      v += 1
    }
    out.result()
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endOff = GraftSourceOffset.from(end)
    // start=None replays batch 0 after a checkpoint restart. The ORIGINAL
    // stream start is read back from the persisted resolution under the
    // checkpoint metadata dir — exact for every startingVersion shape,
    // including "latest". Checkpoints from before the start was persisted
    // fall back to reconstructing from the PINNED end offset (never from
    // this new instance's baseOffset: the table may have advanced, and a
    // base beyond `end` would materialize batch 0 as empty while its offset
    // commits — permanent data loss). The fallback is exact for the
    // initial-snapshot and numeric-startingVersion shapes; for
    // startingVersion=latest it recovers end.version, which can still drop
    // units from versions in (originalBase, end.version) — hence the
    // persisted file.
    val startOff = start.map(o => GraftSourceOffset.from(o))
      .orElse(readPersistedStart().filterNot(GraftSourceOffset.ordering.gt(_, endOff)))
      .getOrElse {
        val base = baseOffset
        if (GraftSourceOffset.ordering.gt(base, endOff))
          GraftSourceOffset(endOff.version, 0, endOff.isInitialSnapshot)
        else base
      }
    synchronized {
      if (current == null || GraftSourceOffset.ordering.lt(current, endOff))
        current = endOff
    }
    val batch =
      if (cdfMode)
        CdfRead.legsFor(spark, cdfTable, initSnapshot.metadata,
          unitsBetween(changesAt)(startOff, endOff)
            .map(u => (u.kind, u.relPath, u.pv, u.size, u.version, u.ts)))
      else
        Scan.readFiles(spark, initSnapshot, unitsBetween(filesAt)(startOff, endOff))
    GraftSqlBridge.streamingDataFrame(batch)
  }

  override def commit(end: OffsetV1): Unit = synchronized {
    val e = GraftSourceOffset.from(end)
    versionFiles.keys.filter(_._1 < e.version).toSeq.foreach(versionFiles.remove)
    versionChanges.keys.filter(_._1 < e.version).toSeq.foreach(versionChanges.remove)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftDeltaSource[$tablePath]"
}

object GraftDeltaSource {
  private[streaming] val logger = org.slf4j.LoggerFactory.getLogger("graft.streaming")

  /** Table schema + the three CDF provenance columns — delegated to the
    * batch side's single definition. */
  def cdfSchema(base: StructType): StructType = CdfRead.cdfSchema(base)

  /** Parse a byte-size option: plain bytes or a k/m/g suffix (optionally
    * followed by 'b'), e.g. "10485760", "64k", "10mb", "1g". */
  private[graft] def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase(java.util.Locale.ROOT).stripSuffix("b")
    val (digits, mult) = t.lastOption match {
      case Some('k') => (t.dropRight(1), 1L << 10)
      case Some('m') => (t.dropRight(1), 1L << 20)
      case Some('g') => (t.dropRight(1), 1L << 30)
      case _ => (t, 1L)
    }
    val n = digits.trim.toLong
    require(n > 0, s"maxBytesPerTrigger must be positive: '$s'")
    require(n <= Long.MaxValue / mult,
      s"maxBytesPerTrigger overflows a 64-bit byte count: '$s'")
    n * mult
  }
}

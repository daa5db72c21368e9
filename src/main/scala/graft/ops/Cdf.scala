package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.kernel._
import graft.table.{DeltaTable, LogFileIndex, Scan}

/**
 * Change Data Feed read — the change stream between two versions as a union
 * of THREE batched legs (delta-rs `operations/load_cdf.rs:47`; CDF schema
 * columns `delta_datafusion/cdf/mod.rs:16-42`):
 *
 *  - `cdc` files written by DML under `_change_data/` read as-is (they
 *    already carry `_change_type`);
 *  - commits without cdc actions contribute their `add(dataChange)` files
 *    as `_change_type='insert'` and their `remove(dataChange)` files as
 *    `'delete'` (reading the still-present removed file).
 *
 * Scale shape: each leg is ONE parquet scan over all its files regardless
 * of how many commits the range spans; `_commit_version`/`_commit_timestamp`
 * ride the [[LogFileIndex]] as per-file partition values, mirroring the
 * reference's three ParquetSource legs (load_cdf.rs ~480). A 1,000-version
 * range analyzes as 3 scans, not 1,000 union branches.
 */
object CdfRead {

  def load(table: DeltaTable, startingVersion: Long, endingVersion: Option[Long]): DataFrame = {
    require(startingVersion >= 0,
      s"loadCdf: startingVersion must be >= 0, got $startingVersion")
    val spark = table.spark
    val log = table.deltaLog
    val latest = log.latestVersion()
    val end = endingVersion.getOrElse(latest)
    // fail loudly on invalid ranges instead of returning a silent empty
    // feed (delta-rs/delta-spark error semantics — an incremental consumer
    // reading "no changes" for a typo'd version silently skips data). The
    // ONE legal empty range is the canonical ending == starting - 1
    // sentinel (loadBetweenTimestamps' allowOutOfRange path emits it).
    val canonicalEmpty = endingVersion.contains(startingVersion - 1)
    if (!canonicalEmpty) {
      endingVersion.foreach(e => require(e >= startingVersion,
        s"loadCdf: endingVersion $e < startingVersion $startingVersion"))
      require(startingVersion <= latest,
        s"loadCdf: startingVersion $startingVersion is beyond the latest " +
          s"version $latest")
      // symmetric with the start-side check: without it an out-of-range
      // ending surfaced as snapshotAt's time-travel error from deep inside
      // snapshot loading — loud but misdiagnosable
      endingVersion.foreach(e => require(e <= latest,
        s"loadCdf: endingVersion $e is beyond the latest version $latest"))
    }
    // schema/partitioning/column-mapping must come from a snapshot AT or
    // AFTER the range end: `end` is resolved from a FRESH listing, so a
    // stale handle would read commits newer than the schema it decodes
    // them with (an external ADD COLUMNS + data commit in the gap would
    // silently drop the new column). The cached snapshot is reused when it
    // already covers `end` — including the allowOutOfRange empty-feed case
    // where `end` can resolve below 0 and is not a replayable version.
    val snapshot =
      if (end <= table.snapshot.version) table.snapshot else log.snapshotAt(end)
    // Change data is only well-defined while `delta.enableChangeDataFeed`
    // is set: without it DML rewrites carry no CDC files and synthesizing
    // legs from add/remove actions would misreport rescued rows as changes
    // (delta-rs load_cdf errors outside enabled ranges). The gate must test
    // the metadata in effect AT THE RANGE START, not just the current
    // snapshot — a range predating enablement has no recorded change data.
    def enabledError = new IllegalStateException(
      "Change Data Feed is not enabled on this table for the requested " +
      "range (set delta.enableChangeDataFeed=true before the range start)")
    // The gate tests enablement AT THE RANGE START (and the unit loop below
    // tracks it through the range) — NOT the current snapshot: a historical
    // range whose change data is fully recorded stays readable after CDC is
    // later disabled (delta-spark semantics), and an out-of-range request
    // (allowOutOfRange) yields the promised empty feed instead of throwing.
    // reuses the listing above — a second latestVersion() here was an
    // extra billable LIST round-trip on every poll-loop call
    if (end >= startingVersion && startingVersion >= 0 &&
        startingVersion <= latest &&
        // metadata-only: this gate reads one boolean from the
        // range-start metadata; materializing the full Add index here
        // multiplied billable LISTs/reads on every poll-loop call
        !Dml.cdcEnabled(log.metadataSnapshotAt(startingVersion)))
      throw enabledError

    // gather per-commit change units via the shared classifier, tracking
    // enablement THROUGH the range: a mid-range disable window carries no
    // recorded change data, and synthesizing legs for its data-changing
    // commits would misreport copied rows as changes
    var cdcOn = true // proven enabled at range start by the gate above
    // commit-file mtimes, resolved lazily ONLY when a commit lacks
    // CommitInfo.timestamp: loadBetweenTimestamps resolves the range with
    // the same mtime fallback, so the emitted _commit_timestamp must use
    // it too — a 0 (epoch-1970) fallback put rows inside the requested
    // window with a timestamp outside it. One log LISTING (no per-commit
    // CommitInfo reads), same rule as the streaming feed's commitMtime:
    // the two feeds must agree, including on the failure mode
    lazy val mtimes: Map[Long, Long] = log.commitMtimes()
    // the ICT gate is consulted only for commits that actually CARRY the
    // field (non-ICT tables — everything this engine writes — never force
    // it), and derived from the range-end snapshot already in hand: no
    // extra metadata replay per load (streaming's ictFloorMemo analogue)
    lazy val ictFloor = log.ictEnablementVersionOf(snapshot)
    val units = (startingVersion to end).flatMap { v =>
      val actions = log.readCommit(v)
      actions.collectFirst { case m: graft.kernel.Metadata => m }.foreach { m =>
        cdcOn = m.configuration.get("delta.enableChangeDataFeed")
          .exists(_.trim.equalsIgnoreCase("true"))
      }
      val carriesIct = actions.collectFirst { case ci: CommitInfo => ci }
        .exists(_.inCommitTimestamp.isDefined)
      val (ts0, us) = changeUnitsOf(actions, v,
        carriesIct && ictFloor.exists(v >= _))
      val ts = if (ts0 != 0L || us.isEmpty) ts0 else mtimeOrFail(v, mtimes)
      if (!cdcOn && us.nonEmpty)
        throw new IllegalStateException(
          s"Change Data Feed was disabled at or before version $v inside " +
          s"the requested range [$startingVersion, $end] — changes in the " +
          "disabled window were not recorded")
      us.map { case (kind, path, pv, size) => (kind, path, pv, size, v, ts) }
    }
    legsFor(spark, table, snapshot.metadata, units)
  }

  /** One commit's actions classified into CDF change units:
    * (tsMs, Seq[(kind ∈ cdc|insert|delete, relPath, partitionValues,
    * sizeBytes)]) — size feeds the streaming source's byte-based admission.
    * Single source of truth for the CDC-vs-synthesized rules — the batch
    * load and the streaming source (`readChangeFeed`) both call this, so
    * their feeds cannot diverge. */
  private[graft] def changeUnitsOf(
      actions: Seq[graft.kernel.Action],
      version: Long,
      ictActive: Boolean): (Long, Seq[(String, String, Map[String, String], Long)]) = {
    // inCommitTimestamp is authoritative when the version is inside the ICT
    // enablement window (DeltaLog.ictEnablementVersion — the same gate as timestamp
    // resolution; a rogue commit carrying the field on a non-ICT table must
    // not stamp its rows differently than history()/time-travel see it);
    // mtime and even CommitInfo.timestamp can disagree after a log copy
    val ts = actions.collectFirst { case ci: CommitInfo => ci }
      .flatMap(ci => (if (ictActive) ci.inCommitTimestamp else None)
        .orElse(ci.timestamp)).getOrElse(0L)
    val cdcFiles = actions.collect { case c: AddCDCFile => c }
    val units =
      if (cdcFiles.nonEmpty) cdcFiles.map(c => ("cdc", c.path, c.partitionValues, c.size))
      else actions.collect {
        case a: AddFile if a.dataChange =>
          // synthesized legs read files raw; a DV'd add (e.g. RESTORE onto
          // a masked state) would misreport masked rows as inserts
          if (a.deletionVector.exists(_.cardinality > 0))
            throw new IllegalStateException(
              s"CDF cannot synthesize changes for DV-masked file ${a.path} " +
              s"at version $version (no CDC files in that commit)")
          ("insert", a.path, a.partitionValues, a.size)
        case r: RemoveFile if r.dataChange =>
          if (r.deletionVector.exists(_.cardinality > 0))
            throw new IllegalStateException(
              s"CDF cannot synthesize changes for DV-masked file ${r.path} " +
              s"at version $version (no CDC files in that commit)")
          ("delete", r.path, r.partitionValues.getOrElse(Map.empty),
            r.size.getOrElse(0L))
      }
    (ts, units)
  }

  /** THE commit-mtime fallback rule, shared by the batch feed above and the
    * streaming source's commitMtime — the two feeds must agree on
    * `_commit_timestamp` INCLUDING the failure mode, and that parity is
    * structural only if both route through one definition: a commit whose
    * CommitInfo lacks the optional timestamp is stamped with its file's
    * mtime, and a commit whose file is no longer listable (log cleanup
    * after compaction) fails loudly rather than stamping epoch-1970. */
  private[graft] def mtimeOrFail(v: Long, mtimes: Map[Long, Long]): Long =
    mtimes.getOrElse(v,
      throw new IllegalStateException(
        s"CDF: commit $v has no CommitInfo.timestamp and its commit file " +
          "is no longer listable (log cleanup after compaction?) — " +
          "cannot derive _commit_timestamp for its change rows"))

  /** The CDF output schema: table schema + provenance columns. */
  def cdfSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField(Dml.CDC_COL, org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_commit_timestamp", org.apache.spark.sql.types.TimestampType)))

  /** Assemble the three legs from classified change units
    * (kind, rel path, partitionValues, size, version, tsMs). */
  private[graft] def legsFor(
      spark: SparkSession,
      table: DeltaTable,
      meta: Metadata, // metadata AT the range end (the handle's may be stale)
      units: Seq[(String, String, Map[String, String], Long, Long, Long)]): DataFrame = {
    val legs: Seq[DataFrame] = Seq("cdc" -> None, "insert" -> Some("insert"),
      "delete" -> Some("delete")).flatMap { case (kind, ct) =>
      legDf(spark, table, meta,
        units.collect { case (k, path, pv, size, v, ts) if k == kind => (path, pv, size, v, ts) },
        changeType = ct)
    }
    if (legs.isEmpty) Scan.emptyDf(spark, cdfSchema(meta.schema))
    else legs.reduce(_.unionByName(_))
  }

  /** Resolve a timestamp range to versions (load_cdf.rs:102-126 semantics:
    * start = first commit with ts ≥ start, end = last commit with ts ≤ end).
    * With `allowOutOfRange`, an empty window yields an empty feed instead of
    * erroring. */
  def loadBetweenTimestamps(
      table: DeltaTable,
      startTsMs: Long,
      endTsMs: Option[Long],
      allowOutOfRange: Boolean = false): DataFrame = {
    // resolve the range against THE shared resolution sequence
    // (DeltaLog.resolvedCommitTimestamps — gated ICT inside the enablement
    // window, monotonic-clamped mtimes outside): a CDF window and a
    // time-travel on the same target must pin the same versions. The
    // emitted _commit_timestamp stays the per-commit recorded value
    // (changeUnitsOf), which on a clamped non-monotonic log can differ
    // from the resolution value — same trade delta-spark makes
    // (DeltaHistoryManager resolves, CommitInfo stamps).
    val versionsTs = table.deltaLog.resolvedCommitTimestamps()
    val startV = versionsTs.find(_._2 >= startTsMs).map(_._1)
    val endV = endTsMs.map(e => versionsTs.filter(_._2 <= e).map(_._1))
      .map(vs => if (vs.isEmpty) -1L else vs.max)
    (startV, endV) match {
      case (Some(s), Some(e)) if e >= s => load(table, s, Some(e))
      case (Some(s), None) => load(table, s, None)
      case _ if allowOutOfRange =>
        load(table, 0, Some(-1)) // empty range → empty feed (schema preserved)
      case _ => throw new IllegalArgumentException(
        s"No commits in timestamp range [$startTsMs, $endTsMs]; " +
        "pass allowOutOfRange=true for an empty feed")
    }
  }

  /** One leg: a single parquet scan over `files`, whose commit provenance
    * is each file's partition row in the index. A rel path re-added at two
    * versions in one leg (RESTORE re-adds a file removed earlier in the
    * range, dataChange=true, no CDC) is listed once per version. */
  private[graft] def legDf(
      spark: SparkSession,
      table: DeltaTable,
      meta: Metadata,
      files: Seq[(String, Map[String, String], Long, Long, Long)], // (rel path, partVals, size, version, tsMs)
      changeType: Option[String]): Option[DataFrame] = {
    if (files.isEmpty) return None
    // the RESOLVED range-end metadata, not table.snapshot's: a stale
    // handle whose cache predates a column-mapping enablement would read
    // physically-named files with logical names (every mapped column NULL)
    val layout = new Scan.FileLayout(meta)
    // RemoveFile.partitionValues is OPTIONAL per the protocol (foreign
    // writers omit it) — on a partitioned table a missing map would stamp
    // every partition column NULL in this leg's rows, silently corrupting
    // provenance an incremental consumer folds. Fail loudly, like the
    // mtime fallback does.
    files.foreach { case (p, pv, _, v, _) =>
      val missing = layout.partitionFields.map(_.name).filterNot(pv.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"CDF: file $p at version $v lacks partitionValues for " +
          s"${missing.mkString(", ")} — cannot derive partition columns " +
          "for its change rows (the remove action omitted them)")
    }
    val raw = layout.relation(spark, table.deltaLog.tablePath.toString,
      files.distinct.map { case (rel, pv, size, v, ts) =>
        LogFileIndex.Entry(rel, size, 0L,
          layout.partitionRow(pv) ++ Seq(Literal(v), Literal(ts * 1000L, TimestampType)))
      },
      extraData =
        if (changeType.isEmpty) Seq(StructField(Dml.CDC_COL, StringType)) else Nil,
      extraPartition = Seq(StructField("_commit_version", LongType),
        StructField("_commit_timestamp", TimestampType)))
    Some(raw.select(layout.columns ++ Seq(
      changeType.map(ct => lit(ct).as(Dml.CDC_COL)).getOrElse(col(Dml.CDC_COL)),
      col("_commit_version"), col("_commit_timestamp")): _*))
  }

}

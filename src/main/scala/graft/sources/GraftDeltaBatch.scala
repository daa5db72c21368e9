package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeleteFromTable, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Batch, Scan => V2Scan}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

import graft.kernel.{DeltaLog, Snapshot}
import graft.table.{DeltaTable, Scan}

/**
 * Batch half of `format("graft-delta")`: a v1 `BaseRelation` so plain
 * `spark.read.format("graft-delta").load(path)` and
 * `df.write.format("graft-delta").mode(...).partitionBy(...).save(path)`
 * work without touching the library API (python/src/lib.rs exposes the same
 * convenience around open_table/write_deltalake).
 *
 * The relation has no scan of its own: [[GraftScanInlining]] replaces it,
 * like the catalog's [[GraftScan]], with the library scan before physical
 * planning.
 */
class GraftDeltaRelation(
    override val sqlContext: SQLContext,
    val snapshot: Snapshot) extends BaseRelation {
  override def schema: StructType = snapshot.schema
}

/** Catalog read of one snapshot's `requiredSchema` columns. It is never
  * executed: [[GraftScanInlining]] substitutes the library scan for it
  * during optimization, so a plan that reaches `toBatch` missed the rule —
  * and fails here instead of reading through a second code path. */
case class GraftScan(snapshot: Snapshot, requiredSchema: StructType) extends V2Scan {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = throw new IllegalStateException(
    s"graft scan of ${snapshot.tablePath} reached physical planning: " +
      "GraftScanInlining is not registered in this session's optimizer")
}

/**
 * The one read path for SQL over graft tables (delta-rs's
 * `DeltaTableProvider` shape, `table_provider/next/mod.rs:728-768`): each
 * catalog scan ([[GraftScan]]) and `format("graft-delta")` relation is
 * replaced by the analyzed plan of `Scan.readFiles` over the files that
 * survive stats/partition pruning with the query's own resolved filters.
 * The outer query then plans Spark's file scan over a
 * [[graft.table.LogFileIndex]] directly — columnar parquet reads,
 * partition and data-filter pushdown, log file sizes for join selection,
 * one codegen pass — while DV masks and column mapping keep coming from
 * `Scan.readFiles`. The rule leaves the filter constants as literals:
 * it is the planner strategy [[graft.table.GraftScanPlanning]], not this
 * rule, that turns them into codegen parameters in the physical plan.
 *
 * Registered once per session (`GraftSqlBridge.registerOptimization`) by
 * `GraftCatalog.initialize` and `GraftDeltaDataSource`'s batch read; it runs
 * in the optimizer's last batch ("User Provided Optimizers"), after Spark
 * has pushed the filters and pruned the columns of the scan it replaces.
 * That is also after Spark's `PartitionPruning` batch, so the inlined scan
 * gets no dynamic partition pruning filter.
 *
 * A global row count over an unfiltered leaf (`count(*)`, `count(1)`,
 * `Dataset.count()`) is answered from the log instead (delta-rs
 * `DeltaTable.count()`, `python/deltalake/table.py:584-604`): the aggregate
 * becomes a one-row `LocalRelation` holding the leaf snapshot's
 * [[Snapshot.approxNumRecords]], which Spark plans as a `LocalTableScanExec`
 * that runs no job. It needs every live Add to carry `numRecords`; a filter,
 * a grouping key, any other aggregate or a file without stats falls through
 * to the scan.
 */
object GraftScanInlining extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: DeleteFromTable => plan // its relation names the target, not a read
    case _ => plan.transformWithSubqueries {
      case agg @ LogRowCount(n) =>
        LocalRelation(agg.output, Seq(InternalRow.fromSeq(agg.output.map(_ => n))))
      case op @ ScanOperation(_, _, filters, leaf @ GraftLeaf(snap)) =>
        val read = inline(leaf, snap, filters)
        op.transformUp { case l if l eq leaf => read }
    }
  }

  private object GraftLeaf {
    def unapply(leaf: LogicalPlan): Option[Snapshot] = leaf match {
      case r: DataSourceV2ScanRelation => r.scan match {
        case s: GraftScan => Some(s.snapshot)
        case _ => None
      }
      case r: LogicalRelation => r.relation match {
        case g: GraftDeltaRelation => Some(g.snapshot)
        case _ => None
      }
      case _ => None
    }
  }

  /** The live row count answering `agg`: every output is a plain `count`
    * of a non-null literal, with no grouping, over a graft leaf under no
    * filter, and the leaf's snapshot knows every file's row count. */
  private object LogRowCount {
    def unapply(agg: Aggregate): Option[Long] = agg.child match {
      case ScanOperation(_, Nil, Nil, GraftLeaf(snap))
          if agg.groupingExpressions.isEmpty && agg.aggregateExpressions.forall(isRowCount) =>
        snap.approxNumRecords
      case _ => None
    }

    private def isRowCount(e: NamedExpression): Boolean = e match {
      case Alias(AggregateExpression(Count(Seq(l: Literal)), _, false, None, _), _) =>
        l.value != null
      case _ => false
    }
  }

  /** The pruned library scan, projected to `leaf`'s columns under `leaf`'s
    * expression ids so the plan above binds to it unchanged. */
  private def inline(leaf: LogicalPlan, snap: Snapshot, filters: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    // ScanOperation hands over only deterministic filters, and the pruner
    // fails open on shapes it cannot evaluate; subquery plans stay out of
    // the predicates a lazy snapshot's pruning job broadcasts
    val preds = filters.filterNot(SubqueryExpression.hasSubquery)
    val files = Scan.prunedFiles(snap, preds)
    if (files.isEmpty) return LocalRelation(leaf.output)
    val read = Scan.readFiles(spark, snap, files).queryExecution.analyzed
    val byName = read.output.map(a => a.name -> a).toMap
    Project(leaf.output.map(a => Alias(byName(a.name), a.name)(a.exprId, a.qualifier)), read)
  }
}

object GraftDeltaRelation {

  /** Case-insensitive option lookup — ONE implementation for the read,
    * write, and streaming paths (local copies had already diverged in name
    * only; the streaming sink/source/datasource carried three more). */
  private[graft] def opt(parameters: Map[String, String], key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** Resolve the snapshot for read options (versionAsOf / timestampAsOf). */
  def snapshotFor(spark: SparkSession, path: String,
                  parameters: Map[String, String]): Snapshot = {
    def opt(key: String): Option[String] =
      GraftDeltaRelation.opt(parameters, key)
    val log = new DeltaLog(spark, new Path(path))
    (opt("versionAsOf"), opt("timestampAsOf")) match {
      case (Some(v), None) => log.snapshotAt(v.trim.toLong)
      case (None, Some(ts)) => log.snapshotForTimestamp(parseTsMillis(spark, ts))
      case (None, None) => log.snapshot()
      case _ => throw new IllegalArgumentException(
        "specify at most one of versionAsOf / timestampAsOf")
    }
  }

  /** timestampAsOf parsing: interpreted in the SPARK SESSION timezone (not
    * the JVM default, which java.sql.Timestamp.valueOf would use — a
    * session/JVM mismatch silently time-travels to the wrong version), and
    * date-only strings are accepted like delta-spark. */
  private[graft] def parseTsMillis(spark: SparkSession, ts: String): Long = {
    val t = ts.trim
    // explicit zone/offset wins over the session zone ('...Z', '...+02:00'
    // — forms delta-spark accepts via session-timestamp casting; rejecting
    // them breaks existing job configs on migration)
    try return java.time.OffsetDateTime.parse(t.replace(' ', 'T'))
      .toInstant.toEpochMilli
    catch { case _: java.time.format.DateTimeParseException => }
    val local =
      try java.time.LocalDateTime.parse(t.replace(' ', 'T'))
      catch {
        case _: java.time.format.DateTimeParseException =>
          try java.time.LocalDate.parse(t).atStartOfDay()
          catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"timestampAsOf '$ts' is not 'yyyy-MM-dd[ HH:mm:ss[.S]][+zone]'")
          }
      }
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    local.atZone(zone).toInstant.toEpochMilli
  }

  def writeAndReturnRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame,
      path: String): BaseRelation = {
    def opt(key: String): Option[String] =
      GraftDeltaRelation.opt(parameters, key)
    val partitionBy = parameters.get(DataSourceUtils.PARTITIONING_COLUMNS_KEY)
      .map(DataSourceUtils.decodePartitioningColumns)
      .getOrElse(Nil)
    val modeStr = mode match {
      case SaveMode.Append => "append"
      case SaveMode.Overwrite => "overwrite"
      case SaveMode.ErrorIfExists => "error"
      case SaveMode.Ignore => "ignore"
    }
    // txnAppId/txnVersion (delta-spark option names): run-level idempotent
    // replay for the writer surface — both or neither, version a Long
    val appTxn: Option[(String, Long)] = (opt("txnAppId"), opt("txnVersion")) match {
      case (Some(app), Some(ver)) =>
        val v = scala.util.Try(ver.trim.toLong).getOrElse(throw
          new IllegalArgumentException(s"txnVersion must be a long, got '$ver'"))
        Some((app, v))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "txnAppId and txnVersion must be set together — one without the " +
          "other cannot identify a replayable transaction")
    }
    val t = DeltaTable.write(sqlContext.sparkSession, data, path,
      mode = modeStr,
      partitionBy = partitionBy,
      replaceWhere = opt("replaceWhere"),
      mergeSchema = opt("mergeSchema").exists(_.equalsIgnoreCase("true")),
      overwriteSchema = opt("overwriteSchema").exists(_.equalsIgnoreCase("true")),
      appTxn = appTxn)
    new GraftDeltaRelation(sqlContext, t.snapshot)
  }
}

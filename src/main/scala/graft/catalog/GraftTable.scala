package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualNullSafe => CEqualNullSafe, EqualTo => CEqualTo, Expression, GreaterThan => CGreaterThan, GreaterThanOrEqual => CGreaterThanOrEqual, In => CIn, IsNotNull => CIsNotNull, IsNull => CIsNull, LessThan => CLessThan, LessThanOrEqual => CLessThanOrEqual, Literal, Not => CNot, Or => COr}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Scan => V2Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.kernel.Snapshot
import graft.sources.GraftScan
import graft.table.DeltaTable

/**
 * DataSourceV2 `Table` over a graft Delta table, used by [[GraftCatalog]]
 * so the full SQL surface (`SELECT`/`INSERT INTO`/`INSERT OVERWRITE`/
 * `DELETE FROM`/`TRUNCATE`/CTAS/time travel) works through `spark.sql`
 * with no library API calls.
 *
 * Reads are planned by the library's own scan: `newScanBuilder` yields a
 * [[GraftScan]] of the pushed-down columns, and the `GraftScanInlining`
 * optimizer rule (registered by [[GraftCatalog]]) replaces it with the
 * pruned `Scan.readFiles` plan, so Spark plans its native parquet file scan
 * with the query's filters and real file-size statistics. Writes bridge to
 * `DeltaTable.write` through the public `V1Write` connector interface.
 */
class GraftTable(
    spark: SparkSession,
    identName: String,
    val path: Path,
    pinned: Option[Snapshot] = None,
    preloaded: Option[DeltaTable] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  // `preloaded`: the DeltaTable the catalog already loaded a snapshot into
  // for this statement — re-resolving here would pay another log listing.
  private[catalog] lazy val delta: DeltaTable =
    preloaded.getOrElse(DeltaTable.forPath(spark, path.toString))

  private def snapshot: Snapshot = pinned.getOrElse(delta.snapshot)

  override def name(): String = identName

  override def schema(): StructType = snapshot.schema

  override def partitioning(): Array[Transform] =
    snapshot.partitionColumns.map(c => Expressions.identity(c)).toArray

  override def properties(): util.Map[String, String] = {
    val m = snapshot.metadata
    (m.configuration ++
      m.description.map(TableCatalog.PROP_COMMENT -> _) +
      (TableCatalog.PROP_PROVIDER -> "graft-delta") +
      ("location" -> path.toString)).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  // ---- read: column pruning here, the scan itself is GraftScanInlining's ----

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val snap = snapshot
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = snap.schema
      override def pruneColumns(requiredSchema: StructType): Unit = {
        // keep the requested top-level set but restore each column's full
        // table type: Spark's nested schema pruning may request s:struct<y>
        // only, while the library scan produces the whole struct — field
        // ordinals bound against the pruned type would read the wrong field
        required = StructType(
          requiredSchema.fieldNames.flatMap(n => snap.schema.find(_.name == n)))
      }
      override def build(): V2Scan = GraftScan(snap, required)
    }
  }

  // ---- write: INSERT INTO (append) / INSERT OVERWRITE (replaceWhere) ----

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder

  private class GraftWriteBuilder extends WriteBuilder with SupportsOverwrite {
    private var mode: String = "append"
    private var replaceWhere: Option[String] = None

    override def overwrite(filters: Array[Filter]): WriteBuilder = {
      mode = "overwrite"
      replaceWhere = filters match {
        case Array() | Array(AlwaysTrue()) => None
        case fs => Some(GraftTable.filtersToSql(fs).getOrElse(
          throw new UnsupportedOperationException(
            s"Cannot translate overwrite filters ${fs.mkString(", ")}")))
      }
      this
    }

    override def truncate(): WriteBuilder = {
      mode = "overwrite"
      replaceWhere = None
      this
    }

    override def build(): Write = new V1Write {
      override def toInsertableRelation: InsertableRelation =
        (data: DataFrame, _: Boolean) => {
          DeltaTable.write(spark, data, path.toString, mode = mode,
            replaceWhere = replaceWhere)
          ()
        }
    }
  }

  // ---- DELETE FROM / TRUNCATE TABLE ----

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftTable.filtersToSql(filters).isDefined || filters.isEmpty

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val pred = filters match {
      case Array() | Array(AlwaysTrue()) => None
      case Array(AlwaysFalse()) => return
      case fs => Some(GraftTable.filtersToSql(fs).getOrElse(
        throw new UnsupportedOperationException(
          s"Cannot translate delete filters ${fs.mkString(", ")}")))
    }
    delta.delete(pred)
  }
}

object GraftTable {

  /** v1 `Filter` conjunction → SQL predicate text (Expression.sql renders
    * standard literals: quoted strings, DATE '...', TIMESTAMP '...').
    * STRICT: any untranslatable node fails the whole conversion, because
    * dropping half of an And widens the predicate — data-destroying for
    * DELETE / replaceWhere. */
  def filtersToSql(filters: Array[Filter]): Option[String] = {
    // filter attribute strings are MULTI-PART when nested pushdown is on:
    // `s.x = 1` on a struct arrives as "s.x" and a top-level column
    // literally named a.b arrives backtick-quoted as "`a.b`";
    // parseAttributeName handles both
    def attr(name: String): Expression =
      UnresolvedAttribute(UnresolvedAttribute.parseAttributeName(name))
    def strict(f: Filter): Option[Expression] = f match {
      case AlwaysTrue() => Some(Literal(true))
      case AlwaysFalse() => Some(Literal(false))
      case And(l, r) => for { a <- strict(l); b <- strict(r) } yield CAnd(a, b)
      case Or(l, r) => for { a <- strict(l); b <- strict(r) } yield COr(a, b)
      case Not(c) => strict(c).map(CNot)
      case EqualTo(a, v) => Some(CEqualTo(attr(a), Literal(v)))
      case EqualNullSafe(a, v) => Some(CEqualNullSafe(attr(a), Literal(v)))
      case GreaterThan(a, v) => Some(CGreaterThan(attr(a), Literal(v)))
      case GreaterThanOrEqual(a, v) => Some(CGreaterThanOrEqual(attr(a), Literal(v)))
      case LessThan(a, v) => Some(CLessThan(attr(a), Literal(v)))
      case LessThanOrEqual(a, v) => Some(CLessThanOrEqual(attr(a), Literal(v)))
      case In(a, vs) => Some(CIn(attr(a), vs.toSeq.map(Literal(_))))
      case IsNull(a) => Some(CIsNull(attr(a)))
      case IsNotNull(a) => Some(CIsNotNull(attr(a)))
      case _ => None
    }
    val parts = filters.toSeq.map(strict)
    if (parts.exists(_.isEmpty) || parts.isEmpty) None
    else Some(parts.flatten.map(p => s"(${p.sql})").mkString(" AND "))
  }
}

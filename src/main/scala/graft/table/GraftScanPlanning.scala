package graft.table

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/**
 * Physical planning of graft file scans with constant-free generated code.
 *
 * Spark writes every primitive literal into the Java source it generates,
 * so two queries that differ only in a key, a date window or a cut-off are
 * two classes, and Janino compiles each one (in local mode twice: on the
 * driver and again in the first task). delta-rs runs its scan on
 * DataFusion's vectorized kernels, which compile nothing per query.
 *
 * For a scan over a [[LogFileIndex]] this strategy delegates to Spark's own
 * `FileSourceStrategy`, so partition pruning, data filters, Parquet
 * pushdown and row-group skipping still see the real [[Literal]]s. It then
 * rewrites the `FilterExec` condition and `ProjectExec` list placed over
 * that scan: a primitive literal that is an operand of a comparison or an
 * item of an `IN` list becomes a [[ScanParameter]], whose generated code
 * reads the value from the class's references. The source, hence the
 * compiled class, is then the same for every value. Literals anywhere else
 * (patterns, scales, format strings; strings and decimals, which Spark
 * already passes by reference) stay as they are. Other sources get `Nil`
 * and plan as before.
 *
 * Registered once per session by [[Scan.FileLayout.relation]], which builds
 * every graft relation (`GraftSqlBridge.registerStrategy`).
 */
object GraftScanPlanning extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, LogicalRelation(r: HadoopFsRelation, _, _, _, _))
        if r.location.isInstanceOf[LogFileIndex] =>
      FileSourceStrategy(plan).map(_.transform {
        case n @ (_: FilterExec | _: ProjectExec) => n.transformExpressionsUp(parameterize)
      })
    case _ => Nil
  }

  /** Turns the inlined literals of a comparison or an `IN` list into
    * parameters. */
  private val parameterize: PartialFunction[Expression, Expression] = {
    case c: BinaryComparison if c.children.exists(isInlined) => c.withNewChildren(c.children.map(param))
    case in: In if in.list.exists(isInlined) => in.copy(list = in.list.map(param))
  }

  private def param(e: Expression): Expression = e match {
    case l: Literal if isInlined(l) => ScanParameter(l)
    case _ => e
  }

  /** A non-null literal of a type whose value Spark writes into the source. */
  private def isInlined(e: Expression): Boolean = e match {
    case Literal(v, t) => v != null && (t match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType |
          DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
    case _ => false
  }
}

/**
 * A comparison constant planned as a codegen parameter: it evaluates to
 * `literal`'s value, but its generated code takes the value from the
 * references array once, into a primitive field, so the source does not
 * depend on it. It is not foldable.
 *
 * Equality and the canonical form are `literal`'s, value included, so
 * exchange and subquery reuse never merge two different constants; it
 * prints as `literal`, so plan strings are those of the literal plan.
 */
case class ScanParameter(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", literal.value)
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

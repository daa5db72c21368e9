package graft.kernel

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Partition-value string codec — serialization rules from delta-rs
 * `crates/core/src/kernel/scalars.rs:58-126` (`ScalarExt::serialize`):
 * plain decimal strings for numerics, `yyyy-MM-dd` for dates,
 * `yyyy-MM-dd HH:mm:ss[.ffffff]` for timestamps, `true|false` for booleans,
 * null encoded as a JSON-null partition value (and
 * `__HIVE_DEFAULT_PARTITION__` in file paths, `crates/core/src/lib.rs:551`).
 */
object PartitionCodec {
  val HIVE_DEFAULT = "__HIVE_DEFAULT_PARTITION__"
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Internal-value (Catalyst) → partition string. */
  def serialize(value: Any, dt: DataType): String = value match {
    case null => null
    case v => dt match {
      case DateType => LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
      case TimestampType | TimestampNTZType =>
        val micros = v.asInstanceOf[Long]
        LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000).toInt, ZoneOffset.UTC).format(tsFmt)
      case BinaryType => new String(v.asInstanceOf[Array[Byte]], "UTF-8")
      case _: DecimalType => v.toString
      case _ => v.toString
    }
  }

  /** Partition string → comparable internal value (see Comparables). */
  def parse(s: String, dt: DataType): Any = {
    if (s == null || s == HIVE_DEFAULT) return null
    dt match {
      case StringType => s
      case IntegerType | LongType | ShortType | ByteType => BigDecimal(s)
      // float/double partition strings mean the BINARY value ("1.1" for a
      // float column IS 1.1f): parse through the column's own type, or an
      // exact-decimal read can never equal the literal's binary repr and
      // equality pruning skips the matching partition. NaN/Infinity throw
      // here (BigDecimal can't hold them) — the caller's Try fails open.
      case FloatType => BigDecimal(s.toFloat.toDouble)
      case DoubleType => BigDecimal(s.toDouble)
      case _: DecimalType => BigDecimal(s)
      case BooleanType => s.toBoolean
      case DateType => LocalDate.parse(s).toEpochDay.toInt
      case TimestampType | TimestampNTZType => parseTsMicros(s)
      case _ => s
    }
  }

  def parseTsMicros(s: String): Long = {
    val norm = s.replace(' ', 'T')
    val ldt =
      if (norm.contains("+") || norm.endsWith("Z"))
        Instant.parse(norm).atOffset(ZoneOffset.UTC).toLocalDateTime
      else LocalDateTime.parse(norm)
    ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
  }
}

/**
 * Driver-side file skipping: evaluate a Catalyst predicate against each
 * file's partition values and min/max/nullCount stats, keeping the file
 * when it MAY contain matching rows. This is the Spark-side analogue of
 * delta-rs `files_matching_predicate`
 * (`crates/core/src/delta_datafusion/mod.rs:267-292`) over the
 * `PruningStatistics` of `kernel/snapshot/log_data.rs:281-380`.
 *
 * Unsupported expression shapes **fail open** (file kept), matching
 * `find_files.rs:719` ("silently disable pruning by failing open") —
 * pruning must never change results, only cost.
 *
 * On an eager snapshot this runs on the driver (no Spark job), so scan
 * planning stays at metadata latency even when the query itself is tiny;
 * the evaluation is O(files × predicate-size) over the in-memory index,
 * the same shape as delta-rs's in-process Arrow evaluation. A lazy
 * snapshot runs the same per-file test in its [[LazyFileIndex]] job.
 */
object StatsPruning {

  /** Per-file parsed stats. */
  case class FileStats(
      numRecords: Option[Long],
      min: Map[String, Any],
      max: Map[String, Any],
      nullCount: Map[String, Long])

  def parseStats(statsJson: String, schema: StructType): FileStats = {
    // BigDecimal parse: json4s' default Double path rounds high-precision
    // DECIMAL(38,x) bounds, making equality skips unsound (the file holding
    // the exact value pruned away). Double/float columns re-round through
    // their own type in jvalueToComparable below.
    val j = JsonMethods.parse(statsJson, useBigDecimalForDouble = true)
    def typed(field: String): Map[String, Any] = j \ field match {
      case JObject(fields) =>
        fields.flatMap { case (name, v) =>
          schema.find(_.name == name).flatMap(f => jvalueToComparable(v, f.dataType))
            .map(name -> _)
        }.toMap
      case _ => Map.empty
    }
    val nulls = j \ "nullCount" match {
      case JObject(fields) => fields.collect {
        case (name, JInt(n)) => name -> n.toLong
        case (name, JLong(n)) => name -> n
      }.toMap
      case _ => Map.empty[String, Long]
    }
    val nr = j \ "numRecords" match {
      case JInt(n) => Some(n.toLong); case JLong(n) => Some(n); case _ => None
    }
    FileStats(nr, typed("minValues"), typed("maxValues"), nulls)
  }

  private def jvalueToComparable(v: JValue, dt: DataType): Option[Any] = (v, dt) match {
    case (JNull | JNothing, _) => None
    case (JString(s), StringType) => Some(s)
    case (JString(s), DateType) => scala.util.Try(LocalDate.parse(s).toEpochDay.toInt).toOption
    case (JString(s), TimestampType | TimestampNTZType) =>
      scala.util.Try(PartitionCodec.parseTsMicros(s)).toOption
    case (JString(s), BinaryType) => Some(s)
    case (JBool(b), BooleanType) => Some(b)
    case (JInt(n), DateType) => Some(n.toInt)
    case (JInt(n), _) => Some(BigDecimal(n))
    case (JLong(n), _) => Some(BigDecimal(n))
    case (JDouble(d), _) => if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
    // double/float bounds must round back through THEIR type: the JSON text
    // "1.1" for a double column means 1.1d (binary), not exact decimal 1.1 —
    // comparing the exact decimal against literalToComparable's binary
    // double skipped files whose rows compare equal in Spark
    case (JDecimal(d), DoubleType) =>
      val x = d.toDouble
      if (x.isNaN || x.isInfinite) None else Some(BigDecimal(x))
    case (JDecimal(d), FloatType) =>
      val f = d.toFloat
      if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
    case (JDecimal(d), _) => Some(d)
    case _ => None
  }

  /** Catalyst literal → comparable value in our internal ordering domain. */
  def literalToComparable(lit: Literal): Option[Any] = {
    if (lit.value == null) return None
    lit.dataType match {
      case StringType => Some(lit.value.toString)
      case IntegerType | LongType | ShortType | ByteType =>
        Some(BigDecimal(lit.value.toString))
      case FloatType =>
        // the EXACT double of the float (stats serialize f.toDouble): going
        // through toString parsed the shortest FLOAT repr as a DOUBLE
        // ("1.1" -> 1.1d != 1.1f widened), so equality pruning skipped
        // files whose rows match
        val f = lit.value.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
      case DoubleType =>
        val d = lit.value.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
      case dt: DecimalType => Some(BigDecimal(lit.value.toString))
      case BooleanType => Some(lit.value.asInstanceOf[Boolean])
      case DateType => Some(lit.value.asInstanceOf[Int])
      case TimestampType | TimestampNTZType => Some(lit.value.asInstanceOf[Long])
      case _ => None
    }
  }

  /** Code-POINT string comparison — matches Spark's UTF8String binary
    * ordering (UTF-8 byte order == code-point order). Java's compareTo is
    * UTF-16 code-UNIT order, which ranks U+E000..U+FFFF ABOVE supplementary
    * characters; pruning with it against byte-ordered parquet bounds can
    * skip files whose rows the query's own filter would match. */
  def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** First `nCp` CODE POINTS of `s` — never splits a surrogate pair. */
  def codePointTake(s: String, nCp: Int): String = {
    var i = 0
    var cp = 0
    while (i < s.length && cp < nCp) {
      i += Character.charCount(s.codePointAt(i))
      cp += 1
    }
    s.substring(0, i)
  }

  def compare(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: String, y: String) => Some(codePointCompare(x, y))
    case (x: Int, y: Int) => Some(x.compareTo(y))
    case (x: Long, y: Long) => Some(x.compareTo(y))
    // NO Int/Long cross cases: in this file's value domains Int is always
    // epoch-DAYS (DateType) and Long epoch-MICROS (TimestampType) — the
    // only way they meet is a domain-changing cast (CAST(ts AS DATE) = d),
    // and numerically comparing days with micros produced provably-wrong
    // Some(false) skips (silent missing rows; wrong DELETEs through the
    // Not branch). Mixed domains must fail OPEN.
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case _ => None
  }

  private case class FileView(
      partitionValues: Map[String, Any], // typed, null allowed
      stats: Option[FileStats])

  /** Extract (columnName, literal, flippedComparison) from a binary
    * comparison. Multi-part attributes (nested fields, `a.b`) fail to None:
    * collapsing them to the LAST part evaluated a nested predicate against
    * an unrelated top-level column of the same name — including whole-file
    * DELETE data loss when that name was a partition column. */
  private def colLit(schema: StructType, l: Expression, r: Expression)
      : Option[(String, Literal, Boolean)] =
    (stripCast(schema, l), stripCast(schema, r)) match {
      case (a: UnresolvedAttribute, lit: Literal) =>
        topLevelName(schema, a).map((_, lit, false))
      case (a: AttributeReference, lit: Literal) => Some((a.name, lit, false))
      case (lit: Literal, a: UnresolvedAttribute) =>
        topLevelName(schema, a).map((_, lit, true))
      case (lit: Literal, a: AttributeReference) => Some((a.name, lit, true))
      case _ => None
    }

  /** Resolve an UnresolvedAttribute to a TOP-LEVEL column name. Single
    * parts pass through. A multi-part name resolves to its last part ONLY
    * when no leading part names a schema field — then the leading parts
    * are table/alias qualifiers (`t.part_col`), not a struct path; if any
    * leading part IS a field the reference is (or may be) a nested field
    * and must fail open (None). */
  private def topLevelName(schema: StructType, a: UnresolvedAttribute): Option[String] =
    a.nameParts match {
      case Seq(one) => Some(one)
      case parts
        if parts.init.forall(p => !schema.fieldNames.contains(p)) &&
          schema.fieldNames.contains(parts.last) => Some(parts.last)
      case _ => None
    }

  /** True iff casting `from` to `to` preserves values EXACTLY under this
    * file's BigDecimal embedding — the only casts safe to strip. A
    * value-changing cast (timestamp→date, long→double, double→float,
    * narrowing decimals) stripped here compared stats in one domain with a
    * literal in another, turning "provably no match" skips into silent
    * missing rows / wrong DELETEs; those now fail OPEN (colLit → None). */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true // int→float ROUNDS
    case (FloatType, DoubleType) => true
    case (f @ (ByteType | ShortType | IntegerType | LongType), d: DecimalType) =>
      val need = f match {
        case ByteType => 3; case ShortType => 5; case IntegerType => 10
        case _ => 19
      }
      d.precision - d.scale >= need
    case (a: DecimalType, b: DecimalType) =>
      b.precision - b.scale >= a.precision - a.scale && b.scale >= a.scale
    case _ => false // long→double/float, ts↔date, string↔*, … : value-changing
  }

  /** Strip only value-preserving casts; FOLD resolved literal casts (the
    * parser's `CAST('2024-01-01' AS DATE)` shape) into a typed literal so
    * common coerced predicates still prune; keep everything else (colLit
    * then fails open on the residual Cast node). */
  private def stripCast(schema: StructType, e: Expression): Expression = e match {
    case c @ Cast(child, to, _, _) =>
      stripCast(schema, child) match {
        case l: Literal =>
          if (widens(l.dataType, to)) l
          else if (c.childrenResolved && c.resolved)
            scala.util.Try(Literal(c.eval(null), to)).getOrElse(c)
          else c
        case a: UnresolvedAttribute =>
          val from = topLevelName(schema, a).flatMap(n => schema.find(_.name == n))
          if (from.exists(f => widens(f.dataType, to))) a else c
        case a: AttributeReference => if (widens(a.dataType, to)) a else c
        case _ => c
      }
    case _ => e
  }

  private def attrName(schema: StructType, e: Expression): Option[String] =
    stripCast(schema, e) match {
      case a: UnresolvedAttribute => topLevelName(schema, a)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }

  /** The snapshot's schema, partition columns and `preds` in the physical
    * domain: log partitionValues and stats keys carry physical names when
    * column mapping is enabled. */
  private def physical(snapshot: Snapshot, preds: Seq[Expression])
      : (StructType, Seq[String], Seq[Expression]) =
    if (ColumnMapping.enabled(snapshot.metadata)) {
      val nm = ColumnMapping.nameMap(snapshot.schema)
      (ColumnMapping.physicalSchema(snapshot.schema),
        snapshot.partitionColumns.map(c => nm.getOrElse(c, c)),
        preds.map(ColumnMapping.toPhysicalPredicate(_, nm)))
    } else (snapshot.schema, snapshot.partitionColumns, preds)

  /** The files of `snapshot` that may match all `preds`, in snapshot order.
    * The snapshot kind decides where this runs: an eager snapshot filters
    * its driver-resident Adds on the driver (a parallel collection, no Spark
    * job); a lazy one evaluates the predicates in a Spark job over its
    * checkpoint parquet, and only survivors reach the driver. */
  def prune(snapshot: Snapshot, preds: Seq[Expression]): Seq[AddFile] = {
    if (preds.isEmpty) return snapshot.allFiles
    snapshot.lazyIndex.filterNot(_.isMaterialized) match {
      case Some(idx) =>
        val (schema, partCols, ps) = physical(snapshot, preds)
        idx.prune(schema, partCols, ps)
      case None =>
        val mayMatch = filePredicate(snapshot, preds)
        snapshot.allFiles.par.filter(mayMatch).seq
    }
  }

  /** Per-file test "may match all `preds`" against `snapshot`, with the
    * column-mapping translation done once, outside the per-file loop. */
  def filePredicate(snapshot: Snapshot, preds: Seq[Expression]): AddFile => Boolean = {
    val (schema, partCols, ps) = physical(snapshot, preds)
    f => fileMayMatchAll(schema, partCols, ps, f)
  }

  /** True iff the file may contain rows satisfying `pred` (fail-open). */
  def fileMayMatch(
      schema: StructType,
      partitionColumns: Seq[String],
      pred: Expression,
      file: AddFile): Boolean =
    fileMayMatchAll(schema, partitionColumns, Seq(pred), file)

  /** Multi-predicate variant: parses the file's stats JSON and partition
    * values ONCE and evaluates every predicate against the shared view —
    * the per-file loops (prune, LazyFileIndex) were paying one json4s
    * parse per (file × predicate). */
  def fileMayMatchAll(
      schema: StructType,
      partitionColumns: Seq[String],
      preds: Seq[Expression],
      file: AddFile): Boolean = {
    // a partition value we cannot parse into the declared type (e.g. "NaN"
    // for a double partition — legal per ScalarExt::serialize) must fail
    // OPEN, not crash the planner: omitted columns evaluate as unknown
    val partVals: Map[String, Any] = partitionColumns.flatMap { c =>
      schema.find(_.name == c).flatMap { f =>
        scala.util.Try(
          PartitionCodec.parse(file.partitionValues.get(c).orNull, f.dataType))
          .toOption.map(c -> _)
      }
    }.toMap
    val stats = file.stats.flatMap(s =>
      scala.util.Try(parseStats(s, schema)).toOption)
    val fv = FileView(partVals, stats)
    val pcs = partitionColumns.toSet
    preds.forall(p => eval(schema, pcs, p, fv).getOrElse(true))
  }

  /** Returns Some(false) = provably no match (skip file); Some(true)/None = keep. */
  private def eval(
      schema: StructType,
      partCols: Set[String],
      pred: Expression,
      fv: FileView): Option[Boolean] = {

    def isPart(c: String) = partCols.contains(c)
    def litCmp(lit: Literal): Option[Any] = literalToComparable(lit)

    /** Exact evaluation on a partition value; None = unknown. */
    def partEval(c: String, lit: Literal, op: Int => Boolean): Option[Boolean] = {
      val v = fv.partitionValues.getOrElse(c, return None)
      if (v == null) return Some(false) // comparison with null is never true
      litCmp(lit).flatMap(l => compare(v, l)).map(op)
    }

    /** Range evaluation on stats; None = unknown (no stats → keep). */
    def statRange(c: String): Option[(Option[Any], Option[Any], Option[Long], Option[Long])] =
      fv.stats.map(s => (s.min.get(c), s.max.get(c), s.nullCount.get(c), s.numRecords))

    def cmpNode(l: Expression, r: Expression,
                partOp: Int => Boolean,
                statKeep: (Option[Any], Option[Any], Any) => Option[Boolean]): Option[Boolean] = {
      colLit(schema, l, r) match {
        case Some((c, lit, flipped)) =>
          val effOp: Int => Boolean = if (flipped) (i: Int) => partOp(-i) else partOp
          if (isPart(c)) partEval(c, lit, effOp)
          else {
            litCmp(lit) match {
              case None => None
              case Some(lv) =>
                statRange(c) match {
                  // cmpNode serves EqualTo ONLY — a symmetric comparison,
                  // so a flipped (lit = col) form needs no stat rewrite.
                  // Asymmetric comparisons go through cmpKeep with explicit
                  // per-direction flip handling; reusing cmpNode for one
                  // would need a REAL flipped-stat rewrite here.
                  case Some((mn, mx, _, _)) => statKeep(mn, mx, lv)
                  case None => None
                }
            }
          }
        case None => None
      }
    }

    def le(a: Any, b: Any): Option[Boolean] = compare(a, b).map(_ <= 0)
    def lt(a: Any, b: Any): Option[Boolean] = compare(a, b).map(_ < 0)
    def ge(a: Any, b: Any): Option[Boolean] = compare(a, b).map(_ >= 0)
    def gt(a: Any, b: Any): Option[Boolean] = compare(a, b).map(_ > 0)

    pred match {
      case Literal(v, BooleanType) => Option(v).map(_.asInstanceOf[Boolean])

      case And(l, r) =>
        (eval(schema, partCols, l, fv), eval(schema, partCols, r, fv)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None
        }

      case Or(l, r) =>
        (eval(schema, partCols, l, fv), eval(schema, partCols, r, fv)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None
        }

      case Not(child) =>
        // Exact negation is only safe for partition-column predicates AND
        // only where SQL three-valued logic collapses to two values. A
        // comparison against a NULL partition value evaluates to NULL (we
        // report it as "no match", Some(false)) — negating that would turn
        // "unknown" into "provably true" and let DELETE/replaceWhere drop
        // whole files whose rows the predicate does NOT match (ADVICE r1).
        // Null-safe operators (IS [NOT] NULL, <=>) are genuinely 2-valued
        // and stay negatable even with NULL partition values.
        attrsOf(schema, child) match {
          case attrs if attrs.nonEmpty && attrs.forall(partCols.contains) =>
            val anyNullPart = attrs.exists(c => fv.partitionValues.get(c).contains(null))
            val nullSafe = child.isInstanceOf[IsNull] ||
              child.isInstanceOf[IsNotNull] || child.isInstanceOf[EqualNullSafe]
            if (anyNullPart && !nullSafe) None
            else eval(schema, partCols, child, fv).map(!_)
          case _ => None
        }

      case EqualTo(l, r) =>
        cmpNode(l, r, _ == 0, (mn, mx, lv) => (mn, mx) match {
          case (Some(a), Some(b)) =>
            for (x <- le(a, lv); y <- ge(b, lv)) yield x && y
          case _ => None
        })

      case EqualNullSafe(l, r) =>
        // `c <=> lit` matches NULLs when lit is NULL — do NOT delegate to
        // EqualTo's null-rejecting semantics (ADVICE r1: scanWhere silently
        // dropped null-partition files).
        colLit(schema, l, r) match {
          case Some((c, lit, _)) =>
            val litIsNull = lit.value == null
            if (isPart(c)) {
              fv.partitionValues.get(c) match {
                case Some(null) => Some(litIsNull)
                case Some(v) =>
                  if (litIsNull) Some(false)
                  else litCmp(lit).flatMap(lv => compare(v, lv)).map(_ == 0)
                case None => None
              }
            } else if (litIsNull) {
              fv.stats.flatMap(s => s.nullCount.get(c).map(_ > 0))
            } else eval(schema, partCols, EqualTo(l, r), fv)
          case None => None
        }

      case LessThan(l, r) =>
        colLit(schema, l, r) match {
          case Some((c, lit, false)) => cmpKeep(c, lit, isPart, fv, _ < 0,
            (mn, lv) => lt(mn, lv), useMin = true)
          case Some((c, lit, true)) => // lit < col  ⇔  col > lit
            cmpKeep(c, lit, isPart, fv, _ > 0, (mx, lv) => gt(mx, lv), useMin = false)
          case None => None
        }

      case LessThanOrEqual(l, r) =>
        colLit(schema, l, r) match {
          case Some((c, lit, false)) => cmpKeep(c, lit, isPart, fv, _ <= 0,
            (mn, lv) => le(mn, lv), useMin = true)
          case Some((c, lit, true)) =>
            cmpKeep(c, lit, isPart, fv, _ >= 0, (mx, lv) => ge(mx, lv), useMin = false)
          case None => None
        }

      case GreaterThan(l, r) =>
        colLit(schema, l, r) match {
          case Some((c, lit, false)) => cmpKeep(c, lit, isPart, fv, _ > 0,
            (mx, lv) => gt(mx, lv), useMin = false)
          case Some((c, lit, true)) =>
            cmpKeep(c, lit, isPart, fv, _ < 0, (mn, lv) => lt(mn, lv), useMin = true)
          case None => None
        }

      case GreaterThanOrEqual(l, r) =>
        colLit(schema, l, r) match {
          case Some((c, lit, false)) => cmpKeep(c, lit, isPart, fv, _ >= 0,
            (mx, lv) => ge(mx, lv), useMin = false)
          case Some((c, lit, true)) =>
            cmpKeep(c, lit, isPart, fv, _ <= 0, (mn, lv) => le(mn, lv), useMin = true)
          case None => None
        }

      case In(value, list) if list.forall(_.isInstanceOf[Literal]) =>
        attrName(schema, value).flatMap { c =>
          val lits = list.map(_.asInstanceOf[Literal])
          val results = lits.map(l => eval(schema, partCols, EqualTo(value, l), fv))
          if (results.exists(_.contains(true))) Some(true)
          else if (results.forall(_.contains(false))) Some(false)
          else None
        }

      case InSet(value, hset) =>
        // NULL set elements ("IN (..., NULL)") can never make the
        // predicate TRUE (3VL: x IN (a, NULL) is true iff x = a, else
        // NULL) — skipping them keeps Some(false) sound AND avoids the
        // .toString NPE that crashed planning against the module's
        // fail-open contract
        attrName(schema, value) match {
          case Some(c) if isPart(c) =>
            fv.partitionValues.get(c) match {
              case Some(null) => Some(false)
              case Some(v: BigDecimal) =>
                // set elements convert through the SAME domain the
                // partition value was parsed in: float/double partition
                // strings round through their binary type, so a
                // toString-exact decimal of a Float element could never
                // equal them (unsound Some(false) on the matching file)
                def elemBd(h: Any): Option[BigDecimal] = h match {
                  case null => None
                  case f: java.lang.Float =>
                    if (f.isNaN || f.isInfinite) None
                    else Some(BigDecimal(f.toDouble))
                  case d: java.lang.Double =>
                    if (d.isNaN || d.isInfinite) None
                    else Some(BigDecimal(d))
                  case other =>
                    scala.util.Try(BigDecimal(other.toString)).toOption
                }
                Some(hset.exists(h => elemBd(h).contains(v)))
              case Some(v) =>
                Some(hset.exists(h => h != null && h.toString == v.toString))
              case None => None
            }
          case Some(c) =>
            // non-partition column: min/max containment per set element —
            // Spark's OptimizeIn rewrites IN-lists above ~10 elements to
            // InSet, and failing open here silently lost ALL file skipping
            // exactly when the point-lookup list grew (an invisible cliff
            // vs the 10-element In form). Elements are Catalyst-internal
            // values; route them through literalToComparable via a typed
            // Literal so string/date/timestamp/decimal domains match the
            // parsed stats. Any unknown element fails open to "may match".
            schema.find(_.name == c).flatMap { f =>
              (fv.stats.flatMap(_.min.get(c)), fv.stats.flatMap(_.max.get(c))) match {
                case (Some(mn), Some(mx)) =>
                  val anyMayMatch = hset.exists { h =>
                    if (h == null) false
                    else scala.util.Try(literalToComparable(Literal(h, f.dataType)))
                      .toOption.flatten match {
                      case Some(lv) =>
                        (for (a <- le(mn, lv); b <- ge(mx, lv)) yield a && b)
                          .getOrElse(true)
                      case None => true
                    }
                  }
                  if (anyMayMatch) None else Some(false)
                case _ => None
              }
            }
          case _ => None
        }

      case IsNull(child) =>
        attrName(schema, child).flatMap { c =>
          if (isPart(c)) fv.partitionValues.get(c).map(_ == null)
          else fv.stats.flatMap(s => s.nullCount.get(c).map(_ > 0))
        }

      case IsNotNull(child) =>
        attrName(schema, child).flatMap { c =>
          if (isPart(c)) fv.partitionValues.get(c).map(_ != null)
          else fv.stats.flatMap { s =>
            for (nc <- s.nullCount.get(c); nr <- s.numRecords) yield nc < nr
          }
        }

      case StartsWith(l, Literal(prefix, StringType)) if prefix != null =>
        attrName(schema, l).flatMap { c =>
          val p = prefix.toString
          if (isPart(c)) fv.partitionValues.get(c).map {
            case null => false
            case v: String => v.startsWith(p)
            case v => v.toString.startsWith(p)
          } else fv.stats.flatMap { s =>
            (s.min.get(c), s.max.get(c)) match {
              case (Some(mn: String), Some(mx: String)) =>
                // CODE-POINT order (parquet's byte order), like every other
                // string bound in this file — UTF-16 String <= misranks
                // supplementary chars vs BMP privates and char-count take()
                // splits surrogate pairs, both of which wrongly pruned
                // files (silent missing rows). Sound rule: a p-prefixed
                // string exists in [min, max] only if p <= max (prefixed
                // strings are >= p) and min's |p|-code-point prefix <= p
                // (else every file string exceeds all p-prefixed ones).
                val nCp = p.codePointCount(0, p.length)
                val mnp = codePointTake(mn, nCp)
                Some(codePointCompare(mnp, p) <= 0 && codePointCompare(p, mx) <= 0)
              case _ => None
            }
          }
        }

      case _ => None // fail open
    }
  }

  private def cmpKeep(
      c: String, lit: Literal, isPart: String => Boolean, fv: FileView,
      partOp: Int => Boolean,
      statCheck: (Any, Any) => Option[Boolean],
      useMin: Boolean): Option[Boolean] = {
    literalToComparable(lit) match {
      case None => None
      case Some(lv) =>
        if (isPart(c)) {
          fv.partitionValues.get(c) match {
            case Some(null) => Some(false)
            case Some(v) => compare(v, lv).map(partOp)
            case None => None
          }
        } else {
          fv.stats.flatMap { s =>
            val bound = if (useMin) s.min.get(c) else s.max.get(c)
            bound.flatMap(b => statCheck(b, lv))
          }
        }
    }
  }

  /** Attribute names as the FULL dotted path: a nested `a.b` must not
    * alias a top-level/partition column `b` — the Not branch and
    * isPartitionOnly treat "all attrs are partition columns" as license
    * for exact evaluation, and the collapsed name turned that into
    * whole-file/metadata-only deletes of rows the predicate never matched. */
  private def attrsOf(schema: StructType, e: Expression): Seq[String] = e.collect {
    case a: UnresolvedAttribute =>
      // qualified top-level refs (t.part_col) resolve like colLit does;
      // genuine nested paths keep the dotted form so the partition-only
      // gates fail CLOSED on them
      topLevelName(schema, a).getOrElse(a.nameParts.mkString("."))
    case a: AttributeReference => a.name
  }

  /** Does the predicate reference only partition columns? (find_files.rs:214-278) */
  def isPartitionOnly(schema: StructType, pred: Expression, partCols: Seq[String]): Boolean = {
    val attrs = attrsOf(schema, pred)
    attrs.nonEmpty && attrs.forall(partCols.contains) && !pred.exists {
      case _: UnresolvedFunction => true
      case _ => false
    }
  }
}

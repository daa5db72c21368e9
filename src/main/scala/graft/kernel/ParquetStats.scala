package graft.kernel

import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Per-file `stats` JSON (`numRecords`/`minValues`/`maxValues`/`nullCount`,
 * field names per delta-rs `kernel/snapshot/stats_projection.rs:26-33`)
 * derived from parquet footer metadata, exactly as the reference does in
 * `crates/core/src/writer/stats.rs:82-130` (`stats_from_parquet_metadata`).
 * String truncation (32 chars, max gets its last char bumped so the bound
 * stays an upper bound) follows `writer/stats.rs:495-560`.
 *
 * Reading a footer is a few KB of IO. A write collects it in the writing
 * task, once each file is closed (`AddFileCommitProtocol.commitTask`), so
 * the driver reads no footer.
 */
object ParquetStats {

  val STRING_PREFIX_LEN = 32

  /** Prefix length that never splits a surrogate pair (a lone high
    * surrogate is invalid UTF-16 — it corrupts the stats JSON and compares
    * unpredictably). */
  private def safePrefixLen(s: String): Int =
    if (s.length <= STRING_PREFIX_LEN) s.length
    else if (Character.isHighSurrogate(s.charAt(STRING_PREFIX_LEN - 1)) &&
      Character.isLowSurrogate(s.charAt(STRING_PREFIX_LEN))) STRING_PREFIX_LEN - 1
    else STRING_PREFIX_LEN

  def truncateMin(s: String): String =
    if (s.length <= STRING_PREFIX_LEN) s else s.take(safePrefixLen(s))

  /** Truncate a max bound upward: take prefix and bump the last char.
    * A bump landing in the surrogate range jumps to U+E000 (still strictly
    * greater in code-point order, and valid UTF-16). */
  def truncateMax(s: String): Option[String] = {
    if (s.length <= STRING_PREFIX_LEN) return Some(s)
    val p = s.take(safePrefixLen(s)).toCharArray
    var i = p.length - 1
    while (i >= 0) {
      if (p(i) < Char.MaxValue) {
        val orig = p(i)
        val bumped = (orig + 1).toChar
        if (!Character.isSurrogate(orig) && !Character.isSurrogate(bumped)) {
          p(i) = bumped
          return Some(new String(p, 0, i + 1))
        } else if (Character.isLowSurrogate(orig) && Character.isLowSurrogate(bumped)) {
          // still the low half of a valid pair — a strictly larger codepoint
          p(i) = bumped
          return Some(new String(p, 0, i + 1))
        } else if (!Character.isSurrogate(orig)) {
          // bumped from BMP into the surrogate block: skip past it
          p(i) = '\uE000'
          return Some(new String(p, 0, i + 1))
        }
        // else: bumping would orphan half of a surrogate pair (a low
        // surrogate \uDFFF bumping to \uE000 would strand its preceding
        // high surrogate) — carry to the previous char; dropping the
        // pair keeps the bound strictly greater
      }
      i -= 1
    }
    None
  }

  /** A reader of `file` whose read options come from `conf`.
    * `ParquetFileReader.open(InputFile)` alone builds them from a fresh
    * Hadoop `Configuration`, which re-reads the default resources on every
    * open and costs more than reading the footer itself. */
  private[graft] def open(conf: Configuration, file: HadoopInputFile): ParquetFileReader =
    ParquetFileReader.open(file, HadoopReadOptions.builder(conf, file.getPath).build())

  /** Row count from a parquet footer alone (checkpoint parts, sidecars). */
  def rowCount(conf: Configuration, file: Path): Long = {
    val reader = open(conf, HadoopInputFile.fromPath(file, conf))
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally reader.close()
  }

  /** Row count + stats JSON for one parquet data file, opened through the
    * caller's status of it so the read costs no further status call.
    * `statsCols`, when set, is the exact (physical-name) column set to
    * collect stats for — the table's `delta.dataSkippingStatsColumns`
    * list — and takes precedence over the positional `numIndexedCols`
    * prefix (reference: crates/core/src/operations/mod.rs:556-592).
    * Columns outside the set simply have no stats entries; pruning fails
    * open on them. */
  def collect(
      conf: Configuration,
      file: FileStatus,
      schema: StructType,
      numIndexedCols: Int = 32,
      statsCols: Option[Set[String]] = None): (Long, String) = {
    val reader = open(conf, HadoopInputFile.fromStatus(file, conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks
      var numRecords = 0L
      // leaf-column accumulators keyed by top-level column name
      val mins = scala.collection.mutable.Map[String, Any]()
      val maxs = scala.collection.mutable.Map[String, Any]()
      val nulls = scala.collection.mutable.Map[String, Long]()
      val broken = scala.collection.mutable.Set[String]()
      val nullsBroken = scala.collection.mutable.Set[String]()

      val indexed: Set[String] = statsCols.getOrElse(
        if (numIndexedCols < 0) schema.fieldNames.toSet
        else schema.fieldNames.take(numIndexedCols).toSet)

      val it = blocks.iterator()
      while (it.hasNext) {
        val block = it.next()
        numRecords += block.getRowCount
        val cols = block.getColumns.iterator()
        while (cols.hasNext) {
          val cc = cols.next()
          val pathParts = cc.getPath.toArray
          if (pathParts.length == 1 && indexed.contains(pathParts(0))) {
            val name = pathParts(0)
            val st = cc.getStatistics
            if (st == null || broken.contains(name)) { broken += name }
            else {
              // getNumNulls returns the -1 sentinel when the writer didn't
              // set it — accumulating that poisons the count and IS NULL
              // pruning would skip files that DO hold nulls. Drop the
              // nullCount for the column (min/max may still be valid).
              if (!st.isNumNullsSet) nullsBroken += name
              else nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
              if (st.hasNonNullValue) {
                val prim = cc.getPrimitiveType
                (decode(st.genericGetMin, prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation, roundUp = false),
                 decode(st.genericGetMax, prim.getPrimitiveTypeName, prim.getLogicalTypeAnnotation, roundUp = true)) match {
                  case (Some(mn), Some(mx)) =>
                    mins(name) = mins.get(name).map(combine(_, mn, keepMin = true)).getOrElse(mn)
                    maxs(name) = maxs.get(name).map(combine(_, mx, keepMin = false)).getOrElse(mx)
                  case _ => broken += name
                }
              } else if (cc.getValueCount - math.max(0L, st.getNumNulls) > 0) {
                // stats object present but min/max OMITTED while the group
                // still holds non-null values — parquet-mr drops min/max for
                // values over its 4KB stats cap. Publishing bounds from the
                // OTHER row groups would prune queries matching only the
                // uncovered values (silent missing rows); mark broken.
                broken += name
              }
            }
          }
        }
      }
      // a column with any statless/undecodable row-group must drop nullCount
      // too: a partial sum (e.g. 0) would make IsNull pruning wrongly skip
      // files that do contain nulls (ADVICE r1)
      broken.foreach { c => mins.remove(c); maxs.remove(c); nulls.remove(c) }
      nullsBroken.foreach(nulls.remove)

      val minJ = JObject(mins.toList.sortBy(_._1).map { case (k, v) => k -> toJValue(v, isMax = false) }
        .collect { case (k, Some(j)) => k -> j })
      val maxJ = JObject(maxs.toList.sortBy(_._1).map { case (k, v) => k -> toJValue(v, isMax = true) }
        .collect { case (k, Some(j)) => k -> j })
      val nullJ = JObject(nulls.toList.sortBy(_._1).map { case (k, v) => k -> JLong(v) })
      val json = JObject(
        "numRecords" -> JLong(numRecords),
        "minValues" -> minJ,
        "maxValues" -> maxJ,
        "nullCount" -> nullJ)
      (numRecords, JsonMethods.compact(JsonMethods.render(json)))
    } finally reader.close()
  }

  // internal tagged values: Long, Double, BigDecimal, String, Boolean,
  // DateVal(days), TsVal(micros)
  private case class DateVal(days: Int)
  private case class TsVal(micros: Long)

  private def decode(v: Any, prim: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
                     logical: LogicalTypeAnnotation, roundUp: Boolean): Option[Any] = {
    prim match {
      case INT32 => logical match {
        case _: DateLogicalTypeAnnotation => Some(DateVal(v.asInstanceOf[Number].intValue()))
        case d: DecimalLogicalTypeAnnotation =>
          Some(BigDecimal(BigInt(v.asInstanceOf[Number].longValue()), d.getScale))
        case _ => Some(v.asInstanceOf[Number].longValue())
      }
      case INT64 => logical match {
        case t: TimestampLogicalTypeAnnotation =>
          val raw = v.asInstanceOf[Number].longValue()
          val micros = t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
            case LogicalTypeAnnotation.TimeUnit.MICROS => raw
            case LogicalTypeAnnotation.TimeUnit.NANOS =>
              // floor for mins, ceil for maxes — truncation toward zero
              // would EXCLUDE real pre-epoch values from the bound range
              // (raw/1000 of -1500ns is -1µs, above the true -2µs floor)
              val q = Math.floorDiv(raw, 1000L)
              if (roundUp && Math.floorMod(raw, 1000L) != 0) q + 1 else q
          }
          Some(TsVal(micros))
        case d: DecimalLogicalTypeAnnotation =>
          Some(BigDecimal(BigInt(v.asInstanceOf[Number].longValue()), d.getScale))
        case _ => Some(v.asInstanceOf[Number].longValue())
      }
      case FLOAT =>
        val f = v.asInstanceOf[Number].floatValue()
        if (f.isNaN) None else Some(f.toDouble)
      case DOUBLE =>
        val d = v.asInstanceOf[Number].doubleValue()
        if (d.isNaN) None else Some(d)
      case BOOLEAN => Some(v.asInstanceOf[Boolean])
      case BINARY => logical match {
        case _: StringLogicalTypeAnnotation =>
          Some(v.asInstanceOf[Binary].toStringUsingUTF8)
        case d: DecimalLogicalTypeAnnotation =>
          Some(BigDecimal(BigInt(v.asInstanceOf[Binary].getBytes), d.getScale))
        case _ => None // raw binary: no stats
      }
      case FIXED_LEN_BYTE_ARRAY => logical match {
        case d: DecimalLogicalTypeAnnotation =>
          Some(BigDecimal(BigInt(v.asInstanceOf[Binary].getBytes), d.getScale))
        case _ => None
      }
      case INT96 => None // legacy timestamps carry no usable stats
    }
  }

  private def combine(a: Any, b: Any, keepMin: Boolean): Any = (a, b) match {
    case (x: Long, y: Long) => if ((x < y) == keepMin) x else y
    case (x: Double, y: Double) => if ((x < y) == keepMin) x else y
    case (x: BigDecimal, y: BigDecimal) => if ((x < y) == keepMin) x else y
    // code-point order, matching parquet's UTF-8-byte row-group bounds and
    // the pruner's comparison (UTF-16 order misranks supplementary chars)
    case (x: String, y: String) =>
      if ((StatsPruning.codePointCompare(x, y) < 0) == keepMin) x else y
    case (x: Boolean, y: Boolean) => if ((!x) == keepMin) x else y // false < true
    case (DateVal(x), DateVal(y)) => if ((x < y) == keepMin) DateVal(x) else DateVal(y)
    case (TsVal(x), TsVal(y)) => if ((x < y) == keepMin) TsVal(x) else TsVal(y)
    case _ => a
  }

  private def toJValue(v: Any, isMax: Boolean): Option[JValue] = v match {
    case x: Long => Some(JLong(x))
    case x: Double => Some(JDouble(x))
    case x: BigDecimal => Some(JDecimal(x))
    case x: String =>
      if (isMax) truncateMax(x).map(JString(_)) else Some(JString(truncateMin(x)))
    case x: Boolean => Some(JBool(x))
    case DateVal(days) => Some(JString(LocalDate.ofEpochDay(days.toLong).toString))
    case TsVal(micros) =>
      val inst = Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L)
      Some(JString(inst.toString))
    case _ => None
  }
}

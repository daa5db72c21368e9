package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Unicode text normalization for corpus cleaning — the standard first stage
 * of an LLM data pipeline (canonical composition so byte-level dedup and
 * shingling see one spelling per grapheme, accent folding for
 * language-insensitive matching). Spark ships no Unicode-normalization
 * function, so this is a native Catalyst expression (not a Scala UDF): the
 * per-row work participates in whole-stage codegen via a static call, the
 * expression is null-safe, and the normalization form is resolved to a
 * constant at plan time.
 *
 * Modes:
 *  - "nfc" / "nfd" / "nfkc" / "nfkd": java.text.Normalizer forms;
 *  - "strip_accents": NFD-decompose, drop combining marks (Mn AND the
 *    spacing/enclosing mark classes Mc/Me — utf8proc's STRIPMARK strips
 *    all three, verified empirically: DuckDB strip_accents('का') = 'क'
 *    drops the Mc vowel sign), recompose — matches DuckDB's
 *    utf8proc-based `strip_accents` on precomposed and combining accents
 *    alike (compatibility characters like the ﬁ ligature are preserved by
 *    both, since NFD is canonical-only; Hangul recomposes identically).
 *
 * Reference has no counterpart (its engine normalizes nothing); parity
 * target is DuckDB's nfc_normalize/strip_accents for the oracle gate.
 */
case class TextNormalize(child: Expression, mode: String)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    // NullType accepted for parity with DuckDB's nfc_normalize(NULL) = NULL
    // (a templated query with a null literal must not abort analysis)
    if (child.dataType != StringType &&
        child.dataType != org.apache.spark.sql.types.NullType)
      TypeCheckResult.TypeCheckFailure(
        s"normalize_text expects a string column, got ${child.dataType.simpleString}")
    else if (!TextNormalize.modes.contains(mode))
      TypeCheckResult.TypeCheckFailure(
        s"normalize_text mode must be one of ${TextNormalize.modes.mkString(", ")}, got '$mode'")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any =
    TextNormalize.apply(input.asInstanceOf[UTF8String], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("mode", mode, "java.lang.String")
    // the companion's MODULE$: Janino resolves a bare
    // `graft.functions.TextNormalize.apply` to the case class (TreeNode.apply)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextNormalize$$.MODULE$$.apply($c, $m)")
  }

  override protected def withNewChildInternal(newChild: Expression): TextNormalize =
    copy(child = newChild)
}

object TextNormalize {

  val modes: Set[String] = Set("nfc", "nfd", "nfkc", "nfkd", "strip_accents")

  private def isMark(cp: Int): Boolean = {
    val t = Character.getType(cp)
    // utf8proc STRIPMARK semantics: Mn + Mc + Me all strip (Mn alone kept
    // Devanagari vowel signs and enclosing marks DuckDB removes)
    t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
      t == Character.ENCLOSING_MARK
  }

  /** Static per-row kernel (called from generated code and eval). */
  def apply(s: UTF8String, mode: String): UTF8String = {
    val in = s.toString
    def form(f: Normalizer.Form): UTF8String =
      // already-normalized fast path (true for virtually all ASCII corpus
      // rows): skip the normalize pass and the String→UTF8String copy;
      // clone() because the input may alias a reused row buffer
      if (Normalizer.isNormalized(in, f)) s.clone()
      else UTF8String.fromString(Normalizer.normalize(in, f))
    mode match {
      case "nfc"  => form(Normalizer.Form.NFC)
      case "nfd"  => form(Normalizer.Form.NFD)
      case "nfkc" => form(Normalizer.Form.NFKC)
      case "nfkd" => form(Normalizer.Form.NFKD)
      case "strip_accents" =>
        // canonical-decompose, drop combining marks, recompose what's left
        val decomposed = Normalizer.normalize(in, Normalizer.Form.NFD)
        var hasMark = false
        var i = 0
        while (i < decomposed.length && !hasMark) {
          val cp = decomposed.codePointAt(i)
          if (isMark(cp)) hasMark = true
          i += Character.charCount(cp)
        }
        if (!hasMark) {
          // nothing to strip: degenerates to plain NFC (NFD∘NFC ≡ NFC) —
          // the isNormalized check still matters (already-decomposed jamo
          // input must recompose even with zero marks)
          if (Normalizer.isNormalized(in, Normalizer.Form.NFC)) s.clone()
          else UTF8String.fromString(Normalizer.normalize(in, Normalizer.Form.NFC))
        } else {
          val sb = new java.lang.StringBuilder(decomposed.length)
          i = 0
          while (i < decomposed.length) {
            val cp = decomposed.codePointAt(i)
            if (!isMark(cp)) sb.appendCodePoint(cp)
            i += Character.charCount(cp)
          }
          UTF8String.fromString(
            Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
        }
      case other =>
        throw new IllegalArgumentException(s"normalize_text: unknown mode '$other'")
    }
  }

  /** Column-level entry point: `normalizeText($"text", "nfc")`. */
  def normalizeText(col: Column, mode: String): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      TextNormalize(org.apache.spark.sql.GraftSqlBridge.expression(col), mode))

  /** Make `normalize_text(col, 'mode')` callable from `spark.sql`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "normalize_text", {
        case Seq(c, m) =>
          val mode = m match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, StringType) =>
              v.toString
            case other => throw new IllegalArgumentException(
              s"normalize_text: mode must be a string literal, got $other")
          }
          TextNormalize(c, mode)
        case exprs => throw new IllegalArgumentException(
          s"normalize_text expects (column, mode), got ${exprs.length} args")
      }, "scala_udf")
}

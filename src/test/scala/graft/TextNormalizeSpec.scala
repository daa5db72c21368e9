package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextNormalize

/** Unicode normalization expression: form semantics, codegen/eval parity,
  * null handling, SQL registration, and analysis-time mode validation. */
class TextNormalizeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test-normalize")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val decomposed = "Nöel"   // o + COMBINING DIAERESIS
  private val composed = "Nöel"      // precomposed ö

  private def run(mode: String, input: String): String = {
    import spark.implicits._
    Seq(input).toDF("t")
      .select(TextNormalize.normalizeText(col("t"), mode).as("n"))
      .collect()(0).getString(0)
  }

  test("nfc composes combining sequences; nfd decomposes them") {
    assert(run("nfc", decomposed) == composed)
    assert(run("nfd", composed) == decomposed)
  }

  test("nfkc folds compatibility characters, nfc preserves them") {
    assert(run("nfkc", "ﬁne") == "fine") // ﬁ ligature
    assert(run("nfc", "ﬁne") == "ﬁne")
  }

  test("strip_accents folds precomposed and combining accents, keeps ligatures") {
    assert(run("strip_accents", "Çafé") == "Cafe")
    assert(run("strip_accents", decomposed) == "Noel")
    assert(run("strip_accents", "ﬁne–x") == "ﬁne–x")
  }

  test("interpreted eval matches codegen") {
    val e = TextNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        decomposed, org.apache.spark.sql.types.StringType), "nfc")
    assert(e.eval(null).toString == composed) // interpreted path directly
    // generate() compiles or throws: a codegen call Janino cannot resolve
    // fails here instead of falling back to interpreted evaluation
    val projected = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateUnsafeProjection.generate(Seq(e)).apply(null)
    assert(projected.getUTF8String(0).toString == composed)
  }

  test("null propagates; SQL registration works; bad mode fails analysis") {
    import spark.implicits._
    val withNull = Seq(Option("a"), None).toDF("t")
      .select(TextNormalize.normalizeText(col("t"), "nfc").as("n")).collect()
    assert(withNull.map(r => Option(r.getString(0))).toSet ==
      Set(Some("a"), None))

    TextNormalize.register(spark)
    Seq(decomposed).toDF("t").createOrReplaceTempView("norm_in")
    assert(spark.sql("SELECT normalize_text(t, 'nfc') AS n FROM norm_in")
      .collect()(0).getString(0) == composed)

    val err = intercept[Exception] {
      Seq("x").toDF("t")
        .select(TextNormalize.normalizeText(col("t"), "bogus")).collect()
    }
    assert(err.getMessage.contains("mode must be one of") ||
      err.getMessage.contains("bogus"))
  }

  test("strip_accents drops Mc/Me marks like utf8proc STRIPMARK; NULL literal analyzes") {
    import spark.implicits._
    // empirically pinned against DuckDB 'strip_accents' on this host:
    //   'का' (Devanagari KA + Mc vowel sign) -> 'क'
    //   'x⃝' (x + U+20DD enclosing circle, Me) -> 'x'
    //   '한' (precomposed Hangul) -> '한'; decomposed jamo recompose
    val rows = Seq("का", "x⃝", "한", "한", "Çafé").toDF("t")
      .select(TextNormalize.normalizeText(col("t"), "strip_accents").as("n"))
      .as[String].collect().toSeq
    assert(rows == Seq("क", "x", "한", "한", "Cafe"), s"got $rows")
    // NULL literal must analyze and return NULL (DuckDB nfc_normalize(NULL))
    TextNormalize.register(spark)
    val nul = spark.sql("SELECT normalize_text(NULL, 'nfc') AS n").collect()(0)
    assert(nul.isNullAt(0))
    // fast path returns an independent copy, not an aliased buffer
    val ascii = Seq("plain ascii", "plain ascii").toDF("t")
      .select(TextNormalize.normalizeText(col("t"), "nfc").as("n"))
      .as[String].collect().toSeq
    assert(ascii == Seq("plain ascii", "plain ascii"))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.CatalogReadSpec.executedNodes
import graft.table.{DeltaTable, ScanParameter}

/** `GraftScanPlanning`: the comparison constants of a graft scan's filter
  * and projection are codegen parameters, so a query that differs from an
  * earlier one only in its constants compiles no class. Results must equal
  * Spark's own Parquet read of the same files in every codegen mode, and
  * two different constants must never share an exchange. */
class ScanCodegenSpec extends AnyFunSuite {

  private val warehouse = Files.createTempDirectory("graft-codegen-wh").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-scan-codegen")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.cg", "graft.catalog.GraftCatalog")
    .config("spark.sql.catalog.cg.warehouse", warehouse)
    .getOrCreate()

  private def sql(q: String): DataFrame = spark.sql(q)
  private def path(table: String) = s"$warehouse/s/$table"

  /** Janino compiles (driver and tasks: one JVM in local mode) while `f` runs. */
  private def compiles(f: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Runs `q(first)` and then `q(second)`: the second, which differs only
    * in its constants, must compile nothing and pass `check`. */
  private def reuses[T](first: T, second: T)(q: T => DataFrame)(check: DataFrame => Unit): Unit = {
    q(first).collect()
    val df = q(second)
    assert(compiles(check(df)) == 0, df.queryExecution.executedPlan.treeString)
  }

  private lazy val orders: Unit = {
    sql("CREATE NAMESPACE IF NOT EXISTS cg.s")
    sql("""CREATE TABLE cg.s.orders (o_orderkey BIGINT, o_custkey BIGINT,
          |o_totalprice DOUBLE, o_status STRING, o_ts TIMESTAMP)""".stripMargin)
    // four appends: four files, so pruning keeps different files per key
    (0 until 4).foreach { i =>
      sql(s"""INSERT INTO cg.s.orders SELECT id, id % 37, id * 1.25,
             |CASE WHEN id % 3 = 0 THEN 'F' ELSE 'O' END,
             |TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, CAST(id AS INT))
             |FROM range(${i * 500}, ${(i + 1) * 500})""".stripMargin)
    }
  }

  test("a catalog point read with a new key compiles no class") {
    orders
    reuses(17L, 1234L)(k => sql(s"SELECT * FROM cg.s.orders WHERE o_orderkey = $k")) { df =>
      val rows = df.collect()
      assert(rows.length == 1 && rows.head.getLong(0) == 1234L)
    }
  }

  test("a catalog Q1-style aggregate with a new timestamp cut compiles no class") {
    orders
    def q1(cut: String) = sql(
      s"""SELECT o_status, count(*) AS n, sum(o_totalprice) AS s,
         |avg(o_totalprice * (1 - o_custkey / 100)) AS a
         |FROM cg.s.orders WHERE o_ts <= TIMESTAMP '$cut'
         |GROUP BY o_status ORDER BY o_status""".stripMargin)
    reuses("2024-01-01 00:20:00", "2024-01-01 00:25:00")(q1) { df =>
      // order id n is stamped at minute n
      assert(df.collect().map(_.getLong(1)).sum == 26)
    }
  }

  test("DeltaTable.toDF, format(graft-delta) and an isin of 8 longs reuse their class") {
    orders
    reuses(100L, 900L)(k => DeltaTable.forPath(spark, path("orders")).toDF
        .filter(col("o_orderkey") > k).agg(sum("o_custkey"), count(lit(1)))) { df =>
      assert(df.head().getLong(1) == 2000 - 901)
    }
    reuses(3L, 30L)(k => spark.read.format("graft-delta").load(path("orders"))
        .where(col("o_custkey") === k).select("o_orderkey")) { df =>
      assert(df.collect().map(_.getLong(0)).forall(_ % 37 == 30))
    }
    def keys(from: Long) = (0 until 8).map(i => from + i * 101L)
    reuses(keys(5), keys(11))(ks => DeltaTable.forPath(spark, path("orders")).toDF
        .where(col("o_orderkey").isin(ks: _*)).select("o_orderkey")) { df =>
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == keys(11))
    }
  }

  test("UPDATE with a new constant: compile counts") {
    orders
    sql("CREATE TABLE cg.s.upd AS SELECT * FROM cg.s.orders")
    val t = DeltaTable.forPath(spark, path("upd"))
    val first = compiles(t.update(Map("o_status" -> lit("X")), Some("o_orderkey = 11")))
    val second = compiles(t.update(Map("o_status" -> lit("Y")), Some("o_orderkey = 1207")))
    info(s"first UPDATE compiled $first classes, the second $second")
    assert(sql("SELECT o_orderkey FROM cg.s.upd WHERE o_status IN ('X', 'Y')")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(11L, 1207L))
  }

  // ---- parity with Spark's own Parquet read, every inlined type -------

  private lazy val typed: Unit = {
    val p = path("typed")
    spark.range(0, 60).selectExpr(
      "id",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id % 2 = 0 END AS c_boolean",
      "CAST(CASE WHEN id % 7 = 1 THEN NULL ELSE id % 5 - 2 END AS TINYINT) AS c_byte",
      "CAST(CASE WHEN id % 7 = 2 THEN NULL ELSE id % 9 - 4 END AS SMALLINT) AS c_short",
      "CAST(CASE WHEN id % 7 = 3 THEN NULL ELSE id % 11 - 5 END AS INT) AS c_int",
      "CASE WHEN id % 7 = 4 THEN NULL ELSE id % 13 - 6 END AS c_long",
      """CAST(CASE id % 8 WHEN 0 THEN NULL WHEN 1 THEN 'NaN' WHEN 2 THEN '-0.0'
        |WHEN 3 THEN '0.0' ELSE CAST(id % 5 - 2.5 AS STRING) END AS FLOAT) AS c_float""".stripMargin,
      """CAST(CASE id % 8 WHEN 0 THEN NULL WHEN 1 THEN 'NaN' WHEN 2 THEN '-0.0'
        |WHEN 3 THEN '0.0' ELSE CAST(id % 5 - 2.5 AS STRING) END AS DOUBLE) AS c_double""".stripMargin,
      "CASE WHEN id % 7 = 5 THEN NULL ELSE DATE '2024-01-01' + CAST(id % 6 AS INT) END AS c_date",
      """CASE WHEN id % 7 = 6 THEN NULL
        |ELSE TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, CAST(id % 6 AS INT))
        |END AS c_timestamp""".stripMargin,
      """CASE WHEN id % 6 = 0 THEN NULL
        |ELSE TIMESTAMP_NTZ '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, CAST(id % 6 AS INT))
        |END AS c_timestamp_ntz""".stripMargin)
      .repartition(3).write.format("graft-delta").save(p)
    DeltaTable.forPath(spark, p).toDF.createOrReplaceTempView("g_typed")
    spark.read.parquet(p).createOrReplaceTempView("p_typed")
  }

  /** Per column, constants (as SQL) that hit data values, fall between
    * them, and cover NaN and both zeros. */
  private val probes: Seq[(String, Seq[String])] = Seq(
    "c_boolean" -> Seq("true", "false"),
    "c_byte" -> Seq("CAST(1 AS TINYINT)", "CAST(-3 AS TINYINT)"),
    "c_short" -> Seq("CAST(2 AS SMALLINT)", "CAST(-7 AS SMALLINT)"),
    "c_int" -> Seq("3", "-9"),
    "c_long" -> Seq("4L", "-20L"),
    "c_float" -> Seq("CAST('NaN' AS FLOAT)", "CAST('-0.0' AS FLOAT)", "CAST(0.5 AS FLOAT)"),
    "c_double" -> Seq("CAST('NaN' AS DOUBLE)", "CAST('-0.0' AS DOUBLE)", "-1.5D"),
    "c_date" -> Seq("DATE '2024-01-03'", "DATE '2023-12-01'"),
    "c_timestamp" -> Seq("TIMESTAMP '2024-01-01 03:00:00'", "TIMESTAMP '2024-01-01 03:30:00'"),
    "c_timestamp_ntz" -> Seq("TIMESTAMP_NTZ '2024-01-01 02:00:00'",
      "TIMESTAMP_NTZ '2030-01-01 00:00:00'"))

  private val ops = Seq("=", "<=>", "<", "<=", ">", ">=")

  /** Each comparison once as a filter (one UNION ALL leg per operator)
    * and once as a projected column. */
  private def parityQueries(view: String, c: String, v: String, other: String): Seq[String] = {
    val legs = ops.map(op => s"SELECT '$op' AS op, id FROM $view WHERE $c $op $v") :+
      s"SELECT 'in' AS op, id FROM $view WHERE $c IN ($v, $other)"
    val cols = ops.zipWithIndex.map { case (op, i) => s"$c $op $v AS o$i" } :+
      s"$c IN ($v, $other) AS o_in"
    Seq(legs.mkString(" UNION ALL "), s"SELECT id, ${cols.mkString(", ")} FROM $view")
  }

  private def rows(q: String): Seq[String] = sql(q).collect().map(_.toString).toSeq.sorted

  private val modes: Seq[(String, Map[String, String])] = Seq(
    "whole-stage codegen" -> Map.empty,
    "expression codegen" -> Map("spark.sql.codegen.wholeStage" -> "false"),
    // NO_CODEGEN binds expression factories only; whole-stage codegen is off too
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](conf: Map[String, String])(f: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((mode, conf) <- modes) {
    test(s"every inlined type and comparison equals the Parquet read ($mode)") {
      typed
      withConf(conf) {
        for ((c, vs) <- probes; v <- vs; q <- parityQueries("g_typed", c, v, vs.head)) {
          val graft = rows(q)
          assert(graft.nonEmpty, q)
          assert(graft == rows(q.replace("g_typed", "p_typed")), s"$mode: $q")
        }
      }
    }
  }

  // ---- reuse guard and scope ------------------------------------------

  private lazy val keyed: DataFrame = {
    val p = path("keyed")
    spark.range(0, 300).selectExpr("id % 3 AS k", "id AS v").repartition(2)
      .write.format("graft-delta").save(p)
    DeltaTable.forPath(spark, p).toDF
  }

  private def run(df: DataFrame): (Seq[String], Seq[SparkPlan]) = {
    val out = df.collect().map(_.toString).toSeq
    (out, executedNodes(df.queryExecution.executedPlan))
  }

  private def reused(plan: Seq[SparkPlan]) = plan.exists(_.isInstanceOf[ReusedExchangeExec])

  test("two different constants never share an exchange; equal ones still do") {
    val df = keyed
    def filtered(k: Int) = df.where(col("k") === k).agg(count(lit(1)))
    def projected(k: Int) = df.select((col("k") === k).as("b")).groupBy("b").count()
    def ordered(d: DataFrame) = d.orderBy(d.columns.map(col): _*)

    val (counts, plan) = run(filtered(1).union(filtered(2)))
    assert(counts.sorted == Seq("[100]", "[100]") && !reused(plan), plan.mkString("\n"))
    val (distinct, plan2) = run(ordered(projected(1).union(projected(4))))
    assert(distinct == Seq("[false,200]", "[false,300]", "[true,100]"), plan2.mkString("\n"))
    assert(!reused(plan2), plan2.mkString("\n"))

    // positive control: the same constant twice is one exchange, reused
    val (same, plan3) = run(projected(1).union(projected(1)))
    assert(same.sorted == Seq("[false,200]", "[false,200]", "[true,100]", "[true,100]"))
    assert(reused(plan3), plan3.mkString("\n"))
    val (same2, plan4) = run(filtered(2).union(filtered(2)))
    assert(same2 == Seq("[100]", "[100]") && reused(plan4), plan4.mkString("\n"))
  }

  test("only graft scans carry parameters") {
    val df = keyed
    def params(plan: Seq[SparkPlan]) = plan.flatMap {
      case f: FilterExec => f.condition.collect { case p: ScanParameter => p }
      case p: ProjectExec => p.projectList.flatMap(_.collect { case p: ScanParameter => p })
      case _ => Nil
    }
    val (_, graftPlan) = run(df.where(col("v") > 250L).select((col("k") === 2L).as("b")))
    assert(params(graftPlan).map(_.literal.value).toSet == Set(2L, 250L), graftPlan.mkString("\n"))
    // plan strings print the constant as before
    assert(graftPlan.exists {
      case f: FilterExec => f.simpleString(100).contains(" > 250)")
      case _ => false
    }, graftPlan.mkString("\n"))
    val (_, parquetPlan) = run(spark.read.parquet(path("keyed"))
      .where(col("v") > 250L).select((col("k") === 2L).as("b")))
    assert(params(parquetPlan).isEmpty, parquetPlan.mkString("\n"))
  }
}

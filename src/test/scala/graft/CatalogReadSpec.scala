package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftScanInlining
import graft.table.DeltaTable

/** The catalog SQL read path: `GraftScanInlining` replaces every catalog
  * scan with the library's pruned `Scan.readFiles` plan. Results must equal
  * the library read of the same table and filter, and the executed plan
  * must be Spark's native file scan. */
class CatalogReadSpec extends AnyFunSuite {
  import CatalogReadSpec._

  private val warehouse = Files.createTempDirectory("graft-read-wh").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-catalog-read")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.rd", "graft.catalog.GraftCatalog")
    .config("spark.sql.catalog.rd.warehouse", warehouse)
    .getOrCreate()

  private def sql(q: String): DataFrame = spark.sql(q)
  private def api(table: String): DataFrame =
    DeltaTable.forPath(spark, s"$warehouse/s/$table").toDF

  private def sorted(rs: Array[Row]): Seq[String] = rs.map(_.toString).toSeq.sorted

  /** Runs `catalog` (so its own QueryExecution holds the executed plan) and
    * compares it with `library`; the catalog read must be a file scan. */
  private def assertParity(catalog: DataFrame, library: DataFrame): Unit = {
    val got = catalog.collect()
    assert(got.nonEmpty, "parity over an empty result proves nothing")
    assert(sorted(got) == sorted(library.collect()))
    val plan = executedNodes(catalog.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[FileSourceScanExec]), plan.mkString("\n"))
    assert(!plan.exists(_.isInstanceOf[RowDataSourceScanExec]), plan.mkString("\n"))
  }

  test("partitioned table: catalog SQL equals the library read") {
    sql("CREATE NAMESPACE rd.s")
    sql("CREATE TABLE rd.s.part (id BIGINT, p STRING, x DOUBLE) PARTITIONED BY (p)")
    sql("INSERT INTO rd.s.part VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', 3.5)")
    sql("INSERT INTO rd.s.part VALUES (4, 'b', 4.5), (5, 'a', 5.5), (6, 'b', 6.5)")
    assertParity(sql("SELECT id, x FROM rd.s.part WHERE p = 'b' AND id > 2"),
      api("part").where("p = 'b' AND id > 2").select("id", "x"))
    assertParity(sql("SELECT * FROM rd.s.part"), api("part"))
  }

  test("deletion vectors: catalog SQL masks deleted rows like the library") {
    sql("""CREATE TABLE rd.s.dv (id BIGINT, v STRING)
          |TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')""".stripMargin)
    sql("INSERT INTO rd.s.dv SELECT id, concat('v', id) FROM range(0, 40)")
    sql("DELETE FROM rd.s.dv WHERE id IN (3, 6, 9, 12, 15, 30)")
    assert(DeltaTable.forPath(spark, s"$warehouse/s/dv").snapshot.allFiles
      .exists(_.deletionVector.isDefined), "DELETE wrote no deletion vector")
    assertParity(sql("SELECT * FROM rd.s.dv WHERE id > 10"), api("dv").where("id > 10"))
    assert(sql("SELECT count(*) FROM rd.s.dv").head().getLong(0) == 34)
  }

  test("column mapping: logical names read through the catalog") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"v$i", i % 5)).toDF("id", "unit price", "p")
    DeltaTable.write(spark, df, s"$warehouse/s/cm", partitionBy = Seq("p"),
      configuration = Map("delta.columnMapping.mode" -> "name"))
    assertParity(sql("SELECT id, `unit price` FROM rd.s.cm WHERE p = 2 AND id < 40"),
      api("cm").where("p = 2 AND id < 40").select("id", "unit price"))
  }

  test("VERSION AS OF reads the pinned snapshot") {
    sql("CREATE TABLE rd.s.tt (id BIGINT)")
    sql("INSERT INTO rd.s.tt VALUES (1), (2)") // v1
    sql("INSERT INTO rd.s.tt VALUES (3)")      // v2
    val t = DeltaTable.forPath(spark, s"$warehouse/s/tt")
    assertParity(sql("SELECT * FROM rd.s.tt VERSION AS OF 1 WHERE id > 0"),
      t.asOfVersion(1).where("id > 0"))
    assertParity(sql("SELECT * FROM rd.s.tt WHERE id > 0"), t.toDF.where("id > 0"))
  }

  test("scalar and IN subqueries over catalog tables") {
    api("part").createOrReplaceTempView("lib_part")
    api("dv").createOrReplaceTempView("lib_dv")
    val scalar = "SELECT id FROM %s WHERE x > (SELECT avg(x) FROM %s)"
    assertParity(sql(scalar.format("rd.s.part", "rd.s.part")),
      sql(scalar.format("lib_part", "lib_part")))
    val in = "SELECT id, p FROM %s WHERE id IN (SELECT id FROM %s WHERE id < 6)"
    assertParity(sql(in.format("rd.s.part", "rd.s.dv")),
      sql(in.format("lib_part", "lib_dv")))
  }

  test("a new session registers the rule and reads the same rows") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.rd", "graft.catalog.GraftCatalog")
    s2.conf.set("spark.sql.catalog.rd.warehouse", warehouse)
    assertParity(s2.sql("SELECT * FROM rd.s.part WHERE p = 'a'"), api("part").where("p = 'a'"))
    assert(registrations(s2) == 1)
  }

  test("two GraftCatalogs in one session register the rule once") {
    spark.conf.set("spark.sql.catalog.rd2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rd2.warehouse", warehouse)
    assert(sql("SELECT count(*) FROM rd2.s.part").head().getLong(0) ==
      sql("SELECT count(*) FROM rd.s.part").head().getLong(0))
    assert(registrations(spark) == 1)
  }

  test("catalog scan size estimate stays tied to the log's file bytes") {
    // TPC-H-shaped star at sf0.001 row counts, all well under the
    // broadcast threshold
    sql("CREATE NAMESPACE rd.tpch")
    val tables = Seq(
      "lineitem" -> "SELECT id % 1500 AS l_orderkey, id * 1.5 AS l_extendedprice FROM range(6000)",
      "orders" -> "SELECT id AS o_orderkey, id % 150 AS o_custkey FROM range(1500)",
      "customer" -> "SELECT id AS c_custkey, concat('seg', id % 5) AS c_mktsegment, id AS c_acctbal FROM range(150)")
    tables.foreach { case (t, q) => DeltaTable.write(spark, sql(q), s"$warehouse/tpch/$t") }
    val fileBytes = DeltaTable.forPath(spark, s"$warehouse/tpch/customer")
      .snapshot.allFiles.map(_.size).sum
    val est = sql("SELECT * FROM rd.tpch.customer").queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > 0 && est < fileBytes.toLong * 20,
      s"scan size estimate untethered: $est vs $fileBytes file bytes")
  }

  test("catalog 3-way join broadcasts the small dims in the initial plan") {
    val df = sql(
      """SELECT c_mktsegment, count(*) AS cnt, sum(l_extendedprice) AS rev
        |FROM rd.tpch.lineitem JOIN rd.tpch.orders ON l_orderkey = o_orderkey
        |JOIN rd.tpch.customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)
    // not executed: the AQE node still holds the planner's initial plan
    val plan = executedNodes(df.queryExecution.executedPlan)
    assert(plan.count(_.isInstanceOf[BroadcastHashJoinExec]) == 2, plan.mkString("\n"))
    assert(!plan.exists(_.isInstanceOf[SortMergeJoinExec]), plan.mkString("\n"))
  }

  test("rename into a path that held a cached table serves the moved table") {
    def logDir(t: String) = Paths.get(warehouse, "s", t, "_delta_log")
    def logFiles(t: String) = {
      val s = Files.list(logDir(t))
      try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
    }
    sql("CREATE TABLE rd.s.rb (id BIGINT, v STRING)")
    sql("INSERT INTO rd.s.rb VALUES (1, 'b')")
    sql("CREATE TABLE rd.s.ra (id BIGINT, v STRING)")
    sql("INSERT INTO rd.s.ra VALUES (2, 'a')")
    // age rb's log past the cache's freshness guard, then cache it
    val old = FileTime.fromMillis(System.currentTimeMillis() - 60000L)
    logFiles("rb").foreach(Files.setLastModifiedTime(_, old))
    assert(sql("SELECT v FROM rd.s.rb").head().getString(0) == "b")
    sql("ALTER TABLE rd.s.rb RENAME TO s.rc")
    // ra's log now matches the cached rb entry on (name, mtime, length)
    val (a, c) = (logFiles("ra"), logFiles("rc"))
    assert(a.map(_.getFileName) == c.map(_.getFileName) &&
      a.map(Files.size) == c.map(Files.size), "test tables' logs must collide")
    a.zip(c).foreach { case (x, y) => Files.setLastModifiedTime(x, Files.getLastModifiedTime(y)) }
    sql("ALTER TABLE rd.s.ra RENAME TO s.rb")
    assert(sql("SELECT id, v FROM rd.s.rb").collect().toSeq == Seq(Row(2L, "a")))
    assert(sql("SELECT id, v FROM rd.s.rc").collect().toSeq == Seq(Row(1L, "b")))
  }
}

object CatalogReadSpec {

  /** Every node of a physical plan, inside AQE wrappers and query stages. */
  def executedNodes(plan: SparkPlan): Seq[SparkPlan] = plan.flatMap {
    case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
    case s: QueryStageExec => executedNodes(s.plan)
    case p => Seq(p)
  }

  /** How many times the session's optimizer holds the inlining rule. */
  def registrations(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental.extraOptimizations.count(_ eq GraftScanInlining)
}

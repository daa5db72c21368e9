package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.table.DeltaTable

/** The GraftCatalog SQL surface: DDL/DML/queries through `spark.sql` only —
  * no library API calls in the user-visible path. */
class CatalogSpec extends AnyFunSuite {

  private val warehouse = Files.createTempDirectory("graft-warehouse").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-catalog")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
    .config("spark.sql.catalog.graft.warehouse", warehouse)
    .getOrCreate()

  private def sql(q: String) = spark.sql(q)

  test("namespace + create + insert + select lifecycle") {
    sql("CREATE NAMESPACE graft.sales")
    assert(sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).contains("sales"))

    sql("""CREATE TABLE graft.sales.orders (id BIGINT, region STRING, amount DOUBLE)
          |PARTITIONED BY (region)
          |TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')""".stripMargin)
    assert(sql("SHOW TABLES IN graft.sales").collect().map(_.getString(1)).contains("orders"))

    // TBLPROPERTIES reached the Delta metadata
    val t = DeltaTable.forPath(spark, s"$warehouse/sales/orders")
    assert(t.metadata.configuration("delta.enableChangeDataFeed") == "true")
    assert(t.partitionColumns == Seq("region"))

    sql("INSERT INTO graft.sales.orders VALUES (1, 'eu', 10.0), (2, 'us', 20.0), (3, 'eu', 30.0)")
    assert(sql("SELECT count(*) FROM graft.sales.orders").head().getLong(0) == 3)
    assert(sql("SELECT sum(amount) FROM graft.sales.orders WHERE region = 'eu'")
      .head().getDouble(0) == 40.0)
  }

  test("insert overwrite: full and by static partition (replaceWhere)") {
    sql("INSERT OVERWRITE graft.sales.orders PARTITION (region='eu') VALUES (7, 70.0)")
    assert(sql("SELECT count(*) FROM graft.sales.orders WHERE region = 'eu'").head().getLong(0) == 1)
    assert(sql("SELECT count(*) FROM graft.sales.orders WHERE region = 'us'").head().getLong(0) == 1)

    sql("INSERT OVERWRITE graft.sales.orders VALUES (9, 'ap', 90.0)")
    assert(sql("SELECT id, region FROM graft.sales.orders").collect().toSeq.map(r =>
      (r.getLong(0), r.getString(1))) == Seq((9L, "ap")))
  }

  test("DELETE FROM with predicate and TRUNCATE") {
    sql("INSERT INTO graft.sales.orders VALUES (10, 'eu', 1.0), (11, 'us', 2.0)")
    sql("DELETE FROM graft.sales.orders WHERE region = 'eu' AND id > 9")
    assert(sql("SELECT id FROM graft.sales.orders ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(9L, 11L))

    sql("TRUNCATE TABLE graft.sales.orders")
    assert(sql("SELECT count(*) FROM graft.sales.orders").head().getLong(0) == 0)
  }

  test("time travel VERSION AS OF through SQL") {
    val versions = sql("SELECT * FROM graft.sales.orders VERSION AS OF 1")
    assert(versions.count() == 3) // the first INSERT
  }

  test("CTAS, alter, rename, drop") {
    sql("""CREATE TABLE graft.sales.big AS
          |SELECT id * 2 AS id2 FROM graft.sales.orders VERSION AS OF 1""".stripMargin)
    assert(sql("SELECT sum(id2) FROM graft.sales.big").head().getLong(0) == 12)

    sql("ALTER TABLE graft.sales.big SET TBLPROPERTIES ('delta.logRetentionDuration' = 'interval 60 days')")
    val t = DeltaTable.forPath(spark, s"$warehouse/sales/big")
    assert(t.metadata.configuration("delta.logRetentionDuration") == "interval 60 days")

    sql("ALTER TABLE graft.sales.big ADD COLUMN note STRING")
    assert(sql("SELECT * FROM graft.sales.big").schema.fieldNames.toSeq == Seq("id2", "note"))

    sql("ALTER TABLE graft.sales.big RENAME TO sales.big2")
    assert(sql("SELECT count(*) FROM graft.sales.big2").head().getLong(0) == 3)
    assert(!sql("SHOW TABLES IN graft.sales").collect().map(_.getString(1)).contains("big"))

    sql("DROP TABLE graft.sales.big2")
    assert(!sql("SHOW TABLES IN graft.sales").collect().map(_.getString(1)).contains("big2"))
  }

  test("filter pushdown prunes files through the catalog read path") {
    sql("CREATE NAMESPACE graft.bench")
    sql("""CREATE TABLE graft.bench.parts (p BIGINT, v STRING) PARTITIONED BY (p)""")
    (0 until 4).foreach(i =>
      sql(s"INSERT INTO graft.bench.parts VALUES ($i, 'v$i')"))
    val pruned = sql("SELECT v FROM graft.bench.parts WHERE p = 2")
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("v2"))
    // partition pruning happened before Spark saw the files: the executed
    // file scan read one parquet file of the four partitions
    val scans = CatalogReadSpec.executedNodes(pruned.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.map(_.metrics("numFiles").value) == Seq(1L))
  }

  test("external LOCATION table: reachable, droppable without data loss") {
    val ext = Files.createTempDirectory("graft-external").toString + "/t"
    sql(s"CREATE TABLE graft.sales.extt (id BIGINT, v STRING) LOCATION '$ext'")
    sql("INSERT INTO graft.sales.extt VALUES (1, 'a'), (2, 'b')")
    // resolvable through the catalog after creation
    assert(sql("SELECT count(*) FROM graft.sales.extt").head().getLong(0) == 2)
    assert(sql("SHOW TABLES IN graft.sales").collect().map(_.getString(1)).contains("extt"))
    sql("DELETE FROM graft.sales.extt WHERE id = 1")
    assert(sql("SELECT v FROM graft.sales.extt").head().getString(0) == "b")
    // DROP removes the catalog entry but leaves the external data
    sql("DROP TABLE graft.sales.extt")
    assert(!sql("SHOW TABLES IN graft.sales").collect().map(_.getString(1)).contains("extt"))
    assert(DeltaTable.isDeltaTable(spark, ext))
    assert(DeltaTable.forPath(spark, ext).toDF.count() == 1)
  }

  test("ALTER TABLE ADD COLUMN of VARIANT upgrades the protocol") {
    sql("CREATE TABLE graft.sales.vt (id BIGINT)")
    val before = DeltaTable.forPath(spark, s"$warehouse/sales/vt").protocol
    assert(before.minReaderVersion == 1)
    sql("ALTER TABLE graft.sales.vt ADD COLUMN v VARIANT")
    val after = DeltaTable.forPath(spark, s"$warehouse/sales/vt").protocol
    assert(after.minReaderVersion == 3 && after.minWriterVersion == 7)
    assert(after.readerFeatures.get.contains("variantType"))
    assert(after.writerFeatures.get.contains("variantType"))
  }

  test("registering pre-existing external Delta data; stale pointers droppable") {
    import org.apache.spark.sql.functions.lit
    // pre-existing Delta table outside the warehouse
    val ext = Files.createTempDirectory("graft-external2").toString + "/t"
    DeltaTable.write(spark,
      spark.range(7).toDF("id").withColumn("tag", lit("x")), ext)
    sql(s"CREATE TABLE graft.sales.reg LOCATION '$ext'") // no columns: register
    assert(sql("SELECT count(*) FROM graft.sales.reg").head().getLong(0) == 7)
    // declared schema must match when given
    val e = intercept[Exception](
      sql(s"CREATE TABLE graft.sales.reg2 (wrong STRING) LOCATION '$ext'"))
    assert(e.getMessage.contains("does not match"))

    // stale pointer: drop the external data, identifier must stay droppable
    // and the slot reusable afterwards
    val fs = new org.apache.hadoop.fs.Path(ext)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ext), true)
    sql("DROP TABLE IF EXISTS graft.sales.reg")
    sql("CREATE TABLE graft.sales.reg (id BIGINT)") // managed reuse of the slot
    sql("INSERT INTO graft.sales.reg VALUES (1)")
    assert(sql("SELECT count(*) FROM graft.sales.reg").head().getLong(0) == 1)
  }

  test("ADD COLUMN of TIMESTAMP_NTZ upgrades the protocol like VARIANT") {
    sql("CREATE TABLE graft.sales.ntz (id BIGINT)")
    sql("ALTER TABLE graft.sales.ntz ADD COLUMN ts TIMESTAMP_NTZ")
    val p = DeltaTable.forPath(spark, s"$warehouse/sales/ntz").protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.readerFeatures.get.contains("timestampNtz"))
    assert(p.writerFeatures.get.contains("timestampNtz"))
  }

  test("concurrent INSERT INTO through the catalog: all commits land") {
    sql("CREATE NAMESPACE IF NOT EXISTS graft.conc")
    sql("CREATE TABLE graft.conc.t (id BIGINT, w INT)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (0 until 6).map { w =>
      Future { sql(s"INSERT INTO graft.conc.t SELECT id, $w FROM range(10)") }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    assert(sql("SELECT count(*) FROM graft.conc.t").head().getLong(0) == 60)
    assert(sql("SELECT count(DISTINCT w) FROM graft.conc.t").head().getLong(0) == 6)
    // six append commits on top of CREATE
    assert(DeltaTable.forPath(spark, s"$warehouse/conc/t").version == 6)
  }

  test("untranslatable DELETE predicate is refused, not widened") {
    import graft.catalog.GraftTable
    import org.apache.spark.sql.sources._
    // strict translation: And with an untranslatable half must fail whole
    val bad = GraftTable.filtersToSql(Array(And(EqualTo("a", 1), StringContains("b", "x"))))
    assert(bad.isEmpty)
    val good = GraftTable.filtersToSql(Array(And(EqualTo("a", 1), Not(In("b", Array("x", "y"))))))
    assert(good.isDefined)
  }

  test("CREATE LOCATION with no columns at a non-Delta path is a loud error") {
    val empty = Files.createTempDirectory("graft-ext-empty").toString
    val e = intercept[Exception] {
      sql(s"CREATE TABLE graft.badloc LOCATION '$empty'")
    }
    assert(e.getMessage.contains("no Delta table found"),
      s"expected a registration-typo error, got: ${e.getMessage}")
    // nothing was created: no zero-column log at the location, no pointer
    assert(!new java.io.File(s"$empty/_delta_log").exists())
    assert(!sql("SHOW TABLES IN graft").collect().map(_.getString(1)).contains("badloc"))
  }

  test("CREATE TABLE into a missing namespace raises, not materializes") {
    val e = intercept[Exception] {
      sql("CREATE TABLE graft.no_such_ns.t (id BIGINT)")
    }
    // Spark surfaces NoSuchNamespaceException as SCHEMA_NOT_FOUND
    assert(e.getMessage.toLowerCase.contains("cannot be found"),
      s"expected a schema-not-found error, got: ${e.getMessage}")
    assert(!sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("no_such_ns"))
  }

  test("stale external pointer is not reported as a namespace") {
    val extDir = Files.createTempDirectory("graft-ext-stale").toString + "/t"
    import spark.implicits._
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), extDir)
    sql(s"CREATE TABLE graft.stale_ext LOCATION '$extDir'")
    // kill the external target: slot keeps its pointer (occupancy) but the
    // table is dead
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(extDir))
    // occupancy: the identifier still EXISTS (so DROP works, CREATE refuses)
    // but a stale slot must appear NEITHER as a live table NOR as a namespace
    assert(!sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("stale_ext"),
      "a stale table slot leaked into the namespace listing")
    intercept[Exception](sql(s"CREATE TABLE graft.stale_ext (id BIGINT)"))
    sql("DROP TABLE graft.stale_ext") // still droppable (occupancy gate)
  }

  test("registering external Delta data applies TBLPROPERTIES") {
    val extDir = Files.createTempDirectory("graft-ext-props").toString + "/t"
    import spark.implicits._
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), extDir)
    sql(s"CREATE TABLE graft.ext_props LOCATION '$extDir' " +
      "TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')")
    assert(DeltaTable.forPath(spark, extDir)
      .metadata.configuration.get("delta.enableChangeDataFeed").contains("true"),
      "TBLPROPERTIES silently dropped on external registration")
    sql("DROP TABLE graft.ext_props")
  }

  test("SHOW NAMESPACES on a fresh warehouse returns empty, not an error") {
    val fresh = Files.createTempDirectory("graft-wh-fresh").toString + "/not_yet"
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft2", "graft.catalog.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft2.warehouse", fresh)
    assert(s2.sql("SHOW NAMESPACES IN graft2").collect().isEmpty)
  }

  test("ALTER TABLE ADD COLUMNS lands as a single commit") {
    sql("CREATE NAMESPACE graft.alterns")
    sql("CREATE TABLE graft.alterns.t (id BIGINT)")
    val before = DeltaTable.forPath(spark, s"$warehouse/alterns/t").version
    sql("ALTER TABLE graft.alterns.t ADD COLUMNS (a INT, b INT)")
    val t = DeltaTable.forPath(spark, s"$warehouse/alterns/t")
    assert(t.schema.fieldNames.toSeq == Seq("id", "a", "b"))
    assert(t.version == before + 1,
      s"ADD COLUMNS split into ${t.version - before} commits — must be atomic")
  }

  test("round-8 guards: rename onto namespace dir, DROP NAMESPACE on a table, register COMMENT") {
    sql("CREATE NAMESPACE graft.r8g")
    sql("CREATE TABLE graft.r8g.t (id BIGINT)")
    sql("INSERT INTO graft.r8g.t VALUES (1), (2)")

    // destination exists as an (empty) NAMESPACE directory: rename must
    // refuse — fs.rename onto an existing dir would nest the table INSIDE
    sql("CREATE NAMESPACE graft.r8g.sub")
    intercept[Exception](sql("ALTER TABLE graft.r8g.t RENAME TO r8g.sub"))
    assert(sql("SELECT count(*) FROM graft.r8g.t").head().getLong(0) == 2,
      "refused rename must leave the table intact")

    // DROP NAMESPACE CASCADE aimed at a TABLE identifier must not delete it
    intercept[Exception](sql("DROP NAMESPACE graft.r8g.t CASCADE"))
    assert(sql("SELECT count(*) FROM graft.r8g.t").head().getLong(0) == 2,
      "DROP NAMESPACE on a table slot must not destroy the table")

    // registering EXISTING Delta data records the COMMENT like create does
    val extDir = java.nio.file.Files.createTempDirectory("graft_extreg_").toString + "/t"
    DeltaTable.write(spark, spark.range(3).toDF("id"), extDir)
    sql(s"CREATE TABLE graft.r8g.ext (id BIGINT) LOCATION '$extDir' COMMENT 'registered docs'")
    assert(DeltaTable.forPath(spark, extDir).metadata.description.contains("registered docs"),
      "register branch must record the COMMENT")
  }

  test("round-8: nested-field predicate pushes through the DSv2 filter translation") {
    sql("CREATE NAMESPACE graft.r8n")
    sql("CREATE TABLE graft.r8n.ev (id BIGINT, s STRUCT<x: BIGINT, y: STRING>)")
    sql("INSERT INTO graft.r8n.ev VALUES (1, named_struct('x', 1L, 'y', 'a')), " +
      "(2, named_struct('x', 2L, 'y', 'b'))")
    // previously: the pushed filter name "s.x" became a single-part
    // UnresolvedAttribute and the whole SELECT died with AnalysisException
    assert(sql("SELECT id FROM graft.r8n.ev WHERE s.x = 2").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(sql("SELECT count(*) FROM graft.r8n.ev WHERE s.y = 'a'").head().getLong(0) == 1L)
  }

  test("round-9 guards: namespace not convertible to table, listings refuse table slots") {
    sql("CREATE NAMESPACE graft.r9g")
    sql("CREATE NAMESPACE graft.r9g.inner")
    sql("CREATE TABLE graft.r9g.inner.t (id BIGINT)")
    sql("INSERT INTO graft.r9g.inner.t VALUES (1)")

    // CREATE TABLE over a POPULATED namespace dir must refuse, not
    // silently convert it (children would vanish; DROP TABLE would delete
    // the whole tree) — with the r10 dedicated error naming the path, not
    // a misleading "already exists" (no table exists there)
    val e1 = intercept[Exception](sql("CREATE TABLE graft.r9g.inner (id INT)"))
    assert(e1.getMessage.contains("populated non-table directory"), e1.getMessage)
    assert(sql("SHOW NAMESPACES IN graft.r9g").collect()
      .map(_.getString(0)).contains("r9g.inner"),
      "the namespace must survive the refused create")
    assert(sql("SELECT count(*) FROM graft.r9g.inner.t").head().getLong(0) == 1L)

    // listing "inside" a table identifier errors like the other namespace
    // entry points, instead of exposing partition dirs as namespaces
    intercept[Exception](sql("SHOW NAMESPACES IN graft.r9g.inner.t"))
    intercept[Exception](sql("SHOW TABLES IN graft.r9g.inner.t"))

    // a typo'd parent namespace is not silently materialized
    val e2 = intercept[Exception](sql("CREATE NAMESPACE graft.r9gTYPO.sub"))
    assert(e2.getMessage.toLowerCase.contains("not found") ||
      e2.getMessage.toLowerCase.contains("r9gtypo"), e2.getMessage)
    assert(!sql("SHOW NAMESPACES IN graft").collect()
      .map(_.getString(0)).contains("r9gTYPO"))

    // ADD COLUMN carries its COMMENT; FIRST/AFTER fails loudly
    sql("ALTER TABLE graft.r9g.inner.t ADD COLUMNS (c STRING COMMENT 'note')")
    val t = DeltaTable.forPath(spark, s"$warehouse/r9g/inner/t")
    assert(t.schema.fields.find(_.name == "c")
      .exists(_.getComment().contains("note")), "ADD COLUMN comment dropped")
    intercept[Exception](
      sql("ALTER TABLE graft.r9g.inner.t ADD COLUMNS (d INT AFTER id)"))
  }

  test("r17 snapshot cache staleness: commits, API-side writes, checkpoint, drop+recreate") {
    // the r17 loadTable snapshot cache is keyed on the _delta_log listing
    // signature — every event below changes the listing and MUST invalidate;
    // each assertion follows a repeated SELECT so the cached entry is
    // demonstrably live before the invalidating event
    sql("CREATE NAMESPACE graft.c17")
    sql("CREATE TABLE graft.c17.t (id BIGINT, v STRING)")
    assert(sql("SELECT count(*) FROM graft.c17.t").head().getLong(0) == 0)
    assert(sql("SELECT count(*) FROM graft.c17.t").head().getLong(0) == 0) // cache hit

    // (1) a commit through the SQL surface
    sql("INSERT INTO graft.c17.t VALUES (1, 'a')")
    assert(sql("SELECT count(*) FROM graft.c17.t").head().getLong(0) == 1)

    // (2) a commit BYPASSING the catalog entirely (library API on the path):
    // only the log listing can reveal it to the cache
    import spark.implicits._
    DeltaTable.write(spark, Seq((2L, "b")).toDF("id", "v"), s"$warehouse/c17/t")
    assert(sql("SELECT count(*) FROM graft.c17.t").head().getLong(0) == 2)

    // (3) checkpoint publication (new checkpoint file + _last_checkpoint):
    // invalidates by signature; the rebuilt snapshot must read identically
    assert(sql("SELECT count(*) FROM graft.c17.t").head().getLong(0) == 2) // re-warm
    DeltaTable.forPath(spark, s"$warehouse/c17/t").createCheckpoint()
    assert(sql("SELECT sum(id) FROM graft.c17.t").head().getLong(0) == 3)

    // (4) DROP + re-CREATE under the same identifier with a DIFFERENT
    // schema: the cache must never serve the dead table's snapshot (the
    // incremental-refresh trap this cache rebuilds-from-scratch to avoid)
    assert(sql("SELECT count(*) FROM graft.c17.t").head().getLong(0) == 2) // re-warm
    sql("DROP TABLE graft.c17.t")
    sql("CREATE TABLE graft.c17.t (id BIGINT)")
    assert(spark.table("graft.c17.t").schema.fieldNames.toSeq == Seq("id"))
    sql("INSERT INTO graft.c17.t VALUES (5)")
    assert(sql("SELECT count(*) FROM graft.c17.t").head().getLong(0) == 1)

    // (5) DROP leaves the identifier unresolvable (stale entry purged)
    sql("DROP TABLE graft.c17.t")
    intercept[Exception](sql("SELECT * FROM graft.c17.t").collect())
  }
}

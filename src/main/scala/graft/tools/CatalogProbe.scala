package graft.tools

import org.apache.spark.sql.SparkSession

/**
 * Micro-profile of the catalog SQL path (the bench's `catalog` key):
 * where does load_100's per-SELECT time go — Spark planning, loadTable
 * resolution (DeltaLog + replay), or execution? Also measures the
 * kernel snapshot cache: pass 2 over the same tables should pay one log
 * listing and one commit read per table instead of a full replay.
 *
 * Usage: sbt "runMain graft.tools.CatalogProbe [nTables]"
 */
object CatalogProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def timed(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[catalog-probe] $label%-28s ${s}%8.3f s  (${s / n * 1000}%7.2f ms/op)")
      s
    }
    val wh = graft.entries.EntryCtx.tempDir("catalog_probe")
    spark.conf.set("spark.sql.catalog.probecat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.probecat.warehouse", wh)
    spark.sql("CREATE NAMESPACE probecat.a")
    spark.sql("CREATE NAMESPACE probecat.a.b")
    spark.sql("CREATE NAMESPACE probecat.a.b.c")
    timed("create")((0 until n).foreach(i => spark.sql(
      s"CREATE TABLE probecat.a.b.c.t$i (id BIGINT, v STRING)")))

    // direct loadTable (no SQL): isolates catalog resolution cost
    import org.apache.spark.sql.connector.catalog.{CatalogV2Util, Identifier, TableCatalog}
    val cat = spark.sessionState.catalogManager.catalog("probecat")
      .asInstanceOf[TableCatalog]
    val ns = Array("a", "b", "c")
    timed("loadTable cold")((0 until n).foreach(i =>
      cat.loadTable(Identifier.of(ns, s"t$i")).schema()))
    timed("loadTable warm (cache)")((0 until n).foreach(i =>
      cat.loadTable(Identifier.of(ns, s"t$i")).schema()))

    timed("select pass 1")((0 until n).foreach(i =>
      spark.sql(s"SELECT * FROM probecat.a.b.c.t$i").collect()))
    timed("select pass 2 (cache)")((0 until n).foreach(i =>
      spark.sql(s"SELECT * FROM probecat.a.b.c.t$i").collect()))
    // planning-only: same statements, never executed
    timed("plan only (no collect)")((0 until n).foreach(i =>
      spark.sql(s"SELECT * FROM probecat.a.b.c.t$i").queryExecution.executedPlan))
    // repeated single table: the pure repeat-load shape
    timed("same table x n")((0 until n).foreach(_ =>
      spark.sql(s"SELECT * FROM probecat.a.b.c.t0").collect()))
    // Catalyst phase breakdown over warm statements: where do the
    // per-statement milliseconds that are NOT loadTable go?
    val phaseTotals = scala.collection.mutable.LinkedHashMap[String, Long]()
    (0 until n).foreach { i =>
      val qe = spark.sql(s"SELECT * FROM probecat.a.b.c.t$i").queryExecution
      qe.executedPlan
      qe.tracker.phases.foreach { case (ph, t) =>
        phaseTotals(ph) = phaseTotals.getOrElse(ph, 0L) + (t.endTimeMs - t.startTimeMs)
      }
    }
    phaseTotals.foreach { case (ph, ms) =>
      println(f"[catalog-probe] tracker phase $ph%-16s ${ms / 1000.0}%8.3f s (${ms.toDouble / n}%6.2f ms/op)")
    }
    spark.stop()
  }
}

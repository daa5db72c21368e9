package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.table.DeltaTable

/** End-to-end drive of the public API against real testdata — used for
  * manual verification (`sbt "runMain graft.tools.SmokeDrive"`). */
object SmokeDrive {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-smoke")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_SF_DIR is the repo-standard override (Bench);
    // SF_DIR stays as the documented legacy alias for this tool
    val sf = sys.env.get("SPARK_GRAFT_SF_DIR")
      .orElse(sys.env.get("SF_DIR"))
      .getOrElse("/root/testdata/sf0.001")
    val dir = graft.entries.EntryCtx.tempDir("smoke")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    println(s"== table dir: $dir, source rows: ${orders.count()}")

    println("\n== 1. partitioned write ==")
    DeltaTable.write(spark, orders, dir, partitionBy = Seq("o_orderpriority"))
    val t = DeltaTable.forPath(spark, dir)
    println(s"version=${t.version} files=${t.snapshot.numFiles} approxCount=${t.approxCount}")

    println("\n== 2. pruned scan ==")
    val pred = "o_orderpriority = '1-URGENT' AND o_totalprice > 100000"
    val pruned = graft.table.Scan.prunedFiles(t.snapshot,
      Seq(graft.table.Scan.parsePredicate(spark, pred)))
    println(s"candidate files after pruning: ${pruned.size} / ${t.snapshot.numFiles}")
    println(s"rows: ${t.scanWhere(pred).count()}  (oracle: ${orders.filter(pred).count()})")
    t.scanWhere(pred).explain("formatted")

    println("\n== 3. delete ==")
    println(t.delete(Some("o_orderkey % 10 = 0")))
    println(s"rows now: ${t.toDF.count()} (oracle: ${orders.filter("o_orderkey % 10 != 0").count()})")

    println("\n== 4. update ==")
    println(t.update(Map("o_totalprice" -> lit(0.0)), Some("o_orderstatus = 'F'")))
    println(s"zeroed: ${t.toDF.filter("o_totalprice = 0.0 AND o_orderstatus='F'").count()}")

    println("\n== 5. merge upsert ==")
    val source = orders.limit(100).withColumn("o_totalprice", lit(-1.0))
    val m = t.merge(source, "target.o_orderkey = source.o_orderkey")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    println(m)
    println(s"priced -1: ${t.toDF.filter("o_totalprice = -1.0").count()}")

    println("\n== 6. time travel + history ==")
    println(s"v0 rows: ${t.asOfVersion(0).count()}")
    t.history().foreach { case (v, ts, ci) =>
      println(s"  v$v ${ci.map(_.operation).getOrElse("?")} " +
        ci.map(_.operationMetrics.getOrElse("execution_time_ms", "")).getOrElse(""))
    }

    println("\n== 7. optimize compact ==")
    println(t.optimizeCompact(targetSizeBytes = 256L * 1024 * 1024))
    println(s"files now: ${t.snapshot.numFiles}, rows: ${t.toDF.count()}")

    println("\n== 8. vacuum (dry run) ==")
    println(s"would delete ${t.vacuum(0, dryRun = true, enforceRetention = false).size} files")

    println("\n== probes ==")
    def probe(name: String)(f: => Any): Unit =
      try { val r = f; println(s"PROBE $name: NO ERROR -> $r") }
      catch { case e: Exception =>
        // null/empty messages (NPEs) must not crash the reporter itself
        val first = Option(e.getMessage).getOrElse("")
          .linesIterator.nextOption().getOrElse("")
        println(s"PROBE $name: ${e.getClass.getSimpleName}: $first") }

    probe("forPath on non-delta dir") { DeltaTable.forPath(spark, "/tmp") }
    probe("append unknown column") {
      DeltaTable.write(spark, orders.withColumn("extra", lit(1)), dir, mode = "append") }
    probe("update partition column") {
      t.update(Map("o_orderpriority" -> lit("X")), Some("o_orderkey = 1")) }
    probe("merge duplicate source matches") {
      val dupSrc = orders.limit(1).unionAll(orders.limit(1))
      t.merge(dupSrc, "target.o_orderkey = source.o_orderkey")
        .whenMatchedUpdateAll().execute() }
    probe("replaceWhere violation") {
      DeltaTable.write(spark, orders.limit(3), dir, mode = "overwrite",
        replaceWhere = Some("o_orderpriority = 'NOPE'")) }
    probe("restore to bad version") { t.restore(99) }
    probe("time travel before table existed") { t.asOfTimestamp(0L) }

    println("\n== final consistency ==")
    val fin = DeltaTable.forPath(spark, dir)
    println(s"version=${fin.version} files=${fin.snapshot.numFiles} rows=${fin.toDF.count()}")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.entries.EntryCtx
import graft.table.DeltaTable

/** Dev tool: the bench merge scenario with per-phase timings, which
  * MergeOp logs at DEBUG on the `graft.ops` logger (enabled here). */
object MergeProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel("graft.ops",
      org.apache.logging.log4j.Level.DEBUG)
    val orders = EntryCtx.pq(spark, sfDir, "orders")
    // SAME source shape as Bench's merge_upsert row (one definition — a
    // bench scenario tune must not leave this profiler measuring the old
    // shape with no error to reveal the drift)
    val src = MergeGrid.benchUpsertSource(orders)
    (1 to 3).foreach { i =>
      val d = EntryCtx.tempDir(s"merge_profile_$i")
      DeltaTable.write(spark, orders, d)
      val t0 = System.nanoTime()
      DeltaTable.forPath(spark, d)
        .merge(src, "target.o_orderkey = source.o_orderkey")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      System.err.println(f"[merge-trace] TOTAL#$i ${(System.nanoTime() - t0) / 1e9}%.3fs")
    }
    spark.stop()
  }
}

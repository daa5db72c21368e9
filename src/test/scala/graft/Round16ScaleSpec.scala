package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.LogStore
import graft.table.DeltaTable

/** Snapshot-load scale proof (r15 verdict task 5): a checkpoint with
  * 10 MILLION Add actions — the 100-TB-table shape, ~1000x the bench
  * tables — must load through the LazyFileIndex (Snapshot.scala
  * lazyThreshold) without ever materializing the Add vector onto the
  * driver, and pruned-scan planning over it must stay a distributed
  * column-pruned parquet job. The checkpoint is synthesized (no data
  * files needed: load + planning never open them), with per-file stats so
  * the prune has something real to cut on.
  *
  * SPARK_GRAFT_SCALE_ADDS overrides the action count (the ledger numbers
  * come from the default 10M run; CI can lower it if a host is tight). */
class Round16ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-r16scale")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def usedHeap(): Long = {
    System.gc()
    Thread.sleep(100)
    val r = Runtime.getRuntime
    r.totalMemory() - r.freeMemory()
  }

  test("10M-Add checkpoint: lazy load, no driver materialization, " +
      "distributed pruned planning") {
    import spark.implicits._
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_ADDS", "10000000").toLong
    val base = Files.createTempDirectory("graft_r16scale_").toString
    val dir = base + "/t"
    // tiny real table (schema id/k BIGINT) + engine checkpoint at v1: the
    // synthetic checkpoint inherits its protocol/metadata rows and the
    // engine's own checkpoint parquet layout
    DeltaTable.write(spark, Seq((1L, 1L)).toDF("id", "k"), dir)
    DeltaTable.write(spark, Seq((2L, 2L)).toDF("id", "k"), dir, mode = "append")
    val t0 = DeltaTable.forPath(spark, dir)
    t0.createCheckpoint()
    val v = t0.version
    val logDir = Paths.get(dir, "_delta_log")
    val cpPath = logDir.resolve(LogStore.checkpointFileName(v))
    val cpDf = spark.read.parquet(cpPath.toString)
    val addT = cpDf.schema("add").dataType

    // 10M Adds, 100 rows per synthetic file, k/id in [i*100, i*100+99]:
    // stats are REAL JSON so pruning cuts to exactly one file. Built as a
    // single codegen'd projection (format_string -> from_json), written as
    // an 8-part classic multi-part checkpoint.
    val addJsonFmt =
      """{"path":"f%09d.parquet","partitionValues":{},"size":4096,""" +
        """"modificationTime":1700000000000,"dataChange":false,""" +
        """"stats":"{\"numRecords\":100,""" +
        """\"minValues\":{\"id\":%d,\"k\":%d},""" +
        """\"maxValues\":{\"id\":%d,\"k\":%d},""" +
        """\"nullCount\":{\"id\":0,\"k\":0}}"}"""
    val i = col("id")
    val lo = i * 100L
    val hi = i * 100L + 99L
    val otherCols = cpDf.columns.filter(_ != "add").toSeq
    val bigAdds = spark.range(n).select(
      (from_json(format_string(addJsonFmt, i, lo, lo, hi, hi), addT).as("add") +:
        otherCols.map(c => lit(null).cast(cpDf.schema(c).dataType).as(c))): _*)
      .select(cpDf.columns.toSeq.map(col): _*)
    val keep = cpDf.filter(col("add").isNull) // protocol/metadata/txn rows
    // materialized BEFORE the source checkpoint file is deleted below —
    // a lazy count would re-read the deleted parquet
    val keepCount = keep.count()
    val genDir = base + "/cp_gen"
    val tGen0 = System.nanoTime()
    bigAdds.unionByName(keep).repartition(8).write.parquet(genDir)
    val genSec = (System.nanoTime() - tGen0) / 1e9

    // install as the ONLY checkpoint at v (multi-part), hint carries the
    // true action count so the lazy decision needs no footer reads
    val parts = new java.io.File(genDir).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
    assert(parts.length == 8)
    parts.zipWithIndex.foreach { case (p, idx) =>
      Files.move(Paths.get(p),
        logDir.resolve(LogStore.multiPartCheckpointFileName(v, idx + 1, 8)),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.delete(cpPath)
    val total = n + keepCount
    Files.write(logDir.resolve(LogStore.LAST_CHECKPOINT),
      s"""{"version":$v,"size":$total,"parts":8}""".getBytes("UTF-8"))

    // ---- load: must bind the lazy index, not collect 10M rows ----
    val heap0 = usedHeap()
    val tLoad0 = System.nanoTime()
    val t = DeltaTable.forPath(spark, dir)
    val snap = t.snapshot
    val loadSec = (System.nanoTime() - tLoad0) / 1e9
    assert(snap.version == v)
    assert(snap.lazyIndex.isDefined,
      s"a $n-Add snapshot must take the lazy path (threshold 500k)")
    assert(!snap.lazyIndex.get.isMaterialized,
      "loading must not materialize the Add vector (the eager " +
        "Checkpoints.readResolved collect path must not be taken)")

    // distributed live-file count without materialization
    val tCnt0 = System.nanoTime()
    val numFiles = snap.numFiles
    val cntSec = (System.nanoTime() - tCnt0) / 1e9
    assert(numFiles == n, s"countAdds must see all $n synthetic files, got $numFiles")
    assert(!snap.lazyIndex.get.isMaterialized, "counting must stay distributed")

    // pruned-scan planning: k = 123456 lives only in file i=1234
    val pred = graft.table.Scan.parsePredicate(spark, "k = 123456")
    val tPr0 = System.nanoTime()
    val pruned = graft.table.Scan.prunedFiles(snap, Seq(pred))
    val pruneSec = (System.nanoTime() - tPr0) / 1e9
    assert(pruned.map(_.path) == Seq(f"f${1234}%09d.parquet"),
      s"stats pruning must cut $n files to the one covering k=123456, " +
        s"got ${pruned.size}")
    assert(!snap.lazyIndex.get.isMaterialized,
      "pruned planning must not materialize the index")
    val heap1 = usedHeap()
    val heapGrowthMb = math.max(0L, heap1 - heap0) / (1024 * 1024)
    // 10M driver-side AddFile objects would be several GB; the lazy path
    // keeps load+count+prune to session-scale allocations
    assert(heapGrowthMb < 1024,
      s"driver heap grew ${heapGrowthMb}MB across load+count+prune — " +
        "something materialized")

    info(f"n=$n gen=$genSec%.1fs load=$loadSec%.2fs count=$cntSec%.2fs " +
      f"prune=$pruneSec%.2fs heapGrowth=${heapGrowthMb}MB")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.GraftSourceOffset
import graft.table.DeltaTable

/** `format("graft-delta")` streaming source + sink: initial snapshot,
  * incremental commits, admission control, change-commit policies, offset
  * recovery across restarts, exactly-once sink commits. */
class GraftSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-source")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft_src_").toString

  private var viewId = 0
  private def nextView(): String = { viewId += 1; s"graft_src_mem_$viewId" }

  private def ints(dir: String, values: Int*): Unit = {
    import spark.implicits._
    DeltaTable.write(spark, values.map(i => (i, i % 3)).toDF("n", "p"),
      dir, partitionBy = Seq("p"))
  }

  test("offset json round-trips") {
    val o = GraftSourceOffset(7, 42, isInitialSnapshot = true)
    assert(GraftSourceOffset.fromJson(o.json) == o)
    val o2 = GraftSourceOffset(0, 0, isInitialSnapshot = false)
    assert(GraftSourceOffset.fromJson(o2.json) == o2)
  }

  test("initial snapshot then live appends reach the sink") {
    import spark.implicits._
    val dir = tmpDir()
    ints(dir, 1, 2, 3)
    ints(dir, 4, 5)
    val view = nextView()
    val q = spark.readStream.format("graft-delta").load(dir)
      .writeStream.format("memory").queryName(view).start()
    try {
      q.processAllAvailable()
      assert(spark.table(view).select("n").as[Int].collect().toSet == Set(1, 2, 3, 4, 5))
      ints(dir, 6, 7) // lands after the stream started → incremental commit
      q.processAllAvailable()
      assert(spark.table(view).select("n").as[Int].collect().toSet == (1 to 7).toSet)
      // partition column reconstructed from the log
      assert(spark.table(view).where(col("p") =!= col("n") % 3).count() == 0)
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds per-batch admission") {
    import spark.implicits._
    val dir = tmpDir()
    ints(dir, 1)
    ints(dir, 2)
    ints(dir, 3)
    val view = nextView()
    val q = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", 1).load(dir)
      .writeStream.format("memory").queryName(view).start()
    try {
      q.processAllAvailable()
      assert(spark.table(view).count() == 3)
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3, s"expected >=3 one-file batches, saw $nonEmpty")
    } finally q.stop()
  }

  test("maxBytesPerTrigger bounds per-batch admission by file size") {
    import spark.implicits._
    val dir = tmpDir()
    ints(dir, 1)
    ints(dir, 2)
    ints(dir, 3)
    // each commit writes ~1 KB parquet files; a 1-byte budget forces the
    // soft-cap floor of one file per batch — same observable as maxFiles=1
    val view = nextView()
    val q = spark.readStream.format("graft-delta")
      .option("maxBytesPerTrigger", "1").load(dir)
      .writeStream.format("memory").queryName(view).start()
    try {
      q.processAllAvailable()
      assert(spark.table(view).count() == 3)
      val nonEmpty = q.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3, s"expected >=3 one-file batches, saw $nonEmpty")
    } finally q.stop()

    // a budget comfortably above the whole table admits everything at once
    val view2 = nextView()
    val q2 = spark.readStream.format("graft-delta")
      .option("maxBytesPerTrigger", "64m").load(dir)
      .writeStream.format("memory").queryName(view2).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(view2).count() == 3)
      val nonEmpty = q2.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty == 1, s"expected a single batch under a 64m budget, saw $nonEmpty")
    } finally q2.stop()
  }

  test("maxBytesPerTrigger option parses size suffixes") {
    import graft.streaming.GraftDeltaSource.parseBytes
    assert(parseBytes("1024") == 1024L)
    assert(parseBytes("64k") == 64L * 1024)
    assert(parseBytes("10mb") == 10L * 1024 * 1024)
    assert(parseBytes(" 1G ") == 1L << 30)
    intercept[IllegalArgumentException](parseBytes("0"))
    intercept[NumberFormatException](parseBytes("abc"))
  }

  test("Trigger.AvailableNow drains then stops; restart admits only new commits") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir(); val dst = tmpDir(); val ckpt = tmpDir()
    ints(src, 1, 2, 3)
    ints(src, 4)

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("maxFilesPerTrigger", 1).load(src)
        .writeStream.format("graft-delta")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      try assert(q.awaitTermination(120000), "AvailableNow query did not terminate")
      finally q.stop()
    }

    def dstRows: Seq[Int] =
      DeltaTable.forPath(spark, dst).toDF.select("n").as[Int].collect().toSeq

    runOnce() // drains the whole backlog in 1-file slices, then terminates
    assert(dstRows.toSet == Set(1, 2, 3, 4))

    runOnce() // nothing new: terminates without admitting anything
    assert(dstRows.size == 4)

    ints(src, 5, 6)
    runOnce() // restart from the checkpoint: exactly the new commit, once
    assert(dstRows.sorted == Seq(1, 2, 3, 4, 5, 6), s"duplicates or loss: $dstRows")
  }

  test("restart replay of batch 0 reconstructs its start from the END offset") {
    import spark.implicits._
    import graft.streaming.{GraftDeltaSource, GraftSourceOffset}
    val dir = tmpDir()
    ints(dir, 1, 2, 3) // version 0: three files (one per partition p)
    // original run admitted 2 of the 3 initial-snapshot files, then "crashed"
    // after writing the offset log but before committing batch 0
    val end = GraftSourceOffset(0, 2, isInitialSnapshot = true)
    ints(dir, 4) // the table advances before the restart
    // a fresh source (new initSnapshot at v1) replays batch 0: start=None.
    // Deriving start from the NEW baseOffset (v1) would return an empty
    // batch — permanent loss of the two admitted files' rows
    val src = new GraftDeltaSource(spark, dir, Map.empty)
    // count the replayed batch outside a streaming query (Spark's own
    // source tests use the same escape hatch)
    spark.conf.set("spark.sql.streaming.unsupportedOperationCheck", "false")
    val n =
      try src.getBatch(None, end).count()
      finally spark.conf.unset("spark.sql.streaming.unsupportedOperationCheck")
    assert(n == 2, s"batch-0 replay lost rows: got $n of 2 admitted files")
  }

  test("batch-0 replay with startingVersion=latest recovers the persisted start") {
    import graft.streaming.{GraftDeltaSource, GraftSourceOffset}
    val dir = tmpDir()
    val meta = tmpDir() // stands in for the checkpoint's source metadata dir
    ints(dir, 1, 2) // version 0
    // fresh stream resolved at v0: startingVersion=latest → base (1, 0)
    val opts = Map("startingVersion" -> "latest")
    val srcA = new GraftDeltaSource(spark, dir, opts, metadataPath = Some(meta))
    assert(GraftSourceOffset.from(srcA.initialOffset()) ==
      GraftSourceOffset(1, 0, isInitialSnapshot = false))
    // batch 0 spans TWO later versions; its end offset was WAL-committed,
    // then the query crashed before the batch materialized
    ints(dir, 3) // version 1
    ints(dir, 4) // version 2
    val end = GraftSourceOffset(2, 1, isInitialSnapshot = false)
    ints(dir, 5) // table advances again before the restart
    // restart: a new source re-resolves "latest" to v4 — but the persisted
    // start under metadataPath must win, or version 1's rows are dropped
    // (end-offset reconstruction alone can only recover end.version)
    val srcB = new GraftDeltaSource(spark, dir, opts, metadataPath = Some(meta))
    spark.conf.set("spark.sql.streaming.unsupportedOperationCheck", "false")
    val rows =
      try srcB.getBatch(None, end).select("n").collect().map(_.getInt(0)).toSet
      finally spark.conf.unset("spark.sql.streaming.unsupportedOperationCheck")
    assert(rows == Set(3, 4), s"batch-0 replay lost admitted rows: $rows")
  }

  test("startingVersion=latest: a real query persists its start in the checkpoint") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir(); val dst = tmpDir(); val ckpt = tmpDir()
    ints(src, 1, 2) // v0 — must be skipped by startingVersion=latest

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta")
        .option("startingVersion", "latest").load(src)
        .writeStream.format("graft-delta")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      try assert(q.awaitTermination(120000)) finally q.stop()
    }
    runOnce() // resolves latest→v1 and persists it under sources/0
    val startFile = java.nio.file.Paths.get(ckpt, "sources", "0", "graftSourceStart")
    assert(java.nio.file.Files.exists(startFile),
      "createSource must wire metadataPath so the start persists")
    assert(new String(java.nio.file.Files.readAllBytes(startFile), "UTF-8")
      .contains("\"version\":1"))

    ints(src, 3) // v1
    ints(src, 4) // v2
    runOnce() // restart tails exactly v1..v2; v0 stays excluded
    val rows = DeltaTable.forPath(spark, dst).toDF.select("n").as[Int].collect().toSeq
    assert(rows.sorted == Seq(3, 4), s"expected only post-start commits, got $rows")
  }

  test("restart paths never persist a re-resolved start (poisoned recovery)") {
    import graft.streaming.GraftDeltaSource
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val dir = tmpDir()
    // checkpoint layout: <ckpt>/sources/0 is the source metadata dir and
    // <ckpt>/offsets holds the WAL — a RESTARTED stream always has entries
    // there (pre-persistence checkpoint: entries but no graftSourceStart)
    val ckpt = java.nio.file.Paths.get(tmpDir())
    val meta = ckpt.resolve("sources").resolve("0")
    java.nio.file.Files.createDirectories(meta)
    java.nio.file.Files.createDirectories(ckpt.resolve("offsets"))
    java.nio.file.Files.write(ckpt.resolve("offsets").resolve("0"), "v1".getBytes)
    ints(dir, 1, 2)
    // construction, latestOffset and prepareForTriggerAvailableNow on the
    // restarted stream must NOT write the start file, or a later
    // getBatch(None, end) would recover from a base the WAL never admitted
    val src = new GraftDeltaSource(spark, dir, Map.empty,
      metadataPath = Some(meta.toString))
    src.prepareForTriggerAvailableNow()
    src.latestOffset(src.deserializeOffset(
      """{"version":0,"index":1,"isInitialSnapshot":true}"""), ReadLimit.allAvailable())
    assert(!java.nio.file.Files.exists(meta.resolve("graftSourceStart")),
      "restart-path calls must not persist a start offset")

    // a genuinely FRESH stream (empty offsets WAL) persists at construction
    val ckpt2 = java.nio.file.Paths.get(tmpDir())
    val meta2 = ckpt2.resolve("sources").resolve("0")
    java.nio.file.Files.createDirectories(meta2)
    new GraftDeltaSource(spark, dir, Map.empty, metadataPath = Some(meta2.toString))
    assert(java.nio.file.Files.exists(meta2.resolve("graftSourceStart")))

    // the pin records its startingVersion spec: a restart with a CORRECTED
    // option ignores the old resolution (backfill after a failed first run)
    val pinned = new String(java.nio.file.Files.readAllBytes(
      meta2.resolve("graftSourceStart")), "UTF-8")
    assert(pinned.contains("\"startingVersion\":\"none\""), pinned)
    val corrected = new GraftDeltaSource(spark, dir,
      Map("startingVersion" -> "0"), metadataPath = Some(meta2.toString))
    assert(GraftSourceOffset.from(corrected.initialOffset()) ==
      GraftSourceOffset(0, 0, isInitialSnapshot = false),
      "a changed startingVersion must invalidate the old pin")
  }

  test("corrupt start pin: ignored on fresh streams, loud on restarts") {
    import graft.streaming.GraftDeltaSource
    val dir = tmpDir()
    ints(dir, 1, 2)
    // fresh stream (empty offsets WAL): nothing was admitted under the old
    // pin, so a corrupt pin is replaced by a re-resolution
    val ckpt = java.nio.file.Paths.get(tmpDir())
    val meta = ckpt.resolve("sources").resolve("0")
    java.nio.file.Files.createDirectories(meta)
    java.nio.file.Files.createDirectories(ckpt.resolve("offsets"))
    java.nio.file.Files.write(meta.resolve("graftSourceStart"),
      """{"offset":{"version":0,"index""".getBytes) // torn write
    val fresh = new GraftDeltaSource(spark, dir, Map.empty,
      metadataPath = Some(meta.toString))
    fresh.initialOffset() // must not throw
    // restarted stream (WAL has entries): re-resolving would skip
    // WAL-admitted rows — must fail loudly instead
    val ckpt2 = java.nio.file.Paths.get(tmpDir())
    val meta2 = ckpt2.resolve("sources").resolve("0")
    java.nio.file.Files.createDirectories(meta2)
    java.nio.file.Files.createDirectories(ckpt2.resolve("offsets"))
    java.nio.file.Files.write(ckpt2.resolve("offsets").resolve("0"), "v1".getBytes)
    java.nio.file.Files.write(meta2.resolve("graftSourceStart"),
      """{"offset":{"version":0,"index""".getBytes)
    val restarted = new GraftDeltaSource(spark, dir, Map.empty,
      metadataPath = Some(meta2.toString))
    val e = intercept[IllegalStateException] { restarted.initialOffset() }
    assert(e.getMessage.contains("corrupt stream-start pin"), e.getMessage)
  }

  test("user-specified stream schema is refused") {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val dir = tmpDir()
    ints(dir, 1)
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-delta")
        .schema(StructType(Seq(StructField("bogus", IntegerType))))
        .load(dir)
    }
    assert(e.getMessage.contains("user-specified schema"))
  }

  test("non-positive maxFilesPerTrigger is rejected at the source") {
    val dir = tmpDir()
    ints(dir, 1)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-delta")
        .option("maxFilesPerTrigger", 0).load(dir)
        .writeStream.format("memory").queryName(nextView()).start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(e.getCause.getMessage.contains("maxFilesPerTrigger must be positive"))
  }

  test("startingVersion tails from a given commit; latest skips history") {
    import spark.implicits._
    val dir = tmpDir()
    ints(dir, 1, 2) // version 0
    ints(dir, 3)    // version 1
    ints(dir, 4)    // version 2
    val view = nextView()
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", 2).load(dir)
      .writeStream.format("memory").queryName(view).start()
    try {
      q.processAllAvailable()
      assert(spark.table(view).select("n").as[Int].collect().toSet == Set(4))
    } finally q.stop()

    val view2 = nextView()
    val q2 = spark.readStream.format("graft-delta")
      .option("startingVersion", "latest").load(dir)
      .writeStream.format("memory").queryName(view2).start()
    try {
      q2.processAllAvailable()
      assert(spark.table(view2).count() == 0)
      ints(dir, 9)
      q2.processAllAvailable()
      assert(spark.table(view2).select("n").as[Int].collect().toSet == Set(9))
    } finally q2.stop()
  }

  test("change commits: fail by default, skipped with skipChangeCommits") {
    import spark.implicits._
    val dir = tmpDir()
    ints(dir, 1, 2, 3, 4, 5, 6)
    val view = nextView()
    val q = spark.readStream.format("graft-delta").load(dir)
      .writeStream.format("memory").queryName(view).start()
    try {
      q.processAllAvailable()
      DeltaTable.forPath(spark, dir).delete(Some("n = 1")) // rewrite commit
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(ex.getMessage.contains("skipChangeCommits") ||
        Option(ex.getCause).exists(_.getMessage.contains("skipChangeCommits")))
    } finally q.stop()

    val view2 = nextView()
    val q2 = spark.readStream.format("graft-delta")
      .option("skipChangeCommits", true).load(dir)
      .writeStream.format("memory").queryName(view2).start()
    try {
      q2.processAllAvailable()
      val before = spark.table(view2).count()
      DeltaTable.forPath(spark, dir).delete(Some("n = 2"))
      ints(dir, 10)
      q2.processAllAvailable()
      // the delete commit is skipped, the append after it still arrives
      assert(spark.table(view2).count() == before + 1)
      assert(spark.table(view2).where("n = 10").count() == 1)
    } finally q2.stop()
  }

  test("initial snapshot applies deletion-vector masks") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (1 to 100).map(i => (i, s"v$i")).toDF("n", "v"), dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.forPath(spark, dir).delete(Some("n <= 40"))
    val view = nextView()
    val q = spark.readStream.format("graft-delta").load(dir)
      .writeStream.format("memory").queryName(view).start()
    try {
      q.processAllAvailable()
      assert(spark.table(view).select("n").as[Int].collect().toSet == (41 to 100).toSet)
    } finally q.stop()
  }

  test("delta-to-delta pipeline restarts from its checkpoint exactly once") {
    import spark.implicits._
    val src = tmpDir(); val dst = tmpDir(); val ckpt = tmpDir()
    ints(src, 1, 2, 3)

    def run(): Unit = {
      val q = spark.readStream.format("graft-delta").load(src)
        .writeStream.format("graft-delta")
        .option("checkpointLocation", ckpt)
        .start(dst)
      try q.processAllAvailable() finally q.stop()
    }

    run()
    assert(DeltaTable.forPath(spark, dst).toDF
      .select("n").as[Int].collect().toSet == Set(1, 2, 3))

    ints(src, 4, 5)
    run() // restart from checkpoint: only the new commit flows
    val out = DeltaTable.forPath(spark, dst).toDF.select("n").as[Int].collect().toSeq
    assert(out.sorted == Seq(1, 2, 3, 4, 5), s"duplicates or loss: $out")

    run() // nothing new: no extra rows
    assert(DeltaTable.forPath(spark, dst).toDF.count() == 5)
  }

  test("batch format: write with partitionBy, read back, filters prune files") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 100).map(i => (i, s"v$i", i % 4)).toDF("n", "v", "p")
      .write.format("graft-delta").mode("append").partitionBy("p").save(dir)
    // overwrite of one partition via replaceWhere
    Seq((200, "x", 1)).toDF("n", "v", "p")
      .write.format("graft-delta").mode("overwrite")
      .option("replaceWhere", "p = 1").save(dir)

    val df = spark.read.format("graft-delta").load(dir)
    assert(df.count() == 76) // 75 untouched + 1 replacement
    assert(df.where("p = 1").select("n").as[Int].collect().toSeq == Seq(200))
    // partition filter reads only that partition's file(s)
    val scanned = df.where("p = 2").select("n")
    assert(scanned.as[Int].collect().toSet == (1 to 100).filter(_ % 4 == 2).toSet)
    assert(df.where("n > 90 and p = 3").select("v").as[String].collect().toSet ==
      (91 to 100).filter(_ % 4 == 3).map(i => s"v$i").toSet)
  }

  test("batch format: versionAsOf time travel") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1, "a")).toDF("n", "v").write.format("graft-delta").save(dir) // v0
    Seq((2, "b")).toDF("n", "v").write.format("graft-delta")
      .mode("append").save(dir) // v1
    assert(spark.read.format("graft-delta").option("versionAsOf", 0)
      .load(dir).count() == 1)
    assert(spark.read.format("graft-delta").load(dir).count() == 2)
  }

  test("complete-mode sink replaces contents atomically with its txn") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dst = tmpDir(); val ckpt = tmpDir()
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val agg = input.toDF().toDF("n").groupBy(expr("n % 2").as("bucket"))
      .agg(count("*").as("cnt"))
    val q = agg.writeStream.format("graft-delta")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .start(dst)
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      input.addData(4)
      q.processAllAvailable()
      val rows = DeltaTable.forPath(spark, dst).toDF
        .select("bucket", "cnt").as[(Long, Long)].collect().toMap
      assert(rows == Map(0L -> 2L, 1L -> 2L)) // latest aggregate only
    } finally q.stop()
  }

  test("readChangeFeed: streaming feed matches the batch CDF") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 20).map(i => (i, s"v$i")).toDF("id", "v"),
      dir, configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id < 5"))                                        // v1: cdc files
    val view = nextView()
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").option("maxFilesPerTrigger", 1)
      .load(dir)
      .writeStream.format("memory").queryName(view).start()
    try {
      q.processAllAvailable()
      // a post-start commit flows incrementally
      DeltaTable.write(spark,
        Seq((100, "x")).toDF("id", "v"), dir, mode = "append")      // v2
      q.processAllAvailable()

      val got = spark.table(view)
        .select("id", "v", "_change_type", "_commit_version")
        .as[(Int, String, String, Long)].collect().sorted.toSeq
      // expected: initial snapshot (v1 state, 15 survivors as inserts at v1)
      // + v1's cdc deletes? No — the initial snapshot is the STARTING state:
      // stream began after v1, so snapshot(v=1) inserts + v2's append.
      val snapInserts = (5 until 20).map(i => (i, s"v$i", "insert", 1L))
      val tail = Seq((100, "x", "insert", 2L))
      assert(got == (snapInserts ++ tail).sorted)
      // _commit_timestamp present and non-null
      assert(spark.table(view).filter("_commit_timestamp IS NULL").count() == 0)
    } finally q.stop()

    // startingVersion=0 replays the full feed == batch loadCdf(0)
    val view2 = nextView()
    val q2 = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").option("startingVersion", 0)
      .load(dir)
      .writeStream.format("memory").queryName(view2).start()
    try {
      q2.processAllAvailable()
      val streamRows = spark.table(view2)
        .select("id", "v", "_change_type", "_commit_version")
        .as[(Int, String, String, Long)].collect().sorted.toSeq
      val batchRows = t.loadCdf(0)
        .select("id", "v", "_change_type", "_commit_version")
        .as[(Int, String, String, Long)].collect().sorted.toSeq
      assert(streamRows == batchRows)
    } finally q2.stop()
  }

  test("readChangeFeed refused without CDF enabled") {
    val dir = tmpDir()
    ints(dir, 1, 2, 3)
    val e = intercept[Exception] {
      spark.readStream.format("graft-delta")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("memory").queryName(nextView()).start()
        .processAllAvailable()
    }
    assert(e.getMessage.contains("enableChangeDataFeed") ||
      e.getCause != null && e.getCause.getMessage.contains("enableChangeDataFeed"))
  }
}

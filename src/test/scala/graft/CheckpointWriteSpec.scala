package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.{FSDataInputStream, FileUtil, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel._
import graft.table.DeltaTable
import SnapshotCacheSpec.{jobs, state}

/** Checkpoints of a snapshot held in driver memory are written from the
  * driver: same footer schema and same replayed state as a JSON replay, in
  * all three layouts, and no Spark job. A cold load of such a checkpoint is
  * read on the driver too. */
class CheckpointWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-checkpoint-write")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpDir(): String = Files.createTempDirectory("graft_cpw_").toString + "/t"

  /** A partitioned, column-mapped table with a null partition value, a DV
    * add, live tombstones, a txn and a domain; V2 checkpoints on request. */
  private def build(v2: Boolean): DeltaTable = {
    val dir = tmpDir()
    val rows = spark.range(0, 12, 1, 1).select(col("id"),
      when(col("id") % 3 === 0, lit(null)).otherwise((col("id") % 3).cast("string")).as("p"))
    DeltaTable.write(spark, rows, dir, partitionBy = Seq("p"), configuration = Map(
      "delta.columnMapping.mode" -> "name",
      "delta.enableDeletionVectors" -> "true",
      "delta.checkpointInterval" -> "100") ++
      (if (v2) Map("delta.checkpointPolicy" -> "v2") else Map.empty))
    val t = DeltaTable.forPath(spark, dir)
    if (v2) t.addFeature("v2Checkpoint")
    DeltaTable.write(spark, spark.range(20, 23).select(col("id"), lit("1").as("p")), dir,
      appTxn = Some(("app", 7L)))
    t.startTransaction().commit(Seq(DomainMetadata("graft.test", """{"k":"v"}""")),
      Operation("SET DOMAIN"))
    t.delete(Some("id = 4"))  // one row of the p=1 file: a DV add
    t.delete(Some("p = '2'")) // whole files: tombstones
    val s = t.refresh()
    assert(s.allFiles.exists(_.deletionVector.isDefined), "a DV add")
    assert(s.allFiles.exists(_.partitionValues.values.exists(_ == null)), "a null partition")
    assert(s.tombstones.nonEmpty && s.txns.nonEmpty && s.domains.nonEmpty)
    assert(s.protocol.readerFeatures.exists(_.contains("columnMapping")) &&
      s.protocol.writerFeatures.exists(_.contains("deletionVectors")))
    t
  }

  /** Checkpoints `t` and checks it: no Spark job, the footer schema Spark
    * writes for `checkpointSchema`, and the state of a JSON replay. Returns
    * the parquet files written. */
  private def check(t: DeltaTable, readBack: (DeltaLog, Long) => Seq[Action],
      parquetFiles: (DeltaLog, Long) => Seq[Path]): Seq[Path] = {
    val v = t.refresh().version
    val (_, n) = jobs(spark)(t.createCheckpoint())
    assert(n == 0, "createCheckpoint() of an eager snapshot launched Spark jobs")

    val log = t.deltaLog
    assert(state(readBack(log, v)) == state((0L to v).flatMap(log.readCommit)))
    val files = parquetFiles(log, v)
    assert(files.nonEmpty)
    val conf = spark.sessionState.newHadoopConf()
    val expected = new SparkToParquetSchemaConverter(spark.sessionState.conf)
      .convert(Checkpoints.checkpointSchema)
    files.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try assert(reader.getFooter.getFileMetaData.getSchema == expected, f.toString)
      finally reader.close()
    }
    files
  }

  private def hint(log: DeltaLog): String =
    log.store.read(new Path(log.logPath, LogStore.LAST_CHECKPOINT)).mkString

  test("classic single-file checkpoint") {
    val t = build(v2 = false)
    val files = check(t,
      (log, v) => Checkpoints.read(spark, new Path(log.logPath, LogStore.checkpointFileName(v))),
      (log, v) => Seq(new Path(log.logPath, LogStore.checkpointFileName(v))))
    val rows = Checkpoints.read(spark, files, withFiles = true).size
    assert(hint(t.deltaLog) == s"""{"version":${t.version},"size":$rows}""")
  }

  test("classic multi-part checkpoint") {
    val t = build(v2 = false)
    spark.conf.set("spark.graft.checkpoint.partSize", "3")
    try {
      def parts(log: DeltaLog, v: Long): Seq[Path] = {
        val fs = log.logPath.getFileSystem(log.store.conf)
        val names = fs.listStatus(log.logPath).map(_.getPath.getName)
          .filter(_.startsWith(LogStore.zeroPad(v, 20) + ".checkpoint.")).sorted.toSeq
        names.map(new Path(log.logPath, _))
      }
      val files = check(t, (log, v) => Checkpoints.read(spark, parts(log, v), withFiles = true),
        parts)
      val n = files.size
      assert(n > 1)
      assert(files.map(_.getName) ==
        (1 to n).map(LogStore.multiPartCheckpointFileName(t.version, _, n)))
      val rows = Checkpoints.read(spark, files, withFiles = true).size
      assert(hint(t.deltaLog) == s"""{"version":${t.version},"size":$rows,"parts":$n}""")
    } finally spark.conf.unset("spark.graft.checkpoint.partSize")
  }

  test("V2 checkpoint: manifest and sidecars") {
    val t = build(v2 = true)
    def manifest(log: DeltaLog, v: Long): Path = {
      val fs = log.logPath.getFileSystem(log.store.conf)
      val m = fs.listStatus(log.logPath).map(_.getPath)
        .filter(_.getName.matches(
          LogStore.zeroPad(v, 20) + "\\.checkpoint\\.[0-9a-f-]{36}\\.json"))
      assert(m.length == 1, m.toSeq)
      m.head
    }
    check(t,
      (log, v) => Checkpoints.readResolved(spark, log.store, log.logPath, Seq(manifest(log, v)),
        withFiles = true),
      (log, v) => Checkpoints.manifestSidecars(spark, log.store, log.logPath, manifest(log, v)))
  }

  test("the postCommit checkpoint of an eager snapshot launches no Spark job") {
    import spark.implicits._
    val dir = tmpDir()
    def append(i: Long) = jobs(spark)(
      DeltaTable.write(spark, Seq((i, s"r$i")).toDF("id", "v"), dir, mode = "append",
        configuration = Map("delta.checkpointInterval" -> "2")))._2
    append(0)
    val plain = append(1)
    // call sites cannot tell the checkpoint's jobs apart: adaptive execution
    // runs shuffle stages on its own threads, whose stacks hold no graft frame
    val checkpointing = append(2)
    assert(new java.io.File(dir, s"_delta_log/${LogStore.checkpointFileName(2)}").exists)
    assert(checkpointing == plain, "the checkpointing append ran more jobs than a plain one")
  }

  /** `t`'s log copied to a fresh path (so no snapshot-cache entry) without
    * its JSON commits: a load must replay from the checkpoint alone. */
  private def checkpointOnlyCopy(t: DeltaTable): DeltaLog = {
    val conf = spark.sessionState.newHadoopConf()
    val src = t.deltaLog.logPath
    val fs = src.getFileSystem(conf)
    val dst = new Path(tmpDir(), LogStore.LOG_DIR)
    assert(FileUtil.copy(fs, src, fs, dst, false, conf))
    fs.listStatus(dst).map(_.getPath).filter(p => LogStore.isCommitFile(p.getName))
      .foreach(fs.delete(_, false))
    new DeltaLog(spark, dst.getParent)
  }

  private def actionsOf(s: Snapshot): Seq[Action] =
    Seq(s.protocol, s.metadata) ++ s.allFiles ++ s.tombstones ++
      s.txns.map { case (app, v) => SetTransaction(app, v, None) } ++ s.domains.values

  /** Cold loads of `log`, full and metadata-only, launch no Spark job and
    * build an eager snapshot. Returns the snapshot. */
  private def coldLoad(log: DeltaLog): Snapshot = {
    val (snap, n) = jobs(spark)(log.snapshot())
    assert(n == 0, "a cold load of an eager checkpointed table launched Spark jobs")
    assert(snap.lazyIndex.isEmpty)
    val (meta, m) = jobs(spark)(log.metadataSnapshot())
    assert(m == 0, "metadataSnapshot() launched Spark jobs")
    assert(meta.version == snap.version && meta.metadata == snap.metadata &&
      meta.protocol == snap.protocol && meta.txns == snap.txns)
    snap
  }

  test("cold loads of eager classic, multi-part and V2 checkpoints launch no Spark job") {
    for ((v2, partSize) <- Seq((false, None), (false, Some("3")), (true, None))) {
      val t = build(v2)
      partSize.foreach(spark.conf.set("spark.graft.checkpoint.partSize", _))
      try t.createCheckpoint()
      finally spark.conf.unset("spark.graft.checkpoint.partSize")
      val snap = coldLoad(checkpointOnlyCopy(t))
      assert(snap.version == t.version)
      assert(state(actionsOf(snap)) == state((0L to t.version).flatMap(t.deltaLog.readCommit)),
        s"v2=$v2 partSize=$partSize")
    }
  }

  test("a cold load of an eager stats_parsed-only checkpoint launches no Spark job") {
    val dir = tmpDir()
    DeltaTable.write(spark, spark.range(1, 101).toDF().repartitionByRange(2, col("id")), dir)
    val t = DeltaTable.forPath(spark, dir)
    t.createCheckpoint()
    // rewritten as delta-spark lays out writeStatsAsJson=false: the stats
    // as an `add.stats_parsed` struct, the raw JSON null
    val cp = new Path(t.deltaLog.logPath, LogStore.checkpointFileName(t.version))
    val rewritten = tmpDir()
    spark.read.parquet(cp.toString).withColumn("add", col("add")
      .withField("stats_parsed", struct(
        get_json_object(col("add.stats"), "$.numRecords").cast("long").as("numRecords"),
        struct(get_json_object(col("add.stats"), "$.minValues.id").cast("long").as("id"))
          .as("minValues"),
        struct(get_json_object(col("add.stats"), "$.maxValues.id").cast("long").as("id"))
          .as("maxValues")))
      .withField("stats", lit(null).cast("string")))
      .coalesce(1).write.parquet(rewritten)
    val fs = cp.getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new Path(rewritten)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fs.delete(cp, false) && fs.rename(part, cp))

    val snap = coldLoad(checkpointOnlyCopy(t))
    val original = state((0L to t.version).flatMap(t.deltaLog.readCommit))
    assert(snap.allFiles.map(f => f.reconcileKey -> f.copy(stats = None)).toMap ==
      original.adds.map { case (k, f) => k -> f.copy(stats = None) })
    assert(snap.allFiles.forall(_.stats.isDefined), "stats synthesized from stats_parsed")
    assert(snap.approxNumRecords.contains(100L))
    val pred = graft.table.Scan.parsePredicate(spark, "id <= 1")
    assert(graft.table.Scan.prunedFiles(snap, Seq(pred)).size == 1)
  }

  test("a checkpoint read that fails part-way closes the part it opened") {
    val dir = tmpDir()
    DeltaTable.write(spark, spark.range(0, 100).toDF(), dir)
    val t = DeltaTable.forPath(spark, dir)
    t.createCheckpoint()
    // a copy of the checkpoint whose column chunks are overwritten and whose
    // footer is intact: the read opens it and fails while decoding rows
    val root = Files.createTempDirectory("graft_cpw_corrupt_")
    val bytes = Files.readAllBytes(
      Paths.get(dir, "_delta_log", LogStore.checkpointFileName(t.version)))
    val footerLen = ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footerLen, 0xff.toByte)
    Files.write(root.resolve("cp.parquet"), bytes)
    Mount.register(spark, "cpcount", root.toString)
    spark.sparkContext.hadoopConfiguration.set("fs.cpcount.impl",
      classOf[CountingMountFileSystem].getName)
    try for (vectorized <- Seq("true", "false")) {
      spark.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
      val opened = CountingMountFileSystem.opened.get
      intercept[Exception](Checkpoints.read(spark, new Path("cpcount:/cp.parquet")))
      assert(CountingMountFileSystem.opened.get > opened, s"vectorized=$vectorized")
      assert(CountingMountFileSystem.closed.get == CountingMountFileSystem.opened.get,
        s"vectorized=$vectorized: a stream of the failed read was left open")
    } finally {
      spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
      Mount.unregister(spark, "cpcount")
    }
  }
}

/** A [[MountFileSystem]] that counts the streams it opens and closes. */
class CountingMountFileSystem extends MountFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingMountFileSystem.opened.incrementAndGet()
    new FSDataInputStream(super.open(f, bufferSize)) {
      private val done = new AtomicBoolean
      override def close(): Unit = {
        if (done.compareAndSet(false, true)) CountingMountFileSystem.closed.incrementAndGet()
        super.close()
      }
    }
  }
}

object CountingMountFileSystem {
  val opened = new AtomicInteger
  val closed = new AtomicInteger
}

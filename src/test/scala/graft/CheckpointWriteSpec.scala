package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
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
  * all three layouts, and no Spark job. */
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
}

package graft

import java.io.IOException
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel._
import graft.table.DeltaTable

/** Data files are written at their final paths by one commit protocol that
  * collects each file's stats in the writing task: the committed Adds match
  * their files, nothing moves after the write, a failed write leaves only
  * the files the log names, and the parquet settings Delta needs never touch
  * the user's session. */
class DeltaWriterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-writer")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A fresh table path on the probe filesystem, mounted at a temp dir. */
  private def probeTable(scheme: String): (String, java.nio.file.Path) = {
    val root = Files.createTempDirectory("graft_writer_")
    Mount.register(spark, scheme, root.toString, allowUnsafeRename = true)
    spark.sparkContext.hadoopConfiguration.set(s"fs.$scheme.impl",
      classOf[WriteProbeFileSystem].getName)
    (s"$scheme:/t", root.resolve("t"))
  }

  /** Every data file under the table dir, `_change_data/` included, as a
    * path relative to it (checksum siblings and the log left out). */
  private def filesOnDisk(local: java.nio.file.Path): Set[String] =
    Files.walk(local).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(p => local.relativize(p).toString)
      .filterNot(_.startsWith("_delta_log"))
      .toSet

  /** Every file any commit of the table names. */
  private def filesInLog(t: DeltaTable): Set[String] =
    (0L to t.refresh().version).flatMap(t.deltaLog.readCommit).collect {
      case a: AddFile => a.path
      case r: RemoveFile => r.path
      case c: AddCDCFile => c.path
    }.map(PathCodec.decode).toSet

  /** Polls: a killed task's abort may still be running when the job's
    * failure reaches the driver. */
  private def eventually(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
    cond
  }

  /** Each committed Add's stats equal a driver-side footer read of its file,
    * and its size and modification time equal the file's status. */
  private def assertParity(t: DeltaTable, statsCols: Option[Set[String]] = None): Unit = {
    val snap = t.refresh()
    val conf = spark.sessionState.newHadoopConf()
    assert(snap.allFiles.nonEmpty)
    snap.allFiles.foreach { a =>
      val file = snap.absolutePath(a.path)
      val fileSchema = spark.read.format("parquet")
        .load(PathCodec.globEscape(file.toString)).schema
      val st = file.getFileSystem(conf).getFileStatus(file)
      assert(a.stats.contains(ParquetStats.collect(conf, st, fileSchema, 32, statsCols)._2),
        a.path)
      assert(a.size == st.getLen && a.modificationTime == st.getModificationTime, a.path)
    }
  }

  test("committed Adds match their files: stats, size, placement, no move") {
    import spark.implicits._
    val (dir, local) = probeTable("wprobe")
    try {
      WriteProbeFileSystem.reset()
      val odd = "a/b=c%d e"
      val rows = Seq((1L, Some("x")), (2L, None), (3L, Some(odd)), (4L, Some(odd)))
      DeltaTable.write(spark, rows.take(2).toDF("id", "p"), dir, partitionBy = Seq("p"))
      val statusCalls = WriteProbeFileSystem.dataStatusCalls.get
      DeltaTable.write(spark, rows.drop(2).toDF("id", "p"), dir, mode = "append")
      val t = DeltaTable.forPath(spark, dir)
      // the committer's status of each file also opens it for its stats; the
      // other call is Spark's task stats tracker
      val appended = t.deltaLog.readCommit(1L).count(_.isInstanceOf[AddFile])
      assert(appended > 0)
      assert(WriteProbeFileSystem.dataStatusCalls.get - statusCalls <= 2 * appended,
        s"${WriteProbeFileSystem.dataStatusCalls.get - statusCalls} status calls for $appended files")
      assertParity(t)
      val byPart = t.snapshot.allFiles.groupBy(_.partitionValues("p")).view
        .mapValues(_.flatMap(_.numRecords).sum).toMap
      assert(byPart == Map("x" -> 1L, (null: String) -> 1L, odd -> 2L))
      // each Add lies in the partition dir Spark names for its value
      t.snapshot.allFiles.foreach { a =>
        val v = a.partitionValues("p")
        val dirName = "p=" + graft.table.DeltaWriter.escapePathName(
          if (v == null) PartitionCodec.HIVE_DEFAULT else v)
        assert(PathCodec.decode(a.path).startsWith(dirName + "/"), a.path)
      }
      assert(t.toDF.filter(col("p") === odd).count() == 2)
      assert(t.toDF.filter(col("p").isNull).count() == 1)

      val mappedDir = dir + "_mapped"
      DeltaTable.write(spark, Seq((1L, "a", 10)).toDF("id", "name", "k"), mappedDir,
        partitionBy = Seq("k"), configuration = Map("delta.columnMapping.mode" -> "name"))
      DeltaTable.write(spark, Seq((2L, "b", 20)).toDF("id", "name", "k"), mappedDir,
        mode = "append")
      val mapped = DeltaTable.forPath(spark, mappedDir)
      assertParity(mapped)
      // files and dirs carry physical names
      assert(mapped.snapshot.allFiles.forall(a => !PathCodec.decode(a.path).startsWith("k=")))
      assert(mapped.toDF.select("id", "name", "k").as[(Long, String, Int)].collect().toSet ==
        Set((1L, "a", 10), (2L, "b", 20)))

      val listedDir = dir + "_listed"
      DeltaTable.write(spark, Seq((1L, "a", 1.0)).toDF("a", "b", "c"), listedDir,
        configuration = Map("delta.dataSkippingStatsColumns" -> "b"))
      DeltaTable.write(spark, Seq((2L, "b", 2.0)).toDF("a", "b", "c"), listedDir,
        mode = "append")
      assertParity(DeltaTable.forPath(spark, listedDir), Some(Set("b")))

      assert(WriteProbeFileSystem.dataRenames.get == 0, "a data file was renamed")
      assert(WriteProbeFileSystem.stagingDirs.get == 0, "a staging dir was created")
      assert(filesOnDisk(local) == filesInLog(t))
    } finally Mount.unregister(spark, "wprobe")
  }

  test("a failed write leaves no uncommitted file behind") {
    val (dir, local) = probeTable("wfail")
    try {
      // constraint violation in the last of four tasks, held back so the
      // other three have committed and reported first: the job's abort
      // deletes their files, the failing attempt's abort its own. (A task
      // that commits while its job is failing is not reported to the driver
      // and leaves an uncommitted file for VACUUM; a killed one deletes its
      // files itself.)
      DeltaTable.write(spark, spark.range(1, 5).toDF("n"), dir,
        configuration = Map("delta.constraints.pos" -> "n > 0",
          "delta.enableChangeDataFeed" -> "true"))
      val lateLast = udf { (id: Long) => if (id == 999) { Thread.sleep(3000); -1L } else id + 1 }
      intercept[graft.ops.ConstraintViolationException] {
        DeltaTable.write(spark, spark.range(0, 1000, 1, 4).select(lateLast(col("id")).as("n")),
          dir, mode = "append")
      }
      val t = DeltaTable.forPath(spark, dir)
      assert(t.version == 0)
      assert(eventually(filesOnDisk(local) == filesInLog(t)),
        s"on disk ${filesOnDisk(local)} vs log ${filesInLog(t)}")

      // a CDF DELETE whose rewrite fails in its second task, late (the
      // probe waits before failing the create): one file per scan task, so
      // the first task's rewrite has committed when the job fails, and
      // nothing reaches _change_data
      DeltaTable.write(spark, spark.range(100, 200, 1, 2).toDF("n"), dir, mode = "append")
      val before = filesInLog(t)
      spark.conf.set("spark.sql.files.openCostInBytes", (256L << 20).toString)
      WriteProbeFileSystem.failDataCreate.set(true)
      try intercept[Exception](t.delete(Some("n % 10 = 0")))
      finally {
        WriteProbeFileSystem.failDataCreate.set(false)
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
      assert(WriteProbeFileSystem.injected.get > 0, "the rewrite did not fail")
      assert(filesInLog(t) == before)
      assert(eventually(filesOnDisk(local) == before),
        s"on disk ${filesOnDisk(local)} vs log $before")
      assert(t.refresh().version == 1 && t.toDF.count() == 104)
    } finally Mount.unregister(spark, "wfail")
  }

  test("Delta's parquet settings stay local to the write") {
    val session = Map(
      "spark.sql.parquet.outputTimestampType" -> "INT96",
      "spark.sql.variant.writeShredding.enabled" -> "true")
    val base = Files.createTempDirectory("graft_writer_conf_").toString
    val df = spark.sql(
      """SELECT id, timestamp_micros(1700000000123456 + id) AS ts,
        |parse_json(concat('{"k":', id, ',"s":"x"}')) AS v FROM range(20)""".stripMargin)
    def footer(dir: String): GroupType = {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(dir)
      val file = p.getFileSystem(conf).listStatus(p).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    def fieldNames(s: GroupType, c: String): Set[String] =
      s.getType(c).asGroupType().getFields.asScala.map(_.getName).toSet
    session.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // control: a plain Spark write under these settings is INT96 and shredded
      df.coalesce(1).write.parquet(s"$base/plain")
      val plain = footer(s"$base/plain")
      assert(plain.getType("ts").asPrimitiveType().getPrimitiveTypeName ==
        PrimitiveType.PrimitiveTypeName.INT96)
      assert(fieldNames(plain, "v").contains("typed_value"))

      DeltaTable.write(spark, df.coalesce(1), s"$base/t")
      session.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
      val delta = footer(s"$base/t")
      val ts = delta.getType("ts").asPrimitiveType()
      assert(ts.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64)
      assert(ts.getLogicalTypeAnnotation ==
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      assert(fieldNames(delta, "v") == Set("value", "metadata"))
      assert(DeltaTable.forPath(spark, s"$base/t").toDF.count() == 20)
    } finally session.keys.foreach(spark.conf.unset)
  }
}

/** A [[CountingMountFileSystem]] that counts data-file renames, staging
  * dirs and data-file status calls, and on request fails the create of the
  * second write task's file, after a wait. */
class WriteProbeFileSystem extends CountingMountFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    if (f.getName.startsWith("part-")) WriteProbeFileSystem.dataStatusCalls.incrementAndGet()
    super.getFileStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (!src.toString.contains("_delta_log")) WriteProbeFileSystem.dataRenames.incrementAndGet()
    super.rename(src, dst)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    if (f.toString.contains(".tmp_write_")) WriteProbeFileSystem.stagingDirs.incrementAndGet()
    super.mkdirs(f, permission)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (WriteProbeFileSystem.failDataCreate.get && f.getName.startsWith("part-00001")) {
      WriteProbeFileSystem.injected.incrementAndGet()
      Thread.sleep(3000)
      throw new IOException(s"injected create failure: $f")
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object WriteProbeFileSystem {
  val dataRenames = new AtomicInteger
  val stagingDirs = new AtomicInteger
  val injected = new AtomicInteger
  val dataStatusCalls = new AtomicInteger
  val failDataCreate = new AtomicBoolean

  def reset(): Unit = {
    dataRenames.set(0); stagingDirs.set(0); injected.set(0); dataStatusCalls.set(0)
  }
}

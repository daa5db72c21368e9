package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel._
import graft.table.DeltaTable
import SnapshotCacheSpec.{fullReplays, state}

/** The kernel snapshot cache (`DeltaLog` companion): every load validates
  * the cached snapshot against the store alone and replays only the commits
  * written since it. */
class SnapshotCacheSpec extends AnyFunSuite {

  // a `file:` URI: the counting LogStore below is registered for that scheme
  private val warehouse =
    new Path(Files.createTempDirectory("graft-snapcache").toUri).toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-snapshot-cache")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.sc", "graft.catalog.GraftCatalog")
    .config("spark.sql.catalog.sc.warehouse", warehouse)
    .getOrCreate()

  private def sql(q: String) = spark.sql(q)
  private def count(t: String): Long = sql(s"SELECT count(*) FROM $t").head().getLong(0)
  private lazy val fs = new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())
  private def logFiles(dir: String): Seq[FileStatus] =
    fs.listStatus(new Path(dir, "_delta_log")).toSeq
      .filter(f => LogStore.isCommitFile(f.getPath.getName)).sortBy(_.getPath.getName)
  private def dataFiles(dir: String): Set[String] =
    fs.listStatus(new Path(dir)).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet

  /** Spark jobs launched from `graft.kernel` code while `body` runs. */
  private def kernelJobs[A](body: => A): (A, Int) =
    SnapshotCacheSpec.jobs(spark, kernelOnly = true)(body)

  test("a future commit mtime does not stop the cache from serving") {
    sql("CREATE NAMESPACE sc.fut")
    sql("CREATE TABLE sc.fut.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('delta.checkpointInterval' = '2')")
    (1 to 3).foreach(i => sql(s"INSERT INTO sc.fut.t VALUES ($i, 'r$i')")) // checkpoint at v2
    val dir = s"$warehouse/fut/t"
    val latest = logFiles(dir).last.getPath
    fs.setTimes(latest, System.currentTimeMillis() + 3600L * 1000, -1)

    // the changed mtime fails the check once
    val (first, replays) = fullReplays(count("sc.fut.t"))
    assert(first == 3)
    assert(replays.size == 1 && replays.head.endsWith("failed check"), replays)
    val (again, replaysAgain) = fullReplays(count("sc.fut.t"))
    assert(again == 3)
    assert(replaysAgain.isEmpty, "the second SELECT must be served from the cache")

    sql("INSERT INTO sc.fut.t VALUES (4, 'r4')")
    val (after, replaysAfter) = fullReplays(count("sc.fut.t"))
    assert(after == 4)
    assert(replaysAfter.isEmpty, "the append is replayed as one new commit")
  }

  test("a table re-created at a cached path is served, not the dead one") {
    sql("CREATE NAMESPACE sc.re")
    // t1 and t2: same DDL, same rows, same-length names
    Seq("t1", "t2").foreach { t =>
      sql(s"CREATE TABLE sc.re.$t (id BIGINT, v STRING)")
      sql(s"INSERT INTO sc.re.$t VALUES (1, 'a'), (2, 'b')")
    }
    val (a, b) = (s"$warehouse/re/t1", s"$warehouse/re/t2")
    assert(count("sc.re.t1") == 2) // t1 (table A) is cached
    val aLog = logFiles(a)
    val bData = dataFiles(b)

    // outside the catalog: delete A, move B into A's place with A's mtimes
    assert(fs.delete(new Path(a), true))
    assert(fs.rename(new Path(b), new Path(a)))
    logFiles(a).zip(aLog).foreach { case (f, old) =>
      fs.setTimes(f.getPath, old.getModificationTime, -1)
    }
    val bLog = logFiles(a)
    assert(bLog.map(_.getPath.getName) == aLog.map(_.getPath.getName) &&
      bLog.map(_.getLen) == aLog.map(_.getLen) &&
      bLog.map(_.getModificationTime) == aLog.map(_.getModificationTime),
      "the two logs must collide on name, length and mtime")

    val df = sql("SELECT id, v FROM sc.re.t1")
    assert(df.collect().toSeq.sortBy(_.getLong(0)) == Seq(Row(1L, "a"), Row(2L, "b")))
    assert(df.inputFiles.map(p => new Path(p).getName).toSet == bData)
    assert(DeltaTable.forPath(spark, a).files.map(p => new Path(p).getName).toSet == bData)
  }

  test("loads after each append read one commit file and launch no log job") {
    val reads = new AtomicInteger
    val counting = new LogStore {
      private val inner = new HadoopLogStore(spark.sessionState.newHadoopConf())
      override def conf = inner.conf
      override def list(dir: Path) = inner.list(dir)
      override def read(path: Path) = {
        if (LogStore.isCommitFile(path.getName)) reads.incrementAndGet()
        inner.read(path)
      }
      override def writeAtomic(path: Path, lines: Iterator[String]) =
        inner.writeAtomic(path, lines)
      override def exists(path: Path) = inner.exists(path)
      override def delete(path: Path) = inner.delete(path)
    }
    DeltaLog.registerLogStore("file", counting)
    try {
      import spark.implicits._
      sql("CREATE NAMESPACE sc.inc")
      sql("CREATE TABLE sc.inc.t (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('delta.checkpointInterval' = '2')")
      val dir = s"$warehouse/inc/t"
      val catalog = spark.sessionState.catalogManager.catalog("sc").asInstanceOf[TableCatalog]
      assert(count("sc.inc.t") == 0)
      (1 to 5).foreach { i =>
        val rows = (1 to i).map(j => (i * 100L + j, s"r$j")).toDF("id", "v")
        DeltaTable.write(spark, rows, dir, mode = "append", appTxn = Some(("app", i.toLong)))
        reads.set(0)
        val ((_, jobs), replays) = fullReplays(
          kernelJobs(catalog.loadTable(Identifier.of(Array("inc"), "t")).schema()))
        assert(reads.get == 1, s"append $i: commit-file reads of the load")
        assert(jobs == 0, s"append $i: graft.kernel jobs of the load")
        assert(replays.isEmpty, s"append $i: full replays of the load")
        assert(count("sc.inc.t") == (1 to i).sum)
      }

      // the checkpoints postCommit wrote from the cached snapshot (v2, v4)
      // equal a replay of the JSON commits
      val log = new DeltaLog(spark, new Path(dir))
      Seq(2L, 4L).foreach { v =>
        val cp = Checkpoints.read(spark,
          new Path(log.logPath, LogStore.checkpointFileName(v)))
        val replayed = (0L to v).flatMap(log.readCommit)
        assert(state(cp) == state(replayed), s"checkpoint $v")
        assert(state(cp).txns == Map("app" -> v))
      }
    } finally DeltaLog.unregisterLogStore("file")
  }

  test("log cleanup after a checkpoint keeps the cache entry valid") {
    sql("CREATE NAMESPACE sc.old")
    sql("CREATE TABLE sc.old.t (id BIGINT) TBLPROPERTIES ('delta.checkpointInterval' = '2')")
    sql("INSERT INTO sc.old.t VALUES (1)")
    val dir = s"$warehouse/old/t"
    // both commits are past the 30-day default delta.logRetentionDuration
    val aged = System.currentTimeMillis() - 60L * 24 * 3600 * 1000
    logFiles(dir).foreach(f => fs.setTimes(f.getPath, aged, -1))
    sql("INSERT INTO sc.old.t VALUES (2)") // v2: checkpoint, then cleanup of v0 and v1
    assert(logFiles(dir).map(_.getPath.getName) == Seq(LogStore.commitFileName(2)),
      "cleanup must have deleted the aged commits")

    val catalog = spark.sessionState.catalogManager.catalog("sc").asInstanceOf[TableCatalog]
    val (_, replays) = fullReplays(catalog.loadTable(Identifier.of(Array("old"), "t")).schema())
    assert(replays.isEmpty, "the load after cleanup must be served from the cache")
    assert(count("sc.old.t") == 2)
  }
}

object SnapshotCacheSpec {
  /** What a replay of `actions` knows about a table. */
  case class State(adds: Map[String, AddFile], tombstones: Map[String, RemoveFile],
      txns: Map[String, Long], domains: Map[String, DomainMetadata],
      metadata: Metadata, protocol: Protocol)

  def state(actions: Seq[Action]): State = {
    val adds = scala.collection.mutable.Map[String, AddFile]()
    val tombstones = scala.collection.mutable.Map[String, RemoveFile]()
    val domains = scala.collection.mutable.Map[String, DomainMetadata]()
    actions.foreach {
      case f: AddFile => adds(f.reconcileKey) = f; tombstones.remove(f.reconcileKey)
      case r: RemoveFile => adds.remove(r.reconcileKey); tombstones(r.reconcileKey) = r
      case d: DomainMetadata => if (d.removed) domains.remove(d.domain) else domains(d.domain) = d
      case _ =>
    }
    State(adds.toMap, tombstones.toMap,
      actions.collect { case t: SetTransaction => t.appId -> t.version }.toMap,
      domains.toMap, actions.collect { case m: Metadata => m }.last,
      actions.collect { case p: Protocol => p }.last)
  }

  /** The kernel's "full replay of <path>: <reason>" lines logged while
    * `body` runs: loads that the snapshot cache did not serve. */
  def fullReplays[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("full-replays", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.startsWith("full replay of ")) seen.add(m)
      }
    }
    val logger = LogManager.getLogger("graft.kernel").asInstanceOf[Logger]
    val level = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.DEBUG)
    try {
      val a = body
      (a, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      logger.setLevel(level)
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  /** Spark jobs started while `body` runs; with `kernelOnly`, only those
    * whose first non-Spark call-site frame is in `graft.kernel`. */
  def jobs[A](spark: SparkSession, kernelOnly: Boolean = false)(body: => A): (A, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
        val firstUserFrame = site.linesIterator.map(_.trim).find(f =>
          f.nonEmpty && !f.startsWith("org.apache.spark") && !f.startsWith("scala.") &&
            !f.startsWith("java.") && !f.startsWith("jdk."))
        if (!kernelOnly || firstUserFrame.exists(_.startsWith("graft.kernel."))) n.incrementAndGet()
      }
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      ListenerBus.drain(spark.sparkContext)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

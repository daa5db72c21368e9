package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel._
import graft.table.DeltaTable

/** Regressions for the high-effort kernel review pass: fail-open pruning on
  * unparseable partition values, canonical checkpoint selection, tombstone
  * retention in checkpoints, sidecar cleanup, the LogStore registry, and
  * PathCodec legacy edge cases. */
class KernelFixesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-kernelfixes")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft_kf_").toString + "/t"

  test("local commit files carry umask-default perms (not temp-file 0600)") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq(1, 2).toDF("n"), dir)
    val commit = java.nio.file.Paths.get(dir, "_delta_log",
      LogStore.commitFileName(0))
    // createTempFile makes 0600; the linked commit must match what a PLAIN
    // file creation under the current umask yields (world-readable under
    // 022, still private under 077 — the umask decides, not us)
    val probe = java.nio.file.Paths.get(dir, "_perm_probe")
    Files.createFile(probe)
    val expected = Files.getPosixFilePermissions(probe)
    val perms = Files.getPosixFilePermissions(commit)
    assert(perms == expected,
      s"commit file perms $perms differ from umask-default $expected")
  }

  test("NaN double partition value: pruning fails open, never crashes") {
    import spark.implicits._
    val dir = tmpDir()
    val df = Seq((1L, 1.5), (2L, Double.NaN), (3L, 2.5)).toDF("id", "p")
    DeltaTable.write(spark, df, dir, partitionBy = Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot.allFiles.exists(_.partitionValues("p") == "NaN"))
    // predicate over the partition column: must not throw, must keep the
    // NaN file (unknown → fail open), and the typed files prune correctly
    val pruned = graft.table.Scan.prunedFiles(t.snapshot,
      Seq(graft.table.Scan.parsePredicate(spark, "p > 2.0")))
    assert(pruned.exists(_.partitionValues("p") == "NaN"))
    assert(!pruned.exists(_.partitionValues("p") == "1.5"))
    assert(t.toDF.count() == 3)
  }

  test("two v2 checkpoints at one version: exactly one manifest is replayed") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      dir, configuration = Map("delta.checkpointPolicy" -> "v2"))
    val t0 = DeltaTable.forPath(spark, dir)
    t0.addFeature("v2Checkpoint")
    val t = DeltaTable.forPath(spark, dir)
    // two checkpoint writes at the same version → two uuid manifests
    Checkpoints.write(spark, t.deltaLog.logPath, t.snapshot, t.deltaLog.store)
    Checkpoints.write(spark, t.deltaLog.logPath, t.snapshot, t.deltaLog.store)
    val manifests = t.deltaLog.store.list(t.deltaLog.logPath)
      .map(_.getPath.getName).filter(n => n.contains(".checkpoint.") && n.endsWith(".json"))
    assert(manifests.size == 2, s"expected two coexisting manifests, got $manifests")
    val t2 = DeltaTable.forPath(spark, dir)
    // duplicate replay would double the file count / row count
    assert(t2.snapshot.numFiles == t.snapshot.numFiles)
    assert(t2.toDF.count() == 100)
  }

  test("checkpoint drops tombstones past deletedFileRetentionDuration") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir)
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id < 50"))
    assert(t.snapshot.tombstones.nonEmpty)
    // retention 0 → every tombstone is expired at checkpoint time
    t.setProperties(Map("delta.deletedFileRetentionDuration" -> "interval 0 hours"))
    val tt = DeltaTable.forPath(spark, dir)
    Checkpoints.write(spark, tt.deltaLog.logPath, tt.snapshot, tt.deltaLog.store)
    val replayed = DeltaTable.forPath(spark, dir)
    assert(replayed.snapshot.tombstones.isEmpty,
      "expired tombstones must not survive the checkpoint")
    assert(replayed.toDF.count() == 50)
    // default retention (7d): fresh tombstones DO survive
    val dir2 = tmpDir()
    DeltaTable.write(spark, (0 until 10).map(i => (i.toLong, "x")).toDF("id", "v"), dir2)
    val u = DeltaTable.forPath(spark, dir2)
    u.delete(Some("id < 5"))
    Checkpoints.write(spark, u.deltaLog.logPath, u.refresh(), u.deltaLog.store)
    assert(DeltaTable.forPath(spark, dir2).snapshot.tombstones.nonEmpty)
  }

  test("log cleanup deletes orphaned v2 sidecars with their manifest") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      dir, configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        "delta.checkpointInterval" -> "2",
        "delta.logRetentionDuration" -> "interval 0 days"))
    val t0 = DeltaTable.forPath(spark, dir)
    t0.addFeature("v2Checkpoint")
    // several commits → several checkpoints (interval 2) → cleanup should
    // delete superseded manifests AND their sidecars
    (0 until 6).foreach { i =>
      DeltaTable.write(spark,
        Seq((1000L + i, "x")).toDF("id", "v"), dir, mode = "append")
    }
    val log = DeltaTable.forPath(spark, dir).deltaLog
    val names = log.store.list(log.logPath).map(_.getPath.getName)
    val manifests = names.filter(n => n.contains(".checkpoint.") && n.endsWith(".json"))
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val sidecarDir = new Path(s"$dir/_delta_log/_sidecars")
    val sidecars = if (fs.exists(sidecarDir)) fs.listStatus(sidecarDir).map(_.getPath.getName).toSeq else Nil
    // the LIVE manifests' sidecars survive; nothing else does
    val live = manifests.flatMap { mn =>
      log.store.read(new Path(log.logPath, mn)).flatMap(ActionCodec.fromJson).collect {
        case s: Sidecar => s.path
      }
    }.toSet
    assert(sidecars.toSet == live,
      s"orphaned sidecars left behind: ${sidecars.toSet -- live}")
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 56)
  }

  test("LogStore registry routes a scheme to a conditional-put store") {
    val client = new InMemoryPutClient
    val store = new ObjectStoreLogStore(spark.sessionState.newHadoopConf(), client)
    DeltaLog.registerLogStore("graftmem", store)
    try {
      val log = new DeltaLog(spark, new Path("graftmem://bucket/tbl"))
      assert(log.store eq store)
      assert(!log.tableExists)
      // metadata-only table lifecycle entirely through conditional put
      val meta = Metadata(schemaString = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))).json)
      val txn = new OptimisticTransaction(log, None)
      txn.commit(Seq(Protocol(), meta), Operation("CREATE TABLE", Map.empty))
      assert(log.tableExists)
      val snap = log.snapshot()
      assert(snap.version == 0)
      assert(snap.schema.fieldNames.toSeq == Seq("id"))
    } finally DeltaLog.unregisterLogStore("graftmem")
    // after unregistration the scheme falls back to HadoopLogStore
    assert(!new DeltaLog(spark, new Path("graftmem://bucket/tbl")).store.eq(store))
  }

  test("PathCodec: literal '?'/'#' legacy paths are not truncated") {
    assert(PathCodec.decode("part-0001?x.parquet") == "part-0001?x.parquet")
    assert(PathCodec.decode("a#b.parquet") == "a#b.parquet")
    assert(PathCodec.decode("x=A%2FA/f.parquet") == "x=A/A/f.parquet")
    assert(PathCodec.decode("p%20q.parquet") == "p q.parquet")
  }
}

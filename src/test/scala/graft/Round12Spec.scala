package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.{ColumnMapping, Protocol, ProtocolGate}
import graft.ops.IncrementalAgg
import graft.table.DeltaTable

/** Round-12 regressions for the r11 advisor findings: the columnMapping
  * none -> name upgrade migration and the stats-first IncrementalAgg
  * first-fold emptiness check. */
class Round12Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-r12")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft_r12_").toString + "/t"

  test("deletion vectors on percent-encoded twins: files named 'x y.parquet' " +
      "and 'x%20y.parquet' each keep their own mask through DELETE and UPDATE") {
    val dir = tmpDir()
    DeltaTable.write(spark,
      spark.range(0, 10, 1, 2).select(col("id"), (col("id") * 10).as("v")), dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val parts = DeltaTable.forPath(spark, dir).snapshot.allFiles
      .sortBy(_.stats.getOrElse("")).map(_.path)
    assert(parts.size == 2, s"want one file per range partition, got $parts")
    // rename the files on disk and point their Adds (percent-encoded URLs)
    // at the new names: the literal and the encoded spelling of one name
    val names = Seq("x y.parquet", "x%20y.parquet")
    val commit = java.nio.file.Paths.get(dir, "_delta_log",
      graft.kernel.LogStore.commitFileName(0L))
    var json = new String(Files.readAllBytes(commit), "UTF-8")
    parts.zip(names).foreach { case (p, n) =>
      Files.move(java.nio.file.Paths.get(dir, p), java.nio.file.Paths.get(dir, n))
      assert(json.contains(s"\"path\":\"$p\""), json)
      json = json.replace(s"\"path\":\"$p\"",
        s"\"path\":\"${graft.kernel.PathCodec.encode(n)}\"")
    }
    Files.write(commit, json.getBytes("UTF-8"))
    val t = DeltaTable.forPath(spark, dir)
    def rows(): Seq[(Long, Long)] = t.toDF.orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows() == (0L until 10L).map(i => (i, i * 10)))

    // one hit in each file: both files keep their data under a new mask
    assert(t.delete(Some("id IN (1, 7)"))("num_deleted_rows") == "2")
    val masked = t.snapshot.allFiles.filter(_.deletionVector.isDefined)
    assert(masked.map(f => graft.kernel.PathCodec.decode(f.path)).toSet == names.toSet,
      s"both twins must carry a deletion vector: ${t.snapshot.allFiles}")
    val afterDelete = Seq(0L, 2L, 3L, 4L, 5L, 6L, 8L, 9L).map(i => (i, i * 10))
    assert(rows() == afterDelete)

    // UPDATE on top: each twin's existing mask grows by its own hit
    t.update(Map("v" -> expr("v + 1")), Some("id IN (2, 8)"))
    assert(rows() == afterDelete.map { case (i, v) =>
      (i, if (i == 2L || i == 8L) v + 1 else v) })
  }

  test("setProperties: none -> name upgrade migrates schema, maxColumnId, protocol") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      (0 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "txt"), dir)
    val t = DeltaTable.forPath(spark, dir)
    t.setProperties(Map("delta.columnMapping.mode" -> "name"))

    val snap = DeltaTable.forPath(spark, dir).snapshot
    assert(snap.metadata.configuration("delta.columnMapping.mode") == "name")
    // physical names preserve logical names (existing parquet footers carry
    // logical names — a UUID would orphan every existing column)
    snap.schema.fields.foreach { f =>
      assert(f.metadata.getString(ColumnMapping.PHYS_KEY) == f.name,
        s"upgrade must preserve logical name for ${f.name}")
    }
    val ids = snap.schema.fields.map(_.metadata.getLong(ColumnMapping.ID_KEY))
    assert(ids.distinct.length == ids.length && ids.forall(_ >= 1))
    assert(snap.metadata.configuration(ColumnMapping.MAX_ID_KEY).toInt == ids.max)
    val p = snap.protocol
    val cmOk =
      (if (p.minReaderVersion >= 3) p.readerFeatures.exists(_.contains("columnMapping"))
       else p.minReaderVersion >= 2) &&
      (if (p.minWriterVersion >= 7) p.writerFeatures.exists(_.contains("columnMapping"))
       else p.minWriterVersion >= 5)
    assert(cmOk, s"protocol $p must carry columnMapping after the upgrade")

    // pre-upgrade data stays addressable, post-upgrade writes round-trip
    val t2 = DeltaTable.forPath(spark, dir)
    assert(t2.toDF.count() == 20)
    DeltaTable.write(spark, Seq((100L, "new")).toDF("id", "txt"), dir,
      mode = "append")
    val all = DeltaTable.forPath(spark, dir).toDF
    assert(all.count() == 21)
    assert(all.where(col("id") === 100L).select("txt").as[String].head() == "new")
    // a column added AFTER the upgrade gets a fresh (UUID) physical name
    val t3 = DeltaTable.forPath(spark, dir)
    t3.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType))))
    val f3 = DeltaTable.forPath(spark, dir).snapshot.schema("extra")
    assert(f3.metadata.getString(ColumnMapping.PHYS_KEY).startsWith("col-"))
  }

  test("setProperties: other columnMapping transitions still refuse") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "txt"), dir)
    val t = DeltaTable.forPath(spark, dir)
    intercept[UnsupportedOperationException] {
      t.setProperties(Map("delta.columnMapping.mode" -> "id"))
    }
    t.setProperties(Map("delta.columnMapping.mode" -> "name")) // upgrade ok
    val t2 = DeltaTable.forPath(spark, dir)
    intercept[UnsupportedOperationException] {
      t2.setProperties(Map("delta.columnMapping.mode" -> "none")) // downgrade
    }
    // same-value set is a plain no-op property commit, not a refusal
    t2.setProperties(Map("delta.columnMapping.mode" -> "name"))
  }

  test("ProtocolGate.upgradeForColumnMapping: legacy, feature, satisfied") {
    // legacy table -> spec-minimum (2,5)
    assert(ProtocolGate.upgradeForColumnMapping(Protocol(1, 2))
      .contains(Protocol(2, 5)))
    // already capable -> no action
    assert(ProtocolGate.upgradeForColumnMapping(Protocol(2, 5)).isEmpty)
    // feature-based writer must enumerate the feature on both sides
    val up = ProtocolGate.upgradeForColumnMapping(
      Protocol(3, 7, readerFeatures = Some(Seq("deletionVectors")),
        writerFeatures = Some(Seq("deletionVectors")))).get
    assert(up.readerFeatures.get.contains("columnMapping"))
    assert(up.writerFeatures.get.contains("columnMapping"))
    assert(up.readerFeatures.get.contains("deletionVectors"),
      "upgrade must not strip existing features")
  }

  test("IncrementalAgg: all-rows-DV-deleted target counts as empty (stats-first)") {
    import spark.implicits._
    val upDir = tmpDir()
    DeltaTable.write(spark,
      (0 until 30).map(i => (i % 3, i.toLong)).toDF("k", "v"), upDir)
    val upstream = DeltaTable.forPath(spark, upDir)

    // target: files present, every row DV-deleted -> approxNumRecords 0,
    // the first fold must proceed without the refusal (and without a scan)
    val tgtDir = tmpDir()
    DeltaTable.write(spark,
      Seq((99, 1L, 1L, 1L), (98, 1L, 1L, 1L)).toDF("k", "cnt", "sum_v", "nn_v"),
      tgtDir, configuration = Map("delta.enableDeletionVectors" -> "true"))
    val tgt = DeltaTable.forPath(spark, tgtDir)
    // modulo predicate: stats can't prove the negation empty, so the DV
    // path masks every row and the files STAY in the snapshot
    tgt.delete(Some("cnt % 2 = 1"))
    val snap = DeltaTable.forPath(spark, tgtDir).snapshot
    assert(snap.approxNumRecords.contains(0L),
      s"stats must prove emptiness (files=${snap.numFiles})")

    val m = IncrementalAgg.refresh(upstream, tgtDir, Seq("k"), Seq("v"))
    assert(!m.contains("no_op"))
    val got = DeltaTable.forPath(spark, tgtDir).toDF
      .select("k", "cnt", "sum_v").orderBy("k")
      .as[(Int, Long, Long)].collect().toSeq
    val want = (0 until 30).map(i => (i % 3, i.toLong))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, rows) => (k, rows.size.toLong, rows.map(_._2).sum) }
    assert(got == want)
  }

  /** Build a 3-commit table, then rewrite its log into an ICT table whose
    * commit-file mtimes CONTRADICT the recorded inCommitTimestamp values —
    * the shape a log rewrite/copy produces. Reads must resolve by ICT. */
  private def synthesizeIctTable(): (String, Seq[Long]) = {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((0L, "v0")).toDF("id", "txt"), dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaTable.write(spark, Seq((1L, "v1")).toDF("id", "txt"), dir, mode = "append")
    DeltaTable.write(spark, Seq((2L, "v2")).toDF("id", "txt"), dir, mode = "append")

    val icts = Seq(1700000000000L, 1700000001000L, 1700000002000L)
    val logDir = java.nio.file.Paths.get(dir, "_delta_log")
    (0 to 2).foreach { v =>
      val f = logDir.resolve(f"$v%020d.json")
      var text = new String(Files.readAllBytes(f), "UTF-8")
      text = text.replace("{\"commitInfo\":{",
        "{\"commitInfo\":{\"inCommitTimestamp\":" + icts(v) + ",")
      if (v == 0) {
        text = text.replace("\"configuration\":{",
          "\"configuration\":{\"delta.enableInCommitTimestamps\":\"true\",")
        text = text.replaceAll(
          "\\{\"protocol\":\\{[^}]*\\}\\}",
          "{\"protocol\":{\"minReaderVersion\":1,\"minWriterVersion\":7," +
            "\"writerFeatures\":[\"appendOnly\",\"invariants\",\"inCommitTimestamp\"]}}")
      }
      Files.write(f, text.getBytes("UTF-8"))
    }
    // mtimes deliberately contradict ICT order: v0 newest, v1 oldest
    val now = System.currentTimeMillis()
    val mtimes = Seq(now, now - 7200000L, now - 3600000L)
    (0 to 2).foreach { v =>
      Files.setLastModifiedTime(logDir.resolve(f"$v%020d.json"),
        java.nio.file.attribute.FileTime.fromMillis(mtimes(v)))
    }
    (dir, icts)
  }

  test("ICT: time travel / history / CDF resolve by inCommitTimestamp, not mtime") {
    val (dir, icts) = synthesizeIctTable()
    val t = DeltaTable.forPath(spark, dir)

    // time-travel-by-timestamp pins by ICT order (mtime order is 0,2,1 —
    // an mtime resolver could never return version 1 for this target)
    assert(t.deltaLog.snapshotForTimestamp(icts(1) + 500L).version == 1L)
    assert(t.deltaLog.snapshotForTimestamp(icts(0)).version == 0L)
    assert(t.deltaLog.snapshotForTimestamp(icts(2) + 999999L).version == 2L)
    val before = intercept[IllegalArgumentException] {
      t.deltaLog.snapshotForTimestamp(icts(0) - 1L)
    }
    assert(before.getMessage.contains("No commit at or before"))

    // history reports the recorded ICT values, newest first
    assert(t.history().map(_._2) == icts.reverse)

    // CDF: emitted _commit_timestamp and by-timestamp range resolution
    // both ride the ICT values
    import org.apache.spark.sql.functions._
    // the synthesized ICT values are whole seconds, so epoch-seconds * 1000
    // recovers them exactly
    val feed = t.loadCdf(0L, Some(2L))
      .select(col("_commit_version"),
        (col("_commit_timestamp").cast("long") * 1000L).as("ts_ms"))
      .distinct().orderBy("_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(feed.map(_._1) == Seq(0L, 1L, 2L))
    assert(feed.map(_._2) == icts, s"CDF must stamp ICT values, got $feed")
    val windowed = t.loadCdfBetweenTimestamps(icts(1), Some(icts(1)))
    assert(windowed.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(1L))

    // the write side refuses: this engine never stamps ICT, and a non-ICT
    // commit on an ICT table breaks monotonicity for compliant readers
    import spark.implicits._
    val e = intercept[Exception] {
      DeltaTable.write(spark, Seq((9L, "x")).toDF("id", "txt"), dir, mode = "append")
    }
    assert(e.getMessage.contains("inCommitTimestamp"),
      s"append to an ICT table must refuse on the feature, got: ${e.getMessage}")
  }

  test("IncrementalAgg: populated target without txn still refuses") {
    import spark.implicits._
    val upDir = tmpDir()
    DeltaTable.write(spark, Seq((1, 2L)).toDF("k", "v"), upDir)
    val upstream = DeltaTable.forPath(spark, upDir)
    val tgtDir = tmpDir()
    DeltaTable.write(spark,
      Seq((1, 1L, 2L, 1L)).toDF("k", "cnt", "sum_v", "nn_v"), tgtDir)
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.refresh(upstream, tgtDir, Seq("k"), Seq("v"))
    }
    assert(e.getMessage.contains("refusing a full-snapshot fold"))
  }
}

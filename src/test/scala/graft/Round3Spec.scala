package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.DeltaTable

/** Round-3 coverage: scan-side DV masks as broadcast bitmaps (join-free
  * plan, 1M-row mask), merge schema evolution under column mapping, and the
  * object-store scheme guard. */
class Round3Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-r3")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft_r3_").toString

  test("DV scan applies masks without a join in the plan") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 1000).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dir, configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id % 3 = 0"))
    val df = t.toDF
    assert(df.count() == 666)
    assert(df.select("id").as[Int].collect().toSet == (0 until 1000).filter(_ % 3 != 0).toSet)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"DV application must be a filter predicate, not a join:\n$plan")
    assert(plan.contains("DvMaskKeep") || plan.toLowerCase.contains("filter"),
      s"expected a DV filter in plan:\n$plan")
  }

  test("DV scan with a 1M-row mask: broadcast stays compressed, results exact") {
    import spark.implicits._
    val dir = tmpDir()
    // 1.2M rows in one file; mask 1M of them
    DeltaTable.write(spark,
      spark.range(1200000).select(col("id"), (col("id") % 7).as("m")).coalesce(1),
      dir, configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    val m = t.delete(Some("id < 1000000"))
    assert(m("num_deleted_rows") == "1000000")
    // the file is masked, not rewritten
    assert(t.snapshot.allFiles.exists(_.deletionVector.exists(_.cardinality == 1000000L)))
    val df = t.toDF
    assert(df.count() == 200000)
    assert(df.agg(min("id"), max("id")).as[(Long, Long)].head() == ((1000000L, 1199999L)))
    // roaring-compressed 1M-dense mask is ~KBs-to-low-MBs, not 16MB of pairs
    val dvSize = t.snapshot.allFiles.flatMap(_.deletionVector).map(_.sizeInBytes).sum
    assert(dvSize < 2 * 1024 * 1024, s"DV blob unexpectedly large: $dvSize bytes")
  }

  test("MERGE schema evolution under column mapping assigns ids and bumps maxColumnId") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), dir,
      configuration = Map("delta.columnMapping.mode" -> "name"))
    val t = DeltaTable.forPath(spark, dir)
    val before = t.snapshot.metadata.configuration("delta.columnMapping.maxColumnId").toInt
    t.merge(Seq((2, "b2", 9L), (3, "c", 10L)).toDF("k", "v", "extra"), "target.k = source.k")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withSchemaEvolution()
      .execute()
    val meta = t.refresh().metadata
    val after = meta.configuration("delta.columnMapping.maxColumnId").toInt
    assert(after > before, s"maxColumnId must grow: $before -> $after")
    val extraField = meta.schema.fields.find(_.name == "extra").get
    assert(extraField.metadata.contains("delta.columnMapping.physicalName"))
    assert(extraField.metadata.contains("delta.columnMapping.id"))
    assert(extraField.metadata.getLong("delta.columnMapping.id") > before)
    // ids unique across the schema
    val ids = meta.schema.fields.map(_.metadata.getLong("delta.columnMapping.id"))
    assert(ids.distinct.length == ids.length)
    // and the evolved table reads back correctly (new column physical in parquet)
    val out = t.toDF.orderBy("k").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq ==
      Seq((1, "a", -1L), (2, "b2", 9L), (3, "c", 10L)))
  }

  test("multi-part checkpoint writes above partSize and replays") {
    import spark.implicits._
    val dir = tmpDir()
    spark.conf.set("spark.graft.checkpoint.partSize", "4")
    try {
      // 13 commits -> checkpoint at the interval with ~15 actions -> 4 parts
      (0 until 13).foreach { k =>
        DeltaTable.write(spark, Seq((k, s"v$k")).toDF("id", "v"), dir,
          mode = if (k == 0) "overwrite" else "append")
      }
      val logDir = new java.io.File(dir, "_delta_log")
      val multiParts = logDir.listFiles
        .filter(_.getName.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
      assert(multiParts.length > 1, s"expected multi-part checkpoint, got: " +
        logDir.listFiles.map(_.getName).filter(_.contains("checkpoint")).mkString(", "))
      val declared = graft.kernel.LogStore.multiPartInfo(multiParts.head.getName).get._2
      assert(multiParts.length == declared)
      // fresh handle replays from the multi-part checkpoint
      val fresh = DeltaTable.forPath(spark, dir)
      assert(fresh.toDF.count() == 13)
      assert(fresh.toDF.select("id").as[Int].collect().toSet == (0 until 13).toSet)
      // incomplete checkpoint (missing part, e.g. racing a publication or
      // an EC listing): falls back to replaying the commits — identical
      // state, never a silent short read
      val victim = multiParts.head
      val backup = new java.io.File(victim.getPath + ".bak")
      assert(victim.renameTo(backup))
      try {
        val t2 = DeltaTable.forPath(spark, dir)
        assert(t2.toDF.count() == 13,
          "incomplete multi-part checkpoint must fall back to commit replay")
        // but when the covering commits are ALSO gone (cleaned log), the
        // gap must fail loudly — never a partial state
        val commit0 = new java.io.File(logDir,
          graft.kernel.LogStore.commitFileName(0))
        val commit0bak = new java.io.File(commit0.getPath + ".bak")
        assert(commit0.renameTo(commit0bak))
        try intercept[Exception] { DeltaTable.forPath(spark, dir).snapshot }
        finally { assert(commit0bak.renameTo(commit0)) }
      } finally backup.renameTo(victim)
    } finally spark.conf.unset("spark.graft.checkpoint.partSize")
  }

  test("delta.targetFileSize splits oversized write outputs") {
    import spark.implicits._
    val dir = tmpDir()
    // ~100k rows of ~40B in one incoming partition would stage one big file
    val df = spark.range(100000)
      .select(col("id"), concat(lit("payload_payload_payload_"), col("id")).as("v"))
      .coalesce(1)
    DeltaTable.write(spark, df, dir,
      configuration = Map("delta.targetFileSize" -> "100000"))
    val t = DeltaTable.forPath(spark, dir)
    val files = t.snapshot.allFiles
    assert(files.size >= 5, s"expected the staged file split into >=5, got ${files.size}")
    val maxSize = files.map(_.size).max
    assert(maxSize <= 100000 * 2, s"file exceeds 2x target: $maxSize")
    assert(t.toDF.count() == 100000)
    assert(files.flatMap(_.numRecords).sum == 100000L)
    // appends honor it too
    DeltaTable.write(spark, df, dir, mode = "append")
    assert(DeltaTable.forPath(spark, dir).snapshot.allFiles.size >= 10)
  }

  test("lazy snapshot: 1M-Add checkpoint loads and prunes without driver materialization") {
    import spark.implicits._
    import graft.kernel.{Checkpoints, LogStore}
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((-1L, "real")).toDF("k", "v"), dir)
    val t0 = DeltaTable.forPath(spark, dir)
    Checkpoints.write(spark, t0.deltaLog.logPath, t0.snapshot, t0.deltaLog.store)

    // forge a 2-part checkpoint: part1 = the real control+add rows, part2 =
    // 1M synthetic adds with stats (built via expressions — the driver never
    // holds the rows)
    val logDir = new java.io.File(dir, "_delta_log")
    val classic = new java.io.File(logDir, LogStore.checkpointFileName(0))
    assert(classic.exists)
    assert(classic.renameTo(new java.io.File(logDir,
      LogStore.multiPartCheckpointFileName(0, 1, 2))))
    val fakeAdds = spark.range(1000000).select(
      struct(
        concat(lit("part-fake-"), col("id"), lit(".parquet")).as("path"),
        map().cast("map<string,string>").as("partitionValues"),
        lit(1000L).as("size"),
        lit(0L).as("modificationTime"),
        lit(false).as("dataChange"),
        concat(lit("{\"numRecords\":10,\"minValues\":{\"k\":"), (col("id") * 10).cast("string"),
          lit("},\"maxValues\":{\"k\":"), ((col("id") * 10) + 9).cast("string"),
          lit("},\"nullCount\":{\"k\":0}}")).as("stats"),
        lit(null).cast("map<string,string>").as("tags"),
        lit(null).cast(Checkpoints.dvType).as("deletionVector"),
        lit(null).cast("long").as("baseRowId"),
        lit(null).cast("long").as("defaultRowCommitVersion"),
        lit(null).cast("string").as("clusteringProvider")).as("add"))
    val stage = tmpDir()
    fakeAdds.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(logDir, LogStore.multiPartCheckpointFileName(0, 2, 2)).toPath)
    // drop Hadoop local-FS checksum sidecars invalidated by the forgery
    logDir.listFiles.filter(_.getName.endsWith(".crc")).foreach(_.delete())
    java.nio.file.Files.writeString(
      new java.io.File(logDir, "_last_checkpoint").toPath,
      """{"version":0,"size":1000003,"parts":2}""")

    spark.conf.set("spark.graft.lazySnapshotThreshold", "1000")
    try {
      val t = DeltaTable.forPath(spark, dir)
      val snap = t.snapshot
      assert(snap.lazyIndex.exists(!_.isMaterialized), "expected a lazy snapshot")
      assert(snap.numFiles == 1000001L)
      assert(snap.approxNumRecords.contains(10000001L)) // 1M x 10 + the real row
      val pred = graft.table.Scan.parsePredicate(spark, "k = 12345")
      val pruned = graft.table.Scan.prunedFiles(snap, Seq(pred))
      assert(pruned.map(_.path) == Seq("part-fake-1234.parquet"))
      assert(snap.lazyIndex.exists(!_.isMaterialized),
        "count/prune must not pull the full Add index to the driver")
      // incremental refresh extends the TAIL overlay, checkpoint stays parquet
      DeltaTable.write(spark, Seq((777777770L, "new")).toDF("k", "v"), dir, mode = "append")
      val snap2 = t.refresh()
      assert(snap2.lazyIndex.exists(!_.isMaterialized), "refresh must stay lazy")
      assert(snap2.numFiles == 1000002L)
      val pruned2 = graft.table.Scan.prunedFiles(snap2,
        Seq(graft.table.Scan.parsePredicate(spark, "k = 777777770")))
      assert(pruned2.size == 1 && pruned2.head.path.startsWith("part-"))
      assert(snap2.lazyIndex.exists(!_.isMaterialized))
      // vacuum's live set stays a DataFrame on lazy snapshots — the real
      // data files are live so the dry run deletes nothing and the 1M-row
      // index still never materializes
      val t3 = DeltaTable.forPath(spark, dir)
      val wouldDelete = t3.vacuum(retentionHours = 0, dryRun = true, enforceRetention = false)
      assert(wouldDelete.isEmpty, s"live files misclassified: $wouldDelete")
      assert(t3.snapshot.lazyIndex.exists(!_.isMaterialized),
        "vacuum must not materialize a lazy snapshot")
      // re-checkpointing a lazy snapshot streams from the previous
      // checkpoint's parquet — no driver materialization — and the new
      // checkpoint replays with the tail folded in
      Checkpoints.write(spark, t3.deltaLog.logPath, t3.snapshot, t3.deltaLog.store)
      assert(t3.snapshot.lazyIndex.exists(!_.isMaterialized),
        "checkpoint write must not materialize a lazy snapshot")
      val reloaded = DeltaTable.forPath(spark, dir).snapshot
      assert(reloaded.lazyIndex.isDefined)
      assert(reloaded.numFiles == 1000002L)
      assert(graft.table.Scan.prunedFiles(reloaded,
        Seq(graft.table.Scan.parsePredicate(spark, "k = 12345")))
        .map(_.path) == Seq("part-fake-1234.parquet"))
    } finally spark.conf.unset("spark.graft.lazySnapshotThreshold")
  }

  test("distributed vacuum matches driver vacuum semantics (DV blobs stay live)") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 1000).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4), dir, configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id % 10 = 0")) // masks via DV: blobs must survive vacuum
    t.optimizeCompact() // tombstones the masked originals
    spark.conf.set("spark.graft.vacuum.distributedThreshold", "1")
    try {
      val deleted = t.vacuum(retentionHours = 0, dryRun = false, enforceRetention = false)
      assert(deleted.nonEmpty, "expected the compacted-away originals to be vacuumed")
      val fresh = DeltaTable.forPath(spark, dir)
      assert(fresh.toDF.count() == 900)
      assert(fresh.toDF.select("id").as[Int].collect().toSet ==
        (0 until 1000).filterNot(_ % 10 == 0).toSet)
      // a second vacuum finds nothing left to delete
      assert(t.vacuum(retentionHours = 0, dryRun = true, enforceRetention = false).isEmpty)
    } finally spark.conf.unset("spark.graft.vacuum.distributedThreshold")
  }

  test("partitions() and getAddActions() parity accessors") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1, "x", "a"), (2, "y", "b"), (3, "z", "a"))
      .toDF("id", "v", "p"), dir, partitionBy = Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.partitions().toSet == Set(Map("p" -> "a"), Map("p" -> "b")))
    assert(t.partitions(Some("p = 'a'")) == Seq(Map("p" -> "a")))
    val adds = t.getAddActions(flatten = true)
    assert(adds.count() == t.snapshot.numFiles)
    val row = adds.filter("path LIKE 'p=b%'").head()
    assert(row.getAs[Long]("num_records") == 1L)
    assert(row.getAs[Map[String, String]]("min_values")("id") == "2")
    assert(adds.columns.toSet.contains("null_counts"))
  }

  test("HadoopLogStore refuses non-atomic object-store commit schemes") {
    val store = new graft.kernel.HadoopLogStore(spark.sessionState.newHadoopConf())
    val e = intercept[UnsupportedOperationException] {
      store.writeAtomic(new org.apache.hadoop.fs.Path("s3a://bucket/t/_delta_log/0.json"),
        Iterator("{}"))
    }
    assert(e.getMessage.contains("conditional-put"))
  }

  test("lazy snapshot rides a v2 checkpoint's sidecar parquets") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir,
      configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        "delta.checkpointInterval" -> "2"))
    val t = DeltaTable.forPath(spark, dir)
    t.addFeature("v2Checkpoint") // v1
    DeltaTable.write(spark, Seq((9999L, "x")).toDF("k", "v"),
      dir, mode = "append") // v2 → v2 checkpoint
    spark.conf.set("spark.graft.lazySnapshotThreshold", "1")
    try {
      val snap = DeltaTable.forPath(spark, dir).snapshot
      assert(snap.lazyIndex.exists(!_.isMaterialized),
        "expected the sidecar-backed lazy index")
      assert(DeltaTable.forPath(spark, dir).toDF.count() == 2001)
      val pruned = graft.table.Scan.prunedFiles(snap,
        Seq(graft.table.Scan.parsePredicate(spark, "k = 9999")))
      assert(pruned.nonEmpty && pruned.size < snap.numFiles)
    } finally spark.conf.unset("spark.graft.lazySnapshotThreshold")
  }

  test("v2 checkpoint write: uuid manifest + sidecars; replay round-trips") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir,
      configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        "delta.checkpointInterval" -> "2"))
    val t = DeltaTable.forPath(spark, dir)
    t.addFeature("v2Checkpoint") // v1
    DeltaTable.write(spark,
      Seq((100L, "x")).toDF("id", "v"), dir, mode = "append") // v2 → checkpoint

    val logDir = new java.io.File(dir, "_delta_log")
    val manifests = logDir.listFiles.filter(
      _.getName.matches("\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.json"))
    assert(manifests.length == 1, s"expected one v2 manifest, saw ${logDir.list.toSeq}")
    val sidecars = new java.io.File(logDir, "_sidecars").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(sidecars.nonEmpty)
    // manifest carries checkpointMetadata + sidecar + full protocol features
    val manifestText = scala.io.Source.fromFile(manifests.head).mkString
    assert(manifestText.contains("\"checkpointMetadata\""))
    assert(manifestText.contains("\"sidecar\""))
    assert(manifestText.contains("v2Checkpoint"))

    // replay FROM the checkpoint: delete the pre-checkpoint commits
    (0 to 2).foreach { v =>
      new java.io.File(logDir, f"$v%020d.json").delete()
    }
    val replayed = DeltaTable.forPath(spark, dir)
    assert(replayed.version == 2)
    assert(replayed.snapshot.protocol.readerFeatures.exists(_.contains("v2Checkpoint")))
    assert(replayed.toDF.count() == 51)
    assert(replayed.toDF.where("id = 100").count() == 1)

    // and the table keeps working on top of the v2 checkpoint
    DeltaTable.write(spark, Seq((101L, "y")).toDF("id", "v"), dir, mode = "append")
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 52)
  }

  test("log compaction: the compacted file alone reconstructs the range") {
    import spark.implicits._
    import graft.kernel.LogStore
    val dir = tmpDir()
    DeltaTable.write(spark,
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), dir) // v0
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id < 10"))                                          // v1
    DeltaTable.write(spark,
      (100 until 110).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      dir, mode = "append")                                            // v2
    t.setProperties(Map("graft.test.marker" -> "yes"))                 // v3
    t.refresh()
    val wantRows = t.toDF.as[(Long, String)].collect().sortBy(_._1).toSeq
    val wantTombstones = t.snapshot.tombstones.map(_.path).toSet
    assert(wantTombstones.nonEmpty)

    t.compactLogs(1, 3)
    // delete the covered commits: state must survive on the compaction file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (1L to 3L).foreach { v =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$dir/_delta_log/${LogStore.commitFileName(v)}"), false))
    }
    val t2 = DeltaTable.forPath(spark, dir)
    assert(t2.version == 3)
    assert(t2.toDF.as[(Long, String)].collect().sortBy(_._1).toSeq == wantRows)
    assert(t2.metadata.configuration("graft.test.marker") == "yes")
    // tombstones from inside the range are preserved for VACUUM
    assert(t2.snapshot.tombstones.map(_.path).toSet == wantTombstones)
    // a version inside the compacted range is no longer reachable — loudly
    val e = intercept[IllegalArgumentException](t2.deltaLog.snapshotAt(2))
    assert(e.getMessage.contains("not contiguous"))
    // but the range START is: the compacted file replays [1..3] and v0+file
    assert(t2.deltaLog.snapshotAt(3).version == 3)
  }

  test("writing VARIANT emits the 3/7 variantType protocol; round-trips") {
    val dir = tmpDir()
    val df = spark.sql(
      """SELECT id, parse_json(concat('{"k":', id, '}')) AS v
        |FROM range(10)""".stripMargin)
    DeltaTable.write(spark, df, dir)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.protocol.minReaderVersion == 3 && t.protocol.minWriterVersion == 7)
    assert(t.protocol.readerFeatures.get.contains("variantType"))
    assert(t.protocol.writerFeatures.get.contains("variantType"))
    assert(t.toDF.selectExpr("variant_get(v, '$.k', 'long')")
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))

    // schema evolution introducing variant upgrades an existing protocol
    val dir2 = tmpDir()
    DeltaTable.write(spark, spark.range(5).toDF("id"), dir2)
    assert(DeltaTable.forPath(spark, dir2).protocol.minReaderVersion == 1)
    DeltaTable.write(spark, df, dir2, mode = "append", mergeSchema = true)
    val t2 = DeltaTable.forPath(spark, dir2)
    assert(t2.protocol.readerFeatures.get.contains("variantType"))
    assert(t2.toDF.count() == 15)
  }

  test("partition-scoped Z-ORDER clusters only the selected partition") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      (0 until 1000).map(i => (i.toLong, i % 4, s"v$i")).toDF("id", "p", "v")
        .repartition(8),
      dir, partitionBy = Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    val before = t.snapshot.allFiles.filterNot(_.partitionValues("p") == "2").map(_.path).toSet
    val m = t.optimizeZOrder(Seq("id"), predicate = Some("p = 2"))
    assert(m("num_files_removed").toInt > 0)
    val after = DeltaTable.forPath(spark, dir)
    // untouched partitions keep their exact files
    assert(after.snapshot.allFiles.filterNot(_.partitionValues("p") == "2")
      .map(_.path).toSet == before)
    assert(after.toDF.count() == 1000)
    // data-column predicate refused
    val e = intercept[IllegalArgumentException](
      t.optimizeZOrder(Seq("v"), predicate = Some("id < 5")))
    assert(e.getMessage.contains("partition columns"))
  }

  test("delta.parquet.compression.codec reaches the data files") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      (0 until 5000).map(i => (i.toLong, s"value_$i" * 4)).toDF("id", "v"),
      dir, configuration = Map("delta.parquet.compression.codec" -> "gzip"))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF.count() == 5000)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = t.snapshot.allFiles.map(f => t.snapshot.absolutePath(f.path))
    assert(dataFiles.nonEmpty)
    // Spark encodes the codec in the part-file name
    dataFiles.foreach(p => assert(p.getName.contains(".gz.parquet"),
      s"expected gzip-coded file name, got ${p.getName}"))
  }

  test("cached handle refreshes across compaction-covered log cleanup") {
    import spark.implicits._
    import graft.kernel.LogStore
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), dir)          // v0
    val cached = DeltaTable.forPath(spark, dir)
    assert(cached.version == 0)
    // another writer advances the table, compacts, and cleanup removes
    // the covered commits
    DeltaTable.write(spark, Seq((2L, "b")).toDF("id", "v"), dir, "append") // v1
    DeltaTable.write(spark, Seq((3L, "c")).toDF("id", "v"), dir, "append") // v2
    DeltaTable.forPath(spark, dir).compactLogs(0, 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0L to 2L).foreach(v => fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/_delta_log/${LogStore.commitFileName(v)}"), false))
    // the cached handle must reach v2 via the compaction file — the stale
    // path returned prev because commit listing alone showed nothing newer
    val snap = cached.refresh()
    assert(snap.version == 2)
    assert(cached.toDF.count() == 3)
  }

  test("writer v6 (identityColumns implied) is refused for writes, like the reference") {
    import spark.implicits._
    import graft.kernel.{Protocol, Metadata, ProtocolGate, DeltaProtocolException}
    val meta = Metadata(schemaString =
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))).json)
    // reads fine, writes refused (we cannot maintain identity watermarks;
    // reference: kernel/transaction/protocol.rs:325 identityColumns
    // deliberately unsupported)
    ProtocolGate.checkRead(Protocol(1, 6), meta)
    val e = intercept[DeltaProtocolException](
      ProtocolGate.checkWrite(Protocol(1, 6), meta))
    assert(e.getMessage.contains("identityColumns"))
    val e2 = intercept[DeltaProtocolException](
      ProtocolGate.checkWrite(Protocol(3, 7,
        readerFeatures = Some(Nil),
        writerFeatures = Some(Seq("identityColumns"))), meta))
    assert(e2.getMessage.contains("identityColumns"))
  }

  test("compression codec survives the targetFileSize resplit") {
    import spark.implicits._
    val dir = tmpDir()
    // incompressible-ish payload (md5 hex chains) so the staged gzip file
    // actually exceeds 1.5× targetFileSize and the resplit path runs
    val src = (0 until 20000).map(i => i.toLong).toDF("id")
      .withColumn("v", concat((0 until 4).map(j =>
        md5(concat(col("id").cast("string"), lit(s"_$j")))): _*))
      .coalesce(1)
    DeltaTable.write(spark, src,
      dir, configuration = Map(
        "delta.parquet.compression.codec" -> "gzip",
        "delta.targetFileSize" -> "65536"))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF.count() == 20000)
    assert(t.snapshot.allFiles.size > 1, "resplit should have produced multiple files")
    t.snapshot.allFiles.foreach { f =>
      assert(t.snapshot.absolutePath(f.path).getName.contains(".gz.parquet"),
        s"resplit output lost the gzip codec: ${f.path}")
    }
  }

  test("compaction-only log: table opens, next commit gets a fresh version") {
    import spark.implicits._
    import graft.kernel.LogStore
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), dir)          // v0
    DeltaTable.write(spark, Seq((2L, "b")).toDF("id", "v"), dir, "append") // v1
    DeltaTable.forPath(spark, dir).compactLogs(0, 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    (0L to 1L).foreach(v => assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$dir/_delta_log/${LogStore.commitFileName(v)}"), false)))
    // tableExists must see the compaction file — a CREATE-branch write here
    // would commit a version 0 that replay silently shadows
    assert(DeltaTable.isDeltaTable(spark, dir))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.version == 1 && t.toDF.count() == 2)
    // and the next commit must allocate version 2, not reuse 0
    DeltaTable.write(spark, Seq((3L, "c")).toDF("id", "v"), dir, "append")
    val t2 = DeltaTable.forPath(spark, dir)
    assert(t2.version == 2)
    assert(t2.toDF.as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("deletionVectors(): per-file keep masks decode distributively") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      spark.range(1000).select(col("id"), (col("id") % 5).as("m")).coalesce(2),
      dir, configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id % 5 = 2"))
    val dvs = t.deletionVectors.collect()
    assert(dvs.length == t.snapshot.allFiles.count(_.deletionVector.isDefined))
    assert(dvs.nonEmpty)
    // keep-mask false-count per file == DV cardinality; kept rows remain
    val cards = t.snapshot.allFiles.flatMap(f =>
      f.deletionVector.map(d =>
        t.snapshot.absolutePath(f.path).toString -> d.cardinality)).toMap
    dvs.foreach { r =>
      val mask = r.getSeq[Boolean](1)
      assert(mask.count(!_) == cards(r.getString(0)))
    }
    assert(dvs.map(_.getSeq[Boolean](1).count(!_)).sum == 200)
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.DeltaTable

/** Round-2 feature coverage: merge schema evolution, batched CDF legs,
  * CDF timestamp options, incremental refresh, DDL trio. */
class Round2FeaturesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-r2f")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft_r2f_").toString

  test("MERGE withSchemaEvolution adds source columns") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    val src = Seq((2, "b2", 99L), (3, "c", 100L)).toDF("k", "v", "extra")
    val t = DeltaTable.forPath(spark, dir)
    t.merge(src, "target.k = source.k")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll()
      .withSchemaEvolution()
      .execute()
    val out = t.toDF.orderBy("k").collect()
    assert(t.schema.fieldNames.toSeq == Seq("k", "v", "extra"))
    assert(out.map(r => (r.getInt(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq ==
      Seq((1, "a", -1L), (2, "b2", 99L), (3, "c", 100L)))
  }

  test("MERGE without schema evolution rejects unknown source columns silently (drops)") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1, "a")).toDF("k", "v"), dir)
    val src = Seq((1, "a2", 7L)).toDF("k", "v", "extra")
    val t = DeltaTable.forPath(spark, dir)
    t.merge(src, "target.k = source.k").whenMatchedUpdateAll().execute()
    assert(t.schema.fieldNames.toSeq == Seq("k", "v")) // unchanged
    assert(t.toDF.select("v").as[String].collect().toSeq == Seq("a2"))
  }

  test("CDF over a partitioned table with special chars in partition values") {
    import spark.implicits._
    val dir = tmpDir()
    val df = Seq((1, "1-URGENT x"), (2, "2-HIGH%y"), (3, "1-URGENT x")).toDF("id", "pr")
    DeltaTable.write(spark, df, dir, partitionBy = Seq("pr"),
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id = 3"))
    val cdf = t.loadCdf(0)
    val changes = cdf.select("id", "pr", "_change_type", "_commit_version")
      .as[(Int, String, String, Long)].collect().toSet
    assert(changes == Set(
      (1, "1-URGENT x", "insert", 0L),
      (2, "2-HIGH%y", "insert", 0L),
      (3, "1-URGENT x", "insert", 0L),
      (3, "1-URGENT x", "delete", 1L)))
  }

  test("CDF plan over many versions stays a 3-leg union") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((0, "x")).toDF("id", "v"), dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    (1 until 8).foreach { i =>
      DeltaTable.write(spark, Seq((i, "x")).toDF("id", "v"), dir, mode = "append")
    }
    val t = DeltaTable.forPath(spark, dir)
    val cdf = t.loadCdf(0)
    assert(cdf.count() == 8)
    // 8 commits must NOT produce 8 scan branches
    val scans = cdf.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode => l
    }
    assert(scans.size <= 4, s"expected ≤4 leaf relations, got ${scans.size}")
    assert(cdf.select("_commit_version").distinct().count() == 8)
  }

  test("CDF by timestamp bounds + allowOutOfRange") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1, "a")).toDF("k", "v"), dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.loadCdfBetweenTimestamps(0L).count() == 1)
    assertThrows[IllegalArgumentException] {
      t.loadCdfBetweenTimestamps(System.currentTimeMillis() + 1000000)
    }
    assert(t.loadCdfBetweenTimestamps(System.currentTimeMillis() + 1000000,
      None, allowOutOfRange = true).count() == 0)
  }

  test("incremental refresh matches full replay") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1, "a")).toDF("k", "v"), dir)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.version == 0)
    // three commits behind t's cached snapshot
    DeltaTable.write(spark, Seq((2, "b")).toDF("k", "v"), dir, mode = "append")
    val other = DeltaTable.forPath(spark, dir)
    other.delete(Some("k = 1"))
    DeltaTable.write(spark, Seq((3, "c")).toDF("k", "v"), dir, mode = "append")
    val inc = t.refresh() // incremental path
    val full = new DeltaTable(spark, t.tablePath).snapshot // fresh full replay
    assert(inc.version == full.version)
    assert(inc.allFiles.map(_.path).toSet == full.allFiles.map(_.path).toSet)
    assert(t.toDF.select("k").as[Int].collect().toSet == Set(2, 3))
  }

  test("pruning 50k eager Adds: no job, same files and order") {
    import org.apache.spark.sql.types._
    import graft.kernel.{AddFile, Metadata, Protocol, Snapshot, StatsPruning}
    val schema = StructType(Seq(StructField("id", LongType), StructField("p", IntegerType)))
    // file i holds ids [100i, 100i + 99] in partition p = i % 10, in a
    // shuffled snapshot order
    val files = new scala.util.Random(7).shuffle((0 until 50000).toVector).map { i =>
      AddFile(f"p=${i % 10}/f$i%05d.parquet", Map("p" -> (i % 10).toString), size = 4096,
        stats = Some(s"""{"numRecords":100,"minValues":{"id":${i * 100L}},""" +
          s""""maxValues":{"id":${i * 100L + 99}},"nullCount":{"id":0}}"""))
    }
    val snap = Snapshot("/synthetic", 0L, Protocol(),
      Metadata(schemaString = schema.json, partitionColumns = Seq("p")),
      files, Vector.empty, Map.empty, Map.empty, 0L)
    val preds = Seq("id >= 1000000 AND id < 1050000", "p < 5")
      .map(graft.table.Scan.parsePredicate(spark, _))
    val (pruned, jobs) = SnapshotCacheSpec.jobs(spark)(graft.table.Scan.prunedFiles(snap, preds))
    assert(jobs == 0, "pruning an eager snapshot launched Spark jobs")
    val serial = files.filter(f => StatsPruning.fileMayMatchAll(schema, Seq("p"), preds, f))
    assert(serial.size == 250)
    assert(pruned == serial)
  }

  test("DELETE via deletion vectors: no rewrite, masks merge, vacuum keeps blobs") {
    import spark.implicits._
    val dir = tmpDir()
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    DeltaTable.write(spark, df.coalesce(1), dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    val dataPath = t.files.head

    t.delete(Some("id >= 90"))
    val s1 = t.snapshot
    // same physical file, now masked — nothing rewritten
    assert(s1.allFiles.map(_.path) == Seq(dataPath))
    assert(s1.allFiles.head.deletionVector.exists(_.cardinality == 10))
    assert(s1.protocol.minReaderVersion == 3 &&
      s1.protocol.readerFeatures.get.contains("deletionVectors"))
    assert(t.toDF.count() == 90)
    assert(t.approxCount.contains(90L))

    // second delete unions into the existing mask
    t.delete(Some("id < 5"))
    val s2 = t.refresh()
    assert(s2.allFiles.map(_.path) == Seq(dataPath))
    assert(s2.allFiles.head.deletionVector.exists(_.cardinality == 15))
    assert(t.toDF.select("id").as[Long].collect().toSet == (5L until 90L).toSet)

    // vacuum must keep the data file AND the live DV blob
    t.vacuum(retentionHours = 0, dryRun = false, enforceRetention = false)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 85)

    // compaction purges masked rows and drops the DV
    t.optimizeCompact()
    val s3 = t.refresh()
    assert(s3.allFiles.forall(_.deletionVector.isEmpty) ||
      s3.allFiles.map(_.path) == Seq(dataPath)) // single file: no bin to compact
    assert(t.toDF.count() == 85)
  }

  test("UPDATE via deletion vectors: masks old rows, appends updated ones") {
    import spark.implicits._
    val dir = tmpDir()
    val df = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    DeltaTable.write(spark, df.coalesce(1), dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    val originalFile = t.files.head
    val m = t.update(Map("v" -> lit("upd")), Some("id < 10"))
    assert(m("num_updated_rows") == "10")
    val s = t.snapshot
    // original file still present (masked), plus one new file of updates
    assert(s.allFiles.map(_.path).contains(originalFile))
    assert(s.allFiles.size == 2)
    assert(s.allFiles.find(_.path == originalFile).get
      .deletionVector.exists(_.cardinality == 10))
    assert(t.toDF.filter("v = 'upd'").count() == 10)
    assert(t.toDF.count() == 100)
    assert(t.toDF.select("id").as[Long].collect().toSet == (0L until 100L).toSet)
  }

  test("deletion vectors survive checkpoint replay") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 40).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dir, configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id >= 30")) // masks 10 rows at v1
    // push past the checkpoint interval
    (0 until 10).foreach { i =>
      DeltaTable.write(spark, Seq((1000 + i, "x")).toDF("id", "v"), dir, mode = "append")
    }
    assert(t.refresh().version >= 10)
    val fresh = DeltaTable.forPath(spark, dir) // replays from checkpoint
    assert(fresh.snapshot.allFiles.exists(_.deletionVector.exists(_.cardinality == 10)))
    assert(fresh.toDF.filter("id < 1000").count() == 30)
    // a v3/v7 protocol row must round-trip its feature lists through the
    // checkpoint — without them a third-party reader loses the DV signal
    val p = fresh.snapshot.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.readerFeatures.exists(_.contains("deletionVectors")),
      s"readerFeatures lost in checkpoint: $p")
    assert(p.writerFeatures.exists(_.contains("deletionVectors")),
      s"writerFeatures lost in checkpoint: $p")
  }

  test("DV delete over the mask cap falls back to rewrite cleanly") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 100).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dir, configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    spark.conf.set("spark.graft.dv.maxMaskedRows", "5")
    try {
      val m = t.delete(Some("id >= 90")) // 10 masked rows > cap of 5
      assert(m("num_deleted_rows") == "10")
      assert(t.toDF.count() == 90)
      // fell back to rewrite: no file carries a deletion vector
      assert(t.snapshot.allFiles.forall(_.deletionVector.isEmpty),
        "cap exceeded - partials must be rewritten, not masked")
      // and under the cap the mask path still engages
      val m2 = t.delete(Some("id >= 88"))
      assert(m2("num_deleted_rows") == "2")
      assert(t.refresh().allFiles.exists(_.deletionVector.exists(_.cardinality == 2)))
      assert(t.toDF.count() == 88)
    } finally spark.conf.unset("spark.graft.dv.maxMaskedRows")
  }

  test("RESTORE across a DV delete resurrects masked rows") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 30).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dir, configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id >= 20")) // masks, same path
    assert(t.toDF.count() == 20)
    t.restore(0)
    assert(t.toDF.count() == 30, "masked rows must come back")
    assert(t.snapshot.allFiles.forall(_.deletionVector.isEmpty))
    // and restoring FORWARD to the masked state works too
    t.restore(1)
    assert(t.refresh().allFiles.head.deletionVector.isDefined)
    assert(t.toDF.count() == 20)
  }

  test("CDF and deletion vectors compose: masked deletes still emit change rows") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (0 until 50).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1),
      dir, configuration = Map(
        "delta.enableChangeDataFeed" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id >= 45"))
    assert(t.snapshot.allFiles.head.deletionVector.isDefined) // mask, not rewrite
    val changes = t.loadCdf(1).filter("_change_type = 'delete'")
      .select("id").as[Int].collect().toSet
    assert(changes == (45 until 50).toSet)
    assert(t.toDF.count() == 45)
  }

  test("MERGE via deletion vectors: copies untouched, masks + appends only") {
    import spark.implicits._
    val dir = tmpDir()
    val target = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    DeltaTable.write(spark, target.coalesce(1), dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    val originalFile = t.files.head
    val src = Seq((5L, "u5"), (7L, "u7"), (200L, "new")).toDF("id", "v")
    val m = t.merge(src, "target.id = source.id")
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    assert(m("num_target_rows_updated") == "2")
    assert(m("num_target_rows_inserted") == "1")
    assert(m("num_target_rows_copied") == "0", "DV merge must not copy rows")
    val s = t.snapshot
    assert(s.allFiles.map(_.path).contains(originalFile), "original file kept")
    assert(s.allFiles.find(_.path == originalFile).get
      .deletionVector.exists(_.cardinality == 2))
    val out = t.toDF
    assert(out.count() == 101)
    assert(out.filter("id = 5").select("v").as[String].head() == "u5")
    assert(out.filter("id = 200").count() == 1)
    assert(out.filter("id = 6").select("v").as[String].head() == "v6")

    // delete clause through DV merge
    val m2 = t.merge(Seq((8L, "x")).toDF("id", "v"), "target.id = source.id")
      .whenMatchedDelete().execute()
    assert(m2("num_target_rows_deleted") == "1")
    assert(t.toDF.count() == 100)
    assert(t.toDF.filter("id = 8").count() == 0)
  }

  test("merge early filter prunes partitions via source IN-list") {
    import spark.implicits._
    val dir = tmpDir()
    val target = (0 until 100).map(i => (i.toLong, i % 5, s"v$i")).toDF("id", "p", "v")
    DeltaTable.write(spark, target.coalesce(1), dir, partitionBy = Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot.numFiles == 5)
    // source only touches partition p=2 — the merge must not rewrite others
    val src = target.filter("p = 2").withColumn("v", lit("updated"))
    val metrics = t.merge(src, "target.id = source.id AND target.p = source.p")
      .whenMatchedUpdateAll().execute()
    assert(metrics("num_target_files_removed") == "1",
      s"expected only the p=2 file rewritten, got ${metrics("num_target_files_removed")}")
    assert(t.toDF.filter("v = 'updated'").count() == 20)
    assert(t.toDF.count() == 100)
  }

  test("V2 uuid-manifest checkpoint with sidecars replays") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.kernel._
    val dir = tmpDir()
    (0 until 3).foreach { i =>
      DeltaTable.write(spark, Seq((i, s"v$i")).toDF("id", "v"), dir, mode = "append")
    }
    val t = DeltaTable.forPath(spark, dir)
    val log = t.deltaLog
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    // classic checkpoint as a source of correctly-shaped add rows
    Checkpoints.write(spark, logPath, t.snapshot, log.store)
    val classic = new Path(logPath, LogStore.checkpointFileName(2))
    // sidecar parquet: just the add column
    val sidecarDir = new Path(logPath, "_sidecars")
    fs.mkdirs(sidecarDir)
    val addsOnly = spark.read.parquet(classic.toString)
      .select("add").where("add IS NOT NULL")
    val tmp = new Path(dir, ".sc_tmp")
    addsOnly.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.rename(part, new Path(sidecarDir, "sc-1.parquet"))
    fs.delete(tmp, true)
    // V2 json manifest referencing the sidecar
    val uuid = java.util.UUID.randomUUID().toString
    val manifest = new Path(logPath, f"${2L}%020d.checkpoint.$uuid.json")
    val m = t.snapshot.metadata
    log.store.writeAtomic(manifest, Iterator(
      ActionCodec.toJson(CheckpointMetadata(2)),
      ActionCodec.toJson(t.snapshot.protocol),
      ActionCodec.toJson(m),
      ActionCodec.toJson(Sidecar("sc-1.parquet"))))
    // drop the classic checkpoint and the pre-checkpoint commits
    fs.delete(classic, false)
    (0 until 2).foreach(v => fs.delete(new Path(logPath, LogStore.commitFileName(v)), false))
    val fresh = DeltaTable.forPath(spark, dir)
    assert(fresh.version == 2)
    assert(fresh.toDF.select("id").as[Int].collect().toSet == Set(0, 1, 2))
  }

  test("multi-part checkpoints replay like single-file ones") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import graft.kernel.{Checkpoints, LogStore}
    val dir = tmpDir()
    (0 until 11).foreach { i =>
      DeltaTable.write(spark, Seq((i, s"v$i")).toDF("id", "v"), dir, mode = "append")
    }
    val logPath = new Path(dir, "_delta_log")
    val fs = logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val single = new Path(logPath, LogStore.checkpointFileName(10))
    assert(fs.exists(single), "checkpoint at v10 expected")
    // split the classic checkpoint into two parts the way delta-spark names them
    val rows = spark.read.schema(Checkpoints.checkpointSchema).parquet(single.toString)
    def part(i: Int): String =
      f"$logPath/${10L}%020d.checkpoint.$i%010d.${2}%010d.parquet"
    val Seq(h1, h2) = Seq(0, 1).map(i => rows.filter(org.apache.spark.sql.functions
      .spark_partition_id().isNotNull && org.apache.spark.sql.functions
      .monotonically_increasing_id() % 2 === i))
    Seq((h1, 1), (h2, 2)).foreach { case (half, i) =>
      val tmp = new Path(s"$dir/.cp_tmp_$i")
      half.coalesce(1).write.parquet(tmp.toString)
      val p = fs.listStatus(tmp).map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(p, new Path(part(i)))
      fs.delete(tmp, true)
    }
    fs.delete(single, false)
    val fresh = DeltaTable.forPath(spark, dir)
    assert(fresh.version == 10)
    assert(fresh.toDF.select("id").as[Int].collect().toSet == (0 until 11).toSet)
  }

  test("contended blind appends all land via the retry loop") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((-1, "seed")).toDF("id", "v"), dir)
    val writers = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val futures = (0 until writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            latch.await()
            val blind = graft.table.BlindDeltaTable.forPath(spark, dir)
            blind.append(Seq((i, s"w$i")).toDF("id", "v")).get
          }
        })
      }
      latch.countDown()
      val versions = futures.map(_.get())
      assert(versions.distinct.size == writers, "each commit got a distinct version")
    } finally pool.shutdown()
    val t = DeltaTable.forPath(spark, dir)
    assert(t.version == writers.toLong)
    assert(t.toDF.select("id").as[Int].collect().toSet ==
      ((0 until writers).toSet + -1))
  }

  test("conditional-put log store: exactly one winner per contended version") {
    import graft.kernel._
    import org.apache.hadoop.fs.Path
    val store = new ObjectStoreLogStore(
      new org.apache.hadoop.conf.Configuration(), new InMemoryPutClient)
    val logDir = new Path("/bucket/table/_delta_log")
    val racers = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(racers)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val futures = (0 until racers).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            latch.await()
            try {
              store.writeAtomic(new Path(logDir, LogStore.commitFileName(0)),
                Iterator(s"""{"commitInfo":{"racer":$i}}"""))
              wins.incrementAndGet()
            } catch {
              case _: VersionAlreadyExistsException => losses.incrementAndGet()
            }
          }
        })
      }
      latch.countDown()
      futures.foreach(_.get())
    } finally pool.shutdown()
    assert(wins.get() == 1 && losses.get() == racers - 1)
    // list + read round-trip through the blob interface
    assert(store.list(logDir).map(_.getPath.getName) ==
      Seq(LogStore.commitFileName(0)))
    assert(store.read(new Path(logDir, LogStore.commitFileName(0))).size == 1)
  }

  test("zorder key codegen matches interpreted eval and preserves order") {
    import spark.implicits._
    import graft.functions.{ZOrder, ZOrderKey}
    val df = Seq((-5L, "apple", 1.5), (3L, "banana", -2.0), (3L, "apple", 0.0))
      .toDF("a", "b", "c")
    val keys = df.select(ZOrder.zorderKey(col("a"), col("b"), col("c")).as("k"))
      .as[Array[Byte]].collect()
    // reference: direct object-level computation
    val expected = Seq((-5L, "apple", 1.5), (3L, "banana", -2.0), (3L, "apple", 0.0))
      .map { case (a, b, c) =>
        ZOrderKey.interleave(Array(
          ZOrderKey.encodeLong(a),
          ZOrderKey.encodeBytes(b.getBytes("UTF-8")),
          ZOrderKey.encodeDouble(c)))
      }
    keys.zip(expected).foreach { case (got, want) =>
      assert(got.toSeq == want.toSeq)
    }
    // SQL registration path
    graft.functions.ZOrder.register(spark)
    df.createOrReplaceTempView("zt")
    val viaSql = spark.sql("SELECT zorder_key(a, b, c) AS k FROM zt")
      .as[Array[Byte]].collect()
    keys.zip(viaSql).foreach { case (x, y) => assert(x.toSeq == y.toSeq) }

    // single-column key must order like the column itself
    val ordered = Seq(-10L, -1L, 0L, 1L, 42L)
    val enc = ordered.map(v => ZOrderKey.interleave(Array(ZOrderKey.encodeLong(v))))
    val cmp = new java.util.Comparator[Array[Byte]] {
      def compare(x: Array[Byte], y: Array[Byte]): Int =
        java.util.Arrays.compareUnsigned(x, y)
    }
    assert(enc.sortWith((x, y) => cmp.compare(x, y) < 0) == enc)
  }

  test("add_feature / update_field_metadata / update_table_metadata") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1, "a")).toDF("k", "v"), dir)
    val t = DeltaTable.forPath(spark, dir)
    t.addFeature("changeDataFeed")
    assert(t.snapshot.protocol.minWriterVersion == 7)
    assert(t.snapshot.protocol.writerFeatures.get.contains("changeDataFeed"))
    assertThrows[IllegalArgumentException](t.addFeature("unknownFeature"))

    t.updateFieldMetadata("v", Map("comment" -> "the value"))
    assert(t.snapshot.schema("v").metadata.getString("comment") == "the value")

    t.updateTableMetadata(name = Some("t1"), description = Some("desc"))
    assert(t.snapshot.metadata.name.contains("t1"))
    assert(t.snapshot.metadata.description.contains("desc"))
    // still writable after feature upgrade (features are all supported)
    DeltaTable.write(spark, Seq((2, "b")).toDF("k", "v"), dir, mode = "append")
    assert(t.refresh().allFiles.size == 2)
  }
}

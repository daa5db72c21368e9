package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.CommitInfo
import graft.table.DeltaTable

/** Round-8 scale proof: VACUUM over a debris population far beyond the
  * driver collect threshold never materializes the full candidate set on
  * the driver — the returned Seq is a capped sample, the exact totals live
  * in the VACUUM START/END commit metrics, and every debris file is
  * actually deleted by the foreachPartition fan-out. Complements
  * Round6Spec's 5M-Add snapshot bound and Round7Spec's 2M-row MERGE bound. */
class Round8Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[16]")
    .appName("graft-test-r8")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft_r8_").toString + "/t"

  test("VACUUM at 1M debris files: sample return, exact metrics, no driver materialization") {
    val dir = tmpDir()
    // PARTITIONED table: live files sit in subdirectories, exactly where a
    // mis-relativized listing rel (scheme-qualified seed URI vs raw table
    // URI) used to strip them of anti-join protection — the distributed
    // vacuum would have deleted live partition data
    DeltaTable.write(spark,
      spark.range(100).select(col("id"), (col("id") % 4).cast("string").as("p")),
      dir, partitionBy = Seq("p"))

    // 1M synthetic debris files across 64 walkable subdirs, created by a
    // 64-wide Spark job (driver-side serial creation would dominate the
    // test); mtimes are "now", which is < the vacuum-time cutoff because
    // retention 0h means cutoff = vacuum's own now, milliseconds later
    val nDebris = 1000000
    val nDirs = 64
    val perDir = nDebris / nDirs
    spark.sparkContext.parallelize(0 until nDirs, nDirs).foreach { d =>
      val sub = Paths.get(s"$dir/debris$d")
      Files.createDirectories(sub)
      var i = 0
      while (i < perDir) {
        Files.createFile(sub.resolve(s"junk_$i.parquet"))
        i += 1
      }
    }

    spark.conf.set("spark.graft.vacuum.distributedThreshold", "1")
    spark.conf.set("spark.graft.vacuum.collectThreshold", "1000")
    try {
      val t = DeltaTable.forPath(spark, dir)
      val t0 = System.nanoTime()
      val result = t.vacuumDetailed(0, dryRun = false, enforceRetention = false)
      val returned = result.paths
      val sec = (System.nanoTime() - t0) / 1e9
      info(f"vacuum of $nDebris%d debris files took $sec%.1f s")

      // the driver got a capped sample, never the 1M-path array — and the
      // result itself carries the exact total (no global side channel)
      assert(returned.size == 1000, s"expected the 1000-row sample, got ${returned.size}")
      assert(result.count == nDebris.toLong && result.truncated,
        s"VacuumResult must carry the exact count: $result")
      val nonDebris = returned.filterNot(_.startsWith("debris"))
      assert(nonDebris.isEmpty, s"non-debris candidates: ${nonDebris.take(5).mkString(", ")}")

      // exact totals are in the commit metrics
      val infos = t.history(Some(2)).flatMap(_._3)
      val end = infos.find(_.operation == "VACUUM END").get
      val start = infos.find(_.operation == "VACUUM START").get
      assert(start.operationMetrics.get("numFilesToDelete").contains(nDebris.toString))
      assert(end.operationMetrics.get("numDeletedFiles").contains(nDebris.toString))

      // the debris is actually gone; the live table survived
      (0 until nDirs).foreach { d =>
        val sub = new java.io.File(s"$dir/debris$d")
        assert(!sub.exists || sub.list().isEmpty, s"debris$d not emptied")
      }
      assert(DeltaTable.forPath(spark, dir).toDF.count() == 100L)
      assert(sec < 180, f"vacuum took $sec%.1f s — fan-out degraded")
    } finally {
      spark.conf.unset("spark.graft.vacuum.distributedThreshold")
      spark.conf.unset("spark.graft.vacuum.collectThreshold")
    }
  }

  test("incremental OPTIMIZE never re-reads its own chunk commits (O(chunks) not O(chunks^2))") {
    // counting LogStore around the real one, reachable via the file: scheme
    val reads = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val inner = new graft.kernel.HadoopLogStore(
      spark.sessionState.newHadoopConf())
    val counting = new graft.kernel.LogStore {
      def conf = inner.conf
      def list(dir: org.apache.hadoop.fs.Path) = inner.list(dir)
      def read(path: org.apache.hadoop.fs.Path) = {
        reads.merge(path.getName, 1, (a: Integer, b: Integer) => a + b)
        inner.read(path)
      }
      def writeAtomic(path: org.apache.hadoop.fs.Path, lines: Iterator[String]) =
        inner.writeAtomic(path, lines)
      def exists(path: org.apache.hadoop.fs.Path) = inner.exists(path)
      def delete(path: org.apache.hadoop.fs.Path) = inner.delete(path)
    }
    graft.kernel.DeltaLog.registerLogStore("file", counting)
    try {
      val dir = "file:" + tmpDir()
      // 8 tiny files -> with a huge target size they bin-pack into ONE bin
      // per partition; 4 partitions, interval 0 => a commit per completed
      // bin = 4 incremental chunks
      DeltaTable.write(spark,
        spark.range(4000).select(col("id"), (col("id") % 4).cast("string").as("p"))
          .repartition(8),
        dir, partitionBy = Seq("p"))
      val baseVersion = DeltaTable.forPath(spark, dir).version
      reads.clear()
      val metrics = DeltaTable.forPath(spark, dir)
        .optimizeCompact(minCommitInterval = Some(0L))
      val nCommits = metrics("num_commits").toInt
      assert(nCommits >= 3, s"expected multiple incremental chunks, got $nCommits")
      // chunk commits are versions base+1 .. base+n. Each is read ONCE by
      // its own post-commit snapshot refresh (O(chunks) total). Without
      // assumeOwnCommits, chunk k's conflict replay re-read commits
      // 1..k-1 as well — a descending Vector(n, n-1, ..., 1) pattern,
      // O(chunks^2) total. Assert the O(chunks) shape: at most one read
      // per own commit.
      val ownReads = (1 to nCommits).map { i =>
        val name = graft.kernel.LogStore.commitFileName(baseVersion + i)
        Option(reads.get(name)).fold(0)(_.intValue)
      }
      assert(ownReads.forall(_ <= 1),
        s"own chunk commit files were re-read during the compaction: $ownReads")
      // and the table is intact
      assert(DeltaTable.forPath(spark, dir).toDF.count() == 4000L)
    } finally graft.kernel.DeltaLog.unregisterLogStore("file")
  }

  test("IncrementalAgg: group-to-zero delete, CDF maintenance == full recompute") {
    val dir = tmpDir(); val tgt = tmpDir()
    val base = spark.range(1000).select(col("id"),
      (col("id") % 5).as("grp"), (col("id") * 3).as("v"))
    DeltaTable.write(spark, base.repartition(4), dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val up = DeltaTable.forPath(spark, dir)
    graft.ops.IncrementalAgg.refresh(up, tgt, Seq("grp"), Seq("v"))

    up.delete(Some("grp = 3"))                      // entire group vanishes
    up.update(Map("v" -> expr("v + 1")), Some("id % 2 = 0"))
    DeltaTable.write(spark,
      base.filter("id < 10 AND id % 5 != 3").withColumn("id", col("id") + 5000),
      dir, mode = "append")
    graft.ops.IncrementalAgg.refresh(up, tgt, Seq("grp"), Seq("v"))

    val got = DeltaTable.forPath(spark, tgt).toDF
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = up.toDF.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"incremental != full recompute: $got vs $want")
    assert(!got.contains(3L), "emptied group must be DELETED from the target")

    // non-integral sum column refused up front
    val e = intercept[IllegalArgumentException] {
      graft.ops.IncrementalAgg.refresh(up, tmpDir(), Seq("grp"), Seq("bad"))
    }
    assert(e.getMessage.contains("integral") || e.getMessage.contains("bad"))
  }

  test("IncrementalAgg: racing refreshes never double-apply (txn conflict or no-op)") {
    val dir = tmpDir(); val tgt = tmpDir()
    val base = spark.range(500).select(col("id"), (col("id") % 3).as("grp"),
      col("id").as("v"))
    DeltaTable.write(spark, base, dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val up = DeltaTable.forPath(spark, dir)
    graft.ops.IncrementalAgg.refresh(up, tgt, Seq("grp"), Seq("v"))
    DeltaTable.write(spark, base.withColumn("id", col("id") + 1000), dir,
      mode = "append")

    // two racing refreshes of the same new commit: each must either apply
    // once, observe the other's txn and no-op, or CONFLICT on the shared
    // appId — never fold the delta twice
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String =
            try graft.ops.IncrementalAgg.refresh(
              DeltaTable.forPath(spark, dir), tgt, Seq("grp"), Seq("v"))
              .getOrElse("no_op", "applied")
            catch { case _: graft.kernel.CommitConflictException => "conflict" }
        })
      }
      val outcomes = futures.map(_.get())
      info(s"racing refresh outcomes: $outcomes")
    } finally pool.shutdownNow()

    val got = DeltaTable.forPath(spark, tgt).toDF
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    up.refresh()
    val full = up.toDF.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == full, s"double-applied or lost delta: $got vs $full")
  }

  test("table-dir review regressions: create validation, map merge, collisions, zorder_key()") {
    import org.apache.spark.sql.types._
    // CREATE refuses partition columns that miss the schema (case-sensitive)
    val schema = StructType(Seq(StructField("P", StringType), StructField("v", LongType)))
    val eCase = intercept[IllegalArgumentException](
      DeltaTable.create(spark, tmpDir(), schema, Seq("p")))
    assert(eCase.getMessage.contains("not found"))
    val eDup = intercept[IllegalArgumentException](
      DeltaTable.create(spark, tmpDir(), schema, Seq("P", "P")))
    assert(eDup.getMessage.contains("Duplicate"))
    // CTAS path validates too
    val eCtas = intercept[IllegalArgumentException](
      DeltaTable.write(spark, spark.range(3).toDF("id"), tmpDir(),
        partitionBy = Seq("ghost")))
    assert(eCtas.getMessage.contains("not found"))

    // mergeSchema widens map VALUE types like struct fields
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(spark,
      Seq((1L, Map("a" -> 1L))).toDF("id", "m"), dir)
    DeltaTable.write(spark,
      Seq((2L, Map("b" -> 2))).toDF("id", "m"), dir,
      mode = "append", mergeSchema = true)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.schema("m").dataType == MapType(StringType, LongType, false))
    assert(t.toDF.count() == 2L)

    // zero-arg zorder_key is an analysis error, not a constant-key no-op
    graft.functions.ZOrder.register(spark)
    val eZ = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT zorder_key()").collect())
    assert(eZ.getMessage.contains("zorder_key") || eZ.getMessage.contains("DATATYPE"))
  }

  test("CDF: RESTORE re-add of a removed file keeps per-version provenance") {
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1),
      dir, configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(None) // v1: full-table delete -> metadata-only removes
    t.restore(0)   // v2: re-ADDS the same file path, dataChange, no CDC
    val feed = t.loadCdf(0).select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // the same path sits in the insert leg at v0 AND v2 — each version's
    // rows must carry THEIR version (one batched scan mislabeled both as
    // the later one and dropped the v0 insert from the feed)
    val want = Set(
      (1L, "insert", 0L), (2L, "insert", 0L),
      (1L, "delete", 1L), (2L, "delete", 1L),
      (1L, "insert", 2L), (2L, "insert", 2L))
    assert(feed == want, s"got $feed")
  }

  test("CDF: a _commit_version filter selects one version's rows as a scan " +
      "partition filter") {
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaTable.write(spark, Seq((3L, "c")).toDF("id", "s"), dir, mode = "append") // v1
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("id = 2")) // v2: cdc files
    DeltaTable.write(spark, Seq((4L, "d")).toDF("id", "s"), dir, mode = "append") // v3
    Seq(1L -> Set((3L, "insert")), 2L -> Set((2L, "delete"))).foreach { case (v, want) =>
      val feed = t.loadCdf(0).filter(col("_commit_version") === v)
        .select("id", "_change_type")
      assert(feed.collect().map(r => (r.getLong(0), r.getString(1))).toSet == want, s"v$v")
      val filters = CatalogReadSpec.executedNodes(feed.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.partitionFilters
      }.flatten
      assert(filters.exists(_.references.exists(_.name == "_commit_version")),
        s"v$v: no _commit_version partition filter in the scans: $filters")
    }
  }

  test("CDF: a remove action without a size still reads its file's rows") {
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    // a FOREIGN writer's remove: size is optional in the protocol
    val path = t.snapshot.allFiles.head.path
    t.deltaLog.store.writeAtomic(
      new org.apache.hadoop.fs.Path(t.deltaLog.logPath,
        graft.kernel.LogStore.commitFileName(1)),
      Iterator(s"""{"remove":{"path":"$path","deletionTimestamp":1,"dataChange":true}}"""))
    val feed = DeltaTable.forPath(spark, dir).loadCdf(1).select("id", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((1L, "delete"), (2L, "delete")), s"got $feed")
  }

  test("CDF: a commit without CommitInfo.timestamp gets the mtime, not epoch 0") {
    val dir = tmpDir()
    import spark.implicits._
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "s").coalesce(1), dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    // simulate a FOREIGN writer: copy v0's add action into a raw v1 commit
    // with no commitInfo at all
    val addJson = t.deltaLog.store
      .read(new org.apache.hadoop.fs.Path(t.deltaLog.logPath,
        graft.kernel.LogStore.commitFileName(0)))
      .find(_.contains("\"add\""))
      .get
    t.deltaLog.store.writeAtomic(
      new org.apache.hadoop.fs.Path(t.deltaLog.logPath,
        graft.kernel.LogStore.commitFileName(1)),
      Iterator(addJson))
    val ts = DeltaTable.forPath(spark, dir).loadCdf(1)
      .select("_commit_timestamp").collect().map(_.getTimestamp(0)).toSeq
    assert(ts.nonEmpty)
    // the commit file was just written — its mtime is "now", not 1970
    assert(ts.forall(_.getTime > 1000000000000L),
      s"_commit_timestamp fell back to epoch: $ts")
    intercept[IllegalArgumentException](DeltaTable.forPath(spark, dir).loadCdf(-1))
  }

  test("LAZY snapshot over a stats_parsed-only checkpoint keeps skipping + re-checkpoint keeps stats") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")), dir)
    DeltaTable.forPath(spark, dir).createCheckpoint()

    // rewrite the checkpoint delta-spark writeStatsAsJson=false style:
    // stats STRUCT (numRecords + min/max id), raw JSON nulled
    val cpFile = new java.io.File(dir, "_delta_log").listFiles()
      .map(_.getName).filter(_.matches("\\d{20}\\.checkpoint\\.parquet")).head
    val cpPath = s"$dir/_delta_log/$cpFile"
    val cp = spark.read.parquet(cpPath)
    val rewritten = cp.withColumn("add",
      col("add")
        .withField("stats_parsed", struct(
          get_json_object(col("add.stats"), "$.numRecords").cast("long").as("numRecords"),
          struct(get_json_object(col("add.stats"), "$.minValues.id").cast("long").as("id")).as("minValues"),
          struct(get_json_object(col("add.stats"), "$.maxValues.id").cast("long").as("id")).as("maxValues")))
        .withField("stats", lit(null).cast("string")))
    val tmpOut = tmpDir()
    rewritten.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmpOut))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.delete(new org.apache.hadoop.fs.Path(cpPath), false)
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
      new org.apache.hadoop.fs.Path(cpPath), false,
      spark.sessionState.newHadoopConf())
    new java.io.File(dir, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json"))
      .filterNot(_.getName.startsWith("_")).foreach(_.delete())

    spark.conf.set("spark.graft.lazySnapshotThreshold", "1")
    try {
      val t = DeltaTable.forPath(spark, dir)
      assert(t.snapshot.lazyIndex.exists(!_.isMaterialized), "index must stay lazy")
      assert(t.approxCount.contains(100L),
        "lazy numRecords must be recovered from stats_parsed")
      val pruned = graft.table.Scan.prunedFiles(t.snapshot,
        Seq(graft.table.Scan.parsePredicate(spark, "id <= 1")))
      assert(pruned.size == 1,
        s"lazy skipping must prune on stats_parsed-derived bounds, kept ${pruned.size}")

      // a re-checkpoint streamed from the lazy parts must PRESERVE stats
      DeltaTable.write(spark, Seq((1000L, "x")).toDF("id", "s"), dir, mode = "append")
      val t2 = DeltaTable.forPath(spark, dir)
      t2.createCheckpoint()
      new java.io.File(dir, "_delta_log").listFiles()
        .filter(_.getName.endsWith(".json"))
        .filterNot(_.getName.startsWith("_")).foreach(_.delete())
      val t3 = DeltaTable.forPath(spark, dir)
      assert(t3.approxCount.contains(101L))
      val pruned3 = graft.table.Scan.prunedFiles(t3.snapshot,
        Seq(graft.table.Scan.parsePredicate(spark, "id <= 1")))
      assert(pruned3.size == 1,
        s"re-checkpoint dropped stats_parsed-derived stats (kept ${pruned3.size} files)")
    } finally spark.conf.unset("spark.graft.lazySnapshotThreshold")
  }

  test("linearScore: bias on empty text, additive in token counts") {
    import spark.implicits._
    val w = Array.tabulate(64)(i => ((i % 5) - 2) * 0.25)
    val df = Seq((1L, ""), (2L, "alpha"), (3L, "alpha alpha"), (4L, "alpha beta"))
      .toDF("doc_id", "text")
    val out = graft.llm.TextOps.linearScore(df, "doc_id", "text", w, bias = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((0L, 0.5, true)), s"empty doc must score the bias: ${out(1L)}")
    val sAlpha = out(2L)._2 - 0.5
    assert(out(3L)._1 == 2L && math.abs((out(3L)._2 - 0.5) - 2 * sAlpha) < 1e-12,
      "same-token repetition must scale the contribution linearly")
    val sBeta = out(4L)._2 - 0.5 - sAlpha
    assert(math.abs((out(2L)._2 - 0.5) + sBeta - (out(4L)._2 - 0.5)) < 1e-12)
    intercept[IllegalArgumentException](
      graft.llm.TextOps.linearScore(df, "doc_id", "text", Array(1.0)))
  }

  test("dsirWeights discriminates target-like documents (rational DSIR)") {
    import spark.implicits._
    // target docs share a vocabulary; raw docs split between that
    // vocabulary and a disjoint one — target-like raw docs must outscore
    // off-domain raw docs, and weights must be layout-independent
    val target = (1 to 20).map(i => (i.toLong, "alpha beta gamma delta", true))
    val rawLike = (21 to 30).map(i => (i.toLong, "alpha beta gamma delta", false))
    val rawOff = (31 to 40).map(i => (i.toLong, "omega psi chi phi", false))
    val df = (target ++ rawLike ++ rawOff).toDF("doc_id", "text", "is_t")
    val w = graft.llm.Curation.dsirWeights(df, "doc_id", "text",
      col("is_t"), numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val like = (21 to 30).map(i => w(i.toLong))
    val off = (31 to 40).map(i => w(i.toLong))
    assert(like.min > off.max,
      s"target-like raw docs must outscore off-domain: ${like.min} vs ${off.max}")
    // deterministic under a different layout
    val w2 = graft.llm.Curation.dsirWeights(df.repartition(7), "doc_id",
      "text", col("is_t"), numBuckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(w == w2, "weights must be layout-independent")
  }
}

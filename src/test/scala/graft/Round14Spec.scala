package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel._
import graft.table.DeltaTable

/** Round-14 coverage for the r13 verdict/advice queue: run-level
  * idempotent-replay skip (MERGE appTxn), multi-unit retention intervals,
  * and case-colliding SET/INSERT key refusal. */
class Round14Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-r14")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft_r14_").toString + "/t"

  // ---------------------------------------------------------- appTxn replay

  test("MergeOp.run skips an already-applied (appId, version) with zeroed " +
      "marked metrics; higher versions still apply") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val t = DeltaTable.forPath(spark, dir)
    def upsert(ver: Long, suffix: String): Map[String, String] =
      t.merge(Seq((1L, "x"), (2L, "y")).toDF("id", "v"), "target.id = source.id")
        .whenMatchedUpdate(Map("v" -> s"concat(target.v, '$suffix')"))
        .withAppTransaction("r14app", ver)
        .execute()

    val first = upsert(3L, "_1")
    assert(first.get("replay_skipped").isEmpty)
    assert(first("num_target_rows_updated") == "2")

    val replay = upsert(3L, "_1")
    assert(replay.get("replay_skipped").contains("true"))
    assert(replay("num_target_rows_updated") == "0")
    assert(replay("num_output_rows") == "0")

    val lower = upsert(1L, "_0") // at-or-below the recorded version: skip
    assert(lower.get("replay_skipped").contains("true"))

    val next = upsert(4L, "_2")
    assert(next.get("replay_skipped").isEmpty)
    assert(t.txnVersion("r14app").contains(4L))
    assert(t.toDF.orderBy("id").as[(String, String)]
      .collect().map(_._2).toSeq == Seq("a_1_2", "b_1_2"))
  }

  test("commit loop: a conflict-retry winner carrying our idempotency " +
      "marker surfaces TransactionAlreadyApplied; a lower-version winner " +
      "still conflicts") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), dir)

    def winnerCommit(app: String, ver: Long): Unit = {
      val t2 = DeltaTable.forPath(spark, dir)
      val txn2 = t2.startTransaction()
      txn2.commit(Seq(SetTransaction(app, ver, None)),
        Operation("WRITE", Map("mode" -> "Append")))
    }

    // pin a transaction, then let a replay of the SAME (app, ver) win
    locally {
      val t = DeltaTable.forPath(spark, dir)
      val txn = t.startTransaction()
      txn.idempotentTxn = Some(("raceapp", 5L))
      winnerCommit("raceapp", 5L)
      val e = intercept[TransactionAlreadyAppliedException] {
        txn.commit(Seq(SetTransaction("raceapp", 5L, None)),
          Operation("MERGE", Map.empty))
      }
      assert(e.appId == "raceapp" && e.version == 5L)
    }

    // a winner that advanced the appId to a LOWER version is a genuine
    // conflict (two writers disagreeing about the stream position)
    locally {
      val t = DeltaTable.forPath(spark, dir)
      val txn = t.startTransaction()
      txn.idempotentTxn = Some(("raceapp2", 5L))
      winnerCommit("raceapp2", 3L)
      val e = intercept[CommitConflictException] {
        txn.commit(Seq(SetTransaction("raceapp2", 5L, None)),
          Operation("MERGE", Map.empty))
      }
      assert(e.getMessage.contains("ConcurrentTransaction"))
    }

    // without the idempotent marker the old loud behavior is unchanged
    locally {
      val t = DeltaTable.forPath(spark, dir)
      val txn = t.startTransaction()
      winnerCommit("plainapp", 5L)
      intercept[CommitConflictException] {
        txn.commit(Seq(SetTransaction("plainapp", 5L, None)),
          Operation("MERGE", Map.empty))
      }
    }
  }

  test("two racing replays of one (appId, version) apply exactly once") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (1L to 50L).map(i => (i, "v")).toDF("id", "v"), dir)
    val src = (1L to 50L).map(i => (i, "w")).toDF("id", "v")

    def replay(): Map[String, String] = {
      val t = DeltaTable.forPath(spark, dir) // independent handle per racer
      t.merge(src, "target.id = source.id")
        .whenMatchedUpdate(Map("v" -> "concat(target.v, '+')"))
        .withAppTransaction("racer", 9L)
        .execute()
    }
    val results = Await.result(
      Future.sequence(Seq(Future(replay()), Future(replay()))), Duration.Inf)

    // whichever interleaving happened (pre-check skip, commit-loop skip, or
    // serial), the table must reflect EXACTLY ONE application
    val vs = DeltaTable.forPath(spark, dir).toDF
      .select("v").distinct().as[String].collect().toSeq
    assert(vs == Seq("v+"), s"expected single application, got values $vs")
    assert(DeltaTable.forPath(spark, dir).txnVersion("racer").contains(9L))
    val applied = results.count(_.get("replay_skipped").isEmpty)
    assert(applied == 1, s"exactly one racer must report having applied: $results")
  }

  test("BlindDeltaTable replay race resolves to None, not a failed append") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val blind = graft.table.BlindDeltaTable.forPath(spark, dir)
    assert(blind.append(Seq((2L, "b")).toDF("id", "v"),
      Some("loader"), Some(1L)).isDefined)
    // replay: pre-check path
    assert(blind.append(Seq((2L, "b")).toDF("id", "v"),
      Some("loader"), Some(1L)).isEmpty)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 2)
  }

  // ------------------------------------------------------ interval parsing

  test("parseDuration accepts multi-unit intervals and rejects " +
      "month/year and negative components") {
    assert(DeltaConfig.parseDuration("interval 1 day 12 hours")
      .contains(36L * 3600000))
    assert(DeltaConfig.parseDuration("interval 2 days")
      .contains(2L * 86400000))
    assert(DeltaConfig.parseDuration("7 days").contains(7L * 86400000))
    assert(DeltaConfig.parseDuration("interval 1 week 1 day 1 hour 1 minute 1 second 1 millisecond")
      .contains(7L * 86400000 + 86400000 + 3600000 + 60000 + 1000 + 1))
    assert(DeltaConfig.parseDuration("interval 1 month").isEmpty)
    assert(DeltaConfig.parseDuration("interval 1 day 2 months").isEmpty)
    assert(DeltaConfig.parseDuration("interval 1 year").isEmpty)
    assert(DeltaConfig.parseDuration("interval -1 day").isEmpty)
    assert(DeltaConfig.parseDuration("interval 1 day -12 hours").isEmpty)
    // an overflowing product/sum must reject, not wrap to a negative
    // retention (a future cutoff destroys everything retained)
    assert(DeltaConfig.parseDuration("interval 300000000000 weeks").isEmpty)
    assert(DeltaConfig.parseDuration(
      s"interval ${Long.MaxValue / 1000} seconds 1 week").isEmpty)
    assert(DeltaConfig.parseDuration("interval").isEmpty)
    assert(DeltaConfig.parseDuration("interval 1").isEmpty)
    assert(DeltaConfig.parseDuration("interval day 1").isEmpty)
    // durationMs still throws loudly on what delta-spark would also reject
    intercept[IllegalArgumentException] {
      DeltaConfig.durationMs("delta.logRetentionDuration", "interval 2 months")
    }
    // ... and now ACCEPTS what delta-spark accepts
    assert(DeltaConfig.durationMs("delta.logRetentionDuration",
      "interval 1 day 12 hours") == 36L * 3600000)
  }

  // ---------------------------------------------------- DML single hit scan

  private def fsBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  private def dataFileBytes(dir: String): Long = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        if (f.getName == "_delta_log") Nil
        else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      } else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet")).map(_.length()).sum
  }

  /** A table whose data column dominates IO (~10 MB) so footer/log reads
    * are noise in the bytes-read accounting. */
  private def bigTable(dir: String): Unit = {
    val df = spark.range(0, 120000)
      .select(col("id"), concat_ws("-", md5(col("id").cast("string")),
        md5(concat(col("id").cast("string"), lit("x"))),
        md5(concat(col("id").cast("string"), lit("y")))).as("v"))
      .repartition(4)
    DeltaTable.write(spark, df, dir)
  }

  test("default shape: column-pruned discovery + one full scan of hit " +
      "files (narrow predicate reads ~1x the data, not 2x)") {
    val dir = tmpDir()
    bigTable(dir)
    val size = dataFileBytes(dir)
    val t = DeltaTable.forPath(spark, dir)
    val b0 = fsBytesRead()
    // narrow predicate: discovery reads only `id` pages; the rewrite is
    // the single full-width pass over hit files
    val m = t.update(Map("v" -> expr("concat(v, '!')")), Some("id % 2 = 0"))
    val read = fsBytesRead() - b0
    assert(m("num_updated_rows") == "60000", m.toString)
    assert(read < (size * 1.6).toLong,
      s"UPDATE (default shape) read ${read}B for a ${size}B table — " +
        "expected one full pass plus column-pruned discovery")
  }

  test("UPDATE with DVs and no CDC reads hit files from storage once " +
      "(mask + updated-rows write share the persisted scan)") {
    import spark.implicits._
    val dir = tmpDir()
    val df = spark.range(0, 120000)
      .select(col("id"), concat_ws("-", md5(col("id").cast("string")),
        md5(concat(col("id").cast("string"), lit("x")))).as("v"))
      .repartition(4)
    DeltaTable.write(spark, df, dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val size = dataFileBytes(dir)
    val t = DeltaTable.forPath(spark, dir)
    val b0 = fsBytesRead()
    val m = t.update(Map("v" -> expr("concat(v, '!')")), Some("id % 100 = 0"))
    val read = fsBytesRead() - b0
    assert(m("num_updated_rows") == "1200", m.toString)
    // the old shape scanned the hit files once for the DV mask and once
    // for the updated-rows write (~2x); the persisted scan reads once
    assert(read < (size * 1.7).toLong,
      s"DV UPDATE read ${read}B for a ${size}B table — mask and write " +
        "must share one storage scan")
    assert(t.deletionVectors.limit(1).count() > 0, "update must mask via DV")
  }

  test("findMatchingFiles (find_files surface): partition-only predicates " +
      "resolve from stats; data predicates narrow to files with matches") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      (0L until 40L).map(i => (i, i % 4, s"r$i")).toDF("id", "p", "v"), dir,
      partitionBy = Seq("p"))
    val t = DeltaTable.forPath(spark, dir)
    val snap = t.refresh()
    val partOnly = graft.ops.Dml.findMatchingFiles(spark, snap, "p = 1")
    assert(partOnly.nonEmpty &&
      partOnly.forall(_.partitionValues.get("p").contains("1")))
    val narrowed = graft.ops.Dml.findMatchingFiles(spark, snap, "id = 6")
    assert(narrowed.size == 1 &&
      narrowed.head.partitionValues.get("p").contains("2"))
    assert(graft.ops.Dml.findMatchingFiles(spark, snap, "id = -5").isEmpty)
  }

  // --------------------------------------- case-variant early-filter pruning

  test("case-variant merge join key still takes the exact IN-list " +
      "partition prune") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark,
      (0L until 50L).map(i => (i, i % 5, s"v$i")).toDF("id", "cat", "v"), dir,
      partitionBy = Seq("cat"))
    val t = DeltaTable.forPath(spark, dir)
    val totalFiles = t.refresh().allFiles.size
    val p2Files = t.refresh().allFiles
      .count(_.partitionValues.get("cat").contains("2"))
    assert(totalFiles > p2Files, "fixture must span several partitions")
    val src = Seq((2L, 2L, "x"), (7L, 2L, "y")).toDF("sid", "cat", "v")

    def runMerge(cond: String): Int = {
      t.merge(src, cond)
        .whenMatchedUpdate(Map("v" -> "source.v"))
        .execute()
      graft.ops.MergeOp.lastCandidateFiles
    }
    // control: exact-case keys prune (partition IN-list + id stats range)
    val control = runMerge("target.cat = source.cat AND target.id = source.sid")
    assert(control <= p2Files && control < totalFiles,
      s"control must prune: $control of $totalFiles files ($p2Files in cat=2)")
    // case-variant partition key (and case-variant bare-name data key)
    // must prune IDENTICALLY under the default case-insensitive
    // resolution — this was silently falling back to an unpruned scan
    val variant = runMerge("target.CAT = source.cat AND ID = sid")
    assert(variant == control,
      s"case-variant join key lost pruning: $variant files vs control $control")
  }

  // ----------------------------------------------- streaming/catalog review

  test("streaming source: a change commit past a partially-exhausted " +
      "budget fails AFTER the budgeted batch delivers, not before") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (1L to 10L).map(i => (i, "a")).toDF("id", "v"), dir)
    DeltaTable.write(spark, (11L to 20L).map(i => (i, "b")).toDF("id", "v"), dir,
      mode = "append")
    val t = DeltaTable.forPath(spark, dir)
    t.update(Map("v" -> lit("z")), Some("id = 1")) // v2: change commit
    val collected = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    // a LARGE byte budget: the walk admits v0+v1 without exhausting it and
    // previously stepped into (and guarded) v2 inside the FIRST
    // latestOffset — the stream died with zero rows ever delivered
    val q = spark.readStream.format("graft-delta")
      .option("maxBytesPerTrigger", "1g")
      .option("startingVersion", "0") // walk the COMMITS (v2 is the guard)
      .load(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select("id").collect().foreach(r => collected.add(r.getLong(0)))
        ()
      }
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable() // delivers the budgeted v0+v1 batch
      // the NEXT poll starts at the change commit with nothing admitted
      // and must fail loudly (processAllAvailable can return before that
      // poll fires — await the termination it causes)
      q.awaitTermination(60000)
      ()
    }
    q.stop()
    assert(e.getMessage.contains("data-changing removes"),
      s"stream must still fail loudly on the change commit: ${e.getMessage}")
    assert(collected.size == 20,
      s"the budgeted v0+v1 batch must deliver before the failure, got " +
        s"${collected.size} rows")
  }

  test("ALTER TABLE applies columns + properties + comment as ONE commit") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val t = DeltaTable.forPath(spark, dir)
    val v0 = t.version
    t.alterCombined(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.StringType))),
      Map("delta.enableChangeDataFeed" -> "true"),
      Some("one-commit ddl"))
    val snap = t.refresh()
    assert(t.version == v0 + 1, "the whole statement must be one commit")
    assert(snap.schema.fieldNames.contains("w"))
    assert(snap.metadata.configuration("delta.enableChangeDataFeed") == "true")
    assert(snap.metadata.description.contains("one-commit ddl"))
    // an invalid piece fails the WHOLE statement with nothing applied
    intercept[IllegalArgumentException] {
      t.alterCombined(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.StringType))), // duplicate column
        Map("k" -> "v"), None)
    }
    assert(t.refresh().metadata.configuration.get("k").isEmpty &&
      t.version == v0 + 1, "a failed ALTER must apply nothing")
  }

  test("catalog: failed external CREATE leaves a retryable slot; fresh " +
      "warehouse root lists empty") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft_r14_wh_").toString
    spark.conf.set("spark.sql.catalog.g14", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g14.warehouse", wh + "/warehouse")
    try {
      // fresh warehouse: SHOW TABLES in the root namespace is empty, not an
      // error (consistent with SHOW NAMESPACES)
      assert(spark.sql("SHOW TABLES IN g14").collect().isEmpty)
      // an external CREATE whose declared schema mismatches the target
      // fails — and must not wedge the identifier for the corrected retry
      val ext = tmpDir()
      DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), ext)
      spark.sql("CREATE NAMESPACE g14.ns")
      intercept[Exception] {
        spark.sql(s"CREATE TABLE g14.ns.t (wrong INT) LOCATION '$ext'")
      }
      // retry with no declared schema (pure registration): must succeed
      spark.sql(s"CREATE TABLE g14.ns.t LOCATION '$ext'")
      assert(spark.sql("SELECT * FROM g14.ns.t").count() == 1)
    } finally {
      spark.conf.unset("spark.sql.catalog.g14")
      spark.conf.unset("spark.sql.catalog.g14.warehouse")
    }
  }

  // --------------------------------------------- dotted-name write resolution

  test("write path resolves a literal 'a.b' column, never the struct " +
      "field a.b (normalize must not dot-parse names)") {
    import spark.implicits._
    val dir = tmpDir()
    // the ambush shape: a top-level column literally named "a.b" NEXT TO a
    // struct column `a` with field `b` — functions.col("a.b") silently
    // binds the struct FIELD's data into table column "a.b"
    val df = spark.range(3).select(col("id"),
      concat(lit("top"), col("id")).as("a.b"),
      struct(lit("nested").as("b")).as("a"))
    DeltaTable.write(spark, df, dir)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.schema.fieldNames.toSet == Set("id", "a.b", "a"))
    val vals = t.toDF.select(col("`a.b`")).as[String].collect().toSet
    assert(vals == Set("top0", "top1", "top2"),
      s"literal column 'a.b' must carry its OWN data, got $vals")
    // append through the same normalize: must keep resolving literally
    DeltaTable.write(spark, df, dir, mode = "append")
    assert(t.refresh() != null && DeltaTable.forPath(spark, dir)
      .toDF.filter(col("`a.b`").startsWith("top")).count() == 6)
  }

  // ------------------------------------------------------- kernel hardening

  test("InSet pruning: null elements are safe (no NPE) and non-partition " +
      "columns prune on stats ranges") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.InSet
    val dir = tmpDir()
    DeltaTable.write(spark,
      (0L until 40L).map(i => (i, (i % 4).toInt, s"v$i")).toDF("id", "p", "v")
        .repartition(1), dir, partitionBy = Seq("p"))
    val snap = DeltaTable.forPath(spark, dir).refresh()
    val f1 = snap.allFiles.find(_.partitionValues.get("p").contains("1")).get

    def mayMatch(e: org.apache.spark.sql.catalyst.expressions.Expression,
                 f: graft.kernel.AddFile) =
      StatsPruning.filePredicate(snap, Seq(e))(f)

    // partition InSet with a NULL element (IN (..., NULL) after OptimizeIn):
    // previously NPE'd out of the planner; 3VL says NULL can never make the
    // predicate true, so pruning decisions are unchanged
    val pIn = InSet(UnresolvedAttribute(Seq("p")), Set[Any](1, null))
    assert(mayMatch(pIn, f1), "p=1 file must stay for p IN (1, NULL)")
    val f2 = snap.allFiles.find(_.partitionValues.get("p").contains("2")).get
    assert(!mayMatch(pIn, f2), "p=2 file must prune for p IN (1, NULL)")

    // non-partition InSet: an 11+-element IN-list (Spark's OptimizeIn
    // threshold) previously lost ALL stats skipping; ids in this table
    // span [0,39], so an all-out-of-range set must prune the file
    val farIds: Set[Any] = (1000L to 1011L).map(Long.box).toSet + null
    assert(!mayMatch(InSet(UnresolvedAttribute(Seq("id")), farIds), f1),
      "out-of-range id IN-set must prune on stats")
    val oneIn: Set[Any] = ((1000L to 1010L).map(Long.box).toSet: Set[Any]) + Long.box(5L)
    assert(mayMatch(InSet(UnresolvedAttribute(Seq("id")), oneIn), f1),
      "an in-range element must keep the file")
  }

  test("absolutePath resolves decoded names containing ':' (no URI-scheme " +
      "parse of a file NAME)") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val snap = DeltaTable.forPath(spark, dir).refresh()
    // the round-11 encode fix commits "backup:final.parquet" as %3A; the
    // READ side must resolve it instead of parsing "backup" as a scheme
    val p = snap.absolutePath("backup%3Afinal.parquet")
    assert(p.getName == "backup:final.parquet" &&
      p.toString.startsWith(snap.tablePath))
    assert(snap.absolutePath("2024-01%3A05.parquet").getName == "2024-01:05.parquet")
  }

  test("log cleanup treats unknown (zero) mtimes as NOT expired") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), dir,
      configuration = Map("delta.logRetentionDuration" -> "interval 1 millisecond"))
    DeltaTable.write(spark, Seq((2L, "b")).toDF("id", "v"), dir, mode = "append")
    DeltaTable.write(spark, Seq((3L, "c")).toDF("id", "v"), dir, mode = "append")
    val t = DeltaTable.forPath(spark, dir)
    t.createCheckpoint()
    val fs = t.tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    // an object-store list parser that can't read LastModified degrades to
    // mtime 0 — which is "older than any cutoff"; cleanup must treat it as
    // UNKNOWN age and keep the files, not destroy the retention window
    fs.listStatus(logDir).filter(_.getPath.getName.matches("\\d{20}\\.json"))
      .foreach(f => fs.setTimes(f.getPath, 0L, 0L))
    t.cleanupMetadata()
    val commits = fs.listStatus(logDir).map(_.getPath.getName)
      .count(_.matches("\\d{20}\\.json"))
    assert(commits == 3,
      s"zero-mtime commits must survive cleanup (unknown age), got $commits")
  }

  test("UPDATE CDC postimages recompute generated columns (no stale g in " +
      "the change feed)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmpDir()
    val genMeta = new MetadataBuilder()
      .putString("delta.generationExpression", "price * 2").build()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("price", DoubleType),
      StructField("g", DoubleType, nullable = true, genMeta)))
    DeltaTable.create(spark, dir, schema,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaTable.write(spark, Seq((1L, 5.0), (2L, 7.0)).toDF("id", "price"), dir,
      mode = "append")
    val t = DeltaTable.forPath(spark, dir)
    t.update(Map("price" -> lit(10.0)), Some("id = 1"))
    // the table row must carry g = 20 AND the postimage must agree — the
    // stale shape (g = old price * 2 = 10) materialized a value that never
    // existed in the table for every CDC consumer
    assert(t.toDF.filter("id = 1").select("g").as[Double].head() == 20.0)
    val post = t.loadCdf(2, Some(2))
      .filter("_change_type = 'update_postimage'")
      .select("g").as[Double].collect().toSeq
    assert(post == Seq(20.0),
      s"postimage must carry the RECOMPUTED generated column, got $post")
  }

  test("a data column named __pos or __file does not block a non-DV DELETE or UPDATE") {
    import spark.implicits._
    val dir = tmpDir()
    // __pos as a DATA column is legal on plain scans (readRaw's guard only
    // fires when identity is requested, i.e. for the DV mask) — it must
    // not turn a working DELETE/UPDATE into a reserved-name refusal, and
    // the rewrite must carry it through like any other column (one file,
    // so the DELETE rewrites the surviving rows)
    DeltaTable.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "__pos").coalesce(1), dir)
    val t = DeltaTable.forPath(spark, dir)
    val d = t.delete(Some("id = 2"))
    assert(d("num_deleted_rows") == "1", d.toString)
    val u = t.update(Map("__pos" -> expr("concat(__pos, '!')")), Some("id = 3"))
    assert(u("num_updated_rows") == "1", u.toString)
    assert(t.toDF.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c!")))
  }

  // ---------------------------------------------------------- llm hardening

  test("cosineTopK refuses mismatched embedding widths instead of ranking " +
      "NULL-cos garbage; NaN vectors drop from kmeans/quantized like NULLs") {
    import spark.implicits._
    val corpus = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)))
      .toDF("id", "vec")
    val q384 = Seq((10L, Seq(1.0, 0.0))).toDF("id", "vec") // wrong width
    val e = intercept[Exception] {
      graft.llm.Similarity.cosineTopK(corpus, q384, "id", "vec", k = 1).collect()
    }
    assert(e.getMessage.contains("mismatched embedding widths"), e.getMessage)
    // matching widths still rank
    val ok = graft.llm.Similarity.cosineTopK(corpus,
      Seq((10L, Seq(1.0, 0.0, 0.0))).toDF("id", "vec"), "id", "vec", k = 1)
    assert(ok.collect().map(_.getLong(1)).toSeq == Seq(1L))

    // a NaN-bearing vector previously pinned itself to cluster 0 and
    // corrupted that centroid to NaN permanently
    val withNan = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(4.0, 4.0)),
      (3L, Seq(Double.NaN, 1.0))).toDF("id", "vec")
    val cs = graft.llm.Clustering.kmeansCentroids(withNan, "id", "vec",
      k = 2, iters = 2)
    assert(cs.forall(_.forall(x => !x.isNaN)),
      s"NaN vector corrupted a centroid: ${cs.map(_.mkString(",")).mkString(" | ")}")
    val assigned = graft.llm.Clustering.kmeansAssign(withNan, "id", "vec", cs)
    assert(assigned.count() == 2, "the NaN vector must drop like a NULL")
    // kmeans k > usable embeddings refuses loudly instead of silently
    // shrinking the model
    val e2 = intercept[IllegalArgumentException] {
      graft.llm.Clustering.kmeansCentroids(withNan, "id", "vec", k = 5, iters = 1)
    }
    assert(e2.getMessage.contains("usable embeddings"), e2.getMessage)
  }

  // ------------------------------------------------- case-colliding SET keys

  test("MERGE refuses SET/INSERT maps whose keys collide case-insensitively") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a", "b")).toDF("id", "v", "w"), dir)
    val t = DeltaTable.forPath(spark, dir)
    val src = Seq((1L, "x", "y")).toDF("id", "v", "w")
    val e = intercept[IllegalArgumentException] {
      t.merge(src, "target.id = source.id")
        .whenMatchedUpdate(Map("v" -> "'lo'", "V" -> "'hi'"))
        .execute()
    }
    assert(e.getMessage.contains("collide case-insensitively"))
    // a single case-variant key still resolves (existing behavior)
    t.merge(src, "target.id = source.id")
      .whenMatchedUpdate(Map("V" -> "'ok'"))
      .execute()
    assert(t.toDF.select("v").as[String].collect().toSeq == Seq("ok"))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kernel._
import graft.table.{DeltaTable, Scan}

/** Round-6 regression specs: delta.dataSkippingStatsColumns (named stats
  * list overrides the positional prefix; pruning skips on listed columns and
  * fails open on unlisted ones), the insert-only MERGE fast path, and the
  * snapshot-load scale bound for large checkpoints. */
class Round6Spec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-r6")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tmpDir(): String = Files.createTempDirectory("graft_r6_").toString + "/t"

  // ------------------------------------------- dataSkippingStatsColumns

  test("dataSkippingStatsColumns restricts stats to the named list") {
    import spark.implicits._
    val dir = tmpDir()
    val df = (1 to 100).map(i => (i, s"s$i", i * 2.0)).toDF("a", "b", "c")
    DeltaTable.write(spark, df.repartition(4), dir,
      configuration = Map("delta.dataSkippingStatsColumns" -> "a, c"))
    val snap = DeltaTable.forPath(spark, dir).snapshot
    snap.allFiles.foreach { f =>
      val stats = org.json4s.jackson.JsonMethods.parse(f.stats.get)
      val minKeys = (stats \ "minValues") match {
        case org.json4s.JObject(fields) => fields.map(_._1).toSet
        case _ => Set.empty[String]
      }
      assert(minKeys == Set("a", "c"),
        s"stats collected for $minKeys, expected exactly {a, c}")
      // numRecords is always present regardless of the column list
      assert((stats \ "numRecords") != org.json4s.JNothing)
    }
  }

  test("pruning: listed column skips files, unlisted column fails open") {
    import spark.implicits._
    val dir = tmpDir()
    // 4 range-disjoint files on `a`; `b` is equally range-disjoint but has
    // NO stats, so a predicate on it must scan everything (and stay correct)
    val df = (1 to 400).map(i => (i, i)).toDF("a", "b")
    DeltaTable.write(spark, df.repartitionByRange(4, col("a")), dir,
      configuration = Map("delta.dataSkippingStatsColumns" -> "a"))
    val t = DeltaTable.forPath(spark, dir)
    val snap = t.snapshot
    assert(snap.allFiles.size == 4)

    val onA = Scan.prunedFiles(snap,
      Seq(Scan.parsePredicate(spark, "a <= 100")))
    assert(onA.size < 4, s"predicate on stats column did not prune: ${onA.size} files")

    val onB = Scan.prunedFiles(snap,
      Seq(Scan.parsePredicate(spark, "b <= 100")))
    assert(onB.size == 4, s"predicate on no-stats column must fail open, got ${onB.size}")
    assert(t.scanWhere("b <= 100").count() == 100)
  }

  test("dataSkippingStatsColumns with an unknown column is refused at write") {
    import spark.implicits._
    val dir = tmpDir()
    val e = intercept[IllegalArgumentException] {
      DeltaTable.write(spark, Seq(1).toDF("a"), dir,
        configuration = Map("delta.dataSkippingStatsColumns" -> "a, nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("dataSkippingStatsColumns under column mapping keys stats physically") {
    import spark.implicits._
    val dir = tmpDir()
    val df = (1 to 50).map(i => (i, s"s$i")).toDF("a", "b")
    DeltaTable.write(spark, df, dir,
      configuration = Map(
        "delta.columnMapping.mode" -> "name",
        "delta.dataSkippingStatsColumns" -> "a"))
    val snap = DeltaTable.forPath(spark, dir).snapshot
    val physA = ColumnMapping.nameMap(snap.schema)("a")
    snap.allFiles.foreach { f =>
      val stats = org.json4s.jackson.JsonMethods.parse(f.stats.get)
      val minKeys = (stats \ "minValues") match {
        case org.json4s.JObject(fields) => fields.map(_._1).toSet
        case _ => Set.empty[String]
      }
      assert(minKeys == Set(physA), s"expected physical key $physA, got $minKeys")
    }
    // pruning translates the logical predicate to the physical stats key
    val pruned = Scan.prunedFiles(snap,
      Seq(Scan.parsePredicate(spark, "a > 9999")))
    assert(pruned.isEmpty, "mapped stats column should prune an impossible range")
  }

  // ------------------------------------------- snapshot-load scale bound

  test("snapshot load over a 5M-Add checkpoint stays lazy, bounded, prunable") {
    val dir = tmpDir()
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    DeltaTable.write(spark, orders.limit(100), dir)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot.lazyIndex.isEmpty, "a tiny table must stay eager")
    Checkpoints.write(spark, t.deltaLog.logPath, t.snapshot, t.deltaLog.store)

    // Inflate the version-0 checkpoint to 5M synthetic Adds (multi-part) —
    // the shape of a 100 TB table's log — keeping the real control rows.
    // Each Add carries a disjoint o_orderkey range in its stats so a point
    // predicate selects exactly one file.
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    val classic = new org.apache.hadoop.fs.Path(logDir, LogStore.checkpointFileName(0))
    val full = spark.read.parquet(classic.toString)
    val controls = full.filter("add IS NULL AND remove IS NULL")
    val tmplAdd = full.filter("add IS NOT NULL").select("add").limit(1)
    val n = 5000000L
    val synth = spark.range(n).crossJoin(broadcast(tmplAdd))
      .select(col("add")
        .withField("path", concat(lit("synth/part-"),
          lpad(col("id").cast("string"), 10, "0"), lit(".parquet")))
        .withField("stats", concat(
          lit("{\"numRecords\":100,\"minValues\":{\"o_orderkey\":"),
          (col("id") * 100).cast("string"),
          lit("},\"maxValues\":{\"o_orderkey\":"),
          (col("id") * 100 + 99).cast("string"),
          lit("},\"nullCount\":{\"o_orderkey\":0}}")))
        .as("add"))
    val aligned = synth.select(full.schema.fieldNames.map { f =>
      if (f == "add") col("add") else lit(null).cast(full.schema(f).dataType).as(f)
    }.toSeq: _*)
    val staged = Files.createTempDirectory("graft_r6_ckpt_").toString + "/p"
    controls.unionByName(aligned.repartition(8)).write.parquet(staged)

    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(classic, false)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(staged))
      .map(_.getPath).filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (p, i) =>
      fs.rename(p, new org.apache.hadoop.fs.Path(logDir,
        LogStore.multiPartCheckpointFileName(0, i + 1, parts.length)))
    }
    val hint = fs.create(new org.apache.hadoop.fs.Path(logDir, LogStore.LAST_CHECKPOINT), true)
    try hint.write(
      s"""{"version":0,"size":${n + 2},"parts":${parts.length}}""".getBytes("UTF-8"))
    finally hint.close()

    // load: control-plane only — the 5M Adds must NOT reach the driver
    val t0 = System.nanoTime()
    val snap = DeltaTable.forPath(spark, dir).snapshot
    val loadSec = (System.nanoTime() - t0) / 1e9
    assert(snap.lazyIndex.isDefined,
      "5M-Add checkpoint must load behind LazyFileIndex at the default threshold")
    assert(!snap.lazyIndex.get.isMaterialized)
    assert(loadSec < 60.0, f"snapshot load took $loadSec%.1fs")

    assert(snap.lazyIndex.get.countAdds() == n)

    // distributed point prune: one surviving file, still not materialized
    val t1 = System.nanoTime()
    val pruned = graft.table.Scan.prunedFiles(snap,
      Seq(graft.table.Scan.parsePredicate(spark, "o_orderkey = 123456")))
    val pruneSec = (System.nanoTime() - t1) / 1e9
    assert(pruned.size == 1, s"expected 1 surviving file, got ${pruned.size}")
    assert(pruned.head.path.contains("part-0000001234"))
    assert(!snap.lazyIndex.get.isMaterialized,
      "pruning must not materialize the Add vector on the driver")
    assert(pruneSec < 90.0, f"distributed prune took $pruneSec%.1fs")
    System.err.println(f"[r6] 5M-Add load=$loadSec%.1fs prune=$pruneSec%.1fs")
  }

  // --------------------------------------------- table-review regressions

  test("mergeSchema evolves NESTED struct fields") {
    import spark.implicits._
    val dir = tmpDir()
    val v1 = Seq((1L, (10, "x"))).toDF("id", "s")
    DeltaTable.write(spark, v1, dir)
    // incoming widens the nested struct with a new field `b`
    val v2b = Seq((2L, 20, "y", 7.5)).toDF("id", "a1", "a2", "b")
      .selectExpr("id", "struct(a1 AS _1, a2 AS _2, b AS b) AS s")
    DeltaTable.write(spark, v2b, dir, mode = "append", mergeSchema = true)
    val t = DeltaTable.forPath(spark, dir)
    val fields = t.schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(fields.fieldNames.toSeq == Seq("_1", "_2", "b"))
    val rows = t.toDF.selectExpr("id", "s._1", "s.b").collect()
      .map(r => (r.getLong(0), r.getInt(1), if (r.isNullAt(2)) -1.0 else r.getDouble(2)))
      .toSet
    // old rows read NULL for the new nested field
    assert(rows == Set((1L, 10, -1.0), (2L, 20, 7.5)), s"got $rows")
  }

  test("blind append refuses extra columns and one-sided idempotency options") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val blind = graft.table.BlindDeltaTable.forPath(spark, dir)
    val extra = intercept[IllegalArgumentException] {
      blind.append(Seq((2L, "b", 9)).toDF("id", "v", "extra"))
    }
    assert(extra.getMessage.contains("extra"))
    val oneSided = intercept[IllegalArgumentException] {
      blind.append(Seq((2L, "b")).toDF("id", "v"), appId = Some("job"), appVersion = None)
    }
    assert(oneSided.getMessage.contains("together"))
  }

  // ----------------------------------------------- ops-review regressions

  test("MERGE with an OR condition must not early-prune either disjunct") {
    import spark.implicits._
    val dir = tmpDir()
    // k1-disjoint files: file A holds k1 1..100, file B holds k1 1000..1100
    val target = (1 to 100).map(i => (i.toLong, (i + 5000).toLong, 0)) ++
      (1000 to 1100).map(i => (i.toLong, (i + 9000).toLong, 0))
    DeltaTable.write(spark, target.toDF("k1", "k2", "v")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("k1")), dir)
    val t = DeltaTable.forPath(spark, dir)
    // source matches file B rows ONLY via the k2 disjunct; its k1 range
    // (1..50) covers file A — conjunctive harvesting of both equalities
    // would prune file B, skip its updates, and re-insert duplicates
    val src = (1 to 50).map(i => (i.toLong, (i + 1040 + 9000).toLong, 7)).toDF("k1", "k2", "v")
    val m = t.merge(src, "target.k1 = source.k1 OR target.k2 = source.k2")
      .whenMatchedUpdate(Map("v" -> "source.v"))
      .whenNotMatchedInsertAll()
      .withoutDuplicateValidation() // k1 AND k2 disjuncts can double-match
      .execute()
    assert(t.toDF.count() == 201, "OR-matched rows must not be re-inserted")
    assert(m("num_target_rows_updated").toLong >= 50,
      s"disjunct matches were pruned away: $m")
  }

  test("CDF historical range stays readable after CDC is later disabled") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (1 to 10).map(i => (i, i)).toDF("k", "v"), dir,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    t.delete(Some("k <= 3")) // v1: recorded change data
    t.setProperties(Map("delta.enableChangeDataFeed" -> "false")) // v2: disable
    // the range 0..1 is fully recorded — must load, not throw
    val feed = t.loadCdf(0, Some(1))
    assert(feed.filter("_change_type = 'delete'").count() == 3)
  }

  test("DELETE metrics do not recount rows a prior DV already deleted") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (1 to 100).map(i => (i, i)).toDF("k", "v"), dir,
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    val t = DeltaTable.forPath(spark, dir)
    val m1 = t.delete(Some("k <= 10")) // masks 10 rows via DV
    assert(m1("num_deleted_rows") == "10", m1.toString)
    // second DELETE removes every remaining live row (whole-file predicate
    // falls into the full-file path); only 90 rows are still live
    val m2 = t.delete(Some("k <= 100"))
    assert(m2("num_deleted_rows") == "90",
      s"physical-row metric recounted DV-masked rows: $m2")
    assert(t.toDF.count() == 0)
  }

  // ------------------------------------------------ insert-only MERGE path

  test("insert-only MERGE rewrites nothing and copies no rows") {
    import spark.implicits._
    val dir = tmpDir()
    DeltaTable.write(spark, (1 to 100).map(i => (i, i)).toDF("k", "v"), dir)
    val t = DeltaTable.forPath(spark, dir)
    val src = (90 to 120).map(i => (i, -i)).toDF("k", "v")
    val m = t.merge(src, "target.k = source.k")
      .whenNotMatchedInsertAll()
      .execute()
    assert(m("num_target_rows_inserted") == "20")
    assert(m("num_target_rows_updated") == "0")
    assert(m("num_target_files_removed") == "0", "insert-only merge must not rewrite files")
    assert(m("num_target_rows_copied") == "0", "insert-only merge must not copy rows")
    assert(t.toDF.count() == 120)
    // duplicate source matches on one target key must NOT error (dedup-append)
    val dup = Seq((1, 5), (1, 6), (200, 7)).toDF("k", "v")
    val m2 = t.merge(dup, "target.k = source.k").whenNotMatchedInsertAll().execute()
    assert(m2("num_target_rows_inserted") == "1")
  }
}

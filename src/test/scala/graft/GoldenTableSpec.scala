package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.table.DeltaTable

/**
 * Cross-implementation read compatibility: open the reference repo's own
 * golden tables (delta-rs test fixtures, written by delta-rs/delta-spark)
 * with THIS engine and assert contents computed by an independent replay
 * (python log-replay + pyarrow, not this codebase). Read-only — the golden
 * directories are never written to.
 */
class GoldenTableSpec extends AnyFunSuite {

  private val goldenRoot = "/root/reference/crates/test/tests/data"
  private def golden(name: String) = s"$goldenRoot/$name"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test-golden")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("simple_table: 5-version log replays to ids {5,7,9}") {
    val t = DeltaTable.forPath(spark, golden("simple_table"))
    import spark.implicits._
    assert(t.version == 4)
    assert(t.snapshot.numFiles == 5)
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 7L, 9L))
  }

  test("delta-0.8.0-partitioned: hive partitions recovered and pruned") {
    val t = DeltaTable.forPath(spark, golden("delta-0.8.0-partitioned"))
    import spark.implicits._
    assert(t.partitionColumns == Seq("year", "month", "day"))
    val all = t.toDF.select("value", "year", "month", "day")
      .as[(String, String, String, String)].collect().sorted.toSeq
    assert(all == Seq(
      ("1", "2020", "1", "1"), ("2", "2020", "2", "3"), ("3", "2020", "2", "5"),
      ("4", "2021", "4", "5"), ("5", "2021", "12", "4"),
      ("6", "2021", "12", "20"), ("7", "2021", "12", "20")))
    // partition pruning reduces the file set before the scan
    val pruned = t.scanWhere("year = '2021' AND month = '12'")
    assert(pruned.select("value").as[String].collect().sorted.toSeq == Seq("5", "6", "7"))
    assert(graft.table.Scan.prunedFiles(t.snapshot,
      Seq(graft.table.Scan.parsePredicate(spark, "year = '2021' AND month = '12'")))
      .size < t.snapshot.numFiles)
  }

  test("table-with-dv-small: delta-spark-written deletion vector applied") {
    val t = DeltaTable.forPath(spark, golden("table-with-dv-small"))
    import spark.implicits._
    val p = t.protocol
    assert(p.minReaderVersion == 3 && p.minWriterVersion == 7)
    assert(p.readerFeatures.exists(_.contains("deletionVectors")))
    val dv = t.snapshot.allFiles.head.deletionVector
    assert(dv.exists(_.cardinality == 2))
    val vals = t.toDF.select("value").as[Int].collect().sorted.toSeq
    assert(vals.size == 8, s"DV must mask 2 of 10 rows, got $vals")
    assert((0 to 9).toSet -- vals.toSet == Set(0, 9),
      s"expected rows 0 and 9 masked, got $vals")
  }

  test("delta-0.8.0-null-partition: __HIVE_DEFAULT_PARTITION__ decodes to null") {
    val t = DeltaTable.forPath(spark, golden("delta-0.8.0-null-partition"))
    import spark.implicits._
    val rows = t.toDF.select("k", "v").collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("A", 1L), (null, 2L)))
  }

  test("simple_table_with_checkpoint: replays through a delta-written checkpoint") {
    val t = DeltaTable.forPath(spark, golden("simple_table_with_checkpoint"))
    import spark.implicits._
    assert(t.version == 10)
    assert(t.snapshot.numFiles == 11)
    assert(t.toDF.select("version").as[Long].collect().sorted.toSeq ==
      Seq(0L, 0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
  }

  test("delta-0.8.0-special-partition: percent-encoded log paths resolve") {
    // on disk: x=A%2FA (hive-escaped "A/A") and x=B%20B; the log records
    // them DOUBLY encoded (x=A%252FA) per the relative-URL path spec
    val t = DeltaTable.forPath(spark, golden("delta-0.8.0-special-partition"))
    import spark.implicits._
    assert(t.files.exists(_.contains("%252F")), s"log paths: ${t.files}")
    val rows = t.toDF.select("x", "y").as[(String, Long)].collect().toSet
    assert(rows == Set(("A/A", 1L), ("B B", 2L)))
  }

  test("delta-0.8.0-numeric-partition: typed partition values from the log") {
    val t = DeltaTable.forPath(spark, golden("delta-0.8.0-numeric-partition"))
    import spark.implicits._
    val rows = t.toDF.select("x", "y", "z").as[(Long, Double, String)].collect().toSet
    assert(rows == Set((9L, 9.9, "a"), (10L, 10.0, "b")))
    // numeric comparison pruning on a partition column
    val pruned = t.scanWhere("x > 9")
    assert(pruned.select("z").as[String].collect().toSeq == Seq("b"))
  }

  test("delta-0.8.0-date: date column round-trip") {
    val t = DeltaTable.forPath(spark, golden("delta-0.8.0-date"))
    import spark.implicits._
    val days = t.toDF.select("dayOfYear").as[Int].collect().sorted.toSeq
    assert(days == Seq(1, 2, 3, 4, 5))
    assert(t.toDF.select("date").distinct().count() == 5)
  }

  test("special characters round-trip through OUR writer (encode + decode)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_golden_rt_").toString
    val df = Seq(("A/A", 1L), ("B B", 2L), ("C%C", 3L)).toDF("x", "y")
    DeltaTable.write(spark, df, dir, partitionBy = Seq("x"))
    val t = DeltaTable.forPath(spark, dir)
    // recorded paths are percent-encoded URLs ('/'-escape %2F doubly encoded)
    assert(t.files.exists(_.contains("%252F")), s"paths not URL-encoded: ${t.files}")
    val rows = t.toDF.select("x", "y").as[(String, Long)].collect().toSet
    assert(rows == Set(("A/A", 1L), ("B B", 2L), ("C%C", 3L)))
    // DML across the special partitions
    t.delete(Some("x = 'A/A'"))
    assert(t.toDF.select("x").as[String].collect().toSet == Set("B B", "C%C"))
    assert(t.vacuum(retentionHours = 0, dryRun = false, enforceRetention = false).nonEmpty)
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 2)
  }

  test("delta-0.2.0: oldest-protocol table replays") {
    val t = DeltaTable.forPath(spark, golden("delta-0.2.0"))
    import spark.implicits._
    assert(t.toDF.select("value").as[Long].collect().sorted.toSeq ==
      Seq(1L, 1L, 2L, 2L, 3L, 3L))
  }

  test("delta-2.2.0-partitioned-types: typed partition values from the log") {
    val t = DeltaTable.forPath(spark, golden("delta-2.2.0-partitioned-types"))
    import spark.implicits._
    assert(t.partitionColumns == Seq("c1", "c2"))
    val rows = t.toDF.select("c1", "c2", "c3").as[(Int, String, Int)].collect().toSet
    assert(rows == Set((4, "c", 5), (5, "b", 6), (6, "a", 4)))
  }

  test("COVID-19_NYT: 1.1M-row table scans and aggregates") {
    val t = DeltaTable.forPath(spark, golden("COVID-19_NYT"))
    import spark.implicits._
    assert(t.toDF.count() == 1111930L)
    assert(t.toDF.agg(org.apache.spark.sql.functions.sum("cases")).as[Long].head() ==
      3549814734L)
  }

  test("checkpoints_vacuumed: log tail starts after the checkpoint") {
    // versions 0-4 are vacuumed away; replay = checkpoint@5 + 6..12
    val t = DeltaTable.forPath(spark, golden("checkpoints_vacuumed"))
    assert(t.version == 12)
    assert(t.snapshot.numFiles == 12)
    assert(t.partitionColumns == Seq("date"))
    assert(t.history(Some(3)).map(_._1) == Seq(12L, 11L, 10L))
  }

  test("table-with-domain-metadata: checkpoint-ONLY log (no commits, no data)") {
    val t = DeltaTable.forPath(spark, golden("table-with-domain-metadata"))
    assert(t.version == 108)
    assert(t.snapshot.numFiles == 109)
    val domains = t.snapshot.domains
    assert(domains.keySet == Set("delta.clustering", "com.databricks.liquid", "delta.rowTracking"))
    assert(domains("delta.rowTracking").configuration.contains("rowIdHighWaterMark"))
    val p = t.protocol
    assert(p.readerFeatures.exists(_.contains("deletionVectors")))
  }

  test("checkpoint-v2-table: real uuid-manifest + sidecar checkpoint replays") {
    val t = DeltaTable.forPath(spark, golden("checkpoint-v2-table"))
    assert(t.snapshot.numFiles == 8)
    assert(t.toDF.count() == 44L)
    assert(t.protocol.readerFeatures.exists(_.contains("v2Checkpoint")))
  }

  test("simple_table_features: unreadable protocol is refused") {
    // the fixture carries minReaderVersion 5 AND an unknown reader feature
    // ('blahabl') — either way the gate must refuse, never misread
    val e = intercept[graft.kernel.DeltaProtocolException] {
      DeltaTable.forPath(spark, golden("simple_table_features")).snapshot
    }
    assert(e.getMessage.contains("blahabl") || e.getMessage.contains("minReaderVersion"))
  }

  test("table_with_edge_timestamps: extreme timestamp values read") {
    val t = DeltaTable.forPath(spark, golden("table_with_edge_timestamps"))
    assert(t.toDF.count() == 2)
    assert(t.toDF.select("BIG_DATE").distinct().count() == 2)
  }

  test("delta-1.2.1-only-struct-stats: nested types + structless stats tolerated") {
    val t = DeltaTable.forPath(spark, golden("delta-1.2.1-only-struct-stats"))
    assert(t.toDF.count() == 12)
    assert(t.schema.fieldNames.contains("nested_struct"))
    // stats may be absent from these adds — pruning must fail open
    val pruned = graft.table.Scan.prunedFiles(t.snapshot,
      Seq(graft.table.Scan.parsePredicate(spark, "integer = 3")))
    assert(pruned.nonEmpty)
  }

  test("cdf-table: change feed assembled from a foreign table's _change_data") {
    val t = DeltaTable.forPath(spark, golden("cdf-table"))
    import spark.implicits._
    val cdf = t.loadCdf(1, Some(3))
    val counts = cdf.groupBy("_commit_version", "_change_type").count()
      .as[(Long, String, Long)].collect().toSet
    assert(counts == Set(
      (1L, "update_preimage", 3L), (1L, "update_postimage", 3L),
      (2L, "update_preimage", 3L), (2L, "update_postimage", 3L),
      (3L, "delete", 1L)))
  }

  test("checkpoint-hint robustness: stale or missing _last_checkpoint") {
    // stale hint (points at v1 while checkpoint v3 exists), no hint at all,
    // and a checkpoint older than the newest commits — discovery must come
    // from the LISTING, never the hint alone
    val stale = DeltaTable.forPath(spark, golden("table_failed_last_checkpoint_update"))
    assert(stale.version == 3 && stale.snapshot.numFiles == 4)
    val noHint = DeltaTable.forPath(spark, golden("with_checkpoint_no_last_checkpoint"))
    assert(noHint.version == 3 && noHint.snapshot.numFiles == 1)
    val tail = DeltaTable.forPath(spark, golden("latest_not_checkpointed"))
    assert(tail.version == 3 && tail.snapshot.numFiles == 1)
  }

  test("delta-0.8-empty: zero-file table reads as empty") {
    val t = DeltaTable.forPath(spark, golden("delta-0.8-empty"))
    assert(t.snapshot.numFiles == 0)
    assert(t.toDF.count() == 0)
  }

  test("spark-variant-checkpoint: VARIANT columns decode through Spark's native reader") {
    // ground truth from pyarrow over the live file set (log replay in
    // python): 4 files, 102 rows, v non-null on all 102
    val t = DeltaTable.forPath(spark, golden("spark-variant-checkpoint"))
    assert(t.snapshot.numFiles == 4)
    val df = t.toDF
    assert(df.schema("v").dataType == org.apache.spark.sql.types.VariantType)
    assert(df.count() == 102)
    assert(df.filter("v IS NOT NULL").count() == 102)
    // every variant renders to JSON and carries the expected shape
    val js = df.selectExpr("id", "to_json(v) AS j")
    assert(js.filter("j IS NULL").count() == 0)
    assert(js.select("j").distinct().count() > 1, "variant values all identical — decode suspect")
    // nested variant containers decode too
    assert(df.selectExpr("size(array_of_variants)").filter("size(array_of_variants) < 0").count() == 0)
    assert(df.selectExpr("to_json(struct_of_variants.v)").count() == 102)
  }

  test("spark-shredded-variant-preview-delta: percent-prefixed paths + variant read") {
    // file names contain literal '%' (log stores them double-encoded) —
    // PathCodec canary AND variant decode in one fixture; pyarrow ground
    // truth: 4 live files, 102 rows, all v non-null
    val t = DeltaTable.forPath(spark, golden("spark-shredded-variant-preview-delta"))
    assert(t.snapshot.numFiles == 4)
    val df = t.toDF
    assert(df.count() == 102)
    assert(df.filter("v IS NOT NULL").count() == 102)
    assert(df.selectExpr("to_json(v) AS j").filter("j IS NULL").count() == 0)
  }

  test("spark-variant-stable-feature-checkpoint: log-only fixture opens with the stable feature") {
    val t = DeltaTable.forPath(spark, golden("spark-variant-stable-feature-checkpoint"))
    assert(t.protocol.readerFeatures.exists(_.contains("variantType")))
    assert(t.schema("v").dataType == org.apache.spark.sql.types.VariantType)
  }

  test("table_with_liquid_clustering: readable; writes refused (rowTracking/liquid)") {
    // protocol: readerFeatures=[deletionVectors] (we support), writerFeatures
    // include rowTracking+liquid (we don't) — read works, write must refuse
    val t = DeltaTable.forPath(spark, golden("table_with_liquid_clustering"))
    assert(t.snapshot.numFiles == 10)
    assert(t.toDF.count() == 10)
    val e = intercept[graft.kernel.DeltaProtocolException] {
      t.delete(Some("true"))
    }
    assert(e.getMessage.contains("rowTracking") || e.getMessage.contains("liquid"))
  }

  test("delta-stats-optional: stats-less files survive pruning (fail open)") {
    val t = DeltaTable.forPath(spark, golden("delta-stats-optional"))
    val files = t.snapshot.allFiles
    assert(files.size == 2 && files.count(_.stats.isEmpty) == 1)
    assert(t.toDF.count() == 2)
    // a selective predicate may prune the stats-carrying file but NEVER the
    // stats-less one — fail open is the correctness rule (find_files.rs:719)
    val pruned = graft.table.Scan.prunedFiles(t.snapshot,
      Seq(graft.table.Scan.parsePredicate(spark, "integer = -99999")))
    assert(pruned.exists(_.stats.isEmpty),
      "stats-less file must never be pruned by a stats predicate")
    // checkpointed variant of the same table behaves identically
    val t2 = DeltaTable.forPath(spark, golden("delta-checkpoint-stats-optional"))
    assert(t2.toDF.count() == 2)
  }

  test("table_with_null_stats_in_notnull_struct: nested stats partially absent") {
    val t = DeltaTable.forPath(spark, golden("table_with_null_stats_in_notnull_struct"))
    assert(t.toDF.count() == 2)
    // min/max exist for s.l only (s.b has none) — pruning on the covered
    // leaf works, nothing is dropped incorrectly
    assert(t.toDF.selectExpr("s.l").collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L))
  }

  test("issue-2152: zero-file writer-v6 table opens empty") {
    val t = DeltaTable.forPath(spark, golden("issue-2152"))
    assert(t.protocol.minWriterVersion == 6)
    assert(t.snapshot.numFiles == 0)
    assert(t.toDF.count() == 0)
  }

  test("http_requests: real-world date-partitioned table prunes by partition") {
    val t = DeltaTable.forPath(spark, golden("http_requests"))
    assert(t.partitionColumns == Seq("date"))
    assert(t.toDF.count() == 1581) // 1437 + 144 per per-file stats
    // `date` is a STRING partition column in this table's schema — a
    // DATE-typed predicate must fail OPEN (no pruning), the string form
    // prunes exactly
    val typed = graft.table.Scan.prunedFiles(t.snapshot,
      Seq(graft.table.Scan.parsePredicate(spark, "date = DATE '2023-04-13'")))
    assert(typed.size == 2)
    val pruned = graft.table.Scan.prunedFiles(t.snapshot,
      Seq(graft.table.Scan.parsePredicate(spark, "date = '2023-04-13'")))
    assert(pruned.size == 1)
    assert(t.scanWhere("date = '2023-04-13'").count() == 144)
  }

  test("partition-type-primitives: 16 single-row partitions prune exactly") {
    val t = DeltaTable.forPath(spark, golden("partition-type-primitives"))
    import spark.implicits._
    assert(t.partitionColumns == Seq("year", "is_active", "event_date", "category"))
    assert(t.toDF.count() == 16)
    // the fixture's year strings are literally '2020' and '2021.0'
    val hit = t.scanWhere("year = '2021.0' AND category = 'A' AND is_active = 'true'")
    assert(hit.count() == 2) // one per event_date
    assert(graft.table.Scan.prunedFiles(t.snapshot,
      Seq(graft.table.Scan.parsePredicate(spark,
        "year = '2021.0' AND category = 'A' AND is_active = 'true'"))).size == 2)
  }

  test("checkpoint_with_partitions: log missing version 0 replays via checkpoint") {
    val t = DeltaTable.forPath(spark, golden("checkpoint_with_partitions"))
    assert(t.version == 2)
    assert(t.snapshot.numFiles == 2)
    assert(t.partitionColumns == Seq("color"))
  }

  test("python-0.25.5-checkpoint: delta-rs-python-written checkpoint replays") {
    val t = DeltaTable.forPath(spark, golden("python-0.25.5-checkpoint"))
    import spark.implicits._
    assert(t.version == 1)
    assert(t.toDF.count() == 6)
  }

  test("golden/data-reader-array-primitives: nested array types decode") {
    val t = DeltaTable.forPath(spark, golden("golden/data-reader-array-primitives"))
    import spark.implicits._
    assert(t.schema.fieldNames.length == 10)
    assert(t.schema("as_array_big_decimal").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DecimalType(1, 0), containsNull = true))
    assert(t.toDF.count() == 10)
    val ints = t.toDF.select("as_array_int").as[Seq[Int]].collect().map(_.head).sorted.toSeq
    assert(ints == (0 until 10))
  }

  test("foreign table mutated by OUR engine: delete/optimize/vacuum on dv-small copy") {
    // copy the delta-spark-written fixture and run our DML on it — the
    // cross-writer direction the reference's pyspark_integration suite tests
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_golden_mut_")
    val conf = spark.sessionState.newHadoopConf()
    val srcP = new org.apache.hadoop.fs.Path(golden("table-with-dv-small"))
    val dstP = new org.apache.hadoop.fs.Path(dir.toString)
    org.apache.hadoop.fs.FileUtil.copy(
      srcP.getFileSystem(conf), srcP, dstP.getFileSystem(conf), dstP,
      false, true, conf)
    // FileUtil.copy nests the source dir under dst
    val tableDir = s"$dir/table-with-dv-small"
    val t = DeltaTable.forPath(spark, tableDir)
    assert(t.toDF.select("value").as[Int].collect().sorted.toSeq == (1 to 8))
    // our DELETE on their DV-masked file (protocol 3/7 with deletionVectors)
    t.delete(Some("value = 5"))
    assert(t.toDF.select("value").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4, 6, 7, 8))
    // our OPTIMIZE + VACUUM over their layout
    t.optimizeCompact()
    assert(t.toDF.select("value").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4, 6, 7, 8))
    // time travel back to the foreign state works while its files live
    assert(t.asOfVersion(1).count() == 8)
    t.vacuum(retentionHours = 0, dryRun = false, enforceRetention = false)
    val fresh = DeltaTable.forPath(spark, tableDir)
    assert(fresh.toDF.select("value").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4, 6, 7, 8))
  }

  test("delta-live-table: schemaless v0 metadata tolerated, v1 schema wins") {
    val t = DeltaTable.forPath(spark, golden("delta-live-table"))
    assert(t.version == 1)
    assert(t.schema.fieldNames.contains("sherpa_user_id"))
  }

  test("issue_1374: timestamp-partitioned table with checkpoint replays") {
    val t = DeltaTable.forPath(spark, golden("issue_1374"))
    assert(t.version == 1)
    assert(t.partitionColumns == Seq("date"))
    assert(t.toDF.count() > 0)
  }

  test("table_with_column_mapping: physical names map back to logical") {
    val t = DeltaTable.forPath(spark, golden("table_with_column_mapping"))
    assert(t.schema.fieldNames.toSeq == Seq("Company Very Short", "Super Name"))
    val byPart = t.toDF.groupBy("`Company Very Short`").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPart == Map("BMS" -> 4L, "BME" -> 1L))
  }

  // ---- round-5 DAT-corpus extension (ground truth: python/duckdb replay) ----

  test("table_with_deletion_logs: same-path tombstones in the checkpoint do " +
      "not cancel the live DV add") {
    // checkpoint v20 holds ONE live add plus two remove tombstones for the
    // SAME path (earlier DV states of the file) — path-keyed replay reads 0
    // files here; (path, dvUniqueId)-keyed replay reads 98 live rows
    val t = DeltaTable.forPath(spark, golden("table_with_deletion_logs"))
    assert(t.version == 20)
    assert(t.snapshot.numFiles == 1,
      s"live add dropped by tombstone mis-keying: ${t.snapshot.numFiles} files")
    assert(t.snapshot.allFiles.head.deletionVector.exists(_.cardinality == 2))
    assert(t.toDF.count() == 98)
    // DV states over time: v2 unmasked, v3 masks 1 row, v4 masks 2
    assert(t.asOfVersion(2).count() == 100)
    assert(t.asOfVersion(3).count() == 99)
    assert(t.asOfVersion(4).count() == 98)
  }

  test("cdf-table-non-partitioned: full change feed from recorded CDC files") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, golden("cdf-table-non-partitioned"))
    assert(t.toDF.select("id").as[Int].collect().sorted.toSeq ==
      Seq(1, 1, 2, 2, 3, 4, 5, 6, 8, 9, 10))
    val byType = t.loadCdf(0, Some(4))
      .groupBy("_change_type").agg(
        org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.sum("id").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byType == Map(
      "insert" -> ((12L, 58L)), // v0 initial 10 (sum 55) + v4 inserts {1,2}
      "update_preimage" -> ((6L, 27L)),
      "update_postimage" -> ((6L, 27L)),
      "delete" -> ((1L, 7L))), s"got $byType")
  }

  test("checkpoint-cdf-table: checkpoint replay + change feed after it") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, golden("checkpoint-cdf-table"))
    assert(t.partitionColumns == Seq("birthday"))
    assert(t.toDF.select("id").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 3, 4, 5, 6, 8, 9, 10, 12, 13, 14, 15))
    val byType = t.loadCdf(5, Some(5)).groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("update_preimage" -> 4L, "update_postimage" -> 4L),
      s"got $byType")
  }

  test("simple_table_with_cdc: update CDC round-trips") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, golden("simple_table_with_cdc"))
    assert(t.toDF.select("id", "name").as[(Int, String)].collect().toSeq ==
      Seq((0, "Mino")))
    val changes = t.loadCdf(2, Some(2))
      .select("id", "name", "_change_type").as[(Int, String, String)]
      .collect().sortBy(_._3).toSeq
    assert(changes == Seq((0, "Mino", "update_postimage"), (0, "Mario", "update_preimage")))
  }

  test("checkpoints: 13-commit log-only fixture replays to 12 live adds") {
    // the fixture ships no data files — this proves pure log replay across
    // a commit chain with struct/timestamp schema, no data read
    val t = DeltaTable.forPath(spark, golden("checkpoints"))
    assert(t.version == 12)
    assert(t.snapshot.numFiles == 12)
    assert(t.schema.fieldNames.contains("some_struct"))
  }

  test("delta-0.8.0: remove-then-optimize state reads the right 2 files") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, golden("delta-0.8.0"))
    assert(t.snapshot.numFiles == 2)
    assert(t.toDF.select("value").as[Int].collect().sorted.toSeq == Seq(0, 1, 2, 4))
  }

  test("table-without-dv-small: companion fixture reads all 10 rows") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, golden("table-without-dv-small"))
    assert(t.toDF.select("value").as[Long].collect().sorted.toSeq ==
      (0L to 9L).toSeq)
  }

  test("table_with_partitioning_mapping: mapped partition column recovers " +
      "logical name and values") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, golden("table_with_partitioning_mapping"))
    assert(t.partitionColumns == Seq("newid"))
    assert(t.schema.fieldNames.toSeq == Seq("newid", "description"))
    assert(t.toDF.select("newid", "description").as[(Int, String)]
      .collect().sortBy(_._1).toSeq ==
      Seq((1, "Initial data"), (2, "Additional data")))
  }

  test("checkpoint-v2-table: a uuid-PARQUET manifest replays standalone") {
    import org.apache.commons.io.FileUtils
    import org.apache.spark.sql.types.{StructField, StructType}
    // The spec allows V2 manifests as json lines OR parquet; the fixture
    // ships json. Synthesize the parquet flavor from the fixture's own v8
    // manifest (same actions, same sidecar references), strip the json
    // manifests and covered commits, and replay from the parquet manifest
    // alone — selection that only accepted ".json" manifests failed here
    // with a misleading "incomplete multi-part checkpoint" error.
    val src = new java.io.File(golden("checkpoint-v2-table"))
    val work = java.nio.file.Files.createTempDirectory("graft_v2pq_").toFile
    val dst = new java.io.File(work, "t")
    FileUtils.copyDirectory(src, dst)
    val full = DeltaTable.forPath(spark, dst.toString)
    val truthCount = full.toDF.count()
    val truthFiles = full.snapshot.numFiles

    val logDir = new java.io.File(dst, "_delta_log")
    val jsonManifest = logDir.listFiles()
      .filter(_.getName.matches("0*8\\.checkpoint\\.[0-9a-f-]{36}\\.json")).head
    val manifestSchema = StructType(graft.kernel.Checkpoints.checkpointSchema.fields :+
      StructField("sidecar", graft.kernel.Checkpoints.sidecarType))
    import spark.implicits._
    val lines = scala.io.Source.fromFile(jsonManifest)
    val df = try spark.read.schema(manifestSchema)
      .json(spark.createDataset(lines.getLines().toSeq)) finally lines.close()
    val tmpOut = new java.io.File(work, "pq_manifest")
    df.coalesce(1).write.parquet(tmpOut.toString)
    val part = tmpOut.listFiles().filter(_.getName.endsWith(".parquet")).head
    val pqName = "00000000000000000008.checkpoint." +
      "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee.parquet"
    assert(part.renameTo(new java.io.File(logDir, pqName)))

    logDir.listFiles().foreach { f =>
      val n = f.getName
      val isOldCommit = (n.endsWith(".json") || n.endsWith(".crc")) &&
        n.takeWhile(_.isDigit).nonEmpty && n.takeWhile(_.isDigit).toLong <= 8
      if (isOldCommit) assert(f.delete(), s"could not delete $n")
    }
    val t = DeltaTable.forPath(spark, dst.toString)
    assert(t.snapshot.numFiles == truthFiles,
      s"parquet-manifest replay lost files: ${t.snapshot.numFiles} vs $truthFiles")
    assert(t.toDF.count() == truthCount)
  }

  test("checkpoints_tombstones: expired tombstones drop from the checkpoint, " +
      "fresh survive, rows unchanged") {
    // The reference fixture dir (crates/test/tests/data/checkpoints_tombstones)
    // is RUNTIME-generated — its .gitignore blanks _delta_log/* and no
    // checked-in content exists — so this scenario reproduces the
    // generator's semantics instead of reading blanked bytes: checkpoint
    // writes retain Remove tombstones whose deletionTimestamp is within
    // delta.deletedFileRetentionDuration and drop the rest, with a MISSING
    // deletionTimestamp counting as 0 = always expired (reference
    // operations/vacuum.rs:652 is_tombstone_expired: unwrap_or(0)). Mixed
    // ages in ONE table, asserting row content AND tombstone visibility
    // across the checkpoint replay — the class where a silent divergence
    // costs data (VACUUM's live-set math).
    import spark.implicits._
    import graft.kernel.{Checkpoints, OptimisticTransaction, Operation, RemoveFile}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_tomb_").toString + "/t"
    // four single-file appends so each file is individually removable
    DeltaTable.write(spark, Seq((0L, "keep")).toDF("id", "txt"), dir)
    (1 to 3).foreach { i =>
      DeltaTable.write(spark,
        Seq((i.toLong, s"gone$i")).toDF("id", "txt"), dir, mode = "append")
    }
    val t = DeltaTable.forPath(spark, dir)
    val files = t.snapshot.allFiles.sortBy(_.path)
    assert(files.size == 4)
    val now = System.currentTimeMillis()
    val eightDaysAgo = now - 8L * 24 * 3600 * 1000 // outside the 7d default
    // one expired, one timestamp-less (= expired per the unwrap_or(0)
    // rule), one fresh — committed as three real removes; the fourth
    // file's single row is the surviving content
    val Seq(f1, f2, f3) = files.drop(1).toSeq
    val removes = Seq(
      f1.remove(eightDaysAgo, dataChange = true),
      f2.remove(0L, dataChange = true).copy(deletionTimestamp = None),
      f3.remove(now, dataChange = true))
    val txn = new OptimisticTransaction(t.deltaLog, Some(t.snapshot))
    txn.commit(removes, Operation("DELETE"))

    val pre = DeltaTable.forPath(spark, dir)
    val preRows = pre.toDF.as[(Long, String)].collect().sorted.toSeq
    assert(preRows.size == 1, s"one file's row must survive, got $preRows")
    assert(pre.snapshot.tombstones.size == 3)
    Checkpoints.write(spark, pre.deltaLog.logPath, pre.snapshot, pre.deltaLog.store)

    val replayed = DeltaTable.forPath(spark, dir)
    // row content is checkpoint-invariant
    assert(replayed.toDF.as[(Long, String)].collect().sorted.toSeq == preRows)
    // tombstone visibility: only the fresh remove survives the checkpoint
    val survivors = replayed.snapshot.tombstones.map(_.path).toSet
    assert(survivors == Set(f3.path),
      s"expected only the fresh tombstone to survive, got $survivors " +
        s"(expired=${f1.path}, ts-less=${f2.path})")
    assert(replayed.snapshot.tombstones.head.deletionTimestamp.contains(now))

    // VACUUM's live-set math against the replayed snapshot — the
    // motivating data-loss class: the FRESH tombstone must protect its
    // file from deletion even when the file's mtime is ancient (another
    // reader's clock has not expired the remove; protection must come
    // from the tombstone's deletionTimestamp, never the file's mtime),
    // while the files whose expired/ts-less tombstones legitimately
    // dropped from the checkpoint become reclaimable orphans once their
    // BYTES age past retention.
    val tfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Seq(f1, f2, f3).foreach { f =>
      tfs.setTimes(new org.apache.hadoop.fs.Path(dir, f.path), eightDaysAgo, -1)
    }
    val cands = replayed.vacuum(dryRun = true).toSet
    assert(!cands.contains(f3.path),
      s"VACUUM must not reclaim ${f3.path}: its tombstone is inside the " +
        s"retention window even though the file mtime is aged ($cands)")
    assert(cands.contains(f1.path) && cands.contains(f2.path),
      s"expired/ts-less tombstoned files with aged bytes must be " +
        s"reclaimable orphans, got $cands")
    assert(!cands.contains(files.head.path),
      s"the live file must never be a candidate, got $cands")
  }

  test("simple_commit / concurrent_workers: empty CREATE-only tables open") {
    Seq("simple_commit", "concurrent_workers").foreach { name =>
      val t = DeltaTable.forPath(spark, golden(name))
      assert(t.version == 0, name)
      assert(t.snapshot.numFiles == 0, name)
      assert(t.schema.fieldNames.toSeq == Seq("value"), name)
      assert(t.toDF.count() == 0, name)
    }
  }
}

package lakebench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kernel.AddFile
import graft.llm.Similarity
import graft.table.{DeltaTable, Scan}

object Workloads {
  val names: Seq[String] = Seq("read_mix", "ingest", "dml")

  def create(name: String, spark: SparkSession, seed: Long, work: String): Workload = name match {
    case "read_mix" => new ReadMix(spark, seed, work)
    case "ingest" => new Ingest(spark, seed, work)
    case "dml" => new Dml(spark, seed, work)
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  /** SQL timestamp literal for epoch seconds (session time zone is UTC). */
  def tsLit(sec: Long): String = s"TIMESTAMP '${tsFmt.format(Instant.ofEpochSecond(sec))}'"

  val Day = 86400L
  /** 1992-01-01, the first day of the TPC-H date range. */
  val Epoch1992 = 694224000L
  val SpanDays = 2400

  /** Order-independent exact fingerprint of a result. */
  def rowsKey(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** Rows equal up to a relative 1e-9 on doubles (sums whose addition
    * order differs between plans), compared after sorting. */
  def approxEqual(a: Seq[Row], b: Seq[Row]): Boolean = {
    def close(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) => p == q || math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
      case _ => x == y
    }
    val sa = a.sortBy(_.toString); val sb = b.sortBy(_.toString)
    sa.size == sb.size && sa.zip(sb).forall { case (r, s) =>
      r.size == s.size && (0 until r.size).forall(j => close(r.get(j), s.get(j)))
    }
  }

  def fail(msg: String): Nothing = throw new CheckFailed(msg)

  /** Quantile `q` of the op times of the given classes; a failed op counts
    * as missing every latency limit. */
  def latency(ops: Seq[OpResult], classes: Set[String], q: Double, name: String): (String, Metric) = {
    val xs = ops.filter(r => classes(r.cls)).map(r => if (r.failed) Double.PositiveInfinity else r.ms)
    name -> Metric(Main.quantile(xs, q), "ms", xs.size)
  }

  /** Seeded pseudo-random long column: a pure function of (row id, seed, salt). */
  def h(seed: Long, salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  def pick(seed: Long, salt: Int, vs: String*): Column =
    element_at(array(vs.map(lit): _*), (pmod(h(seed, salt), lit(vs.size.toLong)) + 1).cast("int"))

  /** lineitem laid out by ship date: row ids run in file order, and the
    * ship date grows with the id, so each file holds one date range. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, files: Int, nOrders: Long): DataFrame =
    spark.range(0, n, 1, files).select(
      (pmod(h(seed, 1), lit(nOrders)) + 1).as("l_orderkey"),
      (pmod(h(seed, 2), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(seed, 3), lit(1000L)) + 1).as("l_suppkey"),
      (pmod(h(seed, 4), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, 5), lit(50L)) + 1).cast("double").as("l_quantity"),
      ((pmod(h(seed, 6), lit(10000000L)) + 90000) / 100.0).as("l_extendedprice"),
      (pmod(h(seed, 7), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(seed, 8), lit(9L)) / 100.0).as("l_tax"),
      pick(seed, 9, "A", "N", "R").as("l_returnflag"),
      pick(seed, 10, "F", "O").as("l_linestatus"),
      timestamp_seconds(lit(Epoch1992) + col("id") * lit(SpanDays * Day) / lit(n)).as("l_shipdate"))

  /** orders laid out by key: each file holds one key range. */
  def orders(spark: SparkSession, seed: Long, n: Long, files: Int, nCust: Long): DataFrame =
    spark.range(1, n + 1, 1, files).select(
      col("id").as("o_orderkey"),
      (pmod(h(seed, 11), lit(nCust)) + 1).as("o_custkey"),
      pick(seed, 12, "F", "O", "P").as("o_orderstatus"),
      (pmod(h(seed, 13), lit(2000000L)) / 4.0).as("o_totalprice"),
      timestamp_seconds(lit(Epoch1992) + pmod(h(seed, 14), lit(SpanDays.toLong)) * lit(Day))
        .as("o_orderdate"),
      pick(seed, 15, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))

  def customer(spark: SparkSession, seed: Long, n: Long, files: Int): DataFrame =
    spark.range(1, n + 1, 1, files).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(h(seed, 21), lit(25L)).cast("int").as("c_nationkey"),
      ((pmod(h(seed, 22), lit(1100000L)) - 100000) / 100.0).as("c_acctbal"),
      pick(seed, 23, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .as("c_mktsegment"))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  def localDf(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  /** Bytes of one user row: 8 per fixed-width value, UTF-8 length of strings. */
  def rowBytes(r: Row): Long = r.toSeq.map {
    case s: String => s.getBytes("UTF-8").length.toLong
    case a: scala.collection.Seq[_] => 4L * a.size
    case _ => 8L
  }.sum

  def live(t: DeltaTable): Map[String, AddFile] = t.snapshot.allFiles.map(f => f.path -> f).toMap

  /** Ops-layer counters from the file-set difference of two snapshots. */
  def fileDiff(before: Map[String, AddFile], after: Map[String, AddFile],
               rowsChanged: Double): Map[String, Double] = {
    val added = after.keySet -- before.keySet
    Map(
      "ops.files_added" -> added.size.toDouble,
      "ops.files_removed" -> (before.keySet -- after.keySet).size.toDouble,
      "ops.rows_written" -> added.toSeq.flatMap(p => after(p).numRecords).sum.toDouble,
      "ops.rows_changed" -> rowsChanged)
  }

  /** A snapshot load of the benchmark's own, timed as a kernel span. */
  def open(spark: SparkSession, path: String): DeltaTable =
    Trace.timed("kernel", "kernel.snapshot") {
      val t = DeltaTable.forPath(spark, path); t.snapshot; t
    }
}

import Workloads._

/** Seeded reads against three static catalog tables, plus vector top-k
  * queries against an embeddings table. */
class ReadMix(spark: SparkSession, seed: Long, work: String) extends Workload {
  val nLineitem = 300000L
  val lineitemFiles = 24
  val nOrders = 75000L
  val nCustomer = 7500L
  val nVecs = 1000
  val dim = 64
  val k = 10
  val cycle = Seq("point", "scan_sql", "point", "scan_api", "q1", "point", "join", "ann")

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))
  private var embPath = ""
  private var vecs: Map[Long, Array[Float]] = Map.empty

  /** Vectors around ten cluster centres. */
  private def genVecs(r: SplittableRandom): Seq[Row] = {
    def gauss(): Double = { // Box-Muller on the seeded stream
      val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centres = Array.fill(10, dim)(gauss())
    (0 until nVecs).map { i =>
      val c = r.nextInt(10)
      Row(i.toLong, centres(c).map(x => (x + 0.6 * gauss()).toFloat).toSeq, c)
    }
  }

  private val rng = new SplittableRandom(seed)
  private var ns = ""
  private var lineitemPath = ""
  private val results = mutable.HashMap[Long, Seq[Row]]()
  private val params = mutable.HashMap[Long, (String, Long)]()

  def setup(root: String, rep: Int): Unit = {
    ns = s"r$rep"
    spark.sql(s"CREATE NAMESPACE lake.$ns")
    val wh = s"$work/wh/$ns"
    lineitemPath = s"$wh/lineitem"
    DeltaTable.write(spark, lineitem(spark, seed, nLineitem, lineitemFiles, nOrders), lineitemPath)
    DeltaTable.write(spark, orders(spark, seed, nOrders, 8, nCustomer), s"$wh/orders")
    DeltaTable.write(spark, customer(spark, seed, nCustomer, 2), s"$wh/customer")
    val emb = genVecs(new SplittableRandom(seed ^ 0xe3bL))
    vecs = emb.map(x => x.getLong(0) -> x.getSeq[Float](1).toArray).toMap
    embPath = s"$wh/embeddings"
    DeltaTable.write(spark, spark.createDataFrame(emb.asJava, embSchema).repartition(4), embPath)
  }

  /** The references read the generated rows with plain Spark. */
  override def prepare(): Unit = {
    lineitem(spark, seed, nLineitem, lineitemFiles, nOrders).createOrReplaceTempView("ref_lineitem")
    orders(spark, seed, nOrders, 8, nCustomer).createOrReplaceTempView("ref_orders")
    customer(spark, seed, nCustomer, 2).createOrReplaceTempView("ref_customer")
  }

  private def weekPred(d: Long): String = {
    val lo = Epoch1992 + d * Day
    s"l_shipdate >= ${tsLit(lo)} AND l_shipdate < ${tsLit(lo + 7 * Day)}"
  }
  private def q1(cut: Long, from: String): String =
    s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
       |  sum(l_extendedprice) AS sum_base, sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
       |  avg(l_discount) AS avg_disc, count(*) AS n
       |FROM $from WHERE l_shipdate <= ${tsLit(cut)}
       |GROUP BY l_returnflag, l_linestatus""".stripMargin
  private def join(d: Long, li: String, o: String, c: String): String = {
    val lo = Epoch1992 + d * Day
    s"""SELECT c_mktsegment, count(*) AS n, sum(l_extendedprice) AS revenue
       |FROM $li JOIN $o ON l_orderkey = o_orderkey JOIN $c ON o_custkey = c_custkey
       |WHERE o_orderdate >= ${tsLit(lo)} AND o_orderdate < ${tsLit(lo + 90 * Day)}
       |GROUP BY c_mktsegment""".stripMargin
  }
  private val q1Ref =
    """SELECT /*+ BROADCAST(c) */ c.op, l_returnflag, l_linestatus, sum(l_quantity),
      |  sum(l_extendedprice), sum(l_extendedprice * (1 - l_discount)), avg(l_discount), count(*)
      |FROM ref_cuts c JOIN ref_lineitem l ON l.l_shipdate <= c.cut
      |GROUP BY c.op, l_returnflag, l_linestatus""".stripMargin
  private val joinRef =
    """SELECT /*+ BROADCAST(q) */ q.op, c_mktsegment, count(*), sum(l_extendedprice)
      |FROM ref_quarters q JOIN ref_orders o ON o.o_orderdate >= q.lo AND o.o_orderdate < q.hi
      |JOIN ref_lineitem ON l_orderkey = o_orderkey JOIN ref_customer ON o_custkey = c_custkey
      |GROUP BY q.op, c_mktsegment""".stripMargin
  private def sql(q: String): Seq[Row] = spark.sql(q).collect().toSeq

  def run(i: Long, cls: String): Unit = {
    val t = s"lake.$ns"
    val p: Long = cls match {
      case "point" => 1 + rng.nextLong(nOrders)
      case "scan_sql" | "scan_api" => rng.nextLong(SpanDays - 7L)
      case "q1" => Epoch1992 + (SpanDays - 60 - rng.nextLong(61)) * Day
      case "join" => rng.nextLong(SpanDays - 90L)
      case "ann" => 0L
    }
    params(i) = (cls, p)
    results(i) = cls match {
      case "point" => sql(s"SELECT * FROM $t.orders WHERE o_orderkey = $p")
      case "scan_sql" => sql(s"SELECT * FROM $t.lineitem WHERE ${weekPred(p)}")
      case "scan_api" =>
        if (!Trace.on) DeltaTable.forPath(spark, lineitemPath).scanWhere(weekPred(p)).collect().toSeq
        else {
          // DeltaTable.scanWhere, split at its layer boundaries
          val snap = open(spark, lineitemPath).snapshot
          val files = Trace.timed("kernel", "kernel.prune") {
            Scan.prunedFiles(snap, Seq(Scan.parsePredicate(spark, weekPred(p))), Some(spark))
          }
          Trace.count("kernel.prune_files_considered", snap.allFiles.size)
          Trace.count("kernel.prune_files_kept", files.size)
          Trace.timed("table", "table.scan_build")(Scan.readFiles(spark, snap, files))
            .filter(weekPred(p)).collect().toSeq
        }
      case "q1" => sql(q1(p, s"$t.lineitem"))
      case "join" => sql(join(p, s"$t.lineitem", s"$t.orders", s"$t.customer"))
      case "ann" =>
        val qs = Iterator.continually(rng.nextLong(nVecs.toLong)).distinct.take(8).toSeq
        val emb = Trace.timed("table", "table.scan_build")(open(spark, embPath).toDF)
        Trace.span("llm", "cosineTopK") {
          Similarity.cosineTopK(emb, emb.filter(col("vec_id").isin(qs: _*)), "vec_id", "embedding", k)
            .collect().toSeq
        }
    }
  }

  def check(): Set[Long] = {
    val bad = mutable.Set[Long]()
    def byClass(cs: String*) = params.toSeq.filter(x => cs.contains(x._2._1)).sortBy(_._1)
    import spark.implicits._

    val points = byClass("point")
    if (points.nonEmpty) {
      val ref = sql(s"SELECT * FROM ref_orders WHERE o_orderkey IN (${points.map(_._2._2).distinct.mkString(",")})")
        .groupBy(_.getLong(0))
      points.foreach { case (i, (_, k)) =>
        if (rowsKey(results(i)) != rowsKey(ref.getOrElse(k, Nil))) bad += i
      }
    }
    val scans = byClass("scan_sql", "scan_api")
    if (scans.nonEmpty) {
      scans.map(x => (x._1, Epoch1992 + x._2._2 * Day)).toDF("op", "lo")
        .select(col("op"), timestamp_seconds(col("lo")).as("lo"),
          timestamp_seconds(col("lo") + 7 * Day).as("hi"))
        .createOrReplaceTempView("ref_windows")
      val ref = sql("""SELECT /*+ BROADCAST(w) */ w.op, l.* FROM ref_windows w JOIN ref_lineitem l
                      |ON l.l_shipdate >= w.lo AND l.l_shipdate < w.hi""".stripMargin)
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rowsKey(rs.map(r => Row.fromSeq(r.toSeq.tail))) }
      scans.foreach { case (i, _) => if (rowsKey(results(i)) != ref.getOrElse(i, Nil)) bad += i }
    }
    // aggregates: one reference query per class, every op's parameter
    // joined in as a row of a parameter table
    val q1s = byClass("q1")
    if (q1s.nonEmpty) {
      q1s.map(x => (x._1, x._2._2)).toDF("op", "cut")
        .select(col("op"), timestamp_seconds(col("cut")).as("cut")).createOrReplaceTempView("ref_cuts")
      val ref = sql(q1Ref).groupBy(_.getLong(0))
      q1s.foreach { case (i, _) =>
        if (!approxEqual(results(i), ref.getOrElse(i, Nil).map(r => Row.fromSeq(r.toSeq.tail)))) bad += i
      }
    }
    val joins = byClass("join")
    if (joins.nonEmpty) {
      joins.map(x => (x._1, Epoch1992 + x._2._2 * Day)).toDF("op", "lo")
        .select(col("op"), timestamp_seconds(col("lo")).as("lo"),
          timestamp_seconds(col("lo") + 90 * Day).as("hi"))
        .createOrReplaceTempView("ref_quarters")
      val ref = sql(joinRef).groupBy(_.getLong(0))
      joins.foreach { case (i, _) =>
        if (!approxEqual(results(i), ref.getOrElse(i, Nil).map(r => Row.fromSeq(r.toSeq.tail)))) bad += i
      }
    }
    byClass("ann").foreach { case (i, _) => if (!annExact(results(i))) bad += i }
    bad.toSet
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var j = 0
    while (j < a.length) { s += a(j).toDouble * b(j).toDouble; j += 1 }
    s
  }

  /** Brute-force top-k by the same cosine, on the driver; a different
    * neighbour at a rank is accepted only where the two cosines tie. */
  private def annExact(rows: Seq[Row]): Boolean =
    rows.map(_.getLong(0)).distinct.size == 8 && rows.groupBy(_.getLong(0)).forall { case (q, rs) =>
      val qv = vecs(q)
      val ref = vecs.toSeq.filter(_._1 != q).map { case (id, v) =>
        (id, dot(qv, v) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(v, v))))
      }.sortBy(x => (-x._2, x._1)).take(k)
      val got = rs.sortBy(_.getLong(2))
      got.size == ref.size && got.zip(ref).forall { case (r, (id, c)) =>
        r.getLong(1) == id || math.abs(r.getDouble(3) - c) <= 1e-12
      }
    }

  def detail(ops: Seq[OpResult]): Map[String, Metric] = Map(
    latency(ops, Set("point"), 0.5, "point_read_p50_ms"),
    latency(ops, Set("scan_sql", "scan_api"), 0.5, "pruned_scan_p50_ms"),
    latency(ops, Set("q1", "join"), 0.5, "agg_read_p50_ms"),
    latency(ops, Set("ann"), 0.5, "ann_p50_ms"),
    latency(ops, cycle.toSet, 0.95, "read_p95_ms"))
}

/** A stream of small appends, each followed by a fresh catalog read. */
class Ingest(spark: SparkSession, seed: Long, work: String) extends Workload {
  val initialRows = 20000
  val cycle = Seq("append", "fresh_read")
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  /** Batch j holds events of the minute starting at base + 60 j. */
  val base = 1704067200L // 2024-01-01

  private val rng = new SplittableRandom(seed)
  private var ns = ""
  private var path = ""
  private var nextId = 0L
  private var total = 0L
  private var batch = -1
  private var lastBatch: (Long, Double) = (0L, 0.0) // rows, sum(value)
  private val bytes = mutable.HashMap[Long, Long]()
  private val counters = mutable.HashMap[Long, Map[String, Double]]()
  private val opIndexes = mutable.ArrayBuffer[Long]()

  private def events(n: Int, fromSec: Long, widthSec: Long, r: SplittableRandom): Seq[Row] =
    (0 until n).map { _ =>
      val id = nextId; nextId += 1
      val ts = new java.sql.Timestamp((fromSec * 1000000L + r.nextLong(widthSec * 1000000L)) / 1000L)
      val kind = Seq("view", "click", "cart", "buy", "leave")(r.nextInt(5))
      Row(id, ts, r.nextLong(5000L), kind, r.nextInt(4000) / 4.0,
        s"""{"page":${r.nextInt(200)},"ab":"${if (r.nextBoolean()) "a" else "b"}"}""")
    }

  def setup(root: String, rep: Int): Unit = {
    ns = s"e$rep"
    spark.sql(s"CREATE NAMESPACE lake.$ns")
    path = s"$work/wh/$ns/events"
    nextId = 0L
    // the initial rows come from their own stream: every set-up rep writes
    // the same table, and the op sequence does not depend on the rep count
    val rows = events(initialRows, base - Day, Day, new SplittableRandom(seed ^ 0x5eedL))
    DeltaTable.write(spark, spark.createDataFrame(rows.asJava, schema).repartition(4), path,
      configuration = Map("delta.checkpointInterval" -> "10"))
    total = initialRows
    batch = -1
  }

  override def tableDirs: Seq[String] = Seq(path)
  override def userBytes(i: Long): Long = bytes.getOrElse(i, 0L)
  override def opsCounters(i: Long): Map[String, Double] = counters.getOrElse(i, Map.empty)

  def run(i: Long, cls: String): Unit = { opIndexes += i; cls match {
    case "append" =>
      batch += 1
      val rows = events(200 + rng.nextInt(401), base + 60L * batch, 60L, rng)
      bytes(i) = rows.map(rowBytes).sum
      val before = if (Trace.on) Some(DirState.of(path)) else None
      Trace.span("table", "write")(DeltaTable.write(spark, localDf(spark, rows, schema), path))
      total += rows.size
      lastBatch = (rows.size.toLong, rows.map(_.getDouble(4)).sum)
      before.foreach { b =>
        val added = DirState.of(path).files.keySet -- b.files.keySet
        counters(i) = Map(
          "ops.files_added" -> added.count(f => f.endsWith(".parquet") && !f.contains("/_delta_log/")).toDouble,
          "ops.rows_written" -> rows.size.toDouble, "ops.rows_changed" -> rows.size.toDouble)
      }
    case "fresh_read" =>
      val t = s"lake.$ns.events"
      val w = spark.sql(s"SELECT count(*), sum(value) FROM $t WHERE ts >= ${tsLit(base + 60L * batch)}").head()
      val n = spark.sql(s"SELECT count(*) FROM $t").head().getLong(0)
      if (w.getLong(0) != lastBatch._1 || w.getDouble(1) != lastBatch._2)
        fail(s"window read saw (${w.getLong(0)}, ${w.getDouble(1)}), appended $lastBatch")
      if (n != total) fail(s"fresh read counted $n rows, $total appended so far")
  }}

  def check(): Set[Long] = {
    val n = DeltaTable.forPath(spark, path).toDF.count()
    if (n != total) opIndexes.toSet else Set.empty
  }

  def detail(ops: Seq[OpResult]): Map[String, Metric] = Map(
    latency(ops, Set("append"), 0.5, "append_p50_ms"),
    latency(ops, Set("append"), 0.95, "append_p95_ms"),
    latency(ops, Set("fresh_read"), 0.5, "fresh_read_p50_ms"))
}

/** A seeded MERGE / DELETE / UPDATE / OPTIMIZE / read cycle on one
  * copy-on-write orders table. */
class Dml(spark: SparkSession, seed: Long, work: String) extends Workload {
  val nOrders = 60000L
  val files = 16
  val cycle = Seq("merge_clustered", "delete", "merge_scattered", "update", "optimize", "read")
  val srcRows = (nOrders / 100).toInt

  private sealed trait Change
  private case class Upsert(rows: Seq[Row]) extends Change
  private case class Delete(pred: String) extends Change
  private case class Update(pred: String) extends Change

  private val rng = new SplittableRandom(seed)
  private var path = ""
  private var t: DeltaTable = _
  private var maxKey = nOrders
  private var targetFileBytes = 0L
  private val changes = mutable.ArrayBuffer[Change]()
  private val bytes = mutable.HashMap[Long, Long]()
  private val counters = mutable.HashMap[Long, Map[String, Double]]()
  private val opIndexes = mutable.ArrayBuffer[Long]()

  def setup(root: String, rep: Int): Unit = {
    path = s"$root/orders"
    DeltaTable.write(spark, orders(spark, seed, nOrders, files, nOrders / 10), path)
  }

  override def prepare(): Unit = {
    t = DeltaTable.forPath(spark, path)
    targetFileBytes = t.snapshot.allFiles.map(_.size).sum / files
  }

  override def tableDirs: Seq[String] = Seq(path)
  override def userBytes(i: Long): Long = bytes.getOrElse(i, 0L)
  override def opsCounters(i: Long): Map[String, Double] = counters.getOrElse(i, Map.empty)

  private def upsertRows(clustered: Boolean): Seq[Row] = {
    val half = srcRows / 2
    val matched =
      if (clustered) { val s = 1 + rng.nextLong(maxKey - half); (s until s + half).toSeq }
      else Iterator.continually(1 + rng.nextLong(maxKey)).distinct.take(half).toSeq
    val fresh = (maxKey + 1 to maxKey + half).toSeq
    maxKey += half
    (matched ++ fresh).map { k =>
      Row(k, 1 + rng.nextLong(nOrders / 10), "M", rng.nextInt(2000000) / 4.0,
        new java.sql.Timestamp((Epoch1992 + rng.nextLong(SpanDays.toLong) * Day) * 1000L),
        "3-MEDIUM")
    }
  }

  def run(i: Long, cls: String): Unit = {
    opIndexes += i
    val before = if (Trace.on) live(t) else Map.empty[String, AddFile]
    val changed: Double = cls match {
      case "merge_clustered" | "merge_scattered" =>
        val rows = upsertRows(cls == "merge_clustered")
        changes += Upsert(rows)
        bytes(i) = rows.map(rowBytes).sum
        Trace.span("ops", "merge") {
          t.merge(localDf(spark, rows, ordersSchema), "target.o_orderkey = source.o_orderkey")
            .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        }
        rows.size
      case "delete" =>
        val lo = Epoch1992 + rng.nextLong(SpanDays - 2L) * Day
        val pred = s"o_orderdate >= ${tsLit(lo)} AND o_orderdate < ${tsLit(lo + 2 * Day)}"
        changes += Delete(pred)
        Trace.span("ops", "delete")(t.delete(Some(pred))).getOrElse("num_deleted_rows", "0").toDouble
      case "update" =>
        val c0 = 1 + rng.nextLong(nOrders / 10 - 40)
        val pred = s"o_custkey >= $c0 AND o_custkey < ${c0 + 40}"
        changes += Update(pred)
        Trace.span("ops", "update") {
          t.update(Map("o_totalprice" -> expr("o_totalprice + 1.25"), "o_orderstatus" -> lit("U")),
            Some(pred))
        }.getOrElse("num_updated_rows", "0").toDouble
      case "optimize" =>
        // Z-ORDER on the key rewrites the whole table into files of the
        // initial size laid out by key: the same work every cycle, and
        // clustered merge sources touch few files again afterwards
        Trace.span("ops", "optimize")(t.optimizeZOrder(Seq("o_orderkey"), targetFileBytes))
        0.0
      case "read" =>
        Trace.timed("kernel", "kernel.snapshot")(t.refresh())
        val df = Trace.timed("table", "table.scan_build")(t.toDF)
        df.groupBy("o_orderstatus").agg(count(lit(1)), sum("o_totalprice")).collect()
        0.0
    }
    if (Trace.on) counters(i) = fileDiff(before, live(t), changed)
  }

  /** The final table must equal a plain-Spark replay of every change. */
  def check(): Set[Long] = {
    var cur = orders(spark, seed, nOrders, files, nOrders / 10)
    changes.zipWithIndex.foreach { case (c, n) =>
      cur = c match {
        case Upsert(rows) =>
          val s = spark.createDataFrame(rows.asJava, ordersSchema)
          cur.join(s.select("o_orderkey"), Seq("o_orderkey"), "left_anti").unionByName(s)
        case Delete(pred) => cur.filter(not(expr(pred)))
        case Update(pred) =>
          cur.withColumn("o_totalprice", when(expr(pred), col("o_totalprice") + 1.25)
              .otherwise(col("o_totalprice")))
            .withColumn("o_orderstatus", when(expr(pred), lit("U")).otherwise(col("o_orderstatus")))
      }
      if (n % 4 == 3) cur = cur.localCheckpoint()
    }
    // multiset equality through (count, two sums of 32-bit row hashes)
    def digest(df: DataFrame): Row = {
      val cols = df.columns.toSeq.map(col)
      df.agg(count(lit(1)), sum(xxhash64(cols: _*).bitwiseAND(0xffffffffL)),
        sum(xxhash64((lit(7) +: cols): _*).bitwiseAND(0xffffffffL))).head()
    }
    val same = digest(DeltaTable.forPath(spark, path).toDF.select(cur.columns.map(col): _*)) == digest(cur)
    if (same) Set.empty else opIndexes.toSet
  }

  def detail(ops: Seq[OpResult]): Map[String, Metric] = Map(
    latency(ops, Set("merge_clustered", "merge_scattered"), 0.5, "merge_p50_ms"),
    latency(ops, Set("delete"), 0.5, "delete_p50_ms"),
    latency(ops, Set("optimize"), 0.5, "optimize_p50_ms"))
}

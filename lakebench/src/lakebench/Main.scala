package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.lakebench.Bus
import org.apache.spark.sql.SparkSession

import graft.kernel.{DeltaLog, HadoopLogStore}

/** A measured quantity with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int)

/** The outcome of one op of the timed phase. */
final case class OpResult(index: Long, cls: String, ms: Double, failed: Boolean, traced: Boolean)

/**
 * One workload: a seeded closed-loop op sequence against tables the
 * workload builds itself. The op at position `i` has class
 * `cycle(i % cycle.size)`; its parameters come from the workload's seeded
 * generator in sequence order, so one seed always yields one op sequence.
 */
trait Workload {
  def cycle: Seq[String]
  /** Builds the workload's tables under `root` through the program (timed
    * as set-up). Called several times; the last call's tables are used. */
  def setup(root: String, rep: Int): Unit
  /** Untimed: anything the checks need. */
  def prepare(): Unit = ()
  /** Runs op `i` of class `cls`; throws when the op fails or an inline
    * check of its output fails. */
  def run(i: Long, cls: String): Unit
  /** Deferred output checks after the timed phase: indexes of failed ops. */
  def check(): Set[Long]
  /** Table directories whose growth the workload reports. */
  def tableDirs: Seq[String] = Nil
  /** Bytes of user rows submitted by op `i` (0 for ops that submit none). */
  def userBytes(i: Long): Long = 0L
  /** Ops-layer counters of op `i`, filled in the traced run. */
  def opsCounters(i: Long): Map[String, Double] = Map.empty
  /** Workload-specific named end-to-end metrics. */
  def detail(ops: Seq[OpResult]): Map[String, Metric]
}

class CheckFailed(msg: String) extends RuntimeException(msg)

object Main {
  val SetupReps = 3

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }

  @volatile private var spinSink = 0L

  /** Effective cores this process gets: `n` threads spin for `ms`, and the
    * process CPU time gained is divided by the wall time. Recorded only. */
  def spinProbe(n: Int, ms: Long): Double = {
    val c0 = processCpuNs
    val t0 = System.nanoTime()
    val deadline = t0 + ms * 1000000L
    val ts = (1 to n).map { i =>
      val t = new Thread(() => {
        var x = i.toLong
        while (System.nanoTime() < deadline) x = x * 6364136223846793005L + 1442695040888963407L
        spinSink ^= x
      })
      t.setDaemon(true); t.start(); t
    }
    ts.foreach(_.join())
    (processCpuNs - c0) / ((System.nanoTime() - t0).toDouble)
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def num(v: Double): String =
    if (v.isNaN) "null"
    else if (v.isInfinite) (if (v > 0) "1.0E300" else "-1.0E300")
    else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def metricsJson(ms: Seq[(String, Metric)], withSamples: Boolean): String =
    obj(ms.map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)) ++
        (if (withSamples) Seq("samples" -> m.samples.toString) else Nil))
    })

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val outDir = Paths.get(arg(args, "--out")).toAbsolutePath
    require(Workloads.names.contains(workload),
      s"unknown workload $workload (known: ${Workloads.names.mkString(", ")})")
    Files.createDirectories(work)
    Files.createDirectories(outDir)
    val nproc = Runtime.getRuntime.availableProcessors()
    val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val phases = mutable.ArrayBuffer[(String, Double)]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases += name -> (now - mark) / 1e9; mark = now
    }

    // window stamp: recorded with the run, never folded into a metric
    val loadBefore = loadAvg
    val probeBefore = spinProbe(nproc, 300)

    val builder = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("lakebench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toUri.toString)
      .config("spark.sql.catalog.lake",
        if (traced) classOf[TimedCatalog].getName else "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.lake.warehouse", work.resolve("wh").toUri.toString)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    phase("spark_start")

    if (traced) {
      DeltaLog.registerLogStore("file",
        new TimedLogStore(new HadoopLogStore(spark.sessionState.newHadoopConf())))
      spark.listenerManager.register(new PhaseListener)
      sc.addSparkListener(new JobListener)
    }

    val wl = Workloads.create(workload, spark, seed, work.toUri.toString.stripSuffix("/"))
    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(work.resolve(s"setup$r").toUri.toString.stripSuffix("/"), r)
      (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    wl.prepare()
    phase("prepare")

    var next = 0L
    var warmFailed = false
    // warm-up: one untimed cycle (JIT, codegen, catalog cache fill); its
    // ops are part of the sequence and of the checks
    wl.cycle.foreach { cls =>
      try wl.run(next, cls) catch {
        case e: Throwable => warmFailed = true; System.err.println(s"warm-up op $next ($cls) failed: $e")
      }
      next += 1
    }
    val firstTimed = next
    phase("warm_up")

    val results = mutable.ArrayBuffer[OpResult]()
    val perOp = mutable.HashMap[Long, Map[String, Double]]()
    val dirsBefore = wl.tableDirs.map(DirState.of)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // at least one full cycle (two in the traced run, one traced and one
    // not), then whole ops until the deadline
    val minOps = wl.cycle.size * (if (traced) 2 else 1)
    while (results.size < minOps || System.nanoTime() < deadline) {
      val i = next
      val cls = wl.cycle((i % wl.cycle.size).toInt)
      val tracedOp = traced && ((i / wl.cycle.size) % 2 == 1)
      val before = if (tracedOp) Some((wl.tableDirs.map(DirState.of), gcMs)) else None
      if (tracedOp) {
        Trace.op = i
        Trace.on = true
        sc.setLocalProperty(JobListener.OpProp, i.toString)
      }
      val s0 = System.nanoTime()
      val failed = try { wl.run(i, cls); false } catch {
        case e: Throwable => System.err.println(s"op $i ($cls) failed: $e"); true
      }
      val s1 = System.nanoTime()
      if (tracedOp) {
        Trace.add("op", cls, i, s0, s1)
        Bus.drain(sc)
        Trace.on = false
        sc.setLocalProperty(JobListener.OpProp, null)
        val (dirs0, gcBefore) = before.get
        val added = wl.tableDirs.map(DirState.of).zip(dirs0).map { case (a, b) => a.addedSince(b) }
        val (_, self) = Trace.resolve(i)
        perOp(i) = Trace.opCounters(i) ++ wl.opsCounters(i) ++ Map(
          "storage.data_bytes_written" -> added.map(_._1).sum.toDouble,
          "storage.log_bytes_written" -> added.map(_._2).sum.toDouble,
          "storage.files_written" -> added.map(_._3).sum.toDouble,
          "jvm.gc_ms" -> (gcMs - gcBefore).toDouble,
          "driver.self_ms" -> self.getOrElse("driver", 0.0) / 1e6) ++
          Layers.all.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0) / 1e6)
        Trace.op = -1L
      }
      results += OpResult(i, cls, (s1 - s0) / 1e6, failed, tracedOp)
      next += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val gcTimed = gcMs - gc0
    val dirsAfter = wl.tableDirs.map(DirState.of)
    phase("timed")
    val heapMb = retainedHeapMb()

    val lateFailed = wl.check()
    phase("check")
    val warmCheckFailed = lateFailed.exists(_ < firstTimed)
    val ops = results.map(r => if (lateFailed.contains(r.index)) r.copy(failed = true) else r).toSeq
    val attempted = ops.size
    val failed = ops.count(_.failed)
    val correct = failed == 0 && !warmFailed && !warmCheckFailed

    val loadAfter = loadAvg
    val probeAfter = spinProbe(nproc, 300)

    // failed ops miss every latency limit
    def lat(rs: Seq[OpResult]): Seq[Double] = rs.map(r => if (r.failed) Double.PositiveInfinity else r.ms)
    val untracedOps = ops.filterNot(_.traced)
    val classes = wl.cycle.distinct
    def classP50(rs: Seq[OpResult]): Seq[Double] =
      classes.map(c => median(lat(rs.filter(_.cls == c)))).filterNot(_.isNaN)
    def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
    // mean op time over one cycle: class means weighted by the cycle, so a
    // run that stops part-way through a cycle does not shift the mix
    def cycleMean(rs: Seq[OpResult]): Double = {
      val means = classes.map(c => c -> lat(rs.filter(_.cls == c))).filter(_._2.nonEmpty)
        .map { case (c, xs) => c -> xs.sum / xs.size }.toMap
      val cyc = wl.cycle.filter(means.contains)
      cyc.map(means).sum / cyc.size
    }
    val userBytes = ops.map(r => wl.userBytes(r.index)).sum
    val bytesAdded = dirsAfter.zip(dirsBefore).map { case (a, b) => a.addedSince(b) }
      .map(x => x._1 + x._2).sum

    val endToEnd = Seq(
      "setup_s" -> Metric(median(setupS), "s", setupS.size),
      "op_p50_ms" -> Metric(geomean(classP50(untracedOps)), "ms", untracedOps.size),
      "op_mean_ms" -> Metric(cycleMean(untracedOps), "ms", untracedOps.size))

    val named = endToEnd ++ Seq(
      "failed_frac" -> Metric(failed.toDouble / attempted, "ratio", attempted),
      "op_p95_ms" -> Metric(quantile(lat(untracedOps), 0.95), "ms", untracedOps.size),
      "retained_heap_mb" -> Metric(heapMb, "MB", 1)) ++
      wl.detail(untracedOps).toSeq.sortBy(_._1) ++
      (if (userBytes > 0)
        Seq("write_amp" -> Metric(bytesAdded.toDouble / userBytes, "ratio", attempted))
      else Nil)

    val tracedOps = ops.filter(_.traced)
    val layerMetrics: Seq[(String, Metric)] = if (!traced) Nil else {
      val n = tracedOps.size
      val sums = mutable.HashMap[String, Double]()
      tracedOps.foreach(r => perOp.getOrElse(r.index, Map.empty).foreach { case (k, v) =>
        sums(k) = sums.getOrElse(k, 0.0) + v
      })
      val overheadMs = geomean(classP50(tracedOps)) - geomean(classP50(untracedOps))
      Layers.perLayer.map { case (name, unit) =>
        name -> Metric(sums.getOrElse(name, 0.0) / n, unit, n)
      } ++ Seq(
        "trace.overhead_ms" -> Metric(overheadMs, "ms", n),
        "trace.overhead_pct" -> Metric(100.0 * overheadMs / geomean(classP50(untracedOps)), "%", n))
    }

    if (traced) {
      val spanFile = outDir.resolve(s"spans_${workload}_seed$seed.jsonl")
      val w = Files.newBufferedWriter(spanFile)
      try tracedOps.foreach { r =>
        Trace.resolve(r.index)._1.foreach { s =>
          w.write(obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
            "op" -> s.op.toString, "layer" -> str(s.layer), "name" -> str(s.name),
            "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))
          w.newLine()
        }
      } finally w.close()
    }

    val stamp = obj(Seq(
      "nproc" -> nproc.toString,
      "load_before" -> num(loadBefore), "load_after" -> num(loadAfter),
      "eff_cores_before" -> num(probeBefore), "eff_cores_after" -> num(probeAfter)))
    val record = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "measured_s" -> num(measuredS), "timed_gc_ms" -> gcTimed.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "window" -> stamp,
      "phases_s" -> obj(("jvm_start" -> num(jvmStartS)) +: phases.toSeq.map { case (k, v) => k -> num(v) }),
      "ops_per_class" -> obj(classes.map(c => c -> ops.count(_.cls == c).toString)),
      "class_p50_ms" -> obj(classes.map(c => c -> num(median(lat(untracedOps.filter(_.cls == c)))))),
      "end_to_end" -> metricsJson(named, withSamples = true)) ++
      (if (traced) Seq("per_layer" -> metricsJson(layerMetrics, withSamples = true)) else Nil))
    Files.write(outDir.resolve(s"record_${workload}_seed${seed}_trace${if (traced) 1 else 0}.json"),
      record.getBytes("UTF-8"))
    println("lakebench-record " + record)

    spark.stop()
    val result = obj(Seq(
      "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson(if (traced) layerMetrics else endToEnd, withSamples = false)))
    println(result)
  }
}

/** Layer names (the program's modules) and the per-layer metrics of the
  * traced run, as per-op means over its traced ops. */
object Layers {
  val all: Seq[String] = Seq("catalog", "catalyst", "kernel", "table", "ops", "llm", "spark")

  val perLayer: Seq[(String, String)] = Seq(
    "catalog.load_calls" -> "count", "catalog.load_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "kernel.store_list_calls" -> "count", "kernel.store_read_calls" -> "count",
    "kernel.store_write_calls" -> "count", "kernel.store_list_ms" -> "ms",
    "kernel.store_read_ms" -> "ms", "kernel.store_write_ms" -> "ms",
    "kernel.snapshot_ms" -> "ms", "kernel.log_jobs" -> "count",
    "kernel.prune_ms" -> "ms", "kernel.prune_files_considered" -> "count",
    "kernel.prune_files_kept" -> "count", "kernel.sql_scan_files" -> "count",
    "table.scan_build_ms" -> "ms",
    "ops.files_added" -> "count", "ops.files_removed" -> "count",
    "ops.rows_written" -> "count", "ops.rows_changed" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.failed_tasks" -> "count", "spark.task_ms" -> "ms", "spark.task_cpu_ms" -> "ms",
    "spark.task_gc_ms" -> "ms", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "storage.data_bytes_written" -> "bytes", "storage.log_bytes_written" -> "bytes",
    "storage.files_written" -> "count",
    "jvm.gc_ms" -> "ms", "driver.self_ms" -> "ms") ++
    all.map(l => s"self.${l}_ms" -> "ms")
}

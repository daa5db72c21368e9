package lakebench

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.catalog.GraftCatalog
import graft.kernel.LogStore

/** One timed interval at a layer boundary. `parent` is 0 for an op's root
  * span; `op` is the benchmark op the span belongs to. Times are
  * `System.nanoTime` values. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/**
 * In-memory span and counter recorder for the traced run. Every span is
 * recorded by benchmark code around a call into one layer's public API, or
 * by a listener on Spark's own events; nothing inside the program is
 * instrumented. Spans are kept in memory and written out when the run ends.
 *
 * Parents are assigned per op by interval containment: Catalyst phases and
 * Spark jobs are reported from listener threads, and a catalog load runs
 * inside the analysis phase that is only reported after the query, so call
 * order on the client thread alone cannot nest them.
 */
object Trace {
  /** Whether the current op is traced. Wrappers check it on every call, so
    * the untraced ops of a traced run pay one volatile read per call. */
  @volatile var on = false
  @volatile var op: Long = -1L

  private var nextId = 0L
  private val spans = mutable.ArrayBuffer[Span]()
  private val counters = mutable.HashMap[(Long, String), Double]()

  // epoch-ms stamps from Spark events → the nanoTime axis of client spans
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def msToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def add(layer: String, name: String, op: Long, startNs: Long, endNs: Long): Unit =
    synchronized {
      nextId += 1
      spans += Span(nextId, 0L, op, layer, name, startNs, endNs)
    }

  def count(name: String, v: Double, forOp: Long = op): Unit =
    if (forOp >= 0) synchronized {
      counters((forOp, name)) = counters.getOrElse((forOp, name), 0.0) + v
    }

  /** Times `body` as a span of `layer` when tracing is on. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val o = op
      val t0 = System.nanoTime()
      try body finally add(layer, name, o, t0, System.nanoTime())
    }

  /** Times `body` and adds its milliseconds and one call to `metric`. */
  def timed[T](layer: String, metric: String)(body: => T): T =
    if (!on) body
    else {
      val o = op
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        add(layer, metric, o, t0, t1)
        count(metric + "_calls", 1, o)
        count(metric + "_ms", (t1 - t0) / 1e6, o)
      }
    }

  def opSpans(o: Long): Seq[Span] = synchronized(spans.filter(_.op == o).toSeq)
  def opCounters(o: Long): Map[String, Double] = synchronized {
    counters.collect { case ((`o`, k), v) => k -> v }.toMap
  }

  /** Assigns each span of one op its parent (the smallest span of the op
    * that contains it, 1 ms slack for the ms-stamped listener spans) and
    * returns (spans with parents, self time in ns per layer). Self time is
    * a span's duration minus the part of it its children cover. */
  def resolve(o: Long): (Seq[Span], Map[String, Double]) = {
    val slack = 1000000L
    val ss = opSpans(o).sortBy(s => (s.startNs, -s.durNs))
    val root = ss.find(_.layer == "op")
    val withParent = ss.map { s =>
      if (root.contains(s)) s
      else {
        val encl = ss.filter(p => (p ne s) && p.durNs >= s.durNs &&
          p.startNs - slack <= s.startNs && s.endNs <= p.endNs + slack &&
          !(p.durNs == s.durNs && p.id > s.id))
        val parent = if (encl.isEmpty) root else Some(encl.minBy(_.durNs))
        s.copy(parent = parent.map(_.id).getOrElse(0L))
      }
    }
    val kids = withParent.groupBy(_.parent)
    val self = mutable.HashMap[String, Double]()
    withParent.foreach { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      val layer = if (s.layer == "op") "driver" else s.layer
      self(layer) = self.getOrElse(layer, 0.0) + math.max(0L, s.durNs - covered)
    }
    (withParent, self.toMap)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Times calls into the kernel's log store. Registered for the `file`
  * scheme in the traced run only, through the kernel's public
  * `DeltaLog.registerLogStore`. */
class TimedLogStore(inner: LogStore) extends LogStore {
  override def conf: Configuration = inner.conf
  override def list(dir: Path): Seq[FileStatus] =
    Trace.timed("kernel", "kernel.store_list")(inner.list(dir))
  override def read(path: Path): Seq[String] =
    Trace.timed("kernel", "kernel.store_read")(inner.read(path))
  override def writeAtomic(path: Path, lines: Iterator[String]): Unit =
    Trace.timed("kernel", "kernel.store_write")(inner.writeAtomic(path, lines))
  override def exists(path: Path): Boolean = inner.exists(path)
  override def delete(path: Path): Boolean = inner.delete(path)
}

/** The catalog of the traced run: times every `loadTable`. */
class TimedCatalog extends GraftCatalog {
  override def loadTable(ident: Identifier): Table =
    Trace.timed("catalog", "catalog.load")(super.loadTable(ident))
}

/** Catalyst phase times and scan file counts, from each executed query's
  * `QueryPlanningTracker` and executed plan. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val o = Trace.op
    if (!Trace.on || o < 0) return
    qe.tracker.phases.foreach { case (phase, t) =>
      if (Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
          QueryPlanningTracker.PLANNING).contains(phase)) {
        Trace.add("catalyst", phase, o, Trace.msToNs(t.startTimeMs), Trace.msToNs(t.endTimeMs))
        Trace.count(s"catalyst.${phase}_ms", (t.endTimeMs - t.startTimeMs).toDouble, o)
      }
    }
    // files the scan actually read: for a catalog SQL read this is the
    // pruned file list the table handed to Spark
    def visit(p: SparkPlan): Unit = p.foreach {
      case f: FileSourceScanExec =>
        f.metrics.get("numFiles").foreach(m => Trace.count("kernel.sql_scan_files", m.value.toDouble, o))
      case a: AdaptiveSparkPlanExec => if (a.executedPlan ne p) visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case _ =>
    }
    scala.util.Try(visit(qe.executedPlan))
  }
}

/** Spark job, stage and task counters per op, plus one span per job. Jobs
  * are tagged with the op through a local property set on the client
  * thread. A job whose call site is in `graft.kernel` is a log job
  * (checkpoint reads and writes, distributed log replay). */
class JobListener extends SparkListener {
  private val jobs = mutable.HashMap[Int, (Long, Long)]() // job -> (op, startMs)
  private val stageOp = mutable.HashMap[Int, Long]()

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(JobListener.OpProp)))
      .map(_.toLong).getOrElse(-1L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val o = opOf(e.properties)
    if (o < 0) return
    jobs(e.jobId) = (o, e.time)
    e.stageIds.foreach(s => stageOp(s) = o)
    Trace.count("spark.jobs", 1, o)
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val firstUserFrame = site.linesIterator.map(_.trim).find(l =>
      l.nonEmpty && !l.startsWith("org.apache.spark") && !l.startsWith("scala.") &&
        !l.startsWith("java.") && !l.startsWith("jdk."))
    if (firstUserFrame.exists(_.startsWith("graft.kernel."))) Trace.count("kernel.log_jobs", 1, o)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (o, t0) =>
      Trace.add("spark", s"job ${e.jobId}", o, Trace.msToNs(t0), Trace.msToNs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(o => Trace.count("spark.stages", 1, o))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val o = stageOp.getOrElse(e.stageId, -1L)
    if (o < 0) return
    Trace.count("spark.tasks", 1, o)
    if (!e.taskInfo.successful) Trace.count("spark.failed_tasks", 1, o)
    val m = e.taskMetrics
    if (m != null) {
      Trace.count("spark.task_ms", m.executorRunTime.toDouble, o)
      Trace.count("spark.task_cpu_ms", m.executorCpuTime / 1e6, o)
      Trace.count("spark.task_gc_ms", m.jvmGCTime.toDouble, o)
      Trace.count("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble, o)
      Trace.count("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble, o)
      Trace.count("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, o)
      Trace.count("spark.input_bytes", m.inputMetrics.bytesRead.toDouble, o)
      Trace.count("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble, o)
    }
  }
}

object JobListener {
  val OpProp = "lakebench.op"
}

/** Byte and file counts of a table directory, split into data and log. */
final case class DirState(files: Map[String, Long]) {
  /** (data bytes, log bytes, files) present now and not in `before`. */
  def addedSince(before: DirState): (Long, Long, Long) = {
    val added = files.filter { case (p, n) => !before.files.get(p).contains(n) }
    val (log, data) = added.partition(_._1.contains("/_delta_log/"))
    (data.values.sum, log.values.sum, added.size.toLong)
  }
}

object DirState {
  def of(dir: String): DirState = {
    val root = java.nio.file.Paths.get(new java.net.URI(dir).getPath)
    val out = mutable.HashMap[String, Long]()
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.forEach { p =>
        if (java.nio.file.Files.isRegularFile(p)) out(p.toString) = java.nio.file.Files.size(p)
      } finally walk.close()
    }
    DirState(out.toMap)
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.DeltaTable

/**
 * The reference's MERGE benchmark grid re-expressed over the driver testdata:
 * 16 scenarios (6 insert-only, 1 delete-only, 9 upsert) spanning matched /
 * not-matched source-row fractions, each with the reference's
 * operationMetrics validators (crates/benchmarks/src/merge.rs:77-111,
 * 122-279). Shared by the Bench "merge_grid" mode and MergeGridSpec.
 *
 * Differences from the reference harness, on purpose:
 *  - sampling is DETERMINISTIC (pmod(xxhash64(key, salt), 1000) < frac*1000
 *    instead of random()) so every run and both the bench and the spec see
 *    identical inputs;
 *  - the validators are a superset: insert-only cases also assert the
 *    no-rewrite fast path (zero files removed, zero rows copied).
 *
 * Case names mirror the reference grid verbatim, INCLUDING the
 * `filesMatchedFraction` label — which the reference's own MergePerfParams
 * does not implement either (merge.rs:19-22 carries only the two row
 * fractions; its last two upsert cases differ from case 9 in name only).
 * The label is kept for row-by-row comparability with published reference
 * results, not as a knob.
 */
object MergeGrid {

  /** scenario ∈ insert_single | insert_multiple | delete | upsert */
  case class Case(name: String, scenario: String,
      matchedFrac: Double, notMatchedFrac: Double)

  val cases: Seq[Case] = {
    def n(s: String, fm: Double, fnm: Double, scen: String, filesFrac: Double = 0.05) =
      Case(s"${s}_filesMatchedFraction_${filesFrac}_rowsMatchedFraction_${fm}_rowsNotMatchedFraction_${fnm}",
        scen, fm, fnm)
    Seq(
      n("single_insert_only", 0.0, 0.05, "insert_single"),
      n("single_insert_only", 0.0, 0.5, "insert_single"),
      n("single_insert_only", 0.0, 1.0, "insert_single"),
      n("multiple_insert_only", 0.0, 0.05, "insert_multiple"),
      n("multiple_insert_only", 0.0, 0.5, "insert_multiple"),
      n("multiple_insert_only", 0.0, 1.0, "insert_multiple"),
      n("delete_only", 0.05, 0.0, "delete"),
      n("upsert", 0.0, 0.1, "upsert"),
      n("upsert", 0.01, 0.1, "upsert"),
      n("upsert", 0.1, 0.1, "upsert"),
      n("upsert", 0.5, 0.001, "upsert"),
      n("upsert", 0.99, 0.001, "upsert"),
      n("upsert", 1.0, 0.001, "upsert"),
      n("upsert", 0.1, 0.0, "upsert"),
      n("upsert", 0.01, 0.001, "upsert", filesFrac = 0.5),
      n("upsert", 0.01, 0.001, "upsert", filesFrac = 1.0))
  }

  /** Merge source of Bench's merge_upsert/merge_upsert_dv rows: 50%
    * matched (updates), ~1% inserted. */
  def benchUpsertSource(orders: DataFrame): DataFrame =
    orders.filter("o_orderkey % 2 = 0")
      .unionByName(orders.filter("o_orderkey % 100 = 0")
        .withColumn("o_orderkey", col("o_orderkey") + 10000000))
      .withColumn("o_totalprice", col("o_totalprice") + 1)

  /** Deterministic fraction sample: stable across runs/engines. */
  private def sampled(df: DataFrame, key: String, frac: Double, salt: Int): DataFrame = {
    // the 1000-bucket hash floor truncates any 0 < frac < 0.001 to an
    // EMPTY sample — refuse rather than silently benchmark a no-op side
    require(frac <= 0.0 || frac >= 0.001,
      s"sampled: frac=$frac below 1/1000 bucket resolution")
    if (frac <= 0.0) df.limit(0)
    else if (frac >= 1.0) df
    else df.filter(pmod(xxhash64(col(key), lit(salt)), lit(1000)) < (frac * 1000).toLong)
  }

  /** Merge source for a case over the `orders`-shaped target: matched rows
    * keep their keys; not-matched rows get keys shifted out of the target's
    * key range (reference: random keys), both with a modified payload. */
  def source(orders: DataFrame, c: Case): DataFrame = {
    val matched = sampled(orders, "o_orderkey", c.matchedFrac, salt = 1)
    val notMatched = sampled(orders, "o_orderkey", c.notMatchedFrac, salt = 2)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
    matched.unionByName(notMatched)
      .withColumn("o_totalprice", col("o_totalprice") + 1)
  }

  /** Build + execute the case's merge; returns operationMetrics. */
  def run(table: DeltaTable, src: DataFrame, c: Case): Map[String, String] = {
    val cond = "target.o_orderkey = source.o_orderkey AND target.o_custkey = source.o_custkey"
    val m = table.merge(src, cond)
    (c.scenario match {
      case "insert_single" => m.whenNotMatchedInsertAll()
      case "insert_multiple" =>
        m.whenNotMatchedInsertAll(condition = Some("source.o_orderkey % 2 = 0"))
          .whenNotMatchedInsertAll()
      case "delete" => m.whenMatchedDelete()
      case "upsert" => m.whenMatchedUpdateAll().whenNotMatchedInsertAll()
      case other => throw new IllegalArgumentException(s"unknown scenario $other")
    }).execute()
  }

  /** Validator violations (empty = green). Mirrors validate_insert_only /
    * validate_delete_only / validate_upsert, plus the insert-only
    * no-rewrite invariants. */
  def validate(c: Case, m: Map[String, String]): Seq[String] = {
    def zero(field: String): Option[String] = m.get(field) match {
      // a MISSING metric is itself a violation: defaulting it to "0"
      // would turn every validator vacuous if Merge renamed/omitted a key
      case None => Some(s"${c.name}: metric $field missing from operationMetrics")
      case Some("0") => None
      case Some(v) => Some(s"${c.name}: expected $field == 0, found $v")
    }
    (c.scenario match {
      case "insert_single" | "insert_multiple" =>
        Seq(zero("num_target_rows_updated"), zero("num_target_rows_deleted"),
          zero("num_target_files_removed"), zero("num_target_rows_copied"))
      case "delete" =>
        Seq(zero("num_target_rows_inserted"), zero("num_target_rows_updated"))
      case _ =>
        Seq(zero("num_target_rows_deleted"))
    }).flatten
  }

  /** One grid cell's outcome. Cells run ONCE (no median to absorb a stall
    * on a shared host), so each carries its own contention diagnostics:
    * per-phase merge wall times plus the JVM's GC-time and process-CPU-time
    * deltas across the cell. A stalled cell shows wall >> cpu (starved) or
    * gc ≈ wall (heap thrash); a plan regression shows one inflated phase
    * with cpu ≈ wall. */
  case class CellResult(c: Case, sec: Double, violations: Seq[String],
      phases: Map[String, Double], gcSec: Double, cpuSec: Double)

  /** Cumulative JVM GC wall time; shared with Bench's whole-run load block
    * so the two records can't diverge. */
  private[graft] def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0L).sum
  }
  /** Cumulative process CPU time, or -1 when the JVM can't report it —
    * including the bean-present-but-unsupported case where
    * getProcessCpuTime itself returns -1 ns (which a bare /1000000
    * would truncate to 0 = "fully starved", the exact misread the
    * sentinel exists to prevent). */
  private[graft] def cpuMs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        val ns = os.getProcessCpuTime
        if (ns < 0L) -1L else ns / 1000000L
      case _ => -1L
    }

  /** Run every case on a fresh clone of `templateDir`. */
  def runAll(spark: SparkSession, templateDir: String,
      cloneDir: (String, String) => Unit,
      tempDir: String => String): Seq[CellResult] = {
    val ordersDf = DeltaTable.forPath(spark, templateDir).toDF
    cases.zipWithIndex.map { case (c, ci) =>
      val dir = tempDir(s"grid_$ci")
      cloneDir(templateDir, dir)
      val src = source(ordersDf, c)
      val (gc0, cpu0) = (gcMs, cpuMs)
      val t0 = System.nanoTime()
      val metrics = run(DeltaTable.forPath(spark, dir), src, c)
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu1 = cpuMs
      // -1.0 = cpu unavailable on this JVM (same sentinel as Bench's
      // whole-run load) — 0.0 would read as a fully-starved cell
      val cpuSec = if (cpu0 < 0 || cpu1 < 0) -1.0 else (cpu1 - cpu0) / 1e3
      CellResult(c, sec, validate(c, metrics), graft.ops.MergeOp.lastPhases,
        (gcMs - gc0) / 1e3, cpuSec)
    }
  }
}

package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.unsafe.types.UTF8String

import graft.kernel.DeletionVectors

/**
 * Executor-side deletion-vector membership over a broadcast of
 * roaring-COMPRESSED bitmaps keyed by file path (KBs per masked file):
 * the scale-safe replacement for anti-joining exploded (file, pos) pairs,
 * whose broadcast is tens of GB at 1B masked rows (the reference applies
 * DVs as per-file selection-vector masks, `next/scan/exec.rs:63-150` —
 * this is the same shape expressed as a Catalyst predicate).
 *
 * Bitmaps parse lazily once per file per executor into their COMPRESSED
 * container form ([[DeletionVectors.RoaringMembership]] — membership is
 * answered on array/bitset/run containers directly, so the per-task
 * working set stays at roaring size instead of a flattened Array[Long]
 * that would be 8 bytes per deleted row); row lookups hit a thread-local
 * (file → membership) memo — scan rows arrive grouped by file, so the
 * common case is one UTF8String equality check + two binary searches.
 */
class DvMaskLookup(masks: Broadcast[Map[String, Array[Byte]]]) extends Serializable {
  @transient private lazy val decoded =
    new ConcurrentHashMap[String, DeletionVectors.RoaringMembership]()
  @transient private lazy val memo = new PerFileMemo

  def deleted(file: UTF8String, pos: Long): Boolean = {
    val cached = memo.get(file)
    val mem =
      if (cached != null) cached.asInstanceOf[DeletionVectors.RoaringMembership]
      else {
        // every file this predicate scans carries a DV by construction
        // (Scan.readFiles masks only the dvFiles leg) — a lookup miss is a
        // path-variant mismatch between _metadata.file_path and
        // PathKeys.variants, and failing open would silently resurrect
        // deleted rows. Fail loudly.
        val m = decoded.computeIfAbsent(file.toString, k =>
          masks.value.get(k).map(DeletionVectors.decodeRoaringMembership)
            .getOrElse(throw new IllegalStateException(
              s"deletion-vector mask lookup missed file '$k' (path-variant " +
                "mismatch) — refusing to return masked rows unfiltered")))
        memo.put(file, m)
        m
      }
    mem.contains(pos)
  }
}

/** Thread-local one-slot (file → payload) memo for the per-file mask
  * lookup — scan rows arrive grouped by file, so one UTF8String equality
  * check hits almost always. The key must be `clone()`d because the input
  * UTF8String may alias a reused row buffer. */
final class PerFileMemo extends Serializable {
  @transient private lazy val tl = new ThreadLocal[Array[AnyRef]] {
    override def initialValue(): Array[AnyRef] = new Array[AnyRef](2)
  }
  /** The cached payload for `file`, or null on a miss. */
  def get(file: UTF8String): AnyRef = {
    val m = tl.get()
    if (m(0) != null && m(0).asInstanceOf[UTF8String].equals(file)) m(1) else null
  }
  def put(file: UTF8String, payload: AnyRef): Unit = {
    val m = tl.get()
    m(0) = file.clone()
    m(1) = payload
  }
}

/** TRUE when the row at (`file`, `pos`) is NOT masked by its file's
  * deletion vector — a codegen'd filter predicate, so DV application adds
  * no join to the scan plan and stays inside whole-stage codegen. */
case class DvMaskKeep(file: Expression, pos: Expression, lookup: DvMaskLookup)
    extends BinaryExpression with Predicate {

  override def left: Expression = file
  override def right: Expression = pos

  override protected def nullSafeEval(f: Any, p: Any): Any =
    !lookup.deleted(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvMasks", lookup, classOf[DvMaskLookup].getName)
    nullSafeCodeGen(ctx, ev, (f, p) => s"${ev.value} = !$ref.deleted($f, $p);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(file = newLeft, pos = newRight)
}

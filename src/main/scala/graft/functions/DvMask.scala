package graft.functions

import java.util.concurrent.atomic.AtomicReferenceArray

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

import graft.kernel.DeletionVectors

/**
 * Executor-side deletion-vector membership over a broadcast of
 * roaring-COMPRESSED bitmaps indexed by DV slot (KBs per masked file):
 * the scale-safe replacement for anti-joining exploded (file, pos) pairs,
 * whose broadcast is tens of GB at 1B masked rows (the reference applies
 * DVs as per-file selection-vector masks keyed by the log's file entry,
 * `next/scan/exec.rs:63-150` — this is the same shape expressed as a
 * Catalyst predicate). [[graft.table.LogFileIndex]] lists each DV file
 * with its slot as the constant `_metadata.dv_slot` field, so a row finds
 * its bitmap by array index.
 *
 * Bitmaps parse lazily once per slot per deserialized lookup into their
 * COMPRESSED container form ([[DeletionVectors.RoaringMembership]] —
 * membership is answered on array/bitset/run containers directly, so the
 * working set stays at roaring size instead of a flattened Array[Long]
 * that would be 8 bytes per deleted row).
 */
class DvMaskLookup(masks: Broadcast[Array[Array[Byte]]]) extends Serializable {
  @transient private lazy val decoded =
    new AtomicReferenceArray[DeletionVectors.RoaringMembership](masks.value.length)

  def deleted(slot: Int, pos: Long): Boolean = {
    var m = decoded.get(slot)
    if (m == null) {
      m = DeletionVectors.decodeRoaringMembership(masks.value(slot))
      decoded.set(slot, m)
    }
    m.contains(pos)
  }
}

/** TRUE when the row at (`slot`, `pos`) is NOT masked by its file's
  * deletion vector; a NULL slot (a file without one) keeps the row. A
  * codegen'd filter predicate, so DV application adds no join to the scan
  * plan and stays inside whole-stage codegen. */
case class DvMaskKeep(slot: Expression, pos: Expression, lookup: DvMaskLookup)
    extends BinaryExpression with Predicate {

  override def left: Expression = slot
  override def right: Expression = pos
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val s = slot.eval(input)
    s == null || !lookup.deleted(s.asInstanceOf[Int], pos.eval(input).asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvMasks", lookup, classOf[DvMaskLookup].getName)
    val s = slot.genCode(ctx)
    val p = pos.genCode(ctx)
    ev.copy(code = code"""
      ${s.code}
      boolean ${ev.value} = ${s.isNull};
      if (!${ev.value}) {
        ${p.code}
        ${ev.value} = !$ref.deleted(${s.value}, ${p.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(slot = newLeft, pos = newRight)
}

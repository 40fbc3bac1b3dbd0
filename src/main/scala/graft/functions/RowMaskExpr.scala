package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Per-file row-index bitmaps, keyed by the log's file key (the
  * table-relative path a deletion vector records). Tasks reach the
  * map through a broadcast, which the driver publishes without
  * running a job; the bitmaps are shared read-only. */
final class RowMasks(bc: Broadcast[Map[String, Roaring64NavigableMap]])
    extends Serializable {
  /** The file's bitmap, or null when the file carries no mask. */
  def forFile(file: UTF8String): Roaring64NavigableMap =
    bc.value.getOrElse(file.toString, null)
}

/** `row_mask(file, row_index)`: a scan filter over a deletion-vector
  * mask. With `selectMarked = false` a row is kept unless its file's
  * bitmap holds its row index (the masked read); with `true` only the
  * marked rows are kept (an UPDATE re-reading the rows it matched).
  *
  * The bitmap lookup runs once per file, like [[PerFileExpr]]: the
  * last (file, bitmap) pair is kept, so a row pays a byte compare of
  * its file key and one bitmap probe. A null file key reads as an
  * unmarked row. */
final case class RowMaskExpr(file: Expression, idx: Expression,
                             masks: RowMasks, selectMarked: Boolean)
    extends BinaryExpression with Predicate {

  @transient private var last: (UTF8String, Roaring64NavigableMap) = _

  override def left: Expression = file
  override def right: Expression = idx
  override def nullable: Boolean = false
  override def prettyName: String = "row_mask"
  override protected def stringArgs: Iterator[Any] = Iterator(file, idx, selectMarked)

  private def bitsOf(f: UTF8String): Roaring64NavigableMap = {
    val l = last
    if (l != null && l._1 == f) l._2
    else {
      val b = masks.forFile(f)
      last = (f.clone(), b)
      b
    }
  }

  override def eval(input: InternalRow): Any = {
    val f = file.eval(input).asInstanceOf[UTF8String]
    val bits = if (f == null) null else bitsOf(f)
    val hit = bits != null && bits.contains(idx.eval(input).asInstanceOf[Long])
    hit == selectMarked
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("rowMasks", masks, classOf[RowMasks].getName)
    val u8 = classOf[UTF8String].getName
    val lastFile = ctx.addMutableState(u8, "maskFile")
    val lastBits = ctx.addMutableState(classOf[Roaring64NavigableMap].getName, "maskBits")
    val f = file.genCode(ctx)
    val i = idx.genCode(ctx)
    ev.copy(code = code"""
      |${f.code}
      |${i.code}
      |boolean ${ev.value} = ${!selectMarked};
      |if (!${f.isNull}) {
      |  if ($lastFile == null || !$lastFile.equals(${f.value})) {
      |    $lastBits = $m.forFile(${f.value});
      |    $lastFile = ${f.value}.clone();
      |  }
      |  ${ev.value} = ($lastBits != null && $lastBits.contains(${i.value})) == $selectMarked;
      |}
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RowMaskExpr = copy(file = newLeft, idx = newRight)
}

object RowMaskExpr {

  /** Keep the rows `masks` does not mark (`selectMarked = false`), or
    * only the marked ones (`true`). */
  def column(file: Column, idx: Column, masks: RowMasks,
             selectMarked: Boolean = false): Column =
    Bridge.column(RowMaskExpr(Bridge.expression(file), Bridge.expression(idx),
      masks, selectMarked))
}

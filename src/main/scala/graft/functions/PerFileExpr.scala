package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `per_file(input_file_name())`: a value derived from the scanned
  * file's path, computed ONCE PER FILE, not once per row.
  *
  * Every row of a file carries the same path, yet the lake's file
  * keys (the DV/DML key, the bloom build's key, partition values)
  * used to be derived per row, a `substr` of a ~140-byte path on
  * every row of every scanned file. This expression keeps the last
  * (path, result) pair: a row runs `fn`
  * only when its path differs from the previous row's, so a task
  * pays one call per file plus a byte compare per row. Codegen keeps
  * the pair in mutable state of the generated class; `eval` keeps it
  * in the expression, with the same results.
  *
  * `fn` must be a pure, serializable function of the path (it ships
  * to executors); a null result reads as null. */
final case class PerFileExpr(child: Expression,
                             fn: UTF8String => UTF8String)
    extends UnaryExpression {

  // One (path, result) pair, swapped whole, so a reader never sees a
  // path paired with another path's result.
  @transient private var last: (UTF8String, UTF8String) = _

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"per_file requires a string path, got " + child.dataType.catalogString)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "per_file"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(p: Any): Any = {
    val path = p.asInstanceOf[UTF8String]
    val l = last
    if (l != null && l._1 == path) l._2
    else {
      val r = fn(path)
      last = (path.clone(), r)
      r
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("perFileFn", fn, classOf[Function1[_, _]].getName)
    val u8 = classOf[UTF8String].getName
    val lastPath = ctx.addMutableState(u8, "perFilePath")
    val lastValue = ctx.addMutableState(u8, "perFileValue")
    nullSafeCodeGen(ctx, ev, p => s"""
      |if ($lastPath == null || !$lastPath.equals($p)) {
      |  $lastValue = ($u8) $f.apply($p);
      |  $lastPath = $p.clone();
      |}
      |${ev.value} = $lastValue;
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): PerFileExpr = copy(child = newChild)
}

object PerFileExpr {

  /** `fn` of each scanned row's `input_file_name()`, once per file. */
  def column(fn: UTF8String => UTF8String): Column =
    Bridge.column(PerFileExpr(Bridge.expression(input_file_name()), fn))

  /** The path relative to `prefix`, or null when the path does not
    * start with it. `input_file_name()` reports the URL-encoded Path-URI
    * form, so `prefix` must be in that form too, and the rest is
    * decoded back to the on-disk name a log entry records (a hive-
    * escaped `with%20space` segment arrives as `with%2520space`). */
  def relativeTo(prefix: String): UTF8String => UTF8String = {
    val p = UTF8String.fromString(prefix)
    val n = p.numChars
    path =>
      if (!path.startsWith(p)) null
      else {
        val rest = path.substring(n, path.numChars).toString
        if (rest.indexOf('%') < 0) UTF8String.fromString(rest)
        else UTF8String.fromString(java.net.URLDecoder.decode(
          rest.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8))
      }
  }
}

/** Decode of a hive `col=value` path segment to its partition value —
  * the [[PerFileExpr]] function behind the partition-column attach of
  * partitioned txn-table scans ([[graft.sources.TxnLog]] readState).
  *
  * One substring scan of the path (plain `indexOf`) and one hash
  * probe, independent of partition cardinality: the earlier
  * `element_at(typedLit(map))` form scanned the literal map's keys
  * linearly, O(partitions) string compares per row.
  *
  * No `/<phys>=` segment → null; the hive null sentinel → null; an
  * encoded segment absent from the table → null (cannot happen for
  * files the log resolved — the table is built from the scanned rel
  * paths). */
final class PartDecodeTable(prefix: String, sentinel: String,
    pairs: Array[(String, String)]) extends Serializable {

  // Transient lazies: UTF8String interop is rebuilt per executor JVM;
  // the serialized form ships plain strings.
  @transient private lazy val map = {
    val m = new java.util.HashMap[UTF8String, UTF8String](
      math.max(8, pairs.length * 2))
    pairs.foreach { case (k, v) =>
      m.put(UTF8String.fromString(k), UTF8String.fromString(v))
    }
    m
  }
  @transient private lazy val prefixU8 = UTF8String.fromString(prefix)
  @transient private lazy val slashU8 = UTF8String.fromString("/")
  @transient private lazy val sentinelU8 = UTF8String.fromString(sentinel)

  /** The decoded partition value of this path, or null (no segment /
    * null sentinel / unknown segment). The path arrives in
    * `input_file_name()`'s Path-URI string form and the table's keys
    * were built in that same encoding by the caller. */
  def lookup(path: UTF8String): UTF8String = {
    val at = path.indexOf(prefixU8, 0)
    if (at < 0) return null
    val start = at + prefixU8.numChars()
    val end = path.indexOf(slashU8, start)
    val seg =
      if (end < 0) path.substring(start, path.numChars())
      else path.substring(start, end)
    if (seg.equals(sentinelU8)) null else map.get(seg)
  }
}

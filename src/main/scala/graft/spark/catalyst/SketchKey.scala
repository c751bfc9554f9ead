package graft.spark.catalyst

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Byte writers of [[SketchKey]], shared by its interpreted and generated
  * code paths. Top-level object so the generated Java calls its static
  * forwarders (the MinhashBandKernel pattern). */
object SketchKeyKernel {
  final val Sep: Byte = 1
  /** What a null part writes: `\u0002NULL\u0003`. */
  final val NullTag: Array[Byte] = "\u0002NULL\u0003".getBytes(UTF_8)

  /** Length of `v`'s decimal form, the bytes of `cast(v as string)`. Works
    * on the non-positive magnitude so Long.MinValue needs no special case. */
  def longSize(v: Long): Int = {
    var x = if (v < 0) v else -v
    var n = if (v < 0) 2 else 1
    while (x <= -10) { x /= 10; n += 1 }
    n
  }

  /** Writes `v` as `size` (= longSize(v)) decimal bytes at `pos`; returns
    * the position after them. */
  def putLong(out: Array[Byte], pos: Int, v: Long, size: Int): Int = {
    var x = if (v < 0) v else -v
    var i = pos + size
    do { i -= 1; out(i) = ('0' - x % 10).toByte; x /= 10 } while (x != 0)
    if (v < 0) out(pos) = '-'.toByte
    pos + size
  }

  def putString(out: Array[Byte], pos: Int, s: UTF8String): Int = {
    s.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + pos)
    pos + s.numBytes
  }

  def putNull(out: Array[Byte], pos: Int): Int = {
    System.arraycopy(NullTag, 0, out, pos, NullTag.length)
    pos + NullTag.length
  }

  /** The one validation pass: valid UTF-8 is returned as written;
    * malformed input becomes what `encode(…, 'UTF-8')` gives for it (Java
    * decoding with U+FFFD replacement, re-encoded). */
  def validated(out: Array[Byte]): Array[Byte] = {
    val s = UTF8String.fromBytes(out)
    if (s.isValid) out else s.toString.getBytes(UTF_8)
  }
}

/** The canonical byte key of a column tuple (functions.sketchKey) as one
  * non-nullable expression over string children: each part's bytes are
  * written once into the output array, parts joined by 0x01, a null part
  * written as `\u0002NULL\u0003`. A cast of an integral column to string
  * is peeled and its value written as decimal digits, so no string is
  * built for it. The output equals `encode(concat_ws('\u0001',
  * coalesce(part, '\u0002NULL\u0003')…), 'UTF-8')` for every input,
  * malformed UTF-8 included (see [[SketchKeyKernel.validated]]). */
case class SketchKey(children: Seq[Expression]) extends Expression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_sketch_key"

  override def checkInputDataTypes(): TypeCheckResult =
    children.find(c => !c.dataType.isInstanceOf[StringType]) match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes string children, got ${c.dataType.catalogString}")
    }

  /** Each part's evaluated child: the integral column under a peeled
    * cast, else the string child itself. */
  @transient private lazy val parts: IndexedSeq[Expression] = children.map {
    case c: Cast if isIntegral(c.child.dataType) => c.child
    case c => c
  }.toIndexedSeq
  @transient private lazy val isString: IndexedSeq[Boolean] =
    parts.map(_.dataType.isInstanceOf[StringType])
  /** Digits, separators and the null tag are ASCII: only a string part can
    * make the key malformed UTF-8. */
  @transient private lazy val needsValidation: Boolean = isString.contains(true)

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def asLong(v: Any): Long = v match {
    case x: java.lang.Long => x.longValue
    case x: java.lang.Integer => x.longValue
    case x: java.lang.Short => x.longValue
    case x: java.lang.Byte => x.longValue
  }

  override def eval(input: InternalRow): Any = {
    val n = parts.length
    val values = new Array[Any](n)
    val sizes = new Array[Int](n)
    var size = math.max(n - 1, 0)
    var i = 0
    while (i < n) {
      val v = parts(i).eval(input)
      values(i) = v
      sizes(i) =
        if (v == null) SketchKeyKernel.NullTag.length
        else if (isString(i)) v.asInstanceOf[UTF8String].numBytes
        else SketchKeyKernel.longSize(asLong(v))
      size += sizes(i)
      i += 1
    }
    val out = new Array[Byte](size)
    var pos = 0
    i = 0
    while (i < n) {
      if (i > 0) { out(pos) = SketchKeyKernel.Sep; pos += 1 }
      val v = values(i)
      pos =
        if (v == null) SketchKeyKernel.putNull(out, pos)
        else if (isString(i)) SketchKeyKernel.putString(out, pos, v.asInstanceOf[UTF8String])
        else SketchKeyKernel.putLong(out, pos, asLong(v), sizes(i))
      i += 1
    }
    if (needsValidation) SketchKeyKernel.validated(out) else out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = SketchKeyKernel.getClass.getName.stripSuffix("$")
    val out = ctx.freshName("key")
    val pos = ctx.freshName("pos")
    val size = ctx.freshName("size")
    val evals = parts.map(_.genCode(ctx))
    val sizeVars = parts.map(_ => ctx.freshName("partSize"))
    val sizing = parts.indices.map { i =>
      val e = evals(i)
      val notNull =
        if (isString(i)) s"${e.value}.numBytes()"
        else s"$k.longSize((long) ${e.value})"
      s"""${e.code}
         |int ${sizeVars(i)} = ${e.isNull} ? ${SketchKeyKernel.NullTag.length} : $notNull;
         |$size += ${sizeVars(i)};""".stripMargin
    }
    val writes = parts.indices.map { i =>
      val e = evals(i)
      val sep = if (i > 0) s"$out[$pos++] = ${SketchKeyKernel.Sep};\n" else ""
      val put =
        if (isString(i)) s"$k.putString($out, $pos, ${e.value})"
        else s"$k.putLong($out, $pos, (long) ${e.value}, ${sizeVars(i)})"
      s"""$sep$pos = ${e.isNull} ? $k.putNull($out, $pos) : $put;"""
    }
    val result = if (needsValidation) s"$k.validated($out)" else out
    ev.copy(
      code = code"""
        int $size = ${math.max(parts.length - 1, 0)};
        ${sizing.mkString("\n")}
        byte[] $out = new byte[$size];
        int $pos = 0;
        ${writes.mkString("\n")}
        byte[] ${ev.value} = $result;
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchKey =
    copy(children = c)
}

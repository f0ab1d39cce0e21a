package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One band of the text-raster dHash ([[graft.ext.Dedup.dhashTextBands]])
  * as ONE codegen'd kernel: the first 72 code points of `text` read as a
  * 9×8 luma grid (row-major), band b covering rows 2b and 2b+1, bit
  * (r − 2b)·8 + c set iff cp(9r + c) < cp(9r + c + 1). The result is the
  * band's 16 bits in a LONG.
  *
  * Bit-identical to the column formulation it replaced, a sum of 16
  * `when(px(i) < px(i+1), bit).otherwise(0)` terms over
  * `px(i) = ascii(substring(text, i, 1))`: the same UTF-8 character walk
  * as `UTF8String.substring`, the same first-code-point decode as `ascii`,
  * a missing code point reads 0, and null text gives 0 (the old `when`
  * never returned null). DhashKernelSpec asserts equality per band and
  * row on both expression paths. A final UTF-8 sequence truncated by the
  * end of the string is decoded within the string's bytes, where
  * `substring` copies past them; valid UTF-8 cannot hold one.
  *
  * Why an Expression: the column formulation put 128 `substring` calls in
  * the four bands, and Spark regenerated their Java source on every
  * execution (the codegen cache spares only the compile). On the dHash
  * exact-collapse pins that generation outweighed the stage jobs
  * themselves. This kernel is one character walk per band.
  */
case class DhashBand(child: Expression, band: Int) extends UnaryExpression {
  require(band >= 0 && band < DhashBand.Bands, s"invalid dHash band $band")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dhash_band"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    DhashBand.bits(child.eval(input).asInstanceOf[UTF8String], band)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = graft.functions.DhashBand.bits(
        ${c.isNull} ? null : ${c.value}, $band);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DhashBand {
  /** Raster geometry: 9 cells per row, 8 rows, 4 bands of 2 rows each. */
  val Width = 9
  val Height = 8
  val Bands = 4
  private val RowsPerBand = Height / Bands

  /** Shared by interpreted eval and generated code. */
  def bits(u: UTF8String, band: Int): Long = {
    if (u == null) return 0L
    val n = u.numBytes
    var pos = 0
    // skip to the band's first cell, one UTF-8 character at a time
    var skip = band * RowsPerBand * Width
    while (skip > 0 && pos < n) {
      pos += UTF8String.numBytesForFirstByte(u.getByte(pos))
      skip -= 1
    }
    var v = 0L
    var prev = 0
    var k = 0
    while (k < RowsPerBand * Width) {
      val cp =
        if (pos >= n) 0
        else {
          val first = u.getByte(pos)
          val len = UTF8String.numBytesForFirstByte(first)
          val c =
            if (first >= 0) first.toInt
            else UTF8String.fromAddress(u.getBaseObject, u.getBaseOffset + pos,
              math.min(len, n - pos)).toString.codePointAt(0)
          pos += len
          c
        }
      val cell = k % Width
      if (cell > 0 && prev < cp) v |= 1L << ((k / Width) * (Width - 1) + cell - 1)
      prev = cp
      k += 1
    }
    v
  }

  /** Column-level handle. */
  def bandCol(text: Column, band: Int): Column =
    GraftBridge.column(DhashBand(GraftBridge.expression(text), band))
}

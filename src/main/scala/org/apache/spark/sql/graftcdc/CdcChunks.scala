package org.apache.spark.sql.graftcdc

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The arithmetic of [[CdcChunks]]. Interpreted `eval` and generated
  * code both call [[chunks]], so the two paths cannot drift.
  */
object CdcKernel {
  /** The class generated code calls [[chunks]] through (a static forwarder). */
  private[graftcdc] val javaName: String = getClass.getName.stripSuffix("$")

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The content-defined chunks of `text`, one struct (chunk_idx,
    * chunk_start, chunk_len) per non-empty chunk, in one pass over
    * its characters; null for a null text.
    *
    * Positions count code points, as Spark's `length` and
    * `substring` do. A boundary candidate is every b in [w, n) whose
    * window, the w code points ending at b, has an md5 (over its
    * UTF-8 bytes) whose first 48 bits are ≡ 0 (mod `mask` + 1).
    * Walking the candidates in order from the cut at 0, a candidate
    * at least `minLen` past the last cut is kept; when it is more
    * than `maxLen` past, cuts are first forced at last + maxLen,
    * last + 2·maxLen, … up to b − 1 and the candidate is then kept
    * only if it is `minLen` past the last forced cut. After the last
    * candidate the same forced cuts fill the tail, and the text's end
    * closes the final chunk. Chunk i spans cut i to cut i + 1. A
    * candidate closer than `minLen` to the last cut can change
    * nothing, so its md5 is never taken.
    */
  def chunks(text: UTF8String, w: Int, mask: Int, minLen: Int, maxLen: Int): ArrayData = {
    if (text == null) return null
    val bytes = text.getBytes
    val nb = bytes.length
    // offs(k): the byte offset of code point k, stepped as
    // UTF8String.numChars and substring step; offs(n) = end
    val offs = new Array[Int](nb + 1)
    var n = 0
    var at = 0
    while (at < nb) {
      offs(n) = at
      n += 1
      at += UTF8String.numBytesForFirstByte(bytes(at))
    }
    offs(n) = math.min(at, nb)
    val m = mask + 1L
    val md = md5.get()
    val digest = new Array[Byte](16)
    val cuts = new Cuts
    var b = w
    while (b < n) {
      if (b - cuts.last >= minLen) {
        md.update(bytes, offs(b - w), offs(b) - offs(b - w))
        md.digest(digest, 0, 16)
        var h = 0L
        var k = 0
        while (k < 6) { h = (h << 8) | (digest(k) & 0xffL); k += 1 }
        if (h % m == 0) {
          while (b - cuts.last > maxLen) cuts.at(cuts.last + maxLen)
          if (b - cuts.last >= minLen) cuts.at(b)
        }
      }
      b += 1
    }
    while (n - cuts.last > maxLen) cuts.at(cuts.last + maxLen)
    cuts.at(n)
    new GenericArrayData(cuts.rows.toArray)
  }

  /** The cuts made so far, as the chunks they close. */
  private final class Cuts {
    val rows = new scala.collection.mutable.ArrayBuffer[Any]()
    var last = 0L
    private var idx = 0L

    /** Cut at `c`, closing the chunk [last, c); an empty one is dropped. */
    def at(c: Long): Unit = {
      if (c > last) rows += InternalRow(idx, last, c - last)
      idx += 1
      last = c
    }
  }
}

/** cdc_chunks(text): the content-defined chunk table of one text as
  * `array<struct<chunk_idx, chunk_start, chunk_len>>`
  * ([[CdcKernel.chunks]]): boundary hashing, the LBFS min-length
  * rule, max-length forced cuts and the slicing into chunks, in one
  * primitive loop instead of a lambda per character position.
  * `minLen` = 1 with `maxLen` = Int.MaxValue is the plain residue
  * rule.
  */
case class CdcChunks(text: Expression, w: Int, mask: Int, minLen: Int, maxLen: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(w >= 2, s"window must be >= 2, got $w")
  require(mask >= 1, s"mask must be >= 1, got $mask")
  require(minLen >= 1, s"minLen must be >= 1, got $minLen")
  require(maxLen >= minLen, s"maxLen $maxLen must be >= minLen $minLen")

  override def child: Expression = text
  override def prettyName: String = "cdc_chunks"
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_idx", LongType, nullable = false),
    StructField("chunk_start", LongType, nullable = true),
    StructField("chunk_len", LongType, nullable = true))), containsNull = false)

  override def nullSafeEval(t: Any): Any =
    CdcKernel.chunks(t.asInstanceOf[UTF8String], w, mask, minLen, maxLen)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"${CdcKernel.javaName}.chunks($t, $w, $mask, $minLen, $maxLen)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(text = c)
}

/** Column-level entry point for [[CdcChunks]]. */
object CdcFunctions {
  import org.apache.spark.sql.classic.ExpressionUtils

  def cdcChunks(text: Column, w: Int, mask: Int, minLen: Int, maxLen: Int): Column =
    ExpressionUtils.column(CdcChunks(ExpressionUtils.expression(text), w, mask, minLen, maxLen))
}

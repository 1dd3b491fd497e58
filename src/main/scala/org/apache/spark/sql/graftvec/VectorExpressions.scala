package org.apache.spark.sql.graftvec

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType,
  IntegerType, LongType}

/** Native Catalyst vector primitives (SURVEY §2.4 row 29).
  *
  * Why a custom Expression instead of `zip_with` + `aggregate`: the
  * higher-order-function composition builds an intermediate array and
  * evaluates a lambda per element per row; at 100 TB of 64-float
  * embeddings that is the hot path. These expressions generate a
  * tight primitive loop inside whole-stage codegen — no lambda
  * dispatch, no intermediate ArrayData allocation.
  *
  * Math is fixed left-to-right double accumulation, so results are
  * bit-deterministic and engine-comparable.
  */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType

  /** Mismatched lengths compute over the common prefix — total and
    * identical in interpreted and codegen paths (dimension mismatch
    * is a data bug upstream; a silent null would hide it no better).
    */
  protected def compute(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Java loop body: given array vars `a`, `b` and length var `n`,
    * assign the result to `ev.value`.
    */
  protected def genLoop(a: String, b: String, n: String, result: String): String

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |${genLoop(a, b, n, ev.value)}
       """.stripMargin
    })
}

/** dot(a, b) = Σ aᵢ·bᵢ in left-to-right double accumulation. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def genLoop(a: String, b: String, n: String, result: String): String =
    s"""
       |double acc = 0.0;
       |for (int i = 0; i < $n; i++) {
       |  acc += ((double) $a.getFloat(i)) * ((double) $b.getFloat(i));
       |}
       |$result = acc;
     """.stripMargin

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot / (‖a‖·‖b‖); 0.0 when either norm is zero. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.numElements(), b.numElements())
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def genLoop(a: String, b: String, n: String, result: String): String =
    s"""
       |double dot = 0.0, na = 0.0, nb = 0.0;
       |for (int i = 0; i < $n; i++) {
       |  double x = (double) $a.getFloat(i);
       |  double y = (double) $b.getFloat(i);
       |  dot += x * y; na += x * x; nb += y * y;
       |}
       |$result = (na == 0.0 || nb == 0.0) ? 0.0 : dot / (Math.sqrt(na) * Math.sqrt(nb));
     """.stripMargin

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level entry points for the native vector expressions. */
object VectorFunctions {
  import org.apache.spark.sql.classic.ExpressionUtils

  def vecDot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def vecCosine(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Euclidean norm via the dot-product kernel. */
  def vecNorm(a: Column): Column = org.apache.spark.sql.functions.sqrt(vecDot(a, a))

  /** The m PQ codes of each embedding against `books` ([[PqCodes]]). */
  def pqCodes(emb: Column, books: Seq[Seq[Seq[Float]]]): Column =
    ExpressionUtils.column(PqCodes(ExpressionUtils.expression(emb), PqCodebook(books)))

  /** `vec` times the matrix whose rows are `rows`, one float per row ([[MatVec]]). */
  def vecMatVec(vec: Column, rows: Seq[Seq[Float]]): Column =
    ExpressionUtils.column(MatVec(ExpressionUtils.expression(vec), FloatRows(rows)))

  /** Σ_s table[s·ksub + code_s] ([[AdcSum]]). */
  def adcSum(codes: Column, table: Column, ksub: Int): Column =
    ExpressionUtils.column(
      AdcSum(ExpressionUtils.expression(codes), ExpressionUtils.expression(table), ksub))
}

/** A dense float matrix of `rows` rows of `cols` floats, flattened
  * row-major into `values`, shipped to generated code as one reference
  * object. Equality is by content, so two plans over one matrix
  * compare equal; `toString` names the shape only, so no plan string
  * carries the floats.
  */
final class FloatRows private (val rows: Int, val cols: Int, val values: Array[Float])
    extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case b: FloatRows => rows == b.rows && cols == b.cols && java.util.Arrays.equals(values, b.values)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(values)
  override def toString: String = s"matrix($rows x $cols)"
}

object FloatRows {
  /** The rows of `m`, which must be non-empty and rectangular. */
  def apply(m: Seq[Seq[Float]]): FloatRows = {
    require(m.nonEmpty && m.forall(_.size == m.head.size),
      s"a matrix needs rows of one length, got lengths ${m.map(_.size).distinct}")
    new FloatRows(m.size, m.head.size, m.flatten.toArray)
  }
}

/** A product-quantization codebook laid out for [[PqCodes]]: m
  * subspaces of ksub centroids of dsub floats, centroid (s, k) being
  * row `s·ksub + k` of `centroids`, plus its ‖c‖²/2 at `s·ksub + k`
  * in `bias`.
  */
final class PqCodebook private (val m: Int, val ksub: Int, val centroids: FloatRows,
                                val bias: Array[Double]) extends Serializable {
  def dsub: Int = centroids.cols
  override def equals(o: Any): Boolean = o match {
    case b: PqCodebook => m == b.m && ksub == b.ksub && centroids == b.centroids &&
      java.util.Arrays.equals(bias, b.bias)
    case _ => false
  }
  override def hashCode: Int = centroids.hashCode
  override def toString: String = s"codebook(m=$m, ksub=$ksub, dsub=$dsub)"
}

object PqCodebook {
  /** Flatten `books` (book s, centroid k, component j), which must be
    * rectangular: every book has the first book's centroid count and
    * every centroid the first centroid's length. Each ‖c‖²/2 is
    * computed here, on the driver. */
  def apply(books: Seq[Seq[Seq[Float]]]): PqCodebook = {
    val ksub = books.head.size
    require(books.forall(_.size == ksub),
      s"a PQ codebook needs $ksub centroids in every book, got ${books.map(_.size).distinct}")
    new PqCodebook(books.size, ksub, FloatRows(books.flatten),
      books.flatMap(_.map(c => c.map(x => x.toDouble * x).sum / 2.0)).toArray)
  }
}

/** The arithmetic of [[PqCodes]], [[AdcSum]] and [[MatVec]].
  * Interpreted `eval` and generated code both call these, so the two
  * paths cannot drift.
  */
object VectorKernels {
  /** The class generated code calls these through (a static forwarder). */
  private[graftvec] val javaName: String = getClass.getName.stripSuffix("$")

  /** The m codes of `x`: per subspace s, the first k maximizing
    * dot(x_s, c_{s,k}) − bias_{s,k}. x_s is x's slice [s·dsub,
    * s·dsub + dsub) cut to x's length (a short vector scores its
    * common prefix; a subspace past its end scores 0 − bias), each
    * dot accumulates left to right in double, a null component
    * reads 0.0, and scores compare as `array_max` does: NaN above
    * every number, −0.0 equal to 0.0, the lowest code winning a tie.
    * A null `x` yields m null codes.
    */
  def encode(x: ArrayData, book: PqCodebook): ArrayData = {
    import book._
    val codes = UnsafeArrayData.fromPrimitiveArray(new Array[Long](m))
    if (x == null) return allNull(codes)
    val n = x.numElements()
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) { if (!x.isNullAt(i)) xs(i) = x.getFloat(i).toDouble; i += 1 }
    var s = 0
    while (s < m) {
      val off = s * dsub
      val len = math.max(0, math.min(dsub, n - off))
      var best = 0
      var bestScore = 0.0
      var k = 0
      while (k < ksub) {
        val c = (s * ksub + k) * dsub
        var acc = 0.0
        var j = 0
        while (j < len) { acc += xs(off + j) * centroids.values(c + j).toDouble; j += 1 }
        val score = acc - bias(s * ksub + k)
        if (k == 0 || SQLOrderingUtil.compareDoubles(score, bestScore) > 0) {
          best = k
          bestScore = score
        }
        k += 1
      }
      codes.setLong(s, best)
      s += 1
    }
    codes
  }

  /** `array(CAST(vec_dot(x, r_j) AS FLOAT) for each row r_j of r)`:
    * each dot over the common prefix of x and the row, accumulated left
    * to right in double and components read as `vec_dot` reads them; a
    * null `x` yields one null per row.
    */
  def matVec(x: ArrayData, r: FloatRows): ArrayData = {
    val out = UnsafeArrayData.fromPrimitiveArray(new Array[Float](r.rows))
    if (x == null) return allNull(out)
    val n = math.min(x.numElements(), r.cols)
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = x.getFloat(i).toDouble; i += 1 }
    var j = 0
    while (j < r.rows) {
      val off = j * r.cols
      var acc = 0.0
      i = 0
      while (i < n) { acc += xs(i) * r.values(off + i).toDouble; i += 1 }
      out.setFloat(j, acc.toFloat)
      j += 1
    }
    out
  }

  private def allNull(a: UnsafeArrayData): UnsafeArrayData = {
    var i = 0
    while (i < a.numElements()) { a.setNullAt(i); i += 1 }
    a
  }

  /** Σ_s table[s·ksub + code_s] over every code, from 0.0 left to
    * right; null when a code or a looked-up entry is null. Each lookup
    * is `element_at(table, CAST(s·ksub + code_s + 1 AS INT))` under
    * `failOnError` (the session's ANSI mode): an index past either
    * end throws `INVALID_ARRAY_INDEX_IN_ELEMENT_AT` or reads null, a
    * negative one counts from the end, 0 always throws, and a
    * position beyond int range overflows the cast.
    */
  def adcSum(codes: ArrayData, table: ArrayData, ksub: Int, failOnError: Boolean): java.lang.Double = {
    val n = table.numElements()
    var acc = 0.0
    var isNull = false
    var s = 0
    while (s < codes.numElements()) {
      if (codes.isNullAt(s)) isNull = true
      else {
        val pos = s.toLong * ksub + codes.getLong(s) + 1
        if (pos.toInt != pos && failOnError) {
          throw QueryExecutionErrors.castingCauseOverflowError(pos, LongType, IntegerType)
        }
        val idx = pos.toInt
        if (idx == 0) throw QueryExecutionErrors.invalidIndexOfZeroError(null)
        val i = if (idx > 0) idx - 1 else n + idx
        if (i < 0 || i >= n) {
          if (failOnError) throw QueryExecutionErrors.invalidElementAtIndexError(idx, n, null)
          isNull = true
        } else if (table.isNullAt(i)) isNull = true
        else acc += table.getDouble(i)
      }
      s += 1
    }
    if (isNull) null else acc
  }
}

/** pq_codes(embedding): all m product-quantization codes of one vector
  * in one primitive loop ([[VectorKernels.encode]]), the codebook shipped
  * once per task as a reference object rather than as a plan literal.
  */
case class PqCodes(embedding: Expression, codebook: PqCodebook)
    extends UnaryExpression with ExpectsInputTypes {
  override def child: Expression = embedding
  override def prettyName: String = "pq_codes"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    VectorKernels.encode(embedding.eval(input).asInstanceOf[ArrayData], codebook)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val book = ctx.addReferenceObj("codebook", codebook, classOf[PqCodebook].getName)
    val x = embedding.genCode(ctx)
    ev.copy(code = code"""
      |${x.code}
      |ArrayData ${ev.value} = ${VectorKernels.javaName}.encode(
      |  ${x.isNull} ? null : ${x.value}, $book);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(embedding = c)
}

/** vec_matvec(vector): the vector times a fixed matrix, one float per
  * matrix row, in one primitive loop ([[VectorKernels.matVec]]), the
  * matrix shipped once per task as a reference object. The same values
  * and type as one `CAST(vec_dot(vector, row) AS FLOAT)` per row in an
  * `array(…)`.
  */
case class MatVec(vector: Expression, matrix: FloatRows)
    extends UnaryExpression with ExpectsInputTypes {
  override def child: Expression = vector
  override def prettyName: String = "vec_matvec"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = vector.nullable)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    VectorKernels.matVec(vector.eval(input).asInstanceOf[ArrayData], matrix)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("matrix", matrix, classOf[FloatRows].getName)
    val x = vector.genCode(ctx)
    ev.copy(code = code"""
      |${x.code}
      |ArrayData ${ev.value} = ${VectorKernels.javaName}.matVec(
      |  ${x.isNull} ? null : ${x.value}, $m);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(vector = c)
}

/** adc_sum(codes, table): Σ_s table[s·ksub + code_s], the lookup every
  * asymmetric-distance PQ score is assembled from ([[VectorKernels.adcSum]]).
  */
case class AdcSum(codes: Expression, table: Expression, ksub: Int,
                  failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = codes
  override def right: Expression = table
  override def prettyName: String = "adc_sum"
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(c: Any, t: Any): Any =
    VectorKernels.adcSum(c.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData], ksub, failOnError)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) => {
      val sum = ctx.freshName("sum")
      s"""
         |Double $sum = ${VectorKernels.javaName}.adcSum($c, $t, $ksub, $failOnError);
         |if ($sum == null) { ${ev.isNull} = true; } else { ${ev.value} = $sum; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(codes = l, table = r)
}

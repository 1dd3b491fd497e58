package graft.functions

import org.apache.spark.sql.Column

/** Public entry points for the native vector expressions.
  *
  * The Catalyst implementations live in
  * `org.apache.spark.sql.graftvec` because `ExpectsInputTypes` /
  * `ExpressionUtils` are `private[sql]` — the standard placement for
  * Spark extension libraries that ship codegen expressions.
  */
object VectorFunctions {
  def vecDot(a: Column, b: Column): Column = org.apache.spark.sql.graftvec.VectorFunctions.vecDot(a, b)
  def vecCosine(a: Column, b: Column): Column = org.apache.spark.sql.graftvec.VectorFunctions.vecCosine(a, b)
  def vecNorm(a: Column): Column = org.apache.spark.sql.graftvec.VectorFunctions.vecNorm(a)
  def pqCodes(emb: Column, books: Seq[Seq[Seq[Float]]]): Column =
    org.apache.spark.sql.graftvec.VectorFunctions.pqCodes(emb, books)
  def vecMatVec(vec: Column, rows: Seq[Seq[Float]]): Column =
    org.apache.spark.sql.graftvec.VectorFunctions.vecMatVec(vec, rows)
  def adcSum(codes: Column, table: Column, ksub: Int): Column =
    org.apache.spark.sql.graftvec.VectorFunctions.adcSum(codes, table, ksub)
}

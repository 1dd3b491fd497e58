package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.{adcSum, pqCodes, vecDot, vecMatVec}

/** The expression forms that the native PQ kernels replaced, kept
  * verbatim as the differential oracle: `pqCodes` ships the codebook
  * as a 3-D plan literal and argmaxes each subspace inside
  * `transform`; `adcLookup` is the SQL `aggregate(sequence…)` over
  * `element_at` on a `codes` column; `rotate` is one plan-literal
  * `vec_dot` per matrix row.
  */
object PqHofOracle {
  def pqCodes(embCol: Column, books: Seq[Seq[Seq[Float]]]): Column = {
    val m = books.size
    val dsub = books.head.head.size
    val booksLit = typedlit(books)
    val biasLit = typedlit(books.map(_.map(c => c.map(x => x.toDouble * x).sum / 2.0)))
    transform(sequence(lit(0), lit(m - 1)), s => {
      val sub = slice(embCol, s * dsub + 1, lit(dsub))
      val scores = zip_with(element_at(booksLit, s + 1), element_at(biasLit, s + 1),
        (c, b) => vecDot(sub, c) - b)
      array_position(scores, array_max(scores)) - 1
    })
  }

  def rotate(emb: Column, r: Seq[Seq[Float]]): Column =
    array(r.map(row => vecDot(emb, typedlit(row)).cast("float")): _*)

  def adcLookup(name: String, mEff: Int, kEff: Int): Column = expr(
    s"""aggregate(sequence(0, ${mEff - 1}), CAST(0.0 AS DOUBLE),
       |  (acc, s) -> acc + element_at($name, CAST(s * $kEff + element_at(codes, s + 1) + 1 AS INT)))
       |""".stripMargin.replaceAll("\n", " "))
}

/** The native `pq_codes` / `adc_sum` / `vec_matvec` kernels against [[PqHofOracle]],
  * row for row and schema for schema, under whole-stage codegen and
  * under fully interpreted evaluation. Inputs go through parquet so
  * the kernels read the scan's own array layout and no optimizer rule
  * folds a local relation away before execution.
  */
class PqKernelSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true)))

  private def parquet(rows: Seq[Row], schema: StructType): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("pq-kernel-").toString + "/t"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(2)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def embeddings(rows: Seq[(Long, Seq[java.lang.Float])]): DataFrame =
    parquet(rows.map { case (id, e) => Row(id, e) }, embSchema)

  private def withConf[A](kv: Seq[(String, String)])(body: => A): A = {
    val conf = spark.conf
    val old = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Run `body` under whole-stage codegen, then fully interpreted. */
  private def bothModes(body: Boolean => Unit): Unit = {
    body(true)
    withConf(Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))(body(false))
  }

  private def assertStage(df: DataFrame, kernel: String, codegen: Boolean): Unit = {
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains(kernel))
    assert(line.nonEmpty, s"$kernel missing from the plan:\n$p")
    assert(line.get.contains("*(") == codegen,
      s"$kernel ${if (codegen) "outside" else "inside"} whole-stage codegen:\n$p")
  }

  /** Native and oracle codes of `emb` agree row for row, with equal schemas. */
  private def assertCodesMatch(emb: DataFrame, books: Seq[Seq[Seq[Float]]], what: String): Unit =
    bothModes { codegen =>
      val native = emb.select(col("vec_id"), pqCodes(col("embedding"), books).as("codes"))
      val oracle = emb.select(col("vec_id"), PqHofOracle.pqCodes(col("embedding"), books).as("codes"))
      assert(native.schema == oracle.schema, s"$what: schema")
      val got = native.orderBy("vec_id").collect().toSeq
      val want = oracle.orderBy("vec_id").collect().toSeq
      assert(got.size == want.size && got.nonEmpty, s"$what: row count")
      got.zip(want).foreach { case (g, w) => assert(g == w, s"$what (codegen=$codegen): $g vs $w") }
      assertStage(native, "pq_codes", codegen)
    }

  private def gaussianBooks(rnd: scala.util.Random, m: Int, ksub: Int,
                            dsub: Int): Seq[Seq[Seq[Float]]] =
    Seq.fill(m, ksub, dsub)(rnd.nextGaussian().toFloat)

  private def gaussianRows(rnd: scala.util.Random, n: Int, dim: Int): Seq[(Long, Seq[java.lang.Float])] =
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(java.lang.Float.valueOf(rnd.nextGaussian().toFloat))))

  private def boxed(xs: Float*): Seq[java.lang.Float] = xs.map(java.lang.Float.valueOf)

  test("pq_codes == HOF encode on seeded random corpora, codegen and interpreted") {
    for (((m, ksub, dsub), seed) <- Seq((16, 16, 4), (8, 16, 8), (3, 5, 7), (1, 1, 2)).zipWithIndex) {
      val rnd = new scala.util.Random(7000L + seed)
      val books = gaussianBooks(rnd, m, ksub, dsub)
      assertCodesMatch(embeddings(gaussianRows(rnd, 300, m * dsub)), books,
        s"m=$m ksub=$ksub dsub=$dsub")
    }
  }

  test("pq_codes == HOF encode on ties, NaN, ±0.0, short and long vectors, nulls, short books") {
    val rnd = new scala.util.Random(77L)
    val (m, ksub, dsub) = (4, 6, 3)
    val base = gaussianBooks(rnd, m, ksub, dsub)
    // duplicate centroids (codes 1 and 4 equal 0 and 2), one book of
    // identical centroids, one all-zero and one negative-zero centroid
    val ties = base.zipWithIndex.map { case (book, s) =>
      if (s == 3) Seq.fill(ksub)(book.head)
      else book.updated(1, book(0)).updated(4, book(2))
        .updated(5, if (s == 0) Seq.fill(dsub)(0.0f) else Seq.fill(dsub)(-0.0f))
    }
    // a NaN component in one centroid of subspace 2
    val withNaN = ties.updated(2, ties(2).updated(3, Seq(1.0f, Float.NaN, 0.5f)))
    val short = base.map(_.take(2)) // kEff = 2 < ksub
    val dim = m * dsub
    val rows: Seq[(Long, Seq[java.lang.Float])] =
      gaussianRows(rnd, 40, dim) ++ Seq(
        100L -> Seq.fill(dim)(java.lang.Float.valueOf(0.0f)),
        101L -> Seq.fill(dim)(java.lang.Float.valueOf(-0.0f)),
        102L -> boxed(Seq.tabulate(dim)(i => if (i % 2 == 0) 0.0f else -0.0f): _*),
        103L -> boxed(Seq.tabulate(dim)(i => if (i == 4) Float.NaN else i.toFloat): _*),
        104L -> boxed(Seq.tabulate(dim)(i => if (i == 0) Float.PositiveInfinity else 1.0f): _*),
        105L -> Seq.empty,
        106L -> boxed(1.5f),
        107L -> boxed(Seq.tabulate(dsub - 1)(_.toFloat): _*),
        108L -> boxed(Seq.tabulate(dsub + 1)(i => -i.toFloat): _*),
        109L -> boxed(Seq.tabulate(dim - 1)(i => (i % 3).toFloat): _*),
        110L -> boxed(Seq.tabulate(dim + 5)(i => (i % 4).toFloat - 1.5f): _*),
        111L -> null,
        112L -> (null +: boxed(Seq.tabulate(dim - 1)(_.toFloat): _*)),
        113L -> boxed(Seq.tabulate(dim)(_.toFloat): _*).updated(5, null),
        114L -> Seq.fill[java.lang.Float](dim)(null),
        // an exact copy of a duplicated centroid row: a score tie on
        // purpose, lowest code must win
        115L -> boxed(ties.flatMap(_.head): _*),
        116L -> boxed(ties.flatMap(_(2)): _*))
    val emb = embeddings(rows)
    assertCodesMatch(emb, ties, "duplicate centroids")
    assertCodesMatch(emb, withNaN, "NaN centroid")
    assertCodesMatch(emb, short, "short codebook")
  }

  test("pq_codes: a null embedding yields m null codes, as the HOF form did") {
    val books = gaussianBooks(new scala.util.Random(5L), 3, 4, 2)
    val got = embeddings(Seq(1L -> null)).select(pqCodes(col("embedding"), books)).head()
    assert(!got.isNullAt(0) && got.getSeq[java.lang.Long](0) == Seq(null, null, null))
  }

  test("pq_codes: a ragged codebook is refused at construction") {
    val shortCentroid = Seq(Seq(Seq(1.0f, 2.0f), Seq(3.0f)))
    assert(intercept[IllegalArgumentException](pqCodes(col("embedding"), shortCentroid))
      .getMessage.contains("rows of one length"))
    val shortBook = Seq(Seq(Seq(1.0f), Seq(2.0f)), Seq(Seq(3.0f)))
    assert(intercept[IllegalArgumentException](pqCodes(col("embedding"), shortBook))
      .getMessage.contains("centroids in every book"))
  }

  test("vec_matvec == one cast vec_dot per row, square and rectangular, nullable or not, under both ANSI modes") {
    val rnd = new scala.util.Random(4242L)
    val dim = 16
    val square = Seq.fill(dim, dim)(rnd.nextGaussian().toFloat)
    val wide = Seq.fill(5, dim)(rnd.nextGaussian().toFloat)
    val huge = Seq.fill(3, dim)(3e38f)
    val emb = embeddings(gaussianRows(rnd, 60, dim) ++ Seq(
      100L -> Seq.fill(dim)(java.lang.Float.valueOf(-0.0f)),
      101L -> boxed(Seq.tabulate(dim)(i => if (i == 3) Float.NaN else 1.0f): _*),
      102L -> boxed(Seq.tabulate(dim)(i => if (i == 0) Float.NegativeInfinity else 2.0f): _*),
      103L -> Seq.fill(dim)(java.lang.Float.valueOf(3e38f)),
      104L -> Seq.empty,
      105L -> boxed(1.0f, 2.0f, 3.0f),
      106L -> boxed(Seq.tabulate(dim + 4)(_.toFloat): _*),
      107L -> null,
      108L -> boxed(Seq.tabulate(dim)(_.toFloat): _*).updated(2, null)))
    val nonNull = coalesce(col("embedding"), typedlit(Seq.empty[Float]))
    for (ansi <- Seq("true", "false")) withConf(Seq("spark.sql.ansi.enabled" -> ansi)) {
      bothModes { codegen =>
        for ((r, what) <- Seq(square -> "square", wide -> "5x16", huge -> "overflowing");
             (x, xName) <- Seq(col("embedding") -> "nullable", nonNull -> "non-null")) {
          val native = emb.select(col("vec_id"), vecMatVec(x, r).as("y"))
          val oracle = emb.select(col("vec_id"), PqHofOracle.rotate(x, r).as("y"))
          val tag = s"$what $xName ansi=$ansi codegen=$codegen"
          assert(native.schema == oracle.schema, tag)
          def floats(df: DataFrame) = df.orderBy("vec_id").collect().toSeq.map(row =>
            row.getLong(0) -> Option(row.getSeq[java.lang.Float](1))
              .map(_.map(f => Option(f).map(v => java.lang.Float.floatToRawIntBits(v)))))
          assert(floats(native) == floats(oracle), tag)
          assertStage(native, "vec_matvec", codegen)
        }
      }
    }
  }

  private val adcSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("codes", ArrayType(LongType, containsNull = true), nullable = true),
    StructField("tbl", ArrayType(DoubleType, containsNull = true), nullable = true)))

  private def bits(r: Row): (Long, Option[Long]) =
    r.getLong(0) -> (if (r.isNullAt(1)) None
    else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))

  test("adc_sum == HOF aggregate(sequence…) on encoded corpora and special tables") {
    val rnd = new scala.util.Random(99L)
    val (m, ksub, dsub) = (16, 16, 4)
    val books = gaussianBooks(rnd, m, ksub, dsub)
    val codes = embeddings(gaussianRows(rnd, 200, m * dsub))
      .select(col("vec_id"), pqCodes(col("embedding"), books).as("codes"))
      .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1))
    def table(i: Int): Seq[java.lang.Double] = i % 5 match {
      case 0 => Seq.fill(m * ksub)(java.lang.Double.valueOf(rnd.nextGaussian()))
      case 1 => Seq.tabulate(m * ksub)(j => java.lang.Double.valueOf(if (j % 2 == 0) -0.0 else 0.0))
      case 2 => Seq.tabulate(m * ksub)(j => java.lang.Double.valueOf(if (j == 17) Double.NaN else j * 1e300))
      case 3 => Seq.tabulate(m * ksub)(j => if (j % 7 == 0) null else java.lang.Double.valueOf(j * 0.1))
      case _ => Seq.tabulate(m * ksub)(j => java.lang.Double.valueOf(1.0 / (j + 1)))
    }
    val rows = codes.toSeq.zipWithIndex.map { case ((id, cs), i) => Row(id, cs, table(i)) } ++
      Seq(Row(1000L, null, table(0)), Row(1001L, codes.head._2, null),
        Row(1002L, codes.head._2.updated(3, null), table(4)))
    val df = parquet(rows, adcSchema)
    bothModes { codegen =>
      val native = df.select(col("vec_id"), adcSum(col("codes"), col("tbl"), ksub).as("s"))
      val oracle = df.select(col("vec_id"), PqHofOracle.adcLookup("tbl", m, ksub).as("s"))
      assert(native.schema == oracle.schema)
      val got = native.orderBy("vec_id").collect().map(bits).toSeq
      val want = oracle.orderBy("vec_id").collect().map(bits).toSeq
      assert(got == want, s"codegen=$codegen")
      assert(got.count(_._2.isEmpty) >= 3, "null codes, tables and entries must read null")
      assertStage(native, "adc_sum", codegen)
    }
  }

  /** One code row against a 2×3 table, evaluated by both forms: the
    * value bits, or the error condition the query failed with. */
  private def adcOutcomes(codes: Seq[java.lang.Long]): (Either[String, Option[Long]],
      Either[String, Option[Long]]) = {
    val df = parquet(Seq(Row(0L, codes, Seq(1.0, 2.0, 4.0, 8.0, 16.0, 32.0).map(Double.box))),
      adcSchema)
    def outcome(c: Column): Either[String, Option[Long]] =
      try Right(bits(df.select(col("vec_id"), c).head())._2)
      catch {
        case e: Throwable =>
          val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          Left(chain.collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
            .getOrElse(e.getClass.getName))
      }
    (outcome(adcSum(col("codes"), col("tbl"), 3)), outcome(PqHofOracle.adcLookup("tbl", 2, 3)))
  }

  test("adc_sum: out-of-range codes behave as element_at does under the session's ANSI mode") {
    val cases = Seq[Seq[java.lang.Long]](
      Seq(0L, 2L), // in range: 1 + 32
      Seq(0L, 3L), // one past the end
      Seq(2L, -5L), // negative index within range: counts from the end
      Seq(0L, -100L), // negative, past the start
      Seq(-1L, 0L), // index 0
      Seq(0L, 3000000000L), // position beyond int range
      Seq(null, 1L))
    for (ansi <- Seq("true", "false")) withConf(Seq("spark.sql.ansi.enabled" -> ansi)) {
      bothModes { codegen =>
        val outcomes = cases.map(adcOutcomes)
        outcomes.zip(cases).foreach { case ((got, want), c) =>
          assert(got == want, s"codes $c ansi=$ansi codegen=$codegen")
        }
        assert(outcomes.head._1 == Right(Some(java.lang.Double.doubleToRawLongBits(33.0))))
        val errors = outcomes.map(_._1).collect { case Left(cond) => cond }
        if (ansi == "true") {
          assert(errors.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"), outcomes)
          assert(errors.contains("CAST_OVERFLOW"), outcomes)
        } else assert(!errors.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"), outcomes)
        assert(errors.contains("INVALID_INDEX_OF_ZERO"), outcomes)
      }
    }
  }
}

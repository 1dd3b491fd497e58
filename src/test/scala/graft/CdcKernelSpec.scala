package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The SQL-string CDC chunk tables that the native `cdc_chunks`
  * kernel replaced, kept verbatim as the differential oracle: the
  * md5 boundary `filter` over every position, the `aggregate` folds
  * of the min-length and clamped forms, and the `transform`/`filter`
  * consecutive-cut slicing.
  */
object CdcSqlOracle {
  private def bnds(w: Int, mask: Int): String =
    s"filter(sequence(${w}L, length(text)), i -> " +
      s"pmod(CAST(conv(substring(md5(substring(text, CAST(i - $w + 1 AS INT), $w)), 1, 12), 16, 10) AS BIGINT), ${mask + 1}) = 0)"

  private val chunks = "filter(transform(sequence(1, size(cuts) - 1), j -> " +
    "struct(CAST(j - 1 AS BIGINT) AS chunk_idx, " +
    "element_at(cuts, j) AS chunk_start, " +
    "element_at(cuts, j + 1) - element_at(cuts, j) AS chunk_len)), " +
    "c -> c.chunk_len > 0)"

  private def table(withCuts: DataFrame): DataFrame =
    withCuts
      .select(col("doc_id"), col("text"), explode(expr(chunks)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_start"),
        col("c.chunk_len"),
        md5(expr("substring(text, CAST(c.chunk_start + 1 AS INT), CAST(c.chunk_len AS INT))"))
          .as("chunk_md5"))

  def cdcChunks(documents: DataFrame, w: Int, mask: Int): DataFrame = {
    val cuts = s"concat(array(0L), filter(${bnds(w, mask)}, b -> b < length(text)), " +
      "array(CAST(length(text) AS BIGINT)))"
    table(documents.select(col("doc_id"), col("text"), expr(cuts).as("cuts")))
  }

  def cdcChunksMin(documents: DataFrame, w: Int, mask: Int, minLen: Int): DataFrame = {
    val folded = s"aggregate(filter(${bnds(w, mask)}, b -> b < length(text)), array(0L), " +
      s"(acc, b) -> IF(b - element_at(acc, -1) >= ${minLen}L, concat(acc, array(b)), acc))"
    val cuts = s"concat($folded, array(CAST(length(text) AS BIGINT)))"
    table(documents.select(col("doc_id"), col("text"), expr(cuts).as("cuts")))
  }

  def cdcChunksClamped(documents: DataFrame, w: Int, mask: Int, minLen: Int,
                       maxLen: Int): DataFrame = {
    val last = "element_at(acc, -1)"
    val forced = s"sequence($last + ${maxLen}L, b - 1, ${maxLen}L)"
    val newLast = s"($last + ${maxLen}L * ((b - 1 - $last) div ${maxLen}L))"
    val folded =
      s"aggregate(filter(${bnds(w, mask)}, b -> b < length(text)), array(0L), (acc, b) -> " +
        s"IF(b - $last > ${maxLen}L, " +
        s"IF(b - $newLast >= ${minLen}L, concat(acc, $forced, array(b)), concat(acc, $forced)), " +
        s"IF(b - $last >= ${minLen}L, concat(acc, array(b)), acc)))"
    val cuts =
      s"concat(CASE WHEN length(text) - element_at(fold0, -1) > ${maxLen}L " +
        s"THEN concat(fold0, sequence(element_at(fold0, -1) + ${maxLen}L, length(text) - 1, ${maxLen}L)) " +
        s"ELSE fold0 END, array(CAST(length(text) AS BIGINT)))"
    table(documents
      .select(col("doc_id"), col("text"), expr(folded).as("fold0"))
      .select(col("doc_id"), col("text"), expr(cuts).as("cuts")))
  }
}

/** `Dedup.cdcChunks`/`cdcChunksMin`/`cdcChunksClamped`, now one call
  * into the native `cdc_chunks` kernel each, against [[CdcSqlOracle]],
  * row for row and schema for schema, under whole-stage codegen and
  * under fully interpreted evaluation. Inputs go through parquet so
  * the kernel reads the scan's own strings and no optimizer rule
  * folds a local relation away before execution.
  */
class CdcKernelSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))

  private def documents(texts: Seq[String]): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("cdc-kernel-").toString + "/t"
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), docSchema).coalesce(2)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

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

  /** Native and oracle chunk tables agree row for row, with equal
    * schemas, and the native one runs `cdc_chunks` inside (or, with
    * codegen off, outside) a whole-stage codegen stage. */
  private def assertChunksMatch(docs: DataFrame, native: DataFrame => DataFrame,
                                oracle: DataFrame => DataFrame, what: String): Unit =
    bothModes { codegen =>
      val got = native(docs).orderBy("doc_id", "chunk_idx")
      val want = oracle(docs).orderBy("doc_id", "chunk_idx")
      assert(got.schema == want.schema, s"$what: schema ${got.schema} vs ${want.schema}")
      val g = got.collect().toSeq
      val w = want.collect().toSeq
      assert(g == w, s"$what (codegen=$codegen): ${g.diff(w).take(3)} vs ${w.diff(g).take(3)}")
      val p = got.queryExecution.executedPlan.toString
      val line = p.linesIterator.find(_.contains("cdc_chunks("))
      assert(line.nonEmpty, s"$what: cdc_chunks missing from the plan:\n$p")
      assert(line.get.contains("*(") == codegen, s"$what: codegen=$codegen\n$p")
      assert(!p.contains("lambdafunction"), s"$what: a lambda is left in the plan:\n$p")
    }

  /** Texts of `n` words from a small vocabulary, with repeated runs so
    * chunks recur across and within documents. */
  private def seededTexts(seed: Long, n: Int, alphabet: IndexedSeq[String]): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = IndexedSeq.fill(40)(Seq.fill(1 + rnd.nextInt(7))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val shared = Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    Seq.fill(n) {
      val words = Seq.fill(rnd.nextInt(400))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      if (rnd.nextBoolean()) words.take(rnd.nextInt(words.length + 1)) + shared + words else words
    }
  }

  private val ascii = ('a' to 'z').map(_.toString)
  // 2-, 3- and 4-byte UTF-8 code points (the last two are one code
  // point but two Java chars each)
  private val mixed = ascii.take(10) ++ Seq("é", "ß", "ж", "€", "中", "文", "😀", "𝄞")

  private val edgeTexts = Seq(null, "", "x", "abcdefg", "abcdefgh", "abcdefghi", "€😀中",
    "😀" * 9, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")

  private lazy val corpus = documents(
    seededTexts(11L, 60, ascii) ++ seededTexts(12L, 40, mixed) ++ edgeTexts)

  test("cdc_chunks == SQL-string cdcChunks on seeded ASCII and multi-byte texts and edge texts, codegen and interpreted") {
    for ((w, mask) <- Seq((8, 63), (2, 1), (3, 7), (16, 15)))
      assertChunksMatch(corpus, Dedup.cdcChunks(_, w, mask),
        CdcSqlOracle.cdcChunks(_, w, mask), s"plain w=$w mask=$mask")
  }

  test("cdc_chunks == SQL-string cdcChunksMin, minLen = 1 included") {
    for ((w, mask, minLen) <- Seq((8, 63, 16), (4, 3, 5), (8, 63, 1), (2, 1, 40)))
      assertChunksMatch(corpus, Dedup.cdcChunksMin(_, w, mask, minLen),
        CdcSqlOracle.cdcChunksMin(_, w, mask, minLen), s"min w=$w mask=$mask minLen=$minLen")
  }

  test("cdc_chunks == SQL-string cdcChunksClamped, maxLen = minLen and maxLen >= every text length included") {
    for ((w, mask, minLen, maxLen) <- Seq((8, 63, 16, 128), (8, 63, 16, 16), (4, 255, 3, 20),
      (8, 63, 1, 7), (2, 1, 1, 1), (8, 63, 16, 100000)))
      assertChunksMatch(corpus, Dedup.cdcChunksClamped(_, w, mask, minLen, maxLen),
        CdcSqlOracle.cdcChunksClamped(_, w, mask, minLen, maxLen),
        s"clamped w=$w mask=$mask minLen=$minLen maxLen=$maxLen")
  }

  test("cdc_chunks: a null text gives no rows, an empty one none, one shorter than the window a single chunk") {
    val byDoc = Dedup.cdcChunksClamped(documents(Seq(null, "", "abc", "€😀中")), 8, 63, 16, 128)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(byDoc == Map(2L -> (0L, 0L, 3L), 3L -> (0L, 0L, 3L)), byDoc)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** The two-shuffle inverted index `TextOps.invertedIndex` replaced,
  * kept as the oracle: DISTINCT (word, doc_id) over the token stream,
  * then `count(1)` and the sorted, joined `collect_set` per word. */
object TwoShuffleIndex {
  def invertedIndex(documents: DataFrame): DataFrame =
    TextOps.tokens(documents)
      .select(col("word"), col("doc_id"))
      .distinct()
      .groupBy("word")
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(transform(array_sort(collect_set(col("doc_id"))),
          d => d.cast("string")), ",").as("docs"))
}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  lazy val docs = Tables.documents(spark, SharedSpark.sf)

  test("wordCount counts every token occurrence") {
    import spark.implicits._
    val df = Seq((1L, "the cat the hat"), (2L, "the end")).toDF("doc_id", "text")
    val got = TextOps.wordCount(df).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("the" -> 3L, "cat" -> 1L, "hat" -> 1L, "end" -> 1L))
  }

  test("wordCount total equals token total on real docs") {
    val total = TextOps.wordCount(docs).agg(sum("cnt")).head.getLong(0)
    val tokens = TextOps.tokens(docs).count()
    assert(total == tokens && tokens > 0)
  }

  test("invertedIndex lists sorted distinct docs per word") {
    import spark.implicits._
    val df = Seq((2L, "b a"), (1L, "a a c")).toDF("doc_id", "text")
    val got = TextOps.invertedIndex(df).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set(("a", 2L, "1,2"), ("b", 1L, "2"), ("c", 1L, "1")))
  }

  test("invertedIndex == the two-shuffle DISTINCT (word, doc) form: seeded corpora, null and duplicate doc ids, null and letter-free text, repeated words") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("text", StringType, nullable = true)))
    def check(rows: Seq[(java.lang.Long, String)], what: String): Unit = {
      val df = spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (d, t) => Row(d, t) }: _*), schema).repartition(3)
      val got = TextOps.invertedIndex(df)
      val want = TwoShuffleIndex.invertedIndex(df)
      assert(got.schema == want.schema, s"$what: ${got.schema} vs ${want.schema}")
      val g = got.collect().toSet
      val w = want.collect().toSet
      assert(g == w, s"$what: ${g.diff(w).take(5)} vs ${w.diff(g).take(5)}")
      assert(g.nonEmpty, what)
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val vocab = Seq.fill(30)(Seq.fill(1 + rnd.nextInt(5))(('a' + rnd.nextInt(6)).toChar).mkString)
      check(Seq.fill(80) {
        val id: java.lang.Long = if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(40).toLong)
        val text = rnd.nextInt(12) match {
          case 0 => null
          case 1 => "123 -- 456!"
          case _ => Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
            .mkString(Seq(" ", ", ", "--", "9")(rnd.nextInt(4)))
        }
        (id, text)
      }, s"seed $seed")
    }
    // one null doc id counts as a doc and is left out of the list;
    // two rows with one doc id are one doc
    check(Seq((null, "a b"), (null, "a"), (Long.box(7L), "a a a"), (Long.box(7L), "b a"),
      (Long.box(3L), "  ..."), (Long.box(4L), null)), "planted")
    val planted = TextOps.invertedIndex(spark.createDataFrame(java.util.Arrays.asList(
      Row(null, "a b"), Row(null, "a"), Row(7L, "a a a"), Row(7L, "b a")), schema))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(planted == Set(("a", 2L, "7"), ("b", 2L, "7")), planted)
  }

  test("grep matches count and filters non-matching docs") {
    import spark.implicits._
    val df = Seq((1L, "the thing"), (2L, "zzz")).toDF("doc_id", "text")
    val got = TextOps.grep(df, "th[ei]").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L))
  }

  test("mrOutLines produces the reference's sorted 'key value' lines") {
    import spark.implicits._
    val df = Seq((1L, "b a b")).toDF("doc_id", "text")
    val lines = TextOps.mrOutLines(TextOps.wordCount(df)).collect().map(_.getString(0))
    assert(lines.toSeq == Seq("a 1", "b 2"))
  }

  test("sortedWordCount is ordered by cnt desc, word asc") {
    val rows = TextOps.sortedWordCount(docs).limit(100).collect()
      .map(r => (r.getLong(1), r.getString(0)))
    val resorted = rows.sortBy { case (c, w) => (-c, w) }
    assert(rows.toSeq == resorted.toSeq)
  }
}

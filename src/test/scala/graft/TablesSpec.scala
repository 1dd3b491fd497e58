package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The loaders' schema memo: a repeat read runs no Spark job, and a
  * changed table or inference conf is inferred afresh. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  /** A fresh directory holding copies of the fixture's `tables`, so no
    * earlier read has memoized their schemas. */
  private def freshCopy(tables: String*): String = {
    val dir = Files.createTempDirectory("graft-tables-")
    tables.foreach { t =>
      val to = dir.resolve(s"$t.parquet")
      Files.copy(Paths.get(s"${SharedSpark.sf}/$t.parquet"), to)
      to.toFile.setWritable(true)
    }
    dir.toString
  }

  private def jobs(body: => Unit): Int = SparkJobs.count(spark)(body)

  test("a second Tables.documents call on the same directory runs no Spark job and reads the same frame") {
    val dir = freshCopy("documents")
    var first: org.apache.spark.sql.DataFrame = null
    var second: org.apache.spark.sql.DataFrame = null
    assert(jobs { first = Tables.documents(spark, dir) } == 1, "the first call infers the schema")
    assert(jobs { second = Tables.documents(spark, dir) } == 0, "the second call must reuse it")
    assert(second.schema == first.schema)
    assert(second.schema == spark.read.parquet(s"$dir/documents.parquet").schema)
    assert(second.collect().toSeq == first.collect().toSeq)
  }

  test("a table rewritten in place with another schema is read with the new schema") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-rewrite-").toString
    val path = s"$dir/documents.parquet"
    Seq((1L, "a b")).toDF("doc_id", "text").write.parquet(path)
    assert(Tables.documents(spark, dir).schema.map(f => f.name -> f.dataType) ==
      Seq("doc_id" -> LongType, "text" -> StringType))
    Seq(("x", 2L, 3L)).toDF("text", "doc_id", "n_chars").write.mode("overwrite").parquet(path)
    val reread = Tables.documents(spark, dir)
    assert(reread.schema.map(f => f.name -> f.dataType) ==
      Seq("text" -> StringType, "doc_id" -> LongType, "n_chars" -> LongType))
    assert(reread.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("x", 2L, 3L)))
  }

  test("a changed inference conf infers afresh") {
    val dir = freshCopy("documents")
    Tables.documents(spark, dir)
    val key = "spark.sql.parquet.respectSummaryFiles"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (!saved.exists(_.toBoolean)).toString)
    try assert(jobs(Tables.documents(spark, dir)) == 1)
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("Tables.events runs one inference job, then none once its schema is memoized") {
    val dir = freshCopy("events")
    var first: org.apache.spark.sql.DataFrame = null
    assert(jobs { first = Tables.events(spark, dir) } == 1, "the ts probe and the read share one inference")
    assert(jobs(Tables.events(spark, dir)) == 0)
    assert(Tables.events(spark, dir).schema == first.schema)
    assert(first.count() > 0)
  }

  test("a missing table fails as a plain parquet read does") {
    val dir = Files.createTempDirectory("graft-missing-").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.documents(spark, dir))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classic MapReduce text applications, re-expressed as declarative
  * Spark plans.
  *
  * Reference semantics (cited, not copied):
  *  - word count: /root/reference/plugin/word_count/wc.go:22-42 —
  *    tokenize on non-letter runes, emit (word, 1), reduce = count.
  *  - inverted index: /root/reference/plugin/indexer/indexer.go:23-45 —
  *    per-document distinct words, reduce = "<ndocs> <sorted docs>".
  *
  * Spark-first design: tokenization is `split` + `explode` (whole-stage
  * codegen), counting is `groupBy.count` which Catalyst executes with
  * map-side partial aggregation — the combiner the reference's
  * framework lacks. At 100 TB this means the shuffle carries one row
  * per (partition, word), not one per token occurrence; hot words
  * (the "the" problem) never skew the exchange.
  */
object TextOps {

  /** ASCII-letter tokenization matching the oracle's regex exactly.
    * The Go reference uses unicode.IsLetter; we pin to [A-Za-z] so the
    * DuckDB oracle (same regex) agrees byte-for-byte.
    */
  val TokenPattern = "[^A-Za-z]+"

  /** documents(text) exploded to one row per token occurrence. */
  def tokens(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), TokenPattern)).as("word"))
      .filter(col("word") =!= "")

  /** Word frequency across the corpus. One shuffle on `word` after
    * partial aggregation. Output: (word, cnt).
    */
  def wordCount(documents: DataFrame): DataFrame =
    tokens(documents).groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Inverted index: word -> (#docs containing it, sorted doc list).
    * Matches the reference's "<n> <doc,doc,...>" output as typed
    * columns. Each document's tokens are made distinct inside its own
    * row (`array_distinct`, no shuffle), so the one `groupBy(word)`
    * shuffle carries at most one row per (partition, word), its doc
    * set partially merged map-side. `n_docs` counts a null `doc_id`
    * as one doc and `docs` leaves it out, as `count(*)` and the
    * joined list over DISTINCT (doc_id, word) do; two rows with one
    * `doc_id` are one doc.
    */
  def invertedIndex(documents: DataFrame): DataFrame = {
    val ds = collect_set(col("doc_id"))
    documents
      .select(col("doc_id"), explode(array_distinct(split(col("text"), TokenPattern))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(
        (size(ds).cast("long") + (count(when(col("doc_id").isNull, 1)) > 0).cast("long")).as("n_docs"),
        // sort_array, not array_sort: array_sort's default comparator
        // is an interpreted lambda; both order a null-free set alike
        array_join(sort_array(ds).cast("array<string>"), ",").as("docs"))
  }

  /** Distributed grep: documents whose text matches `pattern`, with a
    * per-document match count. The regex filter evaluates inside the
    * scan stage (codegen), so non-matching 100 TB rows never leave it.
    */
  def grep(documents: DataFrame, pattern: String): DataFrame =
    documents
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0))).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)

  /** Distributed sort of the wordcount output — the MapReduce "sort"
    * benchmark. Spark implements orderBy as a range-partitioned sort
    * (sampled boundaries), so no single reducer sees the whole data.
    */
  def sortedWordCount(documents: DataFrame): DataFrame =
    wordCount(documents).orderBy(desc("cnt"), asc("word"))

  /** The reference's exact output shape: one `"key value"` line per
    * key, sorted by key (core/worker.go writes `%v %v` lines to
    * mr-out-R; mrsequential.go sorts globally). Returns the lines as
    * a single-column DataFrame ready for a text sink.
    */
  def mrOutLines(counts: DataFrame, keyCol: String = "word", valCol: String = "cnt"): DataFrame =
    counts
      .orderBy(asc(keyCol))
      .select(concat_ws(" ", col(keyCol), col(valCol)).as("line"))
}

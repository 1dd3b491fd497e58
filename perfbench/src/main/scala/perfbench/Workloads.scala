package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{SparkEntry, Tables}
import graft.mapreduce.MapReduce
import graft.operators.{Dedup, Similarity}
import graft.streaming.GraphStreams

/** One job of a workload's pass. `call` runs graft's entry point and
  * returns the result frame, which the runner then forces. `drain`
  * marks a streaming ingest, whose call is the drain. `after` runs
  * outside the timed region: it returns the bytes of state the call
  * left on disk and removes them.
  */
final case class Job(name: String, call: () => DataFrame,
                     drain: Boolean = false, after: () => Long = () => 0L)

/** An output checked against `SparkEntry.oracleSql(query)` in DuckDB
  * over the tables in `sfDir`; a mismatch fails `job`. The checked
  * frame is the job's own output unless `output` gives another. */
final case class Oracle(query: String, job: String, sfDir: String,
                        output: Option[() => DataFrame] = None)

/** Facts the generator recorded in the input manifest. */
final case class Facts(tokens: Long, vectors: Long)

object Facts {
  def load(path: String): Facts = {
    val f = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path)).get("facts")
    def long(k: String) = Option(f.get(k)).map(_.asLong).getOrElse(0L)
    Facts(long("tokens"), long("vectors"))
  }
}

/** A workload bound to one session: input load and memoized training
  * (both part of set-up), the job list of one pass, and the output
  * checks.
  */
abstract class Workload(val spark: SparkSession, val in: String, val facts: Facts,
                        val tmp: String) {
  protected lazy val queries = SparkEntry.queries

  /** Open every input: list its files and read its schema. The first
    * scans are left to the warm pass. */
  def load(): Unit
  /** Memoized work a deployment does once per corpus. */
  def train(): Unit = ()
  def jobs: Seq[Job]
  def oracles: Seq[Oracle] = Nil
  /** In-JVM checks over each job's output: (job, failure) pairs. */
  def check(out: Map[String, DataFrame]): Seq[(String, String)] = Nil
  /** Parameters the Python-side output checks need. */
  def params: Map[String, Any] = Map.empty

  protected def entry(name: String, dir: String = in): () => DataFrame =
    () => queries(name)(spark, dir)

  /** Open a parquet input: list its files and read its footers. */
  protected def open(path: String): Unit = spark.read.parquet(path).schema
}

object Workloads {
  def make(name: String, spark: SparkSession, in: String, facts: Facts,
           tmp: String): Workload = name match {
    case "single_pass" => new SinglePass(spark, in, facts, tmp)
    case "iterative" => new Iterative(spark, in, facts, tmp)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Both frames hold the same rows (as multisets), compared on the
    * given columns cast to the left side's types. */
  def sameRows(a: DataFrame, b: DataFrame, cols: String*): Option[String] = {
    val l = a.select(cols.map(col): _*)
    val r = b.select(cols.zip(l.schema.fields).map { case (c, f) => col(c).cast(f.dataType) }: _*)
    val missing = r.exceptAll(l).count()
    val extra = l.exceptAll(r).count()
    if (missing == 0 && extra == 0) None
    else Some(s"$extra unexpected and $missing missing rows")
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Jobs that read their input once: no round loop, no state.
  *
  *  - The reference's own jobs (word count, indexer) over a Zipfian
  *    corpus: SparkEntry's mr_* entries over documents.parquet, and
  *    the typed MapReduce API over the same corpus as text files.
  *  - Dedup.cdcDedup over a slice of the corpus with planted
  *    near-copies.
  *  - ANN search over a clustered Gaussian-mixture corpus: IVF-PQ
  *    against an index trained in set-up, and the exact brute-force
  *    top-k its recall is measured against.
  */
final class SinglePass(spark: SparkSession, in: String, facts: Facts, tmp: String)
    extends Workload(spark, in, facts, tmp) {
  import SinglePass._
  import spark.implicits._

  private val textDir = s"$in/text"
  private def emb = Tables.embeddings(spark, in)
  private var coarse: Seq[(Long, Seq[Float])] = Nil
  private var books: Seq[Seq[Seq[Float]]] = Nil

  def load(): Unit = {
    Seq("documents.parquet", "slice/documents.parquet", "embeddings.parquet")
      .foreach(t => open(s"$in/$t"))
    spark.read.text(textDir).inputFiles
  }

  override def train(): Unit = {
    coarse = Similarity.trainCoarseQuantizer(emb, nCells = Similarity.sizeCells(facts.vectors),
      iters = 1)
    books = Similarity.pqTrain(emb, m = 16, ksub = 16, iters = 1)
  }

  private def typedWordCount(): DataFrame =
    MapReduce.runCombining[String, Long](MapReduce.readDocuments(spark, Seq(textDir)))(
      (_, contents) => contents.split("[^A-Za-z]+").iterator.filter(_.nonEmpty).map(w => (w, 1L)))(
      0L, _ + _).toDF("word", "cnt")

  /** The reference indexer: word -> "<n files> <sorted file list>",
    * a file being named by its index (part-0003.txt is file 3). */
  private def typedIndexer(): DataFrame =
    MapReduce.run[String, Int, String](MapReduce.readDocuments(spark, Seq(textDir)))(
      (name, contents) => {
        val file = name.substring(name.lastIndexOf("part-") + 5).takeWhile(_.isDigit).toInt
        contents.split("[^A-Za-z]+").iterator.filter(_.nonEmpty).distinct.map(w => (w, file))
      })((_, files) => {
      val d = files.distinct.sorted
      s"${d.size} ${d.mkString(",")}"
    }).toDF("word", "entry")

  def jobs: Seq[Job] = Seq(
    Job("mr_wordcount", entry("mr_wordcount")),
    Job("mr_inverted_index", entry("mr_inverted_index")),
    Job("mr_typed_wordcount", () => typedWordCount()),
    Job("mr_typed_indexer", () => typedIndexer()),
    Job("dedup_cdc", entry("dedup_cdc", s"$in/slice")),
    Job("sim_ann_ivfpq", () => Similarity.annTopKIvfPq(emb, numQueries = Queries, k = K,
      probes = Probes, shortlistFactor = 8, index = Some(books), coarse = Some(coarse))),
    Job("sim_bruteforce_topk", () => Similarity.bruteForceTopK(emb, Queries, K)))

  override def oracles: Seq[Oracle] =
    Seq("mr_wordcount", "mr_inverted_index").map(n => Oracle(n, n, in)) ++
      Seq(Oracle("dedup_cdc", "dedup_cdc", s"$in/slice"),
        // SparkEntry's own 8-query entry, the one with a SQL oracle
        Oracle("sim_bruteforce_topk", "sim_bruteforce_topk", in,
          Some(entry("sim_bruteforce_topk"))))

  /** Written-output checks (typed MapReduce == TextOps, IVF-PQ
    * recall) run in checks.py; these are its parameters. */
  override def params: Map[String, Any] = Map("ann_queries" -> Queries, "ann_k" -> K,
    "ann_recall_floor" -> RecallFloor)
}

object SinglePass {
  val Queries = 16
  val K = 10
  val Probes = 8
  /** IVF-PQ must find this share of the exact top-10. */
  val RecallFloor = 0.8
}

/** Round loops and micro-batch maintenance over one co-purchase
  * graph (a generated lineitem table):
  *
  *  - SparkEntry's q_label_prop, an eager per-round driver loop of
  *    graft.operators.Graph;
  *  - GraphStreams.ccIngest: the graph's edges arrive as seeded-order
  *    files, drained one file per micro-batch from empty state, then
  *    resolved with ccResolve.
  */
final class Iterative(spark: SparkSession, in: String, facts: Facts, tmp: String)
    extends Workload(spark, in, facts, tmp) {
  private val pairs = s"$in/stream/pairs"
  private var n = 0
  private var base: File = null

  def load(): Unit = {
    open(s"$in/lineitem.parquet")
    open(pairs)
  }

  private def streamCc(): DataFrame = {
    n += 1
    base = new File(s"$tmp/stream_cc-$n")
    val schema = StructType(Seq("doc_a", "doc_b").map(StructField(_, LongType)))
    GraphStreams.ccIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(pairs),
      s"$base/labels", s"$base/merges", s"$base/ckpt")
    GraphStreams.ccResolve(spark, s"$base/labels", s"$base/merges")
  }

  def jobs: Seq[Job] = Seq(
    Job("q_label_prop", entry("q_label_prop")),
    Job("stream_cc", () => streamCc(), drain = true, after = () => {
      val b = Workloads.dirBytes(base)
      Workloads.deleteTree(base)
      b
    }))

  override def oracles: Seq[Oracle] = Seq(Oracle("q_label_prop", "q_label_prop", in))

  /** streamed components == batch Dedup.connectedComponents. */
  override def check(out: Map[String, DataFrame]): Seq[(String, String)] = {
    val batch = Dedup.connectedComponents(spark.read.parquet(pairs))
    Workloads.sameRows(out("stream_cc"), batch, "doc_id", "component_id")
      .map(m => "stream_cc" -> s"streamed != batch: $m").toSeq
  }
}

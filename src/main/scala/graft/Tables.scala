package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet loaders for the driver-generated star schema
  * (see TESTDATA.md). Every loader takes the scale-factor directory
  * explicitly because the driver passes it per query.
  *
  * Scans stay lazy DataFrames so Catalyst can push filters and prune
  * columns into the parquet reader — callers should never cache or
  * collect here.
  *
  * A plain `spark.read.parquet` infers the schema with a Spark job
  * (a footer read) on every call. The loaders infer a table's schema
  * once and then read with it, so a repeat call runs no Spark job.
  * The memo is keyed by the table's leaf files (name, length,
  * modification time) and by the session confs that steer parquet
  * schema inference, so a rewritten table or a changed conf infers
  * afresh: the memo never serves a schema a fresh inference would
  * not return.
  */
object Tables {
  /** Session confs that change what parquet schema inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  /** Per table path: the key its schema was inferred under, and the schema. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], StructType)]()

  /** `path`'s schema, inferred by Spark on a key miss. A path that
    * does not exist is left to the plain read, which fails as Spark
    * does. */
  private def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val files = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val key = files.sorted.toSeq ++ inferenceConfs.map(spark.conf.getOption)
    val hit = schemas.get(path)
    if (hit != null && hit._1 == key) Some(hit._2)
    else {
      val schema = spark.read.parquet(path).schema
      schemas.put(path, (key, schema))
      Some(schema)
    }
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaOf(spark, path).fold(spark.read)(s => spark.read.schema(s)).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** The physical type the events fixture encodes `ts` as. The driver
    * has shipped two encodings across rounds — int64 TIMESTAMP(NANOS)
    * (rounds 1–7) and Arrow `timestamp[us]` / TIMESTAMP_NTZ (round 8+)
    * — so the loader probes the footer instead of assuming either.
    * Read from the schema memo: at most one footer read, no data scan.
    *
    * `nanosAsLong` is set BEFORE the probe: under it the nanos
    * encoding surfaces as LongType (Spark's vectorized reader rejects
    * TIMESTAMP(NANOS) otherwise) while the µs encodings surface as
    * their timestamp types, so the probed type is exactly the branch
    * discriminator. The conf is part of the memo key, so a schema
    * inferred without it is never served here.
    */
  private[graft] def eventsTsType(spark: SparkSession, dir: String): DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    schemaOf(spark, path).getOrElse(spark.read.parquet(path).schema)("ts").dataType
  }

  /** Normalize a raw events frame (whose `ts` has the probed physical
    * type) to the engine's convention: `ts_ns` = exact epoch nanos
    * (Long, for ordering/gap math) and `ts` = microsecond
    * TimestampType (for windows/buckets). Shared by the batch loader
    * and the streaming reader so both branches are pinned to the SAME
    * output schema — a format drift can flip the input branch but
    * never the downstream types.
    *
    * Fail-loud contract: an `ts` encoding that is neither int64-nanos
    * nor a µs timestamp type throws here, naming the file and type.
    * The streaming path in particular must never silently reinterpret
    * (a forced LongType schema over µs data shrinks every interval
    * 1000× and yields plausible-but-wrong answers, not errors — the
    * round-8 failure class this guard makes impossible).
    */
  private[graft] def normalizeEventTs(raw: DataFrame, tsType: DataType,
                                      file: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    tsType match {
      case LongType =>
        // legacy int64 TIMESTAMP(NANOS), surfaced as raw nano longs.
        // Integer `div` — not `/` — because epoch-nanos exceed 2^53
        // and a double round-trip would corrupt them.
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampNTZType | TimestampType =>
        // timestamp[us]. For NTZ (isAdjustedToUTC=false) the session
        // is pinned to UTC (GraftSession), so the NTZ→TZ cast is an
        // exact reinterpretation of the same micros. ts is re-derived
        // from ts_ns so both branches emit the identical plan shape
        // and TimestampType output the legacy path always produced.
        raw.withColumn("ts_ns", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
          .select("event_id", "ts_ns", "user_id", "event_type", "value", "props")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case other =>
        throw new IllegalStateException(
          s"Unsupported physical type for events.ts in $file: $other. " +
            "Supported encodings: int64 TIMESTAMP(NANOS) (read as long) " +
            "and timestamp[us] (TIMESTAMP / TIMESTAMP_NTZ). Refusing to " +
            "guess — a silent reinterpretation would corrupt every " +
            "event-time interval.")
    }
  }

  /** events loader: schema-adaptive over the fixture's two historical
    * `ts` encodings (see [[eventsTsType]]); always exposes `ts_ns`
    * (exact epoch nanos, Long) and `ts` (microsecond TimestampType).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val tsType = eventsTsType(spark, dir)
    normalizeEventTs(load(spark, dir, "events"), tsType, s"$dir/events.parquet")
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}

package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's deployment configuration.
  *
  * One place for the settings SURVEY §5 relies on, so library users
  * (and the Verify/Bench mains) build identical sessions:
  *
  *  - AQE on, with skew-join splitting and partition coalescing: the
  *    static shuffle.partitions value stops mattering at scale
  *    because AQE resizes post-shuffle partitions to target bytes;
  *  - 128 MB scan partitions (`files.maxPartitionBytes` default kept
  *    explicit): right for parquet row-group granularity;
  *  - broadcast threshold left at 10 MB — dimension tables in this
  *    engine are broadcast EXPLICITLY (`broadcast()` hints), so plans
  *    do not silently degrade if statistics are stale;
  *  - UTC session timezone: required for oracle-parity on timestamp
  *    bucketing, and the only sane cluster default;
  *  - vec_dot/vec_cosine registered for SQL users.
  */
object GraftSession {

  /** Static deployment settings applied by [[builder]] — exposed as a
    * map so the framework-contract spec can pin them.
    *
    * The speculation trio is the Spark-native analogue of the
    * reference coordinator's fixed 10-second task reassignment
    * (reference `core/coordinator.go`, SURVEY §2.1 row 8b): any task
    * slower than `multiplier`× the stage median is re-launched once
    * `quantile` of the stage has finished, and the task-commit
    * protocol keeps only the first copy's output — re-running only
    * statistical outliers, where a fixed timeout would also re-run
    * tasks that are merely big.
    */
  val deploymentConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Honor the advisory partition BYTES when coalescing instead of
    // splitting small exchanges up to the cluster's parallelism
    // (guide §2.2 "fewer, larger reduce partitions" / §9): with the
    // default parallelism-first policy every KB-scale post-shuffle
    // stage schedules up-to-#cores tiny tasks, which is pure
    // scheduling overhead at ANY scale — at 100 TB the advisory size
    // (64 MB default) governs either way, so this is not a local-only
    // tune. Measured r16: geomean −17% over a 12-query mix at sf0.1.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L << 20).toString,
    // events.ts has shipped as int64 TIMESTAMP(NANOS) and as
    // timestamp[us] (see Tables.normalizeEventTs); this conf makes the
    // nanos encoding readable (as raw longs) and is a no-op for the µs
    // encodings, so it is safe globally — the loaders branch on the
    // probed footer type either way
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.speculation" -> "true",
    "spark.speculation.multiplier" -> "3",
    "spark.speculation.quantile" -> "0.75",
    "spark.ui.enabled" -> "false",
    // the in-memory status store keeps finished executions, jobs,
    // stages and tasks for the UI even with the UI off (defaults
    // 1000/1000/1000/100000), so the driver heap grows with every
    // query run. Nothing in graft reads it (Profile and Bench keep
    // their own listeners), so keep only the most recent few.
    "spark.sql.ui.retainedExecutions" -> "5",
    "spark.ui.retainedJobs" -> "20",
    "spark.ui.retainedStages" -> "20",
    "spark.ui.retainedTasks" -> "200")

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    deploymentConf.foldLeft(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Local session sized from the environment (the driver contract:
    * SPARK_GRAFT_CPUS threads, that many shuffle partitions).
    */
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graftvec.GraftFunctionRegistration.registerAll(spark)
    // rank-filter → bounded top-k rewrite live in the deployment
    // session: the driver's oracle gate re-proves hash-exactness of
    // q_topk_per_key THROUGH the rewrite every round
    org.apache.spark.sql.grafttopk.RewriteRowNumberTopK.register(spark)
    spark
  }
}

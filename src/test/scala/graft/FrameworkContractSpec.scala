package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** §2.1 rows 6-9: the reference framework's execution contract,
  * expressed as Spark-native guarantees.
  *
  * Reference probes (cited, not copied): plugin/mtiming.go /
  * rtiming.go (parallel workers), jobcount.go (task accounting),
  * crash.go / nocrash.go (idempotent re-execution after worker
  * death), early_exit.go (output invisible until job completion).
  */
object FrameworkContractSpec {
  // Static so executor threads (same JVM at local[*]) and the driver
  // observe the same counters.
  val inFlight = new AtomicInteger(0)
  val maxInFlight = new AtomicInteger(0)
  val attempts = new AtomicInteger(0)
}

class FrameworkContractSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("jobcount: one task per partition, counted via SparkListener") {
    val taskCount = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = taskCount.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = 8
      spark.sparkContext.parallelize(1 to 1000, n).map(_ * 2).sum()
      // listener events are async; poll until they drain
      val deadline = System.nanoTime() + 10_000_000_000L
      while (taskCount.get() < n && System.nanoTime() < deadline) Thread.sleep(50)
      assert(taskCount.get() == n)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("parallelism: map tasks actually overlap (mtiming contract)") {
    import FrameworkContractSpec._
    inFlight.set(0); maxInFlight.set(0)
    spark.sparkContext.parallelize(1 to 4, 4).foreach { _ =>
      val now = inFlight.incrementAndGet()
      maxInFlight.updateAndGet(m => math.max(m, now))
      Thread.sleep(300)
      inFlight.decrementAndGet()
    }
    assert(maxInFlight.get() >= 2, s"tasks never overlapped (max=${maxInFlight.get()})")
  }

  test("crash recovery: first attempt of a task dies, job still correct") {
    import FrameworkContractSpec._
    attempts.set(0)
    val result = spark.sparkContext.parallelize(1 to 100, 4).mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        attempts.incrementAndGet()
        throw new RuntimeException("simulated worker crash (crash.go contract)")
      }
      it
    }.sum()
    assert(attempts.get() == 1, "the crash branch ran")
    assert(result == (1 to 100).sum, "retried task re-executed idempotently")
  }

  test("parallelism: reduce (post-shuffle) tasks actually overlap (rtiming contract)") {
    import FrameworkContractSpec._
    inFlight.set(0); maxInFlight.set(0)
    // keys 0..3 hash across the 4 reduce partitions; the overlap
    // counter runs INSIDE the post-shuffle stage (reference
    // plugin/rtiming/rtiming.go probes exactly this: reduce workers
    // running concurrently, not serialized)
    val counted = spark.sparkContext.parallelize(1 to 400, 4)
      .map(i => (i % 4, 1))
      .reduceByKey(_ + _, 4)
      .mapPartitions { it =>
        val rows = it.toList
        if (rows.nonEmpty) {
          val now = inFlight.incrementAndGet()
          maxInFlight.updateAndGet(m => math.max(m, now))
          Thread.sleep(300)
          inFlight.decrementAndGet()
        }
        rows.iterator
      }
      .collect()
    assert(counted.toMap == Map(0 -> 100, 1 -> 100, 2 -> 100, 3 -> 100))
    assert(maxInFlight.get() >= 2, s"reduce tasks never overlapped (max=${maxInFlight.get()})")
  }

  test("crash recovery: first attempt of a post-shuffle task dies, job still correct") {
    import FrameworkContractSpec._
    attempts.set(0)
    // the crash happens AFTER the exchange (reference core/worker.go
    // reduceTask: a reduce worker dying mid-reduce must be reassigned
    // and re-read its shuffle inputs idempotently)
    val result = spark.sparkContext.parallelize(1 to 100, 4)
      .map(i => (i % 5, i.toLong))
      .reduceByKey(_ + _)
      .mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc.partitionId() == 0 && tc.attemptNumber() == 0) {
          attempts.incrementAndGet()
          throw new RuntimeException("simulated reduce-worker crash (crash.go contract)")
        }
        it
      }
      .map(_._2).sum()
    assert(attempts.get() == 1, "the reduce-side crash branch ran")
    assert(result == (1 to 100).sum, "retried reduce task re-read its shuffle input idempotently")
  }

  test("mr-out text sink: 'key value' lines survive a write/read round-trip in oracle order") {
    // the reference's user-visible artifact is the sorted "key value"
    // line file (core/worker.go:202-214 writes "%v %v" lines;
    // main_test/mrsequential.go:63-83 is the sorted sequential oracle)
    val docs = Tables.documents(spark, SharedSpark.sf)
    val counts = graft.operators.TextOps.wordCount(docs)
    val out = java.nio.file.Files.createTempDirectory("graft-mrout-").toString + "/mr-out"
    graft.operators.TextOps.mrOutLines(counts).coalesce(1).write.text(out)
    val lines = spark.read.textFile(out).collect()
    val expected = counts.collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
      .map { case (w, c) => s"$w $c" }
    assert(lines.length == expected.length)
    assert(lines.sameElements(expected), "sink lines differ from the sequential oracle")
  }

  test("straggler reassignment: deployment conf pins speculative execution (coordinator 10s analogue)") {
    // reference core/coordinator.go re-queues any task not finished in
    // a fixed 10 s; the Spark-native analogue (SURVEY §2.1 row 8b) is
    // speculation — re-launch only statistical outliers, first commit
    // wins. The deployment builder must actually carry the configs.
    val c = GraftSession.deploymentConf
    assert(c("spark.speculation") == "true", "speculative execution must be on in deployment")
    assert(c("spark.speculation.multiplier").toDouble > 1.0,
      "multiplier must exceed the stage median")
    val q = c("spark.speculation.quantile").toDouble
    assert(q > 0.0 && q < 1.0, "quantile must wait for a fraction of the stage, not all of it")
  }

  test("driver heap: the unread in-memory status store keeps only a few recent executions, jobs, stages and tasks") {
    val c = GraftSession.deploymentConf
    assert(c("spark.ui.enabled") == "false")
    assert(Seq("spark.sql.ui.retainedExecutions", "spark.ui.retainedJobs",
      "spark.ui.retainedStages", "spark.ui.retainedTasks").map(c) == Seq("5", "20", "20", "200"))
  }

  test("atomic output: committed parquet has _SUCCESS and no temp files") {
    val out = java.nio.file.Files.createTempDirectory("graft-commit-").toString + "/t"
    Tables.nation(spark, SharedSpark.sf).write.parquet(out)
    val files = new java.io.File(out).listFiles().map(_.getName)
    assert(files.contains("_SUCCESS"), "commit marker missing")
    assert(!files.exists(_.startsWith("_temporary")), "uncommitted temp dir visible")
    assert(files.count(_.endsWith(".parquet")) > 0)
  }
}

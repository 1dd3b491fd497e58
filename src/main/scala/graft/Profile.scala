package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-query profile: `runMain graft.Profile <sfDir> name…`.
  *
  * Runs [[Bench.calibrationProbe]] once, then prints for each named
  * query its formatted plan, three timed runs with Bench's own
  * forcing and isolation ([[Bench.timeOnce]]), and the last run's
  * Spark jobs grouped by callsite: jobs, stages and tasks, and Σ(job)
  * time against the run's wall time, so driver-side work shows as
  * the gap between the two.
  */
object Profile {

  /** One finished Spark job: its callsite and its cost. A job of a SQL
    * execution is filed under the call site of the action that started
    * the execution, since adaptive query stages submit their jobs from
    * a pool thread whose own call site names only that thread; any
    * other job under the name of its final stage, which carries the
    * action's call site. */
  private[graft] final case class Job(site: String, stages: Int, tasks: Int, seconds: Double)

  /** One query's profile: its formatted plan, the three timed runs
    * (-1.0 for a failed run) and the jobs of the last run. */
  private[graft] final case class Report(name: String, plan: String, runs: Seq[Double],
                                         jobs: Seq[Job]) {
    def lines: Seq[String] = {
      def seconds(js: Seq[Job]) = js.map(_.seconds).sum
      val bySite = jobs.groupBy(_.site).toSeq.sortBy(g => -seconds(g._2)).map { case (site, js) =>
        f"[profile]   ${seconds(js)}%8.2f s  jobs=${js.size}%-4d " +
          f"stages=${js.map(_.stages).sum}%-5d tasks=${js.map(_.tasks).sum}%-6d $site"
      }
      Seq(s"[profile] ===== $name =====", plan,
        runs.map(t => f"$t%.2f").mkString(s"[profile] $name runs: ", " ", " s"),
        f"[profile] last run: wall=${runs.last}%.2f s, jobs=${jobs.size}, " +
          f"stages=${jobs.map(_.stages).sum}, tasks=${jobs.map(_.tasks).sum}, " +
          f"sum(job)=${seconds(jobs)}%.2f s") ++ bySite
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    try {
      println(f"[profile] calibration: ${Bench.calibrationProbe(spark)}%.2f s")
      args.drop(1).foreach(name => profile(spark, args(0), name).lines.foreach(println))
    } finally spark.stop()
  }

  /** Profile one query on `spark`, which stays open. Building the
    * query for its plan may run jobs (eager checkpoints), so what it
    * persisted is cleared after it, as after every timed run; frames
    * the caller persisted beforehand stay. */
  private[graft] def profile(spark: SparkSession, sfDir: String, name: String): Report = {
    val fn = SparkEntry.queries(name)
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val plan =
      try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
      finally Bench.clearPersisted(spark, keep)
    val first = Seq.fill(2)(Bench.timeOnce(spark, sfDir, fn))
    val (last, jobs) = withJobs(spark)(Bench.timeOnce(spark, sfDir, fn))
    Report(name, plan, first :+ last, jobs)
  }

  /** `body`'s result and the Spark jobs it runs on this thread. They
    * run in a fresh job group; a sentinel job in the same group runs
    * after them, and the listener bus delivers events in order, so
    * once the sentinel's start arrives every earlier job's end has
    * too. The group sets no job description, so each SQL execution's
    * description is its action's call site. */
  private def withJobs[A](spark: SparkSession)(body: => A): (A, Seq[Job]) = {
    val sc = spark.sparkContext
    val group = s"profile-${java.util.UUID.randomUUID()}"
    val starts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    val executionSites = new ConcurrentHashMap[Long, String]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executionSites.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == group) drained.countDown()
          else starts.put(e.jobId, e)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach { s =>
          val site = Option(s.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
            .flatMap(id => Option(executionSites.get(id.toLong)))
            .orElse(s.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
          jobs.add(Job(site.takeWhile(_ != '+').trim, s.stageInfos.size,
            s.stageInfos.map(_.numTasks).sum, math.max(0L, e.time - s.time) / 1e3))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, null)
      val result = body
      sc.setJobDescription(group)
      sc.parallelize(Seq(1), 1).count()
      require(drained.await(60, TimeUnit.SECONDS), "the listener bus did not drain")
      (result, jobs.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession

object SparkJobs {
  /** Spark jobs that `body` starts on this thread. The listener counts
    * job starts in a fresh job group; a sentinel job in the same group
    * runs last, and the listener bus delivers events in order, so once
    * the sentinel's start arrives every earlier job has been counted. */
  def count(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val sentinel = "job-count-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group) {
          if (p.getProperty("spark.job.description") == sentinel) sentinelSeen.countDown()
          else jobs.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job's start event never arrived")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

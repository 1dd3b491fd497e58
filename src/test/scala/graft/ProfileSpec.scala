package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Profile`'s per-query function on the shared test session. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("profile: plan, three timed runs and the last run's jobs; nothing left persisted; session still open") {
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet
    // q_kcore returns a checkpointed frame, so a run that skipped
    // Bench's isolation would leave its blocks behind
    Seq("q_label_prop", "q_kcore").foreach { name =>
      val before = persistedIds
      val report = Profile.profile(spark, SharedSpark.sf, name)
      val leaked = persistedIds -- before
      assert(leaked.isEmpty, s"$name: the profiled runs left RDDs persisted: $leaked")
      assert(report.plan.contains("Physical Plan"), report.plan)
      assert(report.runs.size == 3 && report.runs.forall(_ >= 0), s"$name runs: ${report.runs}")
      assert(report.jobs.nonEmpty, s"$name: no Spark job reported for the last run")
      assert(report.lines.exists(_.startsWith(s"[profile] last run: wall=")))
    }
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }

  test("profile: jobs are filed under their action's call site, never an adaptive-stage pool thread") {
    Seq("q_label_prop", "sim_ann_ivfpq").foreach { name =>
      val sites = Profile.profile(spark, SharedSpark.sf, name).jobs.map(_.site)
      assert(sites.nonEmpty, s"$name: no Spark job reported")
      assert(!sites.exists(_.contains("CompletableFuture.java")), s"$name job sites: $sites")
      assert(sites.forall(_.contains(".scala:")), s"$name job sites: $sites")
    }
  }

  test("profile: a frame the caller checkpointed beforehand stays persisted and readable") {
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persistedIds
    val mine = spark.range(100).toDF("x").localCheckpoint(true)
    val mineIds = persistedIds -- before
    assert(mineIds.nonEmpty, "the eager localCheckpoint persisted nothing")
    try {
      Profile.profile(spark, SharedSpark.sf, "q_label_prop")
      assert(mineIds.subsetOf(persistedIds),
        s"profiling unpersisted the caller's checkpoint: ${mineIds -- persistedIds}")
      assert(mine.count() == 100)
    } finally graft.operators.Checkpoints.free(mine)
  }
}

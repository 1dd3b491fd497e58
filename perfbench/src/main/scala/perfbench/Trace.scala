package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One job call of a pass, as the runner timed it. Times are epoch
  * milliseconds (the clock Spark stamps its events with); the
  * durations are measured with `nanoTime`.
  */
final case class CallRec(job: String, startMs: Long, callEndMs: Long, endMs: Long,
                         callS: Double, forceS: Double, leakedRdds: Int,
                         stateBytes: Long, error: Option[String]) {
  def totalS: Double = callS + forceS
}

final case class PassRec(pass: Int, traced: Boolean, startMs: Long, endMs: Long,
                         wallS: Double, calls: Seq[CallRec])

/** Job group id the runner sets around each phase of a call; the
  * trace reads it back from every Spark job it sees. */
object Group {
  private val Re = """pb:(\d+):([^:]+):(call|force)""".r
  def apply(pass: Int, job: String, phase: String): String = s"pb:$pass:$job:$phase"
  def unapply(g: String): Option[(Int, String, String)] = g match {
    case Re(p, j, ph) => Some((p.toInt, j, ph))
    case _ => None
  }
}

final case class SparkJobEvt(id: Int, group: Option[String], start: Long, var end: Long,
                             stageIds: Seq[Int])
final case class StageEvt(id: Int, name: String, numTasks: Int, submit: Long, complete: Long,
                          cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long,
                          shuffleWriteRecords: Long, shuffleReadBytes: Long,
                          fetchWaitMs: Long, diskSpillBytes: Long)
final case class TaskEvt(stageId: Int, launch: Long, finish: Long, schedDelayMs: Long,
                         inputBytes: Long, inputRecords: Long)
final case class BatchEvt(runId: String, batchId: Long, start: Long, durations: Map[String, Long],
                          rows: Long) {
  def end: Long = start + durations.getOrElse("triggerExecution", 0L)
}

/** Micro-batch progress of every streaming query, always on: the
  * `stream.*` micro-batch metrics come from it. */
final class BatchListener extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[BatchEvt]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // a progress event with no input rows is an idle trigger, not a batch
    if (p.numInputRows > 0) batches.add(BatchEvt(p.runId.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
  }
}

/** Spark job / stage / task events, recorded only in traced passes. */
final class SpanListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[SparkJobEvt]()
  val stages = new ConcurrentLinkedQueue[StageEvt]()
  val tasks = new ConcurrentLinkedQueue[TaskEvt]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, SparkJobEvt]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = SparkJobEvt(e.jobId, g, e.time, -1L, e.stageIds)
    open.put(e.jobId, j)
    jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = Option(s.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    stages.add(StageEvt(s.stageId, s.name, s.numTasks, s.submissionTime.getOrElse(0L),
      s.completionTime.getOrElse(0L), g(_.executorCpuTime), g(_.jvmGCTime),
      g(_.shuffleWriteMetrics.bytesWritten), g(_.shuffleWriteMetrics.recordsWritten),
      g(_.shuffleReadMetrics.totalBytesRead), g(_.shuffleReadMetrics.fetchWaitTime),
      g(_.diskBytesSpilled)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    // the Spark UI's definition: task time not spent deserializing,
    // running, serializing or fetching the result
    val delay = m.map { t =>
      math.max(0L, (i.finishTime - i.launchTime) - t.executorDeserializeTime -
        t.executorRunTime - t.resultSerializationTime - i.gettingResultTime)
    }.getOrElse(0L)
    tasks.add(TaskEvt(e.stageId, i.launchTime, i.finishTime, delay,
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.inputMetrics.recordsRead).getOrElse(0L)))
  }
}

/** Builds the span tree of the traced passes and the per-layer
  * metrics from it. Span tree: pass → job call → call/force phase →
  * (micro-batch →) Spark job → stage.
  */
final class TraceReport(passes: Seq[PassRec], span: SpanListener,
                        batches: Seq[BatchEvt], cores: Int) {
  private val jobs = span.jobs.asScala.toSeq.filter(_.end >= 0)
  private val stageById = span.stages.asScala.toSeq.map(s => s.id -> s).toMap
  private val tasksByStage = span.tasks.asScala.toSeq.groupBy(_.stageId)

  private def within(t: Long, a: Long, b: Long) = t >= a && t <= b

  /** The phase a Spark job belongs to: its job group when the runner
    * set it, else (streaming jobs run under the query's own group)
    * the phase whose interval holds its start. */
  private def phaseOf(j: SparkJobEvt): Option[(Int, String, String)] =
    j.group.collect { case Group(p, job, ph) => (p, job, ph) }.orElse {
      passes.iterator.flatMap(p => p.calls.iterator.map(c => (p.pass, c))).collectFirst {
        case (p, c) if within(j.start, c.startMs, c.callEndMs) => (p, c.job, "call")
        case (p, c) if within(j.start, c.callEndMs, c.endMs) => (p, c.job, "force")
      }
    }

  private lazy val jobsByPhase: Map[(Int, String, String), Seq[SparkJobEvt]] =
    jobs.flatMap(j => phaseOf(j).map(_ -> j)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private def stagesOf(js: Seq[SparkJobEvt]): Seq[StageEvt] =
    js.flatMap(_.stageIds).distinct.flatMap(stageById.get)

  /** Length of the union of intervals, clipped to [a, b]. */
  private def covered(iv: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  import Main.median

  private def passJobs(p: PassRec): Seq[SparkJobEvt] =
    jobsByPhase.collect { case ((pp, _, _), js) if pp == p.pass => js }.flatten.toSeq

  private def passBatches(p: PassRec): Seq[BatchEvt] =
    batches.filter(b => within(b.start, p.startMs, p.endMs))

  private def callJobs(p: PassRec, job: String): Seq[SparkJobEvt] =
    jobsByPhase.getOrElse((p.pass, job, "call"), Nil) ++ jobsByPhase.getOrElse((p.pass, job, "force"), Nil)

  /** Per-layer metrics of one traced pass. */
  private def passMetrics(p: PassRec, jobNames: Seq[String], drains: Set[String],
                          tokens: Long): Map[String, Double] = {
    val js = passJobs(p)
    val st = stagesOf(js)
    val ts = st.flatMap(s => tasksByStage.getOrElse(s.id, Nil))
    // housekeeping between calls is the benchmark's, not graft's
    val wallMs = math.max(1L, p.calls.map(c => c.endMs - c.startMs).sum)
    val bs = passBatches(p)
    val streamJobs = js.count(j => bs.exists(b => within(j.start, b.start, b.end)))
    def p50(k: String) = median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    val byJob = jobNames.flatMap { n =>
      val cs = p.calls.filter(_.job == n)
      Seq(s"job.$n.s" -> cs.map(_.totalS).sum, s"job.$n.call_s" -> cs.map(_.callS).sum,
        s"job.$n.force_s" -> cs.map(_.forceS).sum,
        s"job.$n.spark_jobs" -> callJobs(p, n).size.toDouble)
    }
    val wcShuffleRecords = stagesOf(callJobs(p, "mr_wordcount")).map(_.shuffleWriteRecords).sum
    Map(
      "scan.bytes" -> ts.map(_.inputBytes).sum.toDouble,
      "scan.rows" -> ts.map(_.inputRecords).sum.toDouble,
      "scan.tasks" -> ts.count(t => t.inputBytes > 0 || t.inputRecords > 0).toDouble,
      "mr.shuffle_records_per_token" ->
        (if (tokens > 0) wcShuffleRecords.toDouble / tokens else 0.0),
      "checkpoint.leaked_rdds" -> p.calls.map(_.leakedRdds).sum.toDouble,
      "stream.batches" -> bs.size.toDouble,
      "stream.jobs_per_batch" -> (if (bs.isEmpty) 0.0 else streamJobs.toDouble / bs.size),
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.planning_ms_p50" -> p50("queryPlanning"),
      "stream.wal_commit_ms_p50" -> p50("walCommit"),
      "stream.commit_ms_p50" -> p50("commitOffsets"),
      "stream.state_bytes" -> p.calls.map(_.stateBytes).sum.toDouble,
      "stream.rows_per_s" -> {
        val drainS = p.calls.filter(c => drains(c.job)).map(_.callS).sum
        if (drainS > 0) bs.map(_.rows).sum / drainS else 0.0
      },
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.tasks_per_stage_p50" -> median(st.map(_.numTasks.toDouble)),
      "spark.single_task_stage_frac" ->
        (if (st.isEmpty) 0.0 else st.count(_.numTasks == 1).toDouble / st.size),
      "spark.core_busy_frac" ->
        ts.map(t => t.finish - t.launch).sum.toDouble / (wallMs * cores),
      "spark.driver_gap_s" -> p.calls.map(c => (c.endMs - c.startMs) -
        covered(js.map(j => (j.start, j.end)), c.startMs, c.endMs)).sum / 1e3,
      "spark.sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1e3,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "shuffle.write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "shuffle.read_bytes" -> st.map(_.shuffleReadBytes).sum.toDouble,
      "shuffle.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1e3,
      "spill.bytes" -> st.map(_.diskSpillBytes).sum.toDouble,
    ) ++ byJob
  }

  /** Median over the traced passes of each per-pass metric. */
  def metrics(jobNames: Seq[String], drains: Set[String], tokens: Long): Map[String, Double] = {
    val per = passes.filter(_.traced).map(p => passMetrics(p, jobNames, drains, tokens))
    if (per.isEmpty) Map.empty
    else per.head.keys.map(k => k -> median(per.map(_.getOrElse(k, 0.0)))).toMap
  }

  /** The span tree of the traced passes, one JSON object per span,
    * each with its self time: duration minus the part of it that its
    * children cover. */
  def spans(): Seq[String] = {
    final case class Span(id: Int, parent: Int, kind: String, name: String,
                          start: Long, end: Long, attrs: Map[String, Any])
    val out = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, kind: String, name: String, s: Long, e: Long,
            attrs: Map[String, Any] = Map.empty): Int = {
      out += Span(out.size, parent, kind, name, s, e, attrs)
      out.size - 1
    }
    passes.filter(_.traced).foreach { p =>
      val pid = add(-1, "pass", s"pass ${p.pass}", p.startMs, p.endMs)
      val bs = passBatches(p)
      p.calls.foreach { c =>
        val cid = add(pid, "job", c.job, c.startMs, c.endMs,
          Map("error" -> c.error, "leaked_rdds" -> c.leakedRdds))
        Seq(("call", c.startMs, c.callEndMs), ("force", c.callEndMs, c.endMs)).foreach {
          case (ph, s, e) =>
            val phid = add(cid, "phase", ph, s, e)
            val batchIds = bs.filter(b => within(b.start, s, e)).map { b =>
              b -> add(phid, "batch", s"batch ${b.batchId}", b.start, b.end,
                Map("run_id" -> b.runId, "rows" -> b.rows, "durations_ms" -> b.durations))
            }
            jobsByPhase.getOrElse((p.pass, c.job, ph), Nil).foreach { j =>
              val parent = batchIds.collectFirst {
                case (b, id) if within(j.start, b.start, b.end) => id
              }.getOrElse(phid)
              val jid = add(parent, "spark_job", s"job ${j.id}", j.start, j.end,
                Map("group" -> j.group))
              stagesOf(Seq(j)).foreach { s =>
                add(jid, "stage", s"stage ${s.id}", s.submit, s.complete,
                  Map("tasks" -> s.numTasks, "name" -> s.name))
              }
            }
        }
      }
    }
    val children = out.groupBy(_.parent)
    out.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val self = (s.end - s.start) - covered(kids.toSeq, s.start, s.end)
      Json(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self) ++ s.attrs)
    }
  }
}

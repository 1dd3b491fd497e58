package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Bench, GraftSession}

/** The benchmark's JVM side: set up a workload on a
  * `GraftSession.local()` session, run its job list in a closed loop
  * with one client for `--seconds`, check every job's output, and
  * write `result.json` (and `spans.jsonl` when traced) to `--out`.
  *
  * {{{
  * perfbench.Main --workload <name> --in <input dir> --out <dir>
  *   --seconds <s> --trace <0|1> [--corrupt <job>]
  * }}}
  *
  * Set-up is JVM and session start, input load, memoized training and
  * one warm pass. The warm pass writes every job's output, and those
  * outputs are what the checks read, so checking costs no extra pass.
  * `--corrupt <job>` drops one row of that job's written output; the
  * smoke test uses it to prove the checks catch a wrong output.
  */
object Main {

  final case class Args(workload: String, in: String, out: String, seconds: Double,
                        trace: Boolean, corrupt: Option[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("in"), req("out"), req("seconds").toDouble, req("trace") == "1",
      m.get("corrupt"))
  }

  private def now(): Long = System.nanoTime()
  private def secs(a: Long, b: Long): Double = (b - a) / 1e9
  private val t00 = now()
  /** Progress line on stderr (the run log). */
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench ${secs(t00, now())}%7.1f s] $msg")

  /** Linear-interpolated percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      s(lo) + (s(pos.ceil.toInt) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val facts = Facts.load(s"${a.in}/manifest.json")
    val tmp = new File(s"${a.out}/state")
    tmp.mkdirs()

    // ---- set-up: session, input load, training, warm pass
    val t0 = now()
    val spark = GraftSession.local()
    val sc = spark.sparkContext
    // the core count is the session's, never re-read from the environment
    val cores = sc.defaultParallelism
    val t1 = now()
    note(s"session ${secs(t0, t1)} s, $cores cores")
    val wl = Workloads.make(a.workload, spark, a.in, facts, tmp.getPath)
    wl.load()
    val t2 = now()
    note(s"input load ${secs(t1, t2)} s")
    wl.train()
    val t3 = now()
    note(s"training ${secs(t2, t3)} s")

    // each job's output is written where its check reads it: beside
    // the oracle SQL of its input directory when the job's own output
    // has an oracle, else under outputs/
    val oracleGroups = wl.oracles.groupBy(_.sfDir).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((sfDir, os), g) => (s"${a.out}/oracle/$g", sfDir, os) }
    val outputPath: Map[String, String] = wl.jobs.map(j => j.name -> oracleGroups.collectFirst {
      case (dir, _, os) if os.exists(o => o.job == j.name && o.output.isEmpty) => s"$dir/${j.name}"
    }.getOrElse(s"${a.out}/outputs/${j.name}")).toMap

    /** One pass over the job list. The timed passes force each result
      * through the noop sink (every column of every row; count() would
      * let the optimizer prune unreferenced work). The warm pass
      * writes each result as parquet for the checks instead. */
    def runPass(pass: Int, traced: Boolean, write: Boolean): PassRec = {
      val calls = wl.jobs.map { j =>
        val s = System.currentTimeMillis()
        val c0 = now()
        var c1 = c0
        var callEnd = s
        var err: Option[String] = None
        try {
          sc.setJobGroup(Group(pass, j.name, "call"), j.name)
          val df = j.call()
          c1 = now(); callEnd = System.currentTimeMillis()
          sc.setJobGroup(Group(pass, j.name, "force"), j.name)
          if (!write) df.write.format("noop").mode("overwrite").save()
          else {
            val d = if (!a.corrupt.contains(j.name)) df else {
              val m = df.localCheckpoint(true)
              m.exceptAll(m.limit(1))
            }
            d.coalesce(1).write.mode("overwrite").parquet(outputPath(j.name))
          }
        } catch {
          case e: Exception =>
            err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
            if (c1 == c0) { c1 = now(); callEnd = System.currentTimeMillis() }
        } finally sc.clearJobGroup()
        val c2 = now()
        val end = System.currentTimeMillis()
        // outside the timed region: count and free the localCheckpoint
        // RDDs the call left persisted, then the call's on-disk state
        val persisted = sc.getPersistentRDDs.values.toSeq
        persisted.foreach(_.unpersist(blocking = true))
        val state = try j.after() catch { case _: Exception => 0L }
        note(f"pass $pass ${j.name}: call ${secs(c0, c1)}%.2f s, force ${secs(c1, c2)}%.2f s" +
          err.fold("")(e => s", failed: $e"))
        CallRec(j.name, s, callEnd, end, secs(c0, c1), secs(c1, c2), persisted.size, state, err)
      }
      PassRec(pass, traced, calls.head.startMs, calls.last.endMs, calls.map(_.totalS).sum, calls)
    }

    val warm = runPass(-1, traced = false, write = true)
    val t4 = now()
    val setup = Map("setup.session_s" -> (jvmStartS + secs(t0, t1)),
      "setup.load_s" -> secs(t1, t2), "setup.train_s" -> secs(t2, t3),
      "setup.warm_s" -> secs(t3, t4))
    val calibration = if (a.trace) Bench.calibrationProbe(spark) else 0.0

    // ---- timed passes: a closed loop with one client
    val batchL = new BatchListener
    spark.streams.addListener(batchL)
    val spanL = new SpanListener
    // two passes at least: the JIT is still settling in the first, and
    // the faster of two is steadier on a shared host
    val minPasses = 2
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val loop0 = now()
    while (passes.size < minPasses || secs(loop0, now()) < a.seconds) {
      // traced runs alternate untraced and traced passes, so the
      // tracing overhead is measured inside one run
      val traced = a.trace && passes.size % 2 == 1
      if (traced) sc.addSparkListener(spanL)
      passes += runPass(passes.size, traced, write = false)
      org.apache.spark.perfbench.ListenerBusDrain(sc)
      if (traced) sc.removeSparkListener(spanL)
    }
    spark.streams.removeListener(batchL)
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val calibrationEnd = if (a.trace) Bench.calibrationProbe(spark) else 0.0

    // ---- output checks, outside the timed region, over the outputs
    // the warm pass wrote: the in-JVM ones here; the DuckDB oracle and
    // the written-output checks run in run.py
    val allCalls = (warm +: passes.toSeq).flatMap(_.calls)
    val threw = allCalls.flatMap(c => c.error.map(c.job -> _))
    val written = outputPath.filter { case (_, p) => new File(p).isDirectory }
    val checkFails =
      if (written.size < wl.jobs.size) Nil
      else wl.check(written.map { case (j, p) => j -> spark.read.parquet(p) })
    val groups = oracleGroups.map { case (dir, sfDir, os) =>
      os.foreach(o => o.output.foreach(f =>
        f().coalesce(1).write.mode("overwrite").parquet(s"$dir/${o.query}")))
      Files.write(Paths.get(s"$dir/oracle_sql.json"), Json(os.map(o =>
        o.query -> graft.SparkEntry.oracleSql(o.query)).toMap).getBytes(StandardCharsets.UTF_8))
      Map("dir" -> dir, "sfdir" -> sfDir, "jobs" -> os.map(o => o.query -> o.job).toMap)
    }
    note("checks done")

    // ---- metrics
    val plain = passes.filterNot(_.traced).toSeq
    // the fastest untraced pass: contention from outside the benchmark
    // only ever adds time, so the minimum is the steadier estimate
    val wall = plain.map(_.wallS).min
    val e2e = Map(
      "setup_s" -> setup.values.sum,
      "wall_s" -> wall,
      "heap_live_mb" -> heapMb)

    val perLayer: Map[String, Double] = if (!a.trace) Map.empty else {
      val batches = batchL.batches.asScala.toSeq
      val report = new TraceReport(passes.toSeq, spanL, batches, cores)
      val spans = report.spans()
      Files.write(Paths.get(s"${a.out}/spans.jsonl"), spans.asJava, StandardCharsets.UTF_8)
      val batchMs = batches.filter(b => plain.exists(p => b.start >= p.startMs && b.start <= p.endMs))
        .map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
      val traced = passes.filter(_.traced).map(_.wallS).toSeq
      report.metrics(wl.jobs.map(_.name), wl.jobs.filter(_.drain).map(_.name).toSet,
        facts.tokens) ++ setup ++ Map(
        "host.calibration_s" -> calibration,
        "host.calibration_end_s" -> calibrationEnd,
        "trace.overhead_frac" -> (if (wall > 0) traced.min / wall - 1.0 else 0.0),
        "trace.spans" -> spans.size.toDouble,
        "stream.batch_ms_p50" -> percentile(batchMs, 0.5),
        "stream.batch_ms_p90" -> percentile(batchMs, 0.9),
        "stream.batch_samples" -> batchMs.size.toDouble)
    }

    val result = Map(
      "workload" -> a.workload,
      "cores" -> cores,
      "passes" -> passes.size,
      "traced_passes" -> passes.count(_.traced),
      "calls_per_job" -> allCalls.groupBy(_.job).map { case (k, v) => k -> v.size },
      "attempted" -> allCalls.size,
      "errors" -> threw.map { case (j, e) => s"$j: $e" },
      "threw_per_job" -> threw.groupBy(_._1).map { case (k, v) => k -> v.size },
      "outputs" -> written,
      "missing_outputs" -> wl.jobs.map(_.name).filterNot(written.contains),
      "check_failures" -> checkFails.toMap,
      "params" -> wl.params,
      "oracle_groups" -> groups,
      "pass_wall_s" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wallS)),
      "end_to_end" -> e2e,
      "per_layer" -> perLayer)
    Files.write(Paths.get(s"${a.out}/result.json"), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

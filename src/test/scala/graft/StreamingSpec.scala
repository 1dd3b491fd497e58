package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational
import graft.streaming.{EventStreams, GraphStreams, IngestStreams}

/** §2.7: streaming results must agree with their batch twins on a
  * finite source.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  lazy val sf = SharedSpark.sf

  private def rowKey(r: org.apache.spark.sql.Row): Seq[Any] =
    r.toSeq

  test("streaming window counts == batch eventsWindow") {
    val streamed = EventStreams.windowCounts(spark, sf).collect().map(rowKey).toSet
    val batch = Relational.eventsWindow(Tables.events(spark, sf)).collect().map(rowKey).toSet
    assert(streamed == batch)
  }

  test("streaming dedup drops planted duplicate events") {
    import org.apache.spark.sql.functions._
    // plant duplicates: write events twice into one stream directory
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dup-").toString
    val raw = spark.read
      .parquet(s"$sf/events.parquet")
    raw.write.parquet(s"$dir/events.parque[t]".replace("[t]", "t")) // dir/events.parquet part files
    raw.limit(100).write.mode("append").parquet(s"$dir/events.parquet")
    val got = EventStreams.dedupCounts(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf).groupBy("event_type")
      .agg(countDistinct("event_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, "duplicated first 100 events must be deduped")
    // Timeline-collapse guard (round 8): dedup totals are ts-SCALE-
    // INVARIANT, so a loader that misreads µs as ns (shrinking 720
    // hours into ~1) leaves this spec green. Pin the drained stream's
    // hour spread against the batch timeline so the green requires a
    // correctly-scaled event-time axis, not just correct totals.
    val streamHours = EventStreams.windowCounts(spark, dir)
      .select("bucket").distinct().count()
    val batchHours = Tables.events(spark, sf)
      .select(expr("ts_ns div 3600000000000")).distinct().count()
    assert(streamHours == batchHours,
      s"streamed hour spread $streamHours != batch $batchHours — timeline collapsed")
  }

  test("streaming restart from checkpoint processes only new files, result stays correct") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    val ev = spark.read.parquet(s"$sf/events.parquet")
    ev.limit(400).write.parquet(srcDir)

    def runOnce(qname: String): Unit = {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the srcDir copy re-encodes ts in whatever type the fixture
      // read produced — probe it rather than assume an encoding
      val q = spark.readStream
        .schema(EventStreams.eventsSchema(spark.read.parquet(srcDir).schema("ts").dataType))
        .parquet(srcDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(qname)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    runOnce("ckpt_run1")
    val firstTotal = spark.table("ckpt_run1").agg(sum("n")).head.getLong(0)
    assert(firstTotal == 400L)
    // new data arrives; restart from the same checkpoint
    ev.limit(500).write.mode("append").parquet(srcDir)
    runOnce("ckpt_run2")
    val secondTotal = spark.table("ckpt_run2").agg(sum("n")).head.getLong(0)
    assert(secondTotal == 900L, "resumed query must count old state + only-new files")
  }

  test("append-mode windowed agg: watermark-closed windows emit, the open tail is held back") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // the always-on deployment shape windowCounts' Complete-mode
    // comment points at: append emits each window exactly once, when
    // the watermark passes its end — so the sink only ever sees
    // finalized rows (what an upsert-free sink needs)
    val qname = "graft_stream_append_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStreams.readEventStream(spark, sf)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(qname)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitted = spark.table(qname).select(
      col("window.start").cast("long").as("ws"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = Relational.eventsWindow(Tables.events(spark, sf))
    val batchAll = batch.select(
      unix_timestamp(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("ws"),
      col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // every emitted window is final and exactly matches the batch count
    emitted.foreach { case (k, n) =>
      assert(batchAll(k) == n, s"window $k emitted non-final count")
    }
    // the held-back tail is exactly the windows the last watermark
    // (max event time - 1h) had not passed yet
    val maxWs = batchAll.keys.map(_._1).max
    val held = batchAll.keySet -- emitted.keySet
    assert(held.nonEmpty, "an open tail window must exist on a finite source")
    assert(held.forall(_._1 >= maxWs - 3600L),
      s"only windows inside the watermark horizon may be held: $held")
  }

  test("streaming NATIVE session windows (append) emit exactly the watermark-closed sessions") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val qname = "graft_stream_sw_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStreams.readEventStream(spark, sf)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"))
      .writeStream.format("memory").queryName(qname)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitted = spark.table(qname).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.Relational.sessionWindowAgg(Tables.events(spark, sf), 30)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(emitted.nonEmpty)
    // every emitted session is final: identical to the batch session
    emitted.foreach { case (k, n) =>
      assert(batch(k)._2 == n, s"session $k emitted non-final count")
    }
    // the held-back tail is exactly the sessions the final watermark
    // had not closed (session end inside the last hour of event time)
    val maxEndUs = batch.values.map(_._1).max
    val held = batch.keySet -- emitted.keySet
    assert(held.nonEmpty, "an open tail must exist on a finite source")
    held.foreach { k =>
      assert(batch(k)._1 >= maxEndUs - 3600000000L - 1800000000L,
        s"session $k held back but outside the watermark horizon")
    }
  }

  test("stateful sessionization == batch sessionize") {
    val streamed = EventStreams.sessionizeStateful(spark, sf, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Relational.sessionize(Tables.events(spark, sf), 30).collect()
      .map(r => (r.getLong(r.fieldIndex("user_id")), r.getLong(r.fieldIndex("session_id")),
        r.getLong(r.fieldIndex("n_events")), r.getDouble(r.fieldIndex("session_value")))).toSet
    assert(streamed == batch)
  }

  test("stateful aggregation state carries across restarts as new files arrive") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.types._
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-contin-").toString
    val src = s"$base/src"; val ckpt = s"$base/ckpt"
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    def addFile(name: String, rows: Seq[(String, Long)]): Unit = {
      val staging = s"$base/stage_$name"
      rows.toDF("k", "v").coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(src).mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    def runOnce(qn: String): Map[String, Long] = {
      val q = spark.readStream.schema(schema).parquet(src)
        .groupBy("k").agg(sum("v").as("total"))
        .writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(qn).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    addFile("b1", Seq(("a", 1L), ("a", 2L), ("b", 10L)))
    assert(runOnce("graft_contin_1") == Map("a" -> 3L, "b" -> 10L))
    // new data arrives while the query is down; the restarted query
    // must MERGE restored state with the new batch, not recompute or
    // double-count the old files
    addFile("b2", Seq(("a", 4L), ("c", 100L)))
    assert(runOnce("graft_contin_2") == Map("a" -> 7L, "b" -> 10L, "c" -> 100L))
  }

  test("maxFilesPerTrigger=1 splits the source into micro-batches; state still exact") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.types._
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-mbatch-").toString
    val src = s"$base/src"
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", LongType)))
    def addFile(name: String, rows: Seq[(String, Long)]): Unit = {
      val staging = s"$base/stage_$name"
      rows.toDF("k", "v").coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(src).mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    addFile("f1", Seq(("a", 1L), ("b", 10L)))
    addFile("f2", Seq(("a", 2L), ("c", 5L)))
    val qn = "graft_mbatch"
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
      .groupBy("k").agg(sum("v").as("total"))
      .writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 2, s"rate limit must force multiple micro-batches, saw $dataBatches")
    val got = spark.table(qn).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 3L, "b" -> 10L, "c" -> 5L))
  }

  test("restart from a real checkpoint reprocesses nothing (committed source offsets)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    def runOnce(qn: String): Long = {
      val q = EventStreams.readEventStream(spark, sf)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(qn)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Option(q.lastProgress).map(_.numInputRows).getOrElse(0L)
    }
    assert(runOnce("graft_ckpt_run_a") > 0, "first run must consume the source")
    // the second run shares the checkpoint: offsets are committed, so
    // an idempotent retry/restart must read zero new rows
    assert(runOnce("graft_ckpt_run_b") == 0L, "restart reprocessed committed offsets")
  }

  test("ingestPartitioned: full replay with a fresh checkpoint does not duplicate rows") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-ingest-").toString
    val out = s"$base/events_by_hour"
    IngestStreams.ingestPartitioned(spark, sf, out, s"$base/ckpt1")
    val once = spark.read.parquet(out).count()
    assert(once == Tables.events(spark, sf).count())
    // replay the whole source with a FRESH checkpoint (manifest lost /
    // backfill re-run): dynamic overwrite rewrites the same hour
    // partitions, so the row count must be unchanged
    IngestStreams.ingestPartitioned(spark, sf, out, s"$base/ckpt2")
    assert(spark.read.parquet(out).count() == once, "replay duplicated rows")
    // and the partition layout is the event-hour directories
    assert(spark.read.parquet(out).select("event_hour").distinct().count() > 1)
  }

  test("ingestPartitioned merges late arrivals into an already-written hour (no loss, no dups)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-upsert-").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def addFile(name: String, rows: Seq[(Long, Long, String, Double, java.sql.Timestamp)]): Unit = {
      val staging = s"$base/stage_$name"
      rows.toDF("event_id", "user_id", "event_type", "value", "ts")
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(src).mkdirs()
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    def runOnce(): Unit = IngestStreams.ingestPartitioned(
      spark.readStream.schema(schema).parquet(src), out, ckpt)
    // run 1: hour 10 gets events 1 and 2
    addFile("f1", Seq(
      (1L, 7L, "click", 1.0, ts("2024-01-01 10:00:01")),
      (2L, 7L, "view", 2.0, ts("2024-01-01 10:30:00"))))
    runOnce()
    // run 2: MORE hour-10 events arrive (3), plus event 2 re-delivered
    // — the already-written hour must keep 1, dedupe 2, and gain 3
    addFile("f2", Seq(
      (2L, 7L, "view", 2.0, ts("2024-01-01 10:30:00")),
      (3L, 8L, "purchase", 9.0, ts("2024-01-01 10:59:59"))))
    runOnce()
    val got = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L), s"hour partition lost or duplicated rows: ${got.toSeq}")
  }

  test("ingestPartitioned writes an event_id delivered twice in ONE batch exactly once") {
    import org.apache.spark.sql.types._
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-inbatch-").toString
    val src = s"$base/src"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // one source file = one micro-batch; event 5 appears twice in it
    new java.io.File(src).mkdirs()
    Seq(
      (5L, 7L, "click", 1.0, ts("2024-01-01 10:00:01")),
      (5L, 7L, "click", 1.0, ts("2024-01-01 10:00:01")),
      (6L, 8L, "view", 2.0, ts("2024-01-01 10:30:00")))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    IngestStreams.ingestPartitioned(
      spark.readStream.schema(schema).parquet(src), out, ckpt)
    val got = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(5L, 6L), s"within-batch duplicate not collapsed: ${got.toSeq}")
  }

  test("stream-static enrichment join == batch broadcast join + aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = EventStreams.enrichCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val batch = Tables.events(spark, sf).join(dim, "user_id")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))), 2)
          .cast("double").as("total_value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // Timeline-collapse guard (round 8): segment totals are ts-scale-
    // invariant; require the streamed hour spread to match batch (see
    // the dedup spec for the failure class this pins against).
    val streamHours = EventStreams.windowCounts(spark, sf)
      .select("bucket").distinct().count()
    val batchHours = Tables.events(spark, sf)
      .select(expr("ts_ns div 3600000000000")).distinct().count()
    assert(streamHours == batchHours,
      s"streamed hour spread $streamHours != batch $batchHours — timeline collapsed")
  }

  test("streaming funnel == batch funnel; late-arriving EARLIER events re-open stages exactly") {
    import org.apache.spark.sql.functions._
    // real fixture parity first: the drained final stages must equal
    // the batch greedy funnel user-for-user
    val streamed = EventStreams.streamFunnel(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Relational.funnel(Tables.events(spark, sf)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch, "funnel stages drifted from batch")
    assert(streamed.values.exists(_ == 3L), "fixture must contain full conversions")

    // the adversarial case the 3-longs state gets wrong: batch 1
    // delivers click(t=5), purchase(t=6) — no view yet, stage 0;
    // batch 2 delivers the EARLIER view(t=1): the buffered click and
    // purchase must re-admit, stage jumps 0 -> 3. A second user's
    // batch-2 view(t=7) arrives AFTER their click — stage stays 1.
    val hourNs = 3600000000000L
    val src = java.nio.file.Files.createTempDirectory("graft-funnel-ooo-").toString + "/ev"
    writeEventFile(src, "f1", 1000000L, Seq(
      (1L, 5L * hourNs, 100L, "click", 0.0, "{}"),
      (2L, 6L * hourNs, 100L, "purchase", 0.0, "{}"),
      (3L, 5L * hourNs, 200L, "click", 0.0, "{}")))
    writeEventFile(src, "f2", 2000000L, Seq(
      (4L, 1L * hourNs, 100L, "view", 0.0, "{}"),
      (5L, 7L * hourNs, 200L, "view", 0.0, "{}")))
    val (out, _) = EventStreams.streamFunnelOn(eventStreamFrom(src))
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 3L, 200L -> 1L),
      s"out-of-order re-admission broken: $got")
  }

  test("streaming retention == batch retention; late EARLIER event re-cohorts and shrinks the window exactly") {
    import org.apache.spark.sql.functions._
    val streamed = EventStreams.streamRetention(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Relational.retention(Tables.events(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, "retention table drifted from batch")
    assert(streamed.keys.map(_._2).max >= 1L, "fixture must have non-zero offsets")

    // out-of-order re-cohorting: batch 1 puts user 100 active at
    // hours 10 and 12 (cohort 10, offset 2 in-window); batch 2
    // delivers an EARLIER hour-5 event — cohort drops to 5, hours 10
    // and 12 exit the (maxOffset=3) window, leaving only offset 0
    val hourNs = 3600000000000L
    val src = java.nio.file.Files.createTempDirectory("graft-ret-ooo-").toString + "/ev"
    writeEventFile(src, "f1", 1000000L, Seq(
      (1L, 10L * hourNs, 100L, "view", 0.0, "{}"),
      (2L, 12L * hourNs, 100L, "view", 0.0, "{}")))
    writeEventFile(src, "f2", 2000000L, Seq(
      (3L, 5L * hourNs, 100L, "view", 0.0, "{}")))
    val (out, _) = EventStreams.streamRetentionOn(eventStreamFrom(src), 3)
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((5L, 0L) -> 1L),
      s"re-cohorting must evict out-of-window hours: $got")
  }

  test("streaming hopping-window counts == batch hoppingWindow") {
    val streamed = EventStreams.hoppingWindowCounts(spark, sf).collect().map(rowKey).toSet
    val batch = Relational.hoppingWindow(Tables.events(spark, sf)).collect().map(rowKey).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming source cap == batch sourceCap; late small-hash doc evicts a kept survivor") {
    import org.apache.spark.sql.functions._
    // fixture parity: the two-shard streamed quota equals the batch op
    val streamed = EventStreams.streamSourceCap(spark, sf, 15).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.TextAnalysis.sourceCap(Tables.documents(spark, sf), 15)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch, "streamed quota drifted from batch")
    assert(streamed.nonEmpty)

    // eviction across batches: cap=2, 3 docs of one source arrive in
    // hash-descending order over two batches — the last (smallest
    // hash) must evict the largest kept one, landing on the batch set
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "srcX"), (2L, "srcX"), (3L, "srcX"), (4L, "srcY"))
      .toDF("doc_id", "source")
    val base = java.nio.file.Files.createTempDirectory("graft-scap-spec-").toString
    val incoming = s"$base/incoming"
    // order by hash desc so the stream sees worst-case arrival
    val byHash = graft.operators.TextAnalysis.sourceCap(docs, 4).collect()
      .filter(_.getString(1) == "srcX").sortBy(_.getLong(2)).map(_.getLong(0))
    docs.filter(col("doc_id").isin(byHash.drop(1) :+ 4L: _*))
      .coalesce(1).write.mode("append").parquet(incoming)
    docs.filter(col("doc_id") === byHash.head)
      .coalesce(1).write.mode("append").parquet(incoming)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(incoming)
    val (out, _) = EventStreams.streamSourceCapOn(stream, 2)
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = graft.operators.TextAnalysis.sourceCap(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, s"eviction broken: got $got want $want")
  }

  test("FUZZ: streaming funnel == batch funnel on seeded random event sets split into arbitrary micro-batches") {
    import org.apache.spark.sql.functions._
    val types = Seq("view", "click", "purchase", "other")
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(300 + seed)
      var id = 0L
      val rows = (1 to 6 + rnd.nextInt(10)).flatMap { user =>
        (0 until 2 + rnd.nextInt(20)).map { _ =>
          id += 1
          (id, (1L + rnd.nextInt(360000)) * 1000000L, user.toLong,
            types(rnd.nextInt(types.size)), 0.0, "{}")
        }
      }
      // shuffle rows into 3 files: event-time order and batch order are
      // now unrelated — every cross-batch out-of-order shape gets hit
      val shuffled = rnd.shuffle(rows)
      val src = java.nio.file.Files.createTempDirectory(s"graft-funnel-fz$seed-")
        .toString + "/ev"
      shuffled.grouped((shuffled.size + 2) / 3).zipWithIndex.foreach {
        case (chunk, i) => writeEventFile(src, s"f$i", 1000000L * (i + 1), chunk)
      }
      val (out, _) = EventStreams.streamFunnelOn(eventStreamFrom(src))
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batchEvents = spark.read.parquet(src).withColumnRenamed("ts", "ts_ns")
      val want = Relational.funnel(batchEvents).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed=$seed: streamed funnel diverged")
    }
  }

  test("FUZZ: streaming retention == batch retention on seeded random event sets split into arbitrary micro-batches") {
    import org.apache.spark.sql.functions._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(400 + seed)
      var id = 0L
      val hourNs = 3600000000000L
      val rows = (1 to 6 + rnd.nextInt(10)).flatMap { user =>
        (0 until 1 + rnd.nextInt(15)).map { _ =>
          id += 1
          // hours 0..12 so cohort windows overlap and collide
          (id, rnd.nextInt(13).toLong * hourNs + rnd.nextInt(1000000).toLong * 1000L,
            user.toLong, "view", 0.0, "{}")
        }
      }
      val shuffled = rnd.shuffle(rows)
      val src = java.nio.file.Files.createTempDirectory(s"graft-ret-fz$seed-")
        .toString + "/ev"
      shuffled.grouped((shuffled.size + 2) / 3).zipWithIndex.foreach {
        case (chunk, i) => writeEventFile(src, s"f$i", 1000000L * (i + 1), chunk)
      }
      val (out, _) = EventStreams.streamRetentionOn(eventStreamFrom(src), 3)
      val got = out.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batchEvents = spark.read.parquet(src).withColumnRenamed("ts", "ts_ns")
      val want = Relational.retention(batchEvents).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"seed=$seed: streamed retention diverged")
    }
  }

  test("stateful hourly top-k leaderboard == batch hourly top-k, incl. throttled multi-batch run") {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("n").desc, col("event_type").asc)
    val batch = Tables.events(spark, sf)
      .groupBy(expr("ts_ns div 3600000000000").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = EventStreams.hourlyTopK(spark, sf, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // per-hour boards are complete: every hour has min(3, types-in-hour) rows
    val perHour = streamed.groupBy(_._1).view.mapValues(_.size)
    assert(perHour.values.forall(n => n >= 1 && n <= 3))
  }

  test("stream_anomaly: planted spike flagged; steady baseline, warmup, and open hours never") {
    import spark.implicits._
    val hourNs = 3600000000000L
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String, Double, String)]
    var id = 0L
    // type x: 1 event/hour for hours 0..19, a 100-event spike in hour
    // 20, then one event in hour 21 so the spike hour closes
    for (h <- 0 to 19) { rows += ((id, h * hourNs + 1, 1L, "x", 0.0, "{}")); id += 1 }
    for (i <- 0 until 100) { rows += ((id, 20 * hourNs + i + 1, 1L, "x", 0.0, "{}")); id += 1 }
    rows += ((id, 21 * hourNs + 1, 1L, "x", 0.0, "{}")); id += 1
    // type y: constant 5/hour — zero variance, zero excess, never flagged
    for (h <- 0 to 21; i <- 0 until 5) {
      rows += ((id, h * hourNs + i + 1, 2L, "y", 0.0, "{}")); id += 1
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-anom-").toString
    rows.toSeq.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = EventStreams.anomalousHours(spark, dir, minPriorHours = 8).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(("x", 20L)) === ((100L, true)), "spike hour must be flagged")
    assert((0 to 19).forall(h => !got(("x", h.toLong))._2), "warmup/baseline hours clean")
    assert(!got.contains(("x", 21L)) && !got.contains(("y", 21L)), "open hours excluded")
    assert(got.collect { case ((t, _), (_, a)) if t == "y" => a }.forall(!_),
      "constant series never anomalous")
  }

  private def writeEventFile(src: String, name: String, mtime: Long,
      rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    val spark2 = spark
    import spark2.implicits._
    val staging = java.nio.file.Files.createTempDirectory("graft-evstage-").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    new java.io.File(src).mkdirs()
    val dst = new java.io.File(s"$src/$name.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath)
    // deterministic file order for maxFilesPerTrigger=1 runs
    dst.setLastModified(mtime)
    ()
  }

  private def eventStreamFrom(src: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // writeEventFile emits ts as plain int64 nanos
    spark.readStream.schema(EventStreams.eventsSchema(org.apache.spark.sql.types.LongType))
      .option("maxFilesPerTrigger", "1").parquet(src)
      .withColumnRenamed("ts", "ts_ns")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
  }

  test("hourlyTopK retires closed-hour state via EventTimeTimeout; in-horizon straggler still counted") {
    import org.apache.spark.sql.functions._
    val hourNs = 3600000000000L
    val src = java.nio.file.Files.createTempDirectory("graft-topk-retire-").toString + "/ev"
    var id = 0L
    // offset from epoch 0: an event AT the initial watermark (0 ms)
    // would be boundary-dropped by the strict late-row filter
    val H0 = 100L
    def mk(h: Long, t: String, n: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until n).map { i => id += 1; (id, (H0 + h) * hourNs + i * 1000000L + 1, 1L, t, 0.0, "{}") }
    // three time-ordered files → three micro-batches (one per trigger)
    writeEventFile(src, "f1", 1000000L,
      (0L to 3L).flatMap(h => mk(h, "click", 3) ++ mk(h, "view", 1)))
    // f2 carries hours 4-7 PLUS a straggler for hour 3 — inside the
    // 1h watermark horizon at that point, so it must merge into the
    // still-live hour-3 state, not corrupt or be dropped
    writeEventFile(src, "f2", 2000000L,
      (4L to 7L).flatMap(h => mk(h, "click", 3) ++ mk(h, "view", 1)) ++ mk(3L, "view", 3))
    writeEventFile(src, "f3", 3000000L,
      (8L to 11L).flatMap(h => mk(h, "click", 3) ++ mk(h, "view", 1)))
    val (out, q) = EventStreams.hourlyTopK(eventStreamFrom(src), 2)
    val got = out.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // batch twin over ALL events incl. the straggler
    val all = spark.read.parquet(src).withColumnRenamed("ts", "ts_ns")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("n").desc, col("event_type").asc)
    val batch = all.groupBy(expr("ts_ns div 3600000000000").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == batch, "streamed boards must equal the batch twin, straggler included")
    // hour 3's board includes the straggler views (1 on-time + 3 late = 4 > 3 clicks)
    assert(got.contains((H0 + 3L, "view", 4L, 1L)), s"straggler not merged: $got")
    // state retirement: 12 hours flowed through, but closed hours were
    // timed out — the final batch must hold strictly fewer state rows
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows > 0 && stateRows < 12,
      s"EventTimeTimeout must retire closed hours: $stateRows state rows for 12 hours")
  }

  test("funnel/retention/transitions retire idle-user state via EventTimeTimeout; results unchanged") {
    import org.apache.spark.sql.functions._
    val hourNs = 3600000000000L
    val H0 = 100L
    // user 100 finishes a funnel in hour H0 then goes idle; user 200
    // is active 10-11 hours later, pushing the watermark past user
    // 100's 1-hour idle horizon — three time-ordered files so the
    // timeout can fire in the final batch
    def src(prefix: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString + "/ev"
      writeEventFile(dir, "f1", 1000000L, Seq(
        (1L, H0 * hourNs + 1L, 100L, "view", 0.0, "{}"),
        (2L, H0 * hourNs + 1000000L, 100L, "click", 0.0, "{}"),
        (3L, H0 * hourNs + 2000000L, 100L, "purchase", 0.0, "{}")))
      writeEventFile(dir, "f2", 2000000L, Seq(
        (4L, (H0 + 10L) * hourNs + 1L, 200L, "view", 0.0, "{}"),
        (5L, (H0 + 10L) * hourNs + 1000000L, 200L, "click", 0.0, "{}")))
      writeEventFile(dir, "f3", 3000000L, Seq(
        (6L, (H0 + 11L) * hourNs + 1L, 200L, "view", 0.0, "{}")))
      dir
    }
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.lastProgress.stateOperators.head.numRowsTotal

    val fDir = src("graft-funnel-retire-")
    val (fOut, fq) = EventStreams.streamFunnelOn(eventStreamFrom(fDir),
      idleHorizonHours = 1L, watermarkDelay = "1 hour")
    val fGot = fOut.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fWant = Relational.funnel(
      spark.read.parquet(fDir).withColumnRenamed("ts", "ts_ns")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fGot == fWant, s"funnel drifted under retirement: $fGot vs $fWant")
    assert(fGot(100L) == 3L, "retired user's final stage must survive in the sink")
    assert(stateRows(fq) == 1L,
      s"funnel: idle user 100 must be retired, got ${stateRows(fq)} state rows")

    val rDir = src("graft-ret-retire-")
    val (rOut, rq) = EventStreams.streamRetentionOn(eventStreamFrom(rDir), 3,
      idleHorizonHours = 1L, watermarkDelay = "1 hour")
    val rGot = rOut.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rWant = Relational.retention(
      spark.read.parquet(rDir).withColumnRenamed("ts", "ts_ns")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rGot == rWant, s"retention drifted under retirement: $rGot vs $rWant")
    assert(stateRows(rq) == 1L,
      s"retention: idle user 100 must be retired, got ${stateRows(rq)} state rows")

    val tDir = src("graft-trans-retire-")
    val (tOut, tq) = EventStreams.transitionsStatefulOn(eventStreamFrom(tDir),
      idleHorizonHours = 1L, watermarkDelay = "1 hour")
    val tGot = tOut.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val tWant = Relational.eventTransitions(
      spark.read.parquet(tDir).withColumnRenamed("ts", "ts_ns")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(tGot == tWant, s"transitions drifted under retirement: $tGot vs $tWant")
    assert(stateRows(tq) == 1L,
      s"transitions: idle user 100 must be retired, got ${stateRows(tq)} state rows")
  }

  test("stream_count_min: final per-hour estimates == batch CMS of the hour, across micro-batches") {
    import org.apache.spark.sql.functions._
    val hourNs = 3600000000000L
    val src = java.nio.file.Files.createTempDirectory("graft-cms-stream-").toString + "/ev"
    var id = 0L
    def mk(h: Long, t: String, n: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until n).map { i => id += 1; (id, h * hourNs + i * 1000000L + 1, 1L, t, 0.0, "{}") }
    // hour 101 spans BOTH files: the state matrix must accumulate
    // cell-wise across micro-batches into exactly the batch sketch
    // (hours offset +100h: epoch-0 events sit ON the initial
    // watermark and the strict late filter would drop them)
    writeEventFile(src, "f1", 1000000L, mk(100L, "click", 5) ++ mk(101L, "view", 2))
    writeEventFile(src, "f2", 2000000L, mk(101L, "view", 3) ++ mk(101L, "click", 4) ++ mk(102L, "scroll", 1))
    val got = EventStreams.hourlyCountMin(eventStreamFrom(src), 4, 64)._1.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // expected: batch CMS per hour, computed directly with the same kernel
    val byHour = spark.read.parquet(src).withColumnRenamed("ts", "ts_ns")
      .select(expr("ts_ns div 3600000000000").as("h"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byHour.foreach { case (h, types) =>
      val sketch = new Array[Long](4 * 64)
      types.foreach { t =>
        (0 until 4).foreach(j => sketch(j * 64 + graft.functions.CountMin.cell(j, t, 64)) += 1L)
      }
      types.distinct.foreach { t =>
        val want = graft.functions.CountMin.estimate(sketch, 4, 64, t)
        assert(got((h, t)) == ((want, types.size.toLong)),
          s"hour $h type $t: got ${got((h, t))}, want ($want, ${types.size})")
      }
    }
    assert(got.size == byHour.toSeq.map { case (_, ts) => ts.distinct.size }.sum)
  }

  test("stream_count_min parity on the standard source (the driver's oracle shape)") {
    val got = EventStreams.hourlyCountMin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val byHour = Tables.events(spark, sf)
      .selectExpr("ts_ns div 3600000000000 as h", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(got.nonEmpty)
    byHour.foreach { case (h, types) =>
      val sketch = new Array[Long](4 * 64)
      types.foreach { t =>
        (0 until 4).foreach(j => sketch(j * 64 + graft.functions.CountMin.cell(j, t, 64)) += 1L)
      }
      types.distinct.foreach { t =>
        assert(got((h, t))._1 == graft.functions.CountMin.estimate(sketch, 4, 64, t))
        assert(got((h, t))._2 == types.size.toLong)
      }
    }
  }

  test("stream_quantile: final per-hour estimates == batch histogram quantiles, across micro-batches") {
    import org.apache.spark.sql.functions._
    val hourNs = 3600000000000L
    val src = java.nio.file.Files.createTempDirectory("graft-qtl-stream-").toString + "/ev"
    var id = 0L
    def mk(h: Long, values: Seq[Double]): Seq[(Long, Long, Long, String, Double, String)] =
      values.zipWithIndex.map { case (v, i) =>
        id += 1; (id, h * hourNs + i * 1000000L + 1, 1L, "x", v, "{}")
      }
    // hour 101 spans both files; values straddle bin edges on purpose
    // (+100h offset — the epoch-0 watermark lesson)
    writeEventFile(src, "f1", 1000000L,
      mk(100L, Seq(1.5, 2.5, 3.5, 100.0)) ++ mk(101L, Seq(10.0, 10.9)))
    writeEventFile(src, "f2", 2000000L,
      mk(101L, Seq(11.0, 12.3, 9999.0, -3.0)) ++ mk(102L, Seq(0.0)))
    val got = EventStreams.hourlyQuantile(eventStreamFrom(src), Seq(500, 900, 990), 4095L)
      ._1.collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // batch twin computed directly: clamped floor bins, ceil-rank walk
    val byHour = spark.read.parquet(src).withColumnRenamed("ts", "ts_ns")
      .select(expr("ts_ns div 3600000000000").as("h"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byHour.foreach { case (h, values) =>
      val bins = values.map(v => math.min(math.max(math.floor(v).toLong, 0L), 4095L))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val n = values.size.toLong
      val cum = bins.scanLeft((Long.MinValue, 0L)) { case ((_, a), (b, c)) => (b, a + c) }.tail
      for (q <- Seq(500, 900, 990)) {
        val rank = (q.toLong * n + 999L) / 1000L
        val want = cum.find(_._2 >= rank).map(_._1 + 1L).get
        assert(got((h, q)) == ((want, n)), s"hour $h q=$q: got ${got((h, q))}, want ($want, $n)")
      }
    }
    assert(got.size == byHour.size * 3)
  }

  test("stream_anomaly never rewinds on a cross-batch late event: no duplicate verdicts, stats intact") {
    val hourNs = 3600000000000L
    val base = java.nio.file.Files.createTempDirectory("graft-anom-late-").toString
    var id = 0L
    def mk(h: Long, n: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until n).map { i => id += 1; (id, h * hourNs + i * 1000L + 1, 1L, "x", 0.0, "{}") }
    val onTime1 = (0L to 10L).flatMap(h => mk(h, 2))
    val onTime2 = (11L to 14L).flatMap(h => mk(h, 2))
    // clean run: both files on time
    val clean = s"$base/clean"
    writeEventFile(clean, "f1", 1000000L, onTime1)
    writeEventFile(clean, "f2", 2000000L, onTime2)
    val want = EventStreams.anomalousHours(eventStreamFrom(clean), 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // late run: f2 additionally re-delivers an event for hour 3 —
    // already closed in batch 1; the guard must DROP it instead of
    // rewinding curHour and re-closing hours 3..10 into the moments
    val late = s"$base/late"
    id = 0L
    writeEventFile(late, "f1", 1000000L, onTime1)
    writeEventFile(late, "f2", 2000000L, mk(3L, 1) ++ onTime2)
    val got = EventStreams.anomalousHours(eventStreamFrom(late), 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length,
      "late event caused duplicate per-hour verdicts")
    assert(got.sortBy(_._2).toSeq == want.sortBy(_._2).toSeq,
      "late event corrupted the closed-hour statistics")
  }

  test("scd2Ingest: multi-batch incremental intervals == batch scd2Intervals; straggler dropped; co-bucketed users survive") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-scd2-ing-").toString
    val src = s"$base/ev"; val out = s"$base/dim"; val ckpt = s"$base/ckpt"
    var id = 0L
    def ev(user: Long, tUs: Long, state: String): (Long, Long, Long, String, Double, String) = {
      id += 1; (id, tUs * 1000L, user, state, 0.0, "{}")
    }
    // users 1 and 17 share bucket 1 (mod 16); u1 changes state across
    // batches, u17 only appears in batch 1 and must survive batch 2's
    // rewrite of their shared bucket
    writeEventFile(src, "f1", 1000000L, Seq(
      ev(1L, 1000L, "a"), ev(1L, 2000L, "a"), ev(1L, 5000L, "b"),
      ev(17L, 1500L, "x"),
      ev(2L, 1000L, "p")))
    writeEventFile(src, "f2", 2000000L, Seq(
      ev(1L, 9000L, "a"),
      ev(2L, 7000L, "q"), ev(2L, 8000L, "q"),
      // straggler for u1 older than the open run (valid_from 5000):
      // must be dropped, not rewrite closed history
      ev(1L, 3000L, "z")))
    IngestStreams.scd2Ingest(eventStreamFrom(src), out, ckpt)
    val got = spark.read.parquet(out)
      .select("user_id", "run_id", "state", "valid_from_us", "valid_to_us", "n_obs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // batch twin over the SAME event set minus the dropped straggler
    val allEv = spark.read.parquet(src).withColumnRenamed("ts", "ts_ns")
      .filter(!(col("user_id") === 1L && col("event_type") === "z"))
    val want = graft.operators.Relational.scd2Intervals(allEv)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want, s"incremental dimension drifted:\n got=$got\nwant=$want")
    // spot checks: u1 runs a[1000,5000) n2, b[5000,9000) n1, a[9000,MAX) n1
    assert(got.contains((1L, 2L, "b", 5000L, 9000L, 1L)))
    assert(got.contains((1L, 3L, "a", 9000L, Long.MaxValue, 1L)))
    assert(got.contains((17L, 1L, "x", 1500L, Long.MaxValue, 1L)), "co-bucketed user lost")
  }

  test("ccIngest: cross-batch component merge == batch CC; labels append-only; replay is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-cc-replay-").toString
    val labels = s"$base/labels"; val merges = s"$base/merges"
    def resolve() = GraphStreams.ccResolve(spark, labels, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch 0: components {1,2} and {5,6}
    val b0 = Seq((1L, 2L), (5L, 6L)).toDF("doc_a", "doc_b")
    GraphStreams.ccMergeBatch(b0, 0L, labels, merges, 16)
    assert(resolve() == Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)))
    // batch 1: edge 2-5 MERGES them, and a new pair {9,10} arrives
    val b1 = Seq((2L, 5L), (9L, 10L)).toDF("doc_a", "doc_b")
    GraphStreams.ccMergeBatch(b1, 1L, labels, merges, 16)
    val after = resolve()
    // equals batch CC over all edges seen
    val want = graft.operators.Dedup.connectedComponents(
        b0.unionByName(b1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == want, s"incremental CC drifted: $after vs $want")
    assert(after == Set((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (9L, 9L), (10L, 9L)))
    // append-only: doc 5's STORED label still says component 5 — the
    // merge record, not a rewrite, carries the 5→1 collapse
    val raw = spark.read.parquet(labels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(raw(5L) == 5L && raw(6L) == 5L, s"labels were rewritten: $raw")
    // replayed batchId: no duplicate labels, no duplicate merges
    GraphStreams.ccMergeBatch(b1, 1L, labels, merges, 16)
    assert(resolve() == after, "replayed batch changed the resolved table")
    assert(spark.read.parquet(labels).count() == 6L, "replay appended duplicate labels")
    // compaction: labels rewritten to current roots, merge log
    // truncated, resolution unchanged
    GraphStreams.ccCompact(spark, labels, merges, 16)
    assert(resolve() == after, "compaction changed the resolved table")
    val compacted = spark.read.parquet(labels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(compacted(5L) == 1L && compacted(6L) == 1L,
      s"compaction must bake merges into labels: $compacted")
    // commit markers survived truncation: the replayed batch is STILL a no-op
    GraphStreams.ccMergeBatch(b1, 1L, labels, merges, 16)
    assert(resolve() == after && spark.read.parquet(labels).count() == 6L,
      "post-compaction replay must still skip")
    // and the log restarts cleanly: a genuinely new merge applies
    GraphStreams.ccMergeBatch(Seq((6L, 9L)).toDF("doc_a", "doc_b"), 2L, labels, merges, 16)
    assert(resolve() == Set((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (9L, 1L), (10L, 1L)),
      s"post-compaction merge drifted: ${resolve()}")
  }

  /** Stored incremental-CC state of one run: resolved table, label
    * rows (doc_id, component_id, bucket) and merge rows (old_comp,
    * new_comp, mb), the row lists sorted so they compare as multisets. */
  private def ccState(labels: String, merges: String) = {
    def rows(path: String, cols: String*): Seq[(Long, Long, Long)] =
      spark.read.parquet(path).select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map { r =>
          val l = (i: Int) => r.get(i).asInstanceOf[Number].longValue
          (l(0), l(1), l(2))
        }.toSeq.sorted
    (GraphStreams.ccResolve(spark, labels, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet,
      rows(labels, "doc_id", "component_id", "bucket"),
      rows(merges, "old_comp", "new_comp", "mb"))
  }

  /** Data files per partition directory under `root`. */
  private def partFiles(root: String): Map[String, Int] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
        .groupBy(_.getParent.toString).map { case (d, fs) => d -> fs.size }
    } finally s.close()
  }

  test("ccMergeBatch: driver and distributed paths write identical state (driverGate = 0 vs default)") {
    import spark.implicits._
    def drive(gate: Long) = {
      val base = java.nio.file.Files.createTempDirectory("graft-cc-gate-").toString
      val labels = s"$base/labels"; val merges = s"$base/merges"
      def batch(id: Long, edges: (Long, Long)*): Unit =
        GraphStreams.ccMergeBatch(edges.toDF("doc_a", "doc_b"), id, labels, merges, 16, gate)
      // the ccIngest replay sequence: merge, replay, compact, replay, merge
      batch(0L, (1L, 2L), (5L, 6L))
      batch(1L, (2L, 5L), (9L, 10L))
      batch(1L, (2L, 5L), (9L, 10L))
      GraphStreams.ccCompact(spark, labels, merges, 16)
      batch(1L, (2L, 5L), (9L, 10L))
      batch(2L, (6L, 9L))
      // three new components in buckets 1, 2 and 4...
      batch(3L, (17L, 33L), (34L, 50L), (100L, 116L))
      val before = partFiles(labels) ++ partFiles(merges)
      // ...then one batch whose endpoints span buckets 1, 2, 4, 8, 9
      // and 10: it merges 34 into 17 and 100 into 1, and labels new
      // docs several to a bucket (duplicate edge included)
      batch(4L, (33L, 50L), (116L, 10L), (200L, 34L), (216L, 200L), (232L, 216L),
        (201L, 217L), (33L, 50L))
      val after = partFiles(labels) ++ partFiles(merges)
      val written = after.map { case (d, n) => d -> (n - before.getOrElse(d, 0)) }
        .filter(_._2 > 0)
      (ccState(labels, merges), written)
    }
    val (dist, _) = drive(0L)
    val (local, written) = drive(100000L)
    val all = Seq((1L, 2L), (5L, 6L), (2L, 5L), (9L, 10L), (6L, 9L), (17L, 33L), (34L, 50L),
      (100L, 116L), (33L, 50L), (116L, 10L), (200L, 34L), (216L, 200L), (232L, 216L),
      (201L, 217L)).toDF("doc_a", "doc_b")
    val want = graft.operators.Dedup.connectedComponents(all)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local._1 == want, s"driver path drifted from batch CC: ${local._1} vs $want")
    assert(dist._1 == local._1, s"resolved tables differ: ${dist._1} vs ${local._1}")
    assert(dist._2 == local._2, s"label rows differ: ${dist._2} vs ${local._2}")
    assert(dist._3 == local._3, s"merge rows differ: ${dist._3} vs ${local._3}")
    // compaction truncated batch 1's 5 -> 1; the rest of the log stands
    assert(local._3.map(m => (m._1, m._2)).toSet == Set((9L, 1L), (34L, 17L), (100L, 1L)))
    // the one-pass path appends local frames coalesced to one
    // partition: at most one file per touched bucket — labels in
    // buckets 8 and 9, merges in mb 2 and 4
    assert(written.values.forall(_ == 1), s"more than one file per bucket: $written")
    assert(written.keySet.map(_.split("/").last) ==
      Set("bucket=8", "bucket=9", "mb=2", "mb=4"), s"unexpected touched buckets: $written")
  }

  test("ccMergeBatch crash window: merges appended, labels not; a replay on either gate closes it exactly") {
    import spark.implicits._
    val gates = Seq(0L, 100000L)
    val b0 = Seq((1L, 2L), (5L, 6L), (20L, 21L)).toDF("doc_a", "doc_b")
    val b1 = Seq((2L, 5L), (9L, 10L), (21L, 6L)).toDF("doc_a", "doc_b")
    val want = graft.operators.Dedup.connectedComponents(b0.unionByName(b1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (crashGate <- gates; replayGate <- gates) {
      val base = java.nio.file.Files.createTempDirectory("graft-cc-crash-").toString
      val labels = s"$base/labels"; val merges = s"$base/merges"
      GraphStreams.ccMergeBatch(b0, 0L, labels, merges, 16, crashGate)
      GraphStreams.ccFailAfterMerges = true
      intercept[IllegalStateException] {
        GraphStreams.ccMergeBatch(b1, 1L, labels, merges, 16, crashGate)
      }
      assert(!GraphStreams.ccFailAfterMerges, "failpoint must be one-shot")
      // the crash landed inside the window: merges in, new labels not
      val (_, crashedLabels, crashedMerges) = ccState(labels, merges)
      assert(crashedMerges.map(m => (m._1, m._2)).toSet == Set((5L, 1L), (20L, 1L)),
        s"crash $crashGate: merges not appended before the crash: $crashedMerges")
      assert(crashedLabels.map(_._1).toSet == Set(1L, 2L, 5L, 6L, 20L, 21L),
        s"crash $crashGate: labels appended before the crash: $crashedLabels")
      GraphStreams.ccMergeBatch(b1, 1L, labels, merges, 16, replayGate)
      val (resolved, lbl, mrg) = ccState(labels, merges)
      assert(resolved == want, s"crash $crashGate, replay $replayGate: $resolved vs $want")
      assert(lbl.map(_._1).distinct.size == lbl.size, s"duplicate doc_id in labels: $lbl")
      // committed: a further replay of the same batchId is a no-op
      GraphStreams.ccMergeBatch(b1, 1L, labels, merges, 16, replayGate)
      assert(ccState(labels, merges) == ((resolved, lbl, mrg)),
        s"crash $crashGate, replay $replayGate: post-marker replay changed state")
    }
  }

  test("ccMergeBatch: a doc stored under two components merges both, on either gate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val states = Seq(0L, 100000L).map { gate =>
      val base = java.nio.file.Files.createTempDirectory("graft-cc-dup-").toString
      val labels = s"$base/labels"; val merges = s"$base/merges"
      // doc 4 holds two label rows, as a replayed crash can leave it:
      // components 1 and 3 share it, so both must merge
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (4L, 1L)).toDF("doc_id", "component_id")
        .withColumn("bucket", pmod(col("doc_id"), lit(16L)))
        .write.partitionBy("bucket").parquet(labels)
      GraphStreams.ccMergeBatch(Seq((4L, 9L)).toDF("doc_a", "doc_b"), 0L, labels, merges, 16, gate)
      ccState(labels, merges)
    }
    assert(states.head == states.last, s"paths differ: ${states.head} vs ${states.last}")
    val (resolved, _, mrg) = states.last
    assert(resolved == Set(1L, 2L, 3L, 4L, 9L).map(_ -> 1L), s"components not merged: $resolved")
    assert(mrg.map(m => (m._1, m._2)) == Seq((3L, 1L)), s"merge rows: $mrg")
  }

  test("streamedPhashDedup == batch phashSummary; cross-batch near-dup found via pruned state; replay no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val streamed = asMap(IngestStreams.streamedPhashDedup(spark, sf).collect())
    val batch = asMap(graft.operators.Multimodal
      .phashSummary(Tables.documents(spark, sf)).collect())
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // hand batches: doc 11 (batch 1) is a permutation of doc 2
    // (batch 0) — identical byte histogram, hamming 0 — the pair
    // must be found via the maintained band state, not a rescan
    val state = java.nio.file.Files.createTempDirectory("graft-ph-replay-").toString + "/state"
    val b0 = Seq((2L, "abcdef", "web"), (4L, "zzzzzzzzqqqq", "web"))
      .toDF("doc_id", "text", "source")
    val b1 = Seq((11L, "fedcba", "web")).toDF("doc_id", "text", "source")
    IngestStreams.phashBatch(b0, 0L, state, 16)
    IngestStreams.phashBatch(b1, 1L, state, 16)
    val res = IngestStreams.phashResolve(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(res(2L) === 1L && res(11L) === 1L, s"cross-batch permutation pair missed: $res")
    val nPairs = spark.read.parquet(s"$state/pairs").count()
    IngestStreams.phashBatch(b1, 1L, state, 16)
    assert(spark.read.parquet(s"$state/pairs").count() == nPairs,
      "replay appended duplicate pairs")
  }

  test("streamedNovelty == batch noveltyProfile; cross-batch first-occurrence wins in either arrival order; replay no-ops") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val streamed = asMap(IngestStreams.streamedNovelty(spark, sf))
    val batch = asMap(TextAnalysis.noveltyProfile(Tables.documents(spark, sf)))
    assert(streamed == batch && streamed.nonEmpty)
    // hand batches in REVERSE doc order: the LATER-arriving doc 1
    // still wins first occurrence (min-fold is order-free)
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val state = java.nio.file.Files.createTempDirectory("graft-nov-replay-").toString + "/state"
    IngestStreams.noveltyBatch(docs((2L, "alpha beta gamma delta epsilon")), 0L, state)
    IngestStreams.noveltyBatch(docs((1L, "alpha beta gamma delta epsilon")), 1L, state)
    def res() = asMap(IngestStreams.noveltyResolve(spark, state))
    assert(res() == Map(1L -> ((3L, 3L, 1.0)), 2L -> ((3L, 0L, 0.0))),
      s"reverse arrival broke first-occurrence: ${res()}")
    // crash-window replay: delta overwrite + marker make it a no-op
    val marker = new org.apache.hadoop.fs.Path(s"$state/_nov_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.noveltyBatch(docs((1L, "alpha beta gamma delta epsilon")), 1L, state)
    assert(res() == Map(1L -> ((3L, 3L, 1.0)), 2L -> ((3L, 0L, 0.0))))
    // empty state resolves empty
    assert(IngestStreams.noveltyResolve(spark, s"$state-nope").count() == 0)
  }

  test("streamedBm25 == batch bm25TopK; resolve prunes to query-term buckets; replay no-ops; cross-batch df is corpus-exact") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val terms = Seq("spark", "window", "vector")
    def asSeq(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq.sortBy(_._4)
    val streamed = asSeq(IngestStreams.streamedBm25(spark, sf, terms))
    val batch = asSeq(TextAnalysis.bm25TopK(
      Tables.documents(spark, sf), terms))
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven batches: df/N/avgdl must be CORPUS stats, not
    // per-shard — "spark" appears once per shard (df=2 globally),
    // and doc 3 (both terms) must out-rank single-term docs
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val state = java.nio.file.Files.createTempDirectory("graft-bm25-replay-")
      .toString + "/state"
    IngestStreams.bm25IndexBatch(
      docs((1L, "spark shuffle plan"), (3L, "spark window join")), 0L, state)
    IngestStreams.bm25IndexBatch(
      docs((4L, "window frame"), (6L, "alpha beta gamma")), 1L, state)
    def res() = IngestStreams.bm25Resolve(spark, state, terms, 20)
    val union = docs((1L, "spark shuffle plan"), (3L, "spark window join"),
      (4L, "window frame"), (6L, "alpha beta gamma"))
    assert(asSeq(res()) == asSeq(TextAnalysis.bm25TopK(union, terms)),
      "maintained index != batch scoring on the drained union")
    assert(res().head.getLong(0) == 3L, "both-term doc must rank first")
    // pruned read: the resolve plan's posting scan carries a bkt
    // partition filter (only query-term buckets are touched)
    val plan = res().queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt"),
      s"posting scan not partition-pruned:\n$plan")
    // crash-window replay: delta overwrite + marker make it a no-op
    val marker = new org.apache.hadoop.fs.Path(s"$state/_bm25_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.bm25IndexBatch(
      docs((4L, "window frame"), (6L, "alpha beta gamma")), 1L, state)
    assert(asSeq(res()) == asSeq(TextAnalysis.bm25TopK(union, terms)),
      "replayed batch perturbed the index")
    // empty state resolves empty
    assert(IngestStreams.bm25Resolve(spark, s"$state-nope", terms).count() == 0)
  }

  test("bm25Compact: folded base + fresh deltas answer identically; watermark excludes folded dirs without deletion; crash-window batch never folds; healSwap restores a retired base") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val terms = Seq("spark", "window", "vector")
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val b0 = docs((1L, "spark shuffle plan"), (3L, "spark window join"))
    val b1 = docs((4L, "window frame"), (6L, "alpha beta gamma"))
    val b2 = docs((8L, "vector spark window"))
    val union = docs((1L, "spark shuffle plan"), (3L, "spark window join"),
      (4L, "window frame"), (6L, "alpha beta gamma"), (8L, "vector spark window"))
    def asSeq(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq.sortBy(_._4)
    val state = java.nio.file.Files.createTempDirectory("graft-bm25-compact-")
      .toString + "/state"
    IngestStreams.bm25IndexBatch(b0, 0L, state)
    IngestStreams.bm25IndexBatch(b1, 1L, state)
    // plant a CRASH-WINDOW batch: dir written, marker missing — the
    // fold must skip it (marker list drives the fold, not dirs)
    IngestStreams.bm25IndexBatch(b2, 2L, state)
    val m2 = new org.apache.hadoop.fs.Path(s"$state/_bm25_commits/2")
    val fs = m2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(m2, false))
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/stats/batch=2"), true)
    IngestStreams.bm25Compact(spark, state)
    // folded watermark covers 0..1, batch 2's dir survives unfolded
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/postings_base")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$state/postings/batch=0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/postings/batch=2")))
    // retry of the crashed batch lands as a fresh delta; resolve
    // reads base + delta and matches the batch operator exactly
    IngestStreams.bm25IndexBatch(b2, 2L, state)
    def res() = asSeq(IngestStreams.bm25Resolve(spark, state, terms, 20))
    assert(res() == asSeq(TextAnalysis.bm25TopK(union, terms)),
      "base + delta resolve != batch scoring")
    // phrase face reads the same compacted state
    val ph = IngestStreams.phraseResolve(spark, state, Seq("spark", "window"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ph == Map(3L -> 1L, 8L -> 1L), s"phrase over compacted: $ph")
    // duplicate-exclusion without deletion: a second compact folds
    // batch 2; even though we resurrect a stale folded dir, the
    // watermark filter keeps it out of every read
    IngestStreams.bm25Compact(spark, state)
    assert(res() == asSeq(TextAnalysis.bm25TopK(union, terms)),
      "second compact changed answers")
    // crash mid-swap: retire the base (install died before rename);
    // healSwap on next entry restores it
    val live = new org.apache.hadoop.fs.Path(s"$state/postings_base")
    val retired = new org.apache.hadoop.fs.Path(s"$state/postings_base_swap_retired")
    assert(fs.rename(live, retired))
    assert(res() == asSeq(TextAnalysis.bm25TopK(union, terms)),
      "healSwap did not restore the retired base")
  }

  test("bm25Compact folds ONLY the contiguous marker run above the watermark: a batch whose marker lands late (gap) is never silently excluded") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val terms = Seq("spark", "window", "vector", "delta")
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val b0 = docs((1L, "spark shuffle plan"))
    val b1 = docs((3L, "spark window join"))
    val b2 = docs((5L, "delta lake window"))
    val b3 = docs((7L, "vector spark window"))
    val union = docs((1L, "spark shuffle plan"), (3L, "spark window join"),
      (5L, "delta lake window"), (7L, "vector spark window"))
    def asSeq(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq.sortBy(_._4)
    val state = java.nio.file.Files.createTempDirectory("graft-bm25-gap-")
      .toString + "/state"
    Seq((b0, 0L), (b1, 1L), (b2, 2L), (b3, 3L)).foreach { case (b, id) =>
      IngestStreams.bm25IndexBatch(b, id, state)
    }
    // GAP: batch 2's marker lands late (compaction racing a
    // crash/replay window) — markers present: {0, 1, 3}
    val m2 = new org.apache.hadoop.fs.Path(s"$state/_bm25_commits/2")
    val fs = m2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(m2, false))
    IngestStreams.bm25Compact(spark, state)
    // the fold must stop AT the gap: watermark 1, batch 3 unfolded —
    // folding past it would bump the watermark over batch 2 and its
    // postings would be invisible to every read forever
    def foldedMax(): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$state/postings_base/_folded_max")
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
    }
    assert(foldedMax() == 1L, s"fold crossed the marker gap: ${foldedMax()}")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$state/postings/batch=3")))
    def res() = asSeq(IngestStreams.bm25Resolve(spark, state, terms, 20))
    assert(res() == asSeq(TextAnalysis.bm25TopK(union, terms)),
      "gapped fold lost a batch")
    // batch 2's marker lands (replay); the NEXT compaction folds 2..3
    IngestStreams.bm25IndexBatch(b2, 2L, state)
    IngestStreams.bm25Compact(spark, state)
    assert(foldedMax() == 3L)
    assert(res() == asSeq(TextAnalysis.bm25TopK(union, terms)),
      "post-gap fold changed answers")
  }

  test("maintained-index faces are total on an empty corpus: all-empty batches leave no posting data files and every resolve returns empty instead of failing schema inference") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-fix-").toString
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    assert(IngestStreams.streamedBm25(spark, dir, Seq("spark")).count() == 0)
    assert(IngestStreams.streamedPhraseSearch(spark, dir, Seq("a", "b")).count() == 0)
    assert(IngestStreams.streamedHybridRrf(spark, dir, Seq("spark")).count() == 0)
    assert(IngestStreams.streamedOutliers(spark, dir).count() == 0)
    assert(IngestStreams.streamedAnnPca(spark, dir).count() == 0)
  }

  test("streamedAnnPca skips empty-batch gram rows: an empty FIRST batch must not zero the basis, an empty LATER batch must not index past its empty flat") {
    import spark.implicits._
    def fixture(ids: Seq[Long]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-pca-par-").toString
      val rows = ids.map { i =>
        (i, (0 until 8).map(j => ((i * 7 + j * 3) % 11).toFloat - 5.0f), (i % 3).toInt)
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    // all-ODD vec_ids: the even-parity shard is batch 0 → the (dim=0,
    // empty) gram row comes FIRST (the silently-empty-basis case)
    // queries are vec_id < numQueries, so with numQueries=6 the odd
    // fixture serves {1,3,5} and the even fixture {2,4}
    val oddRes = IngestStreams.streamedAnnPca(
      spark, fixture((0 until 16).map(i => 2L * i + 1)),
      numQueries = 6, k = 3, dOut = 4, shortlist = 8)
    assert(oddRes.count() > 0, "empty-first gram row zeroed the basis")
    assert(oddRes.select("query_id").distinct().count() == 3)
    // all-EVEN vec_ids: the empty gram row comes SECOND (the
    // IndexOutOfBounds case pre-fix)
    val evenRes = IngestStreams.streamedAnnPca(
      spark, fixture((1 to 16).map(i => 2L * i)),
      numQueries = 6, k = 3, dOut = 4, shortlist = 8)
    assert(evenRes.count() > 0)
    assert(evenRes.select("query_id").distinct().count() == 2)
  }

  test("streamedSuffixProfile == batch dupMassProfile row for row (the maintained window store resolves the identical profile)") {
    import graft.operators.Suffix
    def asSeq(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until 6).map(r.getLong)).toSeq.sortBy(_.head)
    val streamed = asSeq(IngestStreams.streamedSuffixProfile(spark, sf))
    val batch = asSeq(Suffix.dupMassProfile(Tables.documents(spark, sf)))
    assert(streamed == batch)
    assert(streamed.exists(_(2) > 0L), "fixture has no duplication — vacuous")
  }

  test("suffix window store: a LATE batch introducing cross-batch duplication is counted by the maintained profile; compaction and replay change nothing") {
    import spark.implicits._
    import graft.operators.Suffix
    // batch 0: two docs with no repeated 8-gram anywhere
    val a = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ!@#$"
    val b0 = Seq((2L, a), (4L, "zyxwvutsrqponmlkjihgfedcba~%^&*()_+=")).toDF("doc_id", "text")
    val state = java.nio.file.Files.createTempDirectory("graft-sfx-retro-")
      .toString + "/state"
    IngestStreams.suffixBatch(b0, 0L, state)
    def prof() = IngestStreams.suffixProfileResolve(spark, state)
      .collect().map(r => (0 until 6).map(r.getLong)).toSeq.sortBy(_.head)
    assert(prof().forall(_(2) == 0L), "unique corpus must profile clean")
    // batch 1: a doc duplicating a's 32-char prefix — dup mass appears
    // at L=8/16/32 retroactively, counting BOTH positions of each pair
    val b1 = Seq((5L, "PREFIX:" + a.substring(0, 32))).toDF("doc_id", "text")
    IngestStreams.suffixBatch(b1, 1L, state)
    val union = b0.unionByName(b1)
    def asSeq(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until 6).map(r.getLong)).toSeq.sortBy(_.head)
    val want = asSeq(Suffix.dupMassProfile(union))
    assert(prof() == want, "late-batch duplication not counted")
    assert(want.exists(_(2) > 0L))
    // the LSM fold is answer-invariant, and a replayed batch no-ops
    IngestStreams.suffixCompact(spark, state)
    assert(prof() == want, "compaction changed the profile")
    IngestStreams.suffixBatch(b1, 1L, state)
    assert(prof() == want, "replayed batch changed the profile")
    // empty store resolves the all-zero profile, not a throw
    assert(IngestStreams.suffixProfileResolve(spark, s"$state-nope")
      .collect().forall(r => (1 until 6).forall(i => r.getLong(i) == 0L)))
  }

  test("streamedPhraseSearch == batch phraseSearch: the maintained positional index answers phrase queries exactly") {
    import graft.operators.TextAnalysis
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val phrase = Seq("fast", "table")
    val streamed = asSet(IngestStreams.streamedPhraseSearch(spark, sf, phrase))
    val batch = asSet(TextAnalysis.phraseSearch(
      Tables.documents(spark, sf), phrase))
    assert(streamed == batch && streamed.nonEmpty)
    // empty state resolves empty
    assert(IngestStreams.phraseResolve(spark, "/tmp/graft-nope-phrase", phrase)
      .count() == 0)
  }

  test("streamedOutliers == batch robustOutliers bit-for-bit; streamedAnnPca matches the batch PCA path; gram replay no-ops") {
    import spark.implicits._
    import graft.operators.Similarity
    val streamed = IngestStreams.streamedOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    val batch = Similarity.robustOutliers(Tables.embeddings(spark, sf))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // PCA over the maintained Gram: basis differs from the batch pass
    // only by fold-order ulps, so the 80-row result overlaps the
    // batch path's near-perfectly (and exactly on this fixture)
    val sAnn = IngestStreams.streamedAnnPca(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bAnn = Similarity.annTopKPcaRerank(Tables.embeddings(spark, sf), 8, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sAnn.size == 80, s"expected 80 rows, got ${sAnn.size}")
    val overlap = (sAnn intersect bAnn).size.toDouble / bAnn.size
    assert(overlap >= 0.9, s"maintained-Gram basis diverged: overlap $overlap")
    // gram replay: marker + overwrite make it a no-op
    val state = java.nio.file.Files.createTempDirectory("graft-vecg-replay-")
      .toString + "/state"
    def vecs(rows: (Long, Seq[Float], Int)*) =
      rows.toSeq.toDF("vec_id", "embedding", "label")
    IngestStreams.vecGramBatch(vecs((1L, Seq(1f, 2f), 0)), 0L, state)
    IngestStreams.vecGramBatch(vecs((1L, Seq(1f, 2f), 0)), 0L, state)
    assert(spark.read.parquet(s"$state/gram").count() == 1 &&
      spark.read.parquet(s"$state/vecs").count() == 1,
      "replayed gram batch duplicated state")
    val g = spark.read.parquet(s"$state/gram")
      .select("gram").as[Seq[Double]].head
    assert(g == Seq(1.0, 2.0, 0.0, 4.0), s"gram upper triangle wrong: $g")
  }

  test("streamedLangSpans == batch langSpans; replay no-ops (stateless per-doc segmentation)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val streamed = asSet(IngestStreams.streamedLangSpans(spark, sf))
    val batch = asSet(TextAnalysis.langSpans(Tables.documents(spark, sf)))
    assert(streamed == batch && streamed.nonEmpty)
    val state = java.nio.file.Files.createTempDirectory("graft-lspan-replay-")
      .toString + "/state"
    val docs = Seq((1L, "the cat and the dog of the house is that"))
      .toDF("doc_id", "text")
    IngestStreams.langSpansBatch(docs, 0L, state)
    IngestStreams.langSpansBatch(docs, 0L, state)
    assert(spark.read.parquet(s"$state/spans").count() == 1,
      "replayed span batch duplicated rows")
  }

  test("streamedWeightedSample == batch weightedSample bit-for-bit; per-batch deltas are k-bounded; replay no-ops") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def asSeq(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(_._4)
    val streamed = asSeq(IngestStreams.streamedWeightedSample(spark, sf, 50))
    val batch = asSeq(TextAnalysis.weightedSample(Tables.documents(spark, sf), 50))
    assert(streamed == batch && streamed.size == 50)
    // hand batches at k=2: deltas hold at most k rows, the global
    // top-k folds across batches, replay is a no-op
    def docs(rows: (Long, Long)*) = rows.toSeq.toDF("doc_id", "n_chars")
    val state = java.nio.file.Files.createTempDirectory("graft-wsamp-replay-")
      .toString + "/state"
    IngestStreams.wsampleBatch(docs((1L, 10L), (2L, 10L), (3L, 10L)), 0L, state, k = 2)
    assert(spark.read.parquet(s"$state/wsamp").count() == 2, "delta not k-bounded")
    IngestStreams.wsampleBatch(docs((4L, 10L), (5L, 10L)), 1L, state, k = 2)
    def res() = TextAnalysis.weightedSampleTop(
      spark.read.parquet(s"$state/wsamp").select("doc_id", "weight", "key_nanos"), 2)
    val want = asSeq(TextAnalysis.weightedSample(
      docs((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L), (5L, 10L))
        .withColumn("text", org.apache.spark.sql.functions.lit("")), 2))
    assert(asSeq(res()) == want, s"fold != batch: ${asSeq(res())} vs $want")
    val marker = new org.apache.hadoop.fs.Path(s"$state/_wsamp_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.wsampleBatch(docs((4L, 10L), (5L, 10L)), 1L, state, k = 2)
    assert(asSeq(res()) == want, "replay perturbed the reservoir")
  }

  test("streamedHybridRrf == batch hybridRrf: both maintained arms drain to the batch rankings; vec-store replay no-ops") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val terms = Seq("spark", "window", "vector")
    def asSeq(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(_._5)
    val streamed = asSeq(IngestStreams.streamedHybridRrf(spark, sf, terms))
    val batch = asSeq(TextAnalysis.hybridRrf(Tables.documents(spark, sf),
      Tables.embeddings(spark, sf), terms))
    assert(streamed == batch && streamed.nonEmpty)
    // vec-store replay: marker + overwrite make it a no-op
    val state = java.nio.file.Files.createTempDirectory("graft-vec-replay-")
      .toString + "/state"
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq.toDF("vec_id", "embedding")
    IngestStreams.vecStoreBatch(vecs((1L, Seq(1f, 0f))), 0L, state)
    IngestStreams.vecStoreBatch(vecs((1L, Seq(1f, 0f))), 0L, state)
    assert(spark.read.parquet(s"$state/vecs").count() == 1,
      "replayed vec batch duplicated rows")
  }

  test("streamedContamination == batch contamination; late eval shingle retro-flags stored train doc; replay no-ops") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val streamed = asMap(IngestStreams.streamedContamination(spark, sf))
    val batch = asMap(TextAnalysis.contamination(Tables.documents(spark, sf)))
    assert(streamed == batch && streamed.nonEmpty)
    // hand batches, eval ARRIVING LAST: doc 1 (train) lands in batch
    // 0 with no eval vocab at all; eval doc 50 lands in batch 1 and
    // must retro-flag doc 1's overlapping shingles via term2
    def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val state = java.nio.file.Files.createTempDirectory("graft-cont-replay-")
      .toString + "/state"
    val trainTxt = "alpha beta gamma delta epsilon zeta" // 2 5-shingles
    IngestStreams.contaminationBatch(docs((1L, trainTxt)), 0L, state)
    def res() = asMap(IngestStreams.contaminationResolve(spark, state))
    assert(res() == Map(1L -> ((2L, 0L, 0.0))), s"pre-eval state: ${res()}")
    IngestStreams.contaminationBatch(
      docs((50L, "alpha beta gamma delta epsilon omega")), 1L, state)
    assert(res() == Map(1L -> ((2L, 1L, 0.5))),
      s"late eval failed to retro-flag: ${res()}")
    // same-batch train+eval and an already-known shingle: doc 7
    // repeats the flagged shingle (must count once for doc 7, and
    // NOT recount doc 1); eval doc 100 adds nothing new
    IngestStreams.contaminationBatch(
      docs((7L, "alpha beta gamma delta epsilon"),
        (100L, "alpha beta gamma delta epsilon")), 2L, state)
    assert(res() == Map(1L -> ((2L, 1L, 0.5)), 7L -> ((1L, 1L, 1.0))),
      s"same-batch/known-shingle attribution broke: ${res()}")
    // crash-window replay of the retro batch: a double-counted hit
    // would show as doc 1 -> n_contaminated 2
    val marker = new org.apache.hadoop.fs.Path(s"$state/_cont_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.contaminationBatch(
      docs((50L, "alpha beta gamma delta epsilon omega")), 1L, state)
    assert(res() == Map(1L -> ((2L, 1L, 0.5)), 7L -> ((1L, 1L, 1.0))),
      s"replay double-counted: ${res()}")
    // empty state resolves empty
    assert(IngestStreams.contaminationResolve(spark, s"$state-nope").count() == 0)
  }

  test("streamedQualityTopP == batch qualityTopP: global rank over the incrementally maintained scores") {
    import graft.operators.TextAnalysis
    def asSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    val streamed = asSet(IngestStreams.streamedQualityTopP(spark, sf).collect())
    val batch = asSet(TextAnalysis.qualityTopP(Tables.documents(spark, sf)).collect())
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streamedPhashDecoded == batch phashSummaryDecoded; cross-batch DCT twin found via maintained state") {
    import spark.implicits._
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val streamed = asMap(IngestStreams.streamedPhashDecoded(spark, sf).collect())
    val batch = asMap(graft.operators.Multimodal
      .phashSummaryDecoded(Tables.documents(spark, sf)).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand batches: doc 11 (batch 1) renders to the same PNG as doc
    // 2 (batch 0) — identical byte histogram -> identical pixels ->
    // DCT hamming 0 — found via the maintained band state
    def png(t: String) = graft.operators.Multimodal.pngFromPayload(t.getBytes("UTF-8"))
    val state = java.nio.file.Files.createTempDirectory("graft-phd-replay-").toString + "/state"
    val b0 = Seq((2L, png("abcdef")), (4L, png("zzzzzzzzqqqq"))).toDF("doc_id", "payload")
    val b1 = Seq((11L, png("fedcba"))).toDF("doc_id", "payload")
    IngestStreams.phashBatch(b0, 0L, state, 16, decoded = true)
    IngestStreams.phashBatch(b1, 1L, state, 16, decoded = true)
    val res = IngestStreams.phashResolve(spark, state).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(res(2L) === 1L && res(11L) === 1L,
      s"cross-batch decoded twin missed: $res")
  }

  test("phash cap crossing: a bucket that outgrows the cap retro-drops its stored pairs at resolve") {
    import spark.implicits._
    val state = java.nio.file.Files.createTempDirectory("graft-ph-cap-").toString + "/state"
    // A and B are permutations (identical histogram); C joins the
    // same bucket in batch 1, pushing its df from 2 to 3 > cap=2
    val b0 = Seq((1L, "abcdef", "web"), (2L, "fedcba", "web"))
      .toDF("doc_id", "text", "source")
    val b1 = Seq((3L, "cbafed", "web")).toDF("doc_id", "text", "source")
    IngestStreams.phashBatch(b0, 0L, state, 16, maxBandDf = 2)
    def degrees() = IngestStreams.phashResolve(spark, state, maxBandDf = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(degrees() == Map(1L -> 1L, 2L -> 1L),
      s"under-cap pair must resolve: ${degrees()}")
    IngestStreams.phashBatch(b1, 1L, state, 16, maxBandDf = 2)
    // the (1,2) pair is still in the pairs store, but the final df
    // re-filter must exclude it — equal to batch capped semantics
    assert(spark.read.parquet(s"$state/pairs").count() >= 1L)
    assert(degrees() == Map(1L -> 0L, 2L -> 0L, 3L -> 0L),
      s"over-cap bucket must retro-drop its pairs: ${degrees()}")
    val batch = graft.operators.Multimodal
      .phashSummary(b0.unionAll(b1), maxBandDf = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(degrees() == batch, "streamed resolve drifted from batch capped semantics")
  }

  test("streamedQualityAudit == batch qualityDedupAudit; cross-batch dup suppressed; replay is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // full-fixture parity with the batch audit (shared oracle claim)
    val streamed = asMap(IngestStreams.streamedQualityAudit(spark, sf).collect())
    val batch = asMap(graft.operators.Pipeline
      .qualityDedupAudit(Tables.documents(spark, sf)).collect())
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // hand-driven batches: doc 2 (batch 0) and doc 11 (batch 1) share
    // content — batch 1's doc must count as kept but NOT unique
    val good = "the and cat dog bird fish goat lion wolf bear deer mole " +
      "horse sheep mouse tiger otter eagle crow dove"
    val state = java.nio.file.Files.createTempDirectory("graft-qa-replay-").toString + "/state"
    val b0 = Seq((2L, good, "web"), (3L, "too short", "web")).toDF("doc_id", "text", "source")
    val b1 = Seq((11L, good, "web"), (12L, good + " extra", "web")).toDF("doc_id", "text", "source")
    IngestStreams.qualityAuditBatch(b0, 0L, state, 16)
    val after0 = asMap(IngestStreams.qualityAuditResolve(spark, state).collect())
    assert(after0("web") === ((2L, 1L, 1L, 20L)))
    IngestStreams.qualityAuditBatch(b1, 1L, state, 16)
    val after1 = asMap(IngestStreams.qualityAuditResolve(spark, state).collect())
    // doc 11: kept but a cross-batch dup; doc 12: kept and unique
    assert(after1("web") === ((4L, 3L, 2L, 41L)))
    // replay: no state or count drift
    IngestStreams.qualityAuditBatch(b1, 1L, state, 16)
    assert(asMap(IngestStreams.qualityAuditResolve(spark, state).collect()) == after1)
    // crash-window retry: state writes landed but the commit marker
    // did NOT — delete batch 1's marker and re-run. The per-batch
    // counts overwrite must not double-count and the batch_id-tagged
    // kept_hashes self-exclusion must keep doc 12 counted as unique.
    val markerPath = new org.apache.hadoop.fs.Path(s"$state/_qa_commits/1")
    val mfs = markerPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(markerPath, false), "expected batch 1 marker to exist")
    IngestStreams.qualityAuditBatch(b1, 1L, state, 16)
    assert(asMap(IngestStreams.qualityAuditResolve(spark, state).collect()) == after1,
      "crash-window retry drifted the audit counts")
  }

  test("streamedCdcDedup == batch cdcDedup; cross-batch block accounting; replay and crash-window retry are no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val streamed = asMap(IngestStreams.streamedCdcDedup(spark, sf).collect())
    val batch = asMap(graft.operators.Dedup.cdcDedup(
      Tables.documents(spark, sf)).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven: a chunk whose two copies arrive in DIFFERENT
    // batches must still account (the whole point of the store)
    val rnd = new scala.util.Random(31L)
    val blk = Seq.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString
    val other = Seq.fill(300)(('a' + rnd.nextInt(26)).toChar).mkString
    val state = java.nio.file.Files.createTempDirectory("graft-cdc-replay-").toString + "/state"
    IngestStreams.cdcDedupBatch(Seq((1L, blk)).toDF("doc_id", "text"), 0L, state)
    assert(IngestStreams.cdcDedupResolve(spark, state).count() == 0L,
      "single copies must not account as duplicated")
    IngestStreams.cdcDedupBatch(Seq((2L, blk), (3L, other)).toDF("doc_id", "text"), 1L, state)
    val after = asMap(IngestStreams.cdcDedupResolve(spark, state).collect())
    assert(after.nonEmpty && after.values.forall(v => v._1 == 1L && v._2 == 2L),
      s"cross-batch duplicate blocks must resolve to (survivor 1, copies 2): $after")
    // replay + crash-window retry
    IngestStreams.cdcDedupBatch(Seq((2L, blk), (3L, other)).toDF("doc_id", "text"), 1L, state)
    assert(asMap(IngestStreams.cdcDedupResolve(spark, state).collect()) == after)
    val marker = new org.apache.hadoop.fs.Path(s"$state/_cdc_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.cdcDedupBatch(Seq((2L, blk), (3L, other)).toDF("doc_id", "text"), 1L, state)
    assert(asMap(IngestStreams.cdcDedupResolve(spark, state).collect()) == after,
      "crash-window retry drifted the chunk store")
    // the min-clamp face: per-doc-local fold means per-batch chunking
    // still equals whole-corpus chunking — streamed == batch at minLen 16
    val streamedMin = asMap(IngestStreams.streamedCdcDedup(spark, sf, minLen = 16).collect())
    val batchMin = asMap(graft.operators.Dedup.cdcDedupMin(
      Tables.documents(spark, sf)).collect())
    assert(streamedMin == batchMin && streamedMin.nonEmpty)
    // ...and the full size envelope streams identically too
    val streamedCl = asMap(IngestStreams.streamedCdcDedup(
      spark, sf, minLen = 16, maxLen = 128).collect())
    val batchCl = asMap(graft.operators.Dedup.cdcDedupClamped(
      Tables.documents(spark, sf)).collect())
    assert(streamedCl == batchCl && streamedCl.nonEmpty)
  }

  test("streamedQualityRetrain: accumulated-store distributed retrain == local full-batch model; labeled-store replay is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.TextAnalysis
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val got = asMap(IngestStreams.streamedQualityRetrain(spark, sf).collect())
    // the streamed face must reproduce scoring under the LOCAL
    // full-batch reference artifact — exact-Long gradients make the
    // distributed retrain over the accumulated store bit-equal
    val want = asMap(TextAnalysis.qualityClassify(
      Tables.documents(spark, sf), TextAnalysis.qualityClfFullArtifact).collect())
    assert(got == want && got.nonEmpty)
    // labeled-store replay: a committed batch re-delivery is a no-op
    val state = java.nio.file.Files.createTempDirectory("graft-clfrt-replay-").toString + "/state"
    val b0 = Seq((0L, "join merge window", true)).toDF("id", "text", "label")
    IngestStreams.labeledCorpusBatch(b0, 0L, state)
    val n0 = spark.read.parquet(s"$state/labeled").count()
    IngestStreams.labeledCorpusBatch(b0, 0L, state)
    assert(spark.read.parquet(s"$state/labeled").count() == n0,
      "replayed labeled batch appended duplicates")
  }

  test("streamedQualityHotswap: mid-stream versioned cut-over; uncommitted weights invisible; retry rescores whole-batch under the current version") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.TextAnalysis
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3), r.getLong(4)))).toMap
    val got = asMap(IngestStreams.streamedQualityHotswap(spark, sf).collect())
    // even docs scored under v1, odd under v2 — each slice must equal
    // its batch scorer twin, version-stamped
    val docs = Tables.documents(spark, sf)
    val wantV1 = TextAnalysis.qualityClassify(
        docs.filter(col("doc_id") % 2 === 0), TextAnalysis.qualityClfArtifact)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3), 1L))).toMap
    val wantV2 = TextAnalysis.qualityClassify(
        docs.filter(col("doc_id") % 2 =!= 0), TextAnalysis.qualityClfFullArtifact)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3), 2L))).toMap
    assert(got == wantV1 ++ wantV2 && wantV1.nonEmpty && wantV2.nonEmpty)
    // the swap must be observable: the two artifacts disagree on at
    // least one weight, else the cut-over test is vacuous
    assert(TextAnalysis.qualityClfArtifact._1 != TextAnalysis.qualityClfFullArtifact._1)

    // hand-driven state machine
    val state = java.nio.file.Files.createTempDirectory("graft-hs-replay-").toString + "/state"
    val b = Seq((1L, "join merge window stream"), (2L, "a the a the")).toDF("doc_id", "text")
    IngestStreams.publishWeights(spark, state, 1L, TextAnalysis.qualityClfArtifact)
    // a HALF-PUBLISHED version (table written, no marker) is invisible
    TextAnalysis.qualityClfSaveWeights(TextAnalysis.qualityClfFullArtifact,
      s"$state/weights/version=2", spark)
    assert(IngestStreams.currentWeightsVersion(spark, state) == 1L,
      "unmarked weight version became visible")
    IngestStreams.qualityHotswapBatch(b, 0L, state)
    val scored0 = spark.read.parquet(s"$state/scored")
    assert(scored0.select("weights_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // committing the marker makes v2 current; a replay of the
    // committed batch is a no-op (stays v1)
    IngestStreams.publishWeights(spark, state, 2L, TextAnalysis.qualityClfFullArtifact)
    assert(IngestStreams.currentWeightsVersion(spark, state) == 2L)
    IngestStreams.qualityHotswapBatch(b, 0L, state)
    assert(spark.read.parquet(s"$state/scored")
      .select("weights_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L), "replayed committed batch rescored")
    // crash-window RETRY (marker lost): the whole batch rescores
    // under the CURRENT version — never half-old half-new, no dups
    val n0 = spark.read.parquet(s"$state/scored").count()
    val marker = new org.apache.hadoop.fs.Path(s"$state/_hs_commits/0")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.qualityHotswapBatch(b, 0L, state)
    val retried = spark.read.parquet(s"$state/scored")
    assert(retried.count() == n0, "retry duplicated scored rows")
    assert(retried.select("weights_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "retried batch must rescore uniformly under the current version")
  }

  test("streamedKllQuantiles: error bound holds through the sketch store; replay/retry no-ops; state stays KB-sized") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.Kll
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val out = IngestStreams.streamedKllQuantiles(spark, sf).collect()
    assert(out.length == 6)
    // the audit columns carry the proof: measured rank error <= 2%
    out.foreach { r =>
      assert(r.getLong(6) == n)
      assert(r.getLong(5) <= 20000L,
        s"q=${r.getInt(0)}: streamed-store rank error ${r.getLong(5)} ppm")
    }
    // hand-driven store: replay and crash-window retry are no-ops,
    // and each stored sketch is bounded (state size independent of rows)
    val state = java.nio.file.Files.createTempDirectory("graft-kll-replay-").toString + "/state"
    val b = (1L to 500L).map(i => (i, "a", i % 97)).toDF("doc_id", "source", "n_chars")
    IngestStreams.kllSketchBatch(b, 0L, state, 64)
    val s0 = IngestStreams.kllSketchResolve(spark, state).get
    assert(s0.n == 500L && Kll.totalWeight(s0) == 500L)
    assert(Kll.size(s0) <= 4 * 64, s"stored sketch too large: ${Kll.size(s0)}")
    IngestStreams.kllSketchBatch(b, 0L, state, 64) // full replay: marker no-op
    assert(IngestStreams.kllSketchResolve(spark, state).get == s0)
    val marker = new org.apache.hadoop.fs.Path(s"$state/_kll_commits/0")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.kllSketchBatch(b, 0L, state, 64) // retry: overwrite, no dup sketch
    assert(IngestStreams.kllSketchResolve(spark, state).get.n == 500L,
      "crash-window retry double-counted the batch")
    // empty store resolves None
    val emptyState = java.nio.file.Files.createTempDirectory("graft-kll-empty-").toString + "/state"
    assert(IngestStreams.kllSketchResolve(spark, emptyState).isEmpty)
  }

  test("streamedSourceDrift == batch sourceDriftAlarm; delta replay is a no-op; empty state resolves empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val streamed = asMap(IngestStreams.streamedSourceDrift(spark, sf).collect())
    val batch = asMap(graft.operators.TextAnalysis.sourceDriftAlarm(
      Tables.documents(spark, sf)).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven delta replay: a committed batch re-delivery is a no-op
    val state = java.nio.file.Files.createTempDirectory("graft-drift-replay-").toString + "/state"
    val b = Seq((0L, "a", 10L), (1L, "a", 20L)).toDF("doc_id", "source", "n_chars")
    IngestStreams.sourceDriftBatch(b, 0L, state)
    val r0 = asMap(IngestStreams.sourceDriftResolve(spark, state).collect())
    IngestStreams.sourceDriftBatch(b, 0L, state)
    assert(asMap(IngestStreams.sourceDriftResolve(spark, state).collect()) == r0,
      "replayed drift deltas double-counted")
    // crash-window retry (marker lost): overwrite semantics, counts unchanged
    val marker = new org.apache.hadoop.fs.Path(s"$state/_drift_commits/0")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.sourceDriftBatch(b, 0L, state)
    assert(asMap(IngestStreams.sourceDriftResolve(spark, state).collect()) == r0,
      "crash-window retry drifted the counts")
    // empty state resolves to an empty alarm table, not a throw
    val emptyState = java.nio.file.Files.createTempDirectory("graft-drift-empty-").toString + "/state"
    assert(IngestStreams.sourceDriftResolve(spark, emptyState).count() == 0)
  }

  test("multiBfsBatch: late smaller ids re-elect the source set; resolves == batch twins; replay is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val state = java.nio.file.Files.createTempDirectory("graft-mbfs-replay-").toString + "/state"
    // batch 0: a path among LARGE ids (sources elected: 10, 11, 12)
    val b0 = Seq((10L, 11L), (11L, 12L), (12L, 13L)).toDF("u", "v")
    GraphStreams.multiBfsBatch(b0, 0L, state, 3)
    val r0 = GraphStreams.multiBfsResolve(spark, state, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(r0.keySet.map(_._1) == Set(10L, 11L, 12L), s"initial sources wrong: $r0")
    // batch 1: smaller ids 1-2 attach to the path at 10 — the top-3
    // source set becomes {1, 2, 10}; the fresh seeds must relax over
    // the WHOLE maintained graph, and 11/12's stale claims must not
    // surface
    val b1 = Seq((1L, 2L), (2L, 10L)).toDF("u", "v")
    GraphStreams.multiBfsBatch(b1, 1L, state, 3)
    val r1 = GraphStreams.multiBfsResolve(spark, state, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(r1.keySet.map(_._1) == Set(1L, 2L, 10L), s"re-election failed: $r1")
    // full distances from the late source 1 across the old region
    assert(r1((1L, 13L)) == 5L && r1((1L, 10L)) == 2L && r1((2L, 12L)) == 3L,
      s"late seed did not relax across the maintained graph: $r1")
    // exact parity with the batch operator over the union
    val union = b0.unionAll(b1)
    val batchHist = graft.operators.Graph.bfsHopHistogram(union, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamHist = r1.toSeq.groupBy(_._2).map { case (d, xs) => d -> xs.size.toLong }
    assert(streamHist == batchHist, s"histogram drifted: $streamHist vs $batchHist")
    // replay: marker short-circuits, nothing drifts
    GraphStreams.multiBfsBatch(b1, 1L, state, 3)
    assert(GraphStreams.multiBfsResolve(spark, state, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap == r1)
    // a distance-neutral batch (re-delivered known edge, no new
    // source) must NOT scan the maintained edge store, and reads
    // only its endpoints' + sources' dist buckets
    val er0 = graft.streaming.MaintIO.edgeStoreReads.get()
    val db0 = graft.streaming.MaintIO.distBucketReads.get()
    GraphStreams.multiBfsBatch(Seq((11L, 12L)).toDF("u", "v"), 2L, state, 3)
    assert(GraphStreams.multiBfsResolve(spark, state, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap == r1)
    assert(graft.streaming.MaintIO.edgeStoreReads.get() == er0,
      "distance-neutral batch scanned the maintained edge store")
    assert(graft.streaming.MaintIO.distBucketReads.get() - db0 <= 5,
      "distance-neutral batch read beyond its endpoint + source buckets")
    // compaction: stale sources' (11, 12) claims drop, resolve is
    // bit-identical, markers survive replay
    val rawClaims = spark.read.parquet(s"$state/dist").count()
    GraphStreams.multiBfsStateCompact(spark, state)
    val afterCompact = GraphStreams.multiBfsResolve(spark, state, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(afterCompact == r1, "compaction changed the resolve")
    val compClaims = spark.read.parquet(s"$state/dist").count()
    assert(compClaims == r1.size && compClaims < rawClaims,
      s"expected exactly the ${r1.size} live claims, got $compClaims (was $rawClaims)")
    val (mc, ml, _) = GraphStreams.bfsStateStats(spark, state)
    assert(mc == ml && ml == r1.size, "multi stats disagree post-compaction")
    assert(spark.read.parquet(s"$state/dist")
        .select("src").distinct().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 10L),
      "stale-source claims survived compaction")
    GraphStreams.multiBfsBatch(b1, 1L, state, 3)
    assert(GraphStreams.multiBfsResolve(spark, state, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap == r1)
  }

  test("streamedQualityClassify == batch scorer; replay and crash-window retry are no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val streamed = asMap(IngestStreams.streamedQualityClassify(spark, sf)
      .select("doc_id", "n_feats", "logit", "keep").collect())
    val batch = asMap(graft.operators.TextAnalysis.qualityClassify(
      Tables.documents(spark, sf)).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // crash-window retry on a hand-driven batch
    val state = java.nio.file.Files.createTempDirectory("graft-clf-replay-").toString + "/state"
    val b = Seq((1L, "join merge window stream"), (2L, "a the a the")).toDF("doc_id", "text")
    IngestStreams.qualityClassifyBatch(b, 0L, state)
    val after = spark.read.parquet(s"$state/scored").count()
    IngestStreams.qualityClassifyBatch(b, 0L, state) // full replay: marker no-op
    assert(spark.read.parquet(s"$state/scored").count() == after)
    val marker = new org.apache.hadoop.fs.Path(s"$state/_clf_commits/0")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.qualityClassifyBatch(b, 0L, state) // retry: overwrite, no dup rows
    assert(spark.read.parquet(s"$state/scored").count() == after,
      "crash-window retry duplicated scored rows")
  }

  test("streamedUrlDedup == batch urlDedup; replay and crash-window retry are no-ops; shard order irrelevant") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // full-fixture parity with the batch operator (shared oracle)
    val streamed = asMap(IngestStreams.streamedUrlDedup(spark, sf).collect())
    val batch = asMap(graft.operators.Dedup.urlDedup(
      graft.operators.Dedup.syntheticUrls(Tables.documents(spark, sf))).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven batches in REVERSED doc_id order: resolve's global
    // min is order-independent, the later-arriving smaller doc_id
    // must still win survivorship
    val state = java.nio.file.Files.createTempDirectory("graft-url-replay-").toString + "/state"
    val b0 = Seq((10L, "http://example.com/p?a=1"), (11L, "http://other.com/q"))
      .toDF("doc_id", "url")
    val b1 = Seq((2L, "HTTP://Example.COM/p/?a=1&utm_x=1"), (3L, "http://example.com/p?a=2"))
      .toDF("doc_id", "url")
    IngestStreams.urlDedupBatch(b0, 0L, state, 16)
    IngestStreams.urlDedupBatch(b1, 1L, state, 16)
    val after = asMap(IngestStreams.urlDedupResolve(spark, state).collect())
    assert(after == Map(
      "http://example.com/p?a=1" -> ((2L, 2L)),
      "http://example.com/p?a=2" -> ((3L, 1L)),
      "http://other.com/q" -> ((11L, 1L))), s"got $after")
    // full replay: marker short-circuits
    IngestStreams.urlDedupBatch(b1, 1L, state, 16)
    assert(asMap(IngestStreams.urlDedupResolve(spark, state).collect()) == after)
    // crash-window retry: state written, marker missing — the
    // per-batch overwrite must not double-count
    val marker = new org.apache.hadoop.fs.Path(s"$state/_url_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.urlDedupBatch(b1, 1L, state, 16)
    assert(asMap(IngestStreams.urlDedupResolve(spark, state).collect()) == after,
      "crash-window retry drifted the url dedup table")
  }

  test("streamedScc == batch SCC; a late edge closes a cycle through OLD condensation edges; replay/retry no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.GraphStreams
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full-fixture parity with the batch operator (shared oracle)
    val streamed = asMap(GraphStreams.streamedScc(spark, sf).collect())
    val batch = asMap(graft.operators.Graph.stronglyConnectedComponents(
      graft.operators.Graph.itemSequenceEdges(Tables.lineitem(spark, sf))).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven: batch 0 is a pure DAG (every node a singleton);
    // batch 1's single edge closes a cycle that runs through BOTH of
    // batch 0's edges — only the maintained condensation makes that
    // merge findable
    val base = java.nio.file.Files.createTempDirectory("graft-scc-replay-").toString
    val (lbls, mrg, qe) = (s"$base/labels", s"$base/merges", s"$base/qedges")
    GraphStreams.sccMergeBatch(Seq((5L, 7L), (7L, 9L)).toDF("u", "v"), 0L, lbls, mrg, qe, 4)
    val after0 = asMap(GraphStreams.sccResolve(spark, lbls, mrg).collect())
    assert(after0 == Map(5L -> 5L, 7L -> 7L, 9L -> 9L), s"got $after0")
    GraphStreams.sccMergeBatch(Seq((9L, 5L)).toDF("u", "v"), 1L, lbls, mrg, qe, 4)
    val after1 = asMap(GraphStreams.sccResolve(spark, lbls, mrg).collect())
    assert(after1 == Map(5L -> 5L, 7L -> 5L, 9L -> 5L),
      s"cycle through old condensation edges must merge: $after1")
    // a later NEW node cycling with the merged SCC joins it; a plain
    // dangling edge stays a singleton
    GraphStreams.sccMergeBatch(Seq((11L, 5L), (7L, 11L), (13L, 5L)).toDF("u", "v"),
      2L, lbls, mrg, qe, 4)
    val after2 = asMap(GraphStreams.sccResolve(spark, lbls, mrg).collect())
    assert(after2 == Map(5L -> 5L, 7L -> 5L, 9L -> 5L, 11L -> 5L, 13L -> 13L),
      s"got $after2")
    // full replay: marker short-circuits
    GraphStreams.sccMergeBatch(Seq((9L, 5L)).toDF("u", "v"), 1L, lbls, mrg, qe, 4)
    assert(asMap(GraphStreams.sccResolve(spark, lbls, mrg).collect()) == after2)
    // crash-window retry of batch 2: duplicate merge/label rows must
    // close to the same map and dedup at resolve
    val marker = new org.apache.hadoop.fs.Path(s"$mrg/_scc_commits/2")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    GraphStreams.sccMergeBatch(Seq((11L, 5L), (7L, 11L), (13L, 5L)).toDF("u", "v"),
      2L, lbls, mrg, qe, 4)
    assert(asMap(GraphStreams.sccResolve(spark, lbls, mrg).collect()) == after2,
      "crash-window retry drifted the maintained SCC labels")
    // state stats: labels cover all five nodes, merges recorded the
    // three collapses (7, 9 into 5; 11 into 5 — plus the retried
    // batch's harmless duplicates), and the condensation holds only
    // the surviving cross-SCC edge 13 -> 5
    val (nl, nm, nq) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(nl == 5L && nm >= 3L && nq == 1L, s"state stats ($nl, $nm, $nq)")
    // empty state resolves empty
    assert(GraphStreams.sccResolve(spark, s"$base/nope", mrg).count() == 0)
  }

  test("streamedMst: maintained forest == batch Borůvka over the union; a cheap late edge EVICTS its cycle's heavy edge; replay/retry no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.streaming.GraphStreams
    // full-fixture parity through the shared threshold-identity
    // oracle shape: streamed summary == batch summary
    val streamed = GraphStreams.streamedMstSummary(spark, sf).head()
    val batch = graft.operators.Graph.mstSummary(
      graft.operators.Graph.coPurchaseWeightedEdges(Tables.lineitem(spark, sf))).head()
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // hand-driven eviction: batch 0 forest {(1,2,5), (2,3,9)}; batch
    // 1's cheap (1,3,5) closes the cycle and EVICTS the 9-edge
    val base = java.nio.file.Files.createTempDirectory("graft-mst-replay-").toString
    val state = s"$base/state"
    def forest() = spark.read.parquet(s"$state/forest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    GraphStreams.mstBatch(Seq((1L, 2L, 5L), (2L, 3L, 9L)).toDF("u", "v", "w"),
      0L, state)
    assert(forest() == Set((1L, 2L, 5L), (2L, 3L, 9L)))
    GraphStreams.mstBatch(Seq((1L, 3L, 5L)).toDF("u", "v", "w"), 1L, state)
    assert(forest() == Set((1L, 2L, 5L), (1L, 3L, 5L)),
      s"heavy cycle edge must be evicted: ${forest()}")
    // crash-window retry: marker deleted, rerun — the identity makes
    // it idempotent (MST(MST(A ∪ B) ∪ B) = MST(A ∪ B))
    val marker = new org.apache.hadoop.fs.Path(s"$state/_mst_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    GraphStreams.mstBatch(Seq((1L, 3L, 5L)).toDF("u", "v", "w"), 1L, state)
    assert(forest() == Set((1L, 2L, 5L), (1L, 3L, 5L)))
    // committed replay short-circuits
    GraphStreams.mstBatch(Seq((9L, 10L, 1L)).toDF("u", "v", "w"), 1L, state)
    assert(forest() == Set((1L, 2L, 5L), (1L, 3L, 5L)))
    // summary from the maintained forest
    val s1 = GraphStreams.mstResolveSummary(spark, state).head()
    assert((s1.getLong(0), s1.getLong(1), s1.getLong(2)) == ((2L, 10L, 1L)))
    // empty state resolves to the zero row
    val s0 = GraphStreams.mstResolveSummary(spark, s"$base/nope").head()
    assert((s0.getLong(0), s0.getLong(1), s0.getLong(2)) == ((0L, 0L, 0L)))
  }

  test("sccCompactIfDue cadence: the trigger fires once the merge log crosses the ratio, defers inside an open crash window, and the triggered drive resolves identically to the untriggered twin") {
    import spark.implicits._
    import graft.streaming.GraphStreams
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    def mkState() = {
      val b = java.nio.file.Files.createTempDirectory("graft-scc-cad-").toString
      (s"$b/labels", s"$b/merges", s"$b/qedges")
    }
    val (lbls, mrg, qe) = mkState()
    val (lbls2, mrg2, qe2) = mkState() // untriggered twin
    val cadence = Some((0.5, 4L))
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 1L)), // 3-cycle: 2 merges — below minLog
      Seq((4L, 5L), (5L, 6L), (6L, 4L))) // +2 merges: 4 >= max(4, 0.5*6) — due
    batches.zipWithIndex.foreach { case (es, i) =>
      GraphStreams.sccMergeBatch(es.toDF("u", "v"), i.toLong, lbls, mrg, qe, 4, cadence)
      GraphStreams.sccMergeBatch(es.toDF("u", "v"), i.toLong, lbls2, mrg2, qe2, 4)
    }
    def res(l: String, m: String) = asMap(GraphStreams.sccResolve(spark, l, m).collect())
    // the second batch tripped the cadence: log truncated, labels baked
    val (nl, nm, _) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(nm == 0L, s"cadence did not fire: $nm merge rows remain")
    assert(nl == 6L, s"labels not baked to one row per node: $nl")
    val (_, nm2, _) = GraphStreams.sccStateStats(spark, lbls2, mrg2, qe2)
    assert(nm2 == 4L, s"untriggered twin should keep its log: $nm2")
    assert(res(lbls, mrg) == res(lbls2, mrg2) &&
      res(lbls, mrg) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L),
      s"triggered drive diverged: ${res(lbls, mrg)} vs ${res(lbls2, mrg2)}")
    // deferral: a due compaction inside an open crash window must NOT
    // fire (the r13 refusal, now observable through the trigger)
    GraphStreams.sccFailAfterMerges = true
    intercept[IllegalStateException] {
      GraphStreams.sccMergeBatch(Seq((7L, 1L), (1L, 7L)).toDF("u", "v"), 2L,
        lbls, mrg, qe, 4, cadence)
    }
    val (_, nmCrash, _) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(nmCrash > 0L)
    assert(!GraphStreams.sccCompactIfDue(spark, lbls, mrg, 4, ratio = 0.0, minLog = 0L),
      "due compaction fired inside an open crash window")
    val (_, nmStill, _) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(nmStill == nmCrash, "deferred compaction still mutated the log")
    // the retry closes the window; the next cadence check fires
    GraphStreams.sccMergeBatch(Seq((7L, 1L), (1L, 7L)).toDF("u", "v"), 2L,
      lbls, mrg, qe, 4, cadence)
    assert(GraphStreams.sccCompactIfDue(spark, lbls, mrg, 4, ratio = 0.0, minLog = 0L)
      || GraphStreams.sccStateStats(spark, lbls, mrg, qe)._2 == 0L)
    assert(res(lbls, mrg) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 1L))
  }

  test("sccCompactIfDue probe is metadata-only: a not-due batch pays zero state-store count scans, the manifest tracks real counts exactly, and a crash falls back to recounting") {
    import spark.implicits._
    import graft.streaming.{GraphStreams, MaintIO}
    val base = java.nio.file.Files.createTempDirectory("graft-scc-meta-").toString
    val (lbls, mrg, qe) = (s"$base/labels", s"$base/merges", s"$base/qedges")
    val cadence = Some((0.5, 1000000L)) // never due: the probe still runs each batch
    // batch 0 on a fresh store: one fallback recount (no manifest yet)
    GraphStreams.sccMergeBatch(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v"),
      0L, lbls, mrg, qe, 4, cadence)
    // steady state: batch + its cadence probe read ONLY the manifest
    val before = MaintIO.stateCountScans.get()
    GraphStreams.sccMergeBatch(Seq((4L, 5L), (5L, 6L), (6L, 4L)).toDF("u", "v"),
      1L, lbls, mrg, qe, 4, cadence)
    assert(MaintIO.stateCountScans.get() == before,
      "a not-due batch paid a state-store count scan — the probe is not metadata-only")
    // the manifest is not a guess: it matches the real table counts
    val (nl, nm, _) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(GraphStreams.sccCounts(spark, lbls, mrg) == ((nl, nm)),
      s"manifest drifted from real counts: ${GraphStreams.sccCounts(spark, lbls, mrg)} vs ($nl, $nm)")
    // a crashed batch deletes the manifest: the next probe recounts
    // (never trusts a stale manifest) and the retry re-pins it
    GraphStreams.sccFailAfterMerges = true
    intercept[IllegalStateException] {
      GraphStreams.sccMergeBatch(Seq((7L, 1L), (1L, 7L)).toDF("u", "v"), 2L,
        lbls, mrg, qe, 4, cadence)
    }
    val crashedProbe = MaintIO.stateCountScans.get()
    val afterCrash = GraphStreams.sccCounts(spark, lbls, mrg)
    assert(MaintIO.stateCountScans.get() == crashedProbe + 1,
      "post-crash probe did not fall back to a real recount")
    val (cl, cm, _) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(afterCrash == ((cl, cm)), "fallback recount wrong after crash")
    GraphStreams.sccMergeBatch(Seq((7L, 1L), (1L, 7L)).toDF("u", "v"), 2L,
      lbls, mrg, qe, 4, cadence)
    val (rl, rm, _) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(GraphStreams.sccCounts(spark, lbls, mrg) == ((rl, rm)),
      "retry did not re-pin the manifest to real counts")
  }

  test("scc crash window: merges appended but condensation stale — retry exact, later cycles still merge; sccCompact bakes labels, truncates the log, pruned closure reads") {
    import spark.implicits._
    import graft.streaming.{GraphStreams, MaintIO}
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = java.nio.file.Files.createTempDirectory("graft-scc-crash-").toString
    val (lbls, mrg, qe) = (s"$base/labels", s"$base/merges", s"$base/qedges")
    def res() = asMap(GraphStreams.sccResolve(spark, lbls, mrg).collect())
    // batch 0: DAG chain 5 -> 7 -> 9, all singletons
    GraphStreams.sccMergeBatch(Seq((5L, 7L), (7L, 9L)).toDF("u", "v"), 0L, lbls, mrg, qe, 4)
    // batch 1 CRASHES inside the window: its merge records (7->5,
    // 9->5) land, labels and the condensation rewrite do not
    GraphStreams.sccFailAfterMerges = true
    intercept[IllegalStateException] {
      GraphStreams.sccMergeBatch(Seq((9L, 5L)).toDF("u", "v"), 1L, lbls, mrg, qe, 4)
    }
    // retry: the relabeled condensation must keep the cycle findable
    GraphStreams.sccMergeBatch(Seq((9L, 5L)).toDF("u", "v"), 1L, lbls, mrg, qe, 4)
    assert(res() == Map(5L -> 5L, 7L -> 5L, 9L -> 5L),
      s"crash-window retry lost the merge: ${res()}")
    // a LATER cross-batch cycle THROUGH the collapsed SCC must still
    // merge (the corruption mode: stale condensation labels would
    // disconnect it). Batch 2 leaves condensation edge 11 -> 5;
    // batch 3's 9 -> 11 maps to 5 -> 11 and closes the cycle.
    GraphStreams.sccMergeBatch(Seq((11L, 7L)).toDF("u", "v"), 2L, lbls, mrg, qe, 4)
    val mr0 = MaintIO.mergeBucketReads.get()
    GraphStreams.sccMergeBatch(Seq((9L, 11L)).toDF("u", "v"), 3L, lbls, mrg, qe, 4)
    // pruned closure: batch 3's seed chains touch ≤ 2 of the 4 merge
    // buckets — never the whole log
    assert(MaintIO.mergeBucketReads.get() - mr0 <= 2,
      s"merge-log read was not pruned (${MaintIO.mergeBucketReads.get() - mr0} buckets)")
    assert(res() == Map(5L -> 5L, 7L -> 5L, 9L -> 5L, 11L -> 5L), s"got ${res()}")
    // DOUBLE crash in the same window, then a clean retry
    GraphStreams.sccFailAfterMerges = true
    intercept[IllegalStateException] {
      GraphStreams.sccMergeBatch(Seq((13L, 5L), (9L, 13L)).toDF("u", "v"), 4L, lbls, mrg, qe, 4)
    }
    GraphStreams.sccFailAfterMerges = true
    intercept[IllegalStateException] {
      GraphStreams.sccMergeBatch(Seq((13L, 5L), (9L, 13L)).toDF("u", "v"), 4L, lbls, mrg, qe, 4)
    }
    GraphStreams.sccMergeBatch(Seq((13L, 5L), (9L, 13L)).toDF("u", "v"), 4L, lbls, mrg, qe, 4)
    val after4 = res()
    assert(after4 == Map(5L -> 5L, 7L -> 5L, 9L -> 5L, 11L -> 5L, 13L -> 5L),
      s"double-crash retry drifted: $after4")
    // sccCompact: resolution bit-identical, log truncated, labels baked
    val (_, nmBefore, _) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(nmBefore > 0)
    GraphStreams.sccCompact(spark, lbls, mrg, 4)
    assert(res() == after4, "sccCompact changed resolution")
    val (nl2, nm2, _) = GraphStreams.sccStateStats(spark, lbls, mrg, qe)
    assert(nm2 == 0L && nl2 == after4.size.toLong, s"post-compact stats ($nl2, $nm2)")
    // commit markers survive compaction: a replayed batch still skips
    GraphStreams.sccMergeBatch(Seq((9L, 5L)).toDF("u", "v"), 1L, lbls, mrg, qe, 4)
    assert(res() == after4)
    // post-compaction batches keep merging through the baked labels
    GraphStreams.sccMergeBatch(Seq((15L, 7L), (9L, 15L)).toDF("u", "v"), 5L, lbls, mrg, qe, 4)
    assert(res() == after4 + (15L -> 5L), s"post-compaction merge failed: ${res()}")
    // The PERMANENT-loss shape: the crashed batch's NEW MIN-ID node
    // (5) merges with the owner (9) of a standing condensation edge
    // (9 -> 40). Without the crash-window relabel the retry leaves
    // (9, 40) stale, both batch edges collapse to remapped
    // self-loops, and the later 40 -> 5 edge can never close the
    // 5 -> 40 -> 5 cycle — 40 stays unmerged forever.
    val base2 = java.nio.file.Files.createTempDirectory("graft-scc-crash2-").toString
    val (l2, m2, q2) = (s"$base2/labels", s"$base2/merges", s"$base2/qedges")
    def res2() = asMap(GraphStreams.sccResolve(spark, l2, m2).collect())
    GraphStreams.sccMergeBatch(Seq((9L, 40L)).toDF("u", "v"), 0L, l2, m2, q2, 4)
    GraphStreams.sccFailAfterMerges = true
    intercept[IllegalStateException] {
      GraphStreams.sccMergeBatch(Seq((5L, 9L), (9L, 5L)).toDF("u", "v"), 1L, l2, m2, q2, 4)
    }
    GraphStreams.sccMergeBatch(Seq((5L, 9L), (9L, 5L)).toDF("u", "v"), 1L, l2, m2, q2, 4)
    assert(res2() == Map(5L -> 5L, 9L -> 5L, 40L -> 40L), s"got ${res2()}")
    GraphStreams.sccMergeBatch(Seq((40L, 5L)).toDF("u", "v"), 2L, l2, m2, q2, 4)
    assert(res2() == Map(5L -> 5L, 9L -> 5L, 40L -> 5L),
      s"condensation connectivity lost across the crash window: ${res2()}")
  }

  test("streamedIntervalCoverage == batch coverage; a late interval bridges two islands; retry skips merged buckets; swap heals") {
    import spark.implicits._
    import graft.streaming.IngestStreams
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // full-fixture parity with the batch sweep (shared oracle claim)
    val streamed = asMap(IngestStreams.streamedIntervalCoverage(spark, sf))
    val batch = asMap(graft.operators.Relational
      .intervalCoverage(Tables.lineitem(spark, sf)))
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven retro-merge: batch 0 plants islands [0,2] and
    // [10,12] for key 7; batch 1's [3,9] is adjacent to the first
    // and overlaps the second — it must BRIDGE them into one island
    val base = java.nio.file.Files.createTempDirectory("graft-iv-replay-").toString
    val state = s"$base/state"
    def res() = asMap(IngestStreams.intervalCoverageResolve(spark, state, 4))
    IngestStreams.intervalBatch(
      Seq((7L, 0L, 2L), (7L, 10L, 12L)).toDF("k", "s", "e"), 0L, state, 4)
    assert(res() == Map(7L -> ((2L, 2L, 6L, 13L, 461538L))), s"got ${res()}")
    IngestStreams.intervalBatch(Seq((7L, 3L, 9L)).toDF("k", "s", "e"), 1L, state, 4)
    assert(res() == Map(7L -> ((3L, 1L, 13L, 13L, 1000000L))),
      s"bridging interval did not merge the islands: ${res()}")
    // the store holds MERGED islands, not raw intervals: one row
    val bucketDir = s"$state/islands_b${7 % 4}"
    assert(spark.read.parquet(bucketDir).count() == 1L)
    // crash-window retry with the bucket already merged: the per-
    // bucket last_b check must skip it (re-merging doubles weights)
    val marker = new org.apache.hadoop.fs.Path(s"$state/_iv_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.intervalBatch(Seq((7L, 3L, 9L)).toDF("k", "s", "e"), 1L, state, 4)
    assert(res() == Map(7L -> ((3L, 1L, 13L, 13L, 1000000L))),
      s"retry re-merged an already-current bucket: ${res()}")
    // committed replay short-circuits
    IngestStreams.intervalBatch(Seq((7L, 3L, 9L)).toDF("k", "s", "e"), 1L, state, 4)
    assert(res() == Map(7L -> ((3L, 1L, 13L, 13L, 1000000L))))
    // a swap crash between retire and install heals on entry
    val bp = new org.apache.hadoop.fs.Path(bucketDir)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(bp, new org.apache.hadoop.fs.Path(bucketDir + "_swap_retired")))
    assert(res() == Map(7L -> ((3L, 1L, 13L, 13L, 1000000L))),
      "resolve did not heal the retired island bucket")
    // empty state resolves empty
    assert(IngestStreams.intervalCoverageResolve(spark, s"$base/nope", 4).count() == 0)
  }

  test("streamedTopoLayers == batch layering after drain; a cycle-closing batch re-layers the quotient") {
    import spark.implicits._
    import graft.streaming.GraphStreams
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full-fixture parity: the maintained condensation lays out to
    // the same waves as condense-then-layer from scratch
    val streamed = asMap(GraphStreams.streamedTopoLayers(spark, sf).collect())
    val batch = asMap(SparkEntry.queries("q_topo_layers")(spark, sf).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven re-layering: batch 0 is the chain 1->2->3->4
    // (depths 0,1,2,3); batch 1's 3->2 closes the {2,3} cycle, the
    // maintenance rewrites the condensation to 1->2->4, and the
    // resolve lays out the NEW quotient (depths 0,1,2)
    val base = java.nio.file.Files.createTempDirectory("graft-topo-replay-").toString
    val (lbls, mrg, qe) = (s"$base/labels", s"$base/merges", s"$base/qedges")
    def layers() = asMap(GraphStreams.topoLayersResolve(spark, qe, mrg).collect())
    GraphStreams.sccMergeBatch(Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v"),
      0L, lbls, mrg, qe, 4)
    assert(layers() == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L),
      s"chain layering wrong: ${layers()}")
    GraphStreams.sccMergeBatch(Seq((3L, 2L)).toDF("u", "v"), 1L, lbls, mrg, qe, 4)
    assert(layers() == Map(1L -> 0L, 2L -> 1L, 4L -> 2L),
      s"cycle-closing batch did not re-layer the quotient: ${layers()}")
    // empty state resolves empty
    assert(GraphStreams.topoLayersResolve(spark, s"$base/nope", mrg).count() == 0)
  }

  test("a scheduled sccCompact inside an open crash window no-ops; after the retry it proceeds; label swap heals") {
    import spark.implicits._
    import graft.streaming.GraphStreams
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = java.nio.file.Files.createTempDirectory("graft-scc-cw-").toString
    val (lbls, mrg, qe) = (s"$base/labels", s"$base/merges", s"$base/qedges")
    def res() = asMap(GraphStreams.sccResolve(spark, lbls, mrg).collect())
    def nMerges() = GraphStreams.sccStateStats(spark, lbls, mrg, qe)._2
    // standing condensation edge 9 -> 40, then a crash that appends
    // the 9 -> 5 merge without relabeling the condensation
    GraphStreams.sccMergeBatch(Seq((9L, 40L)).toDF("u", "v"), 0L, lbls, mrg, qe, 4)
    GraphStreams.sccFailAfterMerges = true
    intercept[IllegalStateException] {
      GraphStreams.sccMergeBatch(Seq((5L, 9L), (9L, 5L)).toDF("u", "v"), 1L, lbls, mrg, qe, 4)
    }
    // the operator's SCHEDULED compaction lands before the retry —
    // it must refuse: consuming the log here would bake the crashed
    // merge into labels while the condensation still reads (9, 40),
    // and the retry's full-closure load would come back empty
    val before = nMerges()
    assert(before > 0)
    GraphStreams.sccCompact(spark, lbls, mrg, 4)
    assert(nMerges() == before,
      "sccCompact consumed the merge log inside an open crash window")
    // the retry closes the window exactly
    GraphStreams.sccMergeBatch(Seq((5L, 9L), (9L, 5L)).toDF("u", "v"), 1L, lbls, mrg, qe, 4)
    assert(res() == Map(5L -> 5L, 9L -> 5L, 40L -> 40L), s"got ${res()}")
    // window closed: the same compaction call now proceeds
    GraphStreams.sccCompact(spark, lbls, mrg, 4)
    assert(nMerges() == 0L, "post-retry compaction must truncate the log")
    assert(res() == Map(5L -> 5L, 9L -> 5L, 40L -> 40L))
    // the cycle through the standing condensation edge still closes
    GraphStreams.sccMergeBatch(Seq((40L, 5L)).toDF("u", "v"), 2L, lbls, mrg, qe, 4)
    assert(res() == Map(5L -> 5L, 9L -> 5L, 40L -> 5L),
      s"condensation connectivity lost across crash->compact->retry: ${res()}")
    // label-swap healing: a compaction crash between retire and
    // install leaves only the retired copy — every reader restores it
    val lp = new org.apache.hadoop.fs.Path(lbls)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(lp, new org.apache.hadoop.fs.Path(lbls + "_swap_retired")))
    assert(res() == Map(5L -> 5L, 9L -> 5L, 40L -> 5L),
      "sccResolve did not heal the retired label swap")
  }

  test("mst forest swap: a crash between retire and install heals on the next entry, batch or resolve") {
    import spark.implicits._
    import graft.streaming.GraphStreams
    val base = java.nio.file.Files.createTempDirectory("graft-mst-swap-").toString
    val state = s"$base/state"
    def forest() = spark.read.parquet(s"$state/forest")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    GraphStreams.mstBatch(Seq((1L, 2L, 5L), (2L, 3L, 9L)).toDF("u", "v", "w"),
      0L, state)
    val fp = new org.apache.hadoop.fs.Path(s"$state/forest")
    val fs = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(s"$state/forest_swap_retired")
    // crash point: forest retired, staged copy never installed
    assert(fs.rename(fp, aside))
    val s1 = GraphStreams.mstResolveSummary(spark, state).head()
    assert((s1.getLong(0), s1.getLong(1), s1.getLong(2)) == ((2L, 14L, 1L)),
      "resolve did not heal the retired forest")
    // same crash point, healed by the next BATCH — without healing
    // it would silently compute MST(batch) alone
    assert(fs.rename(fp, aside))
    GraphStreams.mstBatch(Seq((1L, 3L, 5L)).toDF("u", "v", "w"), 1L, state)
    assert(forest() == Set((1L, 2L, 5L), (1L, 3L, 5L)),
      s"batch after a swap crash lost the maintained forest: ${forest()}")
  }

  test("streamedPairAudit == batch pairAudit; late media retro-resolves; never-arriving media orphans; replay no-ops") {
    import spark.implicits._
    import graft.streaming.IngestStreams
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // full-fixture parity with the batch operator (shared oracle) —
    // the %2 sharding makes both arrival orders happen on real data
    val streamed = asMap(IngestStreams.streamedPairAudit(spark, sf))
    val batch = asMap(graft.operators.Multimodal.pairAudit(Tables.documents(spark, sf)))
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven: caption 3 (media 4) arrives BEFORE its media;
    // caption 5's media never arrives; caption 1 self-resolves
    val base = java.nio.file.Files.createTempDirectory("graft-pa-replay-").toString
    val state = s"$base/state"
    def docs(rows: (Long, String, String)*) = rows.toSeq.toDF("doc_id", "text", "source")
    IngestStreams.pairAuditBatch(docs(
      (1L, "aaaa bbbb cccc", "web"),
      (3L, "first words here", "web"),
      (5L, "dead media link caption", "web")), 0L, state, 4)
    val after0 = asMap(IngestStreams.pairAuditResolve(spark, state))
    // at this point 3 and 5 are both pending -> counted orphan
    assert(after0 == Map("web" -> ((3L, 1L, 0L, 2L))), s"got $after0")
    // media 4 arrives: pair (3 -> 4) retro-resolves (different text
    // -> conflict); 5 stays orphan
    IngestStreams.pairAuditBatch(docs(
      (4L, "totally other content zzzz qqqq xxxx", "books")), 1L, state, 4)
    val after1 = asMap(IngestStreams.pairAuditResolve(spark, state))
    assert(after1 == Map("web" -> ((3L, 1L, 1L, 1L)), "books" -> ((1L, 1L, 0L, 0L))),
      s"retro-resolution failed: $after1")
    // crash-window replay of batch 1: overwrite deltas + marker make
    // it a no-op for the counts
    val marker = new org.apache.hadoop.fs.Path(s"$state/_pa_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.pairAuditBatch(docs(
      (4L, "totally other content zzzz qqqq xxxx", "books")), 1L, state, 4)
    assert(asMap(IngestStreams.pairAuditResolve(spark, state)) == after1,
      "crash-window retry drifted the pair audit")
    // full replay with marker present: short-circuits
    IngestStreams.pairAuditBatch(docs(
      (4L, "totally other content zzzz qqqq xxxx", "books")), 1L, state, 4)
    assert(asMap(IngestStreams.pairAuditResolve(spark, state)) == after1)
    // media 4 RE-arrives with DIFFERENT bytes (now identical to
    // caption 3's text -> the re-resolution would say "match"): the
    // unpruned pending retro-resolves AGAIN, and the two verdict
    // rows disagree. The earliest batch's verdict must win,
    // deterministically — counts unchanged from after1.
    IngestStreams.pairAuditBatch(docs(
      (4L, "first words here", "books")), 2L, state, 4)
    val after2 = asMap(IngestStreams.pairAuditResolve(spark, state))
    assert(after2 == Map("web" -> ((3L, 1L, 1L, 1L)), "books" -> ((1L, 1L, 0L, 0L))),
      s"re-arriving media must not flip the earliest verdict: $after2")
    // empty state resolves empty
    assert(IngestStreams.pairAuditResolve(spark, s"$base/nope").count() == 0)
  }

  test("streamedMixTemperature == batch mixTemperature; count deltas merge exactly; replay/retry no-ops") {
    import spark.implicits._
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val streamed = asMap(IngestStreams.streamedMixTemperature(spark, sf).collect())
    val batch = asMap(graft.operators.TextAnalysis.mixTemperature(
      Tables.documents(spark, sf)).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven: a source split across batches must resolve to the
    // merged count, and replay/crash-retry must not double it
    val state = java.nio.file.Files.createTempDirectory("graft-mix-replay-").toString + "/state"
    val b0 = Seq((1L, "a b c", "s1"), (2L, "d e", "s2")).toDF("doc_id", "text", "source")
    val b1 = Seq((3L, "f g h i", "s1")).toDF("doc_id", "text", "source")
    IngestStreams.mixCountBatch(b0, 0L, state)
    IngestStreams.mixCountBatch(b1, 1L, state)
    val after = asMap(IngestStreams.mixResolve(spark, state).collect())
    assert(after("s1")._1 == 7L && after("s2")._1 == 2L, s"got $after")
    IngestStreams.mixCountBatch(b1, 1L, state) // replay: marker no-op
    assert(asMap(IngestStreams.mixResolve(spark, state).collect()) == after)
    val marker = new org.apache.hadoop.fs.Path(s"$state/_mix_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.mixCountBatch(b1, 1L, state) // retry: overwrite, no double count
    assert(asMap(IngestStreams.mixResolve(spark, state).collect()) == after,
      "crash-window retry double-counted a source")
    // empty store resolves empty
    val emptyState = java.nio.file.Files.createTempDirectory("graft-mix-empty-").toString + "/state"
    assert(IngestStreams.mixResolve(spark, emptyState).count() == 0)
  }

  test("streamedDsirScore == batch dsirWeights under the frozen artifact; replay/retry no-ops") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val streamed = asMap(IngestStreams.streamedDsirScore(spark, sf).collect())
    val batch = asMap(graft.operators.TextAnalysis.dsirWeights(
      Tables.documents(spark, sf)).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven: frozen scoring is stateless, so replay and
    // crash-window retry must leave the scored store unchanged
    val docs = Tables.documents(spark, sf)
    val lambdas = graft.operators.TextAnalysis.dsirLambdas(docs)
      .as[(Long, Long)].collect().toSeq
    val state = java.nio.file.Files.createTempDirectory("graft-dsir-replay-").toString + "/state"
    val b = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("text")).limit(20)
    IngestStreams.dsirScoreBatch(b, 0L, state, lambdas, 4096)
    val after = asMap(spark.read.parquet(s"$state/scored").collect())
    assert(after.size == 20 && after.forall { case (id, v) => batch(id) == v },
      "frozen per-shard scoring must equal whole-corpus weights")
    IngestStreams.dsirScoreBatch(b, 0L, state, lambdas, 4096) // replay: marker no-op
    assert(asMap(spark.read.parquet(s"$state/scored").collect()) == after)
    val marker = new org.apache.hadoop.fs.Path(s"$state/_dsir_commits/0")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.dsirScoreBatch(b, 0L, state, lambdas, 4096) // retry: overwrite
    assert(asMap(spark.read.parquet(s"$state/scored").collect()) == after,
      "crash-window retry drifted the scored store")
  }

  test("streamedLineDedup == batch lineSurvivors; cross-batch duplicates surface at resolve; replay/retry no-ops") {
    import spark.implicits._
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // full-fixture parity with the batch operator (shared oracle)
    val streamed = asMap(IngestStreams.streamedLineDedup(spark, sf).collect())
    val batch = asMap(graft.operators.Dedup.lineSurvivors(
      Tables.documents(spark, sf)).collect())
    assert(streamed == batch && streamed.nonEmpty)
    // hand-driven batches arriving in REVERSED doc order: a segment
    // unique within each batch but shared ACROSS them must surface
    // only at resolve, with the global (doc_id, seg_idx) minimum
    // winning survivorship over the earlier-ARRIVING copy
    val state = java.nio.file.Files.createTempDirectory("graft-line-replay-").toString + "/state"
    val shared = "x1 x2 x3 x4"
    val b0 = Seq((10L, s"$shared late tail words here")).toDF("doc_id", "text")
    val b1 = Seq((2L, s"early head words go $shared")).toDF("doc_id", "text")
    IngestStreams.lineDedupBatch(b0, 0L, state, 4)
    val afterB0 = asMap(IngestStreams.lineDedupResolve(spark, state).collect())
    assert(afterB0.isEmpty, s"no duplicate exists after one batch: $afterB0")
    IngestStreams.lineDedupBatch(b1, 1L, state, 4)
    val md5S = java.security.MessageDigest.getInstance("MD5")
      .digest(shared.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val after = asMap(IngestStreams.lineDedupResolve(spark, state).collect())
    assert(after == Map(md5S -> ((2L, 1L, 2L))), s"got $after")
    // full replay: marker short-circuits
    IngestStreams.lineDedupBatch(b1, 1L, state, 4)
    assert(asMap(IngestStreams.lineDedupResolve(spark, state).collect()) == after)
    // crash-window retry: delta written, marker missing — overwrite
    // semantics must not double-count the batch
    val marker = new org.apache.hadoop.fs.Path(s"$state/_line_commits/1")
    val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(mfs.delete(marker, false))
    IngestStreams.lineDedupBatch(b1, 1L, state, 4)
    assert(asMap(IngestStreams.lineDedupResolve(spark, state).collect()) == after,
      "crash-window retry drifted the line-dedup table")
  }

  test("stateful transitions: single-batch == batch eventTransitions; two-batch carry links across the boundary") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.transitionsStateful(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = Relational.eventTransitions(Tables.events(spark, sf)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == batch)
    assert(got.nonEmpty)
    // two-batch: split the events by time into two files; the step
    // crossing the boundary exists ONLY because the user's last event
    // carries in state across micro-batches
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("event_type"))
    val mid = ev.agg(expr("percentile_approx(ts_ns, 0.5)")).head.getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("graft-trans-2b-").toString
    val incoming = s"$dir/incoming"
    ev.filter(col("ts_ns") <= mid).coalesce(1).write.mode("append").parquet(incoming)
    ev.filter(col("ts_ns") > mid).coalesce(1).write.mode("append").parquet(incoming)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts_ns", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(incoming)
    val twoBatch = EventStreams.transitionsStateful(stream).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(twoBatch == batch,
      "cross-batch carry must reproduce the batch transition matrix")
  }

  test("bfsBatch: incremental distances == batch BFS after every batch; shortcut improves; replay is a no-op") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-bfs-replay-").toString
    val state = s"$base/state"
    def resolve() = GraphStreams.bfsResolve(spark, state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch 0: chain 1-2-3-4 (seed 1)
    val b0 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    GraphStreams.bfsBatch(b0, 0L, state, seed = 1L, maxRounds = 30)
    assert(resolve() == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // batch 1: a SHORTCUT 1-4 (must improve 4 from 3 to 1) and a new
    // region 4-5-6 reached through it (dynamic-BFS wave travels on)
    val b1 = Seq((1L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    GraphStreams.bfsBatch(b1, 1L, state, seed = 1L, maxRounds = 30)
    val after = resolve()
    val want = graft.operators.Graph.bfsHopsFrom(b0.unionByName(b1), 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == want, s"incremental BFS drifted: $after vs $want")
    assert(after == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L, 6L -> 3L))
    // claims are append-only: node 4's FIRST claim (dist 3) is still
    // stored; resolution's min is what carries the improvement
    val claims = spark.read.parquet(s"$state/dist")
      .filter(org.apache.spark.sql.functions.col("node") === 4L)
      .collect().map(_.getLong(1)).toSet
    assert(claims == Set(3L, 1L), s"expected both claims for node 4, got $claims")
    // replayed batchId: a no-op for state AND claims
    val nClaims = spark.read.parquet(s"$state/dist").count()
    GraphStreams.bfsBatch(b1, 1L, state, seed = 1L, maxRounds = 30)
    assert(resolve() == after, "replayed batch changed resolved distances")
    assert(spark.read.parquet(s"$state/dist").count() == nClaims,
      "replay appended duplicate claims")
    // a batch entirely inside settled territory adds no claims…
    GraphStreams.bfsBatch(Seq((2L, 3L)).toDF("u", "v"), 2L, state, 1L, 30)
    assert(resolve() == after)
    // …and, per the maintenance family's scale contract, a
    // distance-neutral batch NEVER scans the maintained edge store
    // and loads only its own endpoints' (+ seed's) dist buckets
    val er0 = graft.streaming.MaintIO.edgeStoreReads.get()
    val db0 = graft.streaming.MaintIO.distBucketReads.get()
    GraphStreams.bfsBatch(Seq((3L, 4L)).toDF("u", "v"), 3L, state, 1L, 30)
    assert(resolve() == after)
    assert(graft.streaming.MaintIO.edgeStoreReads.get() == er0,
      "distance-neutral batch scanned the maintained edge store")
    assert(graft.streaming.MaintIO.distBucketReads.get() - db0 <= 3,
      "distance-neutral batch read beyond its endpoint + seed buckets")
  }

  test("bfsStateCompact: claims fold to min-per-node, resolve unchanged, later shortcuts still relax") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-bfs-compact-").toString
    val state = s"$base/state"
    def resolve() = GraphStreams.bfsResolve(spark, state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b0 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val b1 = Seq((1L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    GraphStreams.bfsBatch(b0, 0L, state, seed = 1L, maxRounds = 30)
    GraphStreams.bfsBatch(b1, 1L, state, seed = 1L, maxRounds = 30)
    val before = resolve()
    val rawClaims = spark.read.parquet(s"$state/dist").count()
    assert(rawClaims > before.size, "fixture should carry superseded claims")
    // the cadence metric sees the bloat compaction will reclaim...
    val (c0, l0, f0) = GraphStreams.bfsStateStats(spark, state)
    assert(c0 == rawClaims && l0 == before.size && f0 > 0)
    GraphStreams.bfsStateCompact(spark, state)
    assert(resolve() == before, "compaction changed resolved distances")
    assert(spark.read.parquet(s"$state/dist").count() == before.size,
      "compaction left more than one claim per node")
    // ...and reports it fully reclaimed (one claim per key) after
    val (c1, l1, f1) = GraphStreams.bfsStateStats(spark, state)
    assert(c1 == l1 && l1 == before.size && f1 <= f0)
    // replayed committed batch still short-circuits (markers survive)
    GraphStreams.bfsBatch(b1, 1L, state, seed = 1L, maxRounds = 30)
    assert(resolve() == before)
    // a post-compaction shortcut batch relaxes against compacted state
    GraphStreams.bfsBatch(Seq((1L, 6L)).toDF("u", "v"), 2L, state, 1L, 30)
    val want = graft.operators.Graph.bfsHopsFrom(
        b0.unionByName(b1).unionByName(Seq((1L, 6L)).toDF("u", "v")), 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolve() == want, "post-compaction relaxation drifted")
  }

  test("ssspBatch: a later cheap edge REVISITS settled nodes and re-relaxes downstream; replay no-op") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-sssp-replay-").toString
    val state = s"$base/state"
    def resolve() = GraphStreams.bfsResolve(spark, state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch 0: chain 1-2-3-4 with heavy weights
    val b0 = Seq((1L, 2L, 10L), (2L, 3L, 10L), (3L, 4L, 10L)).toDF("u", "v", "w")
    GraphStreams.ssspBatch(b0, 0L, state, seed = 1L, maxRounds = 30)
    assert(resolve() == Map(1L -> 0L, 2L -> 10L, 3L -> 20L, 4L -> 30L))
    // batch 1: cheap shortcut 1-3 (w=2) must improve node 3 (settled
    // at 20) AND re-relax node 4 through it — the weighted case BFS
    // never has (a settled node improving)
    val b1 = Seq((1L, 3L, 2L)).toDF("u", "v", "w")
    GraphStreams.ssspBatch(b1, 1L, state, seed = 1L, maxRounds = 30)
    val after = resolve()
    assert(after == Map(1L -> 0L, 2L -> 10L, 3L -> 2L, 4L -> 12L), s"got $after")
    val want = graft.operators.Graph.sssp(
        b0.unionByName(b1), maxRounds = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == want)
    val nClaims = spark.read.parquet(s"$state/dist").count()
    GraphStreams.ssspBatch(b1, 1L, state, seed = 1L, maxRounds = 30)
    assert(resolve() == after && spark.read.parquet(s"$state/dist").count() == nClaims)
  }

  test("bfsBatch/ssspBatch/multiBfsBatch: an exhausted round budget fails loud with every checkpoint freed") {
    import spark.implicits._
    // a 6-node chain from seed (and sole source) 1 needs 5 relaxation
    // rounds; maxRounds = 1 allows 2, and the leftover probe finds more
    val chain = (1L until 6L).map(i => (i, i + 1, 1L)).toDF("u", "v", "w")
    val edges = chain.select("u", "v")
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet
    Seq[(String, String => Unit)](
      "relaxBatch" -> (st => GraphStreams.bfsBatch(edges, 0L, st, seed = 1L, maxRounds = 1)),
      "relaxBatch" -> (st => GraphStreams.ssspBatch(chain, 0L, st, seed = 1L, maxRounds = 1)),
      "multiBfsBatch" -> (st => GraphStreams.multiBfsBatch(edges, 0L, st, k = 1, maxRounds = 1))
    ).foreach { case (name, batch) =>
      val state = java.nio.file.Files.createTempDirectory("graft-relax-budget-").toString
      val before = persistedIds
      val ex = intercept[IllegalStateException](batch(s"$state/state"))
      assert(ex.getMessage.startsWith(s"$name: maxRounds=1 exhausted before fixpoint"))
      val leaked = persistedIds -- before
      assert(leaked.isEmpty, s"$name left checkpoints behind on the exhausted budget: $leaked")
    }
  }

  test("bfsBatch/ssspBatch/multiBfsBatch: pinned Spark jobs per call over a first, an improving, a distance-neutral and a replayed batch") {
    import spark.implicits._
    type Batch = (org.apache.spark.sql.DataFrame, Long, String) => Unit
    // One fixed sequence per kernel: batch 0 builds a chain, batch 1
    // shortcuts it (and relaxes on past its end), batch 2 re-delivers
    // a known edge, and batch 1 is replayed. Every edge write, bucket
    // probe, checkpoint and emptiness probe is a job, so an added or
    // dropped action moves these counts. AQE is off while counting,
    // as in GraphSpec's round-loop counts, so every count repeats.
    val chain = Seq((1L, 2L, 3L), (2L, 3L, 3L), (3L, 4L, 3L)).toDF("u", "v", "w")
    val shortcut = Seq((1L, 4L, 1L), (4L, 5L, 1L)).toDF("u", "v", "w")
    val neutral = Seq((2L, 3L, 3L)).toDF("u", "v", "w")
    val sequence = Seq(chain -> 0L, shortcut -> 1L, neutral -> 2L, shortcut -> 1L)
    val expected = Seq[(String, Seq[Int], Batch)](
      ("bfsBatch", Seq(26, 27, 10, 0),
        (b, id, st) => GraphStreams.bfsBatch(b, id, st, seed = 1L, maxRounds = 30)),
      ("ssspBatch", Seq(26, 29, 10, 0),
        (b, id, st) => GraphStreams.ssspBatch(b, id, st, seed = 1L, maxRounds = 30)),
      ("multiBfsBatch", Seq(28, 32, 15, 0),
        (b, id, st) => GraphStreams.multiBfsBatch(b, id, st, k = 2)))
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    val off = try expected.flatMap { case (name, want, batch) =>
      val state = java.nio.file.Files.createTempDirectory("graft-relax-jobs-").toString + "/state"
      val jobs = sequence.map { case (b, id) => SparkJobs.count(spark)(batch(b, id, state)) }
      if (jobs != want) Some(s"$name: $jobs jobs, pinned $want") else None
    } finally saved match {
      case Some(v) => spark.conf.set(aqe, v)
      case None => spark.conf.unset(aqe)
    }
    assert(off.isEmpty, off.mkString("; "))
  }

  test("streamedSssp two-batch ingest == batch sssp over the weighted co-purchase graph") {
    val streamed = GraphStreams.streamedSssp(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Graph.sssp(
        graft.operators.Graph.coPurchaseWeightedEdges(Tables.lineitem(spark, sf)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streamedBfs two-batch ingest == batch bfsHops over the co-purchase graph") {
    val streamed = GraphStreams.streamedBfs(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Graph.bfsHops(
        graft.operators.Graph.coPurchaseEdges(Tables.lineitem(spark, sf)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("ccResolve: 10^4-deep un-compacted merge chain resolves in O(L) with constant stack") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-cc-chain-").toString
    val labels = s"$base/labels"; val merges = s"$base/merges"
    val depth = 20000
    // merge log c -> c-1 for c in 2..depth+1: every resolution from
    // the top walks the full chain unless the closure memoizes — the
    // recursive form needed ~depth frames and O(depth^2) walks
    (2 to depth + 1).map(c => (c.toLong, c.toLong - 1L))
      .toDF("old_comp", "new_comp")
      .coalesce(1).write.parquet(merges)
    Seq((42L, depth.toLong + 1L, 10L), (7L, 1L, 7L))
      .toDF("doc_id", "component_id", "bucket")
      .write.partitionBy("bucket").parquet(labels)
    val resolved = GraphStreams.ccResolve(spark, labels, merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(resolved == Map(42L -> 1L, 7L -> 1L),
      s"deep merge chain must close to the root: $resolved")
  }

  test("ccMergeBatch: single 50k-node chain batch survives the driver union-find gate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-cc-deep-").toString
    val labels = s"$base/labels"; val merges = s"$base/merges"
    val n = 50000L
    // one path graph in ONE batch, edges generated in decreasing-min
    // order — the adversarial shape for a no-rank union-by-min whose
    // find() recurses to chain depth; must neither crash nor drift
    val edges = spark.range(1L, n)
      .select((lit(n) - col("id")).as("doc_a"), (lit(n) - col("id") + lit(1L)).as("doc_b"))
    GraphStreams.ccMergeBatch(edges.toDF(), 0L, labels, merges, 16)
    val resolved = GraphStreams.ccResolve(spark, labels, merges)
    assert(resolved.count() == n, "every chain node must be labeled")
    assert(resolved.select(countDistinct(col("component_id"))).head().getLong(0) == 1L,
      "a connected chain must resolve to one component")
    assert(resolved.agg(min(col("component_id"))).head().getLong(0) == 1L,
      "min-label invariant drifted")
  }

  test("hourlyTheta: hour spanning micro-batches accumulates the exact batch sketch; retention algebra exact under k") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-theta-st-").toString
    var id = 0L
    val hourNs = 3600000000000L
    // hour H (offset +100h per the epoch-0 watermark lesson): users
    // 1..30; hour H+1: users 21..50 -> retained 10, new 20, churned 20
    val h0 = 100L * hourNs
    def ev(user: Long, tNs: Long): (Long, Long, Long, String, Double, String) = {
      id += 1; (id, tNs, user, "click", 0.0, "{}")
    }
    // hour H splits across TWO files -> two micro-batches
    writeEventFile(base, "f1", 1000000L,
      (1L to 15L).map(u => ev(u, h0 + u * 1000L)))
    // hour 103 (gap at 102, +1 min past the boundary) advances the
    // watermark past hours 100 AND 101's ends
    writeEventFile(base, "f2", 2000000L,
      (16L to 30L).map(u => ev(u, h0 + u * 1000L)) ++
        (21L to 50L).map(u => ev(u, h0 + hourNs + u * 1000L)) ++
        (60L to 61L).map(u => ev(u, h0 + 3L * hourNs + 60000000000L + u * 1000L)))
    val (gotDf, q) = EventStreams.hourlyTheta(eventStreamFrom(base), 256)
    val got = gotDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // under k everything is exact; first hour carries the sentinels,
    // and so does the hour AFTER A GAP (no h-1 sketch exists)
    assert(got.length == 3)
    assert(got(0) == ((100L, 30L, -1L, -1L, -1L)))
    assert(got(1) == ((101L, 30L, 10L, 20L, 20L)),
      s"retention algebra drifted: ${got(1)}")
    assert(got(2) == ((103L, 2L, -1L, -1L, -1L)), s"gap hour drifted: ${got(2)}")
    // closed-hour retirement: hours 100 and 101 must be gone once the
    // watermark passed their ends (the hourlyTopK state contract)
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    assert(stateRows < 2,
      s"EventTimeTimeout must retire closed hours: $stateRows state rows for 3 hours")
  }

  test("nearDedupIngest: two-batch streamed pair set == batch minhashLsh on the union; replay is a no-op; CC labels maintained") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    // the end-to-end entry: the corpus drains through TWO micro-batches
    val got = IngestStreams.streamedNearDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val want = Dedup.minhashLsh(docs, 3, 32, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"streamed near-dup drifted from batch: extra=${got -- want} missing=${want -- got}")
    assert(got.nonEmpty, "parity is vacuous on an empty pair set")
    // replay + maintenance: drive batches by hand on a fresh state dir
    val base = java.nio.file.Files.createTempDirectory("graft-nd-replay-").toString
    val st = s"$base/state"
    val b0 = docs.filter(col("doc_id") % 2 === 0)
    val b1 = docs.filter(col("doc_id") % 2 =!= 0)
    IngestStreams.nearDedupBatch(b0, 0L, st, 3, 32, 8, 0.5, 16)
    IngestStreams.nearDedupBatch(b1, 1L, st, 3, 32, 8, 0.5, 16)
    def pairs() = IngestStreams.nearDedupPairs(spark, st)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val after = pairs()
    assert(after == want, "hand-driven two-batch run must match batch too")
    val nPairRows = spark.read.parquet(s"$st/pairs").count()
    // replayed batchId: commit marker makes it a no-op
    IngestStreams.nearDedupBatch(b1, 1L, st, 3, 32, 8, 0.5, 16)
    assert(pairs() == after && spark.read.parquet(s"$st/pairs").count() == nPairRows,
      "replayed batch must not re-append pairs")
    // re-delivered CONTENT under a new batchId: already-maintained
    // docs are skipped, so nothing new is found either
    IngestStreams.nearDedupBatch(b1, 2L, st, 3, 32, 8, 0.5, 16)
    assert(spark.read.parquet(s"$st/pairs").count() == nPairRows,
      "re-delivered docs must be no-ops")
    // the verified edges fed incremental CC: resolved components ==
    // batch CC over the batch pair set
    val gotCc = GraphStreams.ccResolve(spark, s"$st/labels", s"$st/merges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantCc = Dedup.connectedComponents(
        Dedup.minhashLsh(docs, 3, 32, 8, 0.5).select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotCc == wantCc, s"maintained components drifted: $gotCc vs $wantCc")
  }

  test("spanDedup ingest: same-batch twins both flag; later copy flags, first never retro-flags; replay and re-delivery are no-ops; single-batch == batch operator") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val para = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    def docsDf(rows: (Long, String)*) = {
      import spark.implicits._
      rows.toDF("doc_id", "text")
    }
    val base = java.nio.file.Files.createTempDirectory("graft-sp-replay-").toString
    val st = s"$base/state"
    // batch 0: docs 1 and 2 share the paragraph (same batch: BOTH flag)
    val b0 = docsDf(
      (1L, s"u1a u1b u1c $para v1a v1b"),
      (2L, s"$para w2a w2b w2c w2d"),
      (3L, "nothing here repeats in any way at all today friends"))
    IngestStreams.spanDedupBatch(b0, 0L, st, 8, 16)
    def spans() = IngestStreams.spanDedupSpans(spark, st)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val afterB0 = spans()
    assert(afterB0 == Set((1L, 4L, 13L, 10L), (2L, 1L, 10L, 10L)),
      s"same-batch twins must both flag: $afterB0")
    // batch 1: doc 4 copies the paragraph (flags against maintained
    // counts); doc 5 is fresh boilerplate whose twin arrives LATER
    val fresh = "kilo lima mike november oscar papa quebec romeo sierra"
    val b1 = docsDf(
      (4L, s"$para x4a x4b x4c"),
      (5L, s"y5a y5b $fresh"))
    IngestStreams.spanDedupBatch(b1, 1L, st, 8, 16)
    val afterB1 = spans()
    assert(afterB1.contains((4L, 1L, 10L, 10L)), "later copy must flag against maintained counts")
    assert(!afterB1.exists(_._1 == 5L), "first copy of fresh boilerplate must not flag yet")
    // batch 2: doc 6 copies doc 5's boilerplate — 6 flags, 5 is NEVER
    // retro-flagged (its batch already shipped)
    val b2 = docsDf((6L, s"$fresh z6a z6b z6c"))
    IngestStreams.spanDedupBatch(b2, 2L, st, 8, 16)
    val afterB2 = spans()
    assert(afterB2.exists(_._1 == 6L), "second copy must flag")
    assert(!afterB2.exists(_._1 == 5L), "append-only: the first copy is never retro-flagged")
    // replayed batchId: commit marker no-op; re-delivered content
    // under a new batchId: seen-docs table makes it a no-op
    val nSpanRows = spark.read.parquet(s"$st/spans").count()
    IngestStreams.spanDedupBatch(b2, 2L, st, 8, 16)
    assert(spark.read.parquet(s"$st/spans").count() == nSpanRows, "replay must not re-append")
    IngestStreams.spanDedupBatch(b2, 3L, st, 8, 16)
    assert(spark.read.parquet(s"$st/spans").count() == nSpanRows, "re-delivery must be a no-op")
    // a SINGLE batch holding the whole corpus == the batch operator
    val all = docsDf(
      (1L, s"u1a u1b u1c $para v1a v1b"),
      (2L, s"$para w2a w2b w2c w2d"),
      (3L, "nothing here repeats in any way at all today friends"),
      (4L, s"$para x4a x4b x4c"))
    val st2 = s"$base/state2"
    IngestStreams.spanDedupBatch(all, 0L, st2, 8, 16)
    val gotOne = IngestStreams.spanDedupSpans(spark, st2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val wantOne = Dedup.duplicatedSpans(all, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(gotOne == wantOne, "a single-batch ingest must equal the batch operator exactly")
    // compaction: delta rows merge, per-shingle counts are invariant,
    // and a post-compaction batch still flags against the merged sums
    val preCounts = spark.read.parquet(s"$st/windows")
      .groupBy("shingle").agg(sum("cnt").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val preRows = spark.read.parquet(s"$st/windows").count()
    IngestStreams.spanStateCompact(spark, st)
    val postCounts = spark.read.parquet(s"$st/windows")
      .groupBy("shingle").agg(sum("cnt").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(postCounts == preCounts, "compaction must not change merge-on-read sums")
    assert(spark.read.parquet(s"$st/windows").count() < preRows,
      "compaction must merge delta rows")
    val b3 = docsDf((7L, s"$para compacted7a compacted7b"))
    IngestStreams.spanDedupBatch(b3, 4L, st, 8, 16)
    assert(spans().contains((7L, 1L, 10L, 10L)),
      "a batch after compaction must flag against the merged counts")
    // retro audit: ONLY doc 5 shipped before its duplicate — its two
    // boilerplate windows (positions 3 and 4) are the whole retro
    // surface; every flagged doc's duplicated windows are covered
    val allDocs = b0.unionByName(b1).unionByName(b2).unionByName(b3)
    val retro = IngestStreams.spanRetroAudit(spark, allDocs, st, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(retro === Set((5L, 2L)),
      s"retro audit must flag exactly the shipped-first copy: $retro")
  }

  test("hourlyThetaWindow: sliding 3-hour horizon unions the preceding sketches; gap hours compare against the surviving window") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft-theta-win-").toString
    var id = 0L
    val hourNs = 3600000000000L
    val h0 = 100L * hourNs
    def ev(user: Long, tNs: Long): (Long, Long, Long, String, Double, String) = {
      id += 1; (id, tNs, user, "click", 0.0, "{}")
    }
    // same fixture as the hourlyTheta spec: hour 100 users 1..30
    // (split over two files -> two micro-batches), hour 101 users
    // 21..50, hour 103 users 60..61 (gap at 102)
    writeEventFile(base, "f1", 1000000L,
      (1L to 15L).map(u => ev(u, h0 + u * 1000L)))
    writeEventFile(base, "f2", 2000000L,
      (16L to 30L).map(u => ev(u, h0 + u * 1000L)) ++
        (21L to 50L).map(u => ev(u, h0 + hourNs + u * 1000L)) ++
        (60L to 61L).map(u => ev(u, h0 + 3L * hourNs + 60000000000L + u * 1000L)))
    val (gotDf, _) = EventStreams.hourlyThetaWindow(eventStreamFrom(base), 256, 3)
    val got = gotDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(got.length == 3)
    // hour 100: no preceding activity in [97, 99] -> sentinels
    assert(got(0) == ((100L, 30L, -1L, -1L, -1L)))
    // hour 101: window = {100} -> identical to the consecutive form
    assert(got(1) == ((101L, 30L, 10L, 20L, 20L)), s"1-hour window drifted: ${got(1)}")
    // hour 103: window = union of hours 100..102 = users 1..50 — the
    // gap hour that emits sentinels in hourlyTheta COMPARES here,
    // which is the point of the horizon: retained 0, new 2, churned 50
    assert(got(2) == ((103L, 2L, 0L, 2L, 50L)), s"3-hour window drifted: ${got(2)}")
  }

  test("streamed snapshot diff: two-batch ingest == batch snapshotDiff; replay is a no-op; diff table is bucket-partitioned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the end-to-end entry: v_new drains through TWO micro-batches
    // (maxFilesPerTrigger=1 over two shard files)
    val got = IngestStreams.streamedSnapshotDiff(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val docs = Tables.documents(spark, sf)
    val vOld = docs.filter(col("doc_id") % 41 =!= 0)
    val vNew = docs.filter(col("doc_id") % 43 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 37 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    val want = graft.operators.Relational.snapshotDiff(vOld, vNew, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want, s"streamed diff drifted from batch diff:\n got=$got\nwant=$want")
    assert(got.keySet.contains("added") && got.keySet.contains("removed") &&
      got.keySet.contains("changed"), s"synthetic snapshots must exercise every status: $got")

    // unit-level replay: a re-delivered batchId must not double-count
    val base = java.nio.file.Files.createTempDirectory("graft-snapdiff-replay-").toString
    val tablePath = s"$base/table"; val diffPath = s"$base/diff"
    IngestStreams.writeSnapshotTable(
      Seq((1L, "a"), (2L, "b"), (17L, "c")).toDF("doc_id", "text"),
      "doc_id", "text", tablePath, nBuckets = 16)
    val b0 = Seq((1L, "a"), (2L, "CHANGED"), (33L, "new"))
      .toDF("k", "text").select(col("k"), md5(col("text")).as("nh"))
    IngestStreams.snapshotDiffBatch(b0, 0L, tablePath, diffPath, 16)
    def summary() = IngestStreams.snapshotDiffSummary(spark, tablePath, diffPath)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val first = summary()
    assert(first == Map("unchanged" -> 1L, "changed" -> 1L, "added" -> 1L, "removed" -> 1L))
    IngestStreams.snapshotDiffBatch(b0, 0L, tablePath, diffPath, 16)
    assert(summary() == first, "replayed batchId must not append duplicate status rows")
    // the diff table lands bucket-partitioned (pruned rewrites/reads)
    val dirs = new java.io.File(diffPath).listFiles().map(_.getName).filter(_.startsWith("bucket="))
    assert(dirs.toSet == Set("bucket=1", "bucket=2"),
      s"diff table must be bucketed by k mod n: ${dirs.toSet}")
  }

  test("scd2MergeBatch: at-least-once replay of the same batchId is a no-op") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-scd2-replay-").toString + "/dim"
    def snap() = spark.read.parquet(out)
      .select("user_id", "run_id", "state", "valid_from_us", "valid_to_us", "n_obs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val b0 = Seq((1L, 1L, "a", 1000L), (2L, 1L, "a", 2000L), (3L, 1L, "b", 5000L))
      .toDF("event_id", "user_id", "event_type", "tus")
    IngestStreams.scd2MergeBatch(b0, 0L, out, 16)
    val first = snap()
    assert(first.contains((1L, 1L, "a", 1000L, 5000L, 2L)))
    // simulate the foreachBatch at-least-once contract: the engine
    // re-delivers batch 0 after a restart. Without the commit marker
    // this re-fold would double n_obs and split the open run.
    IngestStreams.scd2MergeBatch(b0, 0L, out, 16)
    assert(snap() == first, "replayed batchId must not re-fold observations")
    // a genuinely new batch still applies on top
    IngestStreams.scd2MergeBatch(
      Seq((4L, 1L, "b", 9000L)).toDF("event_id", "user_id", "event_type", "tus"),
      1L, out, 16)
    assert(snap().contains((1L, 2L, "b", 5000L, Long.MaxValue, 2L)),
      "new batchId must extend the open run exactly once")
  }

  test("outer interval join: matches == inner join; unmatched flush exactly at the watermark cutoff") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.intervalJoinOuter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val matched = got.filter(_._3 != -1L)
    val unmatched = got.filter(_._3 == -1L)
    // the inner part is exactly the inner interval join
    val inner = EventStreams.intervalJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(matched == inner, "outer join's matched rows must equal the inner join")
    // the outer part: clicks with no purchase in-window whose match
    // horizon the final watermark passed — nothing more, nothing less
    val ev = Tables.events(spark, sf)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), expr("ts_ns div 1000").as("lus"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ruid"), expr("ts_ns div 1000").as("rus"))
    // the GLOBAL watermark is the min over both streams' ms-truncated
    // max event times minus the delay — the sparse purchase stream is
    // what actually gates eviction (using the overall max event time
    // over-predicts the flush by hours on this data)
    val maxC = l.agg(max("lus")).head.getLong(0)
    val maxP = r.agg(max("rus")).head.getLong(0)
    val cutUs = (math.min(maxC / 1000L, maxP / 1000L) - 3600000L) * 1000L
    val want = l.join(r, l("user_id") === r("ruid") && col("rus") > col("lus") &&
        col("rus") <= col("lus") + lit(1800000000L), "left_anti")
      .filter(col("lus") + lit(1800000000L) < lit(cutUs))
      .select("click_id").collect().map(_.getLong(0)).toSet
    assert(unmatched.map(_._2) == want,
      s"unmatched flush boundary drifted: ${unmatched.size} vs ${want.size}")
    assert(unmatched.nonEmpty && unmatched.forall(t => t._3 == -1L && t._4 == -1L))
  }

  test("full outer interval join: inner + BOTH eviction horizons, each side at its own cutoff") {
    import org.apache.spark.sql.functions._
    val got = EventStreams.intervalJoinFull(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val matched = got.filter(t => t._2 != -1L && t._3 != -1L)
    val unmatchedL = got.filter(_._3 == -1L)
    val unmatchedR = got.filter(_._2 == -1L)
    val inner = EventStreams.intervalJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(matched == inner, "full join's matched rows must equal the inner join")
    val ev = Tables.events(spark, sf)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), expr("ts_ns div 1000").as("lus"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ruid"), col("event_id").as("purchase_id"),
        expr("ts_ns div 1000").as("rus"))
    val maxC = l.agg(max("lus")).head.getLong(0)
    val maxP = r.agg(max("rus")).head.getLong(0)
    val cutUs = (math.min(maxC / 1000L, maxP / 1000L) - 3600000L) * 1000L
    // left side: same horizon as the LEFT OUTER join (wm > lus + Δ)
    val wantL = l.join(r, l("user_id") === r("ruid") && col("rus") > col("lus") &&
        col("rus") <= col("lus") + lit(1800000000L), "left_anti")
      .filter(col("lus") + lit(1800000000L) < lit(cutUs))
      .select("click_id").collect().map(_.getLong(0)).toSet
    assert(unmatchedL.map(_._2) == wantL,
      s"unmatched-left boundary drifted: ${unmatchedL.size} vs ${wantL.size}")
    // right side: a purchase needs a STRICTLY EARLIER click, so its
    // horizon is the watermark passing its own timestamp (wm > rus)
    val wantR = r.join(l, l("user_id") === r("ruid") && col("rus") > col("lus") &&
        col("rus") <= col("lus") + lit(1800000000L), "left_anti")
      .filter(col("rus") < lit(cutUs))
      .select("purchase_id").collect().map(_.getLong(0)).toSet
    assert(unmatchedR.map(_._3) == wantR,
      s"unmatched-right boundary drifted: ${unmatchedR.size} vs ${wantR.size}")
    assert(unmatchedL.nonEmpty && unmatchedR.nonEmpty,
      "fixture must exercise both eviction horizons")
  }

  test("stream-stream interval join == batch interval join at microsecond resolution") {
    import org.apache.spark.sql.functions._
    def asSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = asSet(EventStreams.intervalJoin(spark, sf).collect())
    val ev = Tables.events(spark, sf)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        expr("ts_ns div 1000").as("lus"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        expr("ts_ns div 1000").as("rus"))
    val batch = l.join(r, "user_id")
      .filter(col("rus") > col("lus") &&
        col("rus") <= col("lus") + lit(30L * 60L * 1000000L))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        expr("(rus - lus) div 1000").as("lag_ms"))
    assert(got == asSet(batch.collect()))
    assert(got.nonEmpty)
  }

  test("stream-stream semi join: distinct converted clicks, each emitted exactly once") {
    import org.apache.spark.sql.functions._
    val rows = EventStreams.intervalJoinSemi(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: a click with several in-window purchases must not
    // re-emit (the property the semi join buys over inner + distinct)
    assert(rows.length == rows.toSet.size, "semi join re-emitted a click")
    // parity: the left-id projection of the inner interval join, deduped
    val inner = EventStreams.intervalJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.toSet == inner)
    assert(rows.nonEmpty)
    // exactly-once under REAL multi-match pressure, pinned on a
    // planted fixture (the spec SF has no multi-purchase clicks):
    // one click with two in-window purchases → inner emits 2 rows,
    // semi emits exactly 1
    val s = spark
    import s.implicits._
    val hourNs = 3600000000000L
    val dir = java.nio.file.Files.createTempDirectory("graft-semi-").toString
    Seq(
      (1L, 2 * hourNs, 1L, "click", 0.0, "{}"),
      (2L, 2 * hourNs + 60000000000L, 1L, "purchase", 0.0, "{}"),
      (3L, 2 * hourNs + 120000000000L, 1L, "purchase", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val semiP = EventStreams.intervalJoinSemi(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val innerP = EventStreams.intervalJoin(spark, dir).collect()
    assert(innerP.length == 2, "planted click should inner-match both purchases")
    assert(semiP == Seq((1L, 1L)), "semi join must emit the click exactly once")
  }

  test("oncePerBatch: the body runs once per batch id; its marker lands only after it returns; a throwing body leaves none and reruns") {
    import graft.streaming.StreamState.oncePerBatch
    val commits = java.nio.file.Files.createTempDirectory("graft-once-").toString + "/_t_commits"
    def marked(id: Long) = new java.io.File(s"$commits/$id").exists
    val runs = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    def run(id: Long): Unit = oncePerBatch(spark, commits, id) {
      assert(!marked(id), s"batch $id was marked before its body returned")
      runs(id) += 1
    }
    Seq(0L, 0L, 1L, 0L, 1L).foreach(run)
    assert(runs == Map(0L -> 1, 1L -> 1))
    assert(marked(0L) && marked(1L))
    val crash = intercept[IllegalStateException] {
      oncePerBatch(spark, commits, 2L) {
        runs(2L) += 1
        throw new IllegalStateException("injected crash")
      }
    }
    assert(crash.getMessage == "injected crash")
    assert(!marked(2L), "a body that threw must leave no marker")
    run(2L)
    run(2L)
    assert(runs(2L) == 2 && marked(2L), s"the retry must run once more, then skip: ${runs(2L)}")
  }

  test("shardedInput + drain: shard k arrives as micro-batch k, ids 0..n-1; the stream schema is the shards' own") {
    import org.apache.spark.sql.functions.lit
    import graft.streaming.StreamState.{drain, shardedInput}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-shards-").toString
    val shards = (0 until 3).map { k =>
      Seq((10L * k, s"s$k"), (10L * k + 1, s"s$k")).toDF("id", "tag").withColumn("k", lit(k))
    }
    val stream = shardedInput(base, shards: _*)
    def fields(schema: org.apache.spark.sql.types.StructType) = schema.map(f => f.name -> f.dataType)
    assert(fields(stream.schema) == fields(shards.head.schema))
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Set[(Long, String, Int)])]())
    drain(stream, s"$base/ckpt") { (b, id) =>
      seen.add(id -> b.as[(Long, String, Int)].collect().toSet)
    }
    val want = shards.zipWithIndex.map { case (s, k) => k.toLong -> s.as[(Long, String, Int)].collect().toSet }
    assert(seen.toArray.toSeq == want)
  }
}

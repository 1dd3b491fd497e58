package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Spec-visible I/O counters for the graph-maintenance batch path:
  * the scale contract ("a no-improvement batch never scans the
  * maintained edge store; dist reads are bucket-pruned") is asserted
  * by diffing these across a batch, not taken on faith. */
private[graft] object MaintIO {
  /** Full edge-store materializations (the lazy `adj()` firing). */
  val edgeStoreReads = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Claim-store bucket partitions read (pruned dist loads). */
  val distBucketReads = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Merge-log bucket partitions read (the pruned closure walker). */
  val mergeBucketReads = new java.util.concurrent.atomic.AtomicLong(0L)
  /** Full state-store count() jobs paid by a compaction-cadence probe
    * (the manifest-miss fallback). A healthy always-on drive pins
    * this at zero per not-due batch: the `_scc_counts` manifest, not
    * a pair of table scans, answers "is compaction due?". */
  val stateCountScans = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Shared state-store probes and the micro-batch drive contract for
  * the streaming maintenance modules. */
private[graft] object StreamState {
  /** The replay contract every maintenance batch shares: foreachBatch
    * is at-least-once, so each applied `batchId` is recorded as an
    * empty marker file under `commitDir` (underscore-prefixed at every
    * site, so parquet readers never see it) and a marked batch is
    * skipped outright. The marker is written only after `body`
    * returns: a body that throws leaves none, and the retry runs it
    * again. `body` must not `return` — a non-local return would skip
    * the marker. */
  private[graft] def oncePerBatch(spark: SparkSession, commitDir: String,
                                  batchId: Long)(body: => Unit): Unit = {
    val dir = new org.apache.hadoop.fs.Path(commitDir)
    val marker = new org.apache.hadoop.fs.Path(dir, batchId.toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      body
      fs.mkdirs(dir)
      fs.create(marker, true).close()
    }
  }

  /** Write each shard as one parquet file under `$base/incoming`, in
    * order, and return the stream that reads them one file per
    * trigger: shard k arrives as micro-batch k. FileStreamSource
    * orders files by modification time, ties broken by path name, and
    * two back-to-back writes can share an mtime — so each shard's file
    * is stamped with an explicit, strictly increasing mtime instead of
    * trusting the filesystem clock. The stream's schema is the shards'
    * own (the first shard's; all must agree).
    */
  private[graft] def shardedInput(base: String, shards: DataFrame*): DataFrame = {
    val spark = shards.head.sparkSession
    val incoming = new org.apache.hadoop.fs.Path(s"$base/incoming")
    val fs = incoming.getFileSystem(spark.sparkContext.hadoopConfiguration)
    shards.zipWithIndex.foreach { case (shard, k) =>
      shard.coalesce(1).write.mode("append").parquet(incoming.toString)
      val mtime = (k + 1) * 1000000L
      fs.listStatus(incoming).foreach { s =>
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".") && s.getModificationTime >= mtime)
          fs.setTimes(s.getPath, mtime, -1)
      }
    }
    spark.readStream
      .schema(shards.head.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(incoming.toString)
  }

  /** Drain `stream` to completion through `batchFn`: one
    * `foreachBatch` query under `AvailableNow`, checkpointed at
    * `checkpoint`, awaited before returning. Every maintenance drive
    * runs through here except the hybrid RRF drive, whose two queries
    * must run at the same time. */
  private[graft] def drain(stream: DataFrame, checkpoint: String)
                          (batchFn: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .foreachBatch(batchFn)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Target post-shuffle/state partition size for stateful streaming
    * queries (guide §2.2's 100 MB–1 GB band, taken at the low end
    * because state-store rows are richer than shuffle rows).
    * Overridable for deployments via `spark.graft.stream.targetPartitionBytes`. */
  private val DefaultTargetPartitionBytes = 64L << 20

  /** Total bytes under `paths` (files only; 0 for absent paths). */
  private[streaming] def inputBytes(spark: SparkSession, paths: Seq[String]): Long =
    paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
    }.sum

  /** Run `body` (which starts and drains one stateful streaming
    * query) with `spark.sql.shuffle.partitions` derived from the
    * query's INPUT SIZE instead of the session's static value, then
    * restore the session conf.
    *
    * Why: AQE cannot resize stateful streaming plans (Spark disables
    * it), so the state-store partition count — and with it the number
    * of per-micro-batch state files written, committed and re-listed —
    * is pinned at the static shuffle.partitions for the life of the
    * checkpoint. A 32-way state layout over a few MB of input pays
    * 32× the per-partition commit overhead for zero parallelism win
    * (measured: the four stream-stream interval joins spend ~2.5 s
    * per micro-batch in 32-partition state commits on a 2 MB fixture);
    * at real scale the same rule sizes partitions UP to the target
    * bytes and is capped by the session's configured parallelism, so
    * a deployment keeps its tuned value. Correctness is partitioning-
    * invariant for every operator run under this (hash-partitioned
    * aggregates, stream-stream joins, dropDuplicates, per-group
    * mapGroupsWithState) — the same rows land in the same groups,
    * only the group→partition assignment changes; the suite's
    * streamed==batch parity specs and the driver's oracle gate
    * re-prove it every run.
    */
  /** [[withSizedStatePartitions]] with the input paths derived from
    * the streaming frame's own file-source relations (absent for
    * non-file sources, e.g. MemoryStream in specs → sized to 1 — the
    * right answer for an in-memory fixture). */
  private[streaming] def withSizedStatePartitions[T](df: org.apache.spark.sql.DataFrame)(body: => T): T = {
    val paths = df.queryExecution.logical.collect {
      case sr: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        sr.dataSource.options.get("path")
    }.flatten
    withSizedStatePartitions(df.sparkSession, paths)(body)
  }

  // Restore-after-start() is SAFE because StreamExecution clones the
  // session (and its SQLConf) inside start() — the micro-batch thread
  // reads the clone, so the restore below cannot race it (Spark 4.1
  // behavior; pinned by the family's streamed==batch parity specs,
  // which would break loudly if a Spark upgrade stopped cloning). The
  // `spark.synchronized` guards two WRAPPED callers from each other;
  // an unwrapped stateful query started concurrently from another
  // thread could still capture the temporarily-downsized value — the
  // deployed mains are sequential, but a concurrent-queries deployment
  // should scope the conf per query (r15 ADVICE, documented trade-off).
  private[streaming] def withSizedStatePartitions[T](spark: SparkSession,
                                                     inPaths: Seq[String])(body: => T): T =
    spark.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      val target = spark.conf.getOption("spark.graft.stream.targetPartitionBytes")
        .map(_.toLong).getOrElse(DefaultTargetPartitionBytes)
      val bytes = inputBytes(spark, inPaths)
      val sized = math.min(prev.toLong,
        math.max(1L, (bytes + target - 1) / target)).toInt
      spark.conf.set(key, sized.toString)
      try body finally spark.conf.set(key, prev)
    }
  /** True iff `path` holds at least one visible (non-underscore,
    * non-dot) entry — a dir containing only commit markers reads as
    * absent.
    */
  private[streaming] def hasVisibleData(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** True iff `path` holds at least one actual data FILE (recursing
    * through partition dirs). A zero-row `partitionBy` write leaves a
    * `batch=N` dir containing only `_SUCCESS` — [[hasVisibleData]]
    * counts that dir as visible, but `spark.read.parquet` on a tree
    * with no data files fails schema inference ("Unable to infer
    * schema"). Guard every read of a delta tree whose batches can
    * legitimately be empty with THIS probe instead.
    */
  private[streaming] def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return false
    def visible(p: org.apache.hadoop.fs.Path): Boolean = {
      val n = p.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def walk(p: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(p).exists { s =>
        visible(s.getPath) && (if (s.isDirectory) walk(s.getPath) else true)
      }
    walk(root)
  }

  /** Crash recovery for a [[swapInstall]] that died between retiring
    * the live table and installing the staged one: the retired copy
    * IS the table — put it back. No-op in every other state. Call on
    * entry at every site that reads or rewrites the table (the
    * VectorStreams `healPairs` contract, shared).
    */
  private[streaming] def healSwap(spark: SparkSession, livePath: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(livePath)
    val retired = new org.apache.hadoop.fs.Path(livePath + "_swap_retired")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(retired)) {
      require(fs.rename(retired, live),
        s"swap recovery: could not restore $retired to $live")
    }
  }

  /** Max batch id folded into `basePath`, from the `_folded_max`
    * manifest written INSIDE the base dir (atomic with the swap that
    * installs it). −1 when no base exists. */
  private[streaming] def foldedMax(spark: SparkSession, basePath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$basePath/_folded_max")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return -1L
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").trim.toLong finally in.close()
  }

  /** An LSM-shaped maintained table as ONE frame: consolidated base
    * (if a compaction installed one) plus the delta dirs of batches
    * NEWER than the folded watermark. The watermark filter — not
    * delta-dir deletion — is what excludes folded batches, so a crash
    * between swap-install and space reclamation can only leave
    * garbage bytes, never duplicate rows. Probes for actual data
    * FILES ([[hasDataFiles]]): an all-empty-batches tree must read as
    * absent, not fail schema inference. */
  private[streaming] def lsmRead(spark: SparkSession, deltaPath: String,
                                 basePath: String,
                                 cols: Seq[String]): Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    healSwap(spark, basePath)
    val fm = foldedMax(spark, basePath)
    val base =
      if (hasDataFiles(spark, basePath))
        Some(spark.read.parquet(basePath).select(cols.map(col): _*))
      else None
    val deltas =
      if (hasDataFiles(spark, deltaPath))
        Some(spark.read.parquet(deltaPath)
          .filter(col("batch") > fm).select(cols.map(col): _*))
      else None
    (base, deltas) match {
      case (Some(b), Some(d)) => Some(b.unionByName(d))
      case (b, d) => b.orElse(d)
    }
  }

  /** Fold committed deltas into the consolidated base (the
    * index-lifecycle step every LSM-shaped store needs): per-batch
    * delta dirs accumulate one dir per shard forever, so a query
    * eventually pays |batches| directory listings — compaction
    * rewrites base ∪ committed deltas as ONE bucket-partitioned table
    * via rename-aside ([[swapInstall]] — never delete-then-write),
    * bumps the `_folded_max` watermark inside the staged dir (atomic
    * with the install), and only then reclaims the folded delta dirs.
    *
    * Two fold disciplines, both spec-pinned on the bm25 store:
    * batches in the crash window (dir written, marker missing) are
    * NEVER folded — the marker list, not the dir list, drives the
    * fold; and ONLY the contiguous run of marker ids immediately
    * above the watermark folds — folding past a marker gap (a batch
    * whose commit lands late, compaction racing a crash/replay
    * window) would bump the watermark over the late batch and the
    * `batch > fm` visibility filter would hide its rows forever. */
  private[streaming] def lsmFold(spark: SparkSession, deltaPath: String,
                                 basePath: String, commitDir: String,
                                 cols: Seq[String], bucketCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    healSwap(spark, basePath)
    val cd = new org.apache.hadoop.fs.Path(commitDir)
    val cfs = cd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!cfs.exists(cd)) return
    val fm = foldedMax(spark, basePath)
    val newIds = cfs.listStatus(cd).map(_.getPath.getName.toLong)
      .filter(_ > fm).sorted.toSeq
      .zipWithIndex.takeWhile { case (id, i) => id == fm + 1 + i }.map(_._1)
    if (newIds.isEmpty) return
    if (!hasDataFiles(spark, deltaPath)) return
    val base =
      if (hasDataFiles(spark, basePath))
        Some(spark.read.parquet(basePath).select(cols.map(col): _*))
      else None
    val deltas = spark.read.parquet(deltaPath)
      .filter(col("batch").isin(newIds: _*)).select(cols.map(col): _*)
    val all = base.map(_.unionByName(deltas)).getOrElse(deltas)
    val staging = new org.apache.hadoop.fs.Path(basePath + "_swap_staging")
    cfs.delete(staging, true) // leftover from a crashed earlier attempt
    all.repartition(col(bucketCol))
      .write.mode("overwrite").partitionBy(bucketCol).parquet(staging.toString)
    val mf = cfs.create(new org.apache.hadoop.fs.Path(staging, "_folded_max"), true)
    try mf.write(newIds.max.toString.getBytes("UTF-8")) finally mf.close()
    swapInstall(spark, basePath)
    // space reclamation only — the watermark already excludes these
    newIds.foreach { id =>
      cfs.delete(new org.apache.hadoop.fs.Path(s"$deltaPath/batch=$id"), true)
    }
  }

  /** Install an already-written `<livePath>_swap_staging` over the
    * live table via rename-aside, never delete-then-write: a crash
    * between a delete and the new write would silently EMPTY the
    * maintained table (the retry then computes from nothing, no
    * error anywhere). With the aside, every crash point leaves
    * either the old table or the new one on disk; a crash in the one
    * retire→install gap is healed by [[healSwap]] on next entry.
    */
  private[streaming] def swapInstall(spark: SparkSession, livePath: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(livePath)
    val staging = new org.apache.hadoop.fs.Path(livePath + "_swap_staging")
    val retired = new org.apache.hadoop.fs.Path(livePath + "_swap_retired")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(retired, true) // leftover from a healed earlier crash
    if (fs.exists(live)) {
      require(fs.rename(live, retired), s"swap: could not retire $live")
    }
    if (!fs.rename(staging, live)) {
      // put the old table back rather than leave none at all
      if (fs.exists(retired)) fs.rename(retired, live)
      throw new IllegalStateException(s"swap: could not install $staging")
    }
    fs.delete(retired, true)
  }
}

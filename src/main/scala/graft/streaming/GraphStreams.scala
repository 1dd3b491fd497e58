package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.functions._

import graft.streaming.StreamState.{drain, hasVisibleData, healSwap, oncePerBatch, shardedInput, swapInstall}

/** Streaming GRAPH maintenance (SURVEY §2.7 rows 37l, 37r, 37r\',
  * 37r\'\', 37r\'\'\', 37v): incremental connected components,
  * incremental SCC with its maintained condensation (+ sccCompact),
  * streamed minimum-spanning-forest maintenance, the BFS/SSSP
  * relaxation family and its multi-source face, plus their
  * claim-store compaction. Split out of EventStreams in r11 (pure
  * move, no behavior change).
  */
object GraphStreams {
  /** Incremental connected components under streaming edge arrivals —
    * the maintenance face of [[graft.operators.Dedup
    * .connectedComponents]]: near-dup pairs arrive in micro-batches
    * and the component labels stay continuously current WITHOUT ever
    * rewriting the big table. Two artifacts:
    *
    *  - `labelsPath`: APPEND-ONLY (doc_id, component_id) — each doc
    *    written once, at arrival, with its component AS OF that
    *    batch; bucketed by doc_id so a batch's endpoint lookups read
    *    only the buckets they touch.
    *  - `mergesPath`: the small (old_comp → new_comp) record stream —
    *    one row per component merge, ever. Resolution closes this
    *    map transitively on the driver (components only merge
    *    DOWNWARD to smaller min-ids, so the chain is acyclic and the
    *    closed map is O(merged components), not O(docs)) and
    *    broadcasts it; current labels = one broadcast join at read.
    *
    * Per batch: one bounded `take` of the deduplicated batch picks
    * the path. A batch of at most 100 000 edges (the `driverGate` of
    * [[ccMergeBatch]]) runs in ONE driver pass: a bucket-pruned label
    * read semi-joined to a broadcast of the batch endpoints, the
    * closed merge map of their components, a driver union-find over
    * the component-level edges, and two appends from local frames —
    * the new merge records, then the new docs' labels — a few Spark
    * jobs, where the distributed CC pays several per round. A larger
    * batch takes the distributed path: the same reads as joins, the
    * batch edges collapsed to COMPONENT-level edges, the distributed
    * CC on that component graph, the same two appends.
    * `stream_near_dedup` ([[IngestStreams.nearDedupBatch]]) feeds its
    * verified pairs through the same batch path. No label row is ever
    * updated — the lazy-relabel design; a deployment compacts by
    * applying the closed map and truncating the merge log whenever
    * it grows past taste. Replayed batchIds skip via commit markers
    * ([[IngestStreams.scd2MergeBatch]]'s idempotence pattern).
    *
    * The final resolved table equals batch CC over all edges seen —
    * min-label components are invariant under incremental min-merge
    * — so `stream_cc` shares `dedup_components`' RECURSIVE oracle.
    */
  def ccIngest(pairStream: DataFrame, labelsPath: String, mergesPath: String,
               checkpoint: String, nBuckets: Int = 16): Unit = {
    drain(pairStream, checkpoint) { (b, id) =>
      ccMergeBatch(b, id, labelsPath, mergesPath, nBuckets)
    }
  }


  /** The memoized chain walk both closure readers share: resolve
    * every key in `keys` to the end of its merge chain, where
    * `next(c)` is c's merge target (None at a root). Each key's root
    * is resolved once and written back along the whole path, so an
    * un-compacted merge log with an L-deep chain costs O(L) total and
    * constant stack, not O(L²) walks and L recursion frames. Returns
    * the root of every node walked through (roots themselves are not
    * keys).
    */
  private def closeChains(keys: Iterable[Long])(next: Long => Option[Long]): Map[Long, Long] = {
    val memo = scala.collection.mutable.Map.empty[Long, Long]
    keys.foreach { c =>
      val path = scala.collection.mutable.ArrayBuffer.empty[Long]
      var cur = c
      var step = if (memo.contains(cur)) None else next(cur)
      while (step.isDefined) {
        path += cur
        cur = step.get
        step = if (memo.contains(cur)) None else next(cur)
      }
      val r = memo.getOrElse(cur, cur)
      path.foreach(memo(_) = r)
    }
    memo.toMap
  }

  /** Transitively-closed merge map (old component → current root)
    * over the whole merge log, read once. This FULL read is the
    * resolve-time (and crash-window) path; the per-batch hot path is
    * [[closedMergesFor]], which loads only the buckets its seeds'
    * chains touch.
    */
  private def closedMerges(spark: SparkSession, mergesPath: String): Map[Long, Long] = {
    if (!hasVisibleData(spark, mergesPath)) return Map.empty
    import spark.implicits._
    val raw = spark.read.parquet(mergesPath)
      .select(col("old_comp").as[Long], col("new_comp").as[Long])
      .collect().toMap
    closeChains(raw.keys)(raw.get)
  }

  /** Seed-pruned closed merge map — the per-batch path (r12). The
    * merge log is pmod(old_comp)-partitioned (`mb`); the walker loads
    * a bucket only when a seed's chain actually enters it, so a batch
    * touching few components reads few buckets of the log, never the
    * whole thing (the relaxBatch ensureLoaded discipline, driver-side
    * — bucket loads are counted in [[MaintIO.mergeBucketReads]] for
    * the spec). Returns the resolved root for every walked key; keys
    * resolving to themselves are dropped (they need no relabel).
    */
  private[graft] def closedMergesFor(spark: SparkSession, mergesPath: String,
                                     seeds: Seq[Long],
                                     nBuckets: Int): Map[Long, Long] = {
    if (seeds.isEmpty || !hasVisibleData(spark, mergesPath)) return Map.empty
    import spark.implicits._
    val raw = scala.collection.mutable.Map.empty[Long, Long]
    val loaded = scala.collection.mutable.Set.empty[Long]
    def load(bucket: Long): Unit = {
      if (!loaded(bucket)) {
        MaintIO.mergeBucketReads.incrementAndGet()
        spark.read.parquet(mergesPath)
          .filter(col("mb") === bucket)
          .select(col("old_comp").as[Long], col("new_comp").as[Long])
          .collect().foreach { case (o, nw) => raw(o) = nw }
        loaded += bucket
      }
    }
    closeChains(seeds) { c =>
      load(java.lang.Math.floorMod(c, nBuckets.toLong))
      raw.get(c)
    }.filter { case (k, v) => k != v }
  }

  /** Append merge records pmod(old_comp)-partitioned so
    * [[closedMergesFor]] can prune its per-batch reads. */
  private def appendMerges(newMerges: DataFrame, mergesPath: String,
                           nBuckets: Int): Unit =
    newMerges
      .withColumn("mb", pmod(col("old_comp"), lit(nBuckets.toLong)))
      .write.mode("append").partitionBy("mb").parquet(mergesPath)

  /** Spec-only failpoint: when set, the next [[ccMergeBatch]] throws
    * AFTER appending its merge records but BEFORE the label append —
    * the crash window a replay of the same batchId must close exactly.
    * Both gate paths honour it. One-shot (resets itself when it fires). */
  private[graft] var ccFailAfterMerges: Boolean = false

  private def ccCrashPoint(): Unit =
    if (ccFailAfterMerges) {
      ccFailAfterMerges = false
      throw new IllegalStateException("injected crash: merges appended, labels not appended")
    }

  /** One [[ccIngest]] micro-batch, exposed for the replay spec.
    *
    * `driverGate` bounds the deduplicated batch size of the one-pass
    * driver path ([[ccDriverBatch]]); a larger batch takes the
    * distributed path ([[ccDistributedBatch]]). The gate follows
    * [[graft.operators.Graph.stronglyConnectedComponents]]: both paths
    * write identical state, and the partitioning-invariance spec pins
    * them equal with driverGate = 0 (which still sends an empty batch
    * through the driver path, where it only commits).
    */
  private[graft] def ccMergeBatch(batch0: org.apache.spark.sql.DataFrame,
                                  batchId: Long, labelsPath: String,
                                  mergesPath: String, nBuckets: Int,
                                  driverGate: Long = 100000L): Unit = {
    require(driverGate >= 0L && driverGate < Int.MaxValue, s"driverGate out of range: $driverGate")
    val spark = batch0.sparkSession
    import spark.implicits._
    oncePerBatch(spark, s"$mergesPath/_cc_commits", batchId) {
      val b = batch0.select(col("doc_a"), col("doc_b")).dropDuplicates()
      // the gate is on the deduplicated batch: its component-level edge
      // set is never larger, so a batch within the gate fits the driver
      // union-find, and this one bounded take brings it whole to the
      // driver — no further batch-sized Spark job
      val head = b.as[(Long, Long)].take(driverGate.toInt + 1)
      if (head.length <= driverGate) ccDriverBatch(spark, head, labelsPath, mergesPath, nBuckets)
      else ccDistributedBatch(b, labelsPath, mergesPath, nBuckets)
    }
  }

  /** The one-pass path for a batch within the gate: the collected
    * edges, one bucket-pruned label read semi-joined to a broadcast of
    * the batch endpoints, the pruned closure walk, a driver
    * union-find over component-level edges, then two appends from
    * local frames (merges, then labels). Each frame is coalesced to
    * one partition first, so a batch writes at most one file per
    * touched bucket.
    */
  private def ccDriverBatch(spark: SparkSession, edges: Array[(Long, Long)],
                            labelsPath: String, mergesPath: String,
                            nBuckets: Int): Unit = {
    if (edges.isEmpty) return
    import spark.implicits._
    def bucketOf(d: Long): Long = java.lang.Math.floorMod(d, nBuckets.toLong)
    val eps = edges.flatMap { case (a, b) => Array(a, b) }.distinct
    val lp = new org.apache.hadoop.fs.Path(labelsPath)
    val lfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // doc → EVERY stored component: a replayed crash can leave a doc
    // labeled twice, and the distributed path's join keeps both rows,
    // so both components must merge here too
    val known: Map[Long, Seq[Long]] =
      if (lfs.exists(lp)) {
        spark.read.parquet(labelsPath)
          .filter(col("bucket").isin(eps.map(bucketOf).distinct.toSeq: _*))
          .join(broadcast(eps.toSeq.toDF("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id").as[Long], col("component_id").as[Long])
          .collect().groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSeq }
      } else Map.empty
    val closure = closedMergesFor(spark, mergesPath, known.values.flatten.toSeq.distinct, nBuckets)
    val existing = known.values.flatten.map(c => closure.getOrElse(c, c)).toSeq.distinct
    // an unknown endpoint is its own component
    def comps(d: Long): Seq[Long] =
      known.get(d).fold(Seq(d))(_.map(c => closure.getOrElse(c, c)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // iterative find + second-pass path compression: a batch whose
    // chain edges arrive in decreasing-min order builds an O(n) parent
    // chain, far past the JVM default stack at the 100k gate —
    // constant stack regardless of chain shape
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    edges.foreach { case (a, b) =>
      val cs = comps(a) ++ comps(b)
      cs.tail.foreach(union(cs.head, _))
    }
    // merge records: existing components whose root changed
    val newMerges = existing.map(c => (c, find(c))).filter { case (c, r) => c != r }
    if (newMerges.nonEmpty) {
      appendMerges(newMerges.toDF("old_comp", "new_comp").coalesce(1), mergesPath, nBuckets)
    }
    ccCrashPoint()
    // new docs: labeled once, with their component as of THIS batch
    val lbl = eps.filterNot(known.contains).map(d => (d, find(d), bucketOf(d)))
    if (lbl.nonEmpty) {
      lbl.toSeq.toDF("doc_id", "component_id", "bucket").coalesce(1)
        .write.mode("append").partitionBy("bucket").parquet(labelsPath)
    }
  }

  /** The scale path for a batch past the gate: resolve the batch
    * endpoints' current components (bucket-pruned label read + the
    * pruned closed merge map), collapse the batch edges to
    * component-level edges, run the distributed CC on that component
    * graph, append the new merge records and the new docs' labels.
    */
  private def ccDistributedBatch(b0: DataFrame, labelsPath: String,
                                 mergesPath: String, nBuckets: Int): Unit = {
    val spark = b0.sparkSession
    import spark.implicits._
    val b = b0.persist()
    try {
      val eps = b.select(col("doc_a").as("doc_id"))
        .unionByName(b.select(col("doc_b").as("doc_id"))).distinct()
      val lp = new org.apache.hadoop.fs.Path(labelsPath)
      val lfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val known =
        if (lfs.exists(lp)) {
          val epBuckets = eps
            .select(pmod(col("doc_id"), lit(nBuckets.toLong)).as[Long])
            .distinct().collect().toSeq
          // partition pruning: only the endpoint buckets are read
          spark.read.parquet(labelsPath)
            .filter(col("bucket").isin(epBuckets: _*))
            .join(eps, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("component_id"))
            .localCheckpoint(true)
        } else Seq.empty[(Long, Long)].toDF("doc_id", "component_id")
      // merge-log reads pruned to the endpoint components' chains
      // (r12): the closure walker loads only the buckets those
      // chains touch, never the whole log
      val seeds = known.select(col("component_id").as[Long]).distinct().collect().toSeq
      val closureDf = closedMergesFor(spark, mergesPath, seeds, nBuckets)
        .toSeq.toDF("mc_old", "mc_new")
      val cur = known
        .join(broadcast(closureDf), col("component_id") === col("mc_old"), "left")
        .select(col("doc_id"), coalesce(col("mc_new"), col("component_id")).as("comp"))
        .persist()
      // collapse batch edges to component-level edges (unknown
      // endpoint → its own id is the component)
      val ca = cur.select(col("doc_id").as("doc_a"), col("comp").as("comp_a"))
      val cb = cur.select(col("doc_id").as("doc_b"), col("comp").as("comp_b"))
      val compEdges = b
        .join(ca, Seq("doc_a"), "left").join(cb, Seq("doc_b"), "left")
        .select(coalesce(col("comp_a"), col("doc_a")).as("doc_a"),
          coalesce(col("comp_b"), col("doc_b")).as("doc_b"))
        .localCheckpoint(true)
      val cc = graft.operators.Dedup.connectedComponents(compEdges)
      graft.operators.Checkpoints.free(compEdges)
      // merge records: existing components whose root changed
      val newMerges = cc
        .join(cur.select(col("comp").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .filter(col("doc_id") =!= col("component_id"))
        .select(col("doc_id").as("old_comp"), col("component_id").as("new_comp"))
      if (!newMerges.isEmpty) {
        appendMerges(newMerges, mergesPath, nBuckets)
      }
      ccCrashPoint()
      // new docs: labeled once, with their component as of THIS batch
      val lbl = eps.join(known.select("doc_id"), Seq("doc_id"), "left_anti")
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component_id"), col("doc_id")).as("component_id"))
        .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)))
      if (!lbl.isEmpty) {
        lbl.write.mode("append").partitionBy("bucket").parquet(labelsPath)
      }
      cur.unpersist()
      graft.operators.Checkpoints.free(cc)
      graft.operators.Checkpoints.free(known)
    } finally { b.unpersist(); () }
  }

  /** Current component per doc: the append-only labels resolved
    * through the closed merge map — ONE broadcast join, no rewrite
    * ever happened.
    */
  def ccResolve(spark: SparkSession, labelsPath: String,
                mergesPath: String): DataFrame = {
    import spark.implicits._
    if (!hasVisibleData(spark, labelsPath)) {
      return Seq.empty[(Long, Long)].toDF("doc_id", "component_id")
    }
    val closureDf = closedMerges(spark, mergesPath).toSeq.toDF("mc_old", "mc_new")
    spark.read.parquet(labelsPath)
      .dropDuplicates("doc_id")
      .join(broadcast(closureDf), col("component_id") === col("mc_old"), "left")
      .select(col("doc_id"), coalesce(col("mc_new"), col("component_id")).as("component_id"))
  }

  /** Compact the incremental-CC state: apply the closed merge map to
    * every label row ONCE, rewrite the labels table, truncate the
    * merge log (commit markers survive — a replayed batch must still
    * skip). After compaction resolution is a plain read (the closure
    * join hits an empty map) and the log restarts from zero; run it
    * whenever the merge log grows past taste. One full label pass —
    * the cost [[ccMergeBatch]] defers every batch, paid on the
    * operator's schedule instead of the ingest path's.
    */
  def ccCompact(spark: SparkSession, labelsPath: String, mergesPath: String,
                nBuckets: Int = 16): Unit = {
    if (!hasVisibleData(spark, labelsPath)) return
    val resolved = ccResolve(spark, labelsPath, mergesPath)
      .withColumn("bucket", pmod(col("doc_id"), lit(nBuckets.toLong)))
      // materialize BEFORE touching the files the plan reads
      .localCheckpoint(true)
    resolved.write.mode("overwrite").partitionBy("bucket").parquet(labelsPath)
    graft.operators.Checkpoints.free(resolved)
    val mp = new org.apache.hadoop.fs.Path(mergesPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(mp)) {
      fs.listStatus(mp).foreach { s =>
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) fs.delete(s.getPath, true)
      }
    }
  }

  /** End-to-end streamed CC over the documents near-dup graph (the
    * `stream_cc` entry): the same n-gram Jaccard pairs as
    * `dedup_components`, arriving as TWO shard files → two
    * micro-batches; the resolved table must equal batch CC, so it
    * shares the RECURSIVE reachability oracle.
    */
  def streamedComponents(spark: SparkSession, dir: String,
                         nBuckets: Int = 16): DataFrame = {
    // checkpoint: the candidate generator (shingle join) must run
    // once, not once per shard write
    val shards = graft.operators.Dedup.ngramJaccard(
        graft.Tables.documents(spark, dir), 3, 0.2)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .localCheckpoint(true)
    val base = java.nio.file.Files.createTempDirectory("graft-cc-ing-").toString
    val stream = shardedInput(base,
      shards.filter(col("doc_a") % 2 === 0),
      shards.filter(col("doc_a") % 2 =!= 0))
    graft.operators.Checkpoints.free(shards)
    ccIngest(stream, s"$base/labels", s"$base/merges", s"$base/ckpt", nBuckets)
    ccResolve(spark, s"$base/labels", s"$base/merges")
  }

  /** The u-parity ingest harness of the graph drives: shard the
    * checkpointed `edges` by u parity into two micro-batches under
    * `base`, free the checkpoint, and drain the shards through
    * `batchFn`. */
  private def drainByParity(edges: DataFrame, base: String)
                           (batchFn: (DataFrame, Long) => Unit): Unit = {
    val stream = shardedInput(base,
      edges.filter(col("u") % 2 === 0),
      edges.filter(col("u") % 2 =!= 0))
    graft.operators.Checkpoints.free(edges)
    drain(stream, s"$base/ckpt")(batchFn)
  }

  /** Incremental STRONGLY connected components under streaming edge
    * arrivals — the directed maintenance face of
    * [[graft.operators.Graph.stronglyConnectedComponents]], built on
    * the [[ccMergeBatch]] state design (append-only labels + the
    * closed merge log) plus one directed-only artifact:
    *
    *  - `qPath`: the maintained CONDENSATION — the cross-SCC edges in
    *    current label space, REWRITTEN each batch (it is the batch's
    *    own working set). Directed-cycle detection cannot prune it:
    *    one new edge can close a cycle through arbitrarily old
    *    condensation edges (the spec plants exactly that), so the
    *    honest per-batch cost is O(condensation ∪ batch) — never the
    *    raw edge count, and the condensation SHRINKS as cycles
    *    collapse (insertions only ever merge SCCs).
    *
    * Per batch: map the batch edges' endpoints through current labels
    * (bucket-pruned label read + closed merge map; unseen endpoints
    * are their own ids), union with the maintained condensation, run
    * the batch SCC (trim + FW-BW coloring) on that label-space graph,
    * append merge records for quotient nodes whose label changed,
    * append labels for new nodes, and rewrite the condensation with
    * intra-SCC edges dropped. Labels resolve exactly like CC —
    * min-id SCC labels are invariant under incremental min-merge and
    * condensation is associative (SCC(G ∪ H) = lift(SCC(condense(G)
    * ∪ H))) — so `stream_scc` shares `q_scc`'s closure oracle
    * VERBATIM. Replay/crash-retry: commit markers; duplicate merge
    * rows close to the same map; duplicate label rows dedup at
    * resolve.
    */
  def streamedScc(spark: SparkSession, dir: String,
                  nBuckets: Int = 16): DataFrame = {
    val edges = graft.operators.Graph.itemSequenceEdges(
        graft.Tables.lineitem(spark, dir))
      .localCheckpoint(true)
    if (edges.isEmpty) {
      graft.operators.Checkpoints.free(edges)
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("node", "scc_label")
    }
    val base = java.nio.file.Files.createTempDirectory("graft-scc-ing-").toString
    drainByParity(edges, base) { (b, id) =>
      // cadence-triggered label compaction ON in the deployed drive
      // (resolution-invariant, spec-pinned)
      sccMergeBatch(b, id, s"$base/labels", s"$base/merges", s"$base/qedges",
        nBuckets, autoCompact = Some((0.5, 256L)))
    }
    sccResolve(spark, s"$base/labels", s"$base/merges")
  }

  /** Streamed critical-path layering (the `stream_topo_layers`
    * entry): the read face `q_topo_layers` was missing — the
    * incremental-SCC maintenance already keeps the condensation DAG
    * continuously current as its `qPath` artifact, so the layering
    * is a RESOLVE-TIME delta-fixpoint over that maintained store,
    * never a recomputation from raw edges. Same md5-sampled fixture
    * as the batch twin, so the entry shares `q_topo_layers`'
    * unrolled-ladder oracle verbatim after the drain. A
    * cycle-closing batch re-layers the quotient automatically: the
    * merge rewrites the condensation, and the next resolve lays out
    * the new DAG (spec-driven).
    */
  def streamedTopoLayers(spark: SparkSession, dir: String,
                         nBuckets: Int = 16): DataFrame = {
    val edges = graft.operators.Graph.sampleEdges(
        graft.operators.Graph.itemSequenceEdges(graft.Tables.lineitem(spark, dir)),
        150, "scc:")
      .localCheckpoint(true)
    if (edges.isEmpty) {
      graft.operators.Checkpoints.free(edges)
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("scc", "depth")
    }
    val base = java.nio.file.Files.createTempDirectory("graft-topo-ing-").toString
    drainByParity(edges, base) { (b, id) =>
      // cadence-triggered label compaction ON in the deployed drive
      // (resolution-invariant, spec-pinned)
      sccMergeBatch(b, id, s"$base/labels", s"$base/merges", s"$base/qedges",
        nBuckets, autoCompact = Some((0.5, 256L)))
    }
    topoLayersResolve(spark, s"$base/qedges", s"$base/merges")
  }

  /** Layer the MAINTAINED condensation: endpoint labels resolved
    * through the closed merge map first (the identity on clean state
    * — committed batches leave the condensation in current label
    * space — but exact if a crashed batch left the log ahead of the
    * store), then the [[graft.operators.Graph.topoLayers]]
    * delta-fixpoint over what is by construction a DAG. */
  def topoLayersResolve(spark: SparkSession, qPath: String,
                        mergesPath: String): DataFrame = {
    import spark.implicits._
    if (!hasVisibleData(spark, qPath)) {
      return Seq.empty[(Long, Long)].toDF("scc", "depth")
    }
    val closureDf = closedMerges(spark, mergesPath).toSeq.toDF("mc_old", "mc_new")
    val mu = closureDf.select(col("mc_old").as("u"), col("mc_new").as("nu"))
    val mv = closureDf.select(col("mc_old").as("v"), col("mc_new").as("nv"))
    val dag = spark.read.parquet(qPath).select(col("u"), col("v"))
      .join(broadcast(mu), Seq("u"), "left")
      .join(broadcast(mv), Seq("v"), "left")
      .select(coalesce(col("nu"), col("u")).as("u"),
        coalesce(col("nv"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    graft.operators.Graph.topoLayers(dag)
      .select(col("node").as("scc"), col("depth"))
  }

  /** Spec-only failpoint: when set, the next [[sccMergeBatch]] throws
    * AFTER appending its merge records but BEFORE the label append /
    * condensation rewrite — the exact crash window the pending-marker
    * protocol exists for. One-shot (resets itself when it fires). */
  private[graft] var sccFailAfterMerges: Boolean = false

  /** One [[streamedScc]] micro-batch, exposed for the replay spec.
    *
    * Crash-retry exactness (r12): the batch writes a PENDING marker
    * before touching any state and clears it only after the
    * condensation rewrite. A clean batch (no pending marker) reads
    * the condensation as-is — its labels are current by construction
    * — and resolves endpoint labels through the SEED-PRUNED closure
    * ([[closedMergesFor]]: only the touched chains' buckets of the
    * merge log load, never the whole thing). A retry that finds a
    * pending marker is inside the crash window: the merge log may be
    * ahead of the condensation, so it loads the FULL closure and
    * relabels the condensation's endpoints through it before the
    * union (identity when the crash landed before the merge append;
    * exact when it landed after) — without that relabel a retried
    * batch drops its cycle-closing edge as a remapped self-loop
    * against stale condensation labels and the merge is silently
    * lost. Current labels never appear as old_comp (labels only ever
    * merge downward to smaller min-ids), so relabeling a condensation
    * that already got rewritten is the identity too.
    */
  private[graft] def sccMergeBatch(batch0: org.apache.spark.sql.DataFrame,
                                   batchId: Long, labelsPath: String,
                                   mergesPath: String, qPath: String,
                                   nBuckets: Int,
                                   autoCompact: Option[(Double, Long)] = None): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    // set once this batch's state lands; a replayed or empty batch
    // leaves it unset and skips the compaction probe
    var applied = false
    oncePerBatch(spark, s"$mergesPath/_scc_commits", batchId) {
      // a crashed sccCompact may have left the labels aside — restore
      // before the pruned label read below
      healSwap(spark, labelsPath)
      val pendingDir = new org.apache.hadoop.fs.Path(mergesPath, "_scc_pending")
      val pfs = pendingDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val inCrashWindow = pfs.exists(pendingDir) && pfs.listStatus(pendingDir).nonEmpty
      val b = batch0.select(col("u"), col("v"))
        .filter(col("u") =!= col("v")).dropDuplicates().persist()
      try {
        if (!b.isEmpty) {
          val eps = b.select(col("u").as("node"))
            .unionByName(b.select(col("v").as("node"))).distinct()
          val lp = new org.apache.hadoop.fs.Path(labelsPath)
          val lfs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val known =
            if (lfs.exists(lp)) {
              val epBuckets = eps
                .select(pmod(col("node"), lit(nBuckets.toLong)).as[Long])
                .distinct().collect().toSeq
              spark.read.parquet(labelsPath)
                .filter(col("bucket").isin(epBuckets: _*))
                .join(eps, Seq("node"), "left_semi")
                .dropDuplicates("node")
                .select(col("node"), col("scc_id"))
                .localCheckpoint(true)
            } else Seq.empty[(Long, Long)].toDF("node", "scc_id")
          val closureDf = (
            if (inCrashWindow) closedMerges(spark, mergesPath)
            else closedMergesFor(spark, mergesPath,
              known.select(col("scc_id").as[Long]).distinct().collect().toSeq, nBuckets)
            ).toSeq.toDF("mc_old", "mc_new")
          val cur = known
            .join(broadcast(closureDf), col("scc_id") === col("mc_old"), "left")
            .select(col("node"), coalesce(col("mc_new"), col("scc_id")).as("scc"))
            .persist()
          val cu = cur.select(col("node").as("u"), col("scc").as("scc_u"))
          val cv = cur.select(col("node").as("v"), col("scc").as("scc_v"))
          val mapped = b.join(cu, Seq("u"), "left").join(cv, Seq("v"), "left")
            .select(coalesce(col("scc_u"), col("u")).as("u"),
              coalesce(col("scc_v"), col("v")).as("v"))
            .filter(col("u") =!= col("v"))
          val qOld0 =
            if (hasVisibleData(spark, qPath)) spark.read.parquet(qPath).select(col("u"), col("v"))
            else Seq.empty[(Long, Long)].toDF("u", "v")
          // crash-window retry: bring the condensation into the closed
          // label space before the union (see the method doc)
          val qOld =
            if (!inCrashWindow) qOld0
            else {
              val mu = closureDf.select(col("mc_old").as("u"), col("mc_new").as("nu"))
              val mv = closureDf.select(col("mc_old").as("v"), col("mc_new").as("nv"))
              qOld0.join(broadcast(mu), Seq("u"), "left")
                .join(broadcast(mv), Seq("v"), "left")
                .select(coalesce(col("nu"), col("u")).as("u"),
                  coalesce(col("nv"), col("v")).as("v"))
                .filter(col("u") =!= col("v"))
            }
          val qAll = qOld.unionByName(mapped).distinct().localCheckpoint(true)
          val scc = graft.operators.Graph.stronglyConnectedComponents(qAll)
            .localCheckpoint(true)
          // the cadence manifest's baseline, read BEFORE any mutation
          // (exact on the happy path; a fallback recount after a crash)
          val (baseLabels, baseMerges) = sccCounts(spark, labelsPath, mergesPath)
          // open the crash window: state mutations start here — and the
          // counts manifest stops being trustworthy until the commit
          // below rewrites it, so delete it first (a crashed batch must
          // leave the prober on real counts, never a stale manifest)
          pfs.mkdirs(pendingDir)
          pfs.create(new org.apache.hadoop.fs.Path(pendingDir, batchId.toString), true).close()
          deleteSccCounts(spark, mergesPath)
          val newMerges = scc.filter(col("node") =!= col("scc_label"))
            .select(col("node").as("old_comp"), col("scc_label").as("new_comp"))
          val nNewMerges = newMerges.count()
          if (nNewMerges > 0) appendMerges(newMerges, mergesPath, nBuckets)
          if (sccFailAfterMerges) {
            sccFailAfterMerges = false
            throw new IllegalStateException(
              "injected crash: merges appended, condensation not rewritten")
          }
          // new nodes: labeled once, with their SCC as of THIS batch
          val lbl = eps.join(known.select("node"), Seq("node"), "left_anti")
            .join(scc, Seq("node"), "left")
            .select(col("node"), coalesce(col("scc_label"), col("node")).as("scc_id"))
            .withColumn("bucket", pmod(col("node"), lit(nBuckets.toLong)))
            .localCheckpoint(true)
          val nNewLabels = lbl.count()
          if (nNewLabels > 0) lbl.write.mode("append").partitionBy("bucket").parquet(labelsPath)
          // rewrite the condensation in the new label space, intra-SCC
          // edges dropped (materialized BEFORE overwriting what it reads)
          val su = scc.select(col("node").as("u"), col("scc_label").as("lu"))
          val sv = scc.select(col("node").as("v"), col("scc_label").as("lv"))
          val relabeled = qAll.join(su, Seq("u"), "left").join(sv, Seq("v"), "left")
            .select(coalesce(col("lu"), col("u")).as("u"),
              coalesce(col("lv"), col("v")).as("v"))
            .filter(col("u") =!= col("v")).distinct()
            .localCheckpoint(true)
          relabeled.write.mode("overwrite").parquet(qPath)
          // condensation caught up with the merge log: close the window
          pfs.delete(pendingDir, true)
          // reinstate the cadence manifest with this batch's deltas folded
          // in — a crash before this line leaves it absent (fallback), a
          // crash after leaves it exact; never stale either way
          writeSccCounts(spark, mergesPath,
            baseLabels + nNewLabels, baseMerges + nNewMerges)
          graft.operators.Checkpoints.free(relabeled)
          graft.operators.Checkpoints.free(qAll)
          graft.operators.Checkpoints.free(scc)
          graft.operators.Checkpoints.free(known)
          graft.operators.Checkpoints.free(lbl)
          cur.unpersist()
          applied = true
        }
      } finally { b.unpersist(); () }
    }
    // scheduled maintenance rides the batch boundary: AFTER this
    // batch's commit (a compaction crash can never reopen the
    // window the batch just closed), on the sccStateStats cadence
    if (applied) autoCompact.foreach { case (ratio, minLog) =>
      sccCompactIfDue(spark, labelsPath, mergesPath, nBuckets, ratio, minLog)
    }
  }

  /** Compact the incremental-SCC state — the [[ccCompact]] treatment
    * for the directed face: bake the closed merge map into every
    * label row once, rewrite the bucketed labels, truncate the merge
    * log (commit markers survive — a replayed batch must still
    * skip). The condensation needs no rewrite: every committed batch
    * leaves it in current label space already, so after compaction
    * batches resolve against an empty closure and an unchanged
    * condensation. Run on the operator's schedule whenever
    * [[sccStateStats]] shows the log grown past taste.
    */
  def sccCompact(spark: SparkSession, labelsPath: String, mergesPath: String,
                 nBuckets: Int = 16): Unit = {
    healSwap(spark, labelsPath)
    if (!hasVisibleData(spark, labelsPath)) return
    // REFUSE while a crashed batch's window is open (_scc_pending
    // non-empty): the crashed batch appended merges the condensation
    // was never relabeled through, and its retry relies on loading
    // the FULL closure (inCrashWindow). Compacting here would bake
    // those merges into labels and truncate the log, so the retry's
    // closure comes back empty and the stale condensation is never
    // relabeled — permanent merge loss. The retry closes the window;
    // the operator's scheduled compaction simply runs next time.
    val pendingDir = new org.apache.hadoop.fs.Path(mergesPath, "_scc_pending")
    val pfs = pendingDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (pfs.exists(pendingDir) && pfs.listStatus(pendingDir).nonEmpty) return
    val resolved = sccResolve(spark, labelsPath, mergesPath)
      .withColumnRenamed("scc_label", "scc_id")
      .withColumn("bucket", pmod(col("node"), lit(nBuckets.toLong)))
      // materialize BEFORE touching the files the plan reads
      .localCheckpoint(true)
    // rename-aside swap: an in-place overwrite would lose ALL label
    // state on a crash mid-rewrite while the merge log below is
    // about to be consumed (the mstBatch/semanticPairCompact window)
    // the rewrite invalidates the cadence manifest until the final
    // write below re-pins it at (resolved labels, empty log)
    deleteSccCounts(spark, mergesPath)
    val nResolved = resolved.count()
    resolved.write.mode("overwrite").partitionBy("bucket")
      .parquet(labelsPath + "_swap_staging")
    swapInstall(spark, labelsPath)
    graft.operators.Checkpoints.free(resolved)
    val mp = new org.apache.hadoop.fs.Path(mergesPath)
    val fs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(mp)) {
      fs.listStatus(mp).foreach { s =>
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) fs.delete(s.getPath, true)
      }
    }
    writeSccCounts(spark, mergesPath, nResolved, 0L)
  }

  /** SCC state sizes — the compaction-cadence metric (the
    * bfsStateStats shape): (label rows, merge-log rows, condensation
    * edges). A deployment watches the merge log against the label
    * count (compact labels + truncate the log when it grows past
    * taste — [[ccCompact]]'s schedule) and the condensation size
    * against the batch budget (it IS the per-batch working set). */
  def sccStateStats(spark: SparkSession, labelsPath: String,
                    mergesPath: String, qPath: String): (Long, Long, Long) = {
    def n(p: String) =
      if (hasVisibleData(spark, p)) spark.read.parquet(p).count() else 0L
    (n(labelsPath), n(mergesPath), n(qPath))
  }

  /** The cadence TRIGGER the [[sccStateStats]] metric exists for (the
    * cellStats → ivfCompact pattern, wired): compact when the merge
    * log has grown past `ratio` × labels, but never for a log smaller
    * than `minLog` rows (closure folding below that is cheaper than
    * any rewrite). Fires [[sccCompact]] — which still REFUSES inside
    * an open crash window, so a due compaction under a crashed batch
    * simply runs at the next cadence check after the retry (the
    * deployment never has to order the two). Returns whether a
    * compaction actually ran, so callers/specs can observe the
    * cadence.
    *
    * Threshold basis (SURVEY §5's SCC rehearsal): every batch's resolve folds
    * the closed merge map on the driver and broadcasts it, so
    * per-batch cost grows linearly in log size while the compaction
    * pays one labels rewrite — at ratio 0.5 the amortized fold cost
    * crosses the rewrite cost measured at the 200k-edge rehearsal
    * scale. */
  def sccCompactIfDue(spark: SparkSession, labelsPath: String,
                      mergesPath: String, nBuckets: Int = 16,
                      ratio: Double = 0.5, minLog: Long = 256L): Boolean = {
    val (labels, merges) = sccCounts(spark, labelsPath, mergesPath)
    val due = merges >= math.max(minLog.toDouble, ratio * labels)
    val pendingDir = new org.apache.hadoop.fs.Path(mergesPath, "_scc_pending")
    val pfs = pendingDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val windowOpen = pfs.exists(pendingDir) && pfs.listStatus(pendingDir).nonEmpty
    val fired = due && !windowOpen
    if (fired) sccCompact(spark, labelsPath, mergesPath, nBuckets)
    fired
  }

  /** (label rows, merge-log rows) for the cadence probe — METADATA
    * FIRST: the happy path reads the `_scc_counts` manifest the batch
    * commit and [[sccCompact]] maintain (one tiny file), so an
    * always-on drive's per-batch "is compaction due?" check costs
    * zero state-scan jobs. The manifest is DELETED when a batch opens
    * its crash window (state is about to drift from it) and only
    * rewritten at the next successful commit, so a crashed batch can
    * never leave a stale manifest anchoring the cadence: absent
    * manifest → fall back to real counts (spec-pinned via
    * [[MaintIO.stateCountScans]]). */
  private[graft] def sccCounts(spark: SparkSession, labelsPath: String,
                               mergesPath: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(mergesPath, "_scc_counts")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val parts =
        try new String(in.readAllBytes(), "UTF-8").trim.split(" ")
        finally in.close()
      (parts(0).toLong, parts(1).toLong)
    } else {
      MaintIO.stateCountScans.incrementAndGet()
      def n(path: String) =
        if (hasVisibleData(spark, path)) spark.read.parquet(path).count() else 0L
      (n(labelsPath), n(mergesPath))
    }
  }

  private def writeSccCounts(spark: SparkSession, mergesPath: String,
                             labels: Long, merges: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(mergesPath, "_scc_counts")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$labels $merges".getBytes("UTF-8")) finally out.close()
  }

  private def deleteSccCounts(spark: SparkSession, mergesPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(mergesPath, "_scc_counts")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  /** Current SCC label per node: the append-only labels resolved
    * through the closed merge map — the [[ccResolve]] contract,
    * directed. */
  def sccResolve(spark: SparkSession, labelsPath: String,
                 mergesPath: String): DataFrame = {
    import spark.implicits._
    healSwap(spark, labelsPath)
    if (!hasVisibleData(spark, labelsPath)) {
      return Seq.empty[(Long, Long)].toDF("node", "scc_label")
    }
    val closureDf = closedMerges(spark, mergesPath).toSeq.toDF("mc_old", "mc_new")
    spark.read.parquet(labelsPath)
      .dropDuplicates("node")
      .join(broadcast(closureDf), col("scc_id") === col("mc_old"), "left")
      .select(col("node"), coalesce(col("mc_new"), col("scc_id")).as("scc_label"))
  }

  // ------------------------------------------------------------------
  // Streamed minimum-spanning-forest maintenance (37v): the classic
  // MST SPARSIFICATION identity — MST(A ∪ B) = MST(MST(A) ∪ B)
  // whenever the MST is unique, which the (w, u, v) total order
  // guarantees — means the maintained forest IS the per-batch working
  // set: each batch runs Borůvka over (previous forest ∪ batch), an
  // input bounded by O(nodes + batch) regardless of how many edges
  // ever streamed past. A cheaper late edge genuinely EVICTS a
  // heavier forest edge on its cycle (the replacement case grow-only
  // designs get wrong; spec plants it). Crash-retry is free algebra:
  // re-running a batch computes MST(MST(A ∪ B) ∪ B) = MST(A ∪ B).
  // ------------------------------------------------------------------

  /** One streamed-MSF micro-batch, exposed for the replay spec. */
  private[graft] def mstBatch(batch0: org.apache.spark.sql.DataFrame,
                              batchId: Long, statePath: String): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    oncePerBatch(spark, s"$statePath/_mst_commits", batchId) {
      val forestPath = s"$statePath/forest"
      // a crash between a prior batch's retire and install leaves the
      // forest aside — restore it before reading, or this batch would
      // silently compute MST(batch) alone
      healSwap(spark, forestPath)
      val b = batch0.select(col("u"), col("v"), col("w"))
        .filter(col("u") =!= col("v")).dropDuplicates()
      val prev =
        if (hasVisibleData(spark, forestPath))
          spark.read.parquet(forestPath).select(col("u"), col("v"), col("w"))
        else Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
      val next = graft.operators.Graph.mstBoruvka(prev.unionByName(b))
        // materialize BEFORE overwriting the files the plan reads
        .localCheckpoint(true)
      // rename-aside swap, never in-place overwrite: an overwrite's
      // delete-then-write window would silently empty the forest on a
      // crash (the healPairs/semanticPairCompact lesson, shared)
      next.write.mode("overwrite").parquet(forestPath + "_swap_staging")
      swapInstall(spark, forestPath)
      graft.operators.Checkpoints.free(next)
    }
  }

  /** Resolve the maintained forest to the one-row
    * [[graft.operators.Graph.mstSummary]] shape. The forest alone
    * carries everything: it spans every non-isolated node, so
    * n_components = distinct forest nodes − forest edges. */
  def mstResolveSummary(spark: SparkSession, statePath: String): DataFrame = {
    import spark.implicits._
    val forestPath = s"$statePath/forest"
    healSwap(spark, forestPath)
    if (!hasVisibleData(spark, forestPath)) {
      return Seq((0L, 0L, 0L)).toDF("n_edges", "total_weight", "n_components")
    }
    val f = spark.read.parquet(forestPath)
    val agg = f.agg(count(lit(1)).as("n_edges"),
      coalesce(sum(col("w")), lit(0L)).cast("long").as("total_weight"))
    val n = f.select(col("u").as("node")).unionAll(f.select(col("v").as("node")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    agg.crossJoin(n).select(col("n_edges"), col("total_weight"),
      (col("n_nodes") - col("n_edges")).as("n_components"))
  }

  /** End-to-end streamed MSF over the weighted co-purchase edges (the
    * `stream_mst_summary` entry): two shards → two micro-batches;
    * the final forest equals batch Borůvka over the union (the
    * sparsification identity), so the summary shares
    * `q_mst_summary`'s threshold-identity oracle verbatim. */
  def streamedMstSummary(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.operators.Graph.coPurchaseWeightedEdges(
        graft.Tables.lineitem(spark, dir))
      .localCheckpoint(true)
    val base = java.nio.file.Files.createTempDirectory("graft-mst-ing-").toString
    drainByParity(edges, base) { (b, id) =>
      mstBatch(b, id, s"$base/state")
    }
    mstResolveSummary(spark, s"$base/state")
  }

  /** Streamed BFS over the co-purchase edge stream: shard the edge
    * list into two micro-batches (the [[streamedComponents]] ingest
    * shape), maintain hop distances incrementally from the configured
    * query point (the graph's global min node id — deterministic from
    * the fixture), and resolve. Final state ≡ batch
    * [[graft.operators.Graph.bfsHops]] over the union, which is why
    * the entry can share `q_bfs`'s recursive-CTE SQL oracle verbatim
    * — a fully hash-checked STREAMING graph query.
    */
  def streamedBfs(spark: SparkSession, dir: String): DataFrame =
    seededRelaxDrive(graft.operators.Graph.coPurchaseEdges(
        graft.Tables.lineitem(spark, dir)).localCheckpoint(true),
      "graft-bfs-ing-")(bfsBatch(_, _, _, _, 30))

  /** Streamed WEIGHTED shortest paths — [[streamedBfs]]'s sibling
    * over the multiplicity-weighted co-purchase edges: same
    * append-only claims state, same dynamic-relaxation argument
    * (adding edges only decreases distances), so the final state ≡
    * batch `Graph.sssp` over the union and the entry shares
    * `q_sssp`'s 20-round relax-ladder oracle verbatim (the fixture
    * converges well inside both budgets). Unlike BFS, an improvement
    * here can REVISIT an already-settled node (a cheaper weighted
    * path through a new edge), which the min-over-claims resolution
    * absorbs without rewriting anything.
    */
  def streamedSssp(spark: SparkSession, dir: String): DataFrame =
    seededRelaxDrive(graft.operators.Graph.coPurchaseWeightedEdges(
        graft.Tables.lineitem(spark, dir)).localCheckpoint(true),
      "graft-sssp-ing-")(ssspBatch(_, _, _, _, 30))

  /** The [[streamedBfs]]/[[streamedSssp]] drive: seed at the graph's
    * global min node id, drain the checkpointed `edges` through
    * `batch` (batch, batchId, statePath, seed) and resolve. No edges,
    * no seed: the resolve is empty. */
  private def seededRelaxDrive(edges: DataFrame, prefix: String)
                              (batch: (DataFrame, Long, String, Long) => Unit): DataFrame = {
    val spark = edges.sparkSession
    val seedRow = edges.agg(least(min(col("u")), min(col("v")))).head()
    if (seedRow.isNullAt(0)) {
      graft.operators.Checkpoints.free(edges)
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("node", "dist")
    }
    val seed = seedRow.getLong(0)
    val base = java.nio.file.Files.createTempDirectory(prefix).toString
    drainByParity(edges, base)((b, id) => batch(b, id, s"$base/state", seed))
    bfsResolve(spark, s"$base/state")
  }

  /** One [[streamedBfs]] micro-batch (step cost 1), exposed for the
    * replay spec. */
  private[graft] def bfsBatch(batch0: org.apache.spark.sql.DataFrame,
                              batchId: Long, statePath: String,
                              seed: Long, maxRounds: Int): Unit =
    relaxBatch(batch0, batchId, statePath, maxRounds, SingleSource,
      weighted = false)(standingSeed(seed))

  /** One [[streamedSssp]] micro-batch (step cost = the edge's
    * integer weight). */
  private[graft] def ssspBatch(batch0: org.apache.spark.sql.DataFrame,
                               batchId: Long, statePath: String,
                               seed: Long, maxRounds: Int): Unit =
    relaxBatch(batch0, batchId, statePath, maxRounds, SingleSource,
      weighted = true)(standingSeed(seed))

  /** pmod(node) partition count for maintained claim stores — the
    * unit of pruned dist reads (the 37l/37q read shape). */
  private[graft] val DistBuckets = 16

  private def distBucketCol(c: org.apache.spark.sql.Column) =
    pmod(c, lit(DistBuckets.toLong))

  /** Free a relaxation batch's checkpoints: its claim parts and the
    * candidate, adjacency and distance checkpoints it may have made. */
  private def freeCheckpoints(claimParts: Iterable[org.apache.spark.sql.DataFrame],
                              cps: org.apache.spark.sql.DataFrame*): Unit =
    (claimParts ++ cps.filter(_ != null)).foreach(graft.operators.Checkpoints.free)

  /** A relaxation claim store: its claim key, its commit-marker
    * directory, and the kernel name its exhausted-budget error names. */
  private final case class ClaimStore(keys: Seq[String], commits: String,
                                      name: String)

  /** [[bfsBatch]]/[[ssspBatch]] claims: (node, dist). */
  private val SingleSource =
    ClaimStore(Seq("node"), "_bfs_commits", "relaxBatch")

  /** [[multiBfsBatch]] claims: (src, node, dist). */
  private val MultiSource =
    ClaimStore(Seq("src", "node"), "_mb_commits", "multiBfsBatch")

  /** How a relaxation batch starts: the `nodes` whose claim buckets
    * load with the batch endpoints' buckets, the seed claims given
    * the claims loaded so far, and what to `persist` after the
    * claims append (before the commit marker). */
  private final case class Seeding(nodes: Seq[Long], claims: DataFrame => DataFrame,
                                   persist: () => Unit = () => ())

  /** The standing (seed, 0) claim of a single-source store: the first
    * batch's start, a no-op improvement in every later batch. */
  private def standingSeed(seed: Long)(batch: DataFrame): Seeding = {
    val spark = batch.sparkSession
    import spark.implicits._
    Seeding(Seq(seed), _ => Seq((seed, 0L)).toDF("node", "dist"))
  }

  /** The fold every read of a claim store applies: min dist per key. */
  private def minClaims(claims: DataFrame, keys: Seq[String]): DataFrame =
    claims.groupBy(keys.map(col): _*).agg(min("dist").as("dist"))

  /** Incremental relaxation maintenance over a stream of edge
    * batches, shared by [[bfsBatch]] (step cost 1), [[ssspBatch]]
    * (step cost = the edge's integer weight) and [[multiBfsBatch]]
    * (step cost 1, one wave per source): distances from fixed query
    * points stay continuously current as edges arrive. New edges can
    * only DECREASE distances, so each batch seeds its relaxation from
    * the one-hop neighborhoods of the NEW edges' already-reached
    * endpoints (plus the seed claims) and propagates improvements to
    * fixpoint — per-batch rounds are bounded by how far the
    * improvement wave actually travels, never by the graph's
    * diameter, and a batch touching only settled regions converges
    * in one empty round. The classic dynamic-BFS argument makes this
    * exact: any node whose distance drops has a shortest path through
    * a new edge, and the wave from that edge's endpoints reaches it —
    * which is what lets the entries share their batch twins' SQL
    * oracles verbatim.
    *
    * State under `statePath`, all append-only (the [[ccIngest]]
    * story): `edges` — the maintained edge list, one overwrite delta
    * per batch (deduped on read, so replayed batches are harmless);
    * `dist` — improvement CLAIMS keyed by `store.keys`, resolved by
    * min-per-key at read time ([[bfsResolve]], [[multiBfsResolve]]),
    * so a batch writes only its improvements and never rewrites the
    * distance table; `store.commits` batchId markers make whole-batch
    * replays no-ops.
    *
    * Per batch, in order: the batch's edges land in a per-batch
    * overwrite delta, `seeding` runs on the batch, the claims the
    * batch improves are appended, then `Seeding.persist` runs, and
    * [[StreamState.oncePerBatch]] writes the commit marker.
    */
  private def relaxBatch(batch0: DataFrame, batchId: Long, statePath: String,
                         maxRounds: Int, store: ClaimStore, weighted: Boolean)
                        (seeding: DataFrame => Seeding): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    val keys = store.keys
    oncePerBatch(spark, s"$statePath/${store.commits}", batchId) {
      val cols = if (weighted) Seq(col("u"), col("v"), col("w")) else Seq(col("u"), col("v"))
      val batch = batch0.select(cols: _*).distinct().persist()
      try {
        val edgesPath = s"$statePath/edges"
        val distPath = s"$statePath/dist"
        // per-batch delta directory with OVERWRITE semantics (the
        // urlDedupBatch/cdcDedupBatch deltas pattern): a crash-retry
        // REPLACES this batch's edges instead of appending a second
        // copy, so the store never grows with retries
        batch.write.mode("overwrite").parquet(s"$edgesPath/batch=$batchId")
        val start = seeding(batch)
        // step cost: the edge's weight, or 1 on an unweighted store
        val (wCols, step) = if (weighted) (Seq(col("w")), col("w")) else (Nil, lit(1L))
        def bidir(df: DataFrame) =
          df.select(col("u").as("a") +: col("v").as("b") +: wCols: _*)
            .unionAll(df.select(col("v").as("a") +: col("u").as("b") +: wCols: _*))
        // one step: every claim crosses its node's edges, min per key
        def relax(claims: DataFrame, edges: DataFrame) =
          claims.join(edges, col("node") === col("a"))
            .select(keys.map(k => if (k == "node") col("b").as(k) else col(k)) :+
              (col("dist") + step).as("nd"): _*)
            .groupBy(keys.map(col): _*).agg(min("nd").as("dist"))
        // The full adjacency materializes LAZILY, on the first round
        // that actually improves something: a batch whose one-hop
        // relaxations all fail (the common always-on case — most
        // arrivals change no distance) commits without ever scanning
        // the maintained edge list. A batch that does improve pays ONE
        // checkpoint reused across its rounds (per-round pruned parquet
        // re-reads were rehearsed and measured 2x slower on full-graph
        // builds than the single checkpoint).
        var und: DataFrame = null
        def adj() = {
          if (und == null) {
            MaintIO.edgeStoreReads.incrementAndGet()
            und = bidir(spark.read.parquet(edgesPath).select(cols: _*).distinct())
              .localCheckpoint(true)
          }
          und
        }
        // Maintained distances load LAZILY too, bucket by bucket: the
        // claim store is pmod(node)-partitioned, and a batch reads
        // ONLY the buckets its candidate nodes fall in — a
        // distance-neutral batch touches the batch-endpoint buckets
        // and nothing else, never the whole store.
        val distStoreExists = hasVisibleData(spark, distPath)
        val loaded = scala.collection.mutable.Set.empty[Long]
        var dist = spark.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType((keys :+ "dist").map(StructField(_, LongType, nullable = false))))
        var distCp: DataFrame = null
        def ensureLoaded(buckets: Seq[Long]): Unit = {
          val need = buckets.filterNot(loaded)
          if (need.nonEmpty) {
            if (distStoreExists) {
              MaintIO.distBucketReads.addAndGet(need.size.toLong)
              val add = minClaims(
                spark.read.parquet(distPath).filter(col("db").isin(need: _*)), keys)
              val superseded = distCp
              dist = dist.unionAll(add).localCheckpoint(true)
              distCp = dist
              if (superseded != null) graft.operators.Checkpoints.free(superseded)
            }
            loaded ++= need
          }
        }
        def bucketsOf(nodes: DataFrame): Seq[Long] =
          nodes.select(distBucketCol(col("node")).as("db")).distinct()
            .collect().map(_.getLong(0)).toSeq
        // Bucket tracking costs a checkpoint + a tiny job per round, so
        // it runs only while it can still prune: once every bucket is
        // loaded (or the store doesn't exist yet), rounds run at the
        // untracked cost exactly like the pre-bucketing design.
        def trackingNeeded: Boolean =
          distStoreExists && loaded.size < DistBuckets
        ensureLoaded(bucketsOf(batch.select(col("u").as("node"))
          .unionAll(batch.select(col("v").as("node")))
          .unionAll(start.nodes.toDF("node"))))
        // the candidates' claims that beat the loaded ones
        def improving(cand: DataFrame) = cand
          .join(dist.withColumnRenamed("dist", "old"), keys, "left_outer")
          .filter(col("old").isNull || col("dist") < col("old"))
        // Initial claims: the seed claims + one-hop relaxations of the
        // NEW edges from currently-known distances.
        var cand = start.claims(dist).unionByName(relax(dist, bidir(batch)))
        var candCp: DataFrame = null
        val claimParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        var round = 0
        var continue = true
        while (continue && round <= maxRounds) {
          val candEval = if (trackingNeeded) {
            val prevCand = candCp
            candCp = cand.localCheckpoint(true)
            if (prevCand != null) graft.operators.Checkpoints.free(prevCand)
            ensureLoaded(bucketsOf(candCp.select("node")))
            candCp
          } else cand
          val improved = improving(candEval)
            .select((keys :+ "dist").map(col): _*)
            .localCheckpoint(true)
          if (improved.isEmpty) {
            graft.operators.Checkpoints.free(improved)
            continue = false
          } else {
            claimParts += improved
            val superseded = distCp
            dist = dist.join(improved, keys, "left_anti")
              .unionAll(improved).localCheckpoint(true)
            distCp = dist
            if (superseded != null) graft.operators.Checkpoints.free(superseded)
            cand = relax(improved, adj())
            round += 1
          }
        }
        // Round budget exhausted while the last wave still improved:
        // probe whether the untested candidates would improve anything
        // and fail loud if so — a silently truncated relaxation would
        // hash-drift from both the batch twin and the shared SQL
        // oracle on a fixture deep enough to need more rounds.
        if (continue) {
          val lastCand = cand.localCheckpoint(true)
          if (trackingNeeded) ensureLoaded(bucketsOf(lastCand.select("node")))
          val leftover = improving(lastCand).limit(1).count()
          graft.operators.Checkpoints.free(lastCand)
          if (leftover > 0) {
            freeCheckpoints(claimParts, candCp, und, distCp)
            throw new IllegalStateException(
              s"${store.name}: maxRounds=$maxRounds exhausted before fixpoint " +
                s"in batch $batchId — raise maxRounds")
          }
        }
        if (claimParts.nonEmpty) {
          // cluster by bucket so the write lands ~one file per bucket,
          // not (tasks × buckets) shards — the pruned reads this store
          // exists for are priced by file count
          claimParts.reduce(_ unionAll _)
            .withColumn("db", distBucketCol(col("node")))
            .repartition(col("db"))
            .write.mode("append").partitionBy("db").parquet(distPath)
        }
        start.persist()
        freeCheckpoints(claimParts, candCp, und, distCp)
      } finally batch.unpersist()
    }
  }

  /** Compact a [[bfsBatch]]/[[ssspBatch]] claim store: fold the
    * append-only claims to their min per node and rewrite, one file
    * per bucket (the [[spanStateCompact]] schedule — claims "cost
    * storage, never correctness", and this is where the storage gets
    * reclaimed). Commit markers survive: a replayed batch must still
    * skip. Resolution before and after is identical because
    * [[bfsResolve]] and every pruned batch read already fold
    * min-per-node on read. */
  def bfsStateCompact(spark: SparkSession, statePath: String): Unit =
    compactClaims(spark, statePath, SingleSource.keys)(identity)

  /** Rewrite a claim store as its [[minClaims]] fold, narrowed by
    * `keep`, one file per bucket. */
  private def compactClaims(spark: SparkSession, statePath: String, keys: Seq[String])
                           (keep: DataFrame => DataFrame): Unit = {
    val distPath = s"$statePath/dist"
    if (!hasVisibleData(spark, distPath)) return
    val folded = keep(minClaims(spark.read.parquet(distPath), keys))
      .withColumn("db", distBucketCol(col("node")))
      // materialize BEFORE touching the files the plan reads
      .localCheckpoint(true)
    folded.repartition(col("db"))
      .write.mode("overwrite").partitionBy("db").parquet(distPath)
    graft.operators.Checkpoints.free(folded)
  }

  /** Resolve the maintained BFS state: min claim per node. */
  def bfsResolve(spark: SparkSession, statePath: String): DataFrame = {
    import spark.implicits._
    if (!hasVisibleData(spark, s"$statePath/dist")) {
      return Seq.empty[(Long, Long)].toDF("node", "dist")
    }
    minClaims(spark.read.parquet(s"$statePath/dist"), SingleSource.keys)
  }

  // ------------------------------------------------------------------
  // Streamed MULTI-SOURCE BFS maintenance: one maintained (src, node,
  // dist) claim store serves BOTH distance-structure reads — the hop
  // histogram (stream_bfs_histogram) and harmonic centrality
  // (stream_harmonic) — each sharing its batch twin's SQL oracle
  // verbatim. The single-source dynamic-BFS argument applies per
  // source unchanged (added edges only decrease distances; relax from
  // the new edges' reached endpoints to fixpoint). The wrinkle the
  // single-source face doesn't have is SOURCE ELECTION: "the k
  // smallest node ids" is a property of the GRAPH SO FAR, so a
  // later-arriving smaller id must join the source set — its seed
  // claim starts a fresh full relaxation in that batch (cost = one
  // batch BFS, exactly what the batch operator pays) — and a node
  // that drops out of the top-k keeps its (bounded, still-valid)
  // claims, which RESOLVE simply filters to the current top-k: stale
  // sources cost storage, never correctness.
  // ------------------------------------------------------------------

  /** ONE maintained claim store serves BOTH distance-structure
    * reads (the 37r'' design): the ingest harness runs once per
    * (dir, k) per JVM and `stream_bfs_histogram` / `stream_harmonic`
    * both resolve from the same state — the sim_ann_opq train-once
    * memoization pattern, matching how a deployment actually keeps
    * this store (continuously maintained, read by many queries). */
  private val mbfsStates =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Option[String]]

  private def multiBfsHarness(spark: SparkSession, dir: String,
                              k: Int): Option[String] =
    mbfsStates.getOrElseUpdate((dir, k), multiBfsHarnessOnce(spark, dir, k))

  private def multiBfsHarnessOnce(spark: SparkSession, dir: String,
                                  k: Int): Option[String] = {
    val edges = graft.operators.Graph.coPurchaseEdges(
        graft.Tables.lineitem(spark, dir))
      .localCheckpoint(true)
    if (edges.isEmpty) {
      graft.operators.Checkpoints.free(edges)
      return None
    }
    val base = java.nio.file.Files.createTempDirectory("graft-mbfs-ing-").toString
    drainByParity(edges, base) { (b, id) =>
      multiBfsBatch(b, id, s"$base/state", k)
    }
    Some(s"$base/state")
  }

  /** Streamed hop-distance histogram — shares `q_bfs_histogram`'s
    * recursive-CTE oracle verbatim. */
  def streamedBfsHistogram(spark: SparkSession, dir: String,
                           k: Int = 4): DataFrame = {
    import spark.implicits._
    multiBfsHarness(spark, dir, k) match {
      case None => Seq.empty[(Long, Long)].toDF("hop", "n_pairs")
      case Some(state) =>
        graft.operators.Graph.hopHistogramOf(multiBfsResolve(spark, state, k))
    }
  }

  /** Streamed harmonic centrality — shares `q_harmonic`'s oracle
    * verbatim (same integer-micros discipline as the batch twin). */
  def streamedHarmonic(spark: SparkSession, dir: String, k: Int = 4,
                       topK: Int = 20): DataFrame = {
    import spark.implicits._
    multiBfsHarness(spark, dir, k) match {
      case None => Seq.empty[(Long, Long, Long)].toDF("node", "hc_micros", "rk")
      case Some(state) =>
        graft.operators.Graph.harmonicTopKOf(multiBfsResolve(spark, state, k), topK)
    }
  }

  /** One multi-source BFS micro-batch, exposed for the replay spec:
    * [[relaxBatch]] over (src, node) claims, seeded by
    * [[electSources]]. */
  private[graft] def multiBfsBatch(batch0: org.apache.spark.sql.DataFrame,
                                   batchId: Long, statePath: String, k: Int,
                                   maxRounds: Int = 40): Unit =
    relaxBatch(batch0, batchId, statePath, maxRounds, MultiSource,
      weighted = false)(electSources(_, statePath, k))

  /** Multi-source seeding. Source ELECTION never needs an edge scan:
    * the node set only grows, so the new top-k ⊆ old top-k ∪ this
    * batch's nodes — the old top-k persists in a k-row `srcs` table,
    * overwritten after the claims append. Seeded-ness is read from
    * the CLAIM store (a source with its own 0-claim), not the srcs
    * table, so a crash between the srcs overwrite and the commit
    * marker replays correctly. */
  private def electSources(batch: DataFrame, statePath: String, k: Int): Seeding = {
    val spark = batch.sparkSession
    import spark.implicits._
    val srcsPath = s"$statePath/srcs"
    val oldSrcs = if (hasVisibleData(spark, srcsPath)) storedSrcs(spark, statePath) else Seq.empty
    val batchTopK = batch.select(col("u").as("s"))
      .unionAll(batch.select(col("v").as("s"))).distinct()
      .orderBy(col("s")).limit(k).as[Long].collect().toSeq
    val srcs = (oldSrcs ++ batchTopK).distinct.sorted.take(k)
    Seeding(srcs,
      dist => {
        val seeded = dist.filter(col("node") === col("src"))
          .select(col("src")).as[Long].collect().toSet
        srcs.filterNot(seeded).map(s => (s, s, 0L)).toDF("src", "node", "dist")
      },
      () => srcs.toDF("s").coalesce(1).write.mode("overwrite").parquet(srcsPath))
  }

  /** The persisted source election: the `srcs` table's ids. */
  private def storedSrcs(spark: SparkSession, statePath: String): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(s"$statePath/srcs").select(col("s")).as[Long].collect().toSeq
  }

  /** Resolve the maintained multi-source claims: min per (src, node),
    * filtered to the CURRENT k smallest node ids of the maintained
    * graph (the persisted election — stale sources' claims stay
    * stored until [[multiBfsStateCompact]], never surface). */
  def multiBfsResolve(spark: SparkSession, statePath: String,
                      k: Int): DataFrame = {
    import spark.implicits._
    if (!hasVisibleData(spark, s"$statePath/dist") ||
        !hasVisibleData(spark, s"$statePath/srcs")) {
      return Seq.empty[(Long, Long, Long)].toDF("src", "node", "dist")
    }
    val srcs = storedSrcs(spark, statePath).sorted.take(k)
    minClaims(spark.read.parquet(s"$statePath/dist"), MultiSource.keys)
      .filter(col("src").isin(srcs: _*))
  }

  /** Compaction-CADENCE metric for the relaxation family's claim
    * stores (the [[VectorStreams.cellStats]] shape): stored claim
    * rows vs LIVE rows (one per distinct key) and parquet data
    * files — the two costs compaction reclaims (merge-on-read fold
    * work and pruned-read listing). The key is read from the store's
    * schema: (src, node) for a [[multiBfsBatch]] store, (node) for a
    * [[bfsBatch]]/[[ssspBatch]] one. Schedule
    * [[bfsStateCompact]]/[[multiBfsStateCompact]] when claims/live or
    * files/bucket grows past taste — an operator-side read, never an
    * ingest-path cost. */
  def bfsStateStats(spark: SparkSession, statePath: String): (Long, Long, Long) = {
    val distPath = s"$statePath/dist"
    if (!StreamState.hasVisibleData(spark, distPath)) return (0L, 0L, 0L)
    val claims = spark.read.parquet(distPath)
    val nClaims = claims.count()
    val keys =
      if (claims.columns.contains("src")) MultiSource.keys else SingleSource.keys
    val nLive = claims.select(keys.map(col): _*).distinct().count()
    val p = new org.apache.hadoop.fs.Path(distPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var nFiles = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) nFiles += 1
    }
    (nClaims, nLive, nFiles)
  }

  /** Compact a [[multiBfsBatch]] claim store: fold claims to their
    * min per (src, node) and DROP claims from sources no longer in
    * the election — safe because the node set only grows, so a
    * source that fell out of the top-k can never re-enter it.
    * Markers survive; resolution before and after is identical. */
  def multiBfsStateCompact(spark: SparkSession, statePath: String): Unit =
    compactClaims(spark, statePath, MultiSource.keys) { folded =>
      if (hasVisibleData(spark, s"$statePath/srcs"))
        folded.filter(col("src").isin(storedSrcs(spark, statePath): _*))
      else folded
    }
}

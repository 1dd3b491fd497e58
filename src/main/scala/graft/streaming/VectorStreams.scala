package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.StreamState.{drain, hasVisibleData, oncePerBatch, shardedInput}

/** Streaming IVF maintenance — the vector face of the always-on
  * ingest story (exact-hash dedup 37b → near-dup dedup 37m → cluster
  * maintenance 37l → THIS): embeddings arrive in micro-batches, each
  * batch routes through the TRAINED coarse quantizer
  * ([[Similarity.trainCoarseQuantizer]], persisted via
  * [[Similarity.coarseSave]]/[[Similarity.coarseLoad]] — the
  * quantizer is fixed at ingest time, the FAISS deployment contract),
  * and the corpus accumulates as ONE maintained parquet table
  * partitioned by cell bucket. ANN queries then read ONLY the probed
  * cells' partitions — at 10⁹ maintained vectors a top-k query scans
  * probes/nCells of the table, which is the entire point of keeping
  * the index AS a table rather than re-deriving cells per query.
  *
  * Scale contract: per batch the only work is a zero-shuffle
  * plan-literal cell assignment (the [[Similarity.cellAssign]] gate)
  * plus one partitioned append — no maintained-state read at all on
  * the ingest path (cells never change under a fixed quantizer; the
  * refresh path below owns re-mapping). Replayed batchIds skip via
  * commit markers ([[IngestStreams.scd2MergeBatch]]'s pattern).
  * Vector ids are assumed upstream-deduplicated (the 37b exact-dedup
  * contract — this operator maintains geometry, not identity).
  *
  * Quantizer REFRESH (the drift story): [[cellStats]] reports the
  * maintained table's cell balance (max/mean — the straggler metric
  * the trained quantizer exists to bound); when an appended corpus
  * drifts (a new source clusters where the old quantizer has one
  * cell), [[ivfCompact]] re-maps the WHOLE table through a new
  * quantizer in one pass and rewrites it — the [[EventStreams
  * .ccCompact]] shape: paid on the operator's schedule, never on the
  * ingest path. Search against the compacted table equals batch
  * search under the new quantizer (spec-pinned).
  */
object VectorStreams {

  /** Drain an embedding stream into the maintained cell table. With
    * `books` the table ALSO carries each vector's residual PQ codes
    * ([[Similarity.residualCodes]] against the same quantizer) — the
    * full FAISS IVFPQ index as a maintained table: ADC search reads
    * (cell, codes) only, 8-16 B per vector.
    */
  def ivfIngest(vecStream: DataFrame, statePath: String, checkpoint: String,
                coarse: Seq[(Long, Seq[Float])], nBuckets: Int = 16,
                books: Option[Seq[Seq[Seq[Float]]]] = None): Unit = {
    drain(vecStream, checkpoint) { (b, id) =>
      ivfIngestBatch(b, id, statePath, coarse, nBuckets, books)
    }
  }

  /** One [[ivfIngest]] micro-batch, exposed for the replay spec. */
  private[graft] def ivfIngestBatch(batch0: org.apache.spark.sql.DataFrame,
                                    batchId: Long, statePath: String,
                                    coarse: Seq[(Long, Seq[Float])],
                                    nBuckets: Int,
                                    books: Option[Seq[Seq[Seq[Float]]]] = None): Unit = {
    val spark = batch0.sparkSession
    oncePerBatch(spark, s"$statePath/_ivf_commits", batchId) {
      val arrived = batch0
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .dropDuplicates("vec_id")
      // an empty micro-batch writes nothing (a zero-row partitionBy dir
      // would hold only _SUCCESS and poison later schema inference), and
      // must not evaluate the quantizer either — an empty corpus trains
      // an EMPTY coarse list, which only a nonempty batch may reject
      if (!arrived.isEmpty) {
        require(coarse.nonEmpty, "cannot ingest vectors through an untrained quantizer")
        val assigned = Similarity.cellAssign(arrived, "vec_id", "embedding", coarse, probes = 1)
        val rows = books match {
          case Some(b) =>
            assigned.join(
              Similarity.residualCodes(arrived, "vec_id", "embedding", coarse, b)
                .select(col("vec_id"), col("codes")),
              Seq("vec_id"))
          case None => assigned
        }
        rows.withColumn("cb", pmod(col("cell"), lit(nBuckets.toLong)))
          .write.mode("append").partitionBy("cb").parquet(s"$statePath/cells")
      }
    }
  }

  /** ANN top-k against the MAINTAINED cell table: queries assign to
    * their `probes` nearest cells through the same quantizer, and the
    * corpus read is pruned to the probed cells' partitions. The
    * re-rank is [[Similarity.annTopKIvf]]'s exactly (cosine desc,
    * corpus-id-asc tiebreak, round 6), and corpus rows were assigned
    * with the same probes=1 gate at ingest — so the result is
    * ROW-IDENTICAL to batch `annTopKIvf` over the union of everything
    * ingested, under the shared quantizer (spec-pinned).
    */
  def ivfSearchMaintained(spark: SparkSession, statePath: String,
                          coarse: Seq[(Long, Seq[Float])],
                          queries: DataFrame, k: Int = 10,
                          probes: Int = 4, nBuckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.vecCosine
    if (coarse.isEmpty || !StreamState.hasDataFiles(spark, s"$statePath/cells")) {
      // nothing ingested (or nothing trainable): empty top-k, not a throw
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "corpus_id", "cosine", "rk")
    }
    val qcells = Similarity.cellAssign(queries, "query_id", "q_emb", coarse, probes)
    val cbs = qcells.select(pmod(col("cell"), lit(nBuckets.toLong)).as("cb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val corpus = spark.read.parquet(s"$statePath/cells")
      .filter(col("cb").isin(cbs: _*)) // partition pruning: probed buckets only
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    corpus.as("c")
      .join(broadcast(qcells).as("q"),
        col("c.cell") === col("q.cell") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        vecCosine(col("q_emb"), col("embedding")).as("cosine"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine"), 6).as("cosine"), col("rk").cast("long").as("rk"))
  }

  /** ADC top-k against the MAINTAINED (cell, codes) table — the full
    * FAISS residual-IVFPQ search over maintained state: the corpus
    * read is pruned to the probed cells' partitions AND touches only
    * the (vec_id, cell, codes) columns (8-16 B of codes per vector —
    * at 10⁹ maintained vectors the probe scans probes/nCells of a
    * codes-width table, never an embedding); the shortlist re-ranks
    * exactly against the stored embeddings. Scoring/re-rank is
    * [[Similarity.adcResidualSearch]] — the SAME code the batch
    * operator runs — so the result is row-identical to batch
    * `annTopKIvfPqResidual` over everything ingested under the
    * shared quantizer + codebooks (spec-pinned).
    */
  def ivfSearchMaintainedPq(spark: SparkSession, statePath: String,
                            coarse: Seq[(Long, Seq[Float])],
                            books: Seq[Seq[Seq[Float]]],
                            numQueries: Int = 8, k: Int = 10,
                            probes: Int = 4, shortlistFactor: Int = 5,
                            nBuckets: Int = 16): DataFrame = {
    if (coarse.isEmpty || books.isEmpty ||
        !StreamState.hasDataFiles(spark, s"$statePath/cells")) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "corpus_id", "cosine", "rk")
    }
    val maintained = spark.read.parquet(s"$statePath/cells")
    val embeddings = maintained.select(col("vec_id"), col("embedding"))
    Similarity.adcResidualSearch(
      probedCells => {
        val cbs = probedCells.map(c => math.floorMod(c, nBuckets.toLong)).distinct
        maintained
          .filter(col("cb").isin(cbs: _*)) // partition pruning first...
          .filter(col("cell").isInCollection(probedCells)) // ...then exact cells
          .select(col("vec_id"), col("cell"), col("codes"))
      },
      embeddings, numQueries, k, books, coarse, probes, shortlistFactor)
  }

  /** Cell-balance profile of the maintained table: per-cell counts
    * plus the straggler ratio (max/mean over the quantizer's cells) —
    * the number a deployment watches to decide a refresh.
    */
  def cellStats(spark: SparkSession, statePath: String,
                nCells: Int): (Long, Double, Double) = {
    if (!StreamState.hasDataFiles(spark, s"$statePath/cells")) return (0L, 0.0, 0.0)
    val pops = spark.read.parquet(s"$statePath/cells")
      .groupBy("cell").count().collect().map(_.getLong(1))
    if (pops.isEmpty) return (0L, 0.0, 0.0)
    val total = pops.sum
    val mean = total.toDouble / nCells
    (pops.max, mean, pops.max / mean)
  }

  /** Re-map the whole maintained table through a NEW quantizer and
    * rewrite it in place — the refresh a drift alarm triggers. One
    * full pass (zero-shuffle assignment + partitioned write), on the
    * operator's schedule; ingest batches before/after see a
    * consistent table because the quantizer handoff is the caller's
    * cut-over point.
    *
    * `retrainBooks = Some((m, ksub, iters))` additionally RETRAINS the
    * residual PQ codebooks against the new quantizer inside the same
    * pass and re-encodes every row's codes (returned so the caller
    * can cut search + subsequent ingest over to them). Without it a
    * codes-bearing table would be re-celled while its codes still
    * encode residuals against RETIRED centroids — ADC scores would
    * decode against the wrong reference point and quietly degrade.
    * The plain (no-codes) table keeps the cheap geometry-only path.
    */
  def ivfCompact(spark: SparkSession, statePath: String,
                 newCoarse: Seq[(Long, Seq[Float])], nBuckets: Int = 16,
                 retrainBooks: Option[(Int, Int, Int)] = None): Option[Seq[Seq[Seq[Float]]]] = {
    if (!StreamState.hasDataFiles(spark, s"$statePath/cells")) return None
    val all = spark.read.parquet(s"$statePath/cells")
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true) // materialize BEFORE touching the files the plan reads
    val newBooks = retrainBooks.map { case (m, ksub, iters) =>
      Similarity.pqTrainResidual(all, nCells = newCoarse.size, m = m, ksub = ksub,
        iters = iters, coarse = Some(newCoarse))
    }
    val assigned = Similarity.cellAssign(all, "vec_id", "embedding", newCoarse, probes = 1)
    val rows = newBooks match {
      case Some(b) =>
        assigned.join(
          Similarity.residualCodes(all, "vec_id", "embedding", newCoarse, b)
            .select(col("vec_id"), col("codes")),
          Seq("vec_id"))
      case None => assigned
    }
    rows.withColumn("cb", pmod(col("cell"), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("cb").parquet(s"$statePath/cells")
    graft.operators.Checkpoints.free(all)
    newBooks
  }

  /** Cells whose population exceeds `ratio`× the mean — the drift
    * alarm's shortlist, from one codes-free column scan.
    */
  def driftedCells(spark: SparkSession, statePath: String, nCells: Int,
                   ratio: Double = 3.0): Seq[Long] = {
    val pops = spark.read.parquet(s"$statePath/cells")
      .groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    if (pops.isEmpty) return Seq.empty
    val mean = pops.map(_._2).sum.toDouble / nCells
    pops.filter(_._2 > ratio * mean).map(_._1).sorted.toSeq
  }

  /** Local retraining for an incremental refresh: each drifted cell's
    * centroid is REPLACED by `splitInto` fresh centroids trained on
    * that cell's own maintained members (a partition-pruned read —
    * training cost is proportional to the drifted population, never
    * the corpus). Fresh cell ids start past the old quantizer's max
    * so retired ids are never reused. Non-drifted centroids are
    * passed through untouched — the agreement that lets
    * [[ivfCompactIncremental]] leave their rows' files alone.
    */
  def splitDriftedCells(spark: SparkSession, statePath: String,
                        coarse: Seq[(Long, Seq[Float])], drifted: Seq[Long],
                        splitInto: Int = 4,
                        nBuckets: Int = 16): Seq[(Long, Seq[Float])] = {
    if (drifted.isEmpty) return coarse
    val driftedSet = drifted.toSet
    var nextId = coarse.map(_._1).max + 1
    val kept = coarse.filterNot { case (c, _) => driftedSet(c) }
    val cbs = drifted.map(c => math.floorMod(c, nBuckets.toLong)).distinct
    val members = spark.read.parquet(s"$statePath/cells")
      .filter(col("cb").isin(cbs: _*))
      .filter(col("cell").isInCollection(drifted))
    val splits = drifted.sorted.flatMap { c =>
      val sub = Similarity.trainCoarseQuantizer(
        members.filter(col("cell") === c).select(col("vec_id"), col("embedding")),
        nCells = splitInto, iters = 4)
      val renumbered = sub.map { case (_, emb) => val id = nextId; nextId += 1; (id, emb) }
      renumbered
    }
    (kept ++ splits).sortBy(_._1)
  }

  /** INCREMENTAL refresh: one read-only re-assignment scan finds the
    * rows whose cell ACTUALLY changes under `newCoarse`, and only the
    * partitions holding such rows are rewritten — every other
    * partition's files survive byte-identical (spec-pinned). Paired
    * with [[splitDriftedCells]] (old quantizer ± the drifted cells'
    * centroids), the changed set is the drifted population plus the
    * boundary rows the fresh split centroids win over — so the WRITE
    * cost is proportional to drift, not the corpus: the difference
    * between "rewrite 100 TB" and "rewrite the hot cells" when one
    * new source clusters where the old quantizer had one centroid.
    * The detection scan is a zero-shuffle, zero-join projection
    * ([[Similarity.cellAssignColumn]] — stored and fresh assignment
    * compared row-local in one pass); it reads the table once but
    * writes nothing.
    *
    * Because changed rows are detected by comparing against FRESH
    * assignment — not assumed from a drifted-cell list — the
    * resulting table is identical, row for row, to what a full
    * [[ivfCompact]] under `newCoarse` would produce: exact batch
    * parity with cheap surgery, no approximation.
    *
    * With `books` the re-mapped rows' residual codes are RE-ENCODED
    * against their new cells (same codebooks — a local split moves
    * the reference centroid, not the residual geometry; the full
    * retrain belongs to [[ivfCompact]]'s `retrainBooks`).
    *
    * Write protocol: partitions containing changed rows are
    * dynamic-partition-overwritten with (unchanged ride-along rows +
    * changed rows landing back in them); changed rows landing in
    * other partitions are appended as new files (existing files
    * there are not touched). A partition fully drained by the re-map
    * is deleted explicitly — dynamic overwrite only rewrites
    * partitions present in the output. Returns the overwritten
    * partition ids (empty = the quantizer change moved nothing).
    */
  def ivfCompactIncremental(spark: SparkSession, statePath: String,
                            newCoarse: Seq[(Long, Seq[Float])],
                            nBuckets: Int = 16,
                            books: Option[Seq[Seq[Seq[Float]]]] = None): Seq[Long] = {
    val cellsPath = s"$statePath/cells"
    def withFresh(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("new_cell", Similarity.cellAssignColumn(col("embedding"), newCoarse))
    // pass 1 (read-only, zero-shuffle): which partitions hold a row
    // whose assignment changes?
    // cb is a directory-inferred partition column (int, not long)
    val changedParts = withFresh(spark.read.parquet(cellsPath))
      .filter(col("cell") =!= col("new_cell"))
      .select(col("cb").cast("long")).distinct().collect().map(_.getLong(0)).toSeq.sorted
    if (changedParts.isEmpty) return Seq.empty
    // pass 2: re-read ONLY those partitions (pruned scan), materialize
    // BEFORE overwriting the files the plan reads
    val touched = withFresh(spark.read.parquet(cellsPath)
        .filter(col("cb").isin(changedParts: _*))
        .withColumn("cb", col("cb").cast("long"))) // match moved's pmod type
      .localCheckpoint(true)
    val keep = touched.filter(col("cell") === col("new_cell")).drop("new_cell")
    val movedBase = touched.filter(col("cell") =!= col("new_cell"))
      .select(col("vec_id"), col("new_cell").as("cell"), col("embedding"))
    val moved = (books match {
      case Some(b) =>
        movedBase.drop("codes").join(
          Similarity.residualCodes(
            movedBase.select(col("vec_id"), col("embedding")),
            "vec_id", "embedding", newCoarse, b)
            .select(col("vec_id"), col("codes")),
          Seq("vec_id"))
      case None => movedBase
    }).withColumn("cb", pmod(col("cell"), lit(nBuckets.toLong)))
    val merged = keep.unionByName(moved).localCheckpoint(true)
    graft.operators.Checkpoints.free(touched)
    val inParts = merged.filter(col("cb").isin(changedParts: _*))
    val outParts = merged.filter(!col("cb").isin(changedParts: _*))
    // per-write option, not the session conf: a global dynamic mode
    // would silently turn ivfCompact's FULL overwrite partial
    inParts.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cb").parquet(cellsPath)
    outParts.write.mode("append").partitionBy("cb").parquet(cellsPath)
    // dynamic overwrite only rewrites partitions PRESENT in inParts: a
    // partition fully drained by the re-map must be deleted or its
    // stale pre-image would survive
    val written = inParts.select(col("cb").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(cellsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    changedParts.filterNot(written).foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(cellsPath, s"cb=$p"), true)
    }
    graft.operators.Checkpoints.free(merged)
    changedParts
  }

  /** End-to-end streamed IVF over the embeddings table (the
    * `stream_ann_ivf` entry): the corpus arrives as TWO shard files →
    * two micro-batches into the maintained table; the top-k against
    * the maintained state must equal batch `annTopKIvf` under the
    * shared trained quantizer (rows-only at the driver like
    * sim_ann_ivf — float candidate sets — with the batch-parity spec
    * as the oracle).
    */
  def streamedAnnIvf(spark: SparkSession, dir: String,
                     coarse: Seq[(Long, Seq[Float])],
                     numQueries: Int = 8, k: Int = 10, probes: Int = 13,
                     nBuckets: Int = 16): DataFrame = {
    val st = ingestShards(spark, dir, coarse, nBuckets, None)
    val queries = graft.Tables.embeddings(spark, dir)
      .filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    ivfSearchMaintained(spark, st, coarse, queries, k, probes, nBuckets)
  }

  /** End-to-end streamed residual IVFPQ (the `stream_ann_ivfpq`
    * entry): two micro-batches maintain (cell, codes, embedding)
    * under the shared quantizer + residual codebooks; the ADC top-k
    * against the maintained table must equal batch
    * `annTopKIvfPqResidual` at the same dials (rows-only like
    * sim_ann_ivfpq_res, batch-parity spec as the oracle).
    */
  def streamedAnnIvfPq(spark: SparkSession, dir: String,
                       coarse: Seq[(Long, Seq[Float])],
                       books: Seq[Seq[Seq[Float]]],
                       numQueries: Int = 8, k: Int = 10, probes: Int = 13,
                       shortlistFactor: Int = 8, nBuckets: Int = 16): DataFrame = {
    val st = ingestShards(spark, dir, coarse, nBuckets, Some(books))
    ivfSearchMaintainedPq(spark, st, coarse, books, numQueries, k, probes,
      shortlistFactor, nBuckets)
  }

  /** Streamed SemDeDup maintenance — the semantic member of the
    * streamed-dedup family (exact 37b, URL, lines, CDC, minhash,
    * spans, phash — and now embeddings), maintaining
    * [[Similarity.semanticDedup]]'s verdicts as vectors arrive under
    * the FROZEN trained quantizer.
    *
    * Per batch: assign new vectors to cells (zero-shuffle
    * plan-literal scoring) and score their centroid cosine; generate
    * candidate pairs ONLY from cell equality — new×new in-batch plus
    * new×existing against the maintained member table read PRUNED to
    * the batch's touched cell buckets (the 37m shape) — verify
    * cos ≥ tau, and write pairs + members to per-batch overwrite
    * dirs with commit markers (replay/crash-retry safe). A pair is
    * found exactly once, in its later member's batch.
    *
    * Resolve: one join of the pair log against the member ranks —
    * a vector is dropped iff SOME partner precedes it in the
    * paper's (centroid_cos asc, vec_id asc) order; because the
    * triangular rule never consults the partner's own verdict, the
    * verdict is a pure function of the accumulated SET and the
    * streamed result equals batch [[Similarity.semanticDedup]]
    * row-for-row (spec-pinned). Late arrivals are handled for free:
    * a new lower-ccos member demotes an earlier survivor at the
    * next resolve, with no state rewrite.
    */
  def streamedSemanticDedup(spark: SparkSession, dir: String,
                            coarse: Seq[(Long, Seq[Float])], tau: Double = 0.8,
                            nBuckets: Int = 16): DataFrame = {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    if (emb.isEmpty) {
      graft.operators.Checkpoints.free(emb)
      return Seq.empty[(Long, Long, Double, Boolean)]
        .toDF("vec_id", "cell", "centroid_cos", "kept")
    }
    val base = java.nio.file.Files.createTempDirectory("graft-sem-ing-").toString
    val stream = shardedInput(base,
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0))
    graft.operators.Checkpoints.free(emb)
    val state = s"$base/state"
    drain(stream, s"$base/ckpt") { (b, id) =>
      semanticIngestBatch(b, id, state, coarse, tau, nBuckets)
    }
    semanticResolve(spark, state)
  }

  /** One [[streamedSemanticDedup]] micro-batch, exposed for the
    * replay spec. */
  private[graft] def semanticIngestBatch(batch0: org.apache.spark.sql.DataFrame,
                                         batchId: Long, statePath: String,
                                         coarse: Seq[(Long, Seq[Float])],
                                         tau: Double, nBuckets: Int): Unit = {
    import graft.functions.VectorFunctions.vecCosine
    val spark = batch0.sparkSession
    import spark.implicits._
    oncePerBatch(spark, s"$statePath/_sem_commits", batchId) {
      // a batch appending into the pairs dir must not resurrect it
      // AROUND a crashed compaction's retired copy (the append would
      // strand the retired log forever) — heal first
      healPairs(spark, statePath)
      val cents = broadcast(coarse.toDF("cell", "cell_emb"))
      val assigned = Similarity.cellAssign(
          batch0.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
            .dropDuplicates("vec_id"),
          "vec_id", "embedding", coarse, probes = 1)
        .join(cents, "cell")
        .select(col("vec_id"), col("embedding"), col("cell"),
          vecCosine(col("embedding"), col("cell_emb")).as("ccos"),
          pmod(col("cell"), lit(nBuckets.toLong)).as("cb"))
        .localCheckpoint(true)
      val touched = assigned.select(col("cb")).distinct()
        .collect().map(_.getLong(0)) // bounded by nBuckets
      val existing =
        if (hasVisibleData(spark, s"$statePath/members"))
          spark.read.parquet(s"$statePath/members")
            .filter(col("cb").isin(touched: _*)) // partition-pruned read
        else assigned.limit(0)
      val newOld = assigned.as("a")
        .join(existing.as("b"), col("a.cell") === col("b.cell"))
        .filter(vecCosine(col("a.embedding"), col("b.embedding")) >= tau)
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      val newNew = assigned.as("a")
        .join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(vecCosine(col("a.embedding"), col("b.embedding")) >= tau)
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      newOld.union(newNew)
        .write.mode("overwrite").parquet(s"$statePath/pairs/batch=$batchId")
      assigned.select(col("vec_id"), col("embedding"), col("cell"), col("ccos"), col("cb"))
        .write.mode("overwrite").partitionBy("cb")
        .parquet(s"$statePath/members/batch=$batchId")
      graft.operators.Checkpoints.free(assigned)
    }
  }

  /** Compact the semantic PAIR LOG: per victim keep only the single
    * minimal witness — the partner earliest in the (ccos, vec_id)
    * rank order. Sound because (a) the resolve drops x iff ANY
    * partner precedes it, so one preceding witness is as good as
    * many, (b) members are never deleted, so a witness can never
    * disappear, and (c) a pair that witnesses NEITHER direction
    * today may only become a witness for the LATER-ranked member —
    * which the kept minimal witness already covers (the kept partner
    * precedes every discarded one, and rank order between two fixed
    * members never changes as arrivals only insert). Bounds the log
    * at ≤ |members| rows however many duplicates pile into a cluster
    * (a 10⁶-copy boilerplate embedding would otherwise log ~10⁶
    * pairs of witnesses for the same verdicts). The
    * ccCompact/bfsStateCompact shape: run on the operator's
    * schedule, one fold + one rewrite, resolve bit-identical
    * (spec-pinned).
    */
  /** Crash recovery for the pair-log swap: if a compaction died
    * between retiring the live log and installing the staged one,
    * the retired copy IS the log — put it back before reading.
    * No-op in every other state. */
  private def healPairs(spark: SparkSession, statePath: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$statePath/pairs")
    val retired = new org.apache.hadoop.fs.Path(s"$statePath/pairs_compact_retired")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(retired)) {
      require(fs.rename(retired, live),
        s"semantic pair-log recovery: could not restore $retired")
    }
  }

  def semanticPairCompact(spark: SparkSession, statePath: String): Unit = {
    import spark.implicits._
    healPairs(spark, statePath)
    if (!hasVisibleData(spark, s"$statePath/pairs")) return
    val members = spark.read.parquet(s"$statePath/members")
      .select(col("vec_id"), col("ccos"))
    val pairs0 = spark.read.parquet(s"$statePath/pairs").select(col("v1"), col("v2"))
    val sym = pairs0.union(pairs0.select(col("v2").as("v1"), col("v1").as("v2")))
    // per victim v1: the minimal-(ccos, id) partner as its witness;
    // keep the pair only when that partner actually precedes v1
    val best = sym
      .join(members.select(col("vec_id").as("v2"), col("ccos").as("c2")), "v2")
      .groupBy("v1")
      .agg(min(struct(col("c2"), col("v2"))).as("w"))
      .select(col("v1"), col("w.v2").as("v2"), col("w.c2").as("c2"))
    val kept = best
      .join(members.select(col("vec_id").as("v1"), col("ccos").as("c1")), "v1")
      .filter(col("c2") < col("c1") ||
        (col("c2") === col("c1") && col("v2") < col("v1")))
      .select(col("v1"), col("v2"))
    val staging = s"$statePath/pairs_compact_staging"
    kept.write.mode("overwrite").parquet(staging)
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(s"$statePath/pairs")
    // swap via rename-aside, never delete-then-rename: a crash
    // between a delete and the rename-in would silently EMPTY the
    // pair log (every semantic duplicate resolving kept=true, no
    // error). With the aside, every crash point leaves either the
    // old log or the new one in place; the retired copy goes last.
    val retired = new org.apache.hadoop.fs.Path(s"$statePath/pairs_compact_retired")
    fs.delete(retired, true) // clear any leftover from a crashed run
    require(fs.rename(live, retired),
      s"semanticPairCompact: could not retire $live")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), live)) {
      // put the old log back rather than leave no log at all
      fs.rename(retired, live)
      throw new IllegalStateException(
        s"semanticPairCompact: could not install $staging")
    }
    fs.delete(retired, true)
  }

  /** Pair-log row count — the compaction-cadence metric (the
    * bfsStateStats shape): a deployment compacts when this grows
    * past a multiple of the member count. */
  def semanticPairStats(spark: SparkSession, statePath: String): (Long, Long) = {
    healPairs(spark, statePath)
    val m = if (hasVisibleData(spark, s"$statePath/members"))
      spark.read.parquet(s"$statePath/members").count() else 0L
    val p = if (hasVisibleData(spark, s"$statePath/pairs"))
      spark.read.parquet(s"$statePath/pairs").count() else 0L
    (m, p)
  }

  /** Resolve the maintained member + pair stores to per-vector
    * verdicts — [[Similarity.semanticDedup]]'s exact output
    * contract. One join of the (symmetrized) pair log against the
    * member ranks; O(members + pairs), no embedding is re-scored. */
  def semanticResolve(spark: SparkSession, statePath: String): DataFrame = {
    import spark.implicits._
    healPairs(spark, statePath)
    if (!hasVisibleData(spark, s"$statePath/members")) {
      return Seq.empty[(Long, Long, Double, Boolean)]
        .toDF("vec_id", "cell", "centroid_cos", "kept")
    }
    val members = spark.read.parquet(s"$statePath/members")
      .select(col("vec_id"), col("cell"), col("ccos"))
    val pairs0 =
      if (hasVisibleData(spark, s"$statePath/pairs"))
        spark.read.parquet(s"$statePath/pairs").select(col("v1"), col("v2"))
      else Seq.empty[(Long, Long)].toDF("v1", "v2")
    val pairs = pairs0.union(pairs0.select(col("v2").as("v1"), col("v1").as("v2")))
    val dropped = pairs
      .join(members.select(col("vec_id").as("v1"), col("ccos").as("c1")), "v1")
      .join(members.select(col("vec_id").as("v2"), col("ccos").as("c2")), "v2")
      .filter(col("c2") < col("c1") ||
        (col("c2") === col("c1") && col("v2") < col("v1")))
      .select(col("v1").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    members.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(col("ccos"), 6).as("centroid_cos"),
        coalesce(!col("dup"), lit(true)).as("kept"))
  }

  /** Shared two-shard ingest used by the end-to-end entries. */
  /** Planted-corpus HASH GATE drive for the maintained IVF index (the
    * `stream_ann_ivf_gate` entry; stream_phash_decoded_gate pattern):
    * train the deployed-convention quantizer on
    * [[Similarity.annPlantedCorpus]], ingest the corpus through the
    * REAL two-micro-batch ivfIngest machinery, search the maintained
    * table — and emit INTEGERS ONLY (query_id, corpus_id, rk). Must
    * land row-for-row on [[Similarity.ivfGateLocalTwin]]'s VALUES,
    * the same oracle the batch gate pins: streamed == batch == twin.
    */
  def streamedAnnIvfGate(spark: SparkSession, numQueries: Int = 4, k: Int = 5,
                         probes: Int = 2, nBuckets: Int = 4): DataFrame = {
    import spark.implicits._
    val emb = Similarity.annPlantedCorpus.toDF("vec_id", "embedding")
      .localCheckpoint(true)
    val coarse = Similarity.trainCoarseQuantizer(emb, nCells = 4)
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-gate-").toString
    val stream = shardedInput(base,
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0))
    ivfIngest(stream, s"$base/state", s"$base/ckpt", coarse, nBuckets, None)
    val queries = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // materialize BEFORE freeing the corpus checkpoint the query
    // plan still references (lazy consumers run after this returns)
    val out = ivfSearchMaintained(spark, s"$base/state", coarse, queries,
        k, probes, nBuckets)
      .select(col("query_id"), col("corpus_id"), col("rk"))
      .localCheckpoint(true)
    graft.operators.Checkpoints.free(emb)
    out
  }

  private def ingestShards(spark: SparkSession, dir: String,
                           coarse: Seq[(Long, Seq[Float])], nBuckets: Int,
                           books: Option[Seq[Seq[Seq[Float]]]]): String = {
    val emb = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-ing-").toString
    val stream = shardedInput(base,
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0))
    ivfIngest(stream, s"$base/state", s"$base/ckpt", coarse, nBuckets, books)
    s"$base/state"
  }
}

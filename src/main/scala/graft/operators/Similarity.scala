package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{adcSum, pqCodes, vecCosine, vecDot, vecMatVec}

/** Mean of float vectors with an O(dim) buffer: (running sum, count).
  * Associative + commutative, so Spark runs it map-side.
  */
class VectorMeanAggregator
    extends org.apache.spark.sql.expressions.Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {
  override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)
  override def reduce(b: (Array[Double], Long), v: Seq[Float]): (Array[Double], Long) = {
    val acc = if (b._1.isEmpty) new Array[Double](v.length) else b._1
    var i = 0
    while (i < v.length && i < acc.length) { acc(i) += v(i); i += 1 }
    (acc, b._2 + 1)
  }
  override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    if (a._1.isEmpty) b
    else if (b._1.isEmpty) a
    else {
      var i = 0
      while (i < a._1.length) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
  }
  override def finish(r: (Array[Double], Long)): Seq[Double] =
    if (r._2 == 0) Seq.empty else r._1.map(_ / r._2).toSeq
  override def bufferEncoder: org.apache.spark.sql.Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

/** Similarity search over the `embeddings` table (SURVEY §2.4) and
  * embedding-based near-dup detection (§2.3 row 26).
  *
  * Scale contract:
  *  - the QUERY set is always small and broadcast; the corpus is
  *    scanned once and never shuffled for brute force;
  *  - the ANN path only ever joins on LSH band buckets, so candidate
  *    generation is an equality join, not a cross product;
  *  - cosine/dot run in the native codegen kernel
  *    ([[graft.functions.VectorFunctions]]), not a UDF.
  */
object Similarity {

  /** Deterministic random hyperplanes (seeded), as literal columns —
    * broadcast as plan constants, never shuffled.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** Sign-bucket of an embedding under the planes: bit p = 1 iff
    * dot(v, plane_p) > 0. A 16-plane signature = 16-bit bucket id.
    */
  def signBucket(emb: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(vecDot(emb, typedlit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (id, band, bucket) rows: the signature split into `bands` equal
    * bit-slices; near neighbors agree on ≥1 slice with high
    * probability (multi-probe LSH).
    */
  def lshBands(df: DataFrame, idCol: String, embCol: String,
               planes: Seq[Seq[Float]], bands: Int): DataFrame = {
    val bitsPerBand = planes.size / bands
    val mask = (1L << bitsPerBand) - 1
    val sig = signBucket(col(embCol), planes)
    df.select(col(idCol), col(embCol), sig.as("sig"))
      .select(col(idCol), col(embCol),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bitsPerBand).bitwiseAND(mask).as("bucket"))): _*)).as("bb"))
      .select(col(idCol), col(embCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Embedding dimensionality, read from the first row (an O(1)
    * action). Deriving — rather than hardcoding — means a corpus with
    * a different dim can never silently degrade recall through the
    * kernels' common-prefix semantics; an empty corpus returns 0 and
    * every caller degrades to an empty result.
    */
  private def embDim(df: DataFrame, embCol: String): Int =
    df.select(size(col(embCol))).head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Brute-force cosine top-k: exact baseline. Queries (vec_id <
    * numQueries) are broadcast; one corpus pass computes cosine in
    * codegen; per-query top-k via the k-bounded [[TopKAggregator]] —
    * NOT a window, which would make each of the (few) query tasks
    * sort the full corpus's scored rows. The shuffle carries one
    * k-bounded buffer per (partition, query), nothing else.
    */
  def bruteForceTopK(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10): DataFrame = {
    val q = embeddings.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = embeddings.as("c")
      .join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        vecCosine(col("q_emb"), col("embedding")).as("cosine"))
    graft.functions.TopK.perKeyTopK(scored, "query_id", "corpus_id", "cosine", k,
        roundScale = 6)
      .select(col("query_id"), col("corpus_id"), col("score").as("cosine"), col("rk"))
  }

  /** Matryoshka truncation evaluation (the `sim_matryoshka` entry) —
    * the MRL serving question: how much top-k fidelity survives
    * truncating embeddings to a prefix of their dimensions? Per
    * tier, brute-force top-k over prefix-truncated vectors, then
    * overlap@k against the full-dimension ranking: one
    * (dim_tier, query_id, n_overlap) integer row per pair —
    * hash-exact, because both rankings ride the same
    * gate-proven cosine arithmetic ([[bruteForceTopK]]'s), just on
    * sliced arrays. Scale shape: queries broadcast, the corpus
    * scans once per tier with NO corpus shuffle (the per-key top-k
    * aggregates map-side); a deployment fusing tiers into one scan
    * computes the tier dots as prefix sums of one elementwise
    * product pass — same arithmetic, same result.
    */
  def matryoshkaRecall(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
                       tiers: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val dim = embDim(embeddings, "embedding")
    if (dim == 0) {
      // empty corpus: no dimension to truncate — empty audit, not a throw
      val spark = embeddings.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)]
        .toDF("dim_tier", "query_id", "n_overlap")
    }
    require(tiers.forall(t => t > 0 && t < dim), s"tiers must be in (0, $dim)")
    val sel = (tiers :+ dim).map { t =>
      val trunc = embeddings.withColumn("embedding",
        slice(col("embedding"), 1, t))
      bruteForceTopK(trunc, numQueries, k)
        .select(lit(t.toLong).as("dim_tier"), col("query_id"), col("corpus_id"))
    }.reduce(_.unionByName(_))
    val full = sel.filter(col("dim_tier") === dim.toLong)
      .select(col("query_id"), col("corpus_id"), lit(1L).as("hit"))
    sel.filter(col("dim_tier") =!= dim.toLong)
      .join(full, Seq("query_id", "corpus_id"), "left")
      .groupBy("dim_tier", "query_id")
      .agg(count(col("hit")).as("n_overlap"))
  }

  /** LSH-bucketed ANN top-k: candidates only from band-bucket
    * collisions, exact re-rank inside the candidate set. The scale
    * path — corpus join key is (band, bucket), never the embedding.
    *
    * Defaults (48 planes / 16 bands = 3-bit band buckets) come from
    * the committed recall sweep (SURVEY §5): recall@10 ≥ 0.96 vs
    * brute force at both sf0.001 and sf0.1, where the previous
    * (24, 8) sat at 0.84–0.89. The spec gates the shipped defaults at
    * ≥ 0.9. Denser corpora raise bits-per-band (planes/bands) to keep
    * per-bucket candidate volume bounded; band count is the recall
    * dial, bucket width the cost dial.
    */
  def annTopK(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
              numPlanes: Int = 48, bands: Int = 16): DataFrame = {
    val dim = embDim(embeddings, "embedding")
    val planes = hyperplanes(numPlanes, dim)
    val corpus = lshBands(embeddings, "vec_id", "embedding", planes, bands)
    val queries = lshBands(
      embeddings.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb", planes, bands)
    // Compute cosine BEFORE dedup so the dedup key is scalar
    // (query_id, corpus_id, cosine) — never shuffle float arrays as
    // grouping keys. Multi-band duplicates collapse because cosine is
    // deterministic per pair.
    val candidates = corpus.as("c")
      .join(broadcast(queries).as("q"),
        col("c.band") === col("q.band") && col("c.bucket") === col("q.bucket") &&
          col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        vecCosine(col("q_emb"), col("embedding")).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    candidates
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine"), 6).as("cosine"), col("rk").cast("long").as("rk"))
  }

  /** Per-label centroids: mean embedding per label via a typed
    * [[org.apache.spark.sql.expressions.Aggregator]] whose buffer is
    * ONE dim-sized vector — true map-side partial aggregation, state
    * O(labels × dim), never a per-group list of vectors.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val centroidUdaf = udaf(new VectorMeanAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    embeddings
      .groupBy(col("label"))
      .agg(centroidUdaf(col("embedding")).as("centroid"), count(lit(1)).as("n"))
  }

  /** Label-balanced downsampling (class rebalancing before training):
    * seeded stratified sample, deterministic for a fixed seed +
    * partitioning of the input.
    */
  def balancedSample(embeddings: DataFrame, fractions: Map[Int, Double],
                     seed: Long = 42L): DataFrame =
    embeddings.stat.sampleBy("label", fractions, seed)

  /** Content-keyed stratified sample: keep a row iff the first 16 bits
    * of md5(salt ‖ vec_id), read as a hex string, fall below
    * ⌊fraction·2¹⁶⌋ for its label. Unlike [[balancedSample]]'s RNG
    * path (whose output depends on the input's partitioning), this is
    * a pure per-row predicate — reproducible across runs, engines AND
    * repartitionings, which is what a 100 TB pipeline actually needs
    * from a training split. Labels absent from `fractions` drop
    * (sampleBy semantics). Output: (vec_id, label).
    */
  def balancedSampleByHash(embeddings: DataFrame, fractions: Map[Int, Double],
                           salt: String = "bs:"): DataFrame = {
    val hex4 = substring(md5(concat(lit(salt), col("vec_id").cast("string"))), 1, 4)
    val keep = fractions.toSeq.sortBy(_._1).map { case (label, f) =>
      val labelKeeps =
        if (f >= 1.0) lit(true)
        else hex4 < lit(f"${math.max(0, (f * 65536).floor.toInt)}%04x")
      col("label") === lit(label) && labelKeeps
    }.reduceOption(_ || _).getOrElse(lit(false))
    embeddings.filter(keep).select(col("vec_id"), col("label"))
  }

  /** The IVF cell order every assignment path ranks by: cosine
    * descending, ties to the smaller cell id. An `array_sort`
    * comparator over (c, cell) structs. */
  private def cellOrder(l: Column, r: Column): Column =
    when(l.getField("c") > r.getField("c"), -1)
      .when(l.getField("c") < r.getField("c"), 1)
      .when(l.getField("cell") < r.getField("cell"), -1)
      .when(l.getField("cell") > r.getField("cell"), 1)
      .otherwise(0)

  /** IVF cell assignment: each row's `probes` nearest seed vectors
    * (cosine desc, cell-id-asc tiebreak).
    *
    * The seeds (a handful of rows — the coarse quantizer of an IVF
    * index without an iterative k-means fit) are collected once and
    * inlined as PLAN LITERALS, so assignment is a pure projection:
    * per row, score the seed array, sort its `nCells` structs, keep
    * `probes`. ZERO shuffle and zero join — the previous design
    * (cross-join with a broadcast seed table + row_number window)
    * inflated the corpus `nCells`× and shuffled it on the row id just
    * to take an argmax. At 100 TB the corpus side never leaves its
    * scan stage here.
    *
    * For a large quantizer (thousands of cells) inlining one
    * expression per seed would blow up the plan; that regime is
    * [[ivfCellsBroadcast]] (broadcast join + bounded top-probes
    * aggregation, row-identical output — spec-pinned). The seed
    * count here is the survey's nCells=16 scale knob.
    */
  def ivfCells(df: DataFrame, idCol: String, embCol: String, seeds: DataFrame,
               probes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val seedRows = seeds.select(col("cell").cast("long"), col("cell_emb"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    if (seedRows.isEmpty) {
      return df.select(col(idCol), col(embCol), lit(0L).as("cell")).limit(0)
    }
    val cellStructs = seedRows.map { case (cell, emb) =>
      struct(vecCosine(col(embCol), typedlit(emb)).as("c"), lit(cell).as("cell"))
    }
    val nearest = slice(array_sort(array(cellStructs: _*), cellOrder), 1, probes)
    df.select(col(idCol), col(embCol),
      explode(transform(nearest, x => x.getField("cell"))).as("cell"))
  }

  /** Cell assignment for the LARGE-quantizer regime (thousands of
    * cells, where [[ivfCells]]' one-plan-literal-per-seed inlining
    * would blow up the plan) when the quantizer arrives as a TABLE:
    * the seed table arrives as a broadcast join, each row scores its
    * nCells candidates, and a map-side-combined PROBES-BOUNDED
    * aggregation ([[graft.functions.CellTopKAggregator]]) keeps the
    * top `probes` cells per row under the same (cosine desc, cell
    * asc) ordering as the inline variant, so the paths stay
    * row-identical — spec-pinned. Cost model: the candidate expansion
    * (rows × nCells) collapses map-side to ≤ probes entries per row
    * BEFORE the `idCol` shuffle — at 1024 cells / 16 probes the
    * post-join shuffle is 64× smaller than a collect-everything
    * buffer; the inline/matrix variants stay the zero-shuffle choice
    * when the quantizer can live in the plan.
    */
  def ivfCellsBroadcast(df: DataFrame, idCol: String, embCol: String, seeds: DataFrame,
                        probes: Int): DataFrame = {
    val topUdaf = udaf(new graft.functions.CellTopKAggregator(probes),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    df.join(broadcast(seeds.select(col("cell").cast("long").as("cell"),
        col("cell_emb"))))
      .select(col(idCol), col(embCol),
        vecCosine(col(embCol), col("cell_emb")).as("c"), col("cell"))
      .groupBy(col(idCol))
      .agg(first(col(embCol)).as(embCol),
        topUdaf(col("c"), col("cell")).as("top"))
      .select(col(idCol), col(embCol),
        explode(expr("transform(top, x -> x._2)")).as("cell"))
  }

  /** Single-nearest-cell assignment as a pure COLUMN — the probes=1
    * matrix form ([[ivfCellsMatrix]]) packaged so a caller can attach
    * `new_cell` to an arbitrary frame WITHOUT the select that the
    * DataFrame-shaped paths apply (they drop every column but id/emb/
    * cell). This is what lets the incremental IVF refresh
    * ([[graft.streaming.VectorStreams.ivfCompactIncremental]]) compare
    * stored vs fresh assignment in ONE zero-shuffle, zero-join scan.
    *
    * Bit-identity: the score is the same left-to-right double
    * accumulation, zero guard, and (cosine desc, cell asc) comparator
    * as the three assignment paths — the [[vecCosine]] kernel computes
    * dot and both norms in one index-ordered loop, so each accumulator
    * sees the identical addition sequence the separate HOF aggregates
    * produced.
    */
  def cellAssignColumn(embCol: Column, coarse: Seq[(Long, Seq[Float])]): Column = {
    require(coarse.nonEmpty, "cellAssignColumn needs a trained quantizer")
    val seedRows = coarse.sortBy(_._1)
    val n = seedRows.size
    val cellsLit = typedlit(seedRows.map(_._1))
    val embsLit = typedlit(seedRows.map(_._2))
    // the score is the NATIVE kernel ([[vecCosine]]) nested inside the
    // HOF lambda: the surrounding transform stays interpreted (the O(1)
    // plan), but each cosine is one tight primitive loop instead of
    // dim element-wise lambda dispatches — measured at sf1 as the
    // difference between minutes and seconds of quantizer work. Same
    // left-to-right double accumulation and zero guard, so the score
    // is bit-identical to the HOF composition it replaces.
    val scored = transform(sequence(lit(0), lit(n - 1)), i =>
      struct(
        vecCosine(embCol, element_at(embsLit, i + 1)).as("c"),
        element_at(cellsLit, i + 1).as("cell")))
    element_at(array_sort(scored, cellOrder), 1).getField("cell")
  }

  /** Cell assignment for the LARGE-quantizer regime as a PURE
    * PROJECTION — no join, no shuffle, at ANY quantizer size: the
    * centroid table ships as ONE typedlit matrix (plus its
    * precomputed ‖c‖² row), each row scores all cells inside a HOF
    * `transform` and keeps its `probes` best. Plan size is O(1) in
    * nCells (two literals + a fixed HOF tree), where [[ivfCells]]
    * inlines one subtree per seed
    * (Janino compile blows up past ~100 cells) and
    * [[ivfCellsBroadcast]] expands every row nCells× through a join
    * and shuffles the candidates back down — at 10⁹ rows × 1024
    * cells that join materializes 10¹² rows to take an argmax.
    *
    * The cosine is bit-identical to [[vecCosine]] (left-to-right
    * double accumulation of dot and both norms, same zero guard,
    * same division shape), so all three assignment paths are
    * ROW-IDENTICAL — spec-pinned. HOFs are CodegenFallback, the price
    * of the O(1) plan (a native kernel, as the PQ encode `pqCodes`
    * is, would remove it) — but the per-cell score inside the lambda is
    * the NATIVE [[vecCosine]] kernel (one primitive loop via its
    * interpreted eval), so only the nCells outer iteration pays
    * interpreter dispatch, not every one of nCells × dim element ops
    * (the sf1 lesson: the all-HOF form spent minutes per query in
    * `ArrayAggregate.eval`); the arithmetic volume (rows × nCells ×
    * dim) is the same as the broadcast join's, minus its exchange.
    */
  def ivfCellsMatrix(df: DataFrame, idCol: String, embCol: String, seeds: DataFrame,
                     probes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val seedRows = seeds.select(col("cell").cast("long"), col("cell_emb"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    if (seedRows.isEmpty) {
      return df.select(col(idCol), col(embCol), lit(0L).as("cell")).limit(0)
    }
    val n = seedRows.size
    val cellsLit = typedlit(seedRows.map(_._1))
    val embsLit = typedlit(seedRows.map(_._2))
    val x = col(embCol)
    // native [[vecCosine]] kernel inside the interpreted HOF (see
    // [[cellAssignColumn]]): bit-identical score — vecCosine's single
    // loop accumulates dot/‖x‖²/‖c‖² each in the same left-to-right
    // double order as the separate HOF aggregates it replaces, with
    // the same zero guard — at ~dim× less interpreter dispatch
    val scored = transform(sequence(lit(0), lit(n - 1)), i =>
      struct(
        vecCosine(x, element_at(embsLit, i + 1)).as("c"),
        element_at(cellsLit, i + 1).as("cell")))
    val nearest = slice(array_sort(scored, cellOrder), 1, probes)
    df.select(col(idCol), col(embCol),
      explode(transform(nearest, s => s.getField("cell"))).as("cell"))
  }

  /** IVF-bucketed ANN top-k (the prompt's "IVF variant as the scale
    * path"): corpus rows live in their single nearest cell; each
    * query probes its `probes` nearest cells; exact re-rank inside
    * the probed cells only. The corpus join key is the cell id.
    *
    * The coarse quantizer is TRAINED ([[trainCoarseQuantizer]]) —
    * pass `coarse` to reuse a cached/persisted quantizer the way
    * `index` reuses PQ codebooks in the sibling paths. `viaTable`
    * routes BOTH assignments through [[ivfCellsBroadcast]] — the
    * regime where the quantizer arrives as a TABLE (loaded via
    * [[coarseLoad]], too big or too external to inline in the plan);
    * row-identical to the default path, spec-pinned.
    */
  def annTopKIvf(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
                 nCells: Int = 16, probes: Int = 4,
                 coarse: Option[Seq[(Long, Seq[Float])]] = None,
                 viaTable: Boolean = false): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val seedRows = coarse.getOrElse(trainCoarseQuantizer(embeddings, nCells))
    val seeds = seedRows.toDF("cell", "cell_emb")
    def assign(df: DataFrame, idCol: String, embCol: String, p: Int): DataFrame =
      if (viaTable) ivfCellsBroadcast(df, idCol, embCol, seeds, p)
      else assignCells(df, idCol, embCol, seeds, p, seedRows.size)
    val corpus = assign(embeddings, "vec_id", "embedding", 1)
    val queries = assign(
      embeddings.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      "query_id", "q_emb", probes)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    corpus.as("c")
      .join(broadcast(queries).as("q"),
        col("c.cell") === col("q.cell") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        vecCosine(col("q_emb"), col("embedding")).as("cosine"))
      .distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("corpus_id"),
        round(col("cosine"), 6).as("cosine"), col("rk").cast("long").as("rk"))
  }

  /** Embedding cosine near-dup pairs (§2.3 row 26): LSH candidates →
    * exact cosine filter. Both sides shuffle only on (band, bucket).
    */
  def embeddingNearDup(embeddings: DataFrame, minCosine: Double = 0.9,
                       numPlanes: Int = 16, bands: Int = 4): DataFrame = {
    val planes = hyperplanes(numPlanes, embDim(embeddings, "embedding"))
    val banded = lshBands(embeddings, "vec_id", "embedding", planes, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        vecCosine(col("a.embedding"), col("b.embedding")).as("cosine"))
      .distinct()
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup — SEMANTIC dedup over embeddings (Abbas et al. 2023,
    * arXiv:2303.09540): k-means the corpus, then call two documents
    * duplicates when their embeddings' cosine exceeds `tau` WITHIN a
    * cluster, keeping one representative per duplicate chain. The
    * embedding-space complement of the lexical family: paraphrases
    * and re-encodings share no n-grams (MinHash/CDC/lines all miss
    * them) but land on near-identical embeddings.
    *
    * Keep policy (the paper's): survivors are the examples with the
    * LOWEST cosine to their cluster centroid — rank each cluster by
    * (centroid_cos asc, vec_id asc), and drop a row iff some
    * earlier-ranked clustermate sits within `tau` of it. The
    * triangular max-over-priors formulation is exactly the paper's
    * implementation of its duplicate groups.
    *
    * Scale design: candidate pairs come ONLY from the cell equality
    * join — the paper's own trick for making all-pairs cosine
    * tractable at web scale (they run k=50,000 clusters on 5B
    * embeddings; `nCells` ≈ [[sizeCells]] bounds E[cell²] candidate
    * volume). Clustering reuses the trained, cached, persisted IVF
    * coarse quantizer ([[trainCoarseQuantizer]]), so the dedup pass
    * shares the ANN index's one training cost. Rows-only for the
    * sim_kmeans reason (float Lloyd iterations); the spec pins the
    * kept set against an independent local implementation and a
    * planted-duplicate corpus.
    */
  def semanticDedup(embeddings: DataFrame, nCells: Int = 16, tau: Double = 0.95,
                    iters: Int = 2,
                    coarse: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = coarse.getOrElse(trainCoarseQuantizer(embeddings, nCells, iters))
    if (cents.isEmpty)
      return embeddings.select(col("vec_id"), lit(0L).as("cell"),
        lit(0.0).as("centroid_cos"), lit(true).as("kept")).limit(0)
    val ranked = cellAssign(embeddings, "vec_id", "embedding", cents, 1)
      .join(broadcast(cents.toDF("cell", "cell_emb")), "cell")
      .select(col("cell"), col("vec_id"), col("embedding"),
        vecCosine(col("embedding"), col("cell_emb")).as("ccos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell").orderBy(col("ccos").asc, col("vec_id").asc)))
    val dropped = ranked.as("a")
      .join(ranked.as("b"),
        col("a.cell") === col("b.cell") && col("a.rk") < col("b.rk"))
      .filter(vecCosine(col("a.embedding"), col("b.embedding")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    ranked.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(col("ccos"), 6).as("centroid_cos"),
        coalesce(!col("dup"), lit(true)).as("kept"))
  }

  /** Symmetric int8 quantization per vector — the storage/serving
    * compression step of an embedding pipeline (4× smaller than
    * float32, 128× than the float64 a naive pipeline accumulates in).
    * scale = amax/127; q_i = floor(x_i·127/amax + 0.5) ∈ [−127, 127]
    * (explicit floor(+0.5) instead of round() so Spark and any
    * SQL-engine oracle perform the identical IEEE ops). Zero-vector
    * guard: amax = 0 quantizes to all zeros.
    *
    * Pure scalar projection — zero shuffle at any corpus size. The
    * output is the scale plus the first `nShow` quantized values as
    * typed columns (the driver comparator cannot hash array columns);
    * a consumer wanting the full int8 array applies the same
    * transform expression over every index.
    */
  def quantizeInt8(embeddings: DataFrame, nShow: Int = 8): DataFrame = {
    val amax = expr(
      "aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))")
    val withAmax = embeddings.select(col("vec_id"), col("embedding"), amax.as("_amax"))
    def q(i: Int) =
      when(col("_amax") === 0.0, lit(0L))
        .otherwise(floor(element_at(col("embedding"), i + 1).cast("double") * 127.0
          / col("_amax") + 0.5).cast("long"))
    withAmax.select(
      col("vec_id") +: round(col("_amax"), 6).as("amax") +:
        (0 until nShow).map(i => q(i).as(s"q$i")): _*)
  }

  /** Lloyd k-means over the embedding corpus — the TRAINING step for
    * the IVF coarse quantizer ([[annTopKIvf]]'s raw seed centroids
    * are iteration zero of exactly this). Deterministic end to end:
    * seeds are the first `nCells` rows by vec_id; each iteration is
    * (a) zero-shuffle plan-literal cell assignment via [[ivfCells]]
    * — the quantizer lives in the plan, the corpus never shuffles
    * for scoring — then (b) ONE shuffle on cell id into the
    * O(dim)-buffer [[VectorMeanAggregator]]. Centroids round-trip
    * through the driver between rounds (O(nCells·dim) — a coarse
    * quantizer fits there by definition); a large-quantizer
    * deployment swaps assignment to [[ivfCellsBroadcast]] unchanged.
    * Empty cells retain their previous centroid.
    *
    * Cosine assignment + arithmetic-mean update IS spherical
    * k-means: cosine is scale-invariant, so scoring against the mean
    * equals scoring against the normalized mean, and the
    * sum-of-cosines objective is non-decreasing per iteration — the
    * monotonicity the spec pins.
    *
    * Output: (cell, n, c0..c7) — per-cell population and the first 8
    * trained-centroid elements rounded (the driver-hashable scalar
    * projection, like [[labelCentroids]]). Rows-only at the driver
    * gate: ITERATED float means are not bit-reproducible across
    * engines (summation order compounds per round), so the spec gate
    * pins semantics instead — planted clusters recovered intact,
    * trained centroids on the planted axes, partitioning invariance.
    */
  def kmeans(embeddings: DataFrame, nCells: Int = 16, iters: Int = 3,
             nShow: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val centroidUdaf = udaf(new VectorMeanAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val centroids = trainCoarseQuantizer(embeddings, nCells, iters, seedByHash = false)
    assignCells(embeddings, "vec_id", "embedding", centroids.toDF("cell", "cell_emb"),
        probes = 1, centroids.size)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), centroidUdaf(col("embedding")).as("c"))
      .select(col("cell") +: col("n") +:
        (0 until nShow).map(i => round(element_at(col("c"), i + 1), 6).as(s"c$i")): _*)
  }

  /** TRAIN the IVF coarse quantizer — the [[kmeans]] Lloyd loop
    * returning the centroid table itself, for [[annTopKIvf]]/
    * [[annTopKIvfPq]]/[[annTopKIvfPqResidual]]/[[residuals]] to route
    * through. FAISS trains the coarse quantizer for the same reason
    * it trains codebooks: raw seed vectors leave cell populations at
    * the mercy of where the first `nCells` rows happened to fall, and
    * at 10⁹ vectors an overfull cell IS the straggler (probed-cell
    * candidate volume is the IVF cost model). Trained cells bound it.
    *
    * Seed selection defaults to CONTENT-HASH ORDER (`orderBy(md5(
    * salt ‖ vec_id))` — a deterministic uniform draw over the whole
    * corpus): a real corpus arrives sorted by source/shard, so a
    * sorted PREFIX of `nCells` rows lands in one neighborhood of
    * embedding space and the quantizer degenerates before training
    * even starts (the balance spec measures exactly this). Hash-order
    * seeding is the deterministic analogue of k-means random init;
    * `seedByHash=false` keeps the first-rows-by-vec_id convention
    * ([[kmeans]] pins its planted-cluster spec to it). iters=0
    * returns the raw seeds — with `seedByHash=false` that is exactly
    * the pre-round-7 untrained behavior.
    *
    * `sampleFraction` trains on the seeded content-hash sample — at
    * 100 TB the quantizer converges on a sample and only the one-pass
    * assignment ever touches the corpus. Cell ids are the seed rows'
    * vec_ids.
    *
    * EMPTY CELLS RESEED (round 8 — FAISS's empty-cluster treatment):
    * a cell that attracted no training rows this iteration steals a
    * point from the fullest cell (the deterministic min-md5 row of
    * that cell — no RNG, partitioning-invariant) instead of freezing
    * at its stale centroid. Plain Lloyd can never SPLIT a cluster
    * that drew one seed — the stuck cell sits at cluster size
    * forever, which at deployment granularity is exactly the
    * straggler the quantizer exists to prevent; reseeding moves dead
    * capacity into the biggest population, and the next iteration's
    * mean update does the actual split.
    */
  def trainCoarseQuantizer(embeddings: DataFrame, nCells: Int = 16, iters: Int = 2,
                           sampleFraction: Double = 1.0,
                           salt: String = "cq:",
                           seedByHash: Boolean = true): Seq[(Long, Seq[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val train = hashSample(
      embeddings.select(col("vec_id"), col("embedding")), sampleFraction, salt)
    val centroidUdaf = udaf(new VectorMeanAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val seedOrder =
      if (seedByHash)
        Seq(md5(concat(lit("cqseed:"), col("vec_id").cast("string"))).asc,
          col("vec_id").asc)
      else Seq(col("vec_id").asc)
    var centroids: Seq[(Long, Seq[Float])] = train.orderBy(seedOrder: _*).limit(nCells)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    if (centroids.isEmpty) return Seq.empty
    for (_ <- 0 until iters) {
      val asg = assignCells(train, "vec_id", "embedding",
          centroids.toDF("cell", "cell_emb"), probes = 1, centroids.size)
        .persist()
      try {
        val updated = asg
          .groupBy(col("cell"))
          .agg(centroidUdaf(col("embedding")).as("c"), count(lit(1)).as("n"))
          .as[(Long, Seq[Double], Long)].collect()
        val means = updated.map { case (cell, m, _) =>
          cell -> m.map(_.toFloat).toSeq
        }.toMap
        val empty = centroids.map(_._1).filterNot(means.contains).sorted
        // one donor point per empty cell, stolen from the fullest
        // cells: the min-(md5, vec_id) training row of each donor —
        // deterministic, so training stays partitioning-invariant
        val donorPoints: Map[Long, Seq[Float]] =
          if (empty.isEmpty) Map.empty
          else {
            val donorCells = updated.sortBy { case (cell, _, cnt) => (-cnt, cell) }
              .take(empty.size).map(_._1)
            val picked = asg.filter(col("cell").isin(donorCells: _*))
              .withColumn("hk",
                md5(concat(lit("split:"), col("vec_id").cast("string"))))
              .groupBy(col("cell"))
              .agg(min(struct(col("hk"), col("vec_id"), col("embedding"))).as("d"))
              .select(col("cell"), col("d.embedding"))
              .as[(Long, Seq[Float])].collect().toMap
            empty.zip(donorCells.flatMap(picked.get)).toMap
          }
        centroids = centroids.map { case (cell, old) =>
          (cell, donorPoints.getOrElse(cell, means.getOrElse(cell, old)))
        }
      } finally { asg.unpersist(); () }
    }
    centroids
  }

  /** Size the coarse quantizer FROM the corpus — FAISS's √n guideline
    * (public practice: IVF cell count on the order of the square root
    * of the collection size balances per-cell scan cost against probe
    * count), snapped to the nearest power of two in log space and
    * clamped. The round-7 sweep validated the rule empirically:
    * granularity is the recall dial (16 cells saturate at 0.575 on a
    * 50k clustered corpus where this rule picks 256 — measured recall
    * 1.000 probing 3%), so a deployment that pins nCells while the
    * corpus grows silently degrades; this is the entry point that
    * scales the dial instead. Power-of-two snapping keeps small
    * corpora on the zero-shuffle inline assignment path (500 rows →
    * 16 cells, the testdata dial) and lands 10⁶ → 1024, 10⁹ → 32768.
    */
  def sizeCells(corpusRows: Long, minCells: Int = 16,
                maxCells: Int = 1 << 17): Int = {
    require(minCells >= 1 && maxCells >= minCells)
    if (corpusRows <= 0) minCells
    else {
      val log2 = math.log(math.sqrt(corpusRows.toDouble)) / math.log(2.0)
      val e = math.round(log2).toInt
      // 1 << 31 wraps negative — anything past 2^30 is clamp territory
      val snapped = if (e >= 31) Int.MaxValue else 1 << math.max(0, e)
      math.min(maxCells, math.max(minCells, snapped))
    }
  }

  /** Persist a trained coarse quantizer as a (cell, cell_emb) parquet
    * table — [[pqSaveCodebook]] parity for the IVF family: train once
    * (on a sample), save, and every later session loads instead of
    * retraining. The table IS the `seeds` input shape every
    * assignment path takes, so a loaded quantizer routes search,
    * residual-codebook training, and encoding identically to the
    * session that trained it (bit-exact round-trip — floats persist
    * losslessly in parquet).
    */
  def coarseSave(centroids: Seq[(Long, Seq[Float])], path: String,
                 spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    centroids.toDF("cell", "cell_emb").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a quantizer saved by [[coarseSave]], in cell order. */
  def coarseLoad(path: String,
                 spark: org.apache.spark.sql.SparkSession): Seq[(Long, Seq[Float])] = {
    import spark.implicits._
    spark.read.parquet(path).select(col("cell").cast("long"), col("cell_emb"))
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
  }

  /** Plan-size gate between the SPEC-PINNED-row-identical cell
    * assignment paths: inline plan literals keep small quantizers
    * zero-shuffle AND codegen'd; past the gate one typedlit per seed
    * would blow up the plan (and its Janino compile — seconds per
    * invocation at hundreds of cells), so the O(1)-plan matrix form
    * takes over — still zero-shuffle, which the broadcast-join form
    * ([[ivfCellsBroadcast]], kept for quantizers arriving as a
    * TABLE) is not.
    */
  private val InlineSeedGate = 64
  private def assignCells(df: DataFrame, idCol: String, embCol: String,
                          seeds: DataFrame, probes: Int, nSeeds: Int): DataFrame =
    if (nSeeds <= InlineSeedGate) ivfCells(df, idCol, embCol, seeds, probes)
    else ivfCellsMatrix(df, idCol, embCol, seeds, probes)

  /** The gated plan-literal assignment against a driver-side
    * quantizer, public for the streaming maintenance face
    * ([[graft.streaming.VectorStreams]]): same auto-gate, same
    * row-identical paths.
    */
  def cellAssign(df: DataFrame, idCol: String, embCol: String,
                 coarse: Seq[(Long, Seq[Float])], probes: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    assignCells(df, idCol, embCol, coarse.toDF("cell", "cell_emb"), probes, coarse.size)
  }

  // ---- Product quantization (Jégou, Douze & Schmid, TPAMI 2011 —
  // public algorithm): split dim into m subspaces, k-means each
  // subspace independently, store each vector as m small codes. The
  // billion-scale compression path: 64 floats (256 B) become m=8
  // codes (8 B), and search runs on per-query lookup tables without
  // touching a single original vector. Codes come from the native
  // `pqCodes` kernel (one primitive loop per row over a flattened
  // codebook shipped once per task, not a plan literal) and every ADC
  // score from the native `adcSum` table fold, so the m·ksub·dsub
  // multiply-adds and m lookups per row run in whole-stage codegen
  // with no lambda dispatch. ----

  /** Content-hash training sample: keep a row iff the first 16 bits of
    * md5(salt ‖ vec_id) fall below ⌊fraction·2¹⁶⌋ — the
    * [[balancedSampleByHash]] predicate, reproducible across runs,
    * partitionings and engines. fraction ≥ 1 is the identity.
    */
  private def hashSample(df: DataFrame, fraction: Double, salt: String): DataFrame = {
    require(fraction > 0.0, s"sample fraction must be positive, got $fraction")
    if (fraction >= 1.0) df
    else {
      val hex4 = substring(md5(concat(lit(salt), col("vec_id").cast("string"))), 1, 4)
      df.filter(hex4 < lit(f"${math.max(1, (fraction * 65536).floor.toInt)}%04x"))
    }
  }

  /** Train m per-subspace codebooks of up to `ksub` centroids by Lloyd
    * iterations. ONE pass per iteration for all subspaces: each row's
    * codes come from the single native `pqCodes` expression, posexplode
    * into (subspace, code, subvector), and one map-side-combined
    * [[VectorMeanAggregator]] shuffle carries O(m·ksub·dsub) state.
    * Driver round-trip is the codebook itself (m·ksub·dsub floats —
    * 4 KB at 8×16×8).
    *
    * `sampleFraction` trains on a seeded content-hash sample (FAISS
    * practice at scale — codebooks converge on a sample; the 100 TB
    * corpus is only ever touched by the one-pass encode). Seeds are
    * the sample's first `ksub` rows BY SORT ORDER (`orderBy.limit` —
    * no dense-0-based-id assumption); a smaller corpus just yields a
    * smaller codebook, and every consumer derives ksub/stride from the
    * returned books, so a short book can never misalign a lookup
    * table.
    */
  def pqTrain(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
              iters: Int = 3, sampleFraction: Double = 1.0,
              salt: String = "pq:"): Seq[Seq[Seq[Float]]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val train = hashSample(embeddings, sampleFraction, salt)
    val dim = embDim(train, "embedding")
    if (dim == 0) return Seq.empty
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val centroidUdaf = udaf(new VectorMeanAggregator,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Float]]())
    val seed = train.orderBy(col("vec_id")).limit(ksub)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).map(_._2)
    if (seed.isEmpty) return Seq.empty
    var books: Seq[Seq[Seq[Float]]] =
      (0 until m).map(s => seed.map(v => v.slice(s * dsub, s * dsub + dsub).toSeq).toSeq)
    for (_ <- 0 until iters) {
      val assigned = train
        .select(col("embedding"), posexplode(pqCodes(col("embedding"), books)))
        .select(col("pos").as("s"), col("col").as("code"),
          slice(col("embedding"), col("pos") * dsub + 1, lit(dsub)).as("sub"))
        .groupBy(col("s"), col("code"))
        .agg(centroidUdaf(col("sub")).as("mean"))
        .as[(Int, Long, Seq[Double])].collect()
        .map { case (s, code, mean) => (s, code.toInt) -> mean.map(_.toFloat) }.toMap
      books = books.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.map { case (old, k) => assigned.getOrElse((s, k), old) }
      }
    }
    books
  }

  /** Persist a trained codebook as a (s, k, centroid) parquet table —
    * the deployable index artifact: train once (on a sample), save,
    * and every later encode/search session loads instead of
    * retraining.
    */
  def pqSaveCodebook(books: Seq[Seq[Seq[Float]]], path: String,
                     spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (c, k) => (s, k, c) }
    }.toDF("s", "k", "centroid").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a codebook saved by [[pqSaveCodebook]]. */
  def pqLoadCodebook(path: String,
                     spark: org.apache.spark.sql.SparkSession): Seq[Seq[Seq[Float]]] = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select(col("s"), col("k"), col("centroid"))
      .as[(Int, Int, Seq[Float])].collect()
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq)
  }

  /** Encode every vector as its m sub-codes — a pure zero-shuffle
    * scalar projection against the plan-literal codebook (the form
    * you'd materialize next to the corpus: 8 bytes per vector).
    */
  def pqEncode(embeddings: DataFrame, books: Seq[Seq[Seq[Float]]]): DataFrame = {
    if (books.isEmpty) {
      return embeddings.select(col("vec_id"), array().cast("array<long>").as("codes")).limit(0)
    }
    embeddings.select(col("vec_id"), pqCodes(col("embedding"), books).as("codes"))
  }

  /** PQ ANN top-k via asymmetric distance computation: per query,
    * dot-product lookup tables (m·ksub entries) are computed ONCE on
    * the driver and shipped as plan literals; every corpus vector is
    * then scored from its codes alone — m table lookups + a norm
    * lookup, never the original embedding. Approximate cosine:
    * dot(q, recon(x)) / ‖recon(x)‖ (‖q‖ is rank-constant), where
    * ‖recon‖² is a global per-(s, code) norm table — subspace norms
    * add. The scan reads (vec_id, codes) only: at 10⁹ vectors this
    * is a 8 GB scan instead of a 256 GB one, the entire point of PQ.
    */
  def annTopKPq(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
                m: Int = 8, ksub: Int = 16, iters: Int = 3,
                index: Option[Seq[Seq[Seq[Float]]]] = None,
                sampleFraction: Double = 1.0): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val books = index.getOrElse(pqTrain(embeddings, m, ksub, iters, sampleFraction))
    if (books.isEmpty) {
      return embeddings.select(col("vec_id").as("query_id"),
        col("vec_id").as("corpus_id"), lit(0.0).as("cosine_pq"),
        lit(0L).as("rk")).limit(0)
    }
    // stride comes from the TRAINED books, never the ksub parameter —
    // a short codebook (small corpus) can't misalign the flat tables
    val kEff = books.head.size
    val normTable: Seq[Double] = // ‖c_{s,k}‖² flattened [s*kEff + k]
      books.flatMap(_.map(c => c.map(x => x.toDouble * x).sum))
    val qTables = queryDotTables(queryRows(embeddings, numQueries), books)
    val encoded = pqEncode(embeddings, books)
    val scored = encoded
      .join(broadcast(qTables.toDF("query_id", "dtbl")),
        col("query_id") =!= col("vec_id"))
      .withColumn("ntbl", typedlit(normTable))
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        adcCosine(kEff).as("cosine_pq"))
    graft.functions.TopK.perKeyTopK(scored, "query_id", "corpus_id", "cosine_pq", k,
        roundScale = 6)
      .select(col("query_id"), col("corpus_id"), col("score").as("cosine_pq"), col("rk"))
  }

  /** ADC approximate cosine from columns (codes, dtbl, ntbl):
    * Σ_s dtbl[s·ksub + code_s] / √(Σ_s ntbl[s·ksub + code_s]), both
    * sums one native [[adcSum]] fold with the stride of the trained
    * books.
    */
  private def adcCosine(kEff: Int): Column =
    adcSum(col("codes"), col("dtbl"), kEff) /
      sqrt(greatest(adcSum(col("codes"), col("ntbl"), kEff), lit(1e-12)))

  /** Driver-side cosine between two collected vectors, with the same
    * zero guards as the codegen kernel — used only for the tiny
    * (queries × nCells) probe assignment.
    */
  private def cosineTo(q: Seq[Float], c: Seq[Float]): Double = {
    var dot = 0.0; var nq = 0.0; var nc = 0.0; var i = 0
    val n = math.min(q.length, c.length)
    while (i < n) {
      dot += q(i).toDouble * c(i); nq += q(i).toDouble * q(i); nc += c(i).toDouble * c(i)
      i += 1
    }
    if (nq == 0 || nc == 0) 0.0 else dot / (math.sqrt(nq) * math.sqrt(nc))
  }

  /** The (small) query set, vec_id < numQueries, collected once per
    * search in id order: the probe assignment and the ADC tables both
    * read these rows, so neither re-scans the corpus for them.
    */
  private def queryRows(embeddings: DataFrame, numQueries: Int): Seq[(Long, Seq[Float])] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.filter(col("vec_id") < numQueries)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
  }

  /** Per-query dot-product lookup tables against `books`, flattened
    * [s·ksub + k], computed on the driver for the collected queries.
    */
  private def queryDotTables(queries: Seq[(Long, Seq[Float])],
                             books: Seq[Seq[Seq[Float]]]): Seq[(Long, Seq[Double])] = {
    val dsub = books.head.head.size
    queries.map { case (qid, q) =>
      val dots = books.zipWithIndex.flatMap { case (book, s) =>
        val qs = q.slice(s * dsub, s * dsub + dsub)
        book.map(c => qs.zip(c).map { case (a, b) => a.toDouble * b.toDouble }.sum)
      }
      (qid, dots.toSeq)
    }
  }

  /** Exact re-rank of a (query_id, corpus_id) shortlist: only the
    * shortlisted vectors are re-scored — a broadcast semi-join probe
    * into the corpus, never a second full scoring pass.
    */
  private def rerankExact(embeddings: DataFrame, short: DataFrame,
                          numQueries: Int, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val rescored = embeddings
      .join(broadcast(short), col("vec_id") === col("corpus_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        vecCosine(col("q_emb"), col("embedding")).as("cosine"))
    graft.functions.TopK.perKeyTopK(rescored, "query_id", "corpus_id", "cosine", k,
        roundScale = 6)
      .select(col("query_id"), col("corpus_id"), col("score").as("cosine"), col("rk"))
  }

  /** IVF + PQ composed — the FAISS IVFPQ deployment shape (Jégou
    * TPAMI 2011 §V; the billion-scale default): the coarse quantizer
    * routes every corpus vector to ONE cell and each query to its
    * `probes` nearest cells; ADC scoring from codes runs ONLY inside
    * the probed cells; the shortlist is exact-reranked. Candidate
    * volume is bounded by the probed cells' population (probes/nCells
    * of the corpus in expectation) and the candidate scan reads
    * (cell, codes) — 8-16 B per vector. The cell join is a broadcast
    * equality join on the cell id: no cross product anywhere.
    *
    * Corpus rows land in exactly one cell, so a (query, corpus) pair
    * matches at most once — no dedup pass. Query-side probe
    * assignment happens on the driver against the collected seed
    * table (nCells rows — the coarse quantizer fits there by
    * definition), with the same (cosine desc, cell asc) tie order as
    * [[ivfCells]].
    */
  def annTopKIvfPq(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
                   nCells: Int = 16, probes: Int = 4,
                   m: Int = 16, ksub: Int = 16, iters: Int = 3,
                   shortlistFactor: Int = 5,
                   index: Option[Seq[Seq[Seq[Float]]]] = None,
                   sampleFraction: Double = 1.0,
                   coarse: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val books = index.getOrElse(pqTrain(embeddings, m, ksub, iters, sampleFraction))
    if (books.isEmpty) {
      return embeddings.select(col("vec_id").as("query_id"),
        col("vec_id").as("corpus_id"), lit(0.0).as("cosine"),
        lit(0L).as("rk")).limit(0)
    }
    val kEff = books.head.size
    val normTable: Seq[Double] = books.flatMap(_.map(c => c.map(x => x.toDouble * x).sum))
    val seedRows = coarse.getOrElse(trainCoarseQuantizer(embeddings, nCells))
    val seeds = seedRows.toDF("cell", "cell_emb")
    if (seedRows.isEmpty) {
      return embeddings.select(col("vec_id").as("query_id"),
        col("vec_id").as("corpus_id"), lit(0.0).as("cosine"),
        lit(0L).as("rk")).limit(0)
    }
    // one corpus scan: nearest cell (size-gated assignment) + codes
    val corpus = assignCells(embeddings, "vec_id", "embedding", seeds,
        probes = 1, seedRows.size)
      .select(col("vec_id"), col("cell"), pqCodes(col("embedding"), books).as("codes"))
    // driver-side probe assignment + ADC tables for the tiny query set
    val queries = queryRows(embeddings, numQueries)
    val qEmb = queries.toMap
    val qTables = queryDotTables(queries, books)
    val qProbe = qTables.flatMap { case (qid, dtbl) =>
      val probed = seedRows
        .map { case (cell, cEmb) => (cosineTo(qEmb(qid), cEmb), cell) }
        .sortBy { case (c, cell) => (-c, cell) }
        .take(probes)
      probed.map { case (_, cell) => (qid, cell, dtbl) }
    }
    val scored = corpus
      .join(broadcast(qProbe.toDF("query_id", "cell", "dtbl")),
        Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("ntbl", typedlit(normTable))
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        adcCosine(kEff).as("cosine_pq"))
    val short = graft.functions.TopK.perKeyTopK(scored, "query_id", "corpus_id",
        "cosine_pq", k * shortlistFactor, roundScale = 6)
      .select(col("query_id"), col("corpus_id"))
    rerankExact(embeddings, short, numQueries, k)
  }

  /** PQ shortlist + exact re-rank — how PQ is actually deployed
    * (FAISS practice): ADC over codes produces a candidate shortlist
    * (`shortlistFactor`·k per query), then ONLY those candidates are
    * re-scored against their original vectors. Final top-k recall
    * equals the shortlist's containment recall, with exact scores.
    *
    * Scale shape: the code scan does the heavy lifting (8-16 B per
    * vector instead of 256); the re-rank broadcasts the tiny
    * (queries·shortlist) id set against the corpus — a broadcast
    * semi-join probe, never a second full scoring pass. Defaults
    * (m=16, shortlist 5k) come from the committed measurement on the
    * synthetic corpus — a RANDOM-gaussian corpus, PQ's worst case
    * (no intrinsic low-dim structure to exploit): containment
    * recall@10 0.86 at m=16, 1.00 at m=32. Real embedding corpora
    * sit far above this floor; m is the compression/recall dial.
    */
  def annTopKPqRerank(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
                      m: Int = 16, ksub: Int = 16, iters: Int = 3,
                      shortlistFactor: Int = 5,
                      index: Option[Seq[Seq[Seq[Float]]]] = None,
                      sampleFraction: Double = 1.0): DataFrame = {
    val short = annTopKPq(embeddings, numQueries, k * shortlistFactor, m, ksub, iters,
        index, sampleFraction)
      .select(col("query_id"), col("corpus_id"))
    rerankExact(embeddings, short, numQueries, k)
  }

  /** (vec_id, cell, residual) — each vector minus its nearest coarse
    * centroid: one zero-shuffle cell assignment + one broadcast join
    * against the seed table. Residuals are what IVFPQ actually
    * quantizes: they concentrate around 0 much tighter than raw
    * vectors (the coarse quantizer has already explained the
    * between-cell variance), so the same m·ksub codebook budget buys
    * a finer reconstruction. `coarse` MUST be the same quantizer the
    * index was built with — residual codes are meaningless against
    * any other cell table (hence the Option threads through the whole
    * residual family from one training site).
    */
  def residuals(embeddings: DataFrame, nCells: Int = 16,
                coarse: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val seedRows = coarse.getOrElse(trainCoarseQuantizer(embeddings, nCells))
    val seeds = seedRows.toDF("cell", "cell_emb")
    assignCells(embeddings, "vec_id", "embedding", seeds, probes = 1, seedRows.size)
      .join(broadcast(seeds), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cell_emb"), (a, b) => a - b).as("residual"))
  }

  /** Train PQ codebooks on RESIDUALS (assign first, subtract, then
    * Lloyd per subspace) — the codebook half of FAISS's
    * IVFPQ-with-residuals.
    */
  def pqTrainResidual(embeddings: DataFrame, nCells: Int = 16, m: Int = 16,
                      ksub: Int = 16, iters: Int = 3,
                      sampleFraction: Double = 1.0,
                      coarse: Option[Seq[(Long, Seq[Float])]] = None): Seq[Seq[Seq[Float]]] =
    pqTrain(
      residuals(embeddings, nCells, coarse)
        .select(col("vec_id"), col("residual").as("embedding")),
      m, ksub, iters, sampleFraction)

  /** IVFPQ on residuals — the COMPLETE FAISS IVFPQ form (Jégou TPAMI
    * 2011 §V.A): corpus rows store codes of (x − c_cell); a query's
    * ADC score in a probed cell decomposes exactly as
    *   q·recon = q·c  +  Σ_s dtbl[code_s]          (dtbl vs residual books)
    *   ‖recon‖² = ‖c‖² + 2·Σ_s xtbl_c[code_s] + Σ_s ntbl[code_s]
    * where xtbl_c (the cell↔sub-centroid cross terms, nCells·m·ksub
    * doubles — 32 KB at 16×16×16) rides the broadcast probe table
    * row-wise and ntbl is one plan literal. The scan still reads only
    * (cell, codes); everything query- or cell-dependent is
    * precomputed on the driver from O(nCells·dim + m·ksub·dsub)
    * state. Candidate volume identical to [[annTopKIvfPq]]; the only
    * change is WHAT the codes reconstruct — which is why residual
    * recall dominates at the same dials (spec measures both).
    */
  def annTopKIvfPqResidual(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
                           nCells: Int = 16, probes: Int = 4,
                           m: Int = 16, ksub: Int = 16, iters: Int = 3,
                           shortlistFactor: Int = 5,
                           index: Option[Seq[Seq[Seq[Float]]]] = None,
                           sampleFraction: Double = 1.0,
                           coarse: Option[Seq[(Long, Seq[Float])]] = None): DataFrame = {
    val seedRows = coarse.getOrElse(trainCoarseQuantizer(embeddings, nCells))
    val books = index.getOrElse(
      pqTrainResidual(embeddings, nCells, m, ksub, iters, sampleFraction,
        Some(seedRows)))
    if (books.isEmpty || seedRows.isEmpty) {
      return embeddings.select(col("vec_id").as("query_id"),
        col("vec_id").as("corpus_id"), lit(0.0).as("cosine"),
        lit(0L).as("rk")).limit(0)
    }
    val corpus = residuals(embeddings, nCells, Some(seedRows))
      .select(col("vec_id"), col("cell"), pqCodes(col("residual"), books).as("codes"))
    adcResidualSearch(_ => corpus, embeddings, numQueries, k, books, seedRows,
      probes, shortlistFactor)
  }

  /** Residual codes for an arbitrary (idCol, embCol) frame against a
    * driver-side quantizer + codebooks — the encode step of
    * [[annTopKIvfPqResidual]], public so the streaming maintenance
    * face ([[graft.streaming.VectorStreams]]) encodes each
    * micro-batch with the IDENTICAL expressions. Output: (idCol,
    * cell, codes).
    */
  def residualCodes(df: DataFrame, idCol: String, embCol: String,
                    coarse: Seq[(Long, Seq[Float])],
                    books: Seq[Seq[Seq[Float]]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val seeds = coarse.toDF("cell", "cell_emb")
    cellAssign(df, idCol, embCol, coarse, probes = 1)
      .join(broadcast(seeds), Seq("cell"))
      .select(col(idCol), col("cell"),
        pqCodes(zip_with(col(embCol), col("cell_emb"), (a, b) => a - b), books)
          .as("codes"))
  }

  /** The ADC scoring + shortlist + exact-re-rank back half of
    * [[annTopKIvfPqResidual]], over an ALREADY-ENCODED residual-code
    * corpus. `corpusFor` receives the distinct probed cell ids and
    * returns the (vec_id, cell, codes) rows to score — the batch
    * operator ignores the argument (its corpus is a fresh scan the
    * broadcast probe join filters), while the maintained-table
    * search uses it to PRUNE the read to the probed cells'
    * partitions before a byte of codes is scanned. Everything
    * downstream is shared, so the two paths score and re-rank
    * identically by construction.
    */
  private[graft] def adcResidualSearch(corpusFor: Seq[Long] => DataFrame,
                                       embeddings: DataFrame,
                                       numQueries: Int, k: Int,
                                       books: Seq[Seq[Seq[Float]]],
                                       seedRows: Seq[(Long, Seq[Float])],
                                       probes: Int,
                                       shortlistFactor: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val kEff = books.head.size
    val dsub = books.head.head.size
    val resNormTable: Seq[Double] = books.flatMap(_.map(c => c.map(x => x.toDouble * x).sum))
    val seedMap = seedRows.toMap
    val xtbls: Map[Long, Seq[Double]] = seedRows.map { case (cell, ce) =>
      cell -> books.zipWithIndex.flatMap { case (book, s) =>
        val cs = ce.slice(s * dsub, s * dsub + dsub)
        book.map(cb => cs.zip(cb).map { case (a, b) => a.toDouble * b.toDouble }.sum)
      }.toSeq
    }.toMap
    val cnorms: Map[Long, Double] =
      seedRows.map { case (cell, ce) => cell -> ce.map(x => x.toDouble * x).sum }.toMap
    val queries = queryRows(embeddings, numQueries)
    val qEmb = queries.toMap
    val qTables = queryDotTables(queries, books)
    val probeRows = qTables.flatMap { case (qid, dtbl) =>
      seedRows.map { case (cell, ce) => (cosineTo(qEmb(qid), ce), cell) }
        .sortBy { case (c, cell) => (-c, cell) }
        .take(probes)
        .map { case (_, cell) =>
          val qc = qEmb(qid).zip(seedMap(cell))
            .map { case (a, b) => a.toDouble * b.toDouble }.sum
          (qid, cell, dtbl, qc, xtbls(cell), cnorms(cell))
        }
    }
    val corpus = corpusFor(probeRows.map(_._2).distinct)
    val scored = corpus
      .join(broadcast(probeRows.toDF("query_id", "cell", "dtbl", "qc", "xtbl", "cnorm")),
        Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("ntbl", typedlit(resNormTable))
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        ((col("qc") + adcSum(col("codes"), col("dtbl"), kEff)) /
          sqrt(greatest(
            col("cnorm") + lit(2.0) * adcSum(col("codes"), col("xtbl"), kEff) +
              adcSum(col("codes"), col("ntbl"), kEff),
            lit(1e-12)))).as("cosine_pq"))
    val short = graft.functions.TopK.perKeyTopK(scored, "query_id", "corpus_id",
        "cosine_pq", k * shortlistFactor, roundScale = 6)
      .select(col("query_id"), col("corpus_id"))
    rerankExact(embeddings, short, numQueries, k)
  }

  // ------------------------------------------------------------------
  // OPQ — Optimized Product Quantization (Ge et al. CVPR 2013,
  // non-parametric form): learn an ORTHOGONAL rotation R so that the
  // rotated space's coordinate blocks carry balanced, decorrelated
  // energy before PQ slices them into subspaces. Plain PQ's error is
  // dominated by whatever correlation/energy imbalance straddles its
  // fixed block boundaries; alternating (train PQ in rotated space) ↔
  // (Procrustes-update R toward the current reconstruction) provably
  // decreases quantization error per iteration. Deployment artifact =
  // (R, codebooks): rotation is one plan-literal matvec at encode and
  // query time, everything downstream is the existing PQ machinery in
  // rotated space — cosines are rotation-invariant, so exact re-rank
  // scores are unchanged.
  // ------------------------------------------------------------------

  /** Rotate each embedding by the matrix rows r (y_j = r_j·x, cast to
    * float): one native matvec loop per row over the matrix, which
    * ships once per task like the PQ codebook; zero shuffle. */
  def rotateEmbeddings(embeddings: DataFrame, r: Seq[Seq[Float]],
                       embCol: String = "embedding"): DataFrame =
    embeddings.withColumn(embCol, vecMatVec(col(embCol), r))

  /** One-sided Jacobi SVD of a small (d×d) driver-side matrix C =
    * U·S·Vᵀ, returning the Procrustes rotation U·Vᵀ — the argmax of
    * tr(Rᵀ·C) over orthogonal R. Plain deterministic Scala: sweeps of
    * column-pair rotations until off-diagonal correlation dies.
    */
  private[graft] def procrustesRotation(c: Array[Array[Double]]): Seq[Seq[Float]] = {
    val d = c.length
    // a = working copy (becomes U·S as columns orthogonalize);
    // v accumulates the right rotations
    val a = Array.tabulate(d, d)((i, j) => c(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 60 && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var i = 0
          while (i < d) {
            app += a(i)(p) * a(i)(p); aqq += a(i)(q) * a(i)(q)
            apq += a(i)(p) * a(i)(q); i += 1
          }
          if (math.abs(apq) > 1e-15 * math.sqrt(app * aqq) + 1e-300) {
            off = math.max(off, math.abs(apq) / (math.sqrt(app * aqq) + 1e-300))
            val tau = (aqq - app) / (2.0 * apq)
            val t = math.signum(tau) / (math.abs(tau) + math.sqrt(1.0 + tau * tau))
            val cs = 1.0 / math.sqrt(1.0 + t * t)
            val sn = cs * t
            i = 0
            while (i < d) {
              val ap = a(i)(p); val aq = a(i)(q)
              a(i)(p) = cs * ap - sn * aq; a(i)(q) = sn * ap + cs * aq
              val vp = v(i)(p); val vq = v(i)(q)
              v(i)(p) = cs * vp - sn * vq; v(i)(q) = sn * vp + cs * vq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // normalize columns of a -> U. A zero-singular-value column has
    // no direction of its own; substituting a raw basis vector there
    // would leave U (hence R) off the orthogonal manifold, so
    // degenerate columns are COMPLETED by Gram-Schmidt: project basis
    // vectors against every surviving/completed column until one
    // keeps a non-trivial residual, and take that residual.
    val ucols = Array.ofDim[Double](d, d) // column-major: ucols(j)(i)
    val done = Array.fill(d)(false)
    var j = 0
    while (j < d) {
      var n = 0.0; var i = 0
      while (i < d) { n += a(i)(j) * a(i)(j); i += 1 }
      val nn = math.sqrt(n)
      if (nn > 1e-150) {
        done(j) = true
        i = 0
        while (i < d) { ucols(j)(i) = a(i)(j) / nn; i += 1 }
      }
      j += 1
    }
    j = 0
    while (j < d) {
      if (!done(j)) {
        var k = 0
        while (k < d && !done(j)) {
          val cand = new Array[Double](d); cand(k) = 1.0
          var j2 = 0
          while (j2 < d) {
            if (done(j2)) {
              var dot = 0.0; var i = 0
              while (i < d) { dot += cand(i) * ucols(j2)(i); i += 1 }
              i = 0
              while (i < d) { cand(i) -= dot * ucols(j2)(i); i += 1 }
            }
            j2 += 1
          }
          var n = 0.0; var i = 0
          while (i < d) { n += cand(i) * cand(i); i += 1 }
          val nn = math.sqrt(n)
          if (nn > 1e-6) {
            i = 0
            while (i < d) { ucols(j)(i) = cand(i) / nn; i += 1 }
            done(j) = true
          }
          k += 1
        }
        if (!done(j)) throw new IllegalStateException(
          "procrustesRotation: Gram-Schmidt completion of a degenerate " +
            "singular direction found no independent basis vector")
      }
      j += 1
    }
    // R = U · Vᵀ
    (0 until d).map { i =>
      (0 until d).map { j =>
        var s = 0.0; var k2 = 0
        while (k2 < d) { s += ucols(k2)(i) * v(j)(k2); k2 += 1 }
        s.toFloat
      }
    }
  }

  /** Fail-loud orthogonality gate: ‖R·Rᵀ − I‖∞ must stay within
    * float tolerance, else downstream "exact re-rank cosines are
    * rotation-invariant" claims silently break. */
  private[graft] def requireOrthogonal(r: Seq[Seq[Float]], tol: Double = 1e-3): Unit = {
    val d = r.size
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0.0; var k = 0
        while (k < d) { s += r(i)(k).toDouble * r(j)(k).toDouble; k += 1 }
        val want = if (i == j) 1.0 else 0.0
        if (math.abs(s - want) > tol) throw new IllegalStateException(
          f"procrustes rotation drifted off the orthogonal manifold: (R·Rᵀ)($i,$j) = $s%.6f")
        j += 1
      }
      i += 1
    }
  }

  /** Non-parametric OPQ training: alternate PQ in the rotated space
    * with the Procrustes rotation update R = U·Vᵀ of C = Σ x·ŷᵀ
    * (ŷ = the PQ reconstruction of the rotated vector). C is a d×d
    * per-partition accumulation (mapPartitions + driver reduce —
    * 32 KB per partition at d=64, never row data); the codebooks
    * ride the existing pqTrain. Float-ITERATED training like
    * sim_kmeans/PQ — the artifact deploys via save/load, the entry
    * is rows-only with the recall spec as its oracle.
    */
  def opqTrain(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
               opqIters: Int = 3, pqIters: Int = 2,
               sampleFraction: Double = 1.0): (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val train = hashSample(embeddings, sampleFraction, "opq:")
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val dim = embDim(train, "embedding")
    if (dim == 0) {
      graft.operators.Checkpoints.free(train)
      return (Seq.empty, Seq.empty)
    }
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    var r: Seq[Seq[Float]] =
      (0 until dim).map(i => (0 until dim).map(j => if (i == j) 1.0f else 0.0f))
    var books: Seq[Seq[Seq[Float]]] = Seq.empty
    var it = 0
    while (it < opqIters) {
      val rotated = rotateEmbeddings(train, r)
      books = pqTrain(rotated, m, ksub, pqIters)
      val bb = books
      val withCodes = rotated
        .join(train.select(col("vec_id"), col("embedding").as("x")), "vec_id")
        .select(col("x"), pqCodes(col("embedding"), bb).as("codes"))
        .as[(Seq[Float], Seq[Long])]
      val c = withCodes.rdd.mapPartitions { it0 =>
        val acc = Array.ofDim[Double](dim, dim)
        it0.foreach { case (x, codes) =>
          val y = new Array[Double](dim)
          var s = 0
          while (s < m) {
            val cent = bb(s)(codes(s).toInt)
            var j = 0
            while (j < dsub) { y(s * dsub + j) = cent(j).toDouble; j += 1 }
            s += 1
          }
          var i = 0
          while (i < dim) {
            val xi = x(i).toDouble
            if (xi != 0.0) {
              var j = 0
              while (j < dim) { acc(i)(j) += xi * y(j); j += 1 }
            }
            i += 1
          }
        }
        Iterator.single(acc)
      }.reduce { (a, b) =>
        var i = 0
        while (i < dim) {
          var j = 0
          while (j < dim) { a(i)(j) += b(i)(j); j += 1 }
          i += 1
        }
        a
      }
      // y = Rᵀx convention: rotated row j = r_j·x, so maximize
      // tr(Rᵀ·C) with C = Σ x·ŷᵀ — Procrustes gives the new R rows
      r = procrustesRotation(c).transpose.map(_.toSeq)
      requireOrthogonal(r) // degenerate C must fail loud, not drift
      it += 1
    }
    // final codebooks under the final rotation
    books = pqTrain(rotateEmbeddings(train, r), m, ksub, pqIters)
    graft.operators.Checkpoints.free(train)
    (r, books)
  }

  /** OPQ ANN with exact re-rank: rotate the corpus (one plan-literal
    * matvec), then the whole PQ ADC + shortlist + exact-rerank
    * machinery runs unchanged in rotated space — rotation is
    * orthogonal, so the exact re-rank cosines equal the originals.
    */
  def annTopKOpqRerank(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
                       m: Int = 8, ksub: Int = 16, iters: Int = 2,
                       opqIters: Int = 3, shortlistFactor: Int = 5,
                       index: Option[(Seq[Seq[Float]], Seq[Seq[Seq[Float]]])] = None,
                       sampleFraction: Double = 1.0): DataFrame = {
    val (r, books) = index.getOrElse(
      opqTrain(embeddings, m, ksub, opqIters, iters, sampleFraction))
    if (books.isEmpty) {
      return embeddings.select(col("vec_id").as("query_id"),
        col("vec_id").as("corpus_id"), lit(0.0).as("cosine"),
        lit(0L).as("rk")).limit(0)
    }
    annTopKPqRerank(rotateEmbeddings(embeddings, r), numQueries, k, m, ksub,
      iters, shortlistFactor, index = Some(books))
  }

  /** Persist an OPQ index: rotation rows + codebook, two parquet
    * tables under one directory. */
  def opqSaveIndex(index: (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]), path: String,
                   spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    index._1.zipWithIndex.map { case (row, j) => (j, row) }
      .toDF("j", "r").coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    pqSaveCodebook(index._2, s"$path/books", spark)
  }

  /** Load an index saved by [[opqSaveIndex]]. */
  def opqLoadIndex(path: String,
                   spark: org.apache.spark.sql.SparkSession): (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) = {
    import spark.implicits._
    val r = spark.read.parquet(s"$path/rotation")
      .select(col("j"), col("r")).as[(Int, Seq[Float])].collect()
      .sortBy(_._1).map(_._2.toSeq).toSeq
    (r, pqLoadCodebook(s"$path/books", spark))
  }

  /** Robust per-label embedding outlier flagging (median/MAD rule —
    * Hampel's identifier, public statistics): flag a vector whose
    * cosine to its label centroid deviates from the label's median
    * by more than `madK/10⁴` · MAD (default 44478 = 3 · 1.4826·10⁴,
    * the classic 3σ-consistent threshold). Median and MAD, not
    * mean/stddev, because the contaminants being hunted are exactly
    * the points that wreck the mean — the breakdown-point argument.
    *
    * Hash-exact end to end: the centroid is the `sim_centroids`
    * gate's own rounded projection (round 6dp per element — the
    * proven float-avg convention), cosines floor to integer micros,
    * the median is the LOW median (ascending rank ⌈n/2⌉ — never an
    * interpolated float), and the threshold compares pure integers.
    *
    * Scale shape: one broadcast join (|labels| centroids) + two
    * per-label windows (rank within label — label partitions are
    * corpus-sized/|labels|, range-partitioned, never one global
    * sort). At 100 TB the exact median swaps for the in-house KLL
    * sketch face at the same call site; the flag rule is unchanged.
    */
  def robustOutliers(embeddings: DataFrame, madK: Long = 44478L): DataFrame = {
    val cents = labelCentroids(embeddings)
      .select(col("label"),
        expr("transform(centroid, x -> round(x, 6))").as("centroid"))
    // cosine in pure double arithmetic against the DOUBLE centroid
    // (vecCosine is float-typed; casting the rounded centroid to
    // float would re-perturb the 6dp convention the oracle mirrors)
    val dot = "aggregate(zip_with(embedding, centroid, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
    val nE = "aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    val nC = "aggregate(centroid, CAST(0.0 AS DOUBLE), (a, y) -> a + y * y)"
    val scored = embeddings.join(broadcast(cents), "label")
      .select(col("vec_id"), col("label"),
        floor(expr(s"$dot / (sqrt($nE) * sqrt($nC))") * lit(1e6) + lit(0.5))
          .cast("long").as("c_micros"))
    val wAll = Window.partitionBy("label")
    val med = scored
      .withColumn("rn", row_number().over(
        wAll.orderBy(col("c_micros"), col("vec_id"))))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .filter(expr("rn = (cnt + 1) DIV 2"))
      .select(col("label"), col("c_micros").as("med_micros"))
    val dev = scored.join(broadcast(med), "label")
      .withColumn("dev", abs(col("c_micros") - col("med_micros")))
    val mad = dev
      .withColumn("rn", row_number().over(
        wAll.orderBy(col("dev"), col("vec_id"))))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .filter(expr("rn = (cnt + 1) DIV 2"))
      .select(col("label"), col("dev").as("mad_micros"))
    dev.join(broadcast(mad), "label")
      .select(col("vec_id"), col("label"), col("c_micros"),
        col("med_micros"), col("mad_micros"),
        (col("dev") * lit(10000L) > lit(madK) * col("mad_micros")).as("is_outlier"))
  }

  /** Classical cyclic Jacobi eigendecomposition of a small SYMMETRIC
    * driver-side d×d matrix (textbook algorithm — Golub & Van Loan
    * §8.5): sweeps of (p, q) plane rotations annihilate off-diagonal
    * entries until the off-diagonal Frobenius mass dies. Returns
    * (eigenvalues, eigenvectors as rows), sorted by eigenvalue
    * descending (tie: original index), each vector sign-fixed so its
    * largest-magnitude component is positive (earliest index on
    * ties) — fully deterministic, like [[procrustesRotation]].
    */
  private[graft] def jacobiEigen(c: Array[Array[Double]]): (Seq[Double], Seq[Seq[Double]]) = {
    val d = c.length
    val a = Array.tabulate(d, d)((i, j) => c(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-18) {
            // rotation angle zeroing a(p)(q) (symmetric Schur)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val cos = 1.0 / math.sqrt(t * t + 1.0)
            val sin = t * cos
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = cos * aip - sin * aiq
              a(i)(q) = sin * aip + cos * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = cos * api - sin * aqi
              a(q)(i) = sin * api + cos * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = cos * vip - sin * viq
              v(i)(q) = sin * vip + cos * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { off += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(j => (-a(j)(j), j))
    val vals = order.map(j => a(j)(j))
    val vecs = order.map { j =>
      val col0 = (0 until d).map(i => v(i)(j))
      val m = col0.indices.maxBy(i => (math.abs(col0(i)), -i))
      if (col0(m) < 0) col0.map(-_) else col0
    }
    (vals, vecs)
  }

  /** Train an UNCENTERED-PCA projection (the FAISS PCAMatrix
    * pre-transform shape, specialized for inner-product/cosine
    * search): eigenbasis of the second-moment matrix E[x·xᵀ], NOT
    * the covariance — projecting onto a complete orthonormal basis
    * preserves dot products EXACTLY (x·y = Σ_j (x·b_j)(y·b_j)), so
    * truncating to the top dOut components loses only the corpus
    * energy outside them, while mean-centering would shift every
    * vector and distort cosine geometry. Returns (basis rows
    * dOut×dim, energy fractions per kept component).
    *
    * Scale shape: ONE corpus pass accumulates the dim×dim Gram sum
    * per partition (O(d²) buffer, map-side — the [[opqTrain]]
    * accumulation pattern) + a driver-side O(d³) [[jacobiEigen]];
    * content-hash sampling ([[hashSample]]) bounds the pass on a
    * 100 TB corpus, and the basis is a d×dOut plan literal
    * afterwards — training never touches the serving path.
    */
  def pcaTrain(embeddings: DataFrame, dOut: Int,
               sampleFraction: Double = 1.0): (Seq[Seq[Float]], Seq[Double]) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val train = hashSample(embeddings, sampleFraction, "pca:")
      .select(col("embedding")).as[Seq[Float]]
    val dim = embDim(embeddings, "embedding")
    if (dim == 0) return (Seq.empty, Seq.empty)
    require(dOut > 0 && dOut <= dim, s"dOut $dOut not in (0, $dim]")
    // per-partition Gram blocks folded ON THE DRIVER in partition
    // order — rdd.reduce merges results in ARRIVAL order, which
    // varies run to run and would make the trained basis flap in its
    // last ulp
    val parts = train.rdd.mapPartitionsWithIndex { (idx, it0) =>
      val acc = Array.ofDim[Double](dim, dim)
      it0.foreach { x =>
        var i = 0
        while (i < dim) {
          val xi = x(i).toDouble
          if (xi != 0.0) {
            var j = i
            while (j < dim) { acc(i)(j) += xi * x(j).toDouble; j += 1 }
          }
          i += 1
        }
      }
      Iterator.single((idx, acc))
    }.collect().sortBy(_._1).map(_._2)
    val gram = Array.ofDim[Double](dim, dim)
    parts.foreach { b =>
      var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) { gram(i)(j) += b(i)(j); j += 1 }
        i += 1
      }
    }
    pcaBasisFromGram(gram, dOut)
  }

  /** Eigen-solve an (upper-triangular-accumulated) Gram matrix into
    * (top-dOut basis rows, per-component energy fractions) — shared
    * by [[pcaTrain]] and the maintained-Gram streamed face. Mutates
    * its argument (mirrors the lower triangle). */
  private[graft] def pcaBasisFromGram(gram: Array[Array[Double]],
                                      dOut: Int): (Seq[Seq[Float]], Seq[Double]) = {
    val dim = gram.length
    var i = 0
    while (i < dim) {
      var j = i + 1
      while (j < dim) { gram(j)(i) = gram(i)(j); j += 1 }
      i += 1
    }
    val (vals, vecs) = jacobiEigen(gram)
    val total = math.max(vals.map(math.max(_, 0.0)).sum, Double.MinPositiveValue)
    val basis = vecs.take(dOut).map(_.map(_.toFloat))
    (basis, vals.take(dOut).map(v => math.max(v, 0.0) / total))
  }

  /** Project embeddings onto a PCA basis: one native matvec
    * per row ([[rotateEmbeddings]] — works rectangular, dOut rows of
    * dim each), zero shuffles. */
  def pcaProject(embeddings: DataFrame, basis: Seq[Seq[Float]],
                 embCol: String = "embedding"): DataFrame =
    rotateEmbeddings(embeddings, basis, embCol)

  /** PCA-shortlisted ANN with exact re-rank (the `sim_ann_pca`
    * entry): brute-force cosine in the dOut-dim projected space
    * produces a per-query shortlist, then the shortlist re-ranks
    * with exact full-dimension cosine. The projected pass reads
    * dOut/dim of the float volume (32/64 = 2× less scan + multiply
    * per candidate), and because uncentered PCA preserves inner
    * products under truncation up to out-of-basis energy, projected
    * cosine is a faithful shortlist ranking — recall is gated in
    * SimilaritySpec and the dial is `shortlist` (the
    * [[annTopKPqRerank]] contract).
    */
  def annTopKPcaRerank(embeddings: DataFrame, numQueries: Int = 8, k: Int = 10,
                       dOut: Int = 32, shortlist: Int = 100,
                       sampleFraction: Double = 1.0,
                       basisOpt: Option[Seq[Seq[Float]]] = None): DataFrame = {
    val basis = basisOpt.getOrElse(pcaTrain(embeddings, dOut, sampleFraction)._1)
    if (basis.isEmpty) {
      // empty corpus trains an empty basis; a zero-column projection
      // would type as array<void> and break analysis — stay total
      val spark = embeddings.sparkSession
      import spark.implicits._
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "corpus_id", "cosine", "rk")
    }
    val proj = pcaProject(embeddings, basis)
    val short = bruteForceTopK(proj, numQueries, shortlist)
      .select(col("query_id"), col("corpus_id"))
    rerankExact(embeddings, short, numQueries, k)
  }

  // ---- Planted-corpus HASH GATES for the ANN rows-only family (the
  // phashDecodedLocalTwin / qualityClfFull pattern): a fixed,
  // data-dir-independent corpus whose k-means trajectory and IVF
  // search are reproduced bit-for-bit by a plain-Scala local twin
  // embedded in the oracle as VALUES. The corpus is built so every
  // integer the gates emit is UNCONDITIONALLY stable: four mutually
  // ORTHOGONAL planted clusters (cross-cluster cosine exactly 0),
  // within-cluster jitters strictly increasing (no cosine ties
  // anywhere), the hash-drawn seeds forced into four DISTINCT
  // clusters (every Lloyd boundary runs between clusters, so
  // float-summation-order noise in the distributed centroid means
  // can never flip an assignment), and queries 0..3 one per cluster.
  // The gates emit INTEGERS ONLY (cells, counts, ranks): the float
  // cosine values are already gate-proven against DuckDB by
  // sim_bruteforce_topk; what was rows-only here is the TRAJECTORY
  // (seed draw → Lloyd → assignment → probe → rank), and that is
  // exactly what the integers pin. ----

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The local twin of [[graft.functions.VectorFunctions.vecCosine]]:
    * same left-to-right double accumulation over float inputs, same
    * zero guard — bit-identical by construction. */
  private def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Fixed planted ANN corpus: 48 vectors, dim 8, four orthogonal
    * clusters (cluster c lives on axes 2c, 2c+1). Ids 0..3 are the
    * query convention's queries, pinned one per cluster; the four
    * smallest-md5("cqseed:"‖id) ids (the trainCoarseQuantizer seed
    * draw) are forced into four distinct clusters; all other ids go
    * id mod 4. Jitter on the secondary axis strictly increases with
    * the member's rank inside its cluster, so all within-cluster
    * cosines are distinct and all cross-cluster cosines are exactly
    * zero. */
  val annPlantedCorpus: Seq[(Long, Seq[Float])] = {
    val ids = (0L until 48L).toSeq
    val seedIds = ids.sortBy(id => (md5hex("cqseed:" + id), id)).take(4)
    val forced = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    seedIds.filter(_ < 4L).foreach(s => forced(s) = s.toInt)
    var used = forced.values.toSet
    seedIds.filterNot(_ < 4L).foreach { s =>
      val c = (0 until 4).find(c => !used(c)).get
      forced(s) = c
      used += c
    }
    def cluster(id: Long): Int =
      forced.getOrElse(id, if (id < 4L) id.toInt else (id % 4L).toInt)
    val rank: Map[Long, Int] = ids.groupBy(cluster).valuesIterator
      .flatMap(ms => ms.sorted.zipWithIndex).toMap
    ids.map { id =>
      val c = cluster(id)
      val emb = Array.fill(8)(0.0f)
      emb(2 * c) = 1.0f
      emb(2 * c + 1) = 0.01f * (rank(id) + 1)
      (id, emb.toSeq)
    }
  }

  /** Plain-Scala independent twin of [[trainCoarseQuantizer]] over a
    * small corpus: same seed draw (md5 order or first-by-id), same
    * Lloyd rounds with the (cosine desc, cell asc) assignment
    * tie-break, same empty-cell reseed rule — sequential-double means
    * instead of the distributed aggregator, which on the orthogonal
    * planted corpus provably lands every assignment identically. */
  def coarseLocalTwin(corpus: Seq[(Long, Seq[Float])], nCells: Int,
                      iters: Int, seedByHash: Boolean): Seq[(Long, Seq[Float])] = {
    val seedOrdered =
      if (seedByHash) corpus.sortBy { case (id, _) => (md5hex("cqseed:" + id), id) }
      else corpus.sortBy(_._1)
    var cents: Seq[(Long, Seq[Float])] =
      seedOrdered.take(nCells).sortBy(_._1)
    if (cents.isEmpty) return Seq.empty
    def assignOf(cs: Seq[(Long, Seq[Float])])(emb: Seq[Float]): Long =
      cs.map { case (cell, ce) => (-cosLocal(emb, ce), cell) }.min._2
    for (_ <- 0 until iters) {
      val asg = corpus.map { case (id, emb) => (id, emb, assignOf(cents)(emb)) }
      val byCell = asg.groupBy(_._3)
      val means = byCell.map { case (cell, ms) =>
        val dim = ms.head._2.length
        val acc = Array.fill(dim)(0.0)
        ms.foreach { case (_, emb, _) =>
          var i = 0; while (i < dim) { acc(i) += emb(i); i += 1 } }
        cell -> acc.map(v => (v / ms.size).toFloat).toSeq
      }
      val empty = cents.map(_._1).filterNot(means.contains).sorted
      val donors: Map[Long, Seq[Float]] =
        if (empty.isEmpty) Map.empty
        else {
          val donorCells = byCell.toSeq
            .sortBy { case (cell, ms) => (-ms.size.toLong, cell) }
            .take(empty.size).map(_._1)
          val picked = donorCells.map { cell =>
            cell -> byCell(cell)
              .minBy { case (id, _, _) => (md5hex("split:" + id), id) }._2
          }.toMap
          empty.zip(donorCells.flatMap(picked.get)).toMap
        }
      cents = cents.map { case (cell, old) =>
        (cell, donors.getOrElse(cell, means.getOrElse(cell, old)))
      }
    }
    cents
  }

  /** Local twin of the `sim_kmeans_gate` integers: (vec_id, cell,
    * cell_n) under the [[kmeans]] convention (first-rows seeding,
    * iters=3). */
  def kmeansGateLocalTwin(corpus: Seq[(Long, Seq[Float])] = annPlantedCorpus,
                          nCells: Int = 4,
                          iters: Int = 3): Seq[(Long, Long, Long)] = {
    val cents = coarseLocalTwin(corpus, nCells, iters, seedByHash = false)
    val asg = corpus.map { case (id, emb) =>
      (id, cents.map { case (cell, ce) => (-cosLocal(emb, ce), cell) }.min._2)
    }
    val sizes = asg.groupBy(_._2).map { case (c, ms) => c -> ms.size.toLong }
    asg.map { case (id, c) => (id, c, sizes(c)) }.sortBy(_._1)
  }

  /** Local twin of the IVF search integers: (query_id, corpus_id, rk)
    * under the DEPLOYED quantizer convention (hash seeding, iters=2)
    * — probe order (cosine desc, cell asc), candidate rank (cosine
    * desc, corpus_id asc), self excluded: [[annTopKIvf]]'s exact
    * semantics. */
  def ivfGateLocalTwin(corpus: Seq[(Long, Seq[Float])] = annPlantedCorpus,
                       nCells: Int = 4, probes: Int = 2, k: Int = 5,
                       numQueries: Int = 4): Seq[(Long, Long, Long)] = {
    val cents = coarseLocalTwin(corpus, nCells, iters = 2, seedByHash = true)
    def topCells(emb: Seq[Float], p: Int): Seq[Long] =
      cents.map { case (cell, ce) => (-cosLocal(emb, ce), cell) }
        .sorted.take(p).map(_._2)
    val corpusCell = corpus.map { case (id, emb) =>
      (id, emb, topCells(emb, 1).head) }
    corpus.filter(_._1 < numQueries).flatMap { case (qid, qemb) =>
      val probed = topCells(qemb, probes).toSet
      corpusCell
        .filter { case (cid, _, cell) => cid != qid && probed(cell) }
        .map { case (cid, cemb, _) => (-cosLocal(qemb, cemb), cid) }
        .sorted.take(k).zipWithIndex
        .map { case ((_, cid), i) => (qid, cid, i.toLong + 1L) }
    }.sortBy(t => (t._1, t._3))
  }
}

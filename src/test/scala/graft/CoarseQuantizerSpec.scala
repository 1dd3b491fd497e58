package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Round-7 gate: the IVF coarse quantizer is TRAINED (hash-seeded
  * Lloyd), not the first `nCells` corpus vectors. The cost model of
  * every IVF-routed operator is probed-cell candidate volume, so the
  * quantizer's job is balanced cell populations — on a corpus sorted
  * by source (how 100 TB corpora actually arrive) prefix seeds
  * degenerate into one straggler cell holding most of the corpus.
  */
class CoarseQuantizerSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  import spark.implicits._

  private def cellPops(emb: org.apache.spark.sql.DataFrame,
                       c: Seq[(Long, Seq[Float])]): Array[Long] =
    Similarity.ivfCells(emb, "vec_id", "embedding",
        c.toDF("cell", "cell_emb"), probes = 1)
      .groupBy("cell").count().collect().map(_.getLong(1))

  test("trained quantizer bounds cell populations where prefix seeds degenerate") {
    // 4000 vectors on a smooth manifold, stored in manifold order (a
    // corpus sorted by source/shard): the first 16 rows span a sliver
    // of the space
    val emb = EmbeddingCorpora.manifoldEmbeddings(spark, 4000L).localCheckpoint(true)
    val n = 4000.0
    val mean = n / 16
    // pre-round-7 behavior: cells = first nCells corpus vectors
    val prefixPops = cellPops(emb,
      Similarity.trainCoarseQuantizer(emb, 16, iters = 0, seedByHash = false))
    // shipped behavior: content-hash seeds + Lloyd rounds
    val trainedPops = cellPops(emb,
      Similarity.trainCoarseQuantizer(emb, 16, iters = 8))
    // the untrained straggler cell: most of the corpus in ONE cell
    // (measured 3315/4000 — 13x the mean)
    assert(prefixPops.max >= 5 * mean,
      s"expected prefix-seed degeneracy, got max=${prefixPops.max}")
    // trained: max cell <= 2x mean, and every cell populated
    assert(trainedPops.max <= 2 * mean,
      s"trained quantizer left a straggler cell: ${trainedPops.sorted.mkString(",")}")
    assert(trainedPops.length == 16 && trainedPops.min > 0,
      "trained quantizer left empty cells")
    // expected probed-cell candidate volume E[pop of a random row's
    // cell] = sum(p_i^2)/n — the metric an IVF scan actually pays.
    // Training must cut it by at least 4x (measured ~10x).
    def expCandidates(pops: Array[Long]): Double =
      pops.map(p => p.toDouble * p).sum / n
    assert(expCandidates(trainedPops) * 4 <= expCandidates(prefixPops),
      s"training must shrink expected candidate volume: " +
        s"${expCandidates(trainedPops)} vs ${expCandidates(prefixPops)}")
  }

  test("quantizer training is deterministic and partitioning-invariant") {
    val emb = Tables.embeddings(spark, SharedSpark.sf)
    val a = Similarity.trainCoarseQuantizer(emb, 16, iters = 2)
    val b = Similarity.trainCoarseQuantizer(emb.repartition(7), 16, iters = 2)
    assert(a.map(_._1) == b.map(_._1), "hash-ordered seed draw must not depend on partitioning")
    // float means iterate, so compare within epsilon rather than bit-exact
    a.zip(b).foreach { case ((_, va), (_, vb)) =>
      va.zip(vb).foreach { case (x, y) => assert(math.abs(x - y) < 1e-5) }
    }
  }

  test("IVF search through a shared trained quantizer: recall holds and residual index composes") {
    val emb = Tables.embeddings(spark, SharedSpark.sf)
    val coarse = Similarity.trainCoarseQuantizer(emb, 16, iters = 2)
    val exact = Similarity.bruteForceTopK(emb, 8, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val s = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect s).size.toDouble / exact.size
    }
    val rIvf = recall(Similarity.annTopKIvf(emb, 8, 10, probes = 13,
      coarse = Some(coarse)).collect())
    assert(rIvf >= 0.9, s"trained-quantizer IVF recall $rIvf")
    // the residual index is only meaningful against the quantizer it
    // was trained with: the composed path through ONE shared coarse
    // table must clear the same bar as the plain-codes variant
    val resBooks = Similarity.pqTrainResidual(emb, nCells = 16, m = 16,
      ksub = 16, iters = 3, coarse = Some(coarse))
    val rRes = recall(Similarity.annTopKIvfPqResidual(emb, 8, 10,
      probes = 13, shortlistFactor = 8,
      index = Some(resBooks), coarse = Some(coarse)).collect())
    assert(rRes >= 0.85, s"residual IVFPQ with shared trained quantizer: recall $rRes")
  }

  test("sizeCells: sqrt-n rule, power-of-two snapped, clamped") {
    // the r7 sweep's validated points: 500-row testdata stays on the
    // inline path at 16; 50k lands at 256 (the sweep's recall-1.000
    // granularity); 10^6 at 1024
    assert(Similarity.sizeCells(500L) == 16)
    assert(Similarity.sizeCells(50000L) == 256)
    assert(Similarity.sizeCells(1000000L) == 1024)
    assert(Similarity.sizeCells(1000000000L) == 32768)
    // clamps: tiny corpora never go below minCells, huge never above max
    assert(Similarity.sizeCells(0L) == 16)
    assert(Similarity.sizeCells(10L) == 16)
    assert(Similarity.sizeCells(Long.MaxValue / 4) == (1 << 17))
    // monotone snapping sanity: a power-of-four corpus lands exactly
    assert(Similarity.sizeCells(1L << 20) == (1 << 10))
  }

  test("coarseSave/coarseLoad: bit-exact round-trip; loaded table routes search identically") {
    val emb = Tables.embeddings(spark, SharedSpark.sf)
    val trained = Similarity.trainCoarseQuantizer(emb, 16, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-coarse-rt-").toString + "/q"
    Similarity.coarseSave(trained, dir, spark)
    val loaded = Similarity.coarseLoad(dir, spark)
    assert(loaded == trained, "coarse quantizer must round-trip parquet bit-exactly")
    // the loaded artifact drives the SAME search: row-identical results
    val a = Similarity.annTopKIvf(emb, 8, 10, probes = 13, coarse = Some(trained))
      .collect().map(_.toSeq).toSet
    val b = Similarity.annTopKIvf(emb, 8, 10, probes = 13, coarse = Some(loaded))
      .collect().map(_.toSeq).toSet
    assert(a == b, "loaded quantizer must route search identically")
  }

  test("trained-TABLE regime: broadcast-path assignment at 100k rows / 256 cells holds balance and recall gates") {
    // the deployment regime in miniature (the full 10^6-row / 1024-cell
    // rehearsal is SURVEY §5's trained-TABLE regime entry): quantizer
    // trained on a 5% sample of a SORTED clustered corpus, persisted,
    // loaded, and BOTH assignments routed through ivfCellsBroadcast
    // (viaTable) — the regime where the quantizer is a table, not a
    // plan literal
    // the SORTED manifold corpus (the r7 §5 balance-rehearsal
    // geometry): continuous arc, ids in arc order — prefix seeds span
    // a sliver and degenerate; trained cells must quantize the arc
    // near-uniformly. (The clustered fixture is useless for this
    // gate: 64 disjoint clusters at n=100k/nc=256 put cluster size at
    // 4.002x mean, so ANY cluster drawing one seed fails by
    // construction no matter how good the training is.)
    val n = 100000L
    val nc = 256
    val emb = EmbeddingCorpora.manifoldEmbeddings(spark, n).localCheckpoint(true)
    val coarse = Similarity.trainCoarseQuantizer(emb, nc, iters = 6,
      sampleFraction = 0.05)
    val pops = Similarity.ivfCellsBroadcast(emb, "vec_id", "embedding",
        coarse.toDF("cell", "cell_emb"), probes = 1)
      .groupBy("cell").count().collect().map(_.getLong(1))
    val mean = n.toDouble / nc
    assert(pops.length >= nc - nc / 20, s"empty cells: ${pops.length}/$nc populated")
    assert(pops.max <= 4 * mean,
      s"balance gate: max cell ${pops.max} > 4x mean $mean")
    val exact = Similarity.bruteForceTopK(emb, 8, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.annTopKIvf(emb, 8, 10, probes = 8,
        coarse = Some(coarse), viaTable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"recall gate at 8/256 probes through the broadcast path: $recall")
  }

  test("viaTable search is row-identical to the plan-literal path") {
    val emb = Tables.embeddings(spark, SharedSpark.sf)
    val coarse = Similarity.trainCoarseQuantizer(emb, 16, iters = 2)
    val inline = Similarity.annTopKIvf(emb, 8, 10, probes = 13,
      coarse = Some(coarse)).collect().map(_.toSeq).toSet
    val table = Similarity.annTopKIvf(emb, 8, 10, probes = 13,
      coarse = Some(coarse), viaTable = true).collect().map(_.toSeq).toSet
    assert(inline == table, "the two assignment regimes must agree row-for-row")
  }

  test("structured corpus: trained quantizer holds exact recall at the SCALE probe fraction") {
    // 64 interleaved clusters — the geometry IVF exists for. At 4/16
    // probes (the 100 TB fraction, where the toy gaussian corpus
    // needs 13/16) recall is exact: neighbors are in-cluster, and a
    // cluster lives in one cell.
    val emb = EmbeddingCorpora.syntheticEmbeddings(spark, 4000L, 64, 64).localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(emb, 8, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val coarse = Similarity.trainCoarseQuantizer(emb, 16, iters = 3)
    val got = Similarity.annTopKIvf(emb, 8, 10, probes = 4, coarse = Some(coarse))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = (exact intersect got).size.toDouble / exact.size
    assert(r >= 0.9, s"clustered-corpus recall at 4/16 probes: $r (measured 1.0 at pinning)")
  }
}

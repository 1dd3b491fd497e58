package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic embedding corpora for the IVF/PQ specs:
  * clustered and smooth-manifold geometries, the shapes real
  * embedding corpora take and the testdata's random gaussians lack.
  * Their at-scale measurements are recorded in SURVEY.md §5.
  */
object EmbeddingCorpora {

  /** Deterministic clustered corpus: `nClusters` xxhash64-derived
    * centroids in [-1, 1)^dim, each vector = its cluster centroid +
    * 0.15-scaled per-(id, j) noise. Pure expressions — built
    * distributed, no driver materialization.
    *
    * `sortedByCluster=false` interleaves clusters (id mod nClusters) —
    * the first rows sample every cluster, a LUCKY seed draw.
    * `sortedByCluster=true` stores cluster runs contiguously (id div
    * runLen) — what a corpus sorted by source/shard actually looks
    * like, where the first `nCells` rows all come from ONE cluster and
    * an untrained coarse quantizer degenerates (the round-7 balance
    * spec's adversarial case).
    */
  def syntheticEmbeddings(spark: SparkSession, n: Long, nClusters: Int = 64,
                          dim: Int = 64,
                          sortedByCluster: Boolean = false): DataFrame = {
    val runLen = math.max(1L, (n + nClusters - 1) / nClusters)
    val clusterId =
      if (sortedByCluster) s"least(CAST(id / $runLen AS BIGINT), ${nClusters - 1})"
      else s"pmod(id, $nClusters)"
    spark.range(n).select(col("id").as("vec_id"),
      expr(
        s"""transform(sequence(0, ${dim - 1}), j -> CAST(
           |  (pmod(xxhash64(concat('c:', CAST($clusterId AS STRING), ':', CAST(j AS STRING))), 2000) - 1000) / 1000.0
           |  + 0.15 * (pmod(xxhash64(concat('n:', CAST(id AS STRING), ':', CAST(j AS STRING))), 2000) - 1000) / 1000.0
           |AS FLOAT))""".stripMargin.replaceAll("\n", " ")).as("embedding"))
  }

  /** Deterministic SMOOTH-MANIFOLD corpus: vectors lie (up to small
    * noise) on a half-circle in the first two dims, θ = id·π/n, with
    * ids — and therefore positions on the arc — in sorted order.
    * Real embedding corpora are continuous manifolds, not orthogonal
    * blobs, and this is the geometry where prefix seeding fails
    * catastrophically (the first `nCells` rows span a sliver of arc,
    * so one cell swallows nearly the whole corpus) while hash-seeded
    * Lloyd recovers the uniform quantizer.
    */
  def manifoldEmbeddings(spark: SparkSession, n: Long, dim: Int = 64,
                         noise: Double = 0.01): DataFrame = {
    spark.range(n).select(col("id").as("vec_id"),
      expr(
        s"""transform(sequence(0, ${dim - 1}), j -> CAST(
           |  CASE WHEN j = 0 THEN cos(id * pi() / $n)
           |       WHEN j = 1 THEN sin(id * pi() / $n)
           |       ELSE $noise * (pmod(xxhash64(concat('n:', CAST(id AS STRING), ':', CAST(j AS STRING))), 2000) - 1000) / 1000.0
           |  END AS FLOAT))""".stripMargin.replaceAll("\n", " ")).as("embedding"))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every entry in `queries` is an operator from the survey; every
  * SQL-expressible one has a DuckDB twin in `oracleSql` with
  * identical column aliases (the driver sorts columns by name and
  * hashes values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The end-to-end corpus-cleaning pipeline exercises scan-stage
    * quality/language gates, hash dedup, and token accounting in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_clean_corpus")(spark, "/root/testdata/sf0.001")

  /** Train-once PQ codebook per corpus dir (m=16, the committed
    * compression/recall dial), shared by every PQ-backed query. At a
    * real deployment this is pqSaveCodebook → pqLoadCodebook; in one
    * JVM the memo IS the persisted artifact (training is
    * deterministic, so the loaded and retrained books are identical).
    */
  private val opqIndex = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Seq[Float]], Seq[Seq[Seq[Float]]])]
  private def opqIndexFor(s: SparkSession, dir: String): (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) =
    opqIndex.getOrElseUpdate(dir,
      Similarity.opqTrain(Tables.embeddings(s, dir), m = 8, ksub = 16,
        opqIters = 2, pqIters = 2))

  private val pqBooks =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Float]]]]
  private def pqIndexFor(s: SparkSession, dir: String): Seq[Seq[Seq[Float]]] =
    pqBooks.getOrElseUpdate(dir,
      Similarity.pqTrain(Tables.embeddings(s, dir), m = 16, ksub = 16, iters = 3))
  /** Train-once IVF coarse quantizer per corpus ([[Similarity
    * .trainCoarseQuantizer]] — Lloyd-fitted centroids, NOT raw seed
    * vectors): shared by every IVF-routed query AND by the residual
    * codebook below, which is only meaningful against the exact cell
    * table its codes were trained on. nCells is SIZED FROM THE CORPUS
    * ([[Similarity.sizeCells]], the √n rule the round-7 sweep
    * validated) instead of pinned: the 500-row testdata lands on 16
    * (the zero-shuffle inline assignment path, same dial as before),
    * a 10⁶-row corpus on 1024 through the same entry — no code change
    * when the corpus grows. A deployment would coarseSave/coarseLoad
    * the result; in one JVM the memo IS the persisted artifact
    * (training is deterministic — round-trip spec-pinned).
    */
  private val coarseCells =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Seq[Float])]]
  private def coarseFor(s: SparkSession, dir: String): Seq[(Long, Seq[Float])] =
    coarseCells.getOrElseUpdate(dir, {
      val emb = Tables.embeddings(s, dir)
      Similarity.trainCoarseQuantizer(emb,
        nCells = Similarity.sizeCells(emb.count()), iters = 2)
    })
  private val pqResidualBooks =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Seq[Float]]]]
  private def pqResidualIndexFor(s: SparkSession, dir: String): Seq[Seq[Seq[Float]]] =
    pqResidualBooks.getOrElseUpdate(dir,
      Similarity.pqTrainResidual(Tables.embeddings(s, dir), nCells = 16, m = 16,
        ksub = 16, iters = 3, coarse = Some(coarseFor(s, dir))))

  private val suffixProfiles = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(Long, Long, Long, Long, Long, Long)]]
  /** Memoized suffix duplication profile per corpus (default probe
    * lengths) — computed once, shared by every election-style reader;
    * `dedup_suffix_profile` itself calls the chain directly so its
    * bench entry keeps pricing the real per-invocation cost. */
  private def suffixProfileFor(s: SparkSession, dir: String): DataFrame = {
    val rows = suffixProfiles.getOrElseUpdate(dir,
      graft.operators.Suffix.dupMassProfile(Tables.documents(s, dir)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq)
    import s.implicits._
    rows.toDF("match_len", "n_windows", "n_dup_positions",
      "n_dup_windows", "n_docs_touched", "dup_mass_ppm")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 MapReduce core applications
    "mr_wordcount" -> ((s, dir) => TextOps.wordCount(Tables.documents(s, dir))),
    "mr_inverted_index" -> ((s, dir) => TextOps.invertedIndex(Tables.documents(s, dir))),
    "mr_grep" -> ((s, dir) => TextOps.grep(Tables.documents(s, dir), "th[ei]")),
    "mr_sort" -> ((s, dir) => TextOps.sortedWordCount(Tables.documents(s, dir))),
    // §2.2 relational
    "q1_agg" -> ((s, dir) => Relational.q1PricingSummary(Tables.lineitem(s, dir))),
    "q3_join_agg" -> ((s, dir) => Relational.q3JoinAgg(
      Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q5_star_join" -> ((s, dir) => Relational.q5StarJoin(
      Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
      Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q9_profit_shape" -> ((s, dir) => Relational.q9ProfitShape(
      Tables.part(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
      Tables.lineitem(s, dir))),
    "q_semi_join" -> ((s, dir) => Relational.semiJoin(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_anti_join" -> ((s, dir) => Relational.antiJoin(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_topk_per_key" -> ((s, dir) => Relational.topKPerKey(Tables.orders(s, dir), 3)),
    "q_running_sum" -> ((s, dir) => Relational.runningSum(Tables.lineitem(s, dir))),
    "q_rollup" -> ((s, dir) => Relational.rollupAgg(Tables.lineitem(s, dir))),
    "q_grouping_sets" -> ((s, dir) => Relational.groupingSetsAgg(Tables.lineitem(s, dir))),
    "q_hourly_active" -> ((s, dir) => Relational.hourlyActive(Tables.events(s, dir))),
    "q_funnel" -> ((s, dir) => Relational.funnel(Tables.events(s, dir))),
    "q_retention" -> ((s, dir) => Relational.retention(Tables.events(s, dir), 3)),
    "q_gap_fill" -> ((s, dir) => Relational.gapFillHourly(Tables.events(s, dir), 100L)),
    "q_distinct_agg" -> ((s, dir) => Relational.distinctAgg(Tables.lineitem(s, dir))),
    "q_events_window" -> ((s, dir) => Relational.eventsWindow(Tables.events(s, dir))),
    "q_sessionize" -> ((s, dir) => Relational.sessionize(Tables.events(s, dir), 30)),
    // sweep-line interval-union coverage per part: merged shipping-
    // activity islands, covered/span days, utilization ppm
    "q_interval_coverage" -> ((s, dir) =>
      Relational.intervalCoverage(Tables.lineitem(s, dir))),
    // merged-on-arrival per-key island state over the same fixture;
    // the store holds islands (bounded), never raw intervals
    "stream_interval_coverage" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedIntervalCoverage(s, dir)),
    "q_session_window" -> ((s, dir) => Relational.sessionWindowAgg(Tables.events(s, dir), 30)),
    "q_hopping_window" -> ((s, dir) => Relational.hoppingWindow(Tables.events(s, dir))),
    // two deterministic synthetic "snapshots" of the documents table:
    // v_old drops doc_id%41==0 (→ added in new), v_new drops %43==0
    // (→ removed) and rewrites text for %37==0 (→ changed)
    "q_snapshot_diff" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      val vOld = docs.filter(col("doc_id") % 41 =!= 0)
      val vNew = docs.filter(col("doc_id") % 43 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 37 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Relational.snapshotDiff(vOld, vNew, "doc_id", "text")
    }),
    "q_fk_audit" -> ((s, dir) => Relational.fkAudit(
      Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir))),
    "ta_tfidf_cosine" -> ((s, dir) => TextAnalysis.tfidfCosinePairs(Tables.documents(s, dir))),
    "q_scd2" -> ((s, dir) => Relational.scd2Intervals(Tables.events(s, dir))),
    "q_global_topk" -> ((s, dir) => graft.functions.TopK.globalTopK(
      Tables.orders(s, dir), "o_orderkey", "o_totalprice", 100)),
    "q_topk_per_key_agg" -> ((s, dir) => graft.functions.TopK.perKeyTopK(
      Tables.orders(s, dir), "o_custkey", "o_orderkey", "o_totalprice", 3)),
    "q_cube" -> ((s, dir) => Relational.cubeAgg(Tables.lineitem(s, dir))),
    "q_pivot" -> ((s, dir) => Relational.pivotEvents(Tables.events(s, dir))),
    "q_percentile" -> ((s, dir) => Relational.percentiles(Tables.orders(s, dir))),
    "q_setops" -> ((s, dir) => Relational.setOpsIntersect(
      Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_setops_except" -> ((s, dir) => Relational.setOpsExceptAll(Tables.orders(s, dir))),
    "q_salted_agg" -> ((s, dir) => Relational.saltedAgg(Tables.events(s, dir), 16)),
    "q_salted_join" -> ((s, dir) => Relational.saltedJoinAgg(
      Tables.orders(s, dir), Tables.customer(s, dir), 16)),
    "q_json_extract" -> ((s, dir) => Relational.jsonPropsAgg(Tables.events(s, dir))),
    "q_corr_subquery" -> ((s, dir) => Relational.orderCountPerCustomer(
      Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_latest_per_key" -> ((s, dir) => Relational.latestPerKey(Tables.events(s, dir))),
    "q_histogram" -> ((s, dir) => Relational.histogram(Tables.orders(s, dir))),
    "q_profile" -> ((s, dir) => Relational.tableProfile(Tables.orders(s, dir),
      Seq("o_custkey", "o_orderstatus", "o_totalprice"))),
    "q_moving_hourly" -> ((s, dir) => Relational.movingHourlyValue(Tables.events(s, dir))),
    "q_moving_avg" -> ((s, dir) => Relational.movingAvg(Tables.lineitem(s, dir))),
    "q_ntile_rank" -> ((s, dir) => Relational.ntileRank(Tables.orders(s, dir))),
    "q_argmax" -> ((s, dir) => Relational.argMaxOrder(Tables.orders(s, dir))),
    "q_asof_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_id").as("click_event_id"),
          round(col("value").cast("decimal(18,6)"), 2).cast("double").as("click_value"))
      graft.plans.TemporalJoins.asofJoin(purchases, clicks,
        "user_id", "ts_ns", "event_id", Seq("click_event_id", "click_value"))
        .select(col("user_id"), col("event_id"), col("click_event_id"), col("click_value"))
    }),
    // nearest click in EITHER direction, equal distance -> backward
    // (pandas merge_asof(direction='nearest') semantics)
    "q_asof_nearest" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_id").as("click_event_id"))
      graft.plans.TemporalJoins.asofJoinNearest(purchases, clicks,
        "user_id", "ts_ns", "event_id", Seq("click_event_id"))
        .select(col("user_id"), col("event_id"), col("click_event_id"))
    }),
    "q_asof_forward" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      // the mirror attribution question: the NEXT click at-or-after
      // each purchase (post-purchase engagement)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_id").as("click_event_id"),
          round(col("value").cast("decimal(18,6)"), 2).cast("double").as("click_value"))
      graft.plans.TemporalJoins.asofJoinForward(purchases, clicks,
        "user_id", "ts_ns", "event_id", Seq("click_event_id", "click_value"))
        .select(col("user_id"), col("event_id"), col("click_event_id"), col("click_value"))
    }),
    "q_asof_tolerance" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns"), col("event_id"),
          col("event_id").as("click_event_id"),
          round(col("value").cast("decimal(18,6)"), 2).cast("double").as("click_value"))
      // 1-hour attribution horizon: clicks older than that do not count
      graft.plans.TemporalJoins.asofJoinTolerance(purchases, clicks,
        "user_id", "ts_ns", "event_id", Seq("click_event_id", "click_value"),
        tolerance = 3600000000000L)
        .select(col("user_id"), col("event_id"), col("click_event_id"), col("click_value"))
    }),
    "q_asof_join_native" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns"),
          col("event_id").as("click_event_id"),
          round(col("value").cast("decimal(18,6)"), 2).cast("double").as("click_value"))
      org.apache.spark.sql.graftplan.AsofJoinNative.asofJoin(
        purchases, clicks, "user_id", "ts_ns", "click_event_id",
        Seq("click_event_id", "click_value"))
        .select(col("user_id"), col("event_id"), col("click_event_id"), col("click_value"))
    }),
    "q_range_join" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir)
      val halfHourNs = 30L * 60 * 1000 * 1000 * 1000
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_ns"))
      graft.plans.TemporalJoins.rangeJoin(errors, clicks, "user_id", "ts_ns",
        before = halfHourNs, after = halfHourNs, binWidth = halfHourNs,
        leftProject = Seq("event_id"), rightProject = Seq("ts_ns"))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_nearby_clicks"))
    }),
    // interval×interval overlap join: 30-min-gap session intervals
    // against "incident hours" (hours with >= 5 error events), binned
    // equi-join with exactly-once emission in the max-start bin —
    // never a nested-loop inequality join; pure integer interval math
    // so the DuckDB inequality-join oracle is hash-exact
    "q_interval_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val hourNs = 3600L * 1000000000L
      val ev = Tables.events(s, dir)
      val sessions = Relational.sessionIntervals(ev, 30)
        .select(col("user_id"), col("session_id"),
          col("s_start").as("ivl_start"), col("s_end").as("ivl_end"))
      val incidents = ev.filter(col("event_type") === "error")
        .select(expr(s"ts_ns div ${hourNs}L").as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("n_errors"))
        .filter(col("n_errors") >= 5)
        .select(col("hr"), (col("hr") * hourNs).as("ivl_start"),
          ((col("hr") + 1) * hourNs - 1).as("ivl_end"))
      graft.plans.TemporalJoins.intervalOverlapJoin(sessions, incidents,
        "ivl_start", "ivl_end", hourNs,
        leftProject = Seq("user_id", "session_id", "ivl_start", "ivl_end"),
        rightProject = Seq("hr", "ivl_start", "ivl_end"))
        .select(col("user_id"), col("session_id"),
          col("r_hr").as("incident_hr"),
          (least(col("ivl_end"), col("r_ivl_end")) -
            greatest(col("ivl_start"), col("r_ivl_start")) + 1).as("overlap_ns"))
    }),
    "q_triangles" -> ((s, dir) => Graph.coPurchaseTriangles(Tables.lineitem(s, dir))),
    // strongly connected components of the DIRECTED item-sequence
    // graph (FW-BW coloring; label = min member id). The fixture's
    // graph is one giant SCC -- the multi-SCC semantics are carried
    // by GraphSpec's planted graphs and the closure oracle
    // the condensation DAG over a 150-permille md5-sampled
    // item-sequence graph (the full fixture is ONE giant SCC —
    // condensation empty; sampling leaves a core SCC + a real DAG
    // periphery, and md5 sampling reproduces in the oracle)
    "q_scc_condensation" -> ((s, dir) => Graph.sccCondensation(
      Graph.sampleEdges(Graph.itemSequenceEdges(Tables.lineitem(s, dir)),
        150, "scc:"))),
    // critical-path depth of each SCC in the condensation DAG — the
    // wave schedule a dependency executor runs; condense + layer
    "q_topo_layers" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      Graph.topoLayers(Graph.sccCondensation(
          Graph.sampleEdges(Graph.itemSequenceEdges(Tables.lineitem(s, dir)),
            150, "scc:"))
          .select(col("src_scc").as("u"), col("dst_scc").as("v")))
        .select(col("node").as("scc"), col("depth"))
    }),
    "q_scc" -> ((s, dir) => Graph.stronglyConnectedComponents(
      Graph.itemSequenceEdges(Tables.lineitem(s, dir)))),
    // incremental SCC maintenance: append-only labels + merge log +
    // a maintained condensation store; shares q_scc's oracle
    "stream_scc" -> ((s, dir) => graft.streaming.GraphStreams.streamedScc(s, dir)),
    // critical-path layering read face over the MAINTAINED
    // condensation (stream_scc's qPath artifact) — resolve-time
    // delta-fixpoint, never a recompute from raw edges
    "stream_topo_layers" -> ((s, dir) =>
      graft.streaming.GraphStreams.streamedTopoLayers(s, dir)),
    // sf1-capable gates for the SCC/topo family (closure-free
    // oracles — VERDICT r14 item 2): the flood certificate checks
    // the REAL batch / maintained SCC labels; the level-DAG layers
    // run the real topoLayers machinery at bounded depth
    "q_scc_flood" -> ((s, dir) => Graph.sccFloodGate(
      Graph.itemSequenceEdges(Tables.lineitem(s, dir)),
      Graph.stronglyConnectedComponents(
        Graph.itemSequenceEdges(Tables.lineitem(s, dir))))),
    "stream_scc_flood" -> ((s, dir) => Graph.sccFloodGate(
      Graph.itemSequenceEdges(Tables.lineitem(s, dir)),
      graft.streaming.GraphStreams.streamedScc(s, dir))),
    "q_topo_layers_dag" -> ((s, dir) => Graph.topoLayers(
      Graph.levelDag(Graph.itemSequenceEdges(Tables.lineitem(s, dir))))),
    // Peeling at k=70 erodes the co-purchase graph's low-degree tail
    // (29 of 2000 parts cascade out at sf0.01) — the community-core
    // primitive; 8 unrolled rounds in the oracle, identical by
    // construction whether or not the cascade converges in budget
    "q_kcore" -> ((s, dir) => Graph.kCore(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 70, 8)),
    // sketch-peeled k-core: CMS degree estimates replace the exact
    // per-round degree table; md5 cells + exact merges mean even the
    // COLLIDED estimates reproduce in DuckDB — hash-exact at a width
    // where collisions are real, and provably a superset of q_kcore
    // (GraphSpec pins both)
    "q_kcore_approx" -> ((s, dir) => Graph.kCoreApprox(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 70, 8)),
    // sf1-capable SAMPLED gates (the q_scc_condensation md5-sampling
    // trick): same operators, md5-thresholded edge subset sized so
    // the unrolled oracle ladders stay affordable at 10× data; k
    // rescaled with the sampled degree (70 × 0.2)
    "q_kcore_approx_sample" -> ((s, dir) => Graph.kCoreApprox(
      Graph.sampleEdges(Graph.coPurchaseEdges(Tables.lineitem(s, dir)),
        200, "kcs:"), 14, 8)),
    "q_pagerank_sample" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Dedup.pagerankMicros(
        Graph.sampleEdges(Graph.coPurchaseEdges(Tables.lineitem(s, dir)),
          100, "prs:")
          .select(col("u").as("doc_a"), col("v").as("doc_b")), 10)
        .select(col("doc_id").as("part_id"), col("pr"))
    }),
    // standalone integer PageRank over the co-purchase graph (the
    // same bit-exact fixed-point iteration dedup_apply_pagerank uses
    // as a survivor policy, surfaced as the graph-analytics query):
    // 10 rounds, micro-units, every op 64-bit integer — hash-exact
    // against 10 unrolled CTE rounds in DuckDB
    "q_pagerank" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Dedup.pagerankMicros(
        Graph.coPurchaseEdges(Tables.lineitem(s, dir))
          .select(col("u").as("doc_a"), col("v").as("doc_b")), 10)
        .select(col("doc_id").as("part_id"), col("pr"))
    }),
    // DOULION edge sampling at p=1/2 (threshold 0x8000 — exactly
    // representable) ahead of the exact counter: the md5 sample, the
    // sparsified count AND the ×8 estimate all reproduce in DuckDB,
    // so even the approximate path is hash-exact; the spec adds a
    // planted-clique error bound
    "q_triangles_approx" -> ((s, dir) => Graph.triangleCountApprox(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)))),
    // the p dial at p=1/4 (threshold 0x4000, scale 64.0 — both
    // exactly representable): ~4x less wedge work than p=1/2, wider
    // variance, same hash-exact estimator contract
    "q_triangles_approx_q" -> ((s, dir) => Graph.triangleCountApprox(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), keepPermille = 250)),
    // the p dial at a NON-power-of-two p=200‰ (threshold ⌊200·2¹⁶/
    // 1000⌋ = 13107 = 0x3333, realized p = 13107/65536, 1/p³ ≈
    // 125.008): pins the realized-probability scaling OUTSIDE the
    // exactly-representable cases — both engines build 1/p³ from the
    // same IEEE-double op sequence, so the estimate stays hash-exact
    "q_triangles_approx_p2" -> ((s, dir) => Graph.triangleCountApprox(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), keepPermille = 200)),
    // frontier BFS from the deterministic seed (min node id) on the
    // co-purchase graph; the oracle re-walks it with a recursive CTE
    // + min(dist) — different algorithm, every integer must agree
    "q_bfs" -> ((s, dir) => Graph.bfsHops(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 30)),
    // multi-source BFS hop histogram from the 4 smallest node ids —
    // the distance-structure diagnostic; one shared adjacency, the
    // frontier carries (src, node) pairs
    "q_bfs_histogram" -> ((s, dir) => Graph.bfsHopHistogram(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 4, 30)),
    // sampled harmonic centrality over the same multi-source BFS:
    // per-term integer micros before the sum, (hc desc, node) top-k
    "q_harmonic" -> ((s, dir) => Graph.harmonicCentrality(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 4, 20, 30)),
    // sampled Brandes betweenness (k sources, forward sigma counts +
    // backward rational dependencies) — rows-only: delta ratios are
    // rational, the spec's local Brandes is the oracle
    "q_betweenness" -> ((s, dir) => Graph.betweennessApprox(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 4, 20, 30)),
    // delta-relaxing Bellman-Ford from the same seed over
    // multiplicity-weighted edges; the oracle unrolls 20 relax
    // rounds as chained min-aggregates — rounds past the fixpoint
    // are no-ops on both sides, all-integer distances
    "q_sssp" -> ((s, dir) => Graph.sssp(
      Graph.coPurchaseWeightedEdges(Tables.lineitem(s, dir)), 20)),
    // synchronous LPA, 5 rounds, smallest-label tie-break; the
    // oracle unrolls the same 5 rounds (fixed budget makes the
    // possibly-unstabilized outcome deterministic on both sides)
    "q_label_prop" -> ((s, dir) => Graph.labelPropagation(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 5)),
    // 4-truss peel on the p=¼ DOULION subgraph (the same 0x4000
    // sparsified edges q_triangles_approx_q measures); oracle
    // unrolls 4 support-peel rounds with the orientation-free
    // a<b<c triangle join
    "q_ktruss" -> ((s, dir) => Graph.kTruss(
      Graph.sampleEdges(Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 250),
      k = 4, rounds = 4)),
    // Borůvka MSF under the (w, u, v) total order — rows-only by
    // declared design (union-find is not DuckDB-CTE-expressible);
    // the spec oracle is local Kruskal edge-set equality
    "q_mst" -> ((s, dir) => Graph.mstBoruvka(
      Graph.coPurchaseWeightedEdges(Tables.lineitem(s, dir)))),
    // the MST family's hash gate: (n_edges, total_weight,
    // n_components) is unique across ALL minimum spanning forests
    // (weight-multiset uniqueness), and the weight has a closed form
    // over per-threshold component counts the oracle can unroll
    "q_mst_summary" -> ((s, dir) => Graph.mstSummary(
      Graph.coPurchaseWeightedEdges(Tables.lineitem(s, dir)))),
    // streamed MSF maintenance: per batch, Borůvka over (previous
    // forest ∪ batch) — the sparsification identity bounds the
    // working set at O(nodes + batch) and makes crash-retry free
    "stream_mst_summary" -> ((s, dir) =>
      graft.streaming.GraphStreams.streamedMstSummary(s, dir)),
    // double-sweep diameter lower bound: two BFS traversals, O(1)
    // driver aggregates, one all-integer summary row
    "q_diameter" -> ((s, dir) => Graph.diameterDoubleSweep(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)), 30)),
    // 3·T/W in exact integer ppm — one triangle pass + the
    // closed-form wedge sum, no wedge materialization
    "q_clustering" -> ((s, dir) => Graph.clusteringCoefficient(
      Graph.coPurchaseEdges(Tables.lineitem(s, dir)))),
    // wide->long melt via stack: one Generate, no join-back, values
    // pass through from parquet bit-identically
    "q_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir).selectExpr("l_orderkey", "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'price', l_extendedprice, " +
          "'discount', l_discount) AS (measure, value)")),
    // the NULL-join semantics pin: = drops NULL keys, <=> matches
    // them — one summary row proves n_nullsafe = n_eq + 1 on a
    // domain with exactly one planted NULL member
    "q_null_semantics" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val keys = Tables.lineitem(s, dir)
        .select(when(round(col("l_tax"), 2) === 0.04, lit(null))
          .otherwise(round(col("l_tax"), 2)).as("k"))
        .distinct()
      val a = keys.as("a")
      val b = keys.as("b")
      val nKeys = keys.agg(count(lit(1)).as("n_keys"),
        count(col("k")).as("n_nonnull_keys"))
      val nEq = a.join(b, col("a.k") === col("b.k"))
        .agg(count(lit(1)).as("n_eq_pairs"))
      val nNs = a.join(b, col("a.k") <=> col("b.k"))
        .agg(count(lit(1)).as("n_nullsafe_pairs"))
      nKeys.crossJoin(nEq).crossJoin(nNs)
    }),
    // first-order Markov transition counts over per-user event
    // sequences; unique (ts, id) order key keeps every lag exact
    "q_transitions" -> ((s, dir) => Relational.eventTransitions(Tables.events(s, dir))),
    "q_skew_profile" -> ((s, dir) => Relational.skewProfile(Tables.events(s, dir), "user_id", 10)),
    "q_zorder" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val z = graft.sources.Sources.zValue(col("l_partkey"), col("l_suppkey"), 21)
      Tables.lineitem(s, dir).select(z.as("zv"))
        .groupBy(shiftright(col("zv"), 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("zv")).as("z_min"), max(col("zv")).as("z_max"))
    }),
    // §2.3 deduplication
    "dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    // URL-level dedup on the canonical URL form (scheme/host case,
    // www + default-port strip, fragment/utm drop, param sort,
    // trailing slash) — all codegen'd scalar expressions + ONE
    // map-side-combined aggregate; synthetic messy URLs derived
    // deterministically from doc_id (fixture has no URL column)
    "dedup_url" -> ((s, dir) =>
      Dedup.urlDedup(Dedup.syntheticUrls(Tables.documents(s, dir)))),
    // C4-style corpus-level line dedup: every segment occurrence
    // after the corpus-first (min (doc_id, seg_idx) per content) is
    // cut and docs reassemble in order; one map-side-combined
    // aggregate on the content key, text never rides the survivor
    // shuffle
    "dedup_lines" -> ((s, dir) => Dedup.lineDedup(Tables.documents(s, dir), 8)),
    // content-defined chunking: rolling-fingerprint boundaries ->
    // insertion-robust chunk table + chunk-level dedup
    "dedup_suffix_profile" -> ((s, dir) => graft.operators.Suffix.dupMassProfile(Tables.documents(s, dir))),
    // the profile's operating-point read: cheapest probed span length
    // within the duplication-mass budget (else longest + fallback
    // flag). Reads the MEMOIZED per-corpus profile (the sim_ann_opq
    // train-once shape) -- the chain itself is priced by
    // dedup_suffix_profile, which stays per-invocation
    "dedup_span_elect" -> ((s, dir) =>
      graft.operators.Suffix.electFromProfile(suffixProfileFor(s, dir), 100000L)),
    "dedup_cdc_chunks" -> ((s, dir) => Dedup.cdcChunks(Tables.documents(s, dir), 8, 63)),
    "dedup_cdc" -> ((s, dir) => Dedup.cdcDedup(Tables.documents(s, dir), 8, 63)),
    // LBFS minimum-chunk rule: boundaries closer than minLen to the
    // last kept one are suppressed (sequential fold) -- kills the
    // tiny-chunk noise tail SURVEY §5's CDC rehearsal measured at 10^7 chunks
    "dedup_cdc_min" -> ((s, dir) => Dedup.cdcDedupMin(Tables.documents(s, dir), 8, 63, 16)),
    // the FULL LBFS size envelope: min rule + forced boundaries at
    // maxLen -- bounds the worst-case chunk a low-entropy run can emit
    "dedup_cdc_clamped" -> ((s, dir) => Dedup.cdcDedupClamped(Tables.documents(s, dir), 8, 63, 16, 128)),
    // streamed chunk-store maintenance: pure per-batch deltas, order-
    // independent min/sum resolve -- shares dedup_cdc's oracle
    "stream_cdc" -> ((s, dir) => graft.streaming.IngestStreams.streamedCdcDedup(s, dir)),
    "stream_cdc_min" -> ((s, dir) => graft.streaming.IngestStreams.streamedCdcDedup(s, dir, minLen = 16)),
    "stream_cdc_clamped" -> ((s, dir) => graft.streaming.IngestStreams.streamedCdcDedup(s, dir, minLen = 16, maxLen = 128)),
    "dedup_incremental" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
      // deterministic corpus/batch split: last decimal digit of doc_id
      Dedup.incrementalDedup(
        docs.filter(pmod(col("doc_id"), lit(10L)) >= 3),
        docs.filter(pmod(col("doc_id"), lit(10L)) < 3))
    }),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2)),
    // span-level exact-substring dedup (Lee et al. ExactSubstr at
    // fixed 8-token granularity): maximal duplicated token spans per
    // doc — all-integer, the oracle rebuilds every span
    "dedup_spans" -> ((s, dir) => Dedup.duplicatedSpans(Tables.documents(s, dir), 8)),
    // ...and the cut: flagged spans removed in normalized token
    // space, exact string reconstruction in both engines
    "dedup_spans_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.applySpanDedup(docs, Dedup.duplicatedSpans(docs, 8))
    }),
    "dedup_fuzzy" -> ((s, dir) => Dedup.fuzzyPairs(Tables.documents(s, dir))),
    "dedup_minhash" -> ((s, dir) => Dedup.minhashLsh(Tables.documents(s, dir), 3, 32, 8, 0.5)),
    // fuzzy benchmark decontamination: train = docs with id % 50 != 0,
    // eval = the rest (the ta_contamination split); rows-only for the
    // dedup_minhash seeded-xxhash64 reason, DedupSpec is the oracle
    "dedup_contamination" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, dir)
      Dedup.fuzzyContamination(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), 3, 32, 8, 0.5)
    }),
    // streaming maintenance face of dedup_minhash: two micro-batches
    // through the maintained bucket/set tables; rows-only for the
    // same seeded-xxhash64 reason, with the batch-parity spec as the
    // oracle (StreamingSpec pins streamed == batch bit-for-bit)
    "stream_near_dedup" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedNearDedup(s, dir)),
    // streaming span-level substring dedup: even docs arrive in batch
    // 1, odd in batch 2; exact string/integer logic throughout, so
    // the two chained window-count rounds rebuild in SQL — the one
    // streaming ingest operator that is fully hash-oracled
    "stream_spans" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedSpanDedup(s, dir)),
    // the retro-flag audit over the same harness: first-batch docs
    // whose windows became duplicated after shipping — the
    // re-cleaning-cadence number; fully hash-oracled like its parent
    "stream_span_retro" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedSpanRetroAudit(s, dir)),
    // streamed suffix profile: the maintained bootstrap-window store
    // (span-store treatment — window deltas are not content-local),
    // LSM-folded, resolved by the batch doubling core; shares
    // dedup_suffix_profile's oracle verbatim
    "stream_suffix_profile" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedSuffixProfile(s, dir)),
    "dedup_simhash" -> ((s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), 3)),
    // threshold 0.4: the synthetic embeddings have no true near-dups
    // (max pairwise cosine ≈0.48), so a production 0.9 cut would make
    // the driver's rows-only check vacuous; specs verify 0.9 on
    // planted near-dups.
    "dedup_embedding" -> ((s, dir) => Similarity.embeddingNearDup(Tables.embeddings(s, dir), 0.4)),
    // SemDeDup: cluster-bounded pairwise cosine over the SHARED
    // cached trained quantizer; survivors are the lowest-centroid-cos
    // members of each duplicate chain (the paper's keep policy).
    // tau=0.8 is the structureless-gaussian dial: the testdata has no
    // true paraphrase pairs, so the spec's planted corpus carries the
    // semantics and this entry exercises the full plan shape
    "dedup_semantic" -> ((s, dir) => Similarity.semanticDedup(
      Tables.embeddings(s, dir), tau = 0.8, coarse = Some(coarseFor(s, dir)))),
    // streamed SemDeDup maintenance under the same frozen quantizer:
    // pairs found once in the later member's batch against
    // bucket-pruned state; resolve = one pair-log/rank join equal to
    // the batch verdicts row-for-row (VectorStreamsSpec)
    "stream_semantic" -> ((s, dir) => graft.streaming.VectorStreams
      .streamedSemanticDedup(s, dir, coarseFor(s, dir))),
    "dedup_components" -> ((s, dir) => Dedup.connectedComponents(
      Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2))),
    "dedup_components_fast" -> ((s, dir) => Dedup.connectedComponentsAlternating(
      Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2))),
    "dedup_apply_central" -> ((s, dir) => Dedup.applyNearDupDedupCentral(
      Tables.documents(s, dir), Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2))),
    "dedup_apply" -> ((s, dir) => Dedup.applyNearDupDedup(Tables.documents(s, dir),
      Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2))),
    // rows-only by design: the survivor score is iterative integer
    // PageRank is all-integer (micros fixed-point), so the 10 rounds
    // unroll into 10 chained DuckDB CTEs — hash-exact, plus the
    // exact-equality spec vs an independent implementation
    "dedup_apply_pagerank" -> ((s, dir) => Dedup.applyNearDupDedupPagerank(
      Tables.documents(s, dir), Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2))),
    // sf1-capable BOUNDED gates for the closure family: exactly-K-round
    // labels replay as K linear CTEs in the oracle at any scale (the
    // converged oracles' recursive walk stops being computable at sf1),
    // driving the SAME election/apply pipeline via compsOf
    "dedup_components_bounded" -> ((s, dir) => Dedup.boundedComponents(
      Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2), 6)),
    "dedup_apply_bounded" -> ((s, dir) => Dedup.applyNearDupDedup(
      Tables.documents(s, dir), Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2),
      p => Dedup.boundedComponents(p, 6))),
    "dedup_apply_central_bounded" -> ((s, dir) => Dedup.applyNearDupDedupCentral(
      Tables.documents(s, dir), Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2),
      p => Dedup.boundedComponents(p, 6))),
    "dedup_apply_pagerank_bounded" -> ((s, dir) => Dedup.applyNearDupDedupPagerank(
      Tables.documents(s, dir), Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.2),
      10, p => Dedup.boundedComponents(p, 6))),
    // §2.4 similarity search
    "sim_bruteforce_topk" -> ((s, dir) => Similarity.bruteForceTopK(Tables.embeddings(s, dir), 8, 10)),
    // MRL truncation evaluation: per prefix-dim tier, overlap@10 of
    // the truncated ranking vs full-dim — all-integer, hash-exact
    "sim_matryoshka" -> ((s, dir) => Similarity.matryoshkaRecall(Tables.embeddings(s, dir))),
    "sim_ann_lsh" -> ((s, dir) => Similarity.annTopK(Tables.embeddings(s, dir), 8, 10)),
    // probes=13/16 is the dial for THIS corpus: structureless gaussian
    // noise, where honest recall tracks the probed fraction (13/16 →
    // 0.95; the pre-r7 4-probe "0.9" rode on queries being their own
    // prefix seeds). Structured corpora run the scale fraction — the
    // clustered rehearsal measures recall 1.0 at 4/16 probes.
    "sim_ann_ivf" -> ((s, dir) => Similarity.annTopKIvf(Tables.embeddings(s, dir), 8, 10,
      probes = 13, coarse = Some(coarseFor(s, dir)))),
    // streaming maintenance face of sim_ann_ivf: two micro-batches
    // into the maintained cell-partitioned table, top-k against the
    // maintained state through the SAME cached trained quantizer;
    // rows-only for the same float-candidate-set reason, with the
    // batch-parity spec as the oracle (VectorStreamsSpec pins
    // streamed == batch row-for-row)
    "stream_ann_ivf" -> ((s, dir) => graft.streaming.VectorStreams.streamedAnnIvf(
      s, dir, coarseFor(s, dir))),
    // the full FAISS residual-IVFPQ index as a MAINTAINED table:
    // (cell, codes, embedding) accumulate under the shared cached
    // quantizer + residual codebooks; ADC search prunes to probed
    // partitions and reads codes only. Rows-only like
    // sim_ann_ivfpq_res; VectorStreamsSpec pins streamed == batch
    // row-for-row at these dials
    "stream_ann_ivfpq" -> ((s, dir) => graft.streaming.VectorStreams.streamedAnnIvfPq(
      s, dir, coarseFor(s, dir), pqResidualIndexFor(s, dir))),
    // the driver's rows-only comparator can't hash raw array columns,
    // so the centroid projects to count + first-8-elements scalars —
    // which also makes it fully SQL-oracle-checkable (per-element avg)
    "sim_centroids" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Similarity.labelCentroids(Tables.embeddings(s, dir))
        .select(col("label") +: col("n") +: (0 until 8).map(i =>
          round(element_at(col("centroid"), i + 1), 6).as(s"c$i")): _*)
    }),
    "sim_balanced_sample" -> ((s, dir) => Similarity.balancedSampleByHash(
      Tables.embeddings(s, dir), (0 until 10).map(l => l -> (if (l < 5) 0.5 else 1.0)).toMap)),
    "sim_quantize" -> ((s, dir) => Similarity.quantizeInt8(Tables.embeddings(s, dir))),
    // Hampel median/MAD outlier flag on cosine-to-centroid, all
    // integer micros after the sim_centroids rounded projection
    "sim_outliers" -> ((s, dir) => Similarity.robustOutliers(Tables.embeddings(s, dir))),
    // PCA pre-transform ANN: uncentered second-moment eigenbasis
    // (driver Jacobi over one Gram pass), shortlist in 32 of 64
    // dims, exact full-dim re-rank; rows-only for the same
    // float-candidate-set reason as the other ann entries
    "sim_ann_pca" -> ((s, dir) => Similarity.annTopKPcaRerank(
      Tables.embeddings(s, dir), 8, 10)),
    // always-on audit over the maintained labeled store: resolve runs
    // the same robustOutliers, bit-identical to the batch audit
    "stream_outliers" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedOutliers(s, dir)),
    // index training as maintained state: per-batch dim^2 Gram
    // deltas fold into the basis at query time, no corpus re-scan;
    // rows-only for the same float-basis reason as sim_ann_pca
    "stream_ann_pca" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedAnnPca(s, dir)),
    "sim_kmeans" -> ((s, dir) => Similarity.kmeans(Tables.embeddings(s, dir), 16, 3)),
    // Planted-corpus HASH GATES for the ANN rows-only family (the
    // decoded-phash gate pattern): the full seed-draw → Lloyd →
    // assignment → probe → rank trajectory over a fixed orthogonal
    // corpus, pinned integer-for-integer against a plain-Scala local
    // twin embedded in the oracle as VALUES; batch == streamed ==
    // twin under one oracle
    "sim_kmeans_gate" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val emb = Similarity.annPlantedCorpus.toDF("vec_id", "embedding")
      val coarse = Similarity.trainCoarseQuantizer(emb, nCells = 4, iters = 3,
        seedByHash = false)
      Similarity.cellAssign(emb, "vec_id", "embedding", coarse, probes = 1)
        .withColumn("cell_n",
          count(lit(1)).over(Window.partitionBy(col("cell"))))
        .select(col("vec_id"), col("cell"), col("cell_n"))
    }),
    "sim_ann_ivf_gate" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions.col
      val emb = Similarity.annPlantedCorpus.toDF("vec_id", "embedding")
      val coarse = Similarity.trainCoarseQuantizer(emb, nCells = 4)
      Similarity.annTopKIvf(emb, numQueries = 4, k = 5, nCells = 4,
          probes = 2, coarse = Some(coarse))
        .select(col("query_id"), col("corpus_id"), col("rk"))
    }),
    "stream_ann_ivf_gate" -> ((s, dir) =>
      graft.streaming.VectorStreams.streamedAnnIvfGate(s)),
    // Deployed-index shape: the codebook is trained ONCE per corpus
    // (deterministic content-hash-sampled Lloyd) and reused by every
    // later search — the in-JVM analogue of pqSaveCodebook/pqLoadCodebook.
    // A query invocation never retrains; it loads the index and scans
    // codes (8-16 B/vector), which is the entire point of PQ at 100 TB.
    "sim_ann_pq" -> ((s, dir) => Similarity.annTopKPqRerank(
      Tables.embeddings(s, dir), index = Some(pqIndexFor(s, dir)))),
    "sim_ann_ivfpq" -> ((s, dir) => Similarity.annTopKIvfPq(
      Tables.embeddings(s, dir), probes = 13, shortlistFactor = 8,
      index = Some(pqIndexFor(s, dir)), coarse = Some(coarseFor(s, dir)))),
    "sim_ann_ivfpq_res" -> ((s, dir) => Similarity.annTopKIvfPqResidual(
      Tables.embeddings(s, dir), probes = 13, shortlistFactor = 8,
      index = Some(pqResidualIndexFor(s, dir)), coarse = Some(coarseFor(s, dir)))),
    // OPQ: learned orthogonal rotation ahead of PQ (Ge et al. 2013);
    // rows-only -- float-iterated training, recall spec is the oracle;
    // index memoized per corpus (the pqIndexFor train-once pattern)
    "sim_ann_opq" -> ((s, dir) => Similarity.annTopKOpqRerank(
      Tables.embeddings(s, dir), 8, 10, m = 8, ksub = 16, iters = 2,
      index = Some(opqIndexFor(s, dir)))),
    // §2.5 text analysis
    "ta_langid" -> ((s, dir) => TextAnalysis.languageId(Tables.documents(s, dir))),
    // code-switching detector: windowed langPred + gaps-and-islands
    // merge into per-doc language spans
    "ta_lang_spans" -> ((s, dir) => TextAnalysis.langSpans(Tables.documents(s, dir))),
    // stateless streamed face: shards segment at scan speed, spans
    // final on landing
    "stream_lang_spans" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedLangSpans(s, dir)),
    "ta_quality" -> ((s, dir) => TextAnalysis.qualityScore(Tables.documents(s, dir))),
    // Gopher-rule keep/drop verdicts: every flag is a
    // cross-multiplied integer comparison — no float division
    "ta_gopher_flags" -> ((s, dir) => TextAnalysis.gopherFlags(Tables.documents(s, dir))),
    // document-level co-occurrence pair mining, top 20 by
    // (count DESC, w1, w2) — a TakeOrderedAndProject, never a sort
    "ta_cooccur" -> ((s, dir) => TextAnalysis.cooccurrence(Tables.documents(s, dir), 20)),
    // exact integer KS distance between the train/valid word-count
    // distributions — the split-bias pre-flight
    "ta_split_drift" -> ((s, dir) => TextAnalysis.splitDrift(Tables.documents(s, dir))),
    "ta_source_drift" -> ((s, dir) => TextAnalysis.sourceDriftAlarm(Tables.documents(s, dir))),
    "stream_source_drift" -> ((s, dir) => graft.streaming.IngestStreams.streamedSourceDrift(s, dir)),
    "ta_tokens" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),
    // temperature-based source mixing (share^alpha, integer-micros
    // weights before the normalizing sum -- all-integer output)
    "ta_mix_temperature" -> ((s, dir) => TextAnalysis.mixTemperature(Tables.documents(s, dir))),
    // pure-delta streamed face: per-batch per-source count deltas,
    // resolve = exact sum + the shared temperature arithmetic
    "stream_mix" -> ((s, dir) => graft.streaming.IngestStreams.streamedMixTemperature(s, dir)),
    "ta_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir), 8)),
    "ta_split" -> ((s, dir) => TextAnalysis.trainValidSplit(Tables.documents(s, dir))),
    "ta_scrub" -> ((s, dir) => TextAnalysis.scrub(Tables.documents(s, dir))),
    "ta_passages" -> ((s, dir) => TextAnalysis.passages(Tables.documents(s, dir), 20)),
    // RAG chunking: window 20, stride 10 — adjacent chunks overlap by
    // half so no answer span straddles a boundary uncovered
    "ta_chunks" -> ((s, dir) => TextAnalysis.slidingChunks(Tables.documents(s, dir), 20, 10)),
    "ta_pack" -> ((s, dir) => TextAnalysis.packIntoShards(Tables.documents(s, dir), 2000L)),
    // token-EXACT packing: shard budgets count learned-tokenizer
    // (BPE) subwords, composing ta_bpe_encode into ta_pack's sharder
    "ta_pack_bpe" -> ((s, dir) => TextAnalysis.packIntoShardsBpe(Tables.documents(s, dir), 2000L, 12)),
    // fertility-CALIBRATED packing: per-doc cost = letter words x the
    // source's measured fertility (scan-speed estimator; no per-doc
    // BPE segmentation) through the same prefix-sum sharder
    "ta_pack_fertility" -> ((s, dir) => TextAnalysis.packIntoShardsFertility(Tables.documents(s, dir), 2000L, 12)),
    "ta_tfidf" -> ((s, dir) => TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), 3)),
    "ta_contamination" -> ((s, dir) => TextAnalysis.contamination(Tables.documents(s, dir))),
    // maintained audit: late eval shingles retro-flag stored train
    // docs via a bucket-pruned read; hit deltas sum-fold exact-once
    "stream_contamination" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedContamination(s, dir)),
    // per-doc novel-shingle fraction over doc_id order — the
    // memorization/recycled-boilerplate curation signal
    "ta_novelty" -> ((s, dir) => TextAnalysis.noveltyProfile(Tables.documents(s, dir))),
    // its maintained face: per-batch first-occurrence deltas, min-fold
    // resolve (order-free algebra, no range-sharding requirement)
    "stream_novelty" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedNovelty(s, dir)),
    // the removal step after the audit: drop train docs at >= 50%
    // eval-shingle overlap (pre-round integer compare), per-source
    // funnel of what a pretraining run subtracts
    // the capstone funnel: four gate families with precedence, one
    // verdict per train doc, rolled up per source
    "pipeline_scorecard" -> ((s, dir) =>
      Pipeline.curationScorecard(Tables.documents(s, dir))),
    "pipeline_decontaminate" -> ((s, dir) =>
      Pipeline.decontaminate(Tables.documents(s, dir))),
    "ta_langid_eval" -> ((s, dir) => TextAnalysis.languageIdEval(Tables.documents(s, dir))),
    "ta_shuffle" -> ((s, dir) => TextAnalysis.shuffleOrder(Tables.documents(s, dir))),
    "ta_surprisal" -> ((s, dir) => TextAnalysis.surprisal(Tables.documents(s, dir))),
    // fastText-style hashed n-gram quality classifier: driver-trained
    // micros weights, broadcast weight join, exact integer logits
    "ta_quality_clf" -> ((s, dir) => TextAnalysis.qualityClassify(Tables.documents(s, dir))),
    // FineWeb-Edu/DCLM-style curation: keep each source's top-p
    // fraction by classifier RANK (deterministic total order, exact
    // integer p cut) rather than a fixed logit threshold
    "ta_quality_topp" -> ((s, dir) => TextAnalysis.qualityTopP(Tables.documents(s, dir))),
    // incremental scoring + resolve-time global rank: re-curations
    // re-rank without re-paying the scoring pass
    "stream_quality_topp" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedQualityTopP(s, dir)),
    // trains the full-batch model DISTRIBUTED (mapPartitions micros
    // gradients) from the planted corpus each run, then scores; the
    // oracle embeds the LOCAL full-batch twin's weights, so the hash
    // compare pins local/distributed trainer bit-equality end-to-end
    "ta_quality_clf_full" -> ((s, dir) => {
      import s.implicits._
      val model = TextAnalysis.qualityClfTrainDistributed(
        TextAnalysis.clfPlantedCorpus.toDF("text", "label"), 4096)
      TextAnalysis.qualityClassify(Tables.documents(s, dir),
        TextAnalysis.clfMicrosArtifact(model, 4096))
    }),
    // rules-vs-classifier 2x2 agreement matrix: one doc_id join of
    // two per-doc verdicts, one tiny aggregate
    "ta_quality_agreement" -> ((s, dir) => TextAnalysis.qualityAgreement(Tables.documents(s, dir))),
    // stateless streamed scoring: per-batch overwrite dirs + commit
    // markers; shares ta_quality_clf's oracle verbatim
    "stream_quality_clf" -> ((s, dir) => graft.streaming.IngestStreams.streamedQualityClassify(s, dir)),
    // streamed RETRAIN: labeled shards -> accumulated store ->
    // distributed retrain -> score; exact-Long gradients make the
    // result a pure function of the accumulated SET, so it shares
    // ta_quality_clf_full's oracle verbatim
    "stream_quality_retrain" -> ((s, dir) => graft.streaming.IngestStreams.streamedQualityRetrain(s, dir)),
    "stream_quality_hotswap" -> ((s, dir) => graft.streaming.IngestStreams.streamedQualityHotswap(s, dir)),
    "ta_repetition" -> ((s, dir) => TextAnalysis.repetitionStats(Tables.documents(s, dir))),
    "ta_source_cap" -> ((s, dir) => TextAnalysis.sourceCap(Tables.documents(s, dir), 15)),
    "ta_ngram_lm" -> ((s, dir) => TextAnalysis.ngramLmCounts(Tables.documents(s, dir), 2, 100)),
    // held-out bigram surprisal with stupid backoff: counts from the
    // train split, scoring over the valid split (live backoff paths)
    "ta_surprisal2" -> ((s, dir) => TextAnalysis.surprisalBigram(Tables.documents(s, dir))),
    // the same ladder at trigram order, backoff chaining 0.4 -> 0.16
    "ta_surprisal3" -> ((s, dir) => TextAnalysis.surprisalTrigram(Tables.documents(s, dir))),
    // distributed BPE merge learning: 12 rounds over the vocabulary
    // table; the oracle re-learns the table with a window-parity
    // merge application instead of the fold — rank-for-rank exact
    "ta_bpe_merges" -> ((s, dir) => TextAnalysis.bpeMerges(Tables.documents(s, dir), 12)),
    // the learned subword vocabulary with corpus frequencies — the
    // tokenizer's other artifact, from the same 12 learned merges
    "ta_bpe_vocab" -> ((s, dir) => TextAnalysis.bpeVocab(Tables.documents(s, dir), 12)),
    // vocab-size stopping rule: learn merges until |vocab| >= 30
    // (capped at 12 rounds) — how tokenizers are actually sized
    "ta_bpe_vocab_until" -> ((s, dir) => TextAnalysis.bpeVocabUntil(Tables.documents(s, dir), 30L, 12)),
    // the encode face: per-doc subword counts under the learned
    // merges — the context-budget number a packer actually needs
    "ta_bpe_encode" -> ((s, dir) => TextAnalysis.bpeEncode(Tables.documents(s, dir), 12)),
    // per-source tokenizer fertility under the learned BPE: subwords
    // per word + chars per subword, integer ppm
    "ta_fertility" -> ((s, dir) => TextAnalysis.tokenizerFertility(Tables.documents(s, dir), 12)),
    "ta_bm25" -> ((s, dir) => TextAnalysis.bm25TopK(
      Tables.documents(s, dir), Seq("spark", "window", "vector"), 20)),
    // exact positional phrase query: scan filter to the phrase terms,
    // L-1 shifted equi-joins on (doc_id, pos - offset)
    "ta_phrase_search" -> ((s, dir) => TextAnalysis.phraseSearch(
      Tables.documents(s, dir), Seq("fast", "table"))),
    // the same maintained index 33m' builds serves the phrase query
    // from stored position arrays — pruned buckets, shared core
    "stream_phrase_search" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedPhraseSearch(
        s, dir, Seq("fast", "table"))),
    // maintained inverted index: shards land as bucket-partitioned
    // posting deltas; the query is a pruned read of its terms'
    // buckets + the shared bm25ScorePostings core
    "stream_bm25" -> ((s, dir) => graft.streaming.IngestStreams.streamedBm25(
      s, dir, Seq("spark", "window", "vector"), 20)),
    // hybrid retrieval: BM25 lexical arm + dense cosine arm fused by
    // reciprocal-rank fusion — integer floor-division fusion over two
    // gate-proven rankings, so the hybrid hash-checks end-to-end
    "ta_hybrid_rrf" -> ((s, dir) => TextAnalysis.hybridRrf(
      Tables.documents(s, dir), Tables.embeddings(s, dir),
      Seq("spark", "window", "vector"), 20)),
    // both arms over MAINTAINED stores: pruned-bucket BM25 resolve +
    // brute-force cosine over the streamed vector store, shared fuse
    "stream_hybrid_rrf" -> ((s, dir) => graft.streaming.IngestStreams.streamedHybridRrf(
      s, dir, Seq("spark", "window", "vector"), 20)),
    "ta_weighted_sample" -> ((s, dir) => TextAnalysis.weightedSample(Tables.documents(s, dir), 50)),
    // maintained weighted reservoir: k-bounded per-batch deltas,
    // resolve = top-k fold — bit-identical to the batch sample
    "stream_weighted_sample" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedWeightedSample(s, dir, 50)),
    // DSIR: hashed-ngram importance weights of every pool doc against
    // the src0 target slice (integer micros, one bucket aggregate +
    // one scalar-totals broadcast), then Gumbel-top-k resampling
    // with md5-seeded noise — both ends hash-exact in SQL
    "ta_dsir_weights" -> ((s, dir) => TextAnalysis.dsirWeights(Tables.documents(s, dir))),
    "ta_dsir_sample" -> ((s, dir) => TextAnalysis.dsirSample(Tables.documents(s, dir), 64)),
    // lambda-drift alarm between the even/odd doc windows: the
    // retrain trigger for the frozen DSIR artifact, all-integer
    "ta_dsir_drift" -> ((s, dir) => TextAnalysis.dsirDrift(Tables.documents(s, dir))),
    // frozen-artifact streamed DSIR scoring: train the lambda table
    // once, score arriving pool shards statelessly -- drained table
    // == batch weights, oracle shared verbatim
    "stream_dsir" -> ((s, dir) => graft.streaming.IngestStreams.streamedDsirScore(s, dir)),
    // §2.6 multimodal
    "mm_metadata" -> ((s, dir) => Multimodal.metadata(Tables.documents(s, dir))),
    "mm_features" -> ((s, dir) => Multimodal.featureCounts(Tables.documents(s, dir), 16)),
    "mm_frames" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // frames projected to driver-hashable scalars (md5 + length)
      Multimodal.frameSample(Tables.documents(s, dir), 32, 4)
        .select(col("doc_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"),
          octet_length(col("frame")).cast("long").as("n_bytes"))
    }),
    "mm_phash_dedup" -> ((s, dir) => Multimodal.phashSummary(Tables.documents(s, dir))),
    // the REAL-decoder twin: render docs into real PNGs, ImageIO
    // decode, DCT phash, same banded near-dup machinery (rows-gated:
    // DCT doubles aren't DuckDB-replayable)
    "mm_phash_decoded" -> ((s, dir) =>
      Multimodal.phashSummaryDecoded(Tables.documents(s, dir))),
    // its maintained twin: PNG payloads arrive as binary, the
    // ImageIO+DCT band function drops into the same phash state
    // machinery (rows-gated, same DCT-double reason)
    "stream_phash_decoded" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedPhashDecoded(s, dir)),
    // the decoded path's HASH GATE (the ta_quality_clf_full
    // local/distributed pattern): the full distributed render →
    // ImageIO decode → DCT → band → df-cap → near-dup pipeline over
    // the fixed planted corpus, pinned hash-exact against the
    // plain-Scala local twin embedded in the oracle as VALUES — the
    // integer-summary gate the rows-only DCT entries were missing
    "mm_phash_decoded_gate" -> ((s, dir) => {
      import s.implicits._
      Multimodal.phashSummaryDecoded(
        Multimodal.phashPlantedCorpus.toDF("doc_id", "text"))
    }),
    // the maintained twin over the same planted corpus: two-batch
    // ingest, cumulative-df cap, resolve — must land on the SAME
    // local-twin summary (streamed == batch == twin, one oracle)
    "stream_phash_decoded_gate" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.IngestStreams.streamedPhashDecodedDocs(s,
        Multimodal.phashPlantedCorpus.toDF("doc_id", "text"))
    }),
    // CLIP-style caption↔media pair audit: per-source matched /
    // conflict / orphan counts in deterministic fingerprint space
    "mm_pair_audit" -> ((s, dir) => Multimodal.pairAudit(Tables.documents(s, dir))),
    // its always-on ingest face: pairs resolve the batch their second
    // side arrives (retro-resolution), unresolved pendings are the
    // orphans — converges to the batch audit, same oracle
    "stream_pair_audit" -> ((s, dir) =>
      graft.streaming.IngestStreams.streamedPairAudit(s, dir)),
    // ViT-style patch schedule: pure projection + bounded explodes,
    // clipped edge tiles, zero shuffles
    "mm_tiles" -> ((s, dir) => Multimodal.tilePlan(Tables.documents(s, dir), 8)),
    // streamed media near-dup maintenance (the minhash ingest
    // story's aHash twin); resolves the batch summary shape
    "stream_phash_dedup" -> ((s, dir) => graft.streaming.IngestStreams.streamedPhashDedup(s, dir)),
    // §2.10 sketch / synopsis operators
    "q_heavy_hitters" -> ((s, dir) => Sketches.heavyHitters(Tables.documents(s, dir), 10, 512)),
    "q_bloom_semi_join" -> ((s, dir) => Sketches.bloomPrunedOrderItems(
      Tables.lineitem(s, dir), Tables.orders(s, dir))),
    "q_approx_distinct_hll" -> ((s, dir) => Sketches.hllDistinctUsers(Tables.events(s, dir))),
    "q_quantile_sketch" -> ((s, dir) => Sketches.quantileSketch(Tables.documents(s, dir))),
    "q_kll_sketch" -> ((s, dir) => Sketches.kllQuantiles(Tables.documents(s, dir))),
    "stream_kll" -> ((s, dir) => graft.streaming.IngestStreams.streamedKllQuantiles(s, dir)),
    "q_kll_audit" -> ((s, dir) => Sketches.kllBoundAudit(
      Sketches.kllQuantiles(Tables.documents(s, dir)))),
    "stream_kll_audit" -> ((s, dir) => Sketches.kllBoundAudit(
      graft.streaming.IngestStreams.streamedKllQuantiles(s, dir))),
    "q_join_size_est" -> ((s, dir) => Sketches.cmsJoinSizeEstimate(
      Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey")),
    "q_count_min" -> ((s, dir) => Sketches.countMinWordFreq(
      Tables.documents(s, dir), Seq("hash", "join", "scan", "graftabsent"))),
    "q_theta_sketch" -> ((s, dir) => Sketches.thetaUserOverlap(Tables.events(s, dir))),
    // §2.7 streaming
    "stream_window_counts" -> ((s, dir) => graft.streaming.EventStreams.windowCounts(s, dir)),
    "stream_hourly_topk" -> ((s, dir) => graft.streaming.EventStreams.hourlyTopK(s, dir, 3)),
    "stream_anomaly" -> ((s, dir) => graft.streaming.EventStreams.anomalousHours(s, dir, 8)),
    "stream_count_min" -> ((s, dir) => graft.streaming.EventStreams.hourlyCountMin(s, dir)),
    "stream_quantile" -> ((s, dir) => graft.streaming.EventStreams.hourlyQuantile(s, dir)),
    "stream_theta" -> ((s, dir) => graft.streaming.EventStreams.hourlyTheta(s, dir)),
    "stream_theta_window" -> ((s, dir) =>
      graft.streaming.EventStreams.hourlyThetaWindow(s, dir, windowHours = 3)),
    // the DAILY horizon (w=24) — the events fixture spans ~720 hours,
    // so day-over-hour churn is a real question there; same drain,
    // same algebra, second oracle point for the window rule
    "stream_theta_window_day" -> ((s, dir) =>
      graft.streaming.EventStreams.hourlyThetaWindow(s, dir, windowHours = 24)),
    "stream_dedup" -> ((s, dir) => graft.streaming.EventStreams.dedupCounts(s, dir)),
    // streamed URL-level dedup: pure per-batch deltas, order-
    // independent merge-on-read resolve -- shares dedup_url's oracle
    "stream_url_dedup" -> ((s, dir) => graft.streaming.IngestStreams.streamedUrlDedup(s, dir)),
    "stream_line_dedup" -> ((s, dir) => graft.streaming.IngestStreams.streamedLineDedup(s, dir)),
    "stream_funnel" -> ((s, dir) => graft.streaming.EventStreams.streamFunnel(s, dir)),
    "stream_retention" -> ((s, dir) => graft.streaming.EventStreams.streamRetention(s, dir)),
    "stream_source_cap" -> ((s, dir) => graft.streaming.EventStreams.streamSourceCap(s, dir, 15)),
    "stream_hopping_window" -> ((s, dir) => graft.streaming.EventStreams.hoppingWindowCounts(s, dir)),
    "stream_sessionize" -> ((s, dir) => graft.streaming.EventStreams.sessionizeStateful(s, dir)),
    "stream_interval_join" -> ((s, dir) => graft.streaming.EventStreams.intervalJoin(s, dir)),
    "stream_interval_join_outer" -> ((s, dir) => graft.streaming.EventStreams.intervalJoinOuter(s, dir)),
    // LEFT SEMI face: which clicks converted — each click emits at
    // most once on its first in-window purchase; no row
    // multiplication, no post-join dedup shuffle
    "stream_interval_join_semi" -> ((s, dir) => graft.streaming.EventStreams.intervalJoinSemi(s, dir)),
    // FULL OUTER face: inner matches plus both unmatched sides, each
    // emitted once at its own watermark-eviction horizon (left:
    // wm > left_ts + Δ; right: wm > right_ts) — −1 sentinels
    "stream_interval_join_full" -> ((s, dir) => graft.streaming.EventStreams.intervalJoinFull(s, dir)),
    "stream_enrich" -> ((s, dir) => graft.streaming.EventStreams.enrichCounts(s, dir)),
    "stream_snapshot_diff" -> ((s, dir) => graft.streaming.IngestStreams.streamedSnapshotDiff(s, dir)),
    "stream_cc" -> ((s, dir) => graft.streaming.GraphStreams.streamedComponents(s, dir)),
    // incremental BFS maintenance; final state ≡ batch bfsHops over
    // the union, so it shares q_bfs's recursive-CTE oracle verbatim
    "stream_bfs" -> ((s, dir) => graft.streaming.GraphStreams.streamedBfs(s, dir)),
    // weighted sibling: dynamic relaxation over the multiplicity-
    // weighted edges; shares q_sssp's relax-ladder oracle verbatim
    "stream_sssp" -> ((s, dir) => graft.streaming.GraphStreams.streamedSssp(s, dir)),
    // multi-source BFS maintenance, histogram + harmonic resolves:
    // source ELECTION per batch (late smaller ids join the set, a
    // fresh seed relaxes to fixpoint); both share batch oracles
    "stream_bfs_histogram" -> ((s, dir) => graft.streaming.GraphStreams.streamedBfsHistogram(s, dir)),
    "stream_harmonic" -> ((s, dir) => graft.streaming.GraphStreams.streamedHarmonic(s, dir)),
    // O(1)-per-user carry: each event emits one step against the
    // user's last event; counts ≡ batch q_transitions (shared oracle)
    "stream_transitions" -> ((s, dir) => graft.streaming.EventStreams.transitionsStateful(s, dir)),
    // flagship composition
    "pipeline_clean_corpus" -> ((s, dir) => Pipeline.cleanCorpus(Tables.documents(s, dir))),
    "pipeline_pretrain_mix" -> ((s, dir) => Pipeline.pretrainMix(Tables.documents(s, dir))),
    // per-source budget audit through the gopher gate + exact dedup —
    // the table a mix design reads before setting source weights
    "pipeline_quality_audit" -> ((s, dir) => Pipeline.qualityDedupAudit(Tables.documents(s, dir))),
    // the multimodal capstone: alignment-verified pairs minus phash
    // near-dup losers — the CLIP-corpus cleaning composition
    "pipeline_mm_clean" -> ((s, dir) => Pipeline.mmCleanCorpus(Tables.documents(s, dir))),
    // streamed ingest face: range-sharded batches + maintained
    // kept-hash store converge to the batch audit (shared oracle)
    "stream_quality_audit" -> ((s, dir) => graft.streaming.IngestStreams.streamedQualityAudit(s, dir))
  )

  /** Shared CTE block producing verified n-gram Jaccard pairs `jp`
    * (doc_a, doc_b, jaccard) — the SQL twin of
    * `Dedup.ngramJaccard(documents, 3, 0.2)`, defined ONCE so the
    * pair-set and components oracles can never drift apart. The
    * `keep`/`capped` CTEs mirror the operator's maxShingleDf=100
    * candidate cap, so the oracle pins the CAPPED semantics even on
    * data whose max shingle df exceeds the cap.
    *
    * The multi-referenced members (`sh` ×3, `cnt` ×2, `capped` ×2,
    * `jp` ×2+, and downstream `edges`/`c0`) are MATERIALIZED: DuckDB
    * inlines plain CTEs per reference (the q_kcore §2 lesson), so
    * without the hint the bounded 6-round ladder re-evaluated the
    * whole shingle→pair pipeline once per round — measured at sf1 as
    * a >35 GB spill on `dedup_apply_bounded` before the hint vs a
    * single pipeline pass after. MATERIALIZED is an evaluation hint
    * only; results are identical at every scale.
    */
  private val NgramPairsCte: String =
    """norm AS (
      |  SELECT doc_id, regexp_split_to_array(
      |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(ws[i:i+2], ' ') FOR i IN generate_series(1, greatest(len(ws)-2, 1))]
      |  )) AS shingle FROM norm),
      |cnt AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
      |capped AS MATERIALIZED (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jp AS MATERIALIZED (
      |  SELECT doc_a, doc_b,
      |    round(CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
      |  FROM pairs
      |  JOIN cnt ca ON ca.doc_id = doc_a
      |  JOIN cnt cb ON cb.doc_id = doc_b
      |  WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.2)""".stripMargin

  /** The 10 unrolled integer-PageRank rounds as chained CTEs pr1..pr10
    * (standard SQL forbids aggregation inside a recursive term, so the
    * fixed iteration count unrolls instead). Each round is the SQL
    * twin of one `pagerankMicros` update: all operands positive, so
    * DuckDB's floor `//` equals Spark's truncating `div`, and
    * sum(BIGINT) widening to HUGEINT only adds headroom — bit-exact
    * either way.
    */
  /** `rounds` unrolled BPE rounds for the ta_bpe_merges oracle. Each
    * round: adjacent-pair counts with lead(), arg-max by (count desc,
    * pair asc), then merge application via the run-parity trick —
    * leftmost-greedy non-overlapping selection equals "within each
    * maximal run of consecutive candidate positions, keep the even
    * offsets from the run start". A genuinely different algorithm
    * from the Scala side's aggregate() fold, agreeing symbol-for-
    * symbol; an exhausted round (no pairs left) yields an empty b$i
    * and passes the segmentation through unchanged, matching the
    * Scala early stop.
    */
  /** The full 12-round BPE learn + per-doc encode as a CTE chain
    * ending in `encdoc(doc_id, n_words, n_subwords)` — shared by
    * `ta_bpe_encode` and the `ta_fertility` roll-up. */
  private lazy val BpeEncodeCtes: String =
    s"""wc AS MATERIALIZED (
      |  SELECT word, count(*) AS cnt FROM (
      |    SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |s0 AS MATERIALIZED (
      |  SELECT word, cnt, i AS pos, substr(word, CAST(i AS INT), 1) AS sym FROM (
      |    SELECT word, cnt, unnest(generate_series(1, length(word))) AS i FROM wc)),
      |${BpeRoundCtes(12)},
      |sz AS (SELECT word, count(*) AS n_sub FROM s12 GROUP BY word),
      |toks AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
      |    FROM documents)
      |  WHERE word <> ''),
      |encdoc AS (
      |  SELECT doc_id, count(*) AS n_words, CAST(sum(n_sub) AS BIGINT) AS n_subwords
      |  FROM toks JOIN sz USING (word) GROUP BY doc_id)""".stripMargin

  private def BpeRoundCtes(rounds: Int): String = (1 to rounds).map { i =>
    // MATERIALIZED throughout: DuckDB inlines plain CTEs per
    // reference (the q_kcore oracle lesson) — pr/b are each read
    // twice per round, so an un-materialized 12-round chain re-plans
    // the base scan exponentially (observed as fd exhaustion)
    s"""pr$i AS MATERIALIZED (
       |  SELECT word, cnt, pos, sym,
       |    lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM s${i - 1}),
       |b$i AS MATERIALIZED (SELECT sym AS l, nxt AS r, CAST(sum(cnt) AS BIGINT) AS c
       |  FROM pr$i WHERE nxt IS NOT NULL GROUP BY 1, 2
       |  ORDER BY c DESC, l, r LIMIT 1),
       |ca$i AS MATERIALIZED (SELECT word, cnt, pos, sym, nxt,
       |    CASE WHEN sym = (SELECT l FROM b$i) AND nxt = (SELECT r FROM b$i)
       |         THEN 1 ELSE 0 END AS cand
       |  FROM pr$i),
       |mk$i AS MATERIALIZED (SELECT word, cnt, pos, sym, nxt, cand,
       |    CASE WHEN cand = 1 AND coalesce(lag(cand) OVER (PARTITION BY word ORDER BY pos), 0) = 0
       |         THEN pos END AS marker
       |  FROM ca$i),
       |rs$i AS MATERIALIZED (SELECT word, cnt, pos, sym, nxt, cand,
       |    max(marker) OVER (PARTITION BY word ORDER BY pos) AS run_start
       |  FROM mk$i),
       |sel$i AS MATERIALIZED (SELECT word, cnt, pos, sym, nxt,
       |    CASE WHEN cand = 1 AND (pos - run_start) % 2 = 0 THEN 1 ELSE 0 END AS sel
       |  FROM rs$i),
       |ps$i AS MATERIALIZED (SELECT word, cnt, pos, sym, nxt, sel,
       |    coalesce(lag(sel) OVER (PARTITION BY word ORDER BY pos), 0) AS prev_sel
       |  FROM sel$i),
       |s$i AS MATERIALIZED (SELECT word, cnt,
       |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
       |    CASE WHEN sel = 1 THEN sym || nxt ELSE sym END AS sym
       |  FROM ps$i WHERE prev_sel = 0)""".stripMargin
  }.mkString(",\n")

  private val PagerankRoundCtes: String = (1 to 10).map { i =>
    s"""pr$i AS (
       |  SELECT e.b AS doc_id, 150000 + (85 * sum(p.pr // d.deg)) // 100 AS pr
       |  FROM edges e JOIN pr${i - 1} p ON e.a = p.doc_id
       |  JOIN deg d ON d.doc_id = e.a
       |  GROUP BY e.b)""".stripMargin
  }.mkString(",\n")

  /** 20 unrolled Bellman-Ford relax rounds as chained CTEs — the
    * KcoreRoundCtes philosophy: each round min-aggregates the prior
    * distance table with its one-hop relaxations over the weighted
    * adjacency `wund`; rounds past the fixpoint are no-ops on both
    * sides, so this matches the Spark delta-relaxing frontier exactly
    * whether or not it converges within the shared 20-round budget.
    * MATERIALIZED for the same reason as the k-core ladder (each
    * round references its predecessor twice).
    */
  private val SsspRoundCtes: String = (1 to 20).map { i =>
    s"""s$i AS MATERIALIZED (
       |  SELECT node, min(dist) AS dist FROM (
       |    SELECT node, dist FROM s${i - 1}
       |    UNION ALL
       |    SELECT e.b, s.dist + e.w FROM s${i - 1} s JOIN wund e ON e.a = s.node)
       |  GROUP BY node)""".stripMargin
  }.mkString(",\n")

  /** 4 unrolled k-truss support-peel rounds (k=4 ⇒ support ≥ 2):
    * per round, enumerate triangles on the surviving edges with the
    * orientation-free a&lt;b&lt;c three-way join (every edge canonical
    * u&lt;v, so a triangle is (a,b),(b,c),(a,c)), unpivot each
    * triangle into its three edges, count support per edge, keep
    * edges at ≥ k−2. Rounds past the fixpoint are no-ops on both
    * sides (the q_kcore ladder philosophy).
    */
  private val KtrussRoundCtes: String = (1 to 4).map { i =>
    s"""tt$i AS MATERIALIZED (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM te${i - 1} e1 JOIN te${i - 1} e2 ON e2.u = e1.v
       |  JOIN te${i - 1} e3 ON e3.u = e1.u AND e3.v = e2.v),
       |sup$i AS MATERIALIZED (
       |  SELECT u, v, count(*) AS s FROM (
       |    SELECT a AS u, b AS v FROM tt$i
       |    UNION ALL SELECT b, c FROM tt$i
       |    UNION ALL SELECT a, c FROM tt$i) GROUP BY u, v),
       |te$i AS MATERIALIZED (
       |  SELECT e.u, e.v FROM te${i - 1} e
       |  JOIN sup$i s ON s.u = e.u AND s.v = e.v WHERE s.s >= 2)""".stripMargin
  }.mkString(",\n")

  /** 5 unrolled synchronous label-propagation rounds: per round,
    * count neighbor labels per node and keep the (count DESC, label
    * ASC) winner — the exact arg-max-by-(c, −label) the Spark side
    * aggregates. Fixed budget on both sides makes a
    * possibly-unstabilized propagation deterministic.
    */
  private val LabelPropRoundCtes: String = (1 to 5).map { i =>
    s"""lp$i AS MATERIALIZED (
       |  SELECT node, label FROM (
       |    SELECT e.b AS node, l.label, count(*) AS c,
       |      row_number() OVER (PARTITION BY e.b
       |        ORDER BY count(*) DESC, l.label) AS rn
       |    FROM lp${i - 1} l JOIN und e ON e.a = l.node
       |    GROUP BY e.b, l.label) t WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  /** The weighted-SSSP relax-ladder oracle — shared verbatim by the
    * batch entry and its streaming maintenance face. */
  private val SsspSql: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |we AS MATERIALIZED (SELECT a.p AS u, b.p AS v, 10 - LEAST(9, count(*)) AS w
      |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p),
      |wund AS MATERIALIZED (SELECT u AS a, v AS b, w FROM we UNION ALL SELECT v, u, w FROM we),
      |s0 AS MATERIALIZED (SELECT min(a) AS node, CAST(0 AS BIGINT) AS dist
      |     FROM wund HAVING min(a) IS NOT NULL),
      |$SsspRoundCtes
      |SELECT node, dist FROM s20""".stripMargin

  /** The MST-summary identity in SQL — shared verbatim by the batch
    * entry and its streamed forest-maintenance face. */
  private lazy val MstSummarySql: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |we AS MATERIALIZED (SELECT a.p AS u, b.p AS v, 10 - LEAST(9, count(*)) AS w
      |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY a.p, b.p),
      |wund AS MATERIALIZED (SELECT u AS a, v AS b, w FROM we UNION ALL SELECT v, u, w FROM we),
      |nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM wund),
      |ts AS MATERIALIZED (SELECT CAST(unnest(generate_series(1, 9)) AS BIGINT) AS t),
      |l0 AS MATERIALIZED (SELECT ts.t, n.node, n.node AS lab FROM nodes n CROSS JOIN ts),
      |$MstLabelRounds,
      |c AS MATERIALIZED (SELECT t, count(DISTINCT lab) AS c FROM l16 GROUP BY t),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |cf AS (SELECT c AS cfull FROM c WHERE t = 9)
      |-- LEFT JOIN + COALESCE, not a cross join: on an EMPTY edge set
      |-- cf has zero rows and the cross join would return zero rows
      |-- where the operator returns one (0, 0, 0) row — the degenerate
      |-- shapes must agree even though the fixture is never empty
      |SELECT CAST(nn.n - COALESCE(cf.cfull, 0) AS BIGINT) AS n_edges,
      |  CAST((nn.n - COALESCE(cf.cfull, 0))
      |    + COALESCE((SELECT sum(c) FROM c WHERE t <= 8), 0)
      |    - 8 * COALESCE(cf.cfull, 0) AS BIGINT) AS total_weight,
      |  CAST(COALESCE(cf.cfull, 0) AS BIGINT) AS n_components
      |FROM nn LEFT JOIN cf ON TRUE""".stripMargin

  /** The gaps-and-islands coverage sweep in SQL — shared verbatim by
    * the batch entry and its streamed island-maintenance face. */
  private val IntervalCoverageSql: String =
    """WITH iv AS (
      |  SELECT l_partkey AS k,
      |    CAST(datediff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS s,
      |    CAST(datediff('day', DATE '1992-01-01', l_shipdate)
      |      + 1 + (CAST(l_quantity AS BIGINT) % 14) AS BIGINT) AS e
      |  FROM lineitem),
      |f AS (
      |  SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |  FROM iv),
      |g AS (
      |  SELECT k, s, e,
      |    CASE WHEN prev_max IS NULL OR s > prev_max + 1 THEN 1 ELSE 0 END AS ni
      |  FROM f),
      |h AS (
      |  SELECT k, s, e, sum(ni) OVER (PARTITION BY k ORDER BY s, e
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM g),
      |pi AS (
      |  SELECT k, island, min(s) AS i_s, max(e) AS i_e, count(*) AS n
      |  FROM h GROUP BY 1, 2)
      |SELECT k AS part_id,
      |  CAST(sum(n) AS BIGINT) AS n_intervals,
      |  CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(i_e - i_s + 1) AS BIGINT) AS covered_days,
      |  CAST(max(i_e) - min(i_s) + 1 AS BIGINT) AS span_days,
      |  CAST(sum(i_e - i_s + 1) * 1000000 // (max(i_e) - min(i_s) + 1) AS BIGINT) AS utilization_ppm
      |FROM pi GROUP BY k""".stripMargin

  /** The condensation + longest-path-ladder oracle — shared verbatim
    * by `q_topo_layers` and its streamed resolve face
    * `stream_topo_layers` (same md5-sampled fixture). */
  private lazy val TopoLayersSql: String =
    s"""WITH RECURSIVE li AS (
      |  SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p FROM lineitem),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM li a JOIN li b ON a.o = b.o AND b.ln = a.ln + 1 WHERE a.p <> b.p),
      |e AS MATERIALIZED (SELECT u, v FROM e0
      |  WHERE substr(md5('scc:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4) < '2666'),
      |n AS MATERIALIZED (SELECT DISTINCT node FROM
      |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)),
      |reach(s, t) AS (
      |  SELECT u, v FROM e
      |  UNION
      |  SELECT r.s, e.v FROM reach r JOIN e ON e.u = r.t),
      |mutual AS MATERIALIZED (
      |  SELECT r1.s AS a, r1.t AS b FROM reach r1
      |  JOIN reach r2 ON r2.s = r1.t AND r2.t = r1.s),
      |mm AS (SELECT a, min(b) AS mb FROM mutual GROUP BY a),
      |lab AS MATERIALIZED (
      |  SELECT node, least(node, coalesce(mm.mb, node)) AS lab
      |  FROM n LEFT JOIN mm ON mm.a = n.node),
      |cond AS MATERIALIZED (
      |  SELECT DISTINCT lu.lab AS u, lv.lab AS v
      |  FROM e JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v
      |  WHERE lu.lab <> lv.lab),
      |t0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS BIGINT) AS lvl FROM
      |  (SELECT u AS node FROM cond UNION ALL SELECT v FROM cond)),
      |$TopoRoundCtes
      |SELECT node AS scc, CAST(lvl AS BIGINT) AS depth FROM t14""".stripMargin

  /** 14 unrolled longest-path rounds — the q_topo_layers oracle:
    * depth(v) = max over in-edges of depth(u) + 1, iterated to
    * fixpoint (measured depth 8 / 9 rounds at sf0.01; rounds past
    * the fixpoint are no-ops). */
  private val TopoRoundCtes: String = (1 to 14).map { i =>
    s"""t$i AS MATERIALIZED (
       |  SELECT l.node, GREATEST(l.lvl, COALESCE(m.mx, l.lvl)) AS lvl
       |  FROM t${i - 1} l LEFT JOIN (
       |    SELECT c.v AS node, max(l2.lvl + 1) AS mx
       |    FROM t${i - 1} l2 JOIN cond c ON c.u = l2.node
       |    GROUP BY c.v) m ON m.node = l.node)""".stripMargin
  }.mkString(",\n")

  /** 16 unrolled min-label rounds over the (threshold, node) plane —
    * the q_mst_summary oracle's per-threshold component counter:
    * threshold t keeps edges with w ≤ t, and one chained flood
    * handles all nine thresholds at once because t rides along as a
    * grouping column. Converges in 11 rounds at sf0.01 (measured);
    * rounds past the fixpoint are no-ops.
    */
  private val MstLabelRounds: String = (1 to 16).map { i =>
    s"""l$i AS MATERIALIZED (
       |  SELECT l.t, l.node, LEAST(l.lab, COALESCE(m.mn, l.lab)) AS lab
       |  FROM l${i - 1} l LEFT JOIN (
       |    SELECT l2.t, e.b AS node, min(l2.lab) AS mn
       |    FROM l${i - 1} l2 JOIN wund e ON e.a = l2.node AND e.w <= l2.t
       |    GROUP BY l2.t, e.b) m ON m.t = l.t AND m.node = l.node)""".stripMargin
  }.mkString(",\n")

  /** 8 unrolled k-core peel rounds (k=70) as chained CTEs — the
    * PagerankRoundCtes pattern: each round recomputes degrees over
    * the surviving edges and drops sub-k nodes. Rounds past the
    * fixpoint are no-ops, so this matches the Spark peeler exactly
    * whether or not the cascade converges within the budget.
    */
  private val KcoreRoundCtes: String = (1 to 8).map { i =>
    // MATERIALIZED: DuckDB inlines plain CTEs per reference, and each
    // round references its predecessor 3 times — un-materialized, the
    // 8-round chain re-plans e0 O(3^8) times (observed as a
    // too-many-open-files explosion on the lineitem scan)
    s"""d$i AS MATERIALIZED (SELECT n, count(*) AS d FROM (
       |  SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1}) GROUP BY n),
       |k$i AS MATERIALIZED (SELECT n FROM d$i WHERE d >= 70),
       |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
       |  WHERE u IN (SELECT n FROM k$i) AND v IN (SELECT n FROM k$i))""".stripMargin
  }.mkString(",\n")

  /** 8 unrolled SKETCH-peeled k-core rounds: per round, the count-min
    * matrix over edge endpoints (the q_count_min cell hash), each
    * node's estimate = min over sketch rows of its cell, filter both
    * endpoints ≥ k. Reproduces [[graft.operators.Graph.kCoreApprox]]
    * estimate-for-estimate — collisions and all. The per-round WIDTH
    * is RE-DERIVED from the surviving edge count (w$i): the smallest
    * power of two ≥ 4 × the 2·edges endpoint bound, clamped to
    * [512, 8192] — the exact [[graft.operators.Graph.adaptiveWidth]]
    * ladder, so the adaptive shrink reproduces bit-for-bit including
    * the extra collisions a narrower late-round sketch takes.
    */
  private val KcoreApproxRoundCtes: String = kcoreApproxRoundCtes(70)

  // The per-round width `w` rides along as a CROSS JOIN against the
  // one-row w$i table so the cms/est cell expressions are computed in
  // PROJECTIONS and the est-join keys are plain columns. The previous
  // form embedded `(SELECT w FROM w$i)` inside the JOIN condition,
  // which DuckDB cannot hash-join on — it fell back to a blockwise
  // nested-loop join costing O(nodes × depth × depth·width) md5
  // evaluations PER ROUND (found when q_kcore_approx_sample, whose
  // k=14 peel keeps the graph populated through all 8 rounds, ground
  // for >10 min at sf0.01 while the k=70 variant hid the cost by
  // emptying the graph after round 1).
  private def kcoreApproxRoundCtes(k: Int): String = (1 to 8).map { i =>
    s"""w$i AS MATERIALIZED (
       |  SELECT CASE WHEN need <= 512 THEN 512 WHEN need <= 1024 THEN 1024
       |              WHEN need <= 2048 THEN 2048 WHEN need <= 4096 THEN 4096
       |              ELSE 8192 END AS w
       |  FROM (SELECT 8 * count(*) AS need FROM ae${i - 1})),
       |cms$i AS MATERIALIZED (
       |  SELECT r.j,
       |    ('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' || CAST(n AS VARCHAR)), 1, 12))::BIGINT % wi.w AS cell,
       |    count(*) AS c
       |  FROM (SELECT u AS n FROM ae${i - 1} UNION ALL SELECT v FROM ae${i - 1}) CROSS JOIN rows_ r CROSS JOIN w$i wi
       |  GROUP BY 1, 2),
       |est$i AS MATERIALIZED (
       |  SELECT nd.n, min(c.c) AS est
       |  FROM (
       |    SELECT nodes.n, r.j,
       |      ('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' || CAST(nodes.n AS VARCHAR)), 1, 12))::BIGINT % wi.w AS cell
       |    FROM (SELECT DISTINCT u AS n FROM ae${i - 1} UNION SELECT DISTINCT v AS n FROM ae${i - 1}) nodes
       |    CROSS JOIN rows_ r CROSS JOIN w$i wi) nd
       |  JOIN cms$i c ON c.j = nd.j AND c.cell = nd.cell
       |  GROUP BY nd.n),
       |ae$i AS MATERIALIZED (
       |  SELECT e.u, e.v FROM ae${i - 1} e
       |  JOIN est$i a ON a.n = e.u
       |  JOIN est$i b ON b.n = e.v
       |  WHERE a.est >= $k AND b.est >= $k)""".stripMargin
  }.mkString(",\n")

  /** The sliding-horizon theta oracle at window width `w` — shared by
    * the 3-hour and 24-hour entries ([[graft.streaming.EventStreams
    * .hourlyThetaWindow]]): per-hour KMV sketches, a window sketch
    * over hours [h−w, h−1] rebuilt from RAW hashes (equal to the
    * union of the hourly truncated sketches — the KMV union
    * property), and the floor-division retained/new/churned algebra.
    */
  private def thetaWindowOracle(w: Int): String =
    s"""WITH hv AS (
       |  SELECT DISTINCT epoch_ns(ts) // 3600000000000 AS h,
       |    ('0x' || substr(md5('th:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hvv
       |  FROM events),
       |r AS (SELECT h, hvv,
       |    row_number() OVER (PARTITION BY h ORDER BY hvv) AS rn,
       |    count(*) OVER (PARTITION BY h) AS cnt
       |  FROM hv),
       |sk AS MATERIALIZED (SELECT h, hvv, rn, cnt FROM r WHERE rn <= 256),
       |meta AS MATERIALIZED (SELECT h,
       |    CASE WHEN max(cnt) >= 256 THEN max(CASE WHEN rn = 256 THEN hvv END)
       |         ELSE 281474976710656 END AS theta,
       |    CASE WHEN max(cnt) >= 256
       |         THEN (255 * 281474976710656) // max(CASE WHEN rn = 256 THEN hvv END)
       |         ELSE max(cnt) END AS est
       |  FROM sk GROUP BY h),
       |samp AS MATERIALIZED (
       |  SELECT s.h, s.hvv FROM sk s JOIN meta m USING (h) WHERE s.hvv < m.theta),
       |wv AS (SELECT DISTINCT c.h AS h, v.hvv
       |  FROM (SELECT DISTINCT h FROM hv) c
       |  JOIN hv v ON v.h BETWEEN c.h - $w AND c.h - 1),
       |wr AS (SELECT h, hvv,
       |    row_number() OVER (PARTITION BY h ORDER BY hvv) AS rn,
       |    count(*) OVER (PARTITION BY h) AS cnt
       |  FROM wv),
       |wsk AS MATERIALIZED (SELECT h, hvv, rn, cnt FROM wr WHERE rn <= 256),
       |wmeta AS MATERIALIZED (SELECT h,
       |    CASE WHEN max(cnt) >= 256 THEN max(CASE WHEN rn = 256 THEN hvv END)
       |         ELSE 281474976710656 END AS theta
       |  FROM wsk GROUP BY h),
       |wsamp AS MATERIALIZED (
       |  SELECT s.h, s.hvv FROM wsk s JOIN wmeta m USING (h) WHERE s.hvv < m.theta)
       |SELECT c.h, c.est AS est_users,
       |  CASE WHEN w.h IS NULL THEN -1 ELSE
       |    ((SELECT count(*) FROM samp x JOIN wsamp y ON x.hvv = y.hvv
       |      WHERE x.h = c.h AND y.h = c.h AND x.hvv < least(c.theta, w.theta))
       |     * 281474976710656) // least(c.theta, w.theta) END AS est_retained,
       |  CASE WHEN w.h IS NULL THEN -1 ELSE
       |    ((SELECT count(*) FROM samp x
       |      WHERE x.h = c.h AND x.hvv < least(c.theta, w.theta)
       |        AND NOT EXISTS (SELECT 1 FROM wsamp y WHERE y.h = c.h AND y.hvv = x.hvv))
       |     * 281474976710656) // least(c.theta, w.theta) END AS est_new,
       |  CASE WHEN w.h IS NULL THEN -1 ELSE
       |    ((SELECT count(*) FROM wsamp x
       |      WHERE x.h = c.h AND x.hvv < least(c.theta, w.theta)
       |        AND NOT EXISTS (SELECT 1 FROM samp y WHERE y.h = c.h AND y.hvv = x.hvv))
       |     * 281474976710656) // least(c.theta, w.theta) END AS est_churned
       |FROM meta c LEFT JOIN wmeta w ON w.h = c.h""".stripMargin

  /** The classifier scoring pipeline in SQL (weights embedded as a
    * VALUES list from the shipped artifact) — shared verbatim by the
    * batch entry and its stateless streamed face. */
  private def qualityClfSqlFor(artifact: (Seq[(Long, Long)], Long, Int)): String =
    s"""WITH ${clfScoreCtes("", artifact, "")}
       |SELECT doc_id, n_feats, round(lr, 4) AS logit, lr > 0 AS keep
       |FROM l""".stripMargin

  /** Top-p rank selection over the SAME scoring CTEs — ranks ride on
    * the rounded logits `ta_quality_clf` already pins hash-exact,
    * with doc_id breaking ties, so the p cut is oracle-replayable
    * integer arithmetic. */
  private lazy val QualityTopPSql: String =
    s"""WITH ${clfScoreCtes("", graft.operators.TextAnalysis.qualityClfArtifact, "")},
       |j AS (SELECT l.doc_id, d.source, round(l.lr, 4) AS logit
       |      FROM l JOIN documents d USING (doc_id)),
       |r AS (SELECT doc_id, source, logit,
       |        row_number() OVER (PARTITION BY source
       |          ORDER BY logit DESC, doc_id) AS rk,
       |        count(*) OVER (PARTITION BY source) AS n_src
       |      FROM j)
       |SELECT doc_id, source, logit, CAST(rk AS BIGINT) AS rk
       |FROM r WHERE rk * 1000000 <= 250000 * n_src""".stripMargin

  /** The scoring pipeline as a tagged CTE chain (`filterSql`
    * restricts the scored slice) — ONE body shared by the batch
    * entry, its stateless streamed face, the retrain face and both
    * versions inside the hot-swap oracle, so the scoring SQL cannot
    * drift between them. */
  private def clfScoreCtes(tag: String, artifact: (Seq[(Long, Long)], Long, Int),
                           filterSql: String): String = {
      val (cws, cbias, cdim) = artifact
      val cvals = cws.map { case (k, wm) => s"($k, $wm)" }.mkString(", ")
      s"""wt$tag(bucket, wm) AS (VALUES $cvals),
         |docs$tag AS (SELECT doc_id, text FROM documents$filterSql),
         |t$tag AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
         |                    x -> x <> '') AS ws
         |      FROM docs$tag),
         |f$tag AS (
         |  SELECT doc_id, 'u:' || unnest(ws) AS f FROM t$tag
         |  UNION ALL
         |  SELECT doc_id, unnest(['b:' || ws[i] || ' ' || ws[i+1]
         |                         FOR i IN generate_series(1, len(ws) - 1)]) AS f
         |  FROM t$tag WHERE len(ws) >= 2),
         |b$tag AS (SELECT doc_id,
         |        ('0x' || substr(md5(f), 1, 12))::BIGINT % $cdim AS bucket
         |      FROM f$tag),
         |s$tag AS (SELECT doc_id, count(*) AS n_feats, coalesce(sum(wm), 0) AS sum_m
         |      FROM b$tag LEFT JOIN wt$tag USING (bucket) GROUP BY doc_id),
         |sc$tag AS (SELECT doc_id, coalesce(n_feats, 0) AS n_feats,
         |         coalesce(sum_m, 0) AS sum_m
         |       FROM docs$tag LEFT JOIN s$tag USING (doc_id)),
         |l$tag AS (SELECT doc_id, n_feats,
         |        CASE WHEN n_feats > 0
         |          THEN (CAST($cbias AS DOUBLE)
         |                + CAST(sum_m AS DOUBLE) / CAST(n_feats AS DOUBLE))
         |               / 1000000.0
         |          ELSE CAST($cbias AS DOUBLE) / 1000000.0 END AS lr
         |      FROM sc$tag)""".stripMargin
  }

  /** The hot-swap face's oracle: the deterministic harness scores
    * even docs under the v1 artifact and odd docs under v2, so the
    * SQL embeds BOTH weight tables and unions the two scored parity
    * slices with their version stamps. */
  private lazy val QualityClfHotswapSql: String =
    s"""WITH ${clfScoreCtes("1", graft.operators.TextAnalysis.qualityClfArtifact,
                            " WHERE doc_id % 2 = 0")},
       |${clfScoreCtes("2", graft.operators.TextAnalysis.qualityClfFullArtifact,
                       " WHERE doc_id % 2 = 1")}
       |SELECT doc_id, n_feats, round(lr, 4) AS logit, lr > 0 AS keep,
       |  CAST(1 AS BIGINT) AS weights_version FROM l1
       |UNION ALL
       |SELECT doc_id, n_feats, round(lr, 4) AS logit, lr > 0 AS keep,
       |  CAST(2 AS BIGINT) AS weights_version FROM l2""".stripMargin

  /** The capstone scorecard oracle: the gopher CTEs (train-scoped),
    * the generated classifier scoring CTEs, the contamination CTEs,
    * and the exact-dup election, joined with the same precedence
    * CASE and rolled up per source. Every piece is textually the
    * same arithmetic its own gate pins. */
  private lazy val ScorecardSql: String =
    s"""WITH ${clfScoreCtes("", graft.operators.TextAnalysis.qualityClfArtifact,
        " WHERE doc_id % 50 <> 0")},
      |gw AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      |  FROM documents WHERE doc_id % 50 <> 0),
      |gwc AS (SELECT doc_id, w, count(*) AS c FROM gw GROUP BY doc_id, w),
      |gst AS (SELECT doc_id,
      |    CAST(sum(c) AS BIGINT) AS n_words,
      |    CAST(sum(length(w) * c) AS BIGINT) AS tot_chars,
      |    count(*) AS n_distinct,
      |    max(c) AS max_cnt,
      |    count(DISTINCT CASE WHEN w IN ('the','and','of','to','in','is',
      |      'that','for','with','was') THEN w END) AS n_stop
      |  FROM gwc GROUP BY doc_id),
      |gp AS (SELECT doc_id,
      |    (n_words >= 20 AND n_words <= 2000)
      |      AND (3 * n_words <= tot_chars AND tot_chars <= 10 * n_words)
      |      AND n_stop >= 2 AND 10 * max_cnt <= 3 * n_words
      |      AND 2 * (n_words - n_distinct) <= n_words AS g_keep
      |  FROM gst),
      |clf AS (SELECT doc_id, lr > 0 AS c_keep FROM l),
      |norm AS (
      |  SELECT doc_id, regexp_split_to_array(
      |    trim(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), '\\s+') AS ws
      |  FROM documents),
      |tsh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    [array_to_string(ws[i:i+4], ' ') FOR i IN generate_series(1, greatest(len(ws)-4, 1))]
      |  )) AS shingle FROM norm WHERE doc_id % 50 <> 0),
      |esh AS (
      |  SELECT DISTINCT unnest(list_distinct(
      |    [array_to_string(ws[i:i+4], ' ') FOR i IN generate_series(1, greatest(len(ws)-4, 1))]
      |  )) AS shingle FROM norm WHERE doc_id % 50 = 0),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM tsh GROUP BY doc_id),
      |hit AS (SELECT doc_id, count(*) AS n_c FROM tsh
      |        WHERE shingle IN (SELECT shingle FROM esh) GROUP BY doc_id),
      |ct AS (SELECT c.doc_id, COALESCE(n_c, 0) * 100 < 50 * c.n_sh AS t_keep
      |       FROM cnt c LEFT JOIN hit USING (doc_id)),
      |dh AS (SELECT doc_id,
      |    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
      |  FROM documents WHERE doc_id % 50 <> 0),
      |dk AS (SELECT h, min(doc_id) AS keep_id FROM dh GROUP BY h),
      |du AS (SELECT doc_id, doc_id = keep_id AS d_keep FROM dh JOIN dk USING (h)),
      |base AS (SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents WHERE doc_id % 50 <> 0),
      |vt AS (SELECT base.source, base.n_tokens,
      |    CASE WHEN NOT g_keep THEN 'gopher'
      |         WHEN NOT c_keep THEN 'classifier'
      |         WHEN NOT t_keep THEN 'contaminated'
      |         WHEN NOT d_keep THEN 'duplicate'
      |         ELSE 'kept' END AS v
      |  FROM base JOIN gp USING (doc_id) JOIN clf USING (doc_id)
      |       JOIN ct USING (doc_id) JOIN du USING (doc_id))
      |SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN v = 'gopher' THEN 1 ELSE 0 END) AS BIGINT) AS drop_gopher,
      |  CAST(sum(CASE WHEN v = 'classifier' THEN 1 ELSE 0 END) AS BIGINT) AS drop_clf,
      |  CAST(sum(CASE WHEN v = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS drop_contaminated,
      |  CAST(sum(CASE WHEN v = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS drop_dup,
      |  CAST(sum(CASE WHEN v = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN v = 'kept' THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
      |FROM vt GROUP BY source""".stripMargin

  private lazy val QualityClfSql: String =
    qualityClfSqlFor(graft.operators.TextAnalysis.qualityClfArtifact)

  /** Same scoring SQL under the FULL-BATCH weights — the local
    * reference artifact; the Spark side trains DISTRIBUTED, so the
    * hash compare IS the local/distributed bit-equality gate. */
  private lazy val QualityClfFullSql: String =
    qualityClfSqlFor(graft.operators.TextAnalysis.qualityClfFullArtifact)

  /** The decoded-phash local twin's summary as literal VALUES — the
    * render→decode→DCT→band→cap→near-dup chain run driver-side in
    * plain Scala over the fixed planted corpus at map construction;
    * the hash compare is then a distributed/local bit-equality gate
    * for the whole decoded pipeline. */
  /** The ANN k-means gate's local twin as oracle VALUES (the
    * MmPhashDecodedGateSql pattern): integers only, computed by
    * [[graft.operators.Similarity.kmeansGateLocalTwin]]. */
  private lazy val SimKmeansGateSql: String = {
    val rows = graft.operators.Similarity.kmeansGateLocalTwin()
      .map { case (id, c, n) => s"($id, $c, $n)" }.mkString(", ")
    s"""SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |  CAST(cell AS BIGINT) AS cell, CAST(cell_n AS BIGINT) AS cell_n
       |FROM (VALUES $rows) AS t(vec_id, cell, cell_n)""".stripMargin
  }

  /** The IVF search gate's local twin as oracle VALUES — shared by
    * the batch gate and the maintained-table gate (streamed == batch
    * == twin under one oracle). */
  private lazy val AnnIvfGateSql: String = {
    val rows = graft.operators.Similarity.ivfGateLocalTwin()
      .map { case (q, c, r) => s"($q, $c, $r)" }.mkString(", ")
    s"""SELECT CAST(query_id AS BIGINT) AS query_id,
       |  CAST(corpus_id AS BIGINT) AS corpus_id, CAST(rk AS BIGINT) AS rk
       |FROM (VALUES $rows) AS t(query_id, corpus_id, rk)""".stripMargin
  }

  private lazy val MmPhashDecodedGateSql: String = {
    val rows = graft.operators.Multimodal.phashDecodedLocalTwin(
        graft.operators.Multimodal.phashPlantedCorpus)
      .map { case (id, bs, n) => s"($id, ${bs.mkString(", ")}, $n)" }
      .mkString(", ")
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1,
       |  CAST(b2 AS BIGINT) AS b2, CAST(b3 AS BIGINT) AS b3,
       |  CAST(n_near AS BIGINT) AS n_near
       |FROM (VALUES $rows) AS t(doc_id, b0, b1, b2, b3, n_near)""".stripMargin
  }

  /** Per-source KS drift alarm in SQL — shared verbatim by the batch
    * entry and its pure-delta streamed face (count merge is
    * order-independent). Integer cross-multiplied sup-gap, floor
    * division, empty window = maximal drift. */
  private val SourceDriftSql: String =
      """WITH s AS (
        |  SELECT source, (doc_id % 2 = 0) AS is_ref, n_chars AS x
        |  FROM documents),
        |c AS (SELECT source, x,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS cc
        |  FROM s GROUP BY 1, 2),
        |k AS (SELECT source,
        |    sum(cr) OVER (PARTITION BY source ORDER BY x) AS cumR,
        |    sum(cc) OVER (PARTITION BY source ORDER BY x) AS cumC,
        |    sum(cr) OVER (PARTITION BY source) AS nR,
        |    sum(cc) OVER (PARTITION BY source) AS nC
        |  FROM c),
        |d AS (SELECT source,
        |    CAST(max(nR) AS BIGINT) AS n_ref,
        |    CAST(max(nC) AS BIGINT) AS n_cur,
        |    CAST(max(abs(cumR * nC - cumC * nR)) AS BIGINT) AS d_raw
        |  FROM k GROUP BY 1)
        |SELECT source, n_ref, n_cur, d_raw,
        |  CAST(CASE WHEN n_ref * n_cur = 0 THEN 1000000
        |       ELSE (d_raw * 1000000) // (n_ref * n_cur) END AS BIGINT) AS ks_ppm,
        |  (CASE WHEN n_ref * n_cur = 0 THEN 1000000
        |        ELSE (d_raw * 1000000) // (n_ref * n_cur) END) >= 150000 AS alarm
        |FROM d""".stripMargin

  /** Multi-source BFS hop histogram / harmonic centrality in SQL —
    * each shared verbatim by the batch entry and its streamed
    * maintenance face. */
  private val BfsHistogramSql: String =
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |und AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |srcs AS MATERIALIZED (
        |  SELECT a AS s FROM und GROUP BY a ORDER BY a LIMIT 4),
        |walk(src, node, dist) AS (
        |  (SELECT s, s, 0 FROM srcs)
        |  UNION
        |  SELECT w.src, u2.b, w.dist + 1 FROM walk w JOIN und u2 ON u2.a = w.node
        |  WHERE w.dist < 30),
        |d AS (SELECT src, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT CAST(dist AS BIGINT) AS hop, count(*) AS n_pairs
        |FROM d GROUP BY 1""".stripMargin

  private val HarmonicSql: String =
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |und AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |srcs AS MATERIALIZED (
        |  SELECT a AS s FROM und GROUP BY a ORDER BY a LIMIT 4),
        |walk(src, node, dist) AS (
        |  (SELECT s, s, 0 FROM srcs)
        |  UNION
        |  SELECT w.src, u2.b, w.dist + 1 FROM walk w JOIN und u2 ON u2.a = w.node
        |  WHERE w.dist < 30),
        |d AS (SELECT src, node, min(dist) AS dist FROM walk GROUP BY 1, 2),
        |h AS (SELECT node,
        |        CAST(sum(CAST(floor(1000000.0 / dist + 0.5) AS BIGINT))
        |             AS BIGINT) AS hc_micros
        |      FROM d WHERE dist > 0 GROUP BY node)
        |SELECT node, hc_micros,
        |  CAST(row_number() OVER (ORDER BY hc_micros DESC, node) AS BIGINT) AS rk
        |FROM h ORDER BY hc_micros DESC, node LIMIT 20""".stripMargin

  /** CDC chunk table in SQL (window 8, mask 63) — shared by the
    * chunk-table entry and the dedup aggregate built over it. */
  private val CdcChunksBody: String =
    """SELECT doc_id, chunk_idx, chunk_start, chunk_len,
      |  md5(substr(text, CAST(chunk_start + 1 AS INT), CAST(chunk_len AS INT))) AS chunk_md5
      |FROM (
      |  SELECT doc_id, text,
      |    CAST(j - 1 AS BIGINT) AS chunk_idx,
      |    cuts[j] AS chunk_start,
      |    cuts[j + 1] - cuts[j] AS chunk_len
      |  FROM (
      |    SELECT doc_id, text,
      |      list_concat(list_concat([CAST(0 AS BIGINT)],
      |        [CAST(i AS BIGINT) FOR i IN generate_series(8, length(text))
      |         IF ('0x' || substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 1, 12))::BIGINT % 64 = 0
      |            AND i < length(text)]),
      |        [CAST(length(text) AS BIGINT)]) AS cuts
      |    FROM documents),
      |  unnest(generate_series(1, len(cuts) - 1)) AS g(j))
      |WHERE chunk_len > 0""".stripMargin

  private val CdcChunksSql: String = CdcChunksBody

  /** Shared candidate/length CTEs for the CDC fold oracles. The fold
    * itself is a RECURSIVE walk over (doc_id, rn)-ordered candidates,
    * NOT DuckDB `reduce`: the r14 sf1 sweep caught DuckDB 1.0.0's
    * `reduce` returning context-dependent garbage for byte-identical
    * rows within one single-threaded query (10 replicas of one doc:
    * seven folded to a single spurious cut, three folded correctly —
    * an independent Python referee sided with Spark on all ten).
    * Recursion is the fold primitive this suite already trusts
    * everywhere else (BFS/SSSP/SCC oracles). */
  private val CdcCandCtes: String =
    """cand0 AS (
      |  SELECT doc_id, unnest([CAST(i AS BIGINT) FOR i IN generate_series(8, length(text))
      |      IF ('0x' || substr(md5(substr(text, CAST(i - 7 AS INT), 8)), 1, 12))::BIGINT % 64 = 0
      |         AND i < length(text)]) AS pos
      |  FROM documents),
      |cand AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      |  FROM cand0),
      |dl AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len FROM documents)""".stripMargin

  /** Chunk rows from a per-doc cut set (adjacent ordered cuts). */
  private val CdcChunksFromCuts: String =
    """cl AS (
      |  SELECT doc_id, cut,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY cut) AS rn2,
      |    lead(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS nxt
      |  FROM cuts),
      |ch AS (
      |  SELECT cl.doc_id, CAST(rn2 - 1 AS BIGINT) AS chunk_idx,
      |    cut AS chunk_start, nxt - cut AS chunk_len,
      |    md5(substr(d.text, CAST(cut + 1 AS INT), CAST(nxt - cut AS INT))) AS chunk_md5
      |  FROM cl JOIN documents d ON d.doc_id = cl.doc_id
      |  WHERE nxt IS NOT NULL AND nxt - cut > 0)""".stripMargin

  /** Duplicated-chunk accounting over the CDC chunk table — shared
    * verbatim by the batch entry and its streamed chunk-store face
    * (the delta resolve's min/sum merge is order-independent). */
  private val CdcDedupSql: String =
    s"""WITH ch AS ($CdcChunksBody)
      |SELECT chunk_md5, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies, min(chunk_len) AS chunk_len
      |FROM ch GROUP BY chunk_md5 HAVING count(*) >= 2""".stripMargin

  /** The LBFS minimum-chunk fold as a recursive walk: keep a
    * candidate iff it lands >= 16 past the last KEPT cut; `last`
    * changes exactly at kept cuts, so the distinct `last` values ARE
    * the cut set (plus the unconditional end cut). Step-identical to
    * Spark's `aggregate` fold. */
  private val CdcDedupMinSql: String =
    s"""WITH RECURSIVE $CdcCandCtes,
      |walk(doc_id, rn, last) AS (
      |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM documents
      |  UNION ALL
      |  SELECT w.doc_id, w.rn + 1,
      |    CASE WHEN c.pos - w.last >= 16 THEN c.pos ELSE w.last END
      |  FROM walk w JOIN cand c ON c.doc_id = w.doc_id AND c.rn = w.rn + 1),
      |anchors AS (SELECT DISTINCT doc_id, last AS a FROM walk),
      |cuts AS (
      |  SELECT doc_id, a AS cut FROM anchors
      |  UNION ALL SELECT doc_id, len AS cut FROM dl),
      |$CdcChunksFromCuts
      |SELECT chunk_md5, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies, min(chunk_len) AS chunk_len
      |FROM ch GROUP BY chunk_md5 HAVING count(*) >= 2""".stripMargin

  /** The min fold plus the MAXIMUM rule, as the same recursive walk:
    * when a candidate lands > 128 past `last`, cuts force at
    * last + 128·k (the online walk — a forced cut resets the min
    * window) and `last` jumps to the LAST forced position, keeping
    * the candidate only if it lands >= 16 past it. Intermediate
    * forced positions are recovered arithmetically OUTSIDE the walk:
    * any gap > 128 between consecutive anchors is by construction a
    * forced-fill run at a + 128·j (a kept candidate can never sit
    * > 128 past its effective predecessor), and the doc tail forces
    * the same way. Arithmetic identical to the Spark fold step for
    * step. */
  private val CdcDedupClampedSql: String =
    s"""WITH RECURSIVE $CdcCandCtes,
      |walk(doc_id, rn, last) AS (
      |  SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM documents
      |  UNION ALL
      |  SELECT w.doc_id, w.rn + 1,
      |    CASE WHEN c.pos - w.last > 128 THEN
      |        (CASE WHEN c.pos - (w.last + 128 * ((c.pos - 1 - w.last) // 128)) >= 16
      |              THEN c.pos
      |              ELSE w.last + 128 * ((c.pos - 1 - w.last) // 128) END)
      |      ELSE
      |        (CASE WHEN c.pos - w.last >= 16 THEN c.pos ELSE w.last END)
      |      END
      |  FROM walk w JOIN cand c ON c.doc_id = w.doc_id AND c.rn = w.rn + 1),
      |anchors AS (SELECT DISTINCT doc_id, last AS a FROM walk),
      |gaps AS (
      |  SELECT doc_id, a, lead(a) OVER (PARTITION BY doc_id ORDER BY a) AS b
      |  FROM anchors),
      |fills AS (
      |  SELECT doc_id, a + 128 * j AS cut
      |  FROM gaps, unnest(generate_series(1, CAST((b - a - 1) // 128 AS BIGINT))) AS g(j)
      |  WHERE b IS NOT NULL AND b - a > 128),
      |tails AS (
      |  SELECT t.doc_id, t.a + 128 * j AS cut
      |  FROM (SELECT anchors.doc_id, max(a) AS a, max(len) AS len
      |        FROM anchors JOIN dl ON dl.doc_id = anchors.doc_id
      |        GROUP BY anchors.doc_id) t,
      |    unnest(generate_series(1, CAST((t.len - 1 - t.a) // 128 AS BIGINT))) AS g(j)
      |  WHERE t.len - t.a > 128),
      |cuts AS (
      |  SELECT doc_id, a AS cut FROM anchors
      |  UNION ALL SELECT doc_id, cut FROM fills
      |  UNION ALL SELECT doc_id, cut FROM tails
      |  UNION ALL SELECT doc_id, len AS cut FROM dl),
      |$CdcChunksFromCuts
      |SELECT chunk_md5, min(doc_id) AS keep_doc_id,
      |  count(*) AS n_copies, min(chunk_len) AS chunk_len
      |FROM ch GROUP BY chunk_md5 HAVING count(*) >= 2""".stripMargin

  /** SCC labels in SQL (transitive closure + mutual reachability) —
    * shared verbatim by the batch entry and its incremental
    * maintenance face. */
  private val SccSql: String =
      """WITH RECURSIVE li AS (
        |  SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND b.ln = a.ln + 1 WHERE a.p <> b.p),
        |n AS MATERIALIZED (SELECT DISTINCT node FROM
        |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)),
        |reach(s, t) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.s, e.v FROM reach r JOIN e ON e.u = r.t),
        |mutual AS MATERIALIZED (
        |  SELECT r1.s AS a, r1.t AS b FROM reach r1
        |  JOIN reach r2 ON r2.s = r1.t AND r2.t = r1.s),
        |mm AS (SELECT a, min(b) AS mb FROM mutual GROUP BY a)
        |SELECT node, CAST(least(node, coalesce(mm.mb, node)) AS BIGINT) AS scc_label
        |FROM n LEFT JOIN mm ON mm.a = n.node""".stripMargin

  /** The sf1-capable SCC gate in SQL: 8 unrolled LINEAR min-label
    * flood rounds per direction — never a transitive closure, so
    * this stays O(rounds·|E|) at every scale where [[SccSql]]'s
    * reach set (component size²) stops being computable around sf1.
    * Pins `1 AS label_match`: the Spark side checks every
    * fmin = bmin certificate node against the REAL SCC labels, so a
    * wrong decomposition hash-mismatches here even though the oracle
    * itself never computes an SCC. Shared verbatim by the batch gate
    * and the maintained-store gate. */
  private val SccFloodSql: String = {
    def rounds(pfx: String, srcC: String, dstC: String) = (1 to 8).map { i =>
      s"""$pfx$i AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (
         |  SELECT node, lab FROM $pfx${i - 1}
         |  UNION ALL
         |  SELECT e.$dstC AS node, s.lab FROM e JOIN $pfx${i - 1} s ON s.node = e.$srcC)
         |GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p FROM lineitem),
       |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM li a JOIN li b ON a.o = b.o AND b.ln = a.ln + 1 WHERE a.p <> b.p),
       |n AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)),
       |f0 AS (SELECT node, node AS lab FROM n),
       |b0 AS (SELECT node, node AS lab FROM n),
       |${rounds("f", "u", "v")},
       |${rounds("b", "v", "u")}
       |SELECT n.node, f8.lab AS fmin, b8.lab AS bmin, CAST(1 AS BIGINT) AS label_match
       |FROM n JOIN f8 ON f8.node = n.node JOIN b8 ON b8.node = n.node""".stripMargin
  }

  /** Longest-path layers over the md5-LEVELED DAG (depth < 16 BY
    * CONSTRUCTION, so the ladder is 15 fixed rounds at any scale) —
    * the sf1-capable companion exercising the same topoLayers
    * machinery whose condensation-based face needs the SCC closure
    * the oracle cannot afford at sf1. */
  private val TopoDagSql: String = {
    def lvl(x: String) =
      s"(('0x' || substr(md5('lvl:' || CAST($x AS VARCHAR)), 1, 4))::BIGINT % 16)"
    val rounds = (1 to 15).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, max(depth) AS depth FROM (
         |  SELECT node, depth FROM d${i - 1}
         |  UNION ALL
         |  SELECT g.v AS node, s.depth + 1 AS depth FROM g JOIN d${i - 1} s ON s.node = g.u)
         |GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM li a JOIN li b ON a.o = b.o AND b.ln = a.ln + 1 WHERE a.p <> b.p),
       |g AS MATERIALIZED (SELECT u, v FROM e0 WHERE ${lvl("u")} < ${lvl("v")}),
       |n AS (SELECT DISTINCT node FROM (SELECT u AS node FROM g UNION ALL SELECT v FROM g)),
       |d0 AS (SELECT node, CAST(0 AS BIGINT) AS depth FROM n),
       |$rounds
       |SELECT node, depth FROM d15""".stripMargin
  }

  /** `rounds` unrolled symmetric min-label propagation rounds over
    * the `edges` CTE (symmetric jp pairs) — the LINEAR replay of
    * [[graft.operators.Dedup.boundedComponents]], vs the recursive
    * walk the converged components oracle needs (closure dies at sf1
    * on ×10 clone cliques). */
  private def boundedCompCtes(rounds: Int): String =
    (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (
         |  SELECT node, lab FROM c${i - 1}
         |  UNION ALL
         |  SELECT e.b AS node, s.lab FROM edges e JOIN c${i - 1} s ON s.node = e.a)
         |GROUP BY node)""".stripMargin
    }.mkString(",\n")

  /** Temperature mixing in SQL — shared verbatim by the batch entry
    * and its pure-delta streamed face. */
  private val ContaminationSql: String =
    """WITH norm AS (
    |  SELECT doc_id, regexp_split_to_array(
    |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
    |  FROM documents),
    |tsh AS (
    |  SELECT doc_id, unnest(list_distinct(
    |    [array_to_string(ws[i:i+4], ' ') FOR i IN generate_series(1, greatest(len(ws)-4, 1))]
    |  )) AS shingle FROM norm WHERE doc_id % 50 <> 0),
    |esh AS (
    |  SELECT DISTINCT unnest(list_distinct(
    |    [array_to_string(ws[i:i+4], ' ') FOR i IN generate_series(1, greatest(len(ws)-4, 1))]
    |  )) AS shingle FROM norm WHERE doc_id % 50 = 0),
    |cnt AS (SELECT doc_id, count(*) AS n_sh FROM tsh GROUP BY doc_id),
    |hit AS (SELECT doc_id, count(*) AS n_c FROM tsh
    |        WHERE shingle IN (SELECT shingle FROM esh) GROUP BY doc_id)
    |SELECT c.doc_id, c.n_sh, COALESCE(n_c, 0) AS n_contaminated,
    |  round(CAST(COALESCE(n_c, 0) AS DOUBLE) / c.n_sh, 4) AS contamination
    |FROM cnt c LEFT JOIN hit USING (doc_id)""".stripMargin

  private val HybridRrfSql: String =
    """WITH toks AS (
    |  SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS w
    |  FROM documents),
    |t AS (SELECT doc_id, lower(w) AS word FROM toks WHERE w <> ''),
    |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
    |tf AS (SELECT doc_id, word, count(*) AS tf FROM t
    |       WHERE word IN ('spark', 'window', 'vector') GROUP BY doc_id, word),
    |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    |scored AS (
    |  SELECT tf.doc_id,
    |    CAST(floor(
    |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
    |      * (CAST(tf AS DOUBLE) * 2.2)
    |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
    |      * 1000000.0 + 0.5) AS BIGINT) AS w_micros
    |  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats),
    |lexagg AS (SELECT doc_id, sum(w_micros) AS micros FROM scored GROUP BY doc_id),
    |lex AS (
    |  SELECT doc_id, CAST(row_number() OVER (ORDER BY micros DESC, doc_id) AS BIGINT) AS rk_lex
    |  FROM lexagg ORDER BY micros DESC, doc_id LIMIT 50),
    |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    |dscored AS (
    |  SELECT c.vec_id AS doc_id,
    |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
    |              FOR i IN generate_series(1, len(qe))]) /
    |    (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
    |                    FOR i IN generate_series(1, len(qe))])) *
    |     sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
    |                    FOR i IN generate_series(1, len(qe))]))) AS cosine
    |  FROM embeddings c, q WHERE c.vec_id <> 0),
    |dense AS (
    |  SELECT doc_id, rk_dense FROM (
    |    SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS rk_dense
    |    FROM dscored) WHERE rk_dense <= 50),
    |fused AS (
    |  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
    |    COALESCE(l.rk_lex, 0) AS rk_lex,
    |    COALESCE(d.rk_dense, 0) AS rk_dense
    |  FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id),
    |sc AS (
    |  SELECT doc_id, rk_lex, rk_dense,
    |    (CASE WHEN rk_lex > 0 THEN 1000000 // (60 + rk_lex) ELSE 0 END
    |   + CASE WHEN rk_dense > 0 THEN 1000000 // (60 + rk_dense) ELSE 0 END) AS rrf_micros
    |  FROM fused)
    |SELECT doc_id, rk_lex, rk_dense, CAST(rrf_micros AS BIGINT) AS rrf_micros,
    |  CAST(row_number() OVER (ORDER BY rrf_micros DESC, doc_id) AS BIGINT) AS rk
    |FROM sc ORDER BY rrf_micros DESC, doc_id LIMIT 20""".stripMargin

  private val WeightedSampleSql: String =
    """WITH w AS (
    |  SELECT doc_id, n_chars AS weight,
    |    CAST(floor(pow(
    |      (CAST(('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS DOUBLE) + 0.5)
    |        / 281474976710656.0,
    |      1.0 / CAST(n_chars AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS key_nanos
    |  FROM documents WHERE n_chars > 0)
    |SELECT doc_id, weight, key_nanos,
    |  CAST(row_number() OVER (ORDER BY key_nanos DESC, doc_id) AS BIGINT) AS rk
    |FROM w ORDER BY key_nanos DESC, doc_id LIMIT 50""".stripMargin

  private val OutliersSql: String =
    """WITH c AS (
    |  SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS ci
    |  FROM embeddings, generate_series(1, 64) AS t(i)
    |  GROUP BY label, i),
    |cent AS (SELECT label, list(ci ORDER BY i) AS centroid FROM c GROUP BY label),
    |scored AS (
    |  SELECT e.vec_id, e.label,
    |    CAST(floor((
    |      list_sum([CAST(e.embedding[i] AS DOUBLE) * centroid[i]
    |                FOR i IN generate_series(1, len(centroid))]) /
    |      (sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)
    |                      FOR i IN generate_series(1, len(centroid))])) *
    |       sqrt(list_sum([centroid[i] * centroid[i]
    |                      FOR i IN generate_series(1, len(centroid))])))
    |    ) * 1000000.0 + 0.5) AS BIGINT) AS c_micros
    |  FROM embeddings e JOIN cent USING (label)),
    |r1 AS (
    |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY c_micros, vec_id) AS rn,
    |    count(*) OVER (PARTITION BY label) AS cnt
    |  FROM scored),
    |med AS (SELECT label, c_micros AS med_micros FROM r1 WHERE rn = (cnt + 1) // 2),
    |d AS (
    |  SELECT s.vec_id, s.label, s.c_micros, m.med_micros,
    |    abs(s.c_micros - m.med_micros) AS dev
    |  FROM scored s JOIN med m USING (label)),
    |r2 AS (
    |  SELECT *, row_number() OVER (PARTITION BY label ORDER BY dev, vec_id) AS rn,
    |    count(*) OVER (PARTITION BY label) AS cnt
    |  FROM d),
    |mad AS (SELECT label, dev AS mad_micros FROM r2 WHERE rn = (cnt + 1) // 2)
    |SELECT d.vec_id, d.label, d.c_micros, d.med_micros, mad.mad_micros,
    |  (d.dev * 10000 > 44478 * mad.mad_micros) AS is_outlier
    |FROM d JOIN mad USING (label)""".stripMargin

  private val PhraseSql: String =
    """WITH t AS (
    |  SELECT doc_id, list_filter(list_transform(
    |    regexp_split_to_array(text, '[^A-Za-z]+'), w -> lower(w)), w -> w <> '') AS ws
    |  FROM documents),
    |m AS (
    |  SELECT doc_id, [i FOR i IN generate_series(1, len(ws) - 1)
    |                  IF ws[i] = 'fast' AND ws[i+1] = 'table'] AS ps
    |  FROM t)
    |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_matches,
    |  CAST(ps[1] AS BIGINT) AS first_pos
    |FROM m WHERE len(ps) > 0""".stripMargin

  private val LangSpansSql: String =
    """WITH n AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
    |           FROM documents),
    |w0 AS (SELECT doc_id,
    |         [struct_pack(idx := i - 1,
    |            wt := array_to_string(ws[(i-1)*20+1:(i-1)*20+20], ' '))
    |          FOR i IN generate_series(1, greatest(CAST(ceil(len(ws) / 20.0) AS BIGINT), 1))] AS wins
    |       FROM n),
    |w AS (SELECT doc_id, unnest(wins, recursive := true) FROM w0),
    |sc AS (SELECT doc_id, idx AS win_idx,
    |        len(regexp_extract_all(wt, '\b(the|and|of|to|in|is|that|for|with|was)\b')) AS s_en,
    |        len(regexp_extract_all(wt, '\b(el|la|de|que|y|los|las|un|una|por)\b')) AS s_es,
    |        len(regexp_extract_all(wt, '\b(der|die|und|das|ist|von|mit|den|des|ein)\b')) AS s_de,
    |        len(regexp_extract_all(wt, '\b(le|la|et|les|des|une|dans|est|pour|que)\b')) AS s_fr
    |      FROM w),
    |lp AS (SELECT doc_id, win_idx,
    |        CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
    |             WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
    |             WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
    |             WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
    |             ELSE 'und' END AS lang
    |      FROM sc),
    |isl AS (SELECT doc_id, win_idx, lang,
    |         CASE WHEN lag(lang) OVER (PARTITION BY doc_id ORDER BY win_idx) = lang
    |              THEN 0 ELSE 1 END AS chg
    |       FROM lp),
    |sp AS (SELECT doc_id, win_idx, lang,
    |        sum(chg) OVER (PARTITION BY doc_id ORDER BY win_idx) AS span_idx
    |      FROM isl)
    |SELECT doc_id, CAST(span_idx AS BIGINT) AS span_idx, lang,
    |  CAST(min(win_idx) AS BIGINT) AS start_win,
    |  CAST(max(win_idx) AS BIGINT) AS end_win,
    |  CAST(count(*) AS BIGINT) AS n_windows
    |FROM sp GROUP BY doc_id, span_idx, lang""".stripMargin

  private val Bm25Sql: String =
    """WITH toks AS (
    |  SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS w
    |  FROM documents),
    |t AS (SELECT doc_id, lower(w) AS word FROM toks WHERE w <> ''),
    |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
    |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
    |tf AS (SELECT doc_id, word, count(*) AS tf FROM t
    |       WHERE word IN ('spark', 'window', 'vector') GROUP BY doc_id, word),
    |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    |scored AS (
    |  SELECT tf.doc_id,
    |    CAST(floor(
    |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
    |      * (CAST(tf AS DOUBLE) * 2.2)
    |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
    |      * 1000000.0 + 0.5) AS BIGINT) AS w_micros
    |  FROM tf JOIN df USING (word) JOIN dl USING (doc_id) CROSS JOIN stats),
    |agg AS (SELECT doc_id, sum(w_micros) AS micros, count(*) AS n_terms
    |        FROM scored GROUP BY doc_id)
    |SELECT doc_id, n_terms,
    |  round(CAST(micros AS DOUBLE) / 1000000.0, 6) AS score,
    |  CAST(row_number() OVER (ORDER BY micros DESC, doc_id) AS BIGINT) AS rk
    |FROM agg ORDER BY micros DESC, doc_id LIMIT 20""".stripMargin

  private val MixTemperatureSql: String =
      """WITH s AS (
        |  SELECT source,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM s),
        |w AS (SELECT source, n_tokens, total,
        |    CAST(floor(pow(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 0.3)
        |               * 1000000.0 + 0.5) AS BIGINT) AS wm
        |  FROM s, t),
        |n AS (SELECT CAST(sum(wm) AS BIGINT) AS wsum FROM w)
        |SELECT source, n_tokens,
        |  (n_tokens * 1000000) // total AS share_ppm,
        |  (wm * 1000000) // wsum AS temp_share_ppm,
        |  CAST(CASE WHEN (n_tokens * 1000000) // total = 0 THEN 0
        |       ELSE ((wm * 1000000) // wsum * 1000000) // ((n_tokens * 1000000) // total)
        |       END AS BIGINT) AS boost_ppm
        |FROM w, n""".stripMargin

  /** Suffix duplication profile in SQL — direct substring grouping
    * per probed length (a genuinely different algorithm from the
    * prefix-doubling rank chain, agreeing on every integer — the
    * q_triangles oracle philosophy); shared by the profile entry and
    * the span-length election built on top of it. */
  private val SuffixProfileSql: String =
      """WITH lens(l) AS (VALUES (8), (16), (32), (64), (128), (256)),
        |w AS (
        |  SELECT lens.l AS l, d.doc_id AS doc_id, substr(d.text, i, lens.l) AS win
        |  FROM documents d, lens,
        |    unnest(generate_series(1, length(d.text) - lens.l + 1)) AS g(i)
        |  WHERE length(d.text) >= lens.l),
        |g AS (SELECT l, win, count(*) AS c FROM w GROUP BY 1, 2),
        |a AS (SELECT l,
        |    CAST(sum(c) AS BIGINT) AS n_windows,
        |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS n_dup_positions,
        |    CAST(coalesce(sum(CASE WHEN c > 1 THEN 1 END), 0) AS BIGINT) AS n_dup_windows
        |  FROM g GROUP BY 1),
        |nd AS (SELECT w.l, CAST(count(DISTINCT w.doc_id) AS BIGINT) AS n_docs
        |  FROM w JOIN g ON g.l = w.l AND g.win = w.win
        |  WHERE g.c > 1 GROUP BY 1)
        |SELECT CAST(lens.l AS BIGINT) AS match_len,
        |  coalesce(a.n_windows, 0) AS n_windows,
        |  coalesce(a.n_dup_positions, 0) AS n_dup_positions,
        |  coalesce(a.n_dup_windows, 0) AS n_dup_windows,
        |  coalesce(nd.n_docs, 0) AS n_docs_touched,
        |  CAST(CASE WHEN coalesce(a.n_windows, 0) = 0 THEN 0
        |       ELSE (coalesce(a.n_dup_positions, 0) * 1000000) // a.n_windows
        |       END AS BIGINT) AS dup_mass_ppm
        |FROM lens LEFT JOIN a ON a.l = lens.l LEFT JOIN nd ON nd.l = lens.l""".stripMargin

  /** Shared CTE chain for the DSIR oracles — the quality classifier's
    * feature space (lowercase [^a-z]+ tokens, u:/b: features, md5
    * buckets mod 4096), one bucket aggregate carrying both LMs'
    * counts, scalar totals, ln-micros lambdas, exact per-doc sums;
    * `w2` = one (doc_id, n_feats, w_micros) row per pool doc. */
  /** The lambda-table CTE chain for one doc slice, tagged so the
    * drift oracle can instantiate it twice; `lam$tag` is COMPLETE
    * over all 4096 buckets (unseen buckets at the smoothing floor —
    * mirrors `dsirLambdas`' range completion). */
  private def DsirLamCtes(tag: String, filterSql: String): String =
    s"""t$tag AS (SELECT doc_id, source,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      |                x -> x <> '') AS ws
      |  FROM documents$filterSql),
      |f0$tag AS (
      |  SELECT doc_id, source, 'u:' || unnest(ws) AS f FROM t$tag
      |  UNION ALL
      |  SELECT doc_id, source, unnest(['b:' || ws[i] || ' ' || ws[i+1]
      |                                 FOR i IN generate_series(1, len(ws) - 1)]) AS f
      |  FROM t$tag WHERE len(ws) >= 2),
      |f$tag AS (SELECT doc_id, source,
      |    ('0x' || substr(md5(f), 1, 12))::BIGINT % 4096 AS bucket
      |  FROM f0$tag),
      |c0$tag AS (SELECT bucket,
      |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS cr
      |  FROM f$tag GROUP BY 1),
      |c$tag AS (SELECT allb.bucket, coalesce(c0$tag.ct, 0) AS ct,
      |    coalesce(c0$tag.cr, 0) AS cr
      |  FROM allb LEFT JOIN c0$tag USING (bucket)),
      |tot$tag AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM c$tag),
      |lam$tag AS (SELECT bucket,
      |    CAST(floor(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + 4096 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      |    - CAST(floor(ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + 4096 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lam_m
      |  FROM c$tag, tot$tag)""".stripMargin

  private val DsirWeightsCtes: String =
    s"""allb AS (SELECT range AS bucket FROM range(4096)),
      |${DsirLamCtes("", "")},
      |wsum AS (SELECT doc_id, count(*) AS n_feats, CAST(sum(lam_m) AS BIGINT) AS w_micros
      |  FROM f JOIN lam USING (bucket) WHERE source <> 'src0' GROUP BY 1),
      |w2 AS (SELECT d.doc_id, coalesce(wsum.n_feats, 0) AS n_feats,
      |    coalesce(wsum.w_micros, 0) AS w_micros
      |  FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
      |  LEFT JOIN wsum USING (doc_id))""".stripMargin

  /** Shared segment CTE for the line-dedup oracles — mirrors
    * Dedup.lineSegments at wordsPerSeg=8 (the ta_passages transform). */
  private val LineSegsSql: String =
    """w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST(r['idx'] AS BIGINT) AS seg_idx, r['s'] AS seg FROM (
      |    SELECT doc_id,
      |      unnest([{'idx': i - 1, 's': array_to_string(ws[(i-1)*8+1 : i*8], ' ')}
      |              FOR i IN generate_series(1, (len(ws) - 1) // 8 + 1)]) AS r
      |    FROM w))""".stripMargin

  /** Segment-survivor oracle — shared verbatim by the streamed face
    * (its min-of-minima / sum-of-counts merge is order-independent). */
  private val LineSurvivorsSql: String =
    s"""WITH $LineSegsSql,
      |ranked AS (
      |  SELECT md5(seg) AS seg_md5, doc_id, seg_idx,
      |    row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn,
      |    count(*) OVER (PARTITION BY md5(seg)) AS n_copies
      |  FROM segs)
      |SELECT seg_md5, doc_id AS keep_doc_id, seg_idx AS keep_seg_idx, n_copies
      |FROM ranked WHERE rn = 1 AND n_copies >= 2""".stripMargin

  private val UrlDedupSql: String =
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM:80'
        |             WHEN doc_id % 3 = 1 THEN 'www.example.com'
        |             ELSE 'example.com' END)
        |    || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
        |             WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
        |             WHEN doc_id % 4 = 2 THEN '?b=2&a=1&utm_campaign=x'
        |             ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '#section' ELSE '' END) AS url
        |  FROM documents),
        |p1 AS (
        |  SELECT doc_id,
        |    lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
        |    split_part(split_part(url, '#', 1), '://', 2) AS rest
        |  FROM u),
        |p2 AS (
        |  SELECT doc_id, scheme, rest, regexp_extract(rest, '^[^/?]*') AS host0
        |  FROM p1),
        |p3 AS (
        |  SELECT doc_id, scheme,
        |    -- drop a port only when it is the scheme's default
        |    (CASE WHEN scheme = 'http' THEN regexp_replace(
        |            regexp_replace(lower(host0), '^www\.', ''), ':80$', '')
        |          WHEN scheme = 'https' THEN regexp_replace(
        |            regexp_replace(lower(host0), '^www\.', ''), ':443$', '')
        |          ELSE regexp_replace(lower(host0), '^www\.', '') END) AS host,
        |    substr(rest, length(host0) + 1) AS pathq
        |  FROM p2),
        |p4 AS (
        |  SELECT doc_id, scheme, host,
        |    regexp_replace(split_part(pathq, '?', 1), '/+$', '') AS path1,
        |    -- DuckDB array_to_string([]) is NULL where Spark
        |    -- array_join([]) is '' -> coalesce
        |    coalesce(array_to_string(list_sort(list_filter(
        |      string_split(split_part(pathq, '?', 2), '&'),
        |      p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&'), '') AS kept
        |  FROM p3)
        |SELECT
        |  scheme || '://' || host
        |    || (CASE WHEN path1 = '' THEN '/' ELSE path1 END)
        |    || (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) AS canonical_url,
        |  min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM p4 GROUP BY 1""".stripMargin

  /** The phash summary pipeline in SQL — shared verbatim by the
    * batch entry and its streaming maintenance face. Mirrors the
    * `maxBandDf = 100` bucket cap (`bdf` CTE): candidate pairs come
    * only from (band, value) buckets holding ≤ 100 docs, so the gate
    * pins the capped semantics the Spark side ships. */
  private val PhashSummarySql: String =
    """WITH chars AS (
        |  SELECT doc_id, unnest(split(text, '')) AS c FROM documents),
        |hist AS (
        |  SELECT doc_id, ord(c) % 64 AS bucket, count(*) AS cnt
        |  FROM chars GROUP BY 1, 2),
        |len AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents),
        |bits AS (
        |  SELECT h.doc_id, bucket // 16 AS band, bucket % 16 AS pos,
        |    CASE WHEN cnt * 64 > n THEN 1 ELSE 0 END AS bit
        |  FROM hist h JOIN len USING (doc_id)),
        |bands AS MATERIALIZED (
        |  SELECT d.doc_id, b.band,
        |    CAST(COALESCE(sum(bit << pos), 0) AS BIGINT) AS bv
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
        |  LEFT JOIN bits ON bits.doc_id = d.doc_id AND bits.band = b.band
        |  GROUP BY 1, 2),
        |bdf AS (
        |  SELECT band, bv FROM bands GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 100),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a
        |  JOIN bdf k ON k.band = a.band AND k.bv = a.bv
        |  JOIN bands b
        |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |ham AS (
        |  SELECT doc_a, doc_b,
        |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
        |  FROM cand
        |  JOIN bands x ON x.doc_id = doc_a
        |  JOIN bands y ON y.doc_id = doc_b AND y.band = x.band
        |  GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b FROM ham WHERE hamming <= 3),
        |deg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_near FROM (
        |    SELECT doc_a AS doc_id FROM pairs
        |    UNION ALL SELECT doc_b AS doc_id FROM pairs) GROUP BY 1)
        |SELECT b.doc_id,
        |  max(CASE WHEN band = 0 THEN bv END) AS b0,
        |  max(CASE WHEN band = 1 THEN bv END) AS b1,
        |  max(CASE WHEN band = 2 THEN bv END) AS b2,
        |  max(CASE WHEN band = 3 THEN bv END) AS b3,
        |  CAST(COALESCE(max(n_near), 0) AS BIGINT) AS n_near
        |FROM bands b LEFT JOIN deg USING (doc_id)
        |GROUP BY b.doc_id""".stripMargin

  /** The caption↔media pair audit in SQL — the full pipeline
    * (character-code bands → residue-rule pair fixture → hamming
    * verdicts → per-source counts), shared verbatim by the batch
    * entry and its streamed retro-resolving face. */
  private val PairAuditSql: String =
    """WITH chars AS (
      |  SELECT doc_id, unnest(split(text, '')) AS c FROM documents),
      |hist AS (
      |  SELECT doc_id, ord(c) % 64 AS bucket, count(*) AS cnt
      |  FROM chars GROUP BY 1, 2),
      |len AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents),
      |bits AS (
      |  SELECT h.doc_id, bucket // 16 AS band, bucket % 16 AS pos,
      |    CASE WHEN cnt * 64 > n THEN 1 ELSE 0 END AS bit
      |  FROM hist h JOIN len USING (doc_id)),
      |bands AS MATERIALIZED (
      |  SELECT d.doc_id, b.band,
      |    CAST(COALESCE(sum(bit << pos), 0) AS BIGINT) AS bv
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
      |  LEFT JOIN bits ON bits.doc_id = d.doc_id AND bits.band = b.band
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_id AS caption_id, source,
      |    CASE WHEN doc_id % 23 = 5 THEN doc_id + 1000000
      |         WHEN doc_id % 17 = 3 THEN doc_id + 1
      |         ELSE doc_id END AS media_id
      |  FROM documents),
      |ham AS (
      |  SELECT p.caption_id, p.media_id,
      |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
      |  FROM pairs p
      |  JOIN bands x ON x.doc_id = p.caption_id
      |  JOIN bands y ON y.doc_id = p.media_id AND y.band = x.band
      |  GROUP BY 1, 2),
      |aud AS (
      |  SELECT p.source,
      |    CASE WHEN h.hamming IS NULL THEN 'orphan'
      |         WHEN h.hamming <= 3 THEN 'match' ELSE 'conflict' END AS v
      |  FROM pairs p LEFT JOIN ham h
      |    ON h.caption_id = p.caption_id AND h.media_id = p.media_id)
      |SELECT source, count(*) AS n_pairs,
      |  CAST(sum(CASE WHEN v = 'match' THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
      |  CAST(sum(CASE WHEN v = 'conflict' THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
      |  CAST(sum(CASE WHEN v = 'orphan' THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
      |FROM aud GROUP BY source""".stripMargin

  /** The gopher->dedup audit composition in SQL — shared verbatim
    * by the batch entry and its streaming maintenance face. */
  private val QualityAuditSql: String =
    """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |st AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(sum(length(w) * c) AS BIGINT) AS tot_chars,
        |    count(*) AS n_distinct,
        |    max(c) AS max_cnt,
        |    count(DISTINCT CASE WHEN w IN ('the','and','of','to','in','is',
        |      'that','for','with','was') THEN w END) AS n_stop
        |  FROM wc GROUP BY doc_id),
        |fl AS (SELECT doc_id, n_words,
        |    (n_words >= 20 AND n_words <= 2000)
        |      AND (3 * n_words <= tot_chars AND tot_chars <= 10 * n_words)
        |      AND n_stop >= 2 AND 10 * max_cnt <= 3 * n_words
        |      AND 2 * (n_words - n_distinct) <= n_words AS keep
        |  FROM st),
        |d AS (SELECT doc.doc_id, doc.source,
        |    md5(lower(trim(regexp_replace(doc.text, '\s+', ' ', 'g')))) AS h,
        |    fl.keep, fl.n_words
        |  FROM documents doc JOIN fl ON fl.doc_id = doc.doc_id),
        |mk AS (SELECT *,
        |    CASE WHEN keep AND doc_id =
        |      min(CASE WHEN keep THEN doc_id END) OVER (PARTITION BY h)
        |    THEN 1 ELSE 0 END AS survivor FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |  CAST(sum(survivor) AS BIGINT) AS n_unique,
        |  CAST(sum(CASE WHEN survivor = 1 THEN n_words ELSE 0 END) AS BIGINT) AS tokens_unique
        |FROM mk GROUP BY source""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "mr_wordcount" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
        |  FROM documents)
        |SELECT word, count(*) AS cnt FROM toks WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_inverted_index" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
        |    FROM documents)
        |  WHERE word <> '')
        |SELECT word, count(*) AS n_docs,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS docs
        |FROM toks GROUP BY word""".stripMargin,
    "mr_grep" ->
      """SELECT doc_id, len(regexp_extract_all(text, 'th[ei]')) AS n_matches
        |FROM documents
        |WHERE len(regexp_extract_all(text, 'th[ei]')) > 0""".stripMargin,
    "mr_sort" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
        |  FROM documents)
        |SELECT word, count(*) AS cnt FROM toks WHERE word <> ''
        |GROUP BY word ORDER BY cnt DESC, word ASC""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE)      AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2)      AS avg_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_price,
        |  count(*)                                           AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_agg" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_odate, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority""".stripMargin,
    "q5_star_join" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "q9_profit_shape" ->
      """SELECT n_name, p_brand,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                 * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_size <= 20
        |GROUP BY n_name, p_brand""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "q_topk_per_key" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rk
        |FROM ranked WHERE rk <= 3""".stripMargin,
    "q_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC, l_extendedprice ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_rev
        |FROM lineitem""".stripMargin,
    "q_rollup" ->
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus))
        |SELECT * FROM g WHERE EXISTS (SELECT 1 FROM lineitem)""".stripMargin,
    "q_grouping_sets" ->
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()))
        |SELECT * FROM g WHERE EXISTS (SELECT 1 FROM lineitem)""".stripMargin,
    "q_hourly_active" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS bucket,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events
        |GROUP BY 1""".stripMargin,
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > t_view GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > t_click GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2
        |            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |  LEFT JOIN p USING (user_id)""".stripMargin,
    // Integer-division semantics note: Spark's `div` truncates toward
    // zero, DuckDB's `//` floors — they agree only on non-negative
    // operands. The events table's ts is generated >= epoch (ts_ns >
    // 0), so the hour bucketing here cannot diverge; pre-1970
    // timestamps would need an explicit floor on the Spark side
    // (mirroring the pmod care taken in dedup_incremental).
    "q_retention" ->
      """WITH uh AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 3600000000000 AS h FROM events),
        |f AS (SELECT user_id, min(h) AS h0 FROM uh GROUP BY 1)
        |SELECT h0 AS cohort_hour, (h - h0) AS offset_h, count(*) AS n_users
        |FROM uh JOIN f USING (user_id)
        |WHERE h - h0 <= 3
        |GROUP BY 1, 2""".stripMargin,
    "q_gap_fill" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_ns(ts) // 3600000000000 AS h, count(*) AS n,
        |    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |  FROM events WHERE user_id < 100 GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(min(h), max(h))) AS h
        |  FROM hourly GROUP BY user_id)
        |SELECT g.user_id, g.h,
        |  CAST(COALESCE(hourly.n, 0) AS BIGINT) AS n,
        |  COALESCE(hourly.total_value, 0.0) AS total_value
        |FROM grid g LEFT JOIN hourly USING (user_id, h)""".stripMargin,
    // Positive counts only, so DuckDB's floor-division // agrees with
    // Spark's truncating div (the q_retention caveat).
    "q_skew_profile" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM events),
        |top AS (SELECT key, n FROM c ORDER BY n DESC, key LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rk,
        |  key, n, (n * 1000000 // total) AS ppm
        |FROM top CROSS JOIN t""".stripMargin,
    // The Morton interleave as explicit bit arithmetic — generated
    // term-by-term so the oracle exercises the same 21-bit interleave
    // the Sources.zValue fold builds, in DuckDB's own operators.
    "q_zorder" -> {
      val terms = (0 until 21).map(i =>
        s"(((l_partkey >> $i) & 1) << ${2 * i}) | (((l_suppkey >> $i) & 1) << ${2 * i + 1})")
        .mkString(" | ")
      s"""WITH z AS (SELECT ($terms) AS zv FROM lineitem)
         |SELECT (zv >> 10) AS bucket, count(*) AS n,
         |  min(zv) AS z_min, max(zv) AS z_max
         |FROM z GROUP BY 1""".stripMargin
    },
    // Orientation-free oracle: the a<b<c three-way join counts each
    // triangle exactly once, independently of the degree-ordered
    // wedge plan the Spark side uses — a genuinely different
    // algorithm agreeing on every integer is the strongest check.
    "q_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, count(*) AS d FROM (
        |  SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
        |t AS (SELECT count(*) AS triangles
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT count(*) FROM deg) AS nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       triangles FROM t""".stripMargin,
    // a genuinely different algorithm (transitive closure + mutual
    // reachability vs FW-BW coloring) agreeing on every label — the
    // q_triangles oracle philosophy
    "q_scc" -> SccSql,
    // incremental maintenance converges to the batch decomposition
    // (min-label SCCs are invariant under incremental min-merge;
    // condensation is associative), so the face shares the closure
    // oracle verbatim
    "stream_scc" -> SccSql,
    // the closure oracle over the md5-sampled edge set (sampling
    // reproduced character-for-character: 150 permille -> first 4
    // md5 hex chars < '2666'), then distinct cross-SCC label pairs
    "q_scc_condensation" ->
      """WITH RECURSIVE li AS (
        |  SELECT l_orderkey AS o, l_linenumber AS ln, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM li a JOIN li b ON a.o = b.o AND b.ln = a.ln + 1 WHERE a.p <> b.p),
        |e AS MATERIALIZED (SELECT u, v FROM e0
        |  WHERE substr(md5('scc:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4) < '2666'),
        |n AS MATERIALIZED (SELECT DISTINCT node FROM
        |  (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)),
        |reach(s, t) AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.s, e.v FROM reach r JOIN e ON e.u = r.t),
        |mutual AS MATERIALIZED (
        |  SELECT r1.s AS a, r1.t AS b FROM reach r1
        |  JOIN reach r2 ON r2.s = r1.t AND r2.t = r1.s),
        |mm AS (SELECT a, min(b) AS mb FROM mutual GROUP BY a),
        |lab AS MATERIALIZED (
        |  SELECT node, least(node, coalesce(mm.mb, node)) AS lab
        |  FROM n LEFT JOIN mm ON mm.a = n.node)
        |SELECT DISTINCT CAST(lu.lab AS BIGINT) AS src_scc, CAST(lv.lab AS BIGINT) AS dst_scc
        |FROM e JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v
        |WHERE lu.lab <> lv.lab""".stripMargin,
    // same condensation, then the unrolled longest-path ladder —
    // every (scc, depth) integer must agree with the delta-propagated
    // Spark fixpoint
    "q_topo_layers" -> TopoLayersSql,
    // the maintained condensation lays out to the same waves after
    // the drain (committed batches keep qPath in current label space)
    "stream_topo_layers" -> TopoLayersSql,
    // closure-free sf1 gates: linear flood rounds + the pinned
    // label_match certificate (batch and maintained labels share it)
    "q_scc_flood" -> SccFloodSql,
    "stream_scc_flood" -> SccFloodSql,
    "q_topo_layers_dag" -> TopoDagSql,
    // the PagerankRoundCtes ladder over the co-purchase graph: same
    // integer fixed-point arithmetic, so pr10 is bit-identical
    "q_pagerank" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |edges AS MATERIALIZED (SELECT u AS a, v AS b FROM e0 UNION SELECT v, u FROM e0),
        |deg AS MATERIALIZED (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
        |pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM deg),
        |$PagerankRoundCtes
        |SELECT doc_id AS part_id, CAST(pr AS BIGINT) AS pr FROM pr10""".stripMargin,
    // same ladder over the md5-sampled edge set (100 permille ->
    // first 4 md5 hex chars < '1999'): the oracle at sf1 costs what
    // the full ladder costs at sf0.1
    "q_pagerank_sample" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |es AS MATERIALIZED (SELECT u, v FROM e0
        |  WHERE substr(md5('prs:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4) < '1999'),
        |edges AS MATERIALIZED (SELECT u AS a, v AS b FROM es UNION SELECT v, u FROM es),
        |deg AS MATERIALIZED (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
        |pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM deg),
        |$PagerankRoundCtes
        |SELECT doc_id AS part_id, CAST(pr AS BIGINT) AS pr FROM pr10""".stripMargin,
    "q_kcore" ->
      s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |$KcoreRoundCtes
        |SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM e8 UNION ALL SELECT v FROM e8)
        |GROUP BY node""".stripMargin,
    // Recursive-CTE BFS: enumerate (node, dist) pairs level by level
    // (capped at the same 30 rounds as the Spark frontier traversal)
    // and take min(dist) — path enumeration + aggregation vs frontier
    // expansion, agreeing on every integer
    "q_bfs" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |und AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |walk(node, dist) AS (
        |  (SELECT min(a), 0 FROM und HAVING count(*) > 0)
        |  UNION
        |  SELECT u2.b, w.dist + 1 FROM walk w JOIN und u2 ON u2.a = w.node
        |  WHERE w.dist < 30)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node""".stripMargin,
    // the same recursive re-walk seeded with the 4 smallest nodes;
    // min over (src, node) then histogram — every integer must agree
    "q_bfs_histogram" -> BfsHistogramSql,
    "stream_bfs_histogram" -> BfsHistogramSql,
    // per-term micros floor BEFORE the sum (the 33j discipline) makes
    // the harmonic sum exact; (hc desc, node) is a total order
    "q_harmonic" -> HarmonicSql,
    "stream_harmonic" -> HarmonicSql,
    // three-branch UNION ALL — a different formulation of the same
    // melt; parquet doubles pass through both engines unchanged
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem""".stripMargin,
    // IS NOT DISTINCT FROM is DuckDB's null-safe equality
    "q_null_semantics" ->
      """WITH k AS (
        |  SELECT DISTINCT CASE WHEN round(l_tax, 2) = 0.04 THEN NULL
        |                       ELSE round(l_tax, 2) END AS k
        |  FROM lineitem)
        |SELECT (SELECT count(*) FROM k) AS n_keys,
        |  (SELECT count(k) FROM k) AS n_nonnull_keys,
        |  (SELECT count(*) FROM k a JOIN k b ON a.k = b.k) AS n_eq_pairs,
        |  (SELECT count(*) FROM k a JOIN k b
        |     ON a.k IS NOT DISTINCT FROM b.k) AS n_nullsafe_pairs""".stripMargin,
    // unique (ts, event_id) order key -> every lag deterministic
    "q_transitions" ->
      """SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
        |FROM (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS prev_type
        |  FROM events) t
        |WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // the stateful stream converges to the same matrix (one-row
    // carry per user), so the oracle is q_transitions' verbatim
    "stream_transitions" ->
      """SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
        |FROM (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ns(ts), event_id) AS prev_type
        |  FROM events) t
        |WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // orientation-free triangle count + closed-form wedge sum; the
    // ppm ratio is integer division on both sides
    "q_clustering" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |t AS (SELECT count(*) AS ts FROM e e1 JOIN e e2 ON e1.v = e2.u
        |      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |d AS (SELECT n, count(*) AS d FROM (
        |      SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
        |w AS (SELECT COALESCE(sum(d * (d - 1)), 0) // 2 AS wedges FROM d)
        |SELECT (SELECT count(*) FROM d) AS nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       CAST(w.wedges AS BIGINT) AS wedges,
        |       CAST(t.ts AS BIGINT) AS triangles,
        |       CAST(CASE WHEN w.wedges = 0 THEN 0
        |            ELSE 3 * t.ts * 1000000 // w.wedges END AS BIGINT) AS global_cc_ppm
        |FROM t, w""".stripMargin,
    // two recursive walks, the second seeded from the first's
    // (dist DESC, node) argmax — the exact double-sweep tie rule
    "q_diameter" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |und AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |walk1(node, dist) AS (
        |  (SELECT min(a), 0 FROM und HAVING count(*) > 0)
        |  UNION
        |  SELECT u2.b, w.dist + 1 FROM walk1 w JOIN und u2 ON u2.a = w.node
        |  WHERE w.dist < 30),
        |d1 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM walk1 GROUP BY node),
        |far AS MATERIALIZED (SELECT node, dist FROM d1 ORDER BY dist DESC, node LIMIT 1),
        |walk2(node, dist) AS (
        |  (SELECT node, 0 FROM far)
        |  UNION
        |  SELECT u2.b, w.dist + 1 FROM walk2 w JOIN und u2 ON u2.a = w.node
        |  WHERE w.dist < 30),
        |d2 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM walk2 GROUP BY node)
        |SELECT (SELECT min(a) FROM und) AS seed,
        |       (SELECT CAST(max(dist) AS BIGINT) FROM d1) AS ecc_seed,
        |       (SELECT node FROM far) AS far_node,
        |       (SELECT CAST(max(dist) AS BIGINT) FROM d2) AS diameter_lb
        |WHERE (SELECT count(*) FROM und) > 0""".stripMargin,
    // the streamed maintenance face converges to the SAME distances
    // as batch BFS over the union (dynamic-BFS exactness), so the
    // oracle is q_bfs's verbatim
    "stream_bfs" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |und AS MATERIALIZED (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        |walk(node, dist) AS (
        |  (SELECT min(a), 0 FROM und HAVING count(*) > 0)
        |  UNION
        |  SELECT u2.b, w.dist + 1 FROM walk w JOIN und u2 ON u2.a = w.node
        |  WHERE w.dist < 30)
        |SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node""".stripMargin,
    // weighted sibling: multiplicity-derived integer edge lengths
    // (10 − least(9, shared orders)) and a 20-round unrolled
    // Bellman-Ford min-aggregate ladder — all-integer distances, so
    // every value must agree with the Spark delta-relaxation
    "q_sssp" -> SsspSql,
    // the streamed maintenance face converges to the same distances
    // (dynamic weighted relaxation), so the oracle is q_sssp's
    "stream_sssp" -> SsspSql,
    // the MST family's hash gate: any minimum spanning forest has the
    // same (n_edges, total_weight, n_components), and weight =
    // Σ_{t=0}^{W-1} (c(t) − c(W)) over per-threshold component
    // counts — computed here by the unrolled multi-threshold
    // min-label flood (weights live in [1, 9] by construction)
    "q_mst_summary" -> MstSummarySql,
    // the maintained forest equals the batch MST over the union (the
    // sparsification identity MST(A ∪ B) = MST(MST(A) ∪ B) under the
    // unique (w,u,v) total order), so the streamed summary shares
    // the oracle verbatim
    "stream_mst_summary" -> MstSummarySql,
    // synchronous LPA: 5 unrolled rounds, (count DESC, label ASC)
    // winner per node — all-integer, must agree label-for-label
    "q_label_prop" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |und AS MATERIALIZED (SELECT u AS a, v AS b FROM e0 UNION ALL SELECT v, u FROM e0),
        |lp0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label FROM und),
        |$LabelPropRoundCtes
        |SELECT node, label FROM lp5""".stripMargin,
    // 4-truss on the 0x4000-sampled subgraph: 4 unrolled
    // support-peel rounds; surviving edges must agree one-for-one
    "q_ktruss" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0full AS (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |te0 AS MATERIALIZED (SELECT u, v FROM e0full
        |     WHERE substr(md5('tri:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4) < '4000'),
        |$KtrussRoundCtes
        |SELECT u, v FROM te4""".stripMargin,
    // The sketch-peeled variant reproduces ESTIMATE-for-ESTIMATE:
    // the CMS matrix is rebuilt per round in SQL with the q_count_min
    // cell hash, so the oracle inherits the collisions too
    "q_kcore_approx" ->
      s"""WITH rows_ AS (SELECT unnest(generate_series(0, 3)) AS j),
        |items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ae0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |$KcoreApproxRoundCtes
        |SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM ae8 UNION ALL SELECT v FROM ae8)
        |GROUP BY node""".stripMargin,
    // the sketch-peel ladder over the md5-sampled edge set (200
    // permille -> '3333'), k rescaled to the sampled degree — the
    // sf1-affordable gate for the CMS peel machinery
    "q_kcore_approx_sample" ->
      s"""WITH rows_ AS (SELECT unnest(generate_series(0, 3)) AS j),
        |items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |sed AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |ae0 AS MATERIALIZED (SELECT u, v FROM sed
        |  WHERE substr(md5('kcs:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4) < '3333'),
        |${kcoreApproxRoundCtes(14)}
        |SELECT node, count(*) AS deg FROM (
        |  SELECT u AS node FROM ae8 UNION ALL SELECT v FROM ae8)
        |GROUP BY node""".stripMargin,
    // The sampled path reproduces end to end: same md5 threshold
    // predicate, same orientation-free triangle count on the
    // sparsified edges, same exactly-representable 8.0 scale.
    "q_triangles_approx" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |e AS (SELECT u, v FROM e0
        |      WHERE substr(md5('tri:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4) < '8000'),
        |t AS (SELECT count(*) AS ts
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT count(*) FROM e) AS n_edges_sampled,
        |       ts AS triangles_sampled,
        |       CAST(floor(ts * 8.0 + 0.5) AS BIGINT) AS triangles_est FROM t""".stripMargin,
    "q_triangles_approx_q" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |e AS (SELECT u, v FROM e0
        |      WHERE substr(md5('tri:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4) < '4000'),
        |t AS (SELECT count(*) AS ts
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT count(*) FROM e) AS n_edges_sampled,
        |       ts AS triangles_sampled,
        |       CAST(floor(ts * 64.0 + 0.5) AS BIGINT) AS triangles_est FROM t""".stripMargin,
    // Non-power-of-two p: the realized threshold probability is
    // 13107/65536 (exactly representable — division by 2^16), and
    // 1/p^3 is built with the same left-associated IEEE-double
    // multiply order as the Scala side, so the ~125.008 scale — and
    // the floored estimate — reproduce bit-for-bit
    "q_triangles_approx_p2" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |e AS (SELECT u, v FROM e0
        |      WHERE substr(md5('tri:' || CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)), 1, 4) < '3333'),
        |t AS (SELECT count(*) AS ts
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u
        |                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT count(*) FROM e) AS n_edges_sampled,
        |       ts AS triangles_sampled,
        |       CAST(floor(ts * (1.0 / ((13107.0 / 65536.0) * (13107.0 / 65536.0) * (13107.0 / 65536.0))) + 0.5) AS BIGINT) AS triangles_est
        |FROM t""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q_events_window" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS bucket,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    // the same two-window sweep (running max-end flags island
    // starts, running sum numbers them) — all-integer day arithmetic
    // so every count/length/ppm must agree exactly
    "q_interval_coverage" -> IntervalCoverageSql,
    // the maintained island store folds to the same summary after
    // the drain (interval union is associative; weights keep
    // n_intervals exact)
    "stream_interval_coverage" -> IntervalCoverageSql,
    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns, value FROM events),
        |gapped AS (
        |  SELECT user_id, event_id, value, tns,
        |    CASE WHEN lag(tns) OVER w IS NULL
        |         OR tns - lag(tns) OVER w > 1800000000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM flagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tns ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tns ASC, event_id ASC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM gapped)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    // Native session windows: events exactly gap apart MERGE
    // (inclusive boundary — same convention as q_sessionize's
    // diff > gap split test; spec-pinned at the µs knife edge);
    // µs timestamps (TimestampType resolution), session_end =
    // last event + gap.
    "q_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
        |gapped AS (
        |  SELECT user_id, event_id, value, tus,
        |    CASE WHEN lag(tus) OVER w IS NULL
        |         OR tus - lag(tus) OVER w > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM flagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, value, tus,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM gapped)
        |SELECT user_id, min(tus) AS session_start_us,
        |  max(tus) + 1800000000 AS session_end_us,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    // µs, not ns: DuckDB truncates the TIMESTAMP(NANOS) parquet
    // column to µs on read; equal-µs ordering ties break by event_id
    // in both engines.
    "q_scd2" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
        |r AS (
        |  SELECT user_id, event_type, tus, event_id,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |         OR lag(event_type) OVER w <> event_type
        |    THEN 1 ELSE 0 END AS new_run
        |  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus ASC, event_id ASC)),
        |rr AS (
        |  SELECT user_id, event_type, tus,
        |    CAST(sum(new_run) OVER (PARTITION BY user_id ORDER BY tus ASC, event_id ASC
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |  FROM r),
        |iv AS (
        |  SELECT user_id, run_id, min(event_type) AS state,
        |    min(tus) AS valid_from_us, count(*) AS n_obs
        |  FROM rr GROUP BY 1, 2)
        |SELECT user_id, run_id, state, valid_from_us,
        |  COALESCE(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id),
        |           9223372036854775807) AS valid_to_us,
        |  n_obs
        |FROM iv""".stripMargin,
    // The CMS inner-product join-size estimate reproduces exactly
    // (md5 cells, no RNG): est = min over rows of Σ_cell A·B, always
    // >= the exact count since collisions only add.
    "q_join_size_est" ->
      """WITH rows_ AS (SELECT unnest(generate_series(0, 3)) AS j),
        |ca AS (
        |  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(l_orderkey AS VARCHAR)), 1, 12))::BIGINT % 65536 AS cell,
        |    count(*) AS c
        |  FROM lineitem CROSS JOIN rows_ GROUP BY 1, 2),
        |cb AS (
        |  SELECT j, ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT % 65536 AS cell,
        |    count(*) AS c
        |  FROM orders CROSS JOIN rows_ GROUP BY 1, 2),
        |prod AS (
        |  SELECT r.j, COALESCE(sum(CAST(ca.c AS HUGEINT) * cb.c), 0) AS ip
        |  FROM rows_ r
        |  LEFT JOIN ca ON ca.j = r.j
        |  LEFT JOIN cb ON cb.j = ca.j AND cb.cell = ca.cell
        |  GROUP BY r.j),
        |e AS (SELECT CAST(min(ip) AS BIGINT) AS est FROM prod),
        |x AS (SELECT count(*) AS exact
        |      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT est, exact,
        |  CASE WHEN exact = 0 THEN 0 ELSE (est - exact) * 1000000 // exact END AS err_ppm
        |FROM e, x""".stripMargin,
    // The histogram sketch is all-integer (bin = n_chars div width,
    // est = upper edge of the first bin reaching ceil(q*N/1000)), so
    // like q_count_min the ESTIMATES are hash-checked, not
    // tolerance-checked.
    "q_quantile_sketch" ->
      """WITH h AS (
        |  SELECT CAST(n_chars AS BIGINT) // 20 AS bin, count(*) AS c
        |  FROM documents GROUP BY 1),
        |cum AS (SELECT bin, sum(c) OVER (ORDER BY bin) AS cum FROM h),
        |n AS (SELECT count(*) AS n FROM documents),
        |qs(q) AS (VALUES (500), (900), (990))
        |SELECT qs.q AS q_permille,
        |  coalesce((SELECT min(bin) FROM cum WHERE cum >= (qs.q * n.n + 999) // 1000) * 20 + 20, 0) AS est,
        |  n.n AS n_total
        |FROM qs, n""".stripMargin,
    // the KLL estimates are merge-order-dependent (rows-only entries
    // q_kll_sketch / stream_kll), but the audit SUMMARY is not: the
    // probe set, exact target ranks, and corpus count are
    // oracle-computable, and `1 AS within_bound` pins the CLAIM that
    // the measured rank error stays under the suite's 2% bound —
    // a drifting sketch hash-mismatches here instead of hiding
    // behind the rows-only gate
    "q_kll_audit" ->
      """WITH n AS (SELECT count(*) AS n_total FROM documents),
        |qs(q) AS (VALUES (10), (250), (500), (750), (900), (990))
        |SELECT qs.q AS q_permille,
        |  CAST((qs.q * n.n_total + 999) // 1000 AS BIGINT) AS target_rank,
        |  n.n_total AS n_total, CAST(1 AS BIGINT) AS within_bound
        |FROM qs, n WHERE n.n_total > 0""".stripMargin,
    "stream_kll_audit" ->
      """WITH n AS (SELECT count(*) AS n_total FROM documents),
        |qs(q) AS (VALUES (10), (250), (500), (750), (900), (990))
        |SELECT qs.q AS q_permille,
        |  CAST((qs.q * n.n_total + 999) // 1000 AS BIGINT) AS target_rank,
        |  n.n_total AS n_total, CAST(1 AS BIGINT) AS within_bound
        |FROM qs, n WHERE n.n_total > 0""".stripMargin,
    "q_snapshot_diff" ->
      """WITH vold AS (
        |  SELECT doc_id AS k, md5(text) AS oh FROM documents WHERE doc_id % 41 <> 0),
        |vnew AS (
        |  SELECT doc_id AS k,
        |    md5(CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END) AS nh
        |  FROM documents WHERE doc_id % 43 <> 0)
        |SELECT CASE WHEN oh IS NULL THEN 'added'
        |            WHEN nh IS NULL THEN 'removed'
        |            WHEN oh <> nh THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |  count(*) AS n
        |FROM vold FULL OUTER JOIN vnew USING (k)
        |GROUP BY 1""".stripMargin,
    "q_fk_audit" ->
      """SELECT 'lineitem.l_orderkey->orders' AS relation,
        |  (SELECT count(*) FROM lineitem) AS n_rows,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))""".stripMargin,
    // Hopping windows: each event lands in duration/slide = 2
    // epoch-aligned windows — reproduced by a 2-element offset unnest.
    "q_hopping_window" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS tus, event_type, value FROM events),
        |w AS (
        |  SELECT (tus // 3600000000 - k) * 3600000000 AS ws_us, event_type, value
        |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |SELECT ws_us, event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    // Integer-micros TF-IDF weights (the ta_surprisal ln pattern):
    // dot products and norms are exact HUGEINT sums; the only float
    // ops are the final cast/sqrt/divide — identical in both engines,
    // so a cosine SIMILARITY hash-checks. Round-then-filter keeps the
    // threshold boundary-safe.
    "ta_tfidf_cosine" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(unnest(regexp_split_to_array(text, '[^A-Za-z]+'))) AS word
        |  FROM documents),
        |t2 AS (SELECT doc_id, word FROM toks WHERE word <> ''),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM t2 GROUP BY 1, 2),
        |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 100),
        |nd AS (SELECT count(*) AS n FROM documents),
        |wt AS (
        |  SELECT tf.doc_id, tf.word,
        |    tf.tf * CAST(floor(ln(CAST(nd.n AS DOUBLE) / CAST(dfx.df AS DOUBLE))
        |      * 1000000 + 0.5) AS BIGINT) AS w
        |  FROM tf JOIN dfx USING (word) CROSS JOIN nd),
        |norms AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM wt GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    sum(CAST(a.w AS HUGEINT) * b.w) AS dot
        |  FROM wt a JOIN wt b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
        |  FROM dots
        |  JOIN norms na ON na.doc_id = doc_a
        |  JOIN norms nb ON nb.doc_id = doc_b)
        |SELECT doc_a, doc_b, cosine FROM scored WHERE cosine >= 0.3""".stripMargin,
    "q_global_topk" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS score, rk FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 100""".stripMargin,
    "q_topk_per_key_agg" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS score, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders)
        |WHERE rk <= 3""".stripMargin,
    "q_cube" ->
      """WITH g AS (SELECT l_returnflag, l_linestatus,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus))
        |SELECT * FROM g WHERE EXISTS (SELECT 1 FROM lineitem)""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin,
    "q_percentile" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q_setops" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000""".stripMargin,
    "q_setops_except" ->
      """SELECT o_custkey, count(*) AS n_regular FROM (
        |  SELECT o_custkey FROM orders
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
        |GROUP BY o_custkey""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(COALESCE(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)), 0) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_corr_subquery" ->
      """SELECT c_custkey, c_name,
        |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer""".stripMargin,
    "q_latest_per_key" ->
      """SELECT user_id, event_id, event_type,
        |  CAST(round(CAST(value AS DECIMAL(18,6)), 2) AS DOUBLE) AS value
        |FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rk
        |  FROM events)
        |WHERE rk = 1""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(least(greatest(floor(o_totalprice / 30000.0), 0), 19) AS BIGINT) AS bucket,
        |  count(*) AS n,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders
        |GROUP BY 1""".stripMargin,
    "q_profile" ->
      """SELECT 'o_custkey' AS column_name, count(*) AS n_rows,
        |  count(o_custkey) AS n_nonnull, count(DISTINCT o_custkey) AS n_distinct
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(o_orderstatus),
        |  count(DISTINCT o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(o_totalprice),
        |  count(DISTINCT o_totalprice) FROM orders""".stripMargin,
    "q_moving_hourly" ->
      """SELECT user_id, event_id,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_ns(ts)
        |    RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
        |    AS hour_value
        |FROM events""".stripMargin,
    "q_moving_avg" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS avg4
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC,
        |                      l_extendedprice ASC
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_ntile_rank" ->
      """SELECT o_orderstatus, o_orderkey,
        |  ntile(10) OVER w AS decile,
        |  round(percent_rank() OVER w, 6) AS pct_rank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "q_argmax" ->
      """WITH mx AS (
        |  SELECT o_orderstatus AS st, max(o_totalprice) AS mp FROM orders GROUP BY 1)
        |SELECT o_orderstatus, round(max(mp), 2) AS max_price,
        |  min(o_orderkey) AS argmax_orderkey
        |FROM orders JOIN mx ON o_orderstatus = st AND o_totalprice = mp
        |GROUP BY o_orderstatus""".stripMargin,
    "q_asof_join" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS click_event_id, epoch_ns(ts) AS tns,
        |    CAST(round(CAST(value AS DECIMAL(18,6)), 2) AS DOUBLE) AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, c.click_event_id, c.click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.tns <= p.tns""".stripMargin,
    // nearest in either direction: explicit argmin window (abs
    // distance, backward-on-tie, larger click id at the chosen ts) —
    // a different formulation than the two-carry Spark plan
    "q_asof_nearest" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id AS cuid, event_id AS click_event_id, epoch_ns(ts) AS ctns
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.user_id, p.event_id, c.click_event_id,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY abs(c.ctns - p.tns),
        |        CASE WHEN c.ctns <= p.tns THEN 0 ELSE 1 END,
        |        c.click_event_id DESC) AS rn
        |  FROM p LEFT JOIN c ON c.cuid = p.user_id)
        |SELECT user_id, event_id, click_event_id FROM j WHERE rn = 1""".stripMargin,
    "q_asof_forward" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS click_event_id, epoch_ns(ts) AS tns,
        |    CAST(round(CAST(value AS DECIMAL(18,6)), 2) AS DOUBLE) AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, c.click_event_id, c.click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.tns >= p.tns""".stripMargin,
    // ASOF picks the LATEST click <= purchase; if that one is outside
    // the tolerance every earlier one is older still, so masking the
    // payload (not falling back) is the exact pandas merge_asof rule.
    "q_asof_tolerance" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS click_event_id, epoch_ns(ts) AS tns,
        |    CAST(round(CAST(value AS DECIMAL(18,6)), 2) AS DOUBLE) AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id,
        |  CASE WHEN p.tns - c.tns <= 3600000000000 THEN c.click_event_id END AS click_event_id,
        |  CASE WHEN p.tns - c.tns <= 3600000000000 THEN c.click_value END AS click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.tns <= p.tns""".stripMargin,
    "q_asof_join_native" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, event_id AS click_event_id, epoch_ns(ts) AS tns,
        |    CAST(round(CAST(value AS DECIMAL(18,6)), 2) AS DOUBLE) AS click_value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, c.click_event_id, c.click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.tns <= p.tns""".stripMargin,
    "q_range_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns FROM events
        |  WHERE event_type = 'error'),
        |c AS (
        |  SELECT user_id, epoch_ns(ts) AS tns FROM events WHERE event_type = 'click')
        |SELECT e.event_id, count(*) AS n_nearby_clicks
        |FROM e JOIN c ON e.user_id = c.user_id
        |  AND c.tns >= e.tns - 1800000000000 AND c.tns <= e.tns + 1800000000000
        |GROUP BY e.event_id""".stripMargin,
    // the oracle runs the overlap join as the plain inequality join
    // the binned plan refuses to be — same closed-interval convention
    // (s_start <= i_end AND i_start <= s_end), same integer overlap
    "q_interval_overlap" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns FROM events),
        |gapped AS (
        |  SELECT user_id, event_id, tns,
        |    CASE WHEN lag(tns) OVER w IS NULL
        |         OR tns - lag(tns) OVER w > 1800000000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tns ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, tns,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tns ASC, event_id ASC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM gapped),
        |s AS (
        |  SELECT user_id, session_id, min(tns) AS s_start, max(tns) AS s_end
        |  FROM sess GROUP BY user_id, session_id),
        |ih AS (
        |  SELECT tns // 3600000000000 AS hr,
        |    (tns // 3600000000000) * 3600000000000 AS i_start,
        |    ((tns // 3600000000000) + 1) * 3600000000000 - 1 AS i_end
        |  FROM ev WHERE event_type = 'error'),
        |ih2 AS (
        |  SELECT hr, min(i_start) AS i_start, min(i_end) AS i_end
        |  FROM ih GROUP BY hr HAVING count(*) >= 5)
        |SELECT s.user_id, s.session_id, ih2.hr AS incident_hr,
        |  least(s.s_end, ih2.i_end) - greatest(s.s_start, ih2.i_start) + 1 AS overlap_ns
        |FROM s JOIN ih2 ON s.s_start <= ih2.i_end AND ih2.i_start <= s.s_end""".stripMargin,
    "dedup_exact" ->
      """SELECT content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies FROM (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
        |  FROM documents)
        |GROUP BY content_hash""".stripMargin,
    // mirrors Dedup.syntheticUrls + Dedup.canonicalizeUrl step for
    // step (doc_id is non-negative so % == pmod here)
    "dedup_url" -> UrlDedupSql,
    // C4-style line dedup: corpus-first occurrence per segment md5
    // (the Spark min(struct) ≡ the window's (doc_id, seg_idx) rank-1
    // row), reassembly = ordered string_agg of kept segments
    "dedup_lines" ->
      s"""WITH $LineSegsSql,
        |ranked AS (
        |  SELECT doc_id, seg_idx, seg,
        |    row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs)
        |SELECT doc_id, count(*) AS n_segs,
        |  count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '')
        |    AS clean_text
        |FROM ranked GROUP BY doc_id""".stripMargin,
    "stream_line_dedup" -> LineSurvivorsSql,
    // mirrors cdcChunks step for step: position fingerprints, the
    // boundary residue, consecutive-pair slices, chunk md5
    // direct substring grouping per probed length — a genuinely
    // different algorithm from the prefix-doubling rank chain,
    // agreeing on every integer (the q_triangles oracle philosophy)
    "dedup_suffix_profile" -> SuffixProfileSql,
    // the streamed face resolves the SAME profile from its maintained
    // window store — identical exact-integer core, identical oracle
    "stream_suffix_profile" -> SuffixProfileSql,
    // election over the shared profile CTE: cheapest probed length
    // within the ppm budget, else the longest (fallback)
    "dedup_span_elect" ->
      s"""WITH prof AS ($SuffixProfileSql),
        |e AS (SELECT
        |    coalesce(min(CASE WHEN dup_mass_ppm <= 100000 THEN match_len END),
        |             max(match_len)) AS elected_len,
        |    min(CASE WHEN dup_mass_ppm <= 100000 THEN match_len END) IS NULL AS fallback
        |  FROM prof)
        |SELECT e.elected_len, e.fallback, CAST(100000 AS BIGINT) AS budget_ppm,
        |  p.dup_mass_ppm, p.n_dup_positions, p.n_windows
        |FROM prof p JOIN e ON p.match_len = e.elected_len""".stripMargin,
    "dedup_cdc_chunks" -> CdcChunksSql,
    "dedup_cdc" -> CdcDedupSql,
    "dedup_cdc_min" -> CdcDedupMinSql,
    "stream_cdc_min" -> CdcDedupMinSql,
    "dedup_cdc_clamped" -> CdcDedupClampedSql,
    "stream_cdc_clamped" -> CdcDedupClampedSql,
    "stream_cdc" -> CdcDedupSql,
    // the streamed face's maintained deltas resolve to the identical
    // table -- the dedup_url oracle verbatim
    "stream_url_dedup" -> UrlDedupSql,
    "dedup_incremental" ->
      // ((x % 10) + 10) % 10 mirrors Spark's pmod (always >= 0), so
      // the split cannot diverge if doc_ids were ever negative
      """WITH b AS (
        |  SELECT min(doc_id) AS doc_id, content_hash FROM (
        |    SELECT doc_id,
        |      md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
        |    FROM documents WHERE ((doc_id % 10) + 10) % 10 < 3)
        |  GROUP BY content_hash),
        |c AS (
        |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash
        |  FROM documents WHERE ((doc_id % 10) + 10) % 10 >= 3)
        |SELECT doc_id, content_hash FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.content_hash = b.content_hash)""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $NgramPairsCte
        |SELECT doc_a, doc_b, jaccard FROM jp""".stripMargin,
    // same distinct-shingle construction, grouped first-occurrence
    // min, per-doc novel fraction
    "ta_novelty" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+2], ' ') FOR i IN generate_series(1, greatest(len(ws)-2, 1))]
        |  )) AS shingle FROM norm),
        |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
        |SELECT s.doc_id, count(*) AS n_sh,
        |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS novelty
        |FROM sh s JOIN fs f USING (shingle)
        |GROUP BY s.doc_id""".stripMargin,
    // the min-fold over per-batch deltas converges to the same
    // first occurrences (order-free algebra)
    "stream_novelty" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+2], ' ') FOR i IN generate_series(1, greatest(len(ws)-2, 1))]
        |  )) AS shingle FROM norm),
        |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
        |SELECT s.doc_id, count(*) AS n_sh,
        |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS novelty
        |FROM sh s JOIN fs f USING (shingle)
        |GROUP BY s.doc_id""".stripMargin,
    // full-count duplicated positions minus the streamed spans'
    // coverage: only even (first-batch) docs can appear, since odd
    // windows were checked against full counts at ingest
    "stream_span_retro" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
        |  FROM documents),
        |posn AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS pos
        |  FROM norm WHERE len(ws) >= 8),
        |sh AS (SELECT doc_id, ((doc_id % 2) + 2) % 2 AS par, pos,
        |         array_to_string(ws[pos:pos+7], ' ') AS shingle FROM posn),
        |c0 AS (SELECT shingle, count(*) AS c FROM sh WHERE par = 0 GROUP BY shingle),
        |c1 AS (SELECT shingle, count(*) AS c FROM sh WHERE par = 1 GROUP BY shingle),
        |dup0 AS (SELECT shingle FROM c0 WHERE c >= 2),
        |dup1 AS (SELECT c1.shingle FROM c1 LEFT JOIN c0 USING (shingle)
        |         WHERE c1.c + coalesce(c0.c, 0) >= 2),
        |dp AS (
        |  SELECT s.doc_id, s.pos FROM sh s JOIN dup0 d ON s.shingle = d.shingle WHERE s.par = 0
        |  UNION ALL
        |  SELECT s.doc_id, s.pos FROM sh s JOIN dup1 d ON s.shingle = d.shingle WHERE s.par = 1),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM dp),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |  FROM grp GROUP BY doc_id, g),
        |cf AS (SELECT shingle, count(*) AS c FROM sh GROUP BY shingle),
        |dupf AS (SELECT shingle FROM cf WHERE c >= 2),
        |dpf AS (SELECT s.doc_id, s.pos FROM sh s JOIN dupf d USING (shingle)),
        |retro AS (
        |  SELECT f.doc_id, f.pos FROM dpf f WHERE NOT EXISTS (
        |    SELECT 1 FROM spans sp WHERE sp.doc_id = f.doc_id
        |      AND f.pos >= sp.span_start AND f.pos + 7 <= sp.span_end))
        |SELECT doc_id, count(*) AS n_retro_windows FROM retro GROUP BY doc_id""".stripMargin,
    // the dedup_spans chain extended by the cut: tokens inside any
    // span drop, survivors rejoin with single spaces — exact string
    // reconstruction (string_agg ORDER BY pos ≡ array_join of the
    // position-filtered array)
    "dedup_spans_apply" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
        |  FROM documents),
        |posn AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS pos
        |  FROM norm WHERE len(ws) >= 8),
        |sh AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+7], ' ') AS shingle FROM posn),
        |dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2),
        |dp AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup d USING (shingle)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM dp),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
        |  FROM grp GROUP BY doc_id, g),
        |tok AS (
        |  SELECT doc_id, i, ws[i] AS w, len(ws) AS n FROM (
        |    SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM norm)),
        |keep AS (
        |  SELECT t.doc_id, t.i, t.w FROM tok t WHERE NOT EXISTS (
        |    SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id
        |      AND t.i BETWEEN s.span_start AND s.span_end)),
        |built AS (
        |  SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text, count(*) AS kept
        |  FROM keep GROUP BY doc_id)
        |SELECT n.doc_id, coalesce(b.clean_text, '') AS clean_text,
        |  CAST(len(n.ws) AS BIGINT) AS n_tokens,
        |  CAST(len(n.ws) - coalesce(b.kept, 0) AS BIGINT) AS dropped_tokens
        |FROM norm n LEFT JOIN built b ON b.doc_id = n.doc_id""".stripMargin,
    // the streamed even/odd two-batch ingest: batch 1 flags within
    // even docs only; batch 2 flags odd-doc windows against odd-batch
    // + maintained even counts; earlier copies never retro-flag
    "stream_spans" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
        |  FROM documents),
        |posn AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS pos
        |  FROM norm WHERE len(ws) >= 8),
        |sh AS (SELECT doc_id, ((doc_id % 2) + 2) % 2 AS par, pos,
        |         array_to_string(ws[pos:pos+7], ' ') AS shingle FROM posn),
        |c0 AS (SELECT shingle, count(*) AS c FROM sh WHERE par = 0 GROUP BY shingle),
        |c1 AS (SELECT shingle, count(*) AS c FROM sh WHERE par = 1 GROUP BY shingle),
        |dup0 AS (SELECT shingle FROM c0 WHERE c >= 2),
        |dup1 AS (SELECT c1.shingle FROM c1 LEFT JOIN c0 USING (shingle)
        |         WHERE c1.c + coalesce(c0.c, 0) >= 2),
        |dp AS (
        |  SELECT s.doc_id, s.pos FROM sh s JOIN dup0 d ON s.shingle = d.shingle WHERE s.par = 0
        |  UNION ALL
        |  SELECT s.doc_id, s.pos FROM sh s JOIN dup1 d ON s.shingle = d.shingle WHERE s.par = 1),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM dp),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
        |  CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens
        |FROM grp GROUP BY doc_id, g""".stripMargin,
    // positioned 8-token windows (NOT distinct — within-doc repeats
    // count), corpus-wide occurrence >= 2, gaps-and-islands merge of
    // overlapping windows (gap < 8) — all integer, span-for-span
    "dedup_spans" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
        |  FROM documents),
        |posn AS (
        |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS pos
        |  FROM norm WHERE len(ws) >= 8),
        |sh AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+7], ' ') AS shingle FROM posn),
        |dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2),
        |dp AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup d USING (shingle)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 8
        |         THEN 0 ELSE 1 END AS brk
        |  FROM dp),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
        |  CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens
        |FROM grp GROUP BY doc_id, g""".stripMargin,
    // blk/cap CTEs mirror fuzzyPairs' blocking + bucketCap exactly;
    // dist is exact within the threshold in both engines, so the
    // compare is hash-exact
    "dedup_fuzzy" ->
      """WITH t AS (
        |  SELECT doc_id, substr(text, 1, 80) AS title, substr(text, 1, 8) AS blk
        |  FROM documents),
        |keep AS (SELECT blk FROM t GROUP BY blk HAVING count(*) BETWEEN 2 AND 200)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |JOIN keep k ON k.blk = a.blk
        |WHERE levenshtein(a.title, b.title) <= 8""".stripMargin,
    "dedup_components" ->
      s"""WITH RECURSIVE $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a)
        |SELECT node AS doc_id, min(reach) AS component_id FROM walk GROUP BY node""".stripMargin,
    // min-label components are invariant under incremental min-merge,
    // so the two-micro-batch maintained table shares batch CC's oracle
    "stream_cc" ->
      s"""WITH RECURSIVE $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a)
        |SELECT node AS doc_id, min(reach) AS component_id FROM walk GROUP BY node""".stripMargin,
    "dedup_components_fast" ->
      s"""WITH RECURSIVE $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a)
        |SELECT node AS doc_id, min(reach) AS component_id FROM walk GROUP BY node""".stripMargin,
    "dedup_apply" ->
      s"""WITH RECURSIVE $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
        |comp AS (SELECT node AS doc_id, min(reach) AS component_id FROM walk GROUP BY node)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM comp c WHERE c.doc_id = d.doc_id AND c.doc_id <> c.component_id)""".stripMargin,
    "dedup_apply_central" ->
      s"""WITH RECURSIVE $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
        |comp AS (SELECT node AS doc_id, min(reach) AS component_id FROM walk GROUP BY node),
        |deg AS (
        |  SELECT doc_id, count(*) AS degree FROM (
        |    SELECT doc_a AS doc_id FROM jp UNION ALL SELECT doc_b FROM jp)
        |  GROUP BY 1),
        |best AS (
        |  SELECT component_id, max(degree) AS dmax
        |  FROM comp JOIN deg USING (doc_id) GROUP BY 1),
        |surv AS (
        |  SELECT component_id, min(doc_id) AS survivor
        |  FROM comp JOIN deg USING (doc_id) JOIN best USING (component_id)
        |  WHERE degree = dmax GROUP BY 1),
        |dropped AS (
        |  SELECT c.doc_id FROM comp c JOIN surv s
        |    ON c.component_id = s.component_id AND c.doc_id <> s.survivor)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)""".stripMargin,
    "dedup_apply_pagerank" ->
      s"""WITH RECURSIVE $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |walk(node, reach) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON w.reach = e.a),
        |comp AS (SELECT node AS doc_id, min(reach) AS component_id FROM walk GROUP BY node),
        |deg AS MATERIALIZED (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
        |pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM deg),
        |$PagerankRoundCtes,
        |best AS (
        |  SELECT component_id, max(pr) AS pmax
        |  FROM comp JOIN pr10 USING (doc_id) GROUP BY 1),
        |surv AS (
        |  SELECT component_id, min(doc_id) AS survivor
        |  FROM comp JOIN pr10 USING (doc_id) JOIN best USING (component_id)
        |  WHERE pr = pmax GROUP BY 1),
        |dropped AS (
        |  SELECT c.doc_id FROM comp c JOIN surv s
        |    ON c.component_id = s.component_id AND c.doc_id <> s.survivor)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)""".stripMargin,
    // the BOUNDED family: exactly-6-round linear min-label ladders in
    // place of the recursive walk — computable at sf1, where the
    // closure oracles above time out (SURVEY §6)
    "dedup_components_bounded" ->
      s"""WITH $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |c0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM edges),
        |${boundedCompCtes(6)}
        |SELECT node AS doc_id, lab AS component_id FROM c6""".stripMargin,
    "dedup_apply_bounded" ->
      s"""WITH $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |c0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM edges),
        |${boundedCompCtes(6)},
        |comp AS (SELECT node AS doc_id, lab AS component_id FROM c6)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM comp c WHERE c.doc_id = d.doc_id AND c.doc_id <> c.component_id)""".stripMargin,
    "dedup_apply_central_bounded" ->
      s"""WITH $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |c0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM edges),
        |${boundedCompCtes(6)},
        |comp AS (SELECT node AS doc_id, lab AS component_id FROM c6),
        |deg AS (
        |  SELECT doc_id, count(*) AS degree FROM (
        |    SELECT doc_a AS doc_id FROM jp UNION ALL SELECT doc_b FROM jp)
        |  GROUP BY 1),
        |best AS (
        |  SELECT component_id, max(degree) AS dmax
        |  FROM comp JOIN deg USING (doc_id) GROUP BY 1),
        |surv AS (
        |  SELECT component_id, min(doc_id) AS survivor
        |  FROM comp JOIN deg USING (doc_id) JOIN best USING (component_id)
        |  WHERE degree = dmax GROUP BY 1),
        |dropped AS (
        |  SELECT c.doc_id FROM comp c JOIN surv s
        |    ON c.component_id = s.component_id AND c.doc_id <> s.survivor)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)""".stripMargin,
    "dedup_apply_pagerank_bounded" ->
      s"""WITH $NgramPairsCte,
        |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp),
        |c0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM edges),
        |${boundedCompCtes(6)},
        |comp AS (SELECT node AS doc_id, lab AS component_id FROM c6),
        |deg AS MATERIALIZED (SELECT a AS doc_id, count(*) AS deg FROM edges GROUP BY 1),
        |pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM deg),
        |$PagerankRoundCtes,
        |best AS (
        |  SELECT component_id, max(pr) AS pmax
        |  FROM comp JOIN pr10 USING (doc_id) GROUP BY 1),
        |surv AS (
        |  SELECT component_id, min(doc_id) AS survivor
        |  FROM comp JOIN pr10 USING (doc_id) JOIN best USING (component_id)
        |  WHERE pr = pmax GROUP BY 1),
        |dropped AS (
        |  SELECT c.doc_id FROM comp c JOIN surv s
        |    ON c.component_id = s.component_id AND c.doc_id <> s.survivor)
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)""".stripMargin,
    // per-label rounded-avg centroid (the sim_centroids float
    // convention), the bruteforce gate's cosine arithmetic floored
    // to micros, LOW median + LOW MAD as integer window picks, and
    // a pure-integer Hampel threshold (3·1.4826 scaled to 10^4)
    "sim_outliers" -> OutliersSql,
    // the maintained labeled store drains to the same corpus and the
    // resolve runs the same operator — oracle verbatim
    "stream_outliers" -> OutliersSql,
    "sim_bruteforce_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, c.vec_id AS corpus_id,
        |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |              FOR i IN generate_series(1, len(qe))]) /
        |    (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                    FOR i IN generate_series(1, len(qe))])) *
        |     sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                    FOR i IN generate_series(1, len(qe))]))) AS cosine
        |  FROM embeddings c, q WHERE c.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, corpus_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rk
        |  FROM scored)
        |SELECT query_id, corpus_id, round(cosine, 6) AS cosine, rk
        |FROM ranked WHERE rk <= 10""".stripMargin,
    // the brute-force cosine CTEs per prefix tier (the same
    // per-term double arithmetic the bruteforce gate pins), ranked
    // per (tier, query), tier-vs-full overlap counted
    "sim_matryoshka" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
        |t(dt) AS (VALUES (8), (16), (32), (64)),
        |scored AS (
        |  SELECT t.dt, q.query_id, c.vec_id AS corpus_id,
        |    list_sum([CAST(qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |              FOR i IN generate_series(1, t.dt)]) /
        |    (sqrt(list_sum([CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
        |                    FOR i IN generate_series(1, t.dt)])) *
        |     sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
        |                    FOR i IN generate_series(1, t.dt)]))) AS cosine
        |  FROM embeddings c, q, t WHERE c.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT dt, query_id, corpus_id,
        |    row_number() OVER (PARTITION BY dt, query_id
        |      ORDER BY cosine DESC, corpus_id ASC) AS rk
        |  FROM scored),
        |sel AS (SELECT dt, query_id, corpus_id FROM ranked WHERE rk <= 10)
        |SELECT CAST(s.dt AS BIGINT) AS dim_tier, s.query_id,
        |  count(f.corpus_id) AS n_overlap
        |FROM sel s LEFT JOIN sel f
        |  ON f.dt = 64 AND f.query_id = s.query_id AND f.corpus_id = s.corpus_id
        |WHERE s.dt <> 64
        |GROUP BY 1, 2""".stripMargin,
    "sim_centroids" ->
      """SELECT label, count(*) AS n,
        |  round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS c0,
        |  round(avg(CAST(embedding[2] AS DOUBLE)), 6) AS c1,
        |  round(avg(CAST(embedding[3] AS DOUBLE)), 6) AS c2,
        |  round(avg(CAST(embedding[4] AS DOUBLE)), 6) AS c3,
        |  round(avg(CAST(embedding[5] AS DOUBLE)), 6) AS c4,
        |  round(avg(CAST(embedding[6] AS DOUBLE)), 6) AS c5,
        |  round(avg(CAST(embedding[7] AS DOUBLE)), 6) AS c6,
        |  round(avg(CAST(embedding[8] AS DOUBLE)), 6) AS c7
        |FROM embeddings GROUP BY label""".stripMargin,
    "sim_balanced_sample" ->
      """SELECT vec_id, label FROM embeddings
        |WHERE (label >= 5 AND label < 10)
        |   OR (label >= 0 AND label < 5
        |       AND substr(md5('bs:' || CAST(vec_id AS VARCHAR)), 1, 4) < '8000')""".stripMargin,
    "mm_features" ->
      // LEFT JOIN back to documents so an empty-text doc (whose unnest
      // yields no rows) still produces an all-zero row, matching the
      // operator's all-zero histogram — count(*) FILTER over the null
      // bin of an unmatched left row is 0, not null
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest([ord(substr(text, CAST(i AS INT), 1)) % 16
        |            FOR i IN generate_series(1, length(text))]) AS bin
        |  FROM documents)
        |SELECT d.doc_id,
        |  count(*) FILTER (bin = 0) AS f0,   count(*) FILTER (bin = 1) AS f1,
        |  count(*) FILTER (bin = 2) AS f2,   count(*) FILTER (bin = 3) AS f3,
        |  count(*) FILTER (bin = 4) AS f4,   count(*) FILTER (bin = 5) AS f5,
        |  count(*) FILTER (bin = 6) AS f6,   count(*) FILTER (bin = 7) AS f7,
        |  count(*) FILTER (bin = 8) AS f8,   count(*) FILTER (bin = 9) AS f9,
        |  count(*) FILTER (bin = 10) AS f10, count(*) FILTER (bin = 11) AS f11,
        |  count(*) FILTER (bin = 12) AS f12, count(*) FILTER (bin = 13) AS f13,
        |  count(*) FILTER (bin = 14) AS f14, count(*) FILTER (bin = 15) AS f15
        |FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id
        |GROUP BY d.doc_id""".stripMargin,
    // same fake-dims arithmetic from the byte length; grid and
    // clipping all integer. ASCII-corpus caveat (same as mm_frames):
    // DuckDB length(text) counts CHARACTERS while tilePlan derives
    // dims from meta.n_bytes = octet_length — equal only because the
    // fixture corpus is pure ASCII; a non-ASCII fixture would need
    // octet_length(encode(text)) here.
    "mm_tiles" ->
      """WITH m AS (
        |  SELECT doc_id, length(text) AS n_bytes,
        |    16 + length(text) % 48 AS w,
        |    16 + (length(text) // 48) % 48 AS h
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w, h,
        |    unnest(generate_series(0, (w + 7) // 8 - 1)) AS tx
        |  FROM m),
        |g2 AS (
        |  SELECT doc_id, w, h, tx,
        |    unnest(generate_series(0, (h + 7) // 8 - 1)) AS ty
        |  FROM g)
        |SELECT doc_id, CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty,
        |  CAST(tx * 8 AS BIGINT) AS x0, CAST(ty * 8 AS BIGINT) AS y0,
        |  CAST(LEAST(8, w - tx * 8) AS BIGINT) AS tw,
        |  CAST(LEAST(8, h - ty * 8) AS BIGINT) AS th
        |FROM g2""".stripMargin,
    "mm_frames" ->
      // char-substr mirrors the operator's BYTE slicing because this
      // corpus is pure ASCII (verified at every SF); a non-ASCII doc
      // would fail the gate visibly rather than silently diverge
      """WITH f AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, length(text) // 32 - 1, 4)) AS frame_idx
        |  FROM documents WHERE length(text) >= 32)
        |SELECT doc_id, frame_idx,
        |  md5(substr(text, CAST(frame_idx * 32 + 1 AS BIGINT), 32)) AS frame_md5,
        |  CAST(32 AS BIGINT) AS n_bytes
        |FROM f""".stripMargin,
    // The whole phash pipeline recomputed from character codes (ASCII
    // corpus: ord(char) == payload byte, same caveat as mm_frames):
    // 64-bucket histogram -> above-mean bits (cnt*64 > len, integer) ->
    // 4 band values -> band-collision candidates -> exact hamming <= 3
    // -> per-doc near-dup degree. Bands a doc never touches coalesce
    // to 0 (no hist rows -> no bits -> band value 0).
    "mm_phash_dedup" -> PhashSummarySql,
    // the decoded-path gates: the local twin's integer summary rows
    // embedded as VALUES (computed at map construction by
    // Multimodal.phashDecodedLocalTwin — the qualityClfFullArtifact
    // trainer-in-the-oracle pattern); both faces share it
    "mm_phash_decoded_gate" -> MmPhashDecodedGateSql,
    "stream_phash_decoded_gate" -> MmPhashDecodedGateSql,
    // ANN planted-corpus gates: trajectory integers vs the embedded
    // plain-Scala twins (VERDICT r14 item 3)
    "sim_kmeans_gate" -> SimKmeansGateSql,
    "sim_ann_ivf_gate" -> AnnIvfGateSql,
    "stream_ann_ivf_gate" -> AnnIvfGateSql,
    // the caption↔media audit recomputed end-to-end: the same
    // character-code band pipeline, the same residue-rule pair
    // fixture, the same hamming verdicts — all-integer per-source
    // counts must agree exactly
    "mm_pair_audit" -> PairAuditSql,
    // the streamed face converges to the batch audit (every pair
    // resolves with the same verdict once its second side has
    // arrived or provably never will), so it shares the oracle
    "stream_pair_audit" -> PairAuditSql,
    // streamed maintenance converges to the same summary (pairs
    // generated once, in the later member's batch; no RNG)
    "stream_phash_dedup" -> PhashSummarySql,
    "ta_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> ''
        |  GROUP BY doc_id, word),
        |d AS (SELECT word, count(*) AS df FROM t GROUP BY word),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.word, t.tf, d.df,
        |    round(t.tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS score
        |  FROM t JOIN d USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, word, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, word ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, word, tf, df, score, rk FROM ranked WHERE rk <= 3""".stripMargin,
    "ta_contamination" -> ContaminationSql,
    // four gate families' own CTEs + the precedence CASE + one rollup
    "pipeline_scorecard" -> ScorecardSql,
    // the maintained audit drains to the same train/eval split with
    // exact-once hit folding — oracle shared verbatim
    "stream_contamination" -> ContaminationSql,
    // the audit's shingle CTEs + the integer threshold + one rollup:
    // the per-source removal funnel
    "pipeline_decontaminate" ->
      """WITH norm AS (
        |  SELECT doc_id, regexp_split_to_array(
        |    trim(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), '\s+') AS ws
        |  FROM documents),
        |tsh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [array_to_string(ws[i:i+4], ' ') FOR i IN generate_series(1, greatest(len(ws)-4, 1))]
        |  )) AS shingle FROM norm WHERE doc_id % 50 <> 0),
        |esh AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |    [array_to_string(ws[i:i+4], ' ') FOR i IN generate_series(1, greatest(len(ws)-4, 1))]
        |  )) AS shingle FROM norm WHERE doc_id % 50 = 0),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM tsh GROUP BY doc_id),
        |hit AS (SELECT doc_id, count(*) AS n_c FROM tsh
        |        WHERE shingle IN (SELECT shingle FROM esh) GROUP BY doc_id),
        |f AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(len(regexp_split_to_array(trim(d.text), '\s+')) AS BIGINT) AS n_tokens,
        |    (COALESCE(h.n_c, 0) * 100 >= 50 * c.n_sh) AS dropped
        |  FROM documents d
        |  JOIN cnt c ON c.doc_id = d.doc_id
        |  LEFT JOIN hit h ON h.doc_id = d.doc_id
        |  WHERE d.doc_id % 50 <> 0)
        |SELECT source, count(*) AS n_train,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN dropped THEN 0 ELSE n_tokens END) AS BIGINT) AS tokens_kept
        |FROM f GROUP BY source""".stripMargin,
    "ta_langid_eval" ->
      """WITH s AS (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for|with|was)\b')) AS s_en,
        |    len(regexp_extract_all(text, '\b(el|la|de|que|y|los|las|un|una|por)\b')) AS s_es,
        |    len(regexp_extract_all(text, '\b(der|die|und|das|ist|von|mit|den|des|ein)\b')) AS s_de,
        |    len(regexp_extract_all(text, '\b(le|la|et|les|des|une|dans|est|pour|que)\b')) AS s_fr
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
        |       ELSE 'und' END AS lang_pred,
        |  count(*) AS n
        |FROM s GROUP BY 1, 2""".stripMargin,
    "ta_shuffle" ->
      """SELECT doc_id,
        |  md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |    AS shuffle_rank
        |FROM documents""".stripMargin,
    "ta_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS w
        |  FROM documents),
        |t AS (SELECT doc_id, lower(w) AS word FROM toks WHERE w <> ''),
        |freq AS (SELECT word, count(*) AS wc FROM t GROUP BY word),
        |n AS (SELECT sum(wc) AS n_total FROM freq),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(floor(ln(CAST(n_total AS DOUBLE) / CAST(wc AS DOUBLE))
        |               * 1000000.0 + 0.5) AS BIGINT) AS micros
        |  FROM t JOIN freq USING (word) CROSS JOIN n)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(micros) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 4)
        |    AS surprisal
        |FROM scored GROUP BY doc_id""".stripMargin,
    // The classifier's weight table is DATA, not logic: the oracle
    // embeds the driver-trained micros weights as a VALUES list
    // (generated from the same artifact the Spark scorer broadcasts)
    // and re-derives the identical md5 feature buckets, so scoring is
    // hash-exact while training stays a driver-side artifact build.
    "ta_quality_clf" -> QualityClfSql,
    // same scoring CTEs + a rank window: the exact-integer top-p cut
    "ta_quality_topp" -> QualityTopPSql,
    // the maintained scored store re-ranks to the same selection
    "stream_quality_topp" -> QualityTopPSql,
    "ta_quality_clf_full" -> QualityClfFullSql,
    "stream_quality_retrain" -> QualityClfFullSql,
    "stream_quality_hotswap" -> QualityClfHotswapSql,
    "stream_quality_clf" -> QualityClfSql,
    // the two per-doc verdict pipelines composed: classifier logit
    // CTEs (weights as data) + the gopher integer-rule CTEs, one
    // doc_id join, 2x2 count matrix
    "ta_quality_agreement" -> {
      val (cws, cbias, cdim) = graft.operators.TextAnalysis.qualityClfArtifact
      val cvals = cws.map { case (k, wm) => s"($k, $wm)" }.mkString(", ")
      s"""WITH wt(bucket, wm) AS (VALUES $cvals),
         |t AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
         |                    x -> x <> '') AS ws
         |      FROM documents),
         |f AS (
         |  SELECT doc_id, 'u:' || unnest(ws) AS f FROM t
         |  UNION ALL
         |  SELECT doc_id, unnest(['b:' || ws[i] || ' ' || ws[i+1]
         |                         FOR i IN generate_series(1, len(ws) - 1)]) AS f
         |  FROM t WHERE len(ws) >= 2),
         |b AS (SELECT doc_id,
         |        ('0x' || substr(md5(f), 1, 12))::BIGINT % $cdim AS bucket
         |      FROM f),
         |sagg AS (SELECT doc_id, count(*) AS n_feats, coalesce(sum(wm), 0) AS sum_m
         |      FROM b LEFT JOIN wt USING (bucket) GROUP BY doc_id),
         |clf AS (SELECT d.doc_id,
         |          CASE WHEN coalesce(n_feats, 0) > 0
         |            THEN (CAST($cbias AS DOUBLE)
         |                  + CAST(coalesce(sum_m, 0) AS DOUBLE)
         |                    / CAST(n_feats AS DOUBLE)) / 1000000.0 > 0
         |            ELSE CAST($cbias AS DOUBLE) / 1000000.0 > 0 END AS clf_keep
         |        FROM documents d LEFT JOIN sagg USING (doc_id)),
         |gw AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM documents),
         |gwc AS (SELECT doc_id, w, count(*) AS c FROM gw GROUP BY doc_id, w),
         |gst AS (SELECT doc_id,
         |    CAST(sum(c) AS BIGINT) AS n_words,
         |    CAST(sum(length(w) * c) AS BIGINT) AS tot_chars,
         |    count(*) AS n_distinct,
         |    max(c) AS max_cnt,
         |    count(DISTINCT CASE WHEN w IN ('the','and','of','to','in','is',
         |      'that','for','with','was') THEN w END) AS n_stop
         |  FROM gwc GROUP BY doc_id),
         |rules AS (SELECT doc_id,
         |    (n_words >= 20 AND n_words <= 2000)
         |      AND (3 * n_words <= tot_chars AND tot_chars <= 10 * n_words)
         |      AND n_stop >= 2 AND 10 * max_cnt <= 3 * n_words
         |      AND 2 * (n_words - n_distinct) <= n_words AS rules_keep
         |  FROM gst)
         |SELECT clf_keep, rules_keep, count(*) AS n_docs
         |FROM clf JOIN rules USING (doc_id)
         |GROUP BY 1, 2""".stripMargin
    },
    "ta_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |s AS (
        |  SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_uniq_words FROM w),
        |bg AS (
        |  SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1]
        |                         FOR i IN generate_series(1, len(ws) - 1)]) AS bigram
        |  FROM w WHERE len(ws) >= 2),
        |bc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |bs AS (SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams FROM bc GROUP BY 1)
        |SELECT s.doc_id, n_words, n_uniq_words,
        |  round(1.0 - CAST(n_uniq_words AS DOUBLE) / n_words, 4) AS dup_word_frac,
        |  CAST(COALESCE(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  round(CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN 0.0
        |             ELSE CAST(top_bigram_n AS DOUBLE) / n_bigrams END, 4) AS top_bigram_frac
        |FROM s LEFT JOIN bs USING (doc_id)""".stripMargin,
    "ta_source_cap" ->
      // the CASE mirrors concat_ws's null-skip semantics (a NULL
      // source hashes as just the doc_id, no leading separator), so
      // the oracle cannot diverge on null-source data
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CASE WHEN source IS NULL THEN CAST(doc_id AS VARCHAR)
        |                        ELSE source || ':' || CAST(doc_id AS VARCHAR) END)) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 15""".stripMargin,
    "ta_ngram_lm" ->
      """WITH w AS (
        |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS ws FROM documents),
        |bg AS (
        |  SELECT unnest([ws[i] || ' ' || ws[i+1]
        |                 FOR i IN generate_series(1, len(ws) - 1)]) AS ngram
        |  FROM w WHERE len(ws) >= 2),
        |c AS (SELECT ngram, count(*) AS n FROM bg GROUP BY 1)
        |SELECT ngram, n, CAST(row_number() OVER (ORDER BY n DESC, ngram ASC) AS BIGINT) AS rk
        |FROM c ORDER BY n DESC, ngram ASC LIMIT 100""".stripMargin,
    // the same CASE ladder and integer-micros fix as Spark; LEFT
    // JOINs to the train-split LM tables, ta_split's md5 rule
    "ta_surprisal2" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29' AS v,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
        |  FROM documents),
        |d2 AS MATERIALIZED (SELECT * FROM d WHERE len(ws) >= 1),
        |t AS MATERIALIZED (
        |  SELECT doc_id, v, ws, unnest(generate_series(1, len(ws))) AS i FROM d2),
        |tok AS MATERIALIZED (
        |  SELECT doc_id, v, ws[i] AS word,
        |    CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS prev FROM t),
        |uni AS MATERIALIZED (SELECT word, count(*) AS wc FROM tok WHERE NOT v GROUP BY word),
        |tot AS MATERIALIZED (SELECT coalesce(sum(wc), 0) AS n_total FROM uni),
        |big AS MATERIALIZED (SELECT prev, word, count(*) AS bc FROM tok
        |  WHERE NOT v AND prev IS NOT NULL GROUP BY 1, 2),
        |sc AS (
        |  SELECT s.doc_id,
        |    CAST(floor(CASE
        |      WHEN s.prev IS NULL
        |        THEN ln(CAST(n_total AS DOUBLE) / CAST(coalesce(u.wc, 1) AS DOUBLE))
        |      WHEN b.bc IS NOT NULL
        |        THEN ln(CAST(p.wc AS DOUBLE) / CAST(b.bc AS DOUBLE))
        |      ELSE ln(CAST(n_total AS DOUBLE) / CAST(coalesce(u.wc, 1) AS DOUBLE) / 0.4)
        |    END * 1000000.0 + 0.5) AS BIGINT) AS micros
        |  FROM tok s
        |  LEFT JOIN uni u ON u.word = s.word
        |  LEFT JOIN big b ON b.prev = s.prev AND b.word = s.word
        |  LEFT JOIN uni p ON p.word = s.prev
        |  CROSS JOIN tot
        |  WHERE s.v)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(micros) AS DOUBLE) / count(*) / 1000000.0, 4) AS surprisal2
        |FROM sc GROUP BY doc_id""".stripMargin,
    // the trigram ladder: seen trigram / 0.4-bigram / 0.16-unigram,
    // first two doc tokens at the orders their context supports
    "ta_surprisal3" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29' AS v,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '') AS ws
        |  FROM documents),
        |d2 AS MATERIALIZED (SELECT * FROM d WHERE len(ws) >= 1),
        |t AS MATERIALIZED (
        |  SELECT doc_id, v, ws, unnest(generate_series(1, len(ws))) AS i FROM d2),
        |tok AS MATERIALIZED (
        |  SELECT doc_id, v, ws[i] AS word,
        |    CASE WHEN i = 1 THEN NULL ELSE ws[i-1] END AS p1,
        |    CASE WHEN i <= 2 THEN NULL ELSE ws[i-2] END AS p2 FROM t),
        |uni AS MATERIALIZED (SELECT word, count(*) AS wc FROM tok WHERE NOT v GROUP BY word),
        |tot AS MATERIALIZED (SELECT coalesce(sum(wc), 0) AS n_total FROM uni),
        |big AS MATERIALIZED (SELECT p1, word, count(*) AS bc FROM tok
        |  WHERE NOT v AND p1 IS NOT NULL GROUP BY 1, 2),
        |tri AS MATERIALIZED (SELECT p2, p1, word, count(*) AS tc FROM tok
        |  WHERE NOT v AND p2 IS NOT NULL GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT s.doc_id,
        |    CAST(floor(CASE
        |      WHEN s.p1 IS NULL
        |        THEN ln(CAST(n_total AS DOUBLE) / CAST(coalesce(u.wc, 1) AS DOUBLE))
        |      WHEN s.p2 IS NULL AND b.bc IS NOT NULL
        |        THEN ln(CAST(pu.wc AS DOUBLE) / CAST(b.bc AS DOUBLE))
        |      WHEN s.p2 IS NULL
        |        THEN ln(CAST(n_total AS DOUBLE) / CAST(coalesce(u.wc, 1) AS DOUBLE) / 0.4)
        |      WHEN tr.tc IS NOT NULL
        |        THEN ln(CAST(cb.bc AS DOUBLE) / CAST(tr.tc AS DOUBLE))
        |      WHEN b.bc IS NOT NULL
        |        THEN ln(CAST(pu.wc AS DOUBLE) / CAST(b.bc AS DOUBLE) / 0.4)
        |      ELSE ln(CAST(n_total AS DOUBLE) / CAST(coalesce(u.wc, 1) AS DOUBLE) / 0.16)
        |    END * 1000000.0 + 0.5) AS BIGINT) AS micros
        |  FROM tok s
        |  LEFT JOIN uni u ON u.word = s.word
        |  LEFT JOIN big b ON b.p1 = s.p1 AND b.word = s.word
        |  LEFT JOIN tri tr ON tr.p2 = s.p2 AND tr.p1 = s.p1 AND tr.word = s.word
        |  LEFT JOIN uni pu ON pu.word = s.p1
        |  LEFT JOIN big cb ON cb.p1 = s.p2 AND cb.word = s.p1
        |  CROSS JOIN tot
        |  WHERE s.v)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(micros) AS DOUBLE) / count(*) / 1000000.0, 4) AS surprisal3
        |FROM sc GROUP BY doc_id""".stripMargin,
    // 12 unrolled BPE rounds (the PagerankRoundCtes pattern); merge
    // application via window run-parity — a different algorithm from
    // the Scala fold, agreeing rank-for-rank (see BpeRoundCtes)
    "ta_bpe_merges" ->
      s"""WITH wc AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, cnt, i AS pos, substr(word, CAST(i AS INT), 1) AS sym FROM (
        |    SELECT word, cnt, unnest(generate_series(1, length(word))) AS i FROM wc)),
        |${BpeRoundCtes(12)}
        |${(1 to 12).map(i =>
             s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS left_sym, " +
             s"r AS right_sym, c AS pair_count FROM b$i").mkString("\nUNION ALL\n")}""".stripMargin,
    // the final segmentation s12 aggregated: subword frequencies
    // under the learned merges (same CTE chain as ta_bpe_merges)
    "ta_bpe_vocab" ->
      s"""WITH wc AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, cnt, i AS pos, substr(word, CAST(i AS INT), 1) AS sym FROM (
        |    SELECT word, cnt, unnest(generate_series(1, length(word))) AS i FROM wc)),
        |${BpeRoundCtes(12)}
        |SELECT sym, CAST(sum(cnt) AS BIGINT) AS n FROM s12 GROUP BY sym""".stripMargin,
    // the stopping rule replayed over the SAME unrolled rounds:
    // merges are prefix-stable, so "stop at the first round whose
    // distinct-symbol count reaches the target" selects one of the
    // s0..s12 states — computed per round, chosen by a scalar min
    "ta_bpe_vocab_until" -> {
      val vRows = (0 to 12).map(i =>
        s"SELECT $i AS r, count(DISTINCT sym) AS vs FROM s$i").mkString("\n  UNION ALL ")
      val branches = (0 to 12).map(i =>
        s"SELECT sym, CAST(sum(cnt) AS BIGINT) AS n FROM s$i " +
          s"WHERE (SELECT r FROM chosen) = $i GROUP BY sym").mkString("\nUNION ALL\n")
      s"""WITH wc AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, cnt, i AS pos, substr(word, CAST(i AS INT), 1) AS sym FROM (
        |    SELECT word, cnt, unnest(generate_series(1, length(word))) AS i FROM wc)),
        |${BpeRoundCtes(12)},
        |v AS MATERIALIZED (
        |  $vRows),
        |chosen AS MATERIALIZED (
        |  SELECT coalesce(min(r), 12) AS r FROM v WHERE vs >= 30)
        |$branches""".stripMargin
    },
    // s12's per-word row count IS the word's segmentation length;
    // join the corpus tokens and sum per doc
    "ta_bpe_encode" ->
      s"""WITH $BpeEncodeCtes
        |SELECT doc_id, n_words, n_subwords FROM encdoc""".stripMargin,
    // per-source roll-up of the same unrolled-BPE encode, all-integer
    // ppm ratios; letterless docs count zero words so totals conserve
    "ta_fertility" ->
      s"""WITH $BpeEncodeCtes,
        |j AS (SELECT d.source, coalesce(e.n_words, 0) AS w,
        |    coalesce(e.n_subwords, 0) AS sw, d.n_chars
        |  FROM documents d LEFT JOIN encdoc e USING (doc_id)),
        |a AS (SELECT source, CAST(sum(w) AS BIGINT) AS n_words,
        |    CAST(sum(sw) AS BIGINT) AS n_subwords,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |  FROM j GROUP BY 1)
        |SELECT source, n_words, n_subwords, n_chars,
        |  CAST(CASE WHEN n_words = 0 THEN 0
        |       ELSE (n_subwords * 1000000) // n_words END AS BIGINT) AS fertility_ppm,
        |  CAST(CASE WHEN n_subwords = 0 THEN 0
        |       ELSE (n_chars * 1000000) // n_subwords END AS BIGINT) AS chars_per_subword_ppm
        |FROM a""".stripMargin,
    // Per-(doc, term) BM25 weights floor to integer micros BEFORE the
    // per-doc sum (ta_surprisal pattern): the sum is then exact in any
    // reduction order and ranking compares integers only.
    // windowed langPred (same stopword argmax, fixed tie order) +
    // the gaps-and-islands running-sum merge — all-integer spans
    "ta_lang_spans" -> LangSpansSql,
    // spans are per-document; the drained delta store equals the batch
    // segmentation — oracle verbatim
    "stream_lang_spans" -> LangSpansSql,
    "ta_bm25" -> Bm25Sql,
    // 1-based positions over the same non-empty-token convention;
    // occurrences as a position-comprehension per doc
    "ta_phrase_search" -> PhraseSql,
    // stored position arrays drain to the same token positions —
    // oracle shared verbatim
    "stream_phrase_search" -> PhraseSql,
    // the maintained inverted index drains to the same corpus: same
    // postings (batches are disjoint doc shards), same exact-integer
    // (n_docs, tot_dl) stats, same scoring core — oracle shared
    // verbatim
    "stream_bm25" -> Bm25Sql,
    // the BM25 CTEs at kArm=50 + the brute-force cosine CTEs for
    // query vec 0 (both arms' arithmetic verbatim from their own
    // gates), fused by exact integer floor division 10^6 // (60+rk)
    "ta_hybrid_rrf" -> HybridRrfSql,
    // both maintained stores drain to the same corpus and the fusion
    // core is shared — oracle verbatim
    "stream_hybrid_rrf" -> HybridRrfSql,
    // u = (48-bit md5 prefix + 0.5) / 2^48; sort key u^(1/weight)
    // floored to integer nanos so libm pow() noise cannot flip ranks.
    // mirrors dsirWeights expression for expression: the classifier
    // feature CTE shape, one bucket-count CTE for both LMs, scalar
    // totals, ln-micros lambdas, exact integer per-doc sums
    "ta_dsir_weights" ->
      s"""WITH $DsirWeightsCtes
        |SELECT doc_id, n_feats, w_micros FROM w2""".stripMargin,
    "stream_dsir" ->
      s"""WITH $DsirWeightsCtes
        |SELECT doc_id, n_feats, w_micros FROM w2""".stripMargin,
    // two tagged instantiations of the same completed lambda chain
    // over the even/odd windows, integer drift summary
    "ta_dsir_drift" ->
      s"""WITH allb AS (SELECT range AS bucket FROM range(4096)),
        |${DsirLamCtes("r", " WHERE doc_id % 2 = 0")},
        |${DsirLamCtes("c2", " WHERE doc_id % 2 <> 0")},
        |d AS (SELECT abs(lamr.lam_m - lamc2.lam_m) AS d
        |  FROM lamr JOIN lamc2 USING (bucket))
        |SELECT count(*) AS n_buckets,
        |  CAST(max(d) AS BIGINT) AS max_dlam,
        |  CAST(sum(d) // 4096 AS BIGINT) AS mean_dlam,
        |  count(CASE WHEN d >= 200000 THEN 1 END) AS n_over,
        |  max(d) >= 200000 AS alarm
        |FROM d""".stripMargin,
    "ta_dsir_sample" ->
      s"""WITH $DsirWeightsCtes,
        |smp AS (SELECT doc_id, n_feats, w_micros,
        |    CAST(floor(-ln(-ln(
        |      CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1 AS DOUBLE)
        |        / 281474976710657.0)) * 1000000.0 + 0.5) AS BIGINT) AS g_micros
        |  FROM w2)
        |SELECT doc_id, n_feats, w_micros, g_micros,
        |  w_micros + g_micros AS priority,
        |  CAST(row_number() OVER (ORDER BY w_micros + g_micros DESC, doc_id) AS BIGINT) AS rk
        |FROM smp ORDER BY priority DESC, doc_id LIMIT 64""".stripMargin,
    "ta_weighted_sample" -> WeightedSampleSql,
    // the reservoir fold is an order-free top-k of per-batch top-ks —
    // oracle shared verbatim
    "stream_weighted_sample" -> WeightedSampleSql,
    "sim_quantize" ->
      """WITH a AS (
        |  SELECT vec_id, embedding,
        |    list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS amax
        |  FROM embeddings)
        |SELECT vec_id, round(amax, 6) AS amax,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(CAST(embedding[1] AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) END AS q0,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(CAST(embedding[2] AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) END AS q1,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(CAST(embedding[3] AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) END AS q2,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(CAST(embedding[4] AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) END AS q3,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(CAST(embedding[5] AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) END AS q4,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(CAST(embedding[6] AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) END AS q5,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(CAST(embedding[7] AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) END AS q6,
        |  CASE WHEN amax = 0 THEN 0 ELSE CAST(floor(CAST(embedding[8] AS DOUBLE) * 127.0 / amax + 0.5) AS BIGINT) END AS q7
        |FROM a""".stripMargin,
    "ta_langid" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for|with|was)\b')) AS s_en,
        |    len(regexp_extract_all(text, '\b(el|la|de|que|y|los|las|un|una|por)\b')) AS s_es,
        |    len(regexp_extract_all(text, '\b(der|die|und|das|ist|von|mit|den|des|ein)\b')) AS s_de,
        |    len(regexp_extract_all(text, '\b(le|la|et|les|des|une|dans|est|pour|que)\b')) AS s_fr
        |  FROM documents)
        |SELECT doc_id, s_en, s_es, s_de, s_fr,
        |  CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
        |       ELSE 'und' END AS lang_pred
        |FROM s""".stripMargin,
    "ta_quality" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |  len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
        |  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |        / length(text), 4) AS alpha_ratio,
        |  round(CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for|with|was)\b')) AS DOUBLE)
        |        / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stopword_ratio,
        |  round(CAST(length(text) AS DOUBLE)
        |        / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_word_len
        |FROM documents""".stripMargin,
    // the whole gopher->dedup composition recomputed in SQL: same
    // rule ladder, kept-scoped min-doc_id survivor, integer sums
    "pipeline_quality_audit" -> QualityAuditSql,
    // both passes composed from the shared band CTEs: alignment
    // verdicts (pair fixture + hamming) and near-dup losers (band
    // collisions + hamming ≤ 3, doc_b side) over the same bands
    "pipeline_mm_clean" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(split(text, '')) AS c FROM documents),
        |hist AS (
        |  SELECT doc_id, ord(c) % 64 AS bucket, count(*) AS cnt
        |  FROM chars GROUP BY 1, 2),
        |len AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents),
        |bits AS (
        |  SELECT h.doc_id, bucket // 16 AS band, bucket % 16 AS pos,
        |    CASE WHEN cnt * 64 > n THEN 1 ELSE 0 END AS bit
        |  FROM hist h JOIN len USING (doc_id)),
        |bands AS MATERIALIZED (
        |  SELECT d.doc_id, b.band,
        |    CAST(COALESCE(sum(bit << pos), 0) AS BIGINT) AS bv
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
        |  LEFT JOIN bits ON bits.doc_id = d.doc_id AND bits.band = b.band
        |  GROUP BY 1, 2),
        |cpairs AS (
        |  SELECT doc_id AS caption_id,
        |    CASE WHEN doc_id % 23 = 5 THEN doc_id + 1000000
        |         WHEN doc_id % 17 = 3 THEN doc_id + 1
        |         ELSE doc_id END AS media_id
        |  FROM documents),
        |cham AS (
        |  SELECT p.caption_id,
        |    CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
        |  FROM cpairs p
        |  JOIN bands x ON x.doc_id = p.caption_id
        |  JOIN bands y ON y.doc_id = p.media_id AND y.band = x.band
        |  GROUP BY 1),
        |aligned AS (SELECT caption_id AS doc_id FROM cham WHERE hamming <= 3),
        |bdf AS (
        |  SELECT band, bv FROM bands GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 100),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a
        |  JOIN bdf k ON k.band = a.band AND k.bv = a.bv
        |  JOIN bands b
        |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
        |nd AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT doc_a, doc_b,
        |      CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
        |    FROM cand
        |    JOIN bands x ON x.doc_id = doc_a
        |    JOIN bands y ON y.doc_id = doc_b AND y.band = x.band
        |    GROUP BY 1, 2) WHERE hamming <= 0)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN aligned a ON a.doc_id = d.doc_id
        |WHERE NOT EXISTS (SELECT 1 FROM nd WHERE nd.doc_b = d.doc_id)""".stripMargin,
    // the maintained streaming audit converges to the same table
    // (range-ordered arrival preserves the min-kept-doc survivor)
    "stream_quality_audit" -> QualityAuditSql,

    // cross-multiplied integer KS sup-gap — no float CDFs on either
    // side; the window runs over distinct stat VALUES (bounded)
    "ta_split_drift" ->
      """WITH s AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
        |         THEN 'valid' ELSE 'train' END AS split,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS x
        |  FROM documents),
        |c AS (SELECT x,
        |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS cv
        |  FROM s GROUP BY x),
        |k AS (SELECT
        |    sum(ct) OVER (ORDER BY x) AS cumT, sum(cv) OVER (ORDER BY x) AS cumV,
        |    sum(ct) OVER () AS nT, sum(cv) OVER () AS nV FROM c)
        |SELECT CAST(coalesce(max(nT), 0) AS BIGINT) AS n_train,
        |  CAST(coalesce(max(nV), 0) AS BIGINT) AS n_valid,
        |  CAST(coalesce(max(abs(cumT * nV - cumV * nT)), 0) AS BIGINT) AS d_raw,
        |  CAST(CASE WHEN coalesce(max(nT) * max(nV), 0) = 0 THEN 0
        |       ELSE max(abs(cumT * nV - cumV * nT)) * 1000000 // (max(nT) * max(nV))
        |       END AS BIGINT) AS d_ppm
        |FROM k""".stripMargin,
    // the splitDrift KS machinery per SOURCE between the even/odd
    // doc_id windows over n_chars; shared verbatim by the streamed
    // face (order-independent delta merge)
    "ta_source_drift" -> SourceDriftSql,
    "stream_source_drift" -> SourceDriftSql,
    // doc-bounded pair fan-out; (n DESC, w1, w2) total order makes
    // the top-20 cut deterministic
    "ta_cooccur" ->
      """WITH dw AS (
        |  SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents) t)
        |SELECT a.w AS w1, b.w AS w2, count(*) AS n
        |FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.w < b.w
        |GROUP BY 1, 2
        |ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin,
    // every flag a cross-multiplied integer comparison — the
    // thresholded Gopher verdict layer over the quality stats
    "ta_gopher_flags" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
        |st AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_words,
        |    CAST(sum(length(w) * c) AS BIGINT) AS tot_chars,
        |    count(*) AS n_distinct,
        |    max(c) AS max_cnt,
        |    count(DISTINCT CASE WHEN w IN ('the','and','of','to','in','is',
        |      'that','for','with','was') THEN w END) AS n_stop
        |  FROM wc GROUP BY doc_id)
        |SELECT doc_id, n_words, tot_chars, n_distinct, max_cnt, n_stop,
        |  n_words >= 20 AND n_words <= 2000 AS f_len,
        |  3 * n_words <= tot_chars AND tot_chars <= 10 * n_words AS f_word_len,
        |  n_stop >= 2 AS f_stop,
        |  10 * max_cnt <= 3 * n_words AS f_top_unigram,
        |  2 * (n_words - n_distinct) <= n_words AS f_dup,
        |  (n_words >= 20 AND n_words <= 2000)
        |    AND (3 * n_words <= tot_chars AND tot_chars <= 10 * n_words)
        |    AND n_stop >= 2 AND 10 * max_cnt <= 3 * n_words
        |    AND 2 * (n_words - n_distinct) <= n_words AS keep
        |FROM st""".stripMargin,
    // mirrors mixTemperature: double division + pow + micros floor
    // per source, exact integer sums and floor divisions after
    "ta_mix_temperature" -> MixTemperatureSql,
    // the streamed face's count-delta merge is an exact sum, so the
    // resolved table shares the batch oracle verbatim
    "stream_mix" -> MixTemperatureSql,
    "ta_tokens" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "ta_fingerprint" ->
      """SELECT doc_id,
        |  list_min([md5(substr(text, CAST(i AS INT), 8))
        |            FOR i IN generate_series(1, greatest(length(text) - 7, 1))]) AS fingerprint
        |FROM documents""".stripMargin,
    "ta_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29'
        |       THEN 'valid' ELSE 'train' END AS split
        |FROM documents""".stripMargin,
    "ta_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
        |  len(regexp_extract_all(text, '[0-9]{9,}')) AS n_digit_runs,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{9,}', '<NUM>', 'g') AS scrubbed
        |FROM documents""".stripMargin,
    "ta_passages" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)
        |SELECT doc_id, CAST(r['idx'] AS BIGINT) AS passage_idx, r['s'] AS passage FROM (
        |  SELECT doc_id,
        |    unnest([{'idx': i - 1, 's': array_to_string(ws[(i-1)*20+1 : i*20], ' ')}
        |            FOR i IN generate_series(1, (len(ws) - 1) // 20 + 1)]) AS r
        |  FROM w)""".stripMargin,
    // overlapping chunks: starts at multiples of 10, window 20; the
    // greatest(0, floor-div) start count matches the Spark div since
    // the numerator is only negative when both engines clamp to 0
    "ta_chunks" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents)
        |SELECT doc_id, CAST(r['idx'] AS BIGINT) AS chunk_idx, r['s'] AS chunk,
        |  CAST(r['n'] AS BIGINT) AS n_words
        |FROM (
        |  SELECT doc_id,
        |    unnest([{'idx': i, 's': array_to_string(ws[i*10+1 : i*10+20], ' '),
        |             'n': least(20, len(ws) - i*10)}
        |            FOR i IN generate_series(0, greatest(0, (len(ws) - 20 + 9) // 10))]) AS r
        |  FROM w)""".stripMargin,
    "ta_pack" ->
      """WITH sized AS (
        |  SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000 AS BIGINT) AS shard
        |FROM sized""".stripMargin,
    // the fertility table composed into ta_pack's prefix-sum sharder:
    // per-doc estimate = letter words x source fertility_ppm div 1e6
    "ta_pack_fertility" ->
      s"""WITH $BpeEncodeCtes,
        |j AS (SELECT d.source, coalesce(e.n_words, 0) AS w,
        |    coalesce(e.n_subwords, 0) AS sw
        |  FROM documents d LEFT JOIN encdoc e USING (doc_id)),
        |fert AS (SELECT source,
        |    CAST(CASE WHEN sum(w) = 0 THEN 0
        |         ELSE (CAST(sum(sw) AS BIGINT) * 1000000) // CAST(sum(w) AS BIGINT)
        |         END AS BIGINT) AS fertility_ppm
        |  FROM j GROUP BY 1),
        |wdoc AS (SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS w
        |  FROM documents),
        |sized AS (SELECT doc_id,
        |    CAST((w * coalesce(f.fertility_ppm, 1000000)) // 1000000 AS BIGINT) AS n_tokens
        |  FROM wdoc LEFT JOIN fert f USING (source))
        |SELECT doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000 AS BIGINT) AS shard
        |FROM sized""".stripMargin,
    // ta_bpe_encode's subword counts composed into ta_pack's
    // prefix-sum sharder — the two oracles verbatim, one left join
    "ta_pack_bpe" ->
      s"""WITH wc AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, cnt, i AS pos, substr(word, CAST(i AS INT), 1) AS sym FROM (
        |    SELECT word, cnt, unnest(generate_series(1, length(word))) AS i FROM wc)),
        |${BpeRoundCtes(12)},
        |sz AS (SELECT word, count(*) AS n_sub FROM s12 GROUP BY word),
        |toks AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
        |    FROM documents)
        |  WHERE word <> ''),
        |enc AS (SELECT doc_id, CAST(sum(n_sub) AS BIGINT) AS n_subwords
        |        FROM toks JOIN sz USING (word) GROUP BY doc_id),
        |sized AS (
        |  SELECT d.doc_id, COALESCE(n_subwords, 0) AS n_tokens
        |  FROM documents d LEFT JOIN enc USING (doc_id))
        |SELECT doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000 AS BIGINT) AS shard
        |FROM sized""".stripMargin,
    "mm_metadata" ->
      """SELECT doc_id,
        |  octet_length(CAST(text AS BLOB)) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  source AS kind
        |FROM documents""".stripMargin,
    "stream_window_counts" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS bucket,
        |  event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "stream_dedup" ->
      """SELECT event_type, count(DISTINCT event_id) AS n_unique
        |FROM events GROUP BY event_type""".stripMargin,
    // Shares q_funnel's greedy-stage oracle: the streamed fold is
    // arrival-order-invariant by construction (candidate buffers
    // re-admit events when a late-arriving earlier view/click lowers
    // a stage threshold), so the drained final stages must equal the
    // batch funnel exactly.
    // Shares q_hopping_window's oracle: the drained complete-mode
    // sink holds every (window, type) aggregate exactly once.
    "stream_hopping_window" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS tus, event_type, value FROM events),
        |w AS (
        |  SELECT (tus // 3600000000 - k) * 3600000000 AS ws_us, event_type, value
        |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k))
        |SELECT ws_us, event_type, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2""".stripMargin,
    // Shares ta_source_cap's oracle: min-k-by-md5 is a semilattice,
    // so the streamed per-source fold lands on the identical survivor
    // set and ranks whatever the batch split.
    "stream_source_cap" ->
      """SELECT doc_id, source, rk FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY md5(CASE WHEN source IS NULL THEN CAST(doc_id AS VARCHAR)
        |                        ELSE source || ':' || CAST(doc_id AS VARCHAR) END)) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 15""".stripMargin,
    // Shares q_retention's oracle: the bounded per-user state (cohort
    // hour + in-window hours) reconstructs the exact (cohort, offset)
    // counts; out-of-order re-cohorting can only shrink the window,
    // so the fold never needs forgotten hours back.
    "stream_retention" ->
      """WITH uh AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 3600000000000 AS h FROM events),
        |f AS (SELECT user_id, min(h) AS h0 FROM uh GROUP BY 1)
        |SELECT h0 AS cohort_hour, (h - h0) AS offset_h, count(*) AS n_users
        |FROM uh JOIN f USING (user_id)
        |WHERE h - h0 <= 3
        |GROUP BY 1, 2""".stripMargin,
    "stream_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > t_view GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > t_click GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2
        |            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |  LEFT JOIN p USING (user_id)""".stripMargin,
    // The 3-sigma test in pure integers (c·n > S1 and (c·n−S1)² >
    // 9(n·S2−S1²)) — no float anywhere, so the streaming flags and
    // this window-prefix-sum batch twin must agree flag-for-flag.
    // Each type's last (still-open) hour is excluded on both sides.
    // The squared terms widen past 2⁶³ at ~1M events/hour × 10⁴
    // hours, so both products run in HUGEINT (128-bit) — the twin of
    // the streaming side's BigInt comparison.
    "stream_anomaly" ->
      """WITH c AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS h, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |x AS (
        |  SELECT event_type, h, cnt,
        |    count(*) OVER w AS n,
        |    COALESCE(sum(cnt) OVER w, 0) AS s1,
        |    COALESCE(sum(cnt * cnt) OVER w, 0) AS s2,
        |    max(h) OVER (PARTITION BY event_type) AS maxh
        |  FROM c
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |y AS (
        |  SELECT event_type, h, cnt, n, s2, maxh,
        |    CAST(cnt AS HUGEINT) * n - s1 AS excess, CAST(s1 AS HUGEINT) AS s1h
        |  FROM x)
        |SELECT event_type, h, cnt,
        |  (n >= 8 AND excess > 0
        |   AND excess * excess > 9 * (CAST(n AS HUGEINT) * s2 - s1h * s1h)) AS is_anomaly
        |FROM y WHERE h < maxh""".stripMargin,
    // The streaming per-hour CMS accumulates cell-wise across
    // micro-batches (the CMS merge is a sum, so the final matrix IS
    // the batch sketch), and the md5 cell hash has no RNG — so this
    // oracle recomputes the per-hour ESTIMATES exactly, including any
    // collision overestimates: est(t) = min over rows j of the hour's
    // total count landing in cell h_j(t).
    "stream_count_min" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS h, event_type FROM events),
        |wc AS (SELECT h, event_type, count(*) AS c FROM e GROUP BY 1, 2),
        |rows_ AS (SELECT unnest(generate_series(0, 3)) AS j),
        |cells AS (
        |  SELECT h, j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || event_type), 1, 12))::BIGINT % 64 AS cell,
        |    CAST(sum(c) AS BIGINT) AS total
        |  FROM wc CROSS JOIN rows_ GROUP BY 1, 2, 3),
        |pc AS (
        |  SELECT wc.h, wc.event_type, r.j,
        |    ('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' || wc.event_type), 1, 12))::BIGINT % 64 AS cell
        |  FROM wc CROSS JOIN rows_ r),
        |est AS (
        |  SELECT pc.h, pc.event_type, min(cells.total) AS est
        |  FROM pc JOIN cells ON cells.h = pc.h AND cells.j = pc.j AND cells.cell = pc.cell
        |  GROUP BY 1, 2),
        |n AS (SELECT h, count(*) AS h_total FROM e GROUP BY 1)
        |SELECT est.h, est.event_type, est.est AS est, n.h_total
        |FROM est JOIN n USING (h)""".stripMargin,
    // Streaming per-hour histogram quantiles: binWidth 1.0 (exactly
    // representable, so floor(value) is the identical IEEE op in
    // both engines), bins clamped to [0, 4095], estimates all-integer
    // — reproduced exactly across the batch/streaming boundary.
    "stream_quantile" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS h,
        |    LEAST(GREATEST(CAST(floor(value) AS BIGINT), 0), 4095) AS bin
        |  FROM events),
        |hb AS (SELECT h, bin, count(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT h, bin, sum(c) OVER (PARTITION BY h ORDER BY bin) AS cum FROM hb),
        |n AS (SELECT h, count(*) AS n FROM e GROUP BY 1),
        |qs(q) AS (VALUES (500), (900), (990))
        |SELECT n.h, qs.q AS q_permille,
        |  (SELECT min(bin) FROM cum WHERE cum.h = n.h AND cum.cum >= (qs.q * n.n + 999) // 1000) + 1 AS est,
        |  n.n AS h_total
        |FROM n, qs""".stripMargin,
    // Finite-source parity: the stream's final per-hour leaderboard
    // equals the batch hourly top-k (ties broken by event_type asc
    // in both the state emitter and this window).
    "stream_hourly_topk" ->
      """WITH c AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS h, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT h, event_type, n, rk FROM (
        |  SELECT h, event_type, n,
        |    CAST(row_number() OVER (PARTITION BY h ORDER BY n DESC, event_type) AS BIGINT) AS rk
        |  FROM c)
        |WHERE rk <= 3""".stripMargin,
    "stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tns, value FROM events),
        |gapped AS (
        |  SELECT user_id, event_id, value, tns,
        |    CASE WHEN lag(tns) OVER w IS NULL
        |         OR tns - lag(tns) OVER w > 1800000000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM flagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tns ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, value,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tns ASC, event_id ASC
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM gapped)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin,
    "stream_interval_join" ->
      """SELECT l.user_id, l.event_id AS click_id, r.event_id AS purchase_id,
        |  (epoch_us(r.ts) - epoch_us(l.ts)) // 1000 AS lag_ms
        |FROM events l JOIN events r ON l.user_id = r.user_id
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND epoch_us(r.ts) > epoch_us(l.ts)
        |  AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000""".stripMargin,
    // semi join: matched rows emit at match time, unmatched never —
    // no watermark cutoff to mirror, so the oracle is a plain EXISTS
    "stream_interval_join_semi" ->
      """SELECT l.user_id, l.event_id AS click_id
        |FROM events l
        |WHERE l.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM events r
        |  WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
        |    AND epoch_us(r.ts) > epoch_us(l.ts)
        |    AND epoch_us(r.ts) <= epoch_us(l.ts) + 1800000000)""".stripMargin,
    // Outer rows are the state-eviction byproduct: an unmatched click
    // emits once the watermark passes its match horizon, so on a
    // finite source exactly the clicks with
    // left_us + within below the final watermark flush and the newer
    // tail stays held; the oracle applies the same cutoff. The global
    // watermark is the MIN over both input streams' (ms-truncated)
    // max event times minus the delay — the sparse purchase stream,
    // not the overall max, is what gates eviction (spec-pinned: a
    // max-over-all-events cutoff over-predicts the flush). Sentinel
    // −1 encodes NULL-free unmatched rows on both sides.
    "stream_interval_join_outer" ->
      """WITH mx AS (SELECT (LEAST(
        |    (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'click'),
        |    (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'purchase'))
        |  - 3600000) * 1000 AS cut),
        |l AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS lus
        |      FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id AS ruid, event_id AS purchase_id, epoch_us(ts) AS rus
        |      FROM events WHERE event_type = 'purchase'),
        |matched AS (
        |  SELECT l.user_id, l.click_id, r.purchase_id, (r.rus - l.lus) // 1000 AS lag_ms
        |  FROM l JOIN r ON l.user_id = r.ruid
        |    AND r.rus > l.lus AND r.rus <= l.lus + 1800000000),
        |unmatched AS (
        |  SELECT l.user_id, l.click_id,
        |    CAST(-1 AS BIGINT) AS purchase_id, CAST(-1 AS BIGINT) AS lag_ms
        |  FROM l, mx
        |  WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.ruid = l.user_id
        |          AND r.rus > l.lus AND r.rus <= l.lus + 1800000000)
        |    AND l.lus + 1800000000 < mx.cut)
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched""".stripMargin,
    // FULL OUTER: matched plus BOTH eviction-driven unmatched sides.
    // Each side has its own horizon against the final watermark
    // (min of the two sides' max event time − 1 h): a click is
    // unmatched-final once wm passes click_ts + Δ; a purchase once
    // wm passes purchase_ts (a matching click must be strictly
    // earlier, and the watermark bounds how old a new click can be)
    "stream_interval_join_full" ->
      """WITH mx AS (SELECT (LEAST(
        |    (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'click'),
        |    (SELECT max(epoch_us(ts)) // 1000 FROM events WHERE event_type = 'purchase'))
        |  - 3600000) * 1000 AS cut),
        |l AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS lus
        |      FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id AS ruid, event_id AS purchase_id, epoch_us(ts) AS rus
        |      FROM events WHERE event_type = 'purchase'),
        |matched AS (
        |  SELECT l.user_id, l.click_id, r.purchase_id, (r.rus - l.lus) // 1000 AS lag_ms
        |  FROM l JOIN r ON l.user_id = r.ruid
        |    AND r.rus > l.lus AND r.rus <= l.lus + 1800000000),
        |unmatched_l AS (
        |  SELECT l.user_id, l.click_id,
        |    CAST(-1 AS BIGINT) AS purchase_id, CAST(-1 AS BIGINT) AS lag_ms
        |  FROM l, mx
        |  WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.ruid = l.user_id
        |          AND r.rus > l.lus AND r.rus <= l.lus + 1800000000)
        |    AND l.lus + 1800000000 < mx.cut),
        |unmatched_r AS (
        |  SELECT r.ruid AS user_id, CAST(-1 AS BIGINT) AS click_id,
        |    r.purchase_id, CAST(-1 AS BIGINT) AS lag_ms
        |  FROM r, mx
        |  WHERE NOT EXISTS (SELECT 1 FROM l WHERE r.ruid = l.user_id
        |          AND r.rus > l.lus AND r.rus <= l.lus + 1800000000)
        |    AND r.rus < mx.cut)
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched_l
        |UNION ALL SELECT * FROM unmatched_r""".stripMargin,
    // Per-hour KMV sketches accumulate across micro-batches by set
    // insertion (no merge error), so the oracle rebuilds each hour's
    // sketch and the consecutive-hour retained/new/churned estimates
    // in SQL — hash-exact across the batch/streaming boundary; first
    // hour emits -1 sentinels (no previous hour)
    "stream_theta" ->
      """WITH hv AS (
        |  SELECT DISTINCT epoch_ns(ts) // 3600000000000 AS h,
        |    ('0x' || substr(md5('th:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hvv
        |  FROM events),
        |r AS (SELECT h, hvv,
        |    row_number() OVER (PARTITION BY h ORDER BY hvv) AS rn,
        |    count(*) OVER (PARTITION BY h) AS cnt
        |  FROM hv),
        |sk AS MATERIALIZED (SELECT h, hvv, rn, cnt FROM r WHERE rn <= 256),
        |meta AS MATERIALIZED (SELECT h,
        |    CASE WHEN max(cnt) >= 256 THEN max(CASE WHEN rn = 256 THEN hvv END)
        |         ELSE 281474976710656 END AS theta,
        |    CASE WHEN max(cnt) >= 256
        |         THEN (255 * 281474976710656) // max(CASE WHEN rn = 256 THEN hvv END)
        |         ELSE max(cnt) END AS est
        |  FROM sk GROUP BY h),
        |samp AS MATERIALIZED (
        |  SELECT s.h, s.hvv FROM sk s JOIN meta m USING (h) WHERE s.hvv < m.theta)
        |SELECT c.h, c.est AS est_users,
        |  CASE WHEN p.h IS NULL THEN -1 ELSE
        |    ((SELECT count(*) FROM samp x JOIN samp y ON x.hvv = y.hvv
        |      WHERE x.h = c.h AND y.h = p.h AND x.hvv < least(c.theta, p.theta))
        |     * 281474976710656) // least(c.theta, p.theta) END AS est_retained,
        |  CASE WHEN p.h IS NULL THEN -1 ELSE
        |    ((SELECT count(*) FROM samp x
        |      WHERE x.h = c.h AND x.hvv < least(c.theta, p.theta)
        |        AND NOT EXISTS (SELECT 1 FROM samp y WHERE y.h = p.h AND y.hvv = x.hvv))
        |     * 281474976710656) // least(c.theta, p.theta) END AS est_new,
        |  CASE WHEN p.h IS NULL THEN -1 ELSE
        |    ((SELECT count(*) FROM samp x
        |      WHERE x.h = p.h AND x.hvv < least(c.theta, p.theta)
        |        AND NOT EXISTS (SELECT 1 FROM samp y WHERE y.h = c.h AND y.hvv = x.hvv))
        |     * 281474976710656) // least(c.theta, p.theta) END AS est_churned
        |FROM meta c LEFT JOIN meta p ON p.h = c.h - 1""".stripMargin,
    // Sliding w-hour horizon: each hour vs the KMV UNION of the w
    // preceding hours' sketches. Union of k-truncated sketches == the
    // k-sketch of the raw union, so the oracle sketches the window's
    // raw user hashes directly — estimates stay hash-exact. Two
    // horizons oracle the window rule at two points.
    "stream_theta_window" -> thetaWindowOracle(3),
    "stream_theta_window_day" -> thetaWindowOracle(24),
    // the streamed diff drains the same synthetic v_new through two
    // micro-batches and must land on the batch diff bit-for-bit —
    // same oracle as q_snapshot_diff
    "stream_snapshot_diff" ->
      """WITH vold AS (
        |  SELECT doc_id AS k, md5(text) AS oh FROM documents WHERE doc_id % 41 <> 0),
        |vnew AS (
        |  SELECT doc_id AS k,
        |    md5(CASE WHEN doc_id % 37 = 0 THEN text || ' v2' ELSE text END) AS nh
        |  FROM documents WHERE doc_id % 43 <> 0)
        |SELECT CASE WHEN oh IS NULL THEN 'added'
        |            WHEN nh IS NULL THEN 'removed'
        |            WHEN oh <> nh THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |  count(*) AS n
        |FROM vold FULL OUTER JOIN vnew USING (k)
        |GROUP BY 1""".stripMargin,
    "stream_enrich" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "pipeline_clean_corpus" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS alpha_ratio,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        |    len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for|with|was)\b')) AS s_en,
        |    len(regexp_extract_all(text, '\b(el|la|de|que|y|los|las|un|una|por)\b')) AS s_es,
        |    len(regexp_extract_all(text, '\b(der|die|und|das|ist|von|mit|den|des|ein)\b')) AS s_de,
        |    len(regexp_extract_all(text, '\b(le|la|et|les|des|une|dans|est|pour|que)\b')) AS s_fr
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, text, n_ws_tokens FROM m
        |  WHERE alpha_ratio >= 0.5 AND n_ws_tokens >= 10
        |    AND s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr),
        |hashed AS (
        |  SELECT doc_id, n_ws_tokens,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM kept)
        |SELECT doc_id, n_ws_tokens FROM (
        |  SELECT doc_id, n_ws_tokens, min(doc_id) OVER (PARTITION BY h) AS keep
        |  FROM hashed)
        |WHERE doc_id = keep""".stripMargin,
    // The full mix: the clean-corpus stages (same SQL as above, with
    // source carried through) + the ta_source_cap quota + the
    // ta_shuffle global order — each stage's oracle logic verbatim,
    // composed, so the end-to-end result is hash-checked too.
    "pipeline_pretrain_mix" ->
      """WITH m AS (
        |  SELECT doc_id, source, text,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |      / length(text) AS alpha_ratio,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        |    len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for|with|was)\b')) AS s_en,
        |    len(regexp_extract_all(text, '\b(el|la|de|que|y|los|las|un|una|por)\b')) AS s_es,
        |    len(regexp_extract_all(text, '\b(der|die|und|das|ist|von|mit|den|des|ein)\b')) AS s_de,
        |    len(regexp_extract_all(text, '\b(le|la|et|les|des|une|dans|est|pour|que)\b')) AS s_fr
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, source, text, n_ws_tokens FROM m
        |  WHERE alpha_ratio >= 0.5 AND n_ws_tokens >= 10
        |    AND s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr),
        |surv AS (
        |  SELECT doc_id, source, n_ws_tokens FROM (
        |    SELECT doc_id, source, n_ws_tokens,
        |      min(doc_id) OVER (
        |        PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep
        |    FROM kept)
        |  WHERE doc_id = keep),
        |capped AS (
        |  SELECT doc_id, source, n_ws_tokens FROM (
        |    SELECT doc_id, source, n_ws_tokens,
        |      row_number() OVER (PARTITION BY source
        |        ORDER BY md5(CASE WHEN source IS NULL THEN CAST(doc_id AS VARCHAR)
        |                          ELSE source || ':' || CAST(doc_id AS VARCHAR) END)) AS rk
        |    FROM surv)
        |  WHERE rk <= 10)
        |SELECT doc_id, source, CAST(n_ws_tokens AS BIGINT) AS n_tokens,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_rank
        |FROM capped""".stripMargin,
    // §2.10 sketch / synopsis operators. q_heavy_hitters' two-pass MG
    // candidate generation is invisible to the oracle on purpose: the
    // emitted top-k is EXACT (candidate superset is spec-pinned), so
    // the oracle is the plain frequency top-k under the same
    // (cnt DESC, word ASC) total order. q_bloom_semi_join's bloom
    // probe only pre-prunes fact rows ahead of the exact semi join,
    // so its oracle is the plain semi join.
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
        |  FROM documents)
        |SELECT word, count(*) AS cnt FROM toks WHERE word <> ''
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 10""".stripMargin,
    "q_bloom_semi_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice >= 480000.0)
        |GROUP BY l_returnflag""".stripMargin,
    // The CMS hash (md5-derived, no RNG) is recomputed in SQL, so the
    // oracle reproduces the ESTIMATES exactly, not just the exact
    // counts: est(word) = min over rows j of the total count landing
    // in cell h_j(word) — including collisions, including absent
    // probes (whose cells may still be non-empty).
    "q_count_min" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
        |  FROM documents),
        |wc AS (SELECT word, count(*) AS c FROM toks WHERE word <> '' GROUP BY word),
        |rows_ AS (SELECT unnest(generate_series(0, 3)) AS j),
        |cells AS (
        |  SELECT j,
        |    ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || word), 1, 12))::BIGINT % 1024 AS cell,
        |    CAST(sum(c) AS BIGINT) AS total
        |  FROM wc CROSS JOIN rows_ GROUP BY 1, 2),
        |probes(word) AS (VALUES ('graftabsent'), ('hash'), ('join'), ('scan')),
        |pc AS (
        |  SELECT p.word, r.j,
        |    ('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' || p.word), 1, 12))::BIGINT % 1024 AS cell
        |  FROM probes p CROSS JOIN rows_ r),
        |est AS (
        |  SELECT pc.word, min(COALESCE(cells.total, 0)) AS est
        |  FROM pc LEFT JOIN cells ON cells.j = pc.j AND cells.cell = pc.cell
        |  GROUP BY pc.word)
        |SELECT est.word, est.est, CAST(COALESCE(wc.c, 0) AS BIGINT) AS exact
        |FROM est LEFT JOIN wc ON wc.word = est.word""".stripMargin,
    // KMV theta sketches rebuilt in SQL: k smallest distinct 48-bit
    // md5 values per event_type, theta = the 256th (2^48 while still
    // exact), samples = values strictly below theta, every estimate
    // an integer floor division — so unions, INTERSECTIONS and
    // DIFFERENCES all hash-check, collisions and truncation included
    "q_theta_sketch" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5('th:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS hv
        |  FROM events),
        |r AS (SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM h),
        |sk AS MATERIALIZED (SELECT event_type, hv, rn, cnt FROM r WHERE rn <= 256),
        |meta AS MATERIALIZED (SELECT event_type,
        |    CASE WHEN max(cnt) >= 256 THEN max(CASE WHEN rn = 256 THEN hv END)
        |         ELSE 281474976710656 END AS theta,
        |    CASE WHEN max(cnt) >= 256
        |         THEN (255 * 281474976710656) // max(CASE WHEN rn = 256 THEN hv END)
        |         ELSE max(cnt) END AS est
        |  FROM sk GROUP BY event_type),
        |samp AS MATERIALIZED (
        |  SELECT s.event_type, s.hv FROM sk s JOIN meta m USING (event_type)
        |  WHERE s.hv < m.theta),
        |pairs AS MATERIALIZED (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.est AS est_a, b.est AS est_b, least(a.theta, b.theta) AS t
        |  FROM meta a JOIN meta b ON a.event_type < b.event_type),
        |upre AS (
        |  SELECT DISTINCT p.type_a, p.type_b, s.hv
        |  FROM pairs p JOIN sk s ON s.event_type IN (p.type_a, p.type_b)),
        |usk AS (SELECT type_a, type_b, hv,
        |    row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS rn,
        |    count(*) OVER (PARTITION BY type_a, type_b) AS cnt
        |  FROM upre),
        |umeta AS (SELECT type_a, type_b,
        |    CASE WHEN max(cnt) >= 256
        |         THEN (255 * 281474976710656) // max(CASE WHEN rn = 256 THEN hv END)
        |         ELSE max(cnt) END AS est_union
        |  FROM usk WHERE rn <= 256 GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.est_a, p.est_b, u.est_union,
        |  ((SELECT count(*) FROM samp x JOIN samp y ON x.hv = y.hv
        |    WHERE x.event_type = p.type_a AND y.event_type = p.type_b
        |      AND x.hv < p.t) * 281474976710656) // p.t AS est_intersect,
        |  ((SELECT count(*) FROM samp x
        |    WHERE x.event_type = p.type_a AND x.hv < p.t
        |      AND NOT EXISTS (SELECT 1 FROM samp y
        |        WHERE y.event_type = p.type_b AND y.hv = x.hv)) * 281474976710656) // p.t AS est_diff
        |FROM pairs p JOIN umeta u USING (type_a, type_b)""".stripMargin
  )

  /** Pinned EXPECTED ROW COUNTS at the driver's verify scale
    * (sf0.01) for every rows-only query — the set with no DuckDB
    * oracle (EntrySpec pins why, per key). Each count is implied by
    * the query's ScalaTest oracle (pair sets, top-k shapes, recall
    * fixtures); Verify dumps this as `expected_rows.json` next to
    * `oracle_sql.json` and FAILS LOUD on drift, so the driver can
    * rows-gate entries it cannot hash-gate. */
  def expectedRows: Map[String, Long] = Map(
    "dedup_minhash" -> 25L,        // verified near-dup pair set (DedupSpec)
    "dedup_simhash" -> 17L,        // hamming-band pair set
    "dedup_embedding" -> 25L,      // cosine near-dup pair set
    "dedup_contamination" -> 1L,   // one summary row
    "stream_near_dedup" -> 25L,    // == dedup_minhash by batch parity
    "sim_ann_lsh" -> 80L,          // 8 queries x top-10
    "sim_ann_ivf" -> 80L,
    "stream_ann_ivf" -> 80L,
    "stream_ann_ivfpq" -> 80L,
    "sim_kmeans" -> 16L,           // k = 16 centroid rows
    "q_approx_distinct_hll" -> 5L, // one row per event type
    "sim_ann_pq" -> 80L,
    "sim_ann_ivfpq" -> 80L,
    "sim_ann_pca" -> 80L,
    "stream_ann_pca" -> 80L,
    "sim_ann_ivfpq_res" -> 80L,
    "sim_ann_opq" -> 80L,
    "q_mst" -> 1999L,              // spanning forest: n_nodes - n_components
    "q_betweenness" -> 20L,        // top-20 centrality rows
    "q_kll_sketch" -> 6L,          // one audited estimate per permille probe
    "stream_kll" -> 6L,            // same probe set, sketch-store merged
    "dedup_semantic" -> 500L,      // one verdict row per embedding
    "stream_semantic" -> 500L,     // its maintained twin, same contract
    "mm_phash_decoded" -> 500L,    // one summary row per rendered PNG
    "stream_phash_decoded" -> 500L) // its maintained twin, same contract
}

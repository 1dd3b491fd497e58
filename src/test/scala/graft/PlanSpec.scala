package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (SURVEY §5): the 100 TB design claims —
  * pushdown, pruning, broadcast, map-side partial aggregation,
  * whole-stage codegen — must be visible in the physical plan, not
  * just intended.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  lazy val sf = SharedSpark.sf

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // executes THIS QueryExecution so AQE finalizes it
    df.queryExecution.executedPlan.toString
  }

  test("PLANS.md inventory is complete: every non-streaming query has a committed plan section") {
    // the r12 lesson: q_interval_coverage landed after the last
    // PlanNotes regeneration and shipped without its plan audited —
    // nothing failed loud. Now it does: a query added without
    // re-running `runMain graft.PlanNotes` fails here.
    val plans = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    val sections = plans.linesIterator
      .filter(_.startsWith("## ")).map(_.drop(3).trim).toSet
    val wanted = SparkEntry.queries.keySet.filterNot(_.startsWith("stream_"))
    val missing = wanted -- sections
    assert(missing.isEmpty,
      s"queries with no committed plan (re-run `runMain graft.PlanNotes`): $missing")
    val stale = sections -- wanted
    assert(stale.isEmpty, s"PLANS.md sections for queries that no longer exist: $stale")
  }

  test("PLANS_STREAMED.md inventory is complete: every streamed query has a committed RESOLVE plan section") {
    // same fail-loud guard as PLANS.md, for the ~60 streamed faces
    // whose state-read scale risk lives in the resolve plan: a
    // stream_* entry added without re-running
    // `runMain graft.PlanNotes --streamed` fails here, and so does a
    // stale section for a removed entry.
    val plans = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS_STREAMED.md")), "UTF-8")
    val sections = plans.linesIterator
      .filter(_.startsWith("## ")).map(_.drop(3).trim).toSet
    val wanted = SparkEntry.queries.keySet.filter(_.startsWith("stream_"))
    val missing = wanted -- sections
    assert(missing.isEmpty,
      s"streamed queries with no committed resolve plan (re-run `runMain graft.PlanNotes --streamed`): $missing")
    val stale = sections -- wanted
    assert(stale.isEmpty, s"PLANS_STREAMED.md sections for queries that no longer exist: $stale")
  }

  test("q1_agg: filter pushed to parquet, columns pruned, partial agg before exchange") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_partkey"), "unused columns must not be read")
    assert(p.contains("partial_sum"), "map-side partial aggregation")
    assert(p.split("Exchange").length - 1 <= 2, "one logical shuffle (plus AQE wrapper)")
  }

  test("q3_join_agg: dimension filter pushed and customer side broadcast") {
    val p = plan("q3_join_agg")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "dim filter reaches the scan")
    assert(p.contains("BroadcastHashJoin"), "broadcast join for the dimension")
  }

  test("q5_star_join: entire dimension chain broadcasts; no dimension shuffle") {
    val p = plan("q5_star_join")
    assert(p.contains("EqualTo(r_name,ASIA)"))
    assert(p.contains("BroadcastHashJoin"))
    // region/nation/customer never hash-partition: the only allowed
    // Exchange is the final aggregate's
    val exchanges = p.split("\n").count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"dimension chain must not shuffle (found $exchanges hash exchanges)")
  }

  test("mr_wordcount: tokenize+count runs in whole-stage codegen with partial agg") {
    val p = executedPlan("mr_wordcount")
    // whole-stage codegen spans print as "*(n) Operator" in simple mode
    assert(p.contains("*(1) HashAggregate") || p.contains("WholeStageCodegen"))
    assert(p.contains("partial_count"))
    assert(p.contains("ReadSchema: struct<text:string>"), "only the text column is read")
  }

  test("sim_bruteforce_topk: corpus scanned once, queries broadcast, no corpus shuffle before scoring") {
    val p = plan("sim_bruteforce_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast")
    assert(p.contains("vec_cosine"), "native codegen cosine in the plan")
  }

  test("semi/anti joins stay semi/anti in the physical plan (no row multiplication)") {
    assert(plan("q_semi_join").contains("LeftSemi"))
    assert(plan("q_anti_join").contains("LeftAnti"))
  }

  test("no dedup/ANN plan ever contains a cross product or nested-loop join (the no-O(n²) claim)") {
    // sim_ann_ivf is exempt from the BNLJ check: its coarse quantizer
    // deliberately scores every row against the CONSTANT-size broadcast
    // seed table (n × nCells, not n²) — the candidate join itself is
    // still an equality join on the cell id.
    for (q <- Seq("dedup_minhash", "dedup_ngram_jaccard", "dedup_simhash",
      "dedup_embedding", "sim_ann_lsh", "sim_ann_ivf", "sim_kmeans",
      "dedup_incremental", "dedup_fuzzy", "dedup_contamination",
      "dedup_spans")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian product")
    }
    for (q <- Seq("dedup_minhash", "dedup_ngram_jaccard", "dedup_simhash",
      "dedup_embedding", "sim_ann_lsh", "dedup_contamination")) {
      assert(!plan(q).contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("r9 compositional ops plan clean: gopher flags and nearest as-of never cartesian/nested-loop") {
    for (q <- Seq("ta_gopher_flags", "q_asof_nearest")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a quadratic join")
    }
    // the gopher verdict is two doc_id-keyed aggregates — partial
    // aggregation must be present (map-side combine on the explode)
    assert(plan("ta_gopher_flags").contains("partial"),
      "gopher stats must map-side combine")
  }

  test("dedup_spans: semi-join window filter; island windows and final agg share ONE doc_id exchange") {
    val p = plan("dedup_spans")
    assert(p.contains("LeftSemi"), "duplicated-window filter must be a semi join")
    // 3 exchange nodes total (formatted mode names each twice): the
    // map-side-combined shingle count, the (broadcast at this SF)
    // semi-join side, and ONE doc_id exchange feeding both windows
    // AND the final (doc_id, grp) aggregate — prefix partitioning
    // reuse; a fourth exchange means the final agg stopped reusing it
    assert(p.split("Exchange").length - 1 <= 6, "final agg must reuse the window's doc_id partitioning")
  }

  test("range join is a hash join on (key, bin), not an inequality nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Join") && p.contains("_bin"))
  }

  test("interval overlap join: bin equi-join with the small side broadcast, never a nested loop") {
    val p = plan("q_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("_bin"), "the overlap predicate must ride a bin equi-join")
    assert(p.contains("BroadcastHashJoin"),
      "the (≤720-row) incident side must broadcast, not shuffle the sessions again")
  }

  test("q9_profit_shape: part filter pushed, supplier/nation broadcast, no cartesian") {
    val p = plan("q9_profit_shape")
    assert(p.contains("LessThanOrEqual(p_size,20"), "p_size filter must reach the part scan")
    assert(p.contains("BroadcastHashJoin"), "dimension sides must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("ta_contamination: eval vocabulary broadcast; train side joins without a full shuffle") {
    val p = plan("ta_contamination")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "eval shingles must arrive as a broadcast semi join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_salted_join: the join runs on (key, salt) and never broadcasts the salted big side") {
    val p = plan("q_salted_join")
    assert(p.contains("_salt"), "salt must be a join key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("ta_source_cap: k-bounded aggregation, never a window sort over whole groups") {
    val p = plan("ta_source_cap")
    assert(p.contains("ObjectHashAggregate"), "MinK aggregator must drive selection")
    assert(!p.contains("Window"), "a window row_number plan would sort every group's full rows")
  }

  test("ta_ngram_lm: top-k via TakeOrderedAndProject, not a global Sort") {
    val p = plan("ta_ngram_lm")
    assert(p.contains("TakeOrderedAndProject"), "limit-k must plan as bounded per-partition top-k")
  }

  test("q_topk_per_key: rank filter infers pre-shuffle WindowGroupLimit (bounded shuffle)") {
    val p = plan("q_topk_per_key")
    // Spark 4's InferWindowGroupLimit must place a partial group limit
    // BEFORE the exchange — the shuffle then carries at most k rows
    // per (partition, key) instead of every key's full row set
    assert(p.contains("WindowGroupLimit"), "rank filter must infer a window group limit")
    val firstLimit = p.indexOf("WindowGroupLimit", p.indexOf("WindowGroupLimit") + 1)
    assert(firstLimit > 0 && firstLimit > p.indexOf("Exchange"),
      "a partial WindowGroupLimit must sit below the exchange")
  }

  test("q_funnel: stage joins, never a per-user window or cross product") {
    val p = plan("q_funnel")
    assert(!p.contains("Window"), "funnel must not sort each user's full event list")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_triangles: every join an equality join; wedge closure probes a broadcast") {
    // Build on the real table so the <= threshold branch (broadcast
    // closure) is the one under test.
    val df = operators.Graph.coPurchaseTriangles(Tables.lineitem(spark, sf))
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("CartesianProduct"),
      "triangle counting must never degrade to an all-pairs join")
    // exactly one nested-loop join is allowed: the 1-row x 1-row
    // summary crossJoin (nodes x triangles scalars); formatted
    // explain names each node twice (tree + detail section)
    assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 2,
      "only the scalar summary may cross-join")
    assert(p.contains("BroadcastHashJoin"),
      "below the size threshold the closure must probe a broadcast edge map")
  }

  test("ta_bm25: only query-term postings shuffle (IN filter precedes the tf aggregate); top-k bounded") {
    val p = plan("ta_bm25")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    // the term filter must sit in the scan stage, below the first exchange
    val filterAt = p.indexOf("spark,window,vector")
    assert(filterAt >= 0, "literal IN-set filter present")
  }

  test("ta_weighted_sample: one scan, zero exchanges — TakeOrderedAndProject only") {
    val p = plan("ta_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), "E-S top-k must be a bounded merge")
    assert(!p.contains("Exchange"), "weighted sampling must not shuffle the corpus")
  }

  test("q_zorder: interleave stays inside whole-stage codegen over a pruned 2-column scan") {
    // AQE only annotates codegen in the FINAL plan — execute first.
    // executedPlan.toString marks codegen stages with "*(id)".
    val p = executedPlan("q_zorder")
    assert(p.contains("*(1) Project"), "bit-fold must stay in whole-stage codegen")
    assert(!p.contains("l_quantity") && !p.contains("l_orderkey"),
      "only the two interleaved key columns may be read")
  }

  test("sim_ann_ivfpq: candidate join is an equality join on the cell id — no cross product over codes") {
    val p = plan("sim_ann_ivfpq")
    assert(!p.contains("CartesianProduct"), "IVFPQ plans a cartesian product")
    assert(p.contains("BroadcastHashJoin"), "probe table must broadcast against the cell key")
  }

  test("sim_ann_ivfpq / sim_ann_pq / sim_ann_opq: corpus codes and ADC scores come from the native kernels, never a lambda") {
    assert(executedPlan("sim_ann_opq").contains("vec_matvec("), "OPQ rotation is not the native matvec")
    Seq("sim_ann_ivfpq", "sim_ann_pq", "sim_ann_opq").foreach { name =>
      val p = executedPlan(name)
      Seq("pq_codes(", "adc_sum(").foreach(k => assert(p.contains(k), s"$name: no $k in\n$p"))
      // a refactor that wraps either kernel back into an interpreted
      // HOF (CodegenFallback) would put a lambda on the node's line
      p.linesIterator.filter(l => l.contains("pq_codes(") || l.contains("adc_sum("))
        .foreach { l =>
          assert(!l.contains("lambdafunction") && !l.contains("aggregate("),
            s"$name: a PQ kernel runs inside a HOF: $l")
        }
      assert(!p.contains("aggregate(sequence"), s"$name: the HOF ADC fold is back:\n$p")
    }
  }

  // FormattedMode prints node headers as "(n) Exchange" with the
  // partitioning on a separate Arguments line — count shuffle nodes
  // by header (BroadcastExchange intentionally excluded).
  private def shuffleCount(p: String): Int =
    "\\(\\d+\\) Exchange\\b".r.findAllIn(p).length

  test("mr_inverted_index: one shuffle on word, no lambda") {
    val p = plan("mr_inverted_index")
    assert(shuffleCount(p) == 1, s"the (word, doc) pairs must shuffle once:\n$p")
    assert(!p.contains("lambdafunction"), s"a lambda is left in the plan:\n$p")
    assert(p.contains("partial_collect_set"), "doc sets merge map-side")
  }

  test("dedup_cdc: chunk boundaries come from the native cdc_chunks kernel, never a lambda") {
    val p = executedPlan("dedup_cdc")
    assert(p.contains("cdc_chunks("), s"no cdc_chunks in\n$p")
    assert(!p.contains("lambdafunction"), s"a lambda is left in the plan:\n$p")
  }

  test("q_session_window: native merging-sessions pass, one shuffle on user_id") {
    val p = plan("q_session_window")
    assert(p.contains("MergingSessions") || p.contains("UpdatingSession"),
      "native session-window operator expected in the plan")
    assert(shuffleCount(p) == 1,
      s"session merge must be one user_id shuffle:\n$p")
  }

  test("q_scd2: both windows and the group-by reuse ONE user_id shuffle") {
    val p = plan("q_scd2")
    assert(shuffleCount(p) == 1,
      s"lag/run-id/group/lead must share one user_id partitioning:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_quantile_sketch: histogram is one partial-agg shuffle on (source, bin)") {
    // the estimate step is an O(bins) driver fold; the distributed
    // part must be a single map-side-combined aggregation
    val h = graft.operators.Sketches.histogramBySource(Tables.documents(spark, sf))
      .queryExecution.explainString(FormattedMode)
    assert(h.contains("partial_count"), "map-side partial aggregation")
    assert(shuffleCount(h) == 1, s"histogram must be exactly one shuffle:\n$h")
  }

  test("q_triangles_approx: sparsified counting keeps the exact counter's join shapes") {
    // the md5 sample predicate runs when the edge list materializes
    // (inside triangleCount's localCheckpoint), so the final plan is
    // the exact counter's over fewer edges: equality joins only, the
    // closure probing a broadcast — and never a cartesian product
    // (the one BroadcastNestedLoopJoin is the 1-row summary
    // crossJoin-of-scalars, as in q_triangles)
    val p = plan("q_triangles_approx")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "wedge closure must probe a broadcast")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "wedge generation is a co-partitioned equality self-join")
  }

  test("AQE skew-join split fires on a planted hot key (the automatic twin of q_salted_join)") {
    // SURVEY §5 claims AQE skew handling as the automatic counterpart
    // of the manual salting operators. This pins the claim: with the
    // skew thresholds scaled to the fixture, the hot key's partition
    // must be split (the executed SortMergeJoin carries skew=true) and
    // the result must equal the plain join's.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions").map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.shuffle.partitions", "8")
      // key 0 carries 30k rows; 200 cold keys carry 50 each. The pad
      // column is ROW-DEPENDENT (a literal would constant-fold away
      // and column pruning would shrink the hot partition under the
      // skew threshold) and is aggregated, so it must survive the
      // shuffle. The aggregation is GLOBAL (its partial stage needs
      // no particular distribution) — a groupBy on the join key would
      // legitimately suppress the split, since splitting breaks the
      // hash partitioning that aggregation requires.
      val left = ((0 until 30000).map(i => (0L, i.toLong)) ++
        (for (k <- 1 to 200; i <- 0 until 50) yield (k.toLong, i.toLong)))
        .toDF("k", "lv")
        .withColumn("pad", sha2(concat(col("k"), lit(":"), col("lv")), 256))
      val right = (0L to 200L).map(k => (k, s"dim$k")).toDF("k", "name")
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("padlen"),
          sum(when(col("k") === 0, 1L).otherwise(0L)).as("hot"))
      val row = joined.collect().head
      val total = 30000L + 200L * 50L
      assert(row.getLong(0) == total && row.getLong(1) == total * 64L &&
        row.getLong(2) == 30000L, "skew split must not change results")
      val exec = joined.queryExecution.executedPlan.toString
      assert(exec.contains("skew=true"),
        s"hot-key partition was not split by AQE:\n${exec.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
  test("dedup_url: canonicalization stays inside one codegen'd scan; ONE aggregate shuffle") {
    val p = plan("dedup_url")
    assert(p.contains("HashAggregate"), "canonical-url dedup is an aggregate")
    assert(p.contains("partial_min"), "survivor election must combine map-side")
    // scalar string canonicalization must not introduce joins
    assert(!p.contains("Join"), "pure expression canonicalization must not join")
    val exchanges = p.split("\n").count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected the single aggregate shuffle, got $exchanges")
  }

  test("ta_quality_clf: weight table broadcasts; no shuffle before the per-doc aggregate") {
    val p = executedPlan("ta_quality_clf")
    assert(p.contains("BroadcastHashJoin"), "the micros weight table must broadcast")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-doc aggregate must combine map-side")
  }

  test("dedup_lines: survivor election combines map-side on the content key; no cartesian anywhere") {
    val p = plan("dedup_lines")
    assert(p.contains("partial_min"),
      "the first-occurrence min(struct) must partial-aggregate — a hot " +
        "boilerplate segment would otherwise funnel through one reducer")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "segment join must stay an equality join on the md5 key")
  }

  test("ta_dsir_weights: LM state is ONE bucket aggregate; totals ride a single-row broadcast; text never joins") {
    val p = plan("ta_dsir_weights")
    assert(p.contains("partial_sum"), "bucket LM counts must combine map-side")
    // the only nested-loop join allowed is the single-row scalar
    // totals broadcast (the documented scalar-cross pattern); count
    // the formatted plan's "(n) Operator" detail headers, which list
    // each physical node exactly once
    val bnl = p.split("\n").count(_.matches("""\(\d+\) BroadcastNestedLoopJoin.*"""))
    assert(bnl <= 1, s"only the scalar totals cross is allowed, found $bnl")
    assert(!p.contains("CartesianProduct"))
  }

  test("ta_mix_temperature: one token aggregate; every join is a single-row scalar broadcast") {
    val p = plan("ta_mix_temperature")
    assert(p.contains("partial_sum"), "per-source token counts combine map-side")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "nothing in this plan is allowed to shuffle-join")
  }

  test("dedup_semantic: candidate pairs come from a cell equality join, never a cross product") {
    val p = plan("dedup_semantic")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "within-cell pairing is an equality join on the cell id")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "SemDeDup's whole point is bounding pairs by the cell join")
  }

  test("r12 multimodal/pair plans: every join an equality join, never cartesian/nested-loop; fingerprints feed both sides from one checkpoint") {
    for (name <- Seq("mm_pair_audit", "pipeline_mm_clean")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: nested-loop join")
    }
    // the pair audit's media lookup and caption lookup are both
    // equality joins against the SAME materialized band frame (the
    // localCheckpoint scan), never a recomputed decode pass
    val p = plan("mm_pair_audit")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      "band frame must come from the checkpointed scan")
  }

  test("q_mst_summary: consumer plan is the constant-size checkpoint scan (the Borůvka build ran eagerly inside the builder)") {
    val p = plan("q_mst_summary")
    // mstSummary materializes its one-row result via localCheckpoint
    // (the iterative-builder pattern the CC family documents), so
    // the consumer-visible plan must be a bare checkpointed scan —
    // re-planning the Borůvka rounds here would mean the checkpoint
    // regressed to lazy lineage
    assert(p.contains("Scan ExistingRDD"), "expected the checkpointed scan")
    assert(!p.contains("Exchange"), "a one-row checkpoint scan must not shuffle")
    assert(!p.contains("CartesianProduct"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over relationship tables (SURVEY §2.3 companion:
  * the connected-components family in [[Dedup]] covers reachability;
  * this module covers local structure).
  *
  * Reference scope note: the reference framework's join-shaped
  * plugins compute pairwise structure only; triangle counting is the
  * canonical "hard" MapReduce graph benchmark (Suri & Vassilvitskii,
  * WWW'11 — public literature) and exercises exactly the fan-out
  * control a 100 TB deployment needs.
  */
object Graph {

  /** Co-purchase edge list: an undirected edge (u, v), u < v, between
    * two parts that appear in the same order.
    *
    * Scale design: the self-join is on `l_orderkey`, so fan-out per
    * join key is C(linesPerOrder, 2) — bounded by the schema (orders
    * have ≤ 7 lines), never by table size. The join co-partitions
    * both sides on the same key (one shuffle each), and the final
    * `distinct` is one more bounded shuffle on the edge itself. No
    * step is quadratic in parts, orders, or lineitems.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val items = lineitem.select(
      col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val a = items.as("a")
    val b = items.as("b")
    a.join(b, col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
  }

  /** Weighted co-purchase edges: like [[coPurchaseEdges]] but each
    * (u, v) edge carries an integer LENGTH derived from its
    * co-purchase multiplicity — `w = 10 − least(9, shared orders)`,
    * so frequently-co-purchased pairs are CLOSE (length 1) and
    * one-off pairs are far (length 9). All-integer and a pure
    * aggregate of the same bounded per-order fan-out, so the DuckDB
    * oracle rebuilds identical weights with `10 - LEAST(9, count(*))`.
    */
  def coPurchaseWeightedEdges(lineitem: DataFrame): DataFrame = {
    val items = lineitem.select(
      col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val a = items.as("a")
    val b = items.as("b")
    a.join(b, col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .groupBy("u", "v")
      .agg((lit(10L) - least(lit(9L), count(lit(1)))).as("w"))
  }

  /** Single-source shortest paths over weighted undirected edges
    * (u, v, w) — the weighted sibling of [[bfsHops]]: distance is the
    * MINIMUM TOTAL LENGTH from the deterministic min-id seed, not the
    * hop count, so it answers "how tightly coupled" where BFS answers
    * "reachable in how many steps".
    *
    * Delta-relaxing Bellman-Ford, the scalable shape: round r joins
    * ONLY the nodes whose distance IMPROVED in round r−1 against the
    * adjacency (a settled node's contribution was already applied the
    * round it last improved, so re-relaxing it is a no-op — the
    * classic SSSP frontier argument). Per-round work is O(edges
    * incident to the improved set); each round is one equality join +
    * one min-aggregate + one left join back against the running
    * distance table, all hash-partitioned on the node, run as a
    * [[Fixpoint.delta]] loop. Early exit when a round improves
    * nothing (the fixpoint); `maxRounds` caps the relaxation depth —
    * note a min-WEIGHT path may use more hops than the BFS diameter,
    * so the cap is generous and the SQL oracle unrolls the SAME
    * number of rounds (rounds past the fixpoint are no-ops on both
    * sides, the q_kcore oracle philosophy).
    *
    * All-integer distances (weights are integers, sums are Long), so
    * the oracle's unrolled relax-ladder must agree on every value —
    * no float accumulation order to diverge on.
    *
    * `strict = true` (the default, and what every entry runs) FAILS
    * LOUD if the round budget is exhausted while relaxations still
    * improve — a truncated result would silently hash-drift from any
    * fixpoint oracle. `strict = false` keeps the bounded-ladder
    * semantics (result = exactly a maxRounds-unrolled Bellman ladder)
    * for callers that want the truncation deliberately.
    */
  def sssp(edges0: DataFrame, maxRounds: Int = 20,
           strict: Boolean = true): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges0.sparkSession
    import spark.implicits._
    val und = undirected(edges0, col("w")).localCheckpoint(true)
    val seedRow = und.agg(min(col("a"))).head()
    if (seedRow.isNullAt(0)) {
      Checkpoints.free(und)
      return spark.emptyDataset[(Long, Long)].toDF("node", "dist")
    }
    // one wave: the frontier's (node, dist) rows relaxed along the
    // adjacency, kept where they beat the running distance
    def improved(frontier: DataFrame, dist: DataFrame) =
      frontier.join(und, frontier("node") === und("a"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("nd"))
        .groupBy("node").agg(min(col("nd")).as("nd"))
        .join(dist, Seq("node"), "left_outer")
        .filter(col("dist").isNull || col("nd") < col("dist"))
        .select(col("node"), col("nd").as("dist"))
    // Strict mode fails loud when the round budget is exhausted while
    // the frontier still improves something: a truncated result here
    // silently diverges from any fixpoint oracle (the streamed twin
    // relaxes to ITS fixpoint, so the two would hash-drift on a deeper
    // graph). One extra bounded probe of the untested wave is cheap
    // relative to the rounds already paid.
    val res = Fixpoint.delta(
        Seq((seedRow.getLong(0), 0L)).toDF("node", "dist").localCheckpoint(true),
        maxRounds, Seq("node"),
        exhausted = (f, d) => !strict || improved(f, d).limit(1).count() > 0) {
      (frontier, dist, _) => improved(frontier, dist)
    }
    Checkpoints.free(und)
    if (strict && !res.converged) {
      Checkpoints.free(res.state)
      throw new IllegalStateException(
        s"sssp: round budget maxRounds=$maxRounds exhausted before " +
          "fixpoint — distances would be truncated; raise maxRounds")
    }
    res.state
  }

  /** Both directions of every (u, v) row as (a, b) rows, with the
    * `extra` columns carried along — the adjacency the traversals
    * read. */
  private def undirected(edges: DataFrame, extra: Column*): DataFrame =
    edges.select(col("u").as("a") +: col("v").as("b") +: extra: _*)
      .unionAll(edges.select(col("v").as("a") +: col("u").as("b") +: extra: _*))

  /** Exact triangle count via degree-ordered wedge closure.
    *
    * Naive triangle counting closes wedges at EVERY vertex — a hub of
    * degree d contributes C(d, 2) wedges, so one celebrity node in a
    * power-law graph produces 10¹⁰ candidates. The fix (public:
    * Suri & Vassilvitskii WWW'11; also how GraphFrames/Trino do it)
    * is to orient each undirected edge from the endpoint that is
    * SMALLER under the total order (degree, id) to the larger one:
    * every vertex then has out-degree O(√m), wedge generation is
    * O(m^1.5) worst-case TOTAL — independent of hub skew — and each
    * triangle is generated exactly once, at its minimum vertex.
    *
    * Plan shape: degree is one shuffle on node; orientation is two
    * equality joins edge⋈degree; wedge generation is a self-join of
    * the oriented DAG on `src` (co-partitioned, one shuffle); closure
    * is an equality join of wedges against oriented edges on the full
    * (src, dst) pair. Every join is an equality join — PlanSpec
    * asserts no CartesianProduct/BNLJ — and the three 1-row summary
    * aggregates join by crossJoin-of-scalars (driver cost O(1)).
    *
    * Output: one row (nodes, n_edges, triangles) — all integers, so
    * the DuckDB oracle (which uses the orientation-free a<b<c
    * three-way join) must agree bit-for-bit.
    */
  def triangleCount(edges0: DataFrame): DataFrame = {
    // The edge list feeds four consumers (degree, orientation, both
    // wedge sides) — materialize the candidate generator ONCE.
    // localCheckpoint (the CC-family pattern) rather than cache: the
    // count below is needed anyway for the summary row and to pick
    // the closure strategy, and checkpointing keeps every downstream
    // plan constant-size. Cluster deployments with executor churn
    // would use a reliable checkpoint dir instead.
    val edges = edges0.localCheckpoint(true)
    val mEdges = edges.count()

    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))

    // Orient by (degree, id): lower endpoint -> higher endpoint.
    val du = deg.as("du")
    val dv = deg.as("dv")
    val uFirst = (col("du.d") < col("dv.d")) ||
      (col("du.d") === col("dv.d") && col("u") < col("v"))
    val oriented = edges
      .join(du, col("u") === col("du.n"))
      .join(dv, col("v") === col("dv.n"))
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv.d")).otherwise(col("du.d")).as("dstDeg"))
      .localCheckpoint(true)

    // Wedges at the minimum vertex: pair the out-neighbours of each
    // src, ordered by the SAME (degree, id) total order so the closing
    // edge is guaranteed to be oriented b -> c.
    // The wedge self-join stays a shuffled join co-partitioned on
    // src (measured: broadcasting the probe side here is a loss —
    // the high-duplication src multimap builds slower than one
    // 1-column exchange + merge).
    val small = mEdges <= 20L * 1000 * 1000
    val e1 = oriented.as("e1")
    val e2 = oriented.as("e2")
    val wedges = e1.join(e2,
        col("e1.src") === col("e2.src") &&
          ((col("e1.dstDeg") < col("e2.dstDeg")) ||
           (col("e1.dstDeg") === col("e2.dstDeg") &&
            col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("b"), col("e2.dst").as("c"))

    // Closure: the O(m^1.5) wedge stream is the dominant volume —
    // never let it hit an exchange when the EDGE list (only O(m))
    // fits in a broadcast. With the hint, wedge generation and the
    // closure probe fuse into one stage: wedges are produced and
    // filtered in-flight, materialized nowhere. Past the broadcast
    // threshold, fall back to the shuffled equality join — at 10⁹+
    // edges exchanging the wedge stream is the irreducible cost of
    // exact counting (the approximate path is DOULION-style edge
    // sampling ahead of this operator).
    val closureRight = if (small) broadcast(oriented) else oriented
    val closed = wedges.join(closureRight,
      col("b") === col("src") && col("c") === col("dst"))

    val tri = closed.agg(count(lit(1)).as("triangles"))
    val nNodes = deg.agg(count(lit(1)).as("nodes"))
    nNodes.crossJoin(tri)
      .select(col("nodes"), lit(mEdges).as("n_edges"), col("triangles"))
  }

  /** Co-purchase triangles end-to-end (the `q_triangles` entry). */
  def coPurchaseTriangles(lineitem: DataFrame): DataFrame =
    triangleCount(coPurchaseEdges(lineitem))

  /** DOULION-style approximate triangle count (Tsourakakis, Kang &
    * Faloutsos, KDD 2009 — public algorithm): keep each edge
    * independently with probability p BEFORE wedge generation, count
    * exactly on the sparsified graph, scale by 1/p³ (a triangle
    * survives iff all three edges do). The path for graphs past the
    * exact-count budget: the wedge self-join's input shrinks by p and
    * its output by ~p², which is where the O(m^1.5) cost actually
    * lives, and the sampling predicate is evaluated in the edge scan
    * stage — nothing about the sparsified run shuffles more than the
    * exact one.
    *
    * Sampling is the repo's seeded content-hash predicate (first 16
    * bits of md5(salt ‖ u ‖ ":" ‖ v) under a threshold), so the
    * sample — and therefore the estimate — is deterministic across
    * runs, partitionings, and engines; `keepPermille` dials p in
    * 1/1000 steps and the estimator uses the EXACT realized threshold
    * probability ⌊keepPermille·2¹⁶/1000⌋/2¹⁶, not the nominal one.
    * The estimator is unbiased; its relative variance shrinks as the
    * true count grows (Tsourakakis' concentration argument), which is
    * precisely the regime where sampling is wanted. The spec pins a
    * planted-clique graph's estimate within 15% and the estimate's
    * determinism.
    *
    * Output: (n_edges_sampled, triangles_sampled, triangles_est).
    */
  /** DOULION edge-sampling predicate (seeded content hash, realized
    * probability `⌊keepPermille·65536/1000⌋ / 65536`): keep an edge
    * iff the first 4 md5 hex digits of "salt:u:v" fall under the
    * threshold. Shared by [[triangleCountApprox]] and the sampled
    * [[kTruss]] entry so both peel the SAME sparsified subgraph the
    * oracle rebuilds with the identical `substr(md5(…),1,4) <` test.
    */
  def sampleEdges(edges0: DataFrame, keepPermille: Int,
                  salt: String = "tri:"): DataFrame = {
    require(keepPermille >= 1 && keepPermille <= 1000,
      s"keepPermille in 1..1000, got $keepPermille")
    if (keepPermille == 1000) edges0
    else {
      val thresh = keepPermille * 65536 / 1000
      val hex4 = substring(md5(concat(lit(salt), col("u").cast("string"),
        lit(":"), col("v").cast("string"))), 1, 4)
      edges0.filter(hex4 < lit(f"$thresh%04x"))
    }
  }

  def triangleCountApprox(edges0: DataFrame, keepPermille: Int = 500,
                          salt: String = "tri:"): DataFrame = {
    require(keepPermille >= 1 && keepPermille <= 1000,
      s"keepPermille in 1..1000, got $keepPermille")
    val thresh = keepPermille * 65536 / 1000
    val sampled = sampleEdges(edges0, keepPermille, salt)
    val p = if (keepPermille == 1000) 1.0 else thresh.toDouble / 65536.0
    val inv = 1.0 / (p * p * p)
    triangleCount(sampled).select(
      col("n_edges").as("n_edges_sampled"),
      col("triangles").as("triangles_sampled"),
      floor(col("triangles") * lit(inv) + lit(0.5)).cast("long").as("triangles_est"))
  }

  /** k-core subgraph via iterative peeling (Seidman 1983; the
    * Batagelj-Zaveršnik distributed form — public algorithms): each
    * round drops every node whose degree in the CURRENT subgraph is
    * < k, until fixpoint — the standard community-mining /
    * graph-cleaning primitive (the k-core is the maximal subgraph
    * where everyone keeps ≥ k neighbors; peeling cascades: losing a
    * low-degree neighbor can drag a node below k next round).
    *
    * Runs a FIXED `rounds` budget with an early fixpoint exit: once
    * converged, further peels are no-ops, so fixed-round execution ≡
    * fixpoint whenever convergence lands inside the budget — and the
    * SQL oracle unrolls the SAME rounds, so the hash gate holds even
    * mid-cascade (both engines truncate identically). The spec pins
    * round-budget invariance on planted graphs.
    *
    * Round cost: one degree aggregate + two LEFT SEMI joins, all
    * keyed on node id — the CC-round shape — run as a
    * [[Fixpoint.stable]] loop whose edge count is the fixpoint probe.
    * Output: (node, deg) over the surviving subgraph.
    */
  def kCore(edges0: DataFrame, k: Int, rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1")
    val start = edges0.localCheckpoint(true)
    val edges = Fixpoint.stable(start, start.count(), rounds,
        Some((e: DataFrame) => e.count())) { (edges, _) =>
      val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("n")
      edges
        .join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
    }.state
    edges.select(col("u").as("node")).unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** BFS hop distances from a deterministic seed (the minimum node
    * id): (node, dist) for every node in the seed's component within
    * `maxRounds` hops — the reachability/radius primitive the
    * CC/k-core/triangle family lacks (how FAR apart things are, not
    * just whether they connect).
    *
    * Frontier BFS, the scalable shape: round r joins ONLY the nodes
    * first reached at round r−1 against the adjacency list — per-round
    * work is O(edges incident to the frontier), never a rescan of the
    * settled set, and the whole traversal is O(diameter) rounds like
    * propagation CC. Each round is one equality join + distinct + one
    * LEFT ANTI against the settled table (all hash-partitioned on the
    * node — no broadcast of anything corpus-sized), run as a
    * [[Fixpoint.delta]] loop. Early exit on an empty frontier;
    * `maxRounds` caps a pathological-diameter graph, and the SQL
    * oracle carries the same cap so the semantics stay oracle-exact
    * even when it binds.
    *
    * All-integer output: the DuckDB oracle walks the same graph with
    * a recursive CTE and takes min(dist) per node — a genuinely
    * different algorithm (path enumeration + aggregation vs frontier
    * expansion) agreeing on every integer, the q_triangles oracle
    * philosophy.
    */
  def bfsHops(edges0: DataFrame, maxRounds: Int = 30): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges0.sparkSession
    // The traversal reads the adjacency every round — checkpoint once.
    val und = undirected(edges0).localCheckpoint(true)
    val seedRow = und.agg(min(col("a"))).head()
    if (seedRow.isNullAt(0)) {
      Checkpoints.free(und)
      import spark.implicits._
      return spark.emptyDataset[(Long, Long)].toDF("node", "dist")
    }
    val seed = seedRow.getLong(0)
    bfsFromUnd(und, seed, maxRounds)
  }

  /** Sampled-source hop-distance HISTOGRAM — the distance-structure
    * diagnostic (the 21x skew-profile analogue for graph distances):
    * BFS from the k smallest node ids SIMULTANEOUSLY and histogram
    * the (source, node) hop distances. The distribution's shape is
    * the radius/expansion read a pipeline checks before committing to
    * an O(diameter)-round algorithm; k sampled sources approximate
    * the all-pairs distribution at k/n of its O(n·m) cost — the
    * standard scale path (HyperANF's motivation; exact per-source
    * BFS here keeps every integer oracle-checkable).
    *
    * Scale: ONE shared adjacency serves all k sources; the frontier
    * carries (src, node) pairs, so per-round cost is bounded by k×
    * the single-source frontier, and first-discovery = min hop (the
    * BFS invariant) keeps the state append-only — the same
    * left-anti-join loop as [[bfsHops]], lineage-truncated per round.
    */
  def bfsHopHistogram(edges0: DataFrame, k: Int = 4, maxRounds: Int = 30): DataFrame =
    hopHistogramOf(multiSourceBfs(edges0, k, maxRounds))

  /** Roll a (src, node, dist) hop-claim table up to the hop
    * histogram — ONE shared implementation for the batch operator
    * and the streamed maintenance resolve, so the two faces (and
    * their shared SQL oracle) cannot drift apart. */
  def hopHistogramOf(dists: DataFrame): DataFrame =
    dists.groupBy(col("dist").as("hop")).agg(count(lit(1)).as("n_pairs"))

  /** Roll a (src, node, dist) table up to the integer-micros
    * harmonic-centrality top-k (terms floor to micros BEFORE the
    * sum — exact in any reduction order). Shared by the batch
    * operator and the streamed maintenance resolve. */
  def harmonicTopKOf(dists: DataFrame, topK: Int): DataFrame = {
    val d = dists.filter(col("dist") > 0)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("hc_micros").desc, col("node").asc)
    d.select(col("node"),
        floor(lit(1000000.0) / col("dist").cast("double") + lit(0.5))
          .cast("long").as("m"))
      .groupBy("node").agg(sum(col("m")).as("hc_micros"))
      .orderBy(col("hc_micros").desc, col("node").asc).limit(topK)
      .withColumn("rk", row_number().over(w).cast("long"))
  }

  /** Sampled HARMONIC centrality, integer-exact: for the k smallest
    * node ids as sources, H(v) = Σ_src≠v ⌊10⁶/d(src,v) + ½⌋ — each
    * term floors to integer micros BEFORE the sum (the 33j surprisal
    * discipline), so the aggregate is exact in any reduction order
    * and the (hc desc, node) top-k is a total order the oracle
    * reproduces rank-for-rank. Harmonic rather than closeness
    * because it is well-defined under disconnection (unreachable
    * pairs contribute 0, no infinite sum) — the standard form for
    * sampled centrality on real graphs (Boldi & Vigna 2014). Cost:
    * the same shared-adjacency multi-source BFS as
    * [[bfsHopHistogram]] plus one node-keyed aggregate and a
    * TakeOrderedAndProject top-k.
    */
  def harmonicCentrality(edges0: DataFrame, k: Int = 4, topK: Int = 20,
                         maxRounds: Int = 30): DataFrame =
    harmonicTopKOf(multiSourceBfs(edges0, k, maxRounds), topK)

  /** Sampled BETWEENNESS centrality (Brandes 1.0.1 over k sources) —
    * which nodes sit ON the most shortest paths (the broker/cut-point
    * read; harmonic says who is CLOSE, betweenness says who is
    * BETWEEN). Exact Brandes is O(n·m); sampling k sources is the
    * standard estimator (Brandes & Pich 2007) at k/n of the cost.
    *
    * Two passes over ONE shared adjacency, both level-synchronous:
    * forward — BFS levels with shortest-path counts σ (σ(v) = Σ σ(u)
    * over predecessors one level up; pure integer, overflow
    * fail-loud guarded since a dense layered graph multiplies counts
    * per level); backward — pair dependencies δ(u) = Σ_w σu/σw ·
    * (1 + δw) accumulated level by level from the deepest frontier
    * inward. δ ratios are genuinely rational, so this operator is
    * ROWS-ONLY at the driver gate (the q_mst precedent): the spec
    * oracle is an independent local Brandes, and with k ≥ n the
    * sampled sum is EXACTLY the classic source-summed dependency
    * (2× unordered-pair betweenness on undirected graphs — hand
    * values pinned). Output: top-k by (rounded centrality, node).
    */
  def betweennessApprox(edges0: DataFrame, k: Int = 4, topK: Int = 20,
                        maxRounds: Int = 30,
                        driverGate: Long = 2000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = edges0.sparkSession
    import spark.implicits._
    val und = undirected(edges0).distinct().localCheckpoint(true)
    // Bounded-size gate (the stronglyConnectedComponents / topoLayers
    // / mergeMapping convention): under the gate, k-source Brandes is
    // O(k·(V+E)) driver work — sub-second — while the distributed
    // two-pass fixpoint pays 2·diameter rounds of join/aggregate job
    // overhead for the same answer. One collect of a provably bounded
    // edge set; past the gate the level-synchronous path below is the
    // scale story. The 2M-edge default is a driver-budget number, not
    // a fixture number: a 4M-row bidirectional collect is ~64 MB raw
    // (~300 MB with adjacency structures), inside the deployment's 8g
    // driver with wide margin, and k·(V+E) steps at that size run in
    // well under a second. DRIVER-MEMORY REQUIREMENT (r15 ADVICE): a
    // deployment running sub-2M-edge graphs on a small driver (<2g)
    // should lower driverGate — or pass driverGate = 0, which forces
    // the distributed path (the invariance spec pins both paths on
    // the same graphs).
    if (driverGate > 0L && und.count() <= 2L * driverGate) {
      val pairs = und.select(col("a").as[Long], col("b").as[Long]).collect()
      Checkpoints.free(und)
      return driverBrandes(spark, pairs, k, topK, maxRounds)
    }
    val srcs = und.select(col("a").as("node")).distinct()
      .orderBy(col("node")).limit(k)
    // forward: (src, node, dist, sigma) level by level
    val dist0 = srcs.select(col("node").as("src"), col("node"),
      lit(0L).as("dist"), lit(1L).as("sigma")).localCheckpoint(true)
    if (dist0.isEmpty) {
      Checkpoints.free(und)
      Checkpoints.free(dist0)
      return spark.emptyDataset[(Long, Double, Long)].toDF("node", "bc", "rk")
    }
    val dist = Fixpoint.delta(dist0, maxRounds) { (frontier, dist, level) =>
      frontier.join(und, frontier("node") === und("a"))
        .select(col("src"), col("b").as("node"), col("sigma"))
        .join(dist.select(col("src"), col("node")), Seq("src", "node"), "left_anti")
        .groupBy("src", "node").agg(sum(col("sigma")).as("sigma"))
        .select(col("src"), col("node"), lit(level.toLong).as("dist"), col("sigma"))
    }.state
    val maxSigma = dist.agg(max(col("sigma"))).head().getLong(0)
    if (maxSigma > (1L << 52)) {
      Checkpoints.free(dist)
      Checkpoints.free(und)
      throw new IllegalStateException(
        s"betweennessApprox: path count $maxSigma exceeds the exact-Long/" +
          "double-mantissa budget — sample fewer sources or a sparser graph")
    }
    val lMax = dist.agg(max(col("dist"))).head().getLong(0)
    // backward, level by level from the global deepest frontier: a
    // level's delta is one join against the level below (every
    // (src, node) one level down already has a dm row — nodes with
    // no deeper successors, e.g. a shallower source's OWN deepest
    // frontier, are zero-filled each iteration, which is what keeps
    // sources of DIFFERENT depths correct)
    var dm = dist.limit(0)
      .select(col("src"), col("node"), lit(0.0).as("delta"))
      .localCheckpoint(true)
    var l = lMax
    while (l >= 1) {
      val atL = dist.filter(col("dist") === l)
      val below = dist.filter(col("dist") === l + 1)
        .join(dm, Seq("src", "node"))
        .select(col("src").as("wsrc"), col("node").as("wnode"),
          col("sigma").as("sigma_w"), col("delta").as("delta_w"))
      val here = atL
        .join(und, col("node") === col("a"))
        .join(below, col("src") === col("wsrc") && col("b") === col("wnode"))
        .groupBy(col("src"), col("node"))
        .agg(sum(col("sigma").cast("double") / col("sigma_w").cast("double")
          * (lit(1.0) + col("delta_w"))).as("delta"))
      val zero = atL.select("src", "node")
        .join(here.select("src", "node"), Seq("src", "node"), "left_anti")
        .select(col("src"), col("node"), lit(0.0).as("delta"))
      val superseded = dm
      dm = dm.unionAll(here.select(col("src"), col("node"), col("delta")))
        .unionAll(zero)
        .localCheckpoint(true)
      Checkpoints.free(superseded)
      l -= 1
    }
    val out = dm.filter(col("node") =!= col("src"))
      .groupBy("node").agg(round(sum(col("delta")), 4).as("bc"))
      .orderBy(col("bc").desc, col("node").asc).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bc").desc, col("node").asc)
    // materialize the tiny top-k BEFORE freeing the state it reads
    val res = out.withColumn("rk", row_number().over(w).cast("long"))
      .localCheckpoint(true)
    Checkpoints.free(dist)
    Checkpoints.free(dm)
    Checkpoints.free(und)
    res
  }

  /** Driver-tail k-source Brandes for [[betweennessApprox]]'s bounded
    * gate: the same sampled source set (k smallest node ids), the
    * same level cap, the same σ-overflow guard, the same
    * (round(bc, 4) desc, node) top-k — one local pass instead of
    * 2·diameter distributed rounds. */
  private def driverBrandes(spark: org.apache.spark.sql.SparkSession,
                            und: Array[(Long, Long)], k: Int, topK: Int,
                            maxRounds: Int): DataFrame = {
    import spark.implicits._
    if (und.isEmpty) {
      return spark.emptyDataset[(Long, Double, Long)].toDF("node", "bc", "rk")
    }
    // und is symmetric, so the CSR's sorted ids are the source-side
    // ids and the k smallest are dense ids 0 until k
    val g = Csr(und)
    val (nodeIds, off, nbr) = (g.ids, g.off, g.nbr)
    val n = nodeIds.length
    val sources = (0 until math.min(k, n)).toArray
    val reached = new Array[Boolean](n)
    val bc = new Array[Double](n)
    val dist = new Array[Int](n)
    val sigma = new Array[Long](n)
    val delta = new Array[Double](n)
    val order = new Array[Int](n)
    sources.foreach { s =>
      java.util.Arrays.fill(dist, -1)
      java.util.Arrays.fill(sigma, 0L)
      java.util.Arrays.fill(delta, 0.0)
      dist(s) = 0; sigma(s) = 1L; order(0) = s
      var qh = 0
      var qt = 1
      while (qh < qt) {
        val u = order(qh); qh += 1
        val du = dist(u)
        if (du < maxRounds) {
          var e = off(u)
          val end = off(u + 1)
          while (e < end) {
            val v = nbr(e)
            if (dist(v) < 0) { dist(v) = du + 1; order(qt) = v; qt += 1 }
            if (dist(v) == du + 1) {
              sigma(v) += sigma(u)
              if (sigma(v) > (1L << 52)) throw new IllegalStateException(
                s"betweennessApprox: path count ${sigma(v)} exceeds the " +
                  "exact-Long/double-mantissa budget — sample fewer sources " +
                  "or a sparser graph")
            }
            e += 1
          }
        }
      }
      var oi = qt - 1
      while (oi >= 0) {
        val w = order(oi); oi -= 1
        var e = off(w)
        val end = off(w + 1)
        while (e < end) {
          val u = nbr(e)
          if (dist(u) == dist(w) - 1)
            delta(u) += sigma(u).toDouble / sigma(w) * (1.0 + delta(w))
          e += 1
        }
        if (w != s) { bc(w) += delta(w); reached(w) = true }
      }
    }
    // the distributed dm carries a row for every node some source
    // reached (minus same-source pairs) — `reached` mirrors that
    // output domain exactly, zero-delta nodes included
    val top = (0 until n).iterator.filter(reached)
      .map { j =>
        (nodeIds(j),
          BigDecimal(bc(j)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq
      .sortBy { case (nd, v) => (-v, nd) }.take(topK)
      .zipWithIndex.map { case ((nd, v), j) => (nd, v, (j + 1).toLong) }
    top.toDF("node", "bc", "rk")
  }

  /** Shared multi-source BFS: exact hop distances from the k smallest
    * node ids over ONE checkpointed adjacency — (src, node, dist)
    * rows, first-discovery = min hop. */
  private def multiSourceBfs(edges0: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges0.sparkSession
    import spark.implicits._
    // NOTE: duplicate input edges are harmless HERE (the frontier
    // .distinct() below absorbs them) — but the betweenness sibling's
    // σ-counting adjacency ([[betweennessApprox]], which DOES
    // .distinct()) must dedup; add one here if this ever feeds path
    // COUNTS.
    val und = undirected(edges0).localCheckpoint(true)
    val srcs = und.select(col("a").as("node")).distinct()
      .orderBy(col("node")).limit(k)
    val dist0 = srcs.select(col("node").as("src"), col("node"),
      lit(0L).as("dist")).localCheckpoint(true)
    if (dist0.isEmpty) {
      Checkpoints.free(und)
      Checkpoints.free(dist0)
      return spark.emptyDataset[(Long, Long, Long)].toDF("src", "node", "dist")
    }
    val dist = Fixpoint.delta(dist0, maxRounds) { (frontier, dist, round) =>
      frontier.join(und, frontier("node") === und("a"))
        .select(col("src"), col("b").as("node")).distinct()
        .join(dist.select("src", "node"), Seq("src", "node"), "left_anti")
        .select(col("src"), col("node"), lit(round.toLong).as("dist"))
    }.state
    Checkpoints.free(und)
    dist
  }

  /** [[bfsHops]] from an EXPLICIT source node instead of the min-id
    * default — the form the streaming maintenance face needs (the
    * query point is configured once and must survive later arrivals
    * of smaller node ids). Same frontier plan, same cap semantics.
    */
  def bfsHopsFrom(edges0: DataFrame, seed: Long, maxRounds: Int = 30): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    bfsFromUnd(undirected(edges0).localCheckpoint(true), seed, maxRounds)
  }

  /** Approximate graph diameter by DOUBLE SWEEP (Magnien, Latapy &
    * Habib 2009 — public literature): BFS from the deterministic
    * min-id seed, then a second BFS from the farthest node found
    * (ties to the smallest id); the second eccentricity is a LOWER
    * bound on the true diameter that is exact on trees and
    * near-exact on most real graphs — two O(diameter)-round
    * traversals instead of the all-pairs sweep exact diameter needs.
    * Driver cost is two O(1) aggregates (seed/argmax), never a
    * distance-table collect.
    *
    * One summary row, all integers: (seed, ecc_seed, far_node,
    * diameter_lb). The SQL oracle runs the same two walks as
    * recursive CTEs with the second seeded from the first's
    * `ORDER BY dist DESC, node LIMIT 1` — the exact
    * max-(dist, −node) tie rule used here.
    */
  def diameterDoubleSweep(edges0: DataFrame, maxRounds: Int = 30): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    // Build + checkpoint the bidirectional adjacency ONCE for both
    // sweeps (the naive two-bfsHops form materialized it twice).
    val und = undirected(edges0).localCheckpoint(true)
    val seedRow = und.agg(min(col("a"))).head()
    if (seedRow.isNullAt(0)) {
      Checkpoints.free(und)
      return spark.emptyDataset[(Long, Long, Long, Long)]
        .toDF("seed", "ecc_seed", "far_node", "diameter_lb")
    }
    val seed = seedRow.getLong(0)
    val d1 = bfsFromUnd(und, seed, maxRounds, freeUnd = false)
    val farRow = d1
      .agg(max(struct(col("dist"), (-col("node")).as("nn"))).as("m"))
      .select(col("m.dist"), (-col("m.nn")).as("node")).head()
    val (ecc1, far) = (farRow.getLong(0), farRow.getLong(1))
    Checkpoints.free(d1)
    val d2 = bfsFromUnd(und, far, maxRounds)
    val ecc2 = d2.agg(max(col("dist"))).head().getLong(0)
    Checkpoints.free(d2)
    Seq((seed, ecc1, far, ecc2))
      .toDF("seed", "ecc_seed", "far_node", "diameter_lb")
  }

  /** Shared frontier loop over a checkpointed bidirectional adjacency
    * (freed before returning unless `freeUnd = false`). */
  private def bfsFromUnd(und: DataFrame, seed: Long, maxRounds: Int,
                         freeUnd: Boolean = true): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    val dist0 = Seq((seed, 0L)).toDF("node", "dist").localCheckpoint(true)
    val dist = Fixpoint.delta(dist0, maxRounds) { (frontier, dist, round) =>
      frontier.join(und, frontier("node") === und("a"))
        .select(col("b").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(round.toLong).as("dist"))
    }.state
    if (freeUnd) Checkpoints.free(und)
    dist
  }

  /** Per-edge triangle support via the same degree-ordered wedge
    * closure as [[triangleCount]], but emitting the three CANONICAL
    * (u < v) edges of every triangle instead of a count — the inner
    * pass of [[kTruss]]. Same O(m^1.5) wedge bound regardless of hub
    * skew; the support aggregate is one more shuffle on the edge.
    */
  private def edgeSupport(edges: DataFrame, mEdges: Long): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val du = deg.as("du")
    val dv = deg.as("dv")
    val uFirst = (col("du.d") < col("dv.d")) ||
      (col("du.d") === col("dv.d") && col("u") < col("v"))
    val oriented = edges
      .join(du, col("u") === col("du.n"))
      .join(dv, col("v") === col("dv.n"))
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv.d")).otherwise(col("du.d")).as("dstDeg"))
      .localCheckpoint(true)
    val e1 = oriented.as("e1")
    val e2 = oriented.as("e2")
    val wedges = e1.join(e2,
        col("e1.src") === col("e2.src") &&
          ((col("e1.dstDeg") < col("e2.dstDeg")) ||
           (col("e1.dstDeg") === col("e2.dstDeg") &&
            col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("x"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val closureRight = if (mEdges <= 20L * 1000 * 1000) broadcast(oriented) else oriented
    val tris = wedges.join(closureRight,
        col("b") === col("src") && col("c") === col("dst"))
      .select("x", "b", "c")
    val sup = tris
      .select(least(col("x"), col("b")).as("u"), greatest(col("x"), col("b")).as("v"))
      .unionAll(tris.select(least(col("x"), col("c")).as("u"), greatest(col("x"), col("c")).as("v")))
      .unionAll(tris.select(least(col("b"), col("c")).as("u"), greatest(col("b"), col("c")).as("v")))
      .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      .localCheckpoint(true)
    Checkpoints.free(oriented)
    sup
  }

  /** k-truss: the maximal subgraph in which EVERY edge participates
    * in ≥ k−2 triangles (Cohen 2008; Wang & Cheng VLDB'12 — public
    * literature). Where k-core peels NODES by degree, k-truss peels
    * EDGES by triangle support — a strictly stronger cohesion test (a
    * star hub survives any degree filter but has zero triangles).
    *
    * Iterative peel: compute per-edge support ([[edgeSupport]] — the
    * degree-ordered wedge closure, O(m^1.5) total independent of hub
    * skew), drop edges below k−2, repeat; dropping edges can destroy
    * other edges' triangles, hence the cascade. Fixed `rounds` budget
    * with early exit when a round drops nothing — rounds past the
    * fixpoint are no-ops, and the DuckDB oracle unrolls the SAME
    * budget (the q_kcore ladder philosophy) using the
    * orientation-free a<b<c triangle join — a different algorithm
    * agreeing on every surviving edge.
    *
    * At 100 TB the support pass is the exact-triangle cost paid
    * `rounds` times; the deployment path is the same as counting —
    * DOULION-sample the edge list first (`q_ktruss` runs on the p=¼
    * subgraph the approximate counter already measures), or peel a
    * multiplicity-filtered subgraph.
    */
  def kTruss(edges0: DataFrame, k: Int = 4, rounds: Int = 4): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val start = edges0.select("u", "v").localCheckpoint(true)
    // each round's support table is freed once the next round (or the
    // loop) is past the checkpoint that read it
    var sup: DataFrame = null
    val edges = Fixpoint.stable(start, start.count(), rounds,
        Some((e: DataFrame) => e.count()), done = (m: Long) => m == 0L) {
      (edges, mEdges) =>
        if (sup != null) Checkpoints.free(sup)
        sup = edgeSupport(edges, mEdges)
        edges.join(sup, Seq("u", "v"), "left_outer")
          .filter(coalesce(col("sup"), lit(0L)) >= lit((k - 2).toLong))
          .select("u", "v")
    }.state
    if (sup != null) Checkpoints.free(sup)
    edges
  }

  /** Minimum spanning forest via Borůvka rounds (public classic; the
    * canonical MapReduce/MPC MST — components halve per round, so
    * O(log n) rounds total). DETERMINISTIC: edges are totally ordered
    * by (w, u, v), so even under weight ties the chosen forest is the
    * unique MSF of that total order — reduction-order-free, which is
    * what lets the spec pin it against an independent local Kruskal.
    *
    * Per round: annotate edges with their endpoints' component ids
    * (two hash joins on node), every component picks its MINIMUM
    * outgoing edge (one min-of-struct aggregate — map-side combined,
    * never a sort), the chosen edges' component-graph collapses via
    * the library's own [[graft.operators.Dedup.connectedComponents]]
    * (Borůvka's merge step IS small-scale CC: the chosen-edge graph
    * has ≤ one out-edge per component), and now-intra-component
    * edges are dropped so later rounds shrink geometrically. All
    * state is checkpointed and freed per round, as in [[Fixpoint]].
    *
    * No SQL oracle — union-find/Borůvka is not expressible in
    * DuckDB's recursive CTEs without path enumeration — so the gate
    * is rows-only and the real oracle is the randomized-equivalence
    * spec: edge-set equality against local Kruskal under the same
    * total order, plus partitioning invariance.
    */
  /** Borůvka merge step: CC over the round's chosen-edge COMPONENT
    * graph, as an (old comp → min comp of its group) mapping with
    * identity rows omitted.
    *
    * The component graph has ONE edge per merging component — it is
    * O(current components), shrinking geometrically — so below the
    * threshold it is union-found ON THE DRIVER (union-by-min keeps
    * the root the minimum id, the same label CC produces): measured
    * 10s/round of fixed distributed-CC machinery replaced by
    * milliseconds. This is the standard Borůvka tail — once the
    * contracted graph fits one machine you stop paying cluster
    * round-trips for it. Past the threshold (the first round of a
    * billion-node graph) it falls back to the O(log²) alternating-
    * star distributed CC.
    */
  private def mergeMapping(cand: DataFrame, threshold: Long = 2000000L): DataFrame = {
    val spark = cand.sparkSession
    import spark.implicits._
    // ONE action decides the branch AND feeds the driver path:
    // collect at most threshold+1 rows — exactly threshold+1 means
    // "too big, go distributed" without ever paying a separate
    // count() job over the same frame (a per-Borůvka-round cost).
    val probe = cand.select(col("cu").as[Long], col("cv").as[Long])
      .limit(threshold.toInt + 1).collect()
    if (probe.length <= threshold) {
      val pairs = probe
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
        .map(c => (c, find(c))).filter(e => e._1 != e._2)
        .toDF("mc", "nc")
    } else {
      Dedup.connectedComponentsAlternating(
          cand.select(col("cu").as("doc_a"), col("cv").as("doc_b")))
        .select(col("doc_id").as("mc"), col("component_id").as("nc"))
    }
  }

  def mstBoruvka(edges0: DataFrame, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges0.sparkSession
    import spark.implicits._
    // The working set carries each edge's CURRENT endpoint components
    // ON THE ROW (cu, cv) — round 0 needs no join at all (comp = the
    // node itself), and later rounds refresh the annotations with two
    // BROADCAST joins against the small merge mapping instead of two
    // full-edge shuffle joins against a node→comp table. Per round the
    // edge list is scanned and materialized exactly ONCE (the first
    // cut of this operator did it three times and was 4× slower).
    // Self-loops start with cu == cv, so they would survive the
    // per-round cu =!= cv filter's round-0 blind spot and could be
    // elected as a component's minimum edge, breaking the
    // |forest| = nodes - components identity — drop them up front.
    var ec = edges0.filter(col("u") =!= col("v"))
      .select(col("u"), col("v"), col("w"),
        col("u").as("cu"), col("v").as("cv"))
      .localCheckpoint(true)
    val chosenParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var continue = true
    while (continue && round < maxRounds) {
      // Every component nominates its minimum (w, u, v) outgoing edge
      // — ONE explode pass over the annotated edges, one map-side-
      // combined min aggregate on the component key. Carrying (cu,
      // cv) inside the struct means the merge step below needs no
      // join back to discover the chosen edges' endpoint components.
      val cand = ec.select(explode(array(
          struct(col("cu").as("c"), struct(col("w"), col("u"), col("v"),
            col("cu"), col("cv")).as("e")),
          struct(col("cv").as("c"), struct(col("w"), col("u"), col("v"),
            col("cu"), col("cv")).as("e")))).as("x"))
        .select(col("x.c"), col("x.e").as("e"))
        .groupBy("c").agg(min(col("e")).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"),
          col("e.cu").as("cu"), col("e.cv").as("cv"))
        .distinct()
        .localCheckpoint(true)
      if (cand.isEmpty) {
        Checkpoints.free(cand)
        continue = false
      } else {
        chosenParts += cand
        val mapping = mergeMapping(cand)
        val prevEc = ec
        ec = ec
          .join(broadcast(mapping.withColumnRenamed("mc", "cu")
            .withColumnRenamed("nc", "ncu")), Seq("cu"), "left_outer")
          .join(broadcast(mapping.withColumnRenamed("mc", "cv")
            .withColumnRenamed("nc", "ncv")), Seq("cv"), "left_outer")
          .select(col("u"), col("v"), col("w"),
            coalesce(col("ncu"), col("cu")).as("cu"),
            coalesce(col("ncv"), col("cv")).as("cv"))
          .filter(col("cu") =!= col("cv"))
          .localCheckpoint(true)
        Checkpoints.free(prevEc)
      }
      round += 1
    }
    Checkpoints.free(ec)
    val chosen =
      if (chosenParts.isEmpty) spark.emptyDataset[(Long, Long, Long)].toDF("u", "v", "w")
      else chosenParts.map(_.select("u", "v", "w")).reduce(_ unionAll _)
        .localCheckpoint(true)
    chosenParts.foreach(Checkpoints.free)
    chosen
  }

  /** Condensation DAG (the `q_scc_condensation` entry): the distinct
    * cross-SCC edges of the input digraph in SCC-label space — the
    * acyclic quotient every cycle-removal preprocessing, reachability
    * index, and dependency scheduler actually runs on (and the exact
    * structure the streamed SCC face maintains continuously as its
    * `qPath` artifact; this is its batch twin). One decomposition,
    * two label joins, one distinct — the condensation costs two
    * broadcast-or-shuffle equality joins on top of the SCC itself.
    */
  def sccCondensation(edges0: DataFrame): DataFrame = {
    val edges = edges0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    val scc = stronglyConnectedComponents(edges).localCheckpoint(true)
    val su = scc.select(col("node").as("u"), col("scc_label").as("cu"))
    val sv = scc.select(col("node").as("v"), col("scc_label").as("cv"))
    val out = edges.join(su, Seq("u")).join(sv, Seq("v"))
      .select(col("cu").as("src_scc"), col("cv").as("dst_scc"))
      .filter(col("src_scc") =!= col("dst_scc")).distinct()
      .localCheckpoint(true)
    Checkpoints.free(edges)
    Checkpoints.free(scc)
    out
  }

  /** Longest-path layering of a DAG (the `q_topo_layers` entry):
    * depth(v) = length of the longest path from any source to v —
    * the classic scheduling depth (critical-path level) a dependency
    * executor runs wave-by-wave. Composes with [[sccCondensation]]:
    * condense first, layer the quotient (the condensation is acyclic
    * by construction, which is exactly what makes the layering
    * well-defined). Delta-propagated max-label fixpoint (the r12 SCC
    * coloring shape): only nodes whose depth just grew feed the next
    * round's join; rounds = DAG depth; `maxRounds` FAILS LOUD on a
    * cyclic input rather than looping (levels would grow forever).
    */
  def topoLayers(dag0: DataFrame, maxRounds: Int = 60,
                 driverGate: Long = 1000000L): DataFrame = {
    val spark = dag0.sparkSession
    import spark.implicits._
    val dag = dag0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // the driverTarjan convention (SURVEY §5's SCC rehearsal): the input
    // here is a CONDENSATION — provably no larger than the raw edge
    // set and usually orders of magnitude smaller — and the
    // distributed fixpoint pays rounds = DAG depth of per-round job
    // overhead on what is typically a few thousand rows. Below the
    // gate, collect once and run Kahn + longest-path DP on the
    // driver (O(V+E)); past it, the delta-propagated fixpoint below
    // is the scale path. driverGate = 0 forces the distributed path
    // (the invariance spec pins both paths bit-identical).
    if (driverGate > 0L && dag.count() <= driverGate) {
      val out = driverTopoLayers(dag)
      Checkpoints.free(dag)
      return out
    }
    val lvl0 = dag.select(col("u").as("node"))
      .union(dag.select(col("v").as("node"))).distinct()
      .select(col("node"), lit(0L).as("depth")).localCheckpoint(true)
    val res = Fixpoint.delta(lvl0, maxRounds, Seq("node")) { (frontier, lvl, _) =>
      val pushed = frontier.join(dag, frontier("node") === dag("u"))
        .groupBy(dag("v").as("node")).agg(max(col("depth") + 1L).as("nd"))
      lvl.join(pushed, Seq("node"))
        .filter(col("nd") > col("depth"))
        .select(col("node"), col("nd").as("depth"))
    }
    Checkpoints.free(dag)
    if (!res.converged) Checkpoints.free(res.state)
    require(res.converged,
      s"topoLayers did not converge in $maxRounds rounds — cyclic input?")
    res.state
  }

  /** Driver-side longest-path layering: Kahn's topological order
    * with a depth DP — the collected tail behind [[topoLayers]]'
    * gate. Fails loud on cyclic input (Kahn leaves nodes unordered),
    * matching the distributed path's contract. */
  private def driverTopoLayers(dag: DataFrame): DataFrame = {
    val spark = dag.sparkSession
    import spark.implicits._
    val g = Csr(dag.select(col("u"), col("v")).as[(Long, Long)].collect())
    val n = g.ids.length
    val indeg = new Array[Int](n)
    g.nbr.foreach(v => indeg(v) += 1)
    val depth = new Array[Long](n)
    val queue = new Array[Int](n)
    var qt = 0
    var v = 0
    while (v < n) { if (indeg(v) == 0) { queue(qt) = v; qt += 1 }; v += 1 }
    var qh = 0
    while (qh < qt) {
      val u = queue(qh); qh += 1
      var e = g.off(u)
      while (e < g.off(u + 1)) {
        val w = g.nbr(e)
        if (depth(u) + 1L > depth(w)) depth(w) = depth(u) + 1L
        indeg(w) -= 1
        if (indeg(w) == 0) { queue(qt) = w; qt += 1 }
        e += 1
      }
    }
    require(qt == n,
      s"topoLayers: ${n - qt} nodes unreachable from any " +
        "zero-in-degree node — cyclic input?")
    (0 until n).map(j => (g.ids(j), depth(j))).toDF("node", "depth")
  }

  /** One-row MST-family summary (the `q_mst_summary` entry): forest
    * edge count, total weight, and component count. The edge SET is
    * rows-only by necessity (union-find isn't CTE-expressible), but
    * these three integers are ORACLE-CHECKABLE: any two minimum
    * spanning forests have the same weight multiset (the standard
    * exchange argument), and the weight has a closed form over
    * per-threshold component counts — weight = Σ_{t=0}^{W-1} (c(t) −
    * c(W)) where c(t) = components of the subgraph with edge weight
    * ≤ t — which the DuckDB side computes by unrolled min-label
    * rounds per threshold. So the summary hash-gates the same
    * mstBoruvka plan whose edge set only the Kruskal spec can pin.
    */
  def mstSummary(edges0: DataFrame): DataFrame = {
    val edges = edges0.filter(col("u") =!= col("v")).localCheckpoint(true)
    val mst = mstBoruvka(edges)
    val nodes = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node"))).distinct()
    val forest = mst.agg(count(lit(1)).as("n_edges"),
      coalesce(sum(col("w")), lit(0L)).cast("long").as("total_weight"))
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    val out = forest.crossJoin(n).select(col("n_edges"), col("total_weight"),
      (col("n_nodes") - col("n_edges")).as("n_components"))
      .localCheckpoint(true)
    Checkpoints.free(edges)
    out
  }

  /** Community detection via synchronous label propagation (Raghavan
    * et al. 2007, public literature) with a DETERMINISTIC tie-break:
    * every node starts labeled with its own id; each round it adopts
    * the label that is most frequent among its neighbors, ties broken
    * by the SMALLEST label. Where connected components answer "what
    * is reachable", LPA answers "what clusters densely" — two cliques
    * joined by one bridge edge are one component but two communities.
    *
    * Synchronous (all nodes update from the SAME previous round) so
    * the result is independent of execution order — asynchronous LPA
    * is schedule-dependent and could never hash-check. The price is
    * possible 2-cycles on bipartite-ish structures, which the FIXED
    * round budget turns into a deterministic outcome: the oracle
    * unrolls exactly `rounds` rounds, so both engines land on the
    * same labels whether or not the propagation has stabilized.
    *
    * Plan shape per round: one equality join labels⋈adjacency + one
    * (node, label) count aggregate + one arg-max-by-(count, −label)
    * aggregate — all hash-partitioned on the node, no windows over
    * full neighbor lists, run as a [[Fixpoint.stable]] loop of exactly
    * `rounds` rounds. All-integer labels and counts, so the
    * arg-max via `max(struct(c, −label))` is reduction-order-free.
    *
    * Bounded-size gate (the [[betweennessApprox]] convention): the
    * edge rows are checkpointed once, and one `take(driverGate + 1)`
    * on them picks the path. At or under 2M edges the rounds run on
    * the driver over one CSR adjacency — a few Spark jobs per call
    * instead of ~7 per round — and the result is a local frame. Past
    * the gate the per-round distributed plan above is the scale path,
    * built from the same checkpoint. Both paths count every input row
    * in both directions (no dedup: a duplicate row counts twice, a
    * self-loop counts twice), so they agree row for row; the specs
    * pin them equal with driverGate = 0. DRIVER-MEMORY REQUIREMENT
    * (r15 ADVICE): a 2M-edge collect is ~64 MB raw, inside the
    * deployment's 8g driver with wide margin; a deployment running
    * sub-2M-edge graphs on a small driver (<2g) should lower the
    * gate, and driverGate = 0 forces the distributed path.
    */
  def labelPropagation(edges0: DataFrame, rounds: Int = 5): DataFrame =
    labelPropagation(edges0, rounds, driverGate = 2000000L)

  private[graft] def labelPropagation(edges0: DataFrame, rounds: Int,
                                      driverGate: Long): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(driverGate < Int.MaxValue, s"driverGate out of range: $driverGate")
    val spark = edges0.sparkSession
    import spark.implicits._
    val e = edges0.select(col("u"), col("v")).localCheckpoint(true)
    if (driverGate > 0L) {
      val head = e.as[(Long, Long)].take(driverGate.toInt + 1)
      if (head.length <= driverGate) {
        Checkpoints.free(e)
        return driverLabelPropagation(head, rounds).toSeq.toDF("node", "label")
      }
    }
    val und = undirected(e).localCheckpoint(true)
    Checkpoints.free(e)
    val labels0 = und.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint(true)
    val labels = Fixpoint.stable(labels0, (), rounds, probe = None) { (labels, _) =>
      labels.join(und, labels("node") === und("a"))
        .groupBy(col("b").as("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }.state
    Checkpoints.free(und)
    labels
  }

  /** Driver-side synchronous LPA behind [[labelPropagation]]'s gate:
    * the same rounds, the same (most frequent, then smallest) label
    * rule, over a symmetric CSR that keeps every row's multiplicity.
    * Labels are held as dense ids, whose order is the node-id order,
    * so "smallest label" is a comparison of dense ids. */
  private def driverLabelPropagation(pairs: Array[(Long, Long)],
                                     rounds: Int): Seq[(Long, Long)] = {
    val g = Csr(pairs, symmetric = true)
    val n = g.ids.length
    var label = Array.tabulate(n)(identity)
    var next = new Array[Int](n)
    val seen = new Array[Int](g.nbr.length)
    var r = 0
    while (r < rounds) {
      var e = 0
      while (e < seen.length) { seen(e) = label(g.nbr(e)); e += 1 }
      var v = 0
      while (v < n) {
        val end = g.off(v + 1)
        java.util.Arrays.sort(seen, g.off(v), end)
        // runs of equal labels in ascending order; only a strictly
        // longer run wins, so a tie keeps the smaller label
        var best = 0
        var bestC = 0
        var k = g.off(v)
        while (k < end) {
          var j = k + 1
          while (j < end && seen(j) == seen(k)) j += 1
          if (j - k > bestC) { best = seen(k); bestC = j - k }
          k = j
        }
        next(v) = best
        v += 1
      }
      val t = label; label = next; next = t
      r += 1
    }
    (0 until n).map(j => (g.ids(j), g.ids(label(j))))
  }

  /** Compressed sparse row adjacency over dense ids — the one driver
    * structure behind the gated kernels (Brandes, Tarjan, Kahn
    * layering, label propagation). `ids` holds every endpoint of the
    * collected pairs, sorted, so a dense id's order is its node id's
    * order; `nbr(off(j) until off(j + 1))` are j's neighbours in
    * input order, one entry per pair (no dedup). With `symmetric`,
    * each pair also adds the reverse entry. Primitive arrays only: a
    * boxed-Map adjacency costs more driver seconds than the
    * distributed rounds a gate saves. */
  private[graft] final class Csr(val ids: Array[Long], val off: Array[Int],
                                 val nbr: Array[Int])

  private[graft] object Csr {
    def apply(pairs: Array[(Long, Long)], symmetric: Boolean = false): Csr = {
      val m = pairs.length
      val ends = new Array[Long](2 * m)
      var i = 0
      while (i < m) { ends(2 * i) = pairs(i)._1; ends(2 * i + 1) = pairs(i)._2; i += 1 }
      java.util.Arrays.sort(ends)
      var n = 0
      i = 0
      while (i < ends.length) {
        if (n == 0 || ends(i) != ends(n - 1)) { ends(n) = ends(i); n += 1 }
        i += 1
      }
      val ids = java.util.Arrays.copyOf(ends, n)
      val src = new Array[Int](m)
      val dst = new Array[Int](m)
      val off = new Array[Int](n + 1)
      i = 0
      while (i < m) {
        src(i) = java.util.Arrays.binarySearch(ids, pairs(i)._1)
        dst(i) = java.util.Arrays.binarySearch(ids, pairs(i)._2)
        off(src(i) + 1) += 1
        if (symmetric) off(dst(i) + 1) += 1
        i += 1
      }
      i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val nbr = new Array[Int](off(n))
      val fill = java.util.Arrays.copyOf(off, n)
      i = 0
      while (i < m) {
        nbr(fill(src(i))) = dst(i); fill(src(i)) += 1
        if (symmetric) { nbr(fill(dst(i))) = src(i); fill(dst(i)) += 1 }
        i += 1
      }
      new Csr(ids, off, nbr)
    }
  }

  /** Per-row count-min degree estimate from a COLLECTED sketch: the
    * depth row vectors ride the plan as typedlit literals and the
    * estimate is the min over rows of the md5-cell lookup — the exact
    * [[graft.functions.CountMin.cell]] hash (first 48 bits of
    * md5("j:item") mod width), so the DuckDB oracle reproduces every
    * estimate bit-for-bit. A pure projection: scoring a node costs
    * depth md5s and ZERO joins or shuffles.
    */
  private def cmsEstimate(n: Column, sketch: Seq[Seq[Long]], width: Int): Column =
    sketch.zipWithIndex.map { case (rowVals, j) =>
      val cell = pmod(
        conv(substring(md5(concat(lit(s"$j:"), n.cast("string"))), 1, 12), 16, 10)
          .cast("long"),
        lit(width.toLong))
      element_at(typedlit(rowVals), (cell + 1).cast("int"))
    }.reduce(least(_, _))

  /** Per-round width schedule for [[kCoreApprox]]: the smallest power
    * of two ≥ loadFactor × the distinct-endpoint bound (2 · edges),
    * clamped to [minWidth, width0]. Deterministic in the surviving
    * edge count alone, so the SQL oracle re-derives the SAME width
    * per round from its own CTE's count — the adaptation never costs
    * the hash gate. A full-size graph keeps width0; late rounds of a
    * shrinking peel stop paying full-width plan literals and
    * sketch-aggregation state for a survivor set a fraction of the
    * size (the r7 disclosure: ~2·depth·width·8 B of literals per
    * round — 512 KB at 4×8192 — whether or not the graph still
    * needs it).
    */
  private[graft] def adaptiveWidth(edgeCount: Long, width0: Int,
                                   minWidth: Int, loadFactor: Int): Int = {
    val need = 2L * edgeCount * loadFactor
    var w = minWidth
    while (w < width0 && w < need) w *= 2
    w
  }

  /** Approximate k-core via count-min DEGREE SKETCHES — the peel for
    * graphs whose per-round exact degree table is itself a cost
    * problem. Each round: ONE mergeable sketch pass over edge
    * endpoints (O(depth·width) state, map-side combined — 256 KB at
    * 4×8192 regardless of node count), then a pure FILTER keeps edges
    * whose endpoints both estimate ≥ k. Compare [[kCore]]'s round
    * cost: a degree aggregation shuffle plus TWO left-semi join
    * shuffles; here the corpus-side work is a scan-stage projection —
    * at 10⁹ nodes the degree table never materializes at all.
    *
    * CMS error is ONE-SIDED (collisions only add), so a node is never
    * wrongly peeled: every round keeps a superset of what the exact
    * round keeps, and the result is a SUPERSET of the exact k-core —
    * the safe direction for a pre-filter (run exact peeling, or exact
    * degree audit, on the shrunken survivor graph when exactness
    * matters). Estimates are md5-deterministic and merges exact, so
    * the whole peel reproduces in DuckDB — the entry is hash-checked
    * at width=8192 where collisions are REAL, not vacuous.
    *
    * Width ADAPTS per round ([[adaptiveWidth]], round 8): as the peel
    * shrinks the survivor graph, the sketch re-sizes to the smallest
    * power of two holding loadFactor × the endpoint bound, floored at
    * minWidth — late rounds of a cascading peel carry KB-scale plan
    * literals instead of the full 512 KB, and the one-sided-error
    * contract is width-independent (smaller width only ever ADDS
    * collisions, which only ever KEEP nodes). Depth stays fixed: the
    * estimate is a min over depth rows, and holding it constant keeps
    * the estimate shape identical across rounds. `minWidth = width`
    * disables adaptation.
    *
    * Output: (node, deg) with EXACT degrees over the surviving
    * subgraph — one degree pass at the end (amortized once, unlike
    * the per-round tables the sketch replaced).
    */
  def kCoreApprox(edges0: DataFrame, k: Int, rounds: Int = 8,
                  depth: Int = 4, width: Int = 8192,
                  minWidth: Int = 512, loadFactor: Int = 4,
                  roundStats: Option[scala.collection.mutable.Buffer[(Long, Int)]] = None): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1")
    require(Integer.bitCount(minWidth) == 1 && Integer.bitCount(width) == 1,
      s"widths must be powers of two, got $minWidth/$width")
    val minW = math.min(minWidth, width) // a sub-minWidth width disables adaptation
    val spark = edges0.sparkSession
    val loaded = edges0.localCheckpoint(true)
    val m0 = loaded.count()
    // CPU-grain re-split (guide §2.5 input-skew corollary): every
    // round evaluates depth md5 probes PER ENDPOINT over all edges —
    // microseconds-per-row work, so a partitioning that AQE coalesced
    // by BYTES (a few MB of longs → 1-2 partitions) serializes the
    // whole peel. Re-split once from the ROW count (~64k rows ≈
    // sub-second tasks at md5 cost), capped at the session's
    // parallelism; the filter rounds below preserve the layout.
    // Pure repartition — results are partitioning-invariant.
    val cpuGrain = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, m0 / 65536L)).toInt
    val start = if (loaded.rdd.getNumPartitions >= cpuGrain) loaded else {
      val split = loaded.repartition(cpuGrain).localCheckpoint(true)
      Checkpoints.free(loaded)
      split
    }
    val edges = Fixpoint.stable(start, m0, rounds,
        Some((e: DataFrame) => e.count())) { (edges, prev) =>
      val w = adaptiveWidth(prev, width, minW, loadFactor)
      roundStats.foreach(_ += ((prev, w)))
      val cmUdaf = udaf(new graft.functions.CountMinAggregator(depth, w),
        org.apache.spark.sql.Encoders.STRING)
      val sk = edges
        .select(explode(array(col("u").cast("string"), col("v").cast("string"))).as("n"))
        .agg(cmUdaf(col("n")).as("s")).head().getSeq[Long](0)
      val sketch = (0 until depth).map(j => sk.slice(j * w, (j + 1) * w))
      edges.filter(cmsEstimate(col("u"), sketch, w) >= k &&
        cmsEstimate(col("v"), sketch, w) >= k)
    }.state
    edges.select(col("u").as("node")).unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
  }

  /** Wedge-volume diagnostic: how many candidate wedges a NAIVE
    * closure would generate (Σ C(deg, 2) — what a hub makes explode)
    * vs what the degree-ordered orientation generates
    * (Σ C(outdeg, 2), provably O(m^1.5) total). The pair to check
    * before running [[triangleCount]] on a new graph, and the number
    * SURVEY §5's triangle hub-skew rehearsal records at scale.
    */
  /** Global clustering coefficient: 3·triangles / wedges — "of all
    * two-paths, how many close" — THE one-number cohesion summary
    * (Watts & Strogatz 1998, public literature). One row, ALL
    * INTEGERS: (nodes, n_edges, wedges, triangles, global_cc_ppm)
    * with the ratio in exact parts-per-million (`3·T·10⁶ div W`), so
    * there is no float division for engines to disagree on.
    *
    * Cost = one [[triangleCount]] pass (degree-ordered, hub-safe)
    * plus the closed-form wedge count Σ d(d−1)/2 from the SAME degree
    * table shape — no wedge materialization for the denominator.
    */
  def clusteringCoefficient(edges0: DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val edges = edges0.localCheckpoint(true)
    val triRow = triangleCount(edges).head() // (nodes, n_edges, triangles)
    val (nodes, nEdges, tris) =
      (triRow.getLong(0), triRow.getLong(1), triRow.getLong(2))
    // Closed-form denominator: Σ d(d−1)/2 over the degree table — no
    // wedge materialization. (Each d(d−1) is even, so summing the
    // products THEN halving loses nothing.)
    val wedges = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(col("d") * (col("d") - 1)), lit(0L)))
      .head().getLong(0) / 2
    Checkpoints.free(edges)
    val ppm = if (wedges == 0L) 0L else 3L * tris * 1000000L / wedges
    Seq((nodes, nEdges, wedges, tris, ppm))
      .toDF("nodes", "n_edges", "wedges", "triangles", "global_cc_ppm")
  }

  def wedgeStats(edges: DataFrame): (Long, Long) = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val naive = deg.agg(coalesce(sum(col("d") * (col("d") - 1)), lit(0L)))
      .head().getLong(0) / 2
    val du = deg.as("du")
    val dv = deg.as("dv")
    val uFirst = (col("du.d") < col("dv.d")) ||
      (col("du.d") === col("dv.d") && col("u") < col("v"))
    val outDeg = edges
      .join(du, col("u") === col("du.n"))
      .join(dv, col("v") === col("dv.n"))
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"))
      .groupBy("src").agg(count(lit(1)).as("od"))
    val ordered = outDeg.agg(coalesce(sum(col("od") * (col("od") - 1)), lit(0L)))
      .head().getLong(0) / 2
    (naive, ordered)
  }

  /** DIRECTED item-sequence edges: within each order, consecutive
    * lineitems in l_linenumber order give part[i] → part[i+1] —
    * "what gets added to the basket next", the directed complement
    * of the undirected co-purchase graph. One equality self-join on
    * (order, linenumber+1); self-loops dropped, edges deduped. */
  def itemSequenceEdges(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey").as("o"),
      col("l_linenumber").as("ln"), col("l_partkey").as("p"))
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("b.ln") === col("a.ln") + 1)
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** K-round directed min-label flood signature: for every node of
    * the directed graph, `fmin` = the smallest node id that reaches
    * it within ≤ `rounds` hops (itself included) and `bmin` = the
    * smallest node id it reaches within ≤ `rounds` hops. Each round
    * is ONE linear join + min-aggregate per direction — never a
    * transitive closure — so an independent engine can replay it as
    * `rounds` unrolled linear CTEs at ANY scale, which is exactly
    * why it exists: the closure-based SCC oracle stops being
    * computable around sf1 (reach pairs grow with component size²),
    * while this signature stays O(rounds · |E|) everywhere. The
    * result is deterministic whether or not the flood has saturated:
    * both engines run the SAME round budget.
    */
  def minLabelFlood(edges0: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val edges = edges0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node"))).distinct()
      .localCheckpoint(true)
    // Both directions flood in ONE fused round loop: each round is a
    // single union + min-aggregate + checkpoint carrying (fmin, bmin)
    // side by side, instead of two sequential single-label loops —
    // same joins, same per-round bytes, HALF the per-round
    // materializations and convergence probes (the fixed cost each
    // round actually pays). The directions stay independent — the
    // forward push carries a null bmin and vice versa, min() ignores
    // nulls, and the standing lab row anchors both columns — so the
    // fused fixpoint is row-for-row the pair of single-direction
    // fixpoints (spec-pinned against hand values either way). Early
    // exit only when BOTH directions saturate; extra rounds for an
    // already-saturated direction are no-ops, so budget semantics
    // are unchanged.
    val lab0 = nodes.select(col("node"), col("node").as("fmin"),
        col("node").as("bmin"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): (Long, Long) = {
      val row = df.agg(coalesce(sum(col("fmin")), lit(0L)),
        coalesce(sum(col("bmin")), lit(0L))).head
      (row.getLong(0), row.getLong(1))
    }
    val lab = Fixpoint.stable(lab0, labelSum(lab0), rounds,
        Some(labelSum _)) { (lab, _) =>
      val nullL = lit(null).cast("long")
      val pushedF = lab.join(edges, lab("node") === edges("u"))
        .select(edges("v").as("node"), col("fmin"), nullL.as("bmin"))
      val pushedB = lab.join(edges, lab("node") === edges("v"))
        .select(edges("u").as("node"), nullL.as("fmin"), col("bmin"))
      lab.unionByName(pushedF).unionByName(pushedB)
        .groupBy("node").agg(min("fmin").as("fmin"), min("bmin").as("bmin"))
    }.state
    Checkpoints.free(edges)
    Checkpoints.free(nodes)
    lab
  }

  /** The sf1-capable SCC gate built on [[minLabelFlood]] (the
    * kllBoundAudit claim-pin pattern): alongside each node's flood
    * signature, a 0/1 `label_match` that checks the REAL SCC
    * decomposition against the flood's certificate. Whenever
    * fmin = bmin = m, node and m provably sit in the same SCC
    * (m reaches node and node reaches m within the budget), so
    * scc_label(node) must equal scc_label(m); rows with fmin ≠ bmin
    * are vacuously 1. The oracle recomputes the flood exactly
    * (linear rounds) and pins `1 AS label_match` — a wrong SCC label
    * on any certificate node hash-mismatches in the driver gate,
    * with no transitive closure anywhere in the oracle.
    */
  def sccFloodGate(edges0: DataFrame, sccLabels: DataFrame,
                   rounds: Int = 8): DataFrame = {
    val flood = minLabelFlood(edges0, rounds)
    val lab = sccLabels.select(col("node"), col("scc_label"))
      .localCheckpoint(true)
    val labOfMin = lab.select(col("node").as("fmin"),
      col("scc_label").as("scc_of_fmin"))
    val out = flood.join(lab, Seq("node"))
      .join(labOfMin, Seq("fmin"))
      .select(col("node"), col("fmin"), col("bmin"),
        when(col("fmin") =!= col("bmin"), 1L)
          .otherwise(when(col("scc_label") === col("scc_of_fmin"), 1L)
            .otherwise(0L)).as("label_match"))
      .localCheckpoint(true)
    Checkpoints.free(flood)
    Checkpoints.free(lab)
    out
  }

  /** Deterministic md5 level in 0..levels-1 per node id — the
    * structurally-bounded-depth DAG builder behind
    * `q_topo_layers_dag`: keeping only edges whose endpoints' levels
    * strictly increase yields an acyclic subgraph with longest path
    * ≤ levels−1 BY CONSTRUCTION, so the longest-path oracle unrolls
    * a fixed, scale-independent ladder (where the condensation-based
    * layering needs the SCC closure the oracle cannot afford at
    * sf1). Same md5 convention as [[sampleEdges]]; reproduces
    * character-for-character in SQL.
    */
  def hashLevel(node: Column, levels: Int = 16, salt: String = "lvl:"): Column =
    conv(substring(md5(concat(lit(salt), node.cast("string"))), 1, 4),
      16, 10).cast("long") % levels

  /** The level-DAG restriction of a directed edge set: edges whose
    * [[hashLevel]] strictly increases. Acyclic with depth < levels. */
  def levelDag(edges0: DataFrame, levels: Int = 16): DataFrame =
    edges0.filter(hashLevel(col("u"), levels) < hashLevel(col("v"), levels))

  /** Strongly connected components by iterated FORWARD-coloring /
    * BACKWARD-confirmation (the FW-BW / ColorSCC family — Fleischer,
    * Hendrickson & Pinar 2000; the Pregel-style min-label variant):
    *
    * Each OUTER round, (1) propagate min-label FORWARD to a fixpoint
    * over the remaining subgraph — color(v) = the minimum node id
    * that can reach v; a color class is nonempty only for pivots c
    * with color(c) = c, and SCC(c) ⊆ class(c) (reachers(v) =
    * reachers(c) for v ↔ c, so their minima agree); (2) BACKWARD
    * pass restricted to each class confirms exactly SCC(c) = class
    * members reaching c (any v→…→c path through v ∈ class(c) stays
    * inside SCC(c) ⊆ class(c), so the restriction loses nothing);
    * (3) extract every pivot's SCC simultaneously, remove, repeat.
    *
    * Every inner step is one equality join + one min aggregate on
    * the node key (hash-partitioned, frontier-bounded); the forward
    * coloring is a [[Fixpoint.delta]] loop, and the trim and backward
    * loops checkpoint every round too.
    * Outer rounds: TRIM passes peel no-in/no-out nodes as singleton
    * SCCs before every coloring (the classic FW-BW trim — a pure
    * DAG, the one-pivot-per-round adversary, dissolves entirely in
    * cheap trim passes and never pays a coloring fixpoint); a
    * strongly-connected core then extracts in ONE coloring round.
    * `maxOuter` fails loud rather than silently truncating a
    * decomposition. Output: (node, scc_label = min member id) — the
    * CC output contract, directed.
    */
  def stronglyConnectedComponents(edges0: DataFrame, maxOuter: Int = 40,
                                  maxInner: Int = 60,
                                  driverGate: Long = 1000000L): DataFrame = {
    val spark = edges0.sparkSession
    import spark.implicits._
    val edges = edges0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // Bounded-size gate (the ccMergeBatch / Borůvka driver-tail
    // convention): under the gate an iterative driver Tarjan replaces
    // the FW-BW fixpoint whose per-round job overhead dominates at
    // this size — identical min-label output, one collect of a
    // provably bounded edge set. Past the gate the distributed
    // decomposition below stands; the partitioning-invariance spec
    // pins both paths equal with driverGate = 0.
    if (edges.count() <= driverGate) {
      val out = driverTarjan(edges.select(col("u").as[Long], col("v").as[Long]).collect())
        .toSeq.toDF("node", "scc_label")
      Checkpoints.free(edges)
      return out
    }
    var remaining = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node"))).distinct().localCheckpoint(true)
    var result = Seq.empty[(Long, Long)].toDF("node", "scc_label")
      .localCheckpoint(true)
    var outer = 0
    while (!remaining.isEmpty && outer < maxOuter) {
      // TRIM: a node with no in-edges or no out-edges in the
      // remaining subgraph is a singleton SCC — peel them repeatedly
      // BEFORE paying a coloring fixpoint. This is the classic FW-BW
      // trim step, and the defense against the long-singleton-chain
      // adversary: a pure DAG dissolves entirely in cheap trim
      // passes (one distinct + two anti joins each) without ever
      // running a coloring round.
      var trimmed = true
      var trims = 0
      while (trimmed && trims < maxInner && !remaining.isEmpty) {
        val et = edges
          .join(remaining.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(remaining.select(col("node").as("v")), Seq("v"), "left_semi")
        val core = remaining
          .join(et.select(col("v").as("node")).distinct(), Seq("node"), "left_semi")
          .join(et.select(col("u").as("node")).distinct(), Seq("node"), "left_semi")
          .localCheckpoint(true)
        val singles = remaining.join(core, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("scc_label"))
        if (singles.isEmpty) {
          Checkpoints.free(core)
          trimmed = false
        } else {
          val nr = result.union(singles).localCheckpoint(true)
          Checkpoints.free(result); Checkpoints.free(remaining)
          result = nr
          remaining = core
        }
        trims += 1
      }
      if (remaining.isEmpty) {
        outer += 1
      } else {
      val e = edges.join(remaining.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(remaining.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")).localCheckpoint(true)
      // forward min-label fixpoint, DELTA-propagated: only nodes
      // whose color just improved feed the next round's join (the
      // q_bfs frontier discipline; round 1's frontier is every node
      // as its own color), and the improvement set doubles as the
      // convergence test — no full-table change-count join.
      val fwd = Fixpoint.delta(
          remaining.select(col("node"), col("node").as("color")).localCheckpoint(true),
          maxInner, Seq("node")) { (frontier, colors, _) =>
        val incoming = frontier.join(e, frontier("node") === e("u"))
          .groupBy(col("v").as("node")).agg(min(col("color")).as("inc"))
        colors.join(incoming, Seq("node"))
          .filter(col("inc") < col("color"))
          .select(col("node"), col("inc").as("color"))
      }
      val colors = fwd.state
      if (!fwd.converged) Seq(colors, e, remaining, result, edges).foreach(Checkpoints.free)
      require(fwd.converged,
        s"SCC forward coloring did not reach a fixpoint in $maxInner rounds")
      // backward confirmation within each class, all pivots at once:
      // seed = the pivots (color(c) = c); expand along REVERSED edges
      // restricted to same-color endpoints
      val ecol = e.join(colors.select(col("node").as("u"), col("color").as("cu")), "u")
        .join(colors.select(col("node").as("v"), col("color").as("cv")), "v")
        .filter(col("cu") === col("cv"))
        .select(col("u"), col("v"), col("cu").as("color")).localCheckpoint(true)
      // DELTA frontier (the q_bfs discipline): expand only the
      // newly-confirmed nodes, anti-join fresh arrivals against the
      // accumulated reached set, append WITHOUT distinct (fresh is
      // disjoint by construction) — O(class edges) total instead of
      // O(rounds × reached-incident edges) re-expansion.
      val pivots = colors.filter(col("node") === col("color"))
        .select(col("node"), col("color")).localCheckpoint(true)
      val reachedParts =
        scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.DataFrame](pivots)
      var reached = pivots // lazily-built union of checkpointed deltas
      var bwdFrontier = pivots
      var inner = 0
      var converged = false
      while (!converged && inner < maxInner) {
        // a node has exactly one color and ecol is same-color-
        // restricted, so the anti join can key on node alone
        val fresh = bwdFrontier.join(ecol,
            bwdFrontier("node") === ecol("v") && bwdFrontier("color") === ecol("color"))
          .select(ecol("u").as("node"), ecol("color").as("color"))
          .distinct()
          .join(reached, Seq("node"), "left_anti")
          .localCheckpoint(true)
        if (fresh.isEmpty) {
          Checkpoints.free(fresh)
          converged = true
        } else {
          reachedParts += fresh
          reached = reached.union(fresh)
          bwdFrontier = fresh
        }
        inner += 1
      }
      if (!converged)
        (reachedParts ++ Seq(colors, ecol, e, remaining, result, edges)).foreach(Checkpoints.free)
      require(converged,
        s"SCC backward confirmation did not converge in $maxInner rounds")
      val sccRows = reached.select(col("node"), col("color").as("scc_label"))
      val newResult = result.union(sccRows).localCheckpoint(true)
      val newRemaining = remaining
        .join(sccRows.select(col("node")), Seq("node"), "left_anti")
        .localCheckpoint(true)
      Checkpoints.free(result); Checkpoints.free(remaining)
      Checkpoints.free(colors); Checkpoints.free(ecol)
      reachedParts.foreach(Checkpoints.free)
      Checkpoints.free(e)
      result = newResult
      remaining = newRemaining
      outer += 1
      }
    }
    val finished = remaining.isEmpty
    if (!finished) Seq(remaining, result, edges).foreach(Checkpoints.free)
    require(finished, s"SCC decomposition did not finish in $maxOuter outer rounds")
    Checkpoints.free(edges)
    result
  }

  /** Iterative Tarjan over a gate-bounded collected edge list —
    * explicit frame stack (a 20k-node chain overflows the JVM stack
    * recursively), output = (node, min member id) matching the
    * distributed decomposition's contract exactly.
    */
  private def driverTarjan(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val g = Csr(edges)
    val (ids, start, adj) = (g.ids, g.off, g.nbr)
    val n = ids.length
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStk = new Array[Boolean](n)
    val stk = new java.util.ArrayDeque[Integer](n)
    val label = new Array[Long](n)
    val callV = new Array[Int](n + 1)
    val callC = new Array[Int](n + 1)
    var counter = 0
    var root = 0
    while (root < n) {
      if (index(root) == -1) {
        var sp = 0
        callV(0) = root; callC(0) = start(root)
        index(root) = counter; low(root) = counter; counter += 1
        stk.push(root); onStk(root) = true
        while (sp >= 0) {
          val v = callV(sp)
          if (callC(sp) < start(v + 1)) {
            val w = adj(callC(sp)); callC(sp) += 1
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              stk.push(w); onStk(w) = true
              sp += 1; callV(sp) = w; callC(sp) = start(w)
            } else if (onStk(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) {
              val members = scala.collection.mutable.ArrayBuffer.empty[Int]
              var w = -1
              while (w != v) {
                w = stk.pop(); onStk(w) = false; members += w
              }
              var lbl = Long.MaxValue
              members.foreach(m => if (ids(m) < lbl) lbl = ids(m))
              members.foreach(m => label(m) = lbl)
            }
            sp -= 1
            if (sp >= 0) {
              val p = callV(sp)
              if (low(v) < low(p)) low(p) = low(v)
            }
          }
        }
      }
      root += 1
    }
    (0 until n).map(j => (ids(j), label(j)))
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Degree-ordered triangle counting (SURVEY §2.2 row 21w). */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  private def edgeDf(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("u", "v")
  }

  /** Ids of the RDDs persisted right now (eager checkpoints included):
    * what an operator leaves behind is the difference across its call. */
  private def persistedIds = spark.sparkContext.getPersistentRDDs.keySet

  /** labelPropagation's default driver gate, then the distributed path. */
  private val lpaGates = Seq(2000000L, 0L)

  test("triangle count on known small graphs") {
    // Triangle + pendant: {1-2, 2-3, 1-3, 3-4} has exactly 1 triangle.
    assert(Graph.triangleCount(edgeDf(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))))
      .head().getLong(2) === 1L)
    // K4 has C(4,3) = 4 triangles.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(Graph.triangleCount(edgeDf(k4)).head().getLong(2) === 4L)
    // A 4-cycle has none.
    assert(Graph.triangleCount(edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))))
      .head().getLong(2) === 0L)
  }

  test("star graph (worst naive case) closes zero wedges after orientation") {
    // Hub 0 with 200 leaves: naive wedge generation at the hub emits
    // C(200,2)=19900 candidates; degree orientation points every edge
    // leaf->hub, so out-degree ≤ 1 everywhere and zero wedges form.
    val star = (1L to 200L).map(i => (0L, i))
    val res = Graph.triangleCount(edgeDf(star)).head()
    assert((res.getLong(0), res.getLong(1), res.getLong(2)) === ((201L, 200L, 0L)))
  }

  test("matches a brute-force local count on a pseudo-random graph, any partitioning") {
    // Deterministic edge set: (i, j) present iff (i*31 + j*17) % 7 < 2.
    val n = 60L
    val pairs = for {
      i <- 1L until n; j <- (i + 1) to n
      if (i * 31 + j * 17) % 7 < 2
    } yield (i, j)
    val adj = pairs.toSet
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    var expect = 0L
    for {
      a <- nodes; b <- nodes if a < b && adj((a, b))
      c <- nodes if b < c && adj((a, c)) && adj((b, c))
    } expect += 1
    val res = Graph.triangleCount(edgeDf(pairs).repartition(13)).head()
    assert(res.getLong(2) === expect)
    assert(res.getLong(1) === pairs.size.toLong)
  }

  test("wedgeStats: naive vs ordered wedge volumes on known graphs") {
    // star: hub degree 200 -> naive C(200,2); orientation kills all
    val star = (1L to 200L).map(i => (0L, i))
    assert(Graph.wedgeStats(edgeDf(star)) === ((19900L, 0L)))
    // K4: naive = 4 * C(3,2) = 12; oriented out-degrees are 3,2,1,0 -> 3+1+0+0 = 4
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(Graph.wedgeStats(edgeDf(k4)) === ((12L, 4L)))
    // empty edge set: both zero
    assert(Graph.wedgeStats(edgeDf(Seq.empty)) === ((0L, 0L)))
  }

  test("approx triangles: planted clique estimated within 15%; estimate deterministic; p=1 degenerates to exact") {
    // K30 (4060 triangles) + a 200-edge path of triangle-free noise:
    // a count large enough for the DOULION estimator to concentrate.
    // The md5 sample is content-hashed, so this "random" outcome is
    // one fixed number — the assertion can never flake.
    val clique = for (i <- 1L to 30L; j <- (i + 1) to 30L) yield (i, j)
    val path = (1000L until 1200L).map(i => (i, i + 1))
    val df = edgeDf(clique ++ path)
    val exact = Graph.triangleCount(edgeDf(clique ++ path)).head().getLong(2)
    assert(exact === 4060L)
    val est = Graph.triangleCountApprox(df, keepPermille = 500).head()
    val (sampledE, sampledT, estT) =
      (est.getLong(0), est.getLong(1), est.getLong(2))
    assert(sampledE < clique.size + path.size, "sampling must drop edges")
    assert(estT >= sampledT, "estimate scales the sampled count up")
    val relErr = math.abs(estT - exact).toDouble / exact
    info(f"DOULION p=0.5: sampled $sampledT triangles, est $estT vs $exact (err $relErr%.3f)")
    assert(relErr <= 0.15, s"estimate $estT vs exact $exact: err $relErr")
    // determinism: same content hash -> bit-identical estimate
    val again = Graph.triangleCountApprox(df.repartition(7), keepPermille = 500).head()
    assert((again.getLong(0), again.getLong(1), again.getLong(2)) ===
      ((sampledE, sampledT, estT)))
    // keepPermille=1000 keeps every edge: the estimator IS the exact count
    val full = Graph.triangleCountApprox(df, keepPermille = 1000).head()
    assert(full.getLong(2) === exact)
    // non-power-of-two p=200‰: the REALIZED threshold probability
    // (13107/65536, not the nominal 0.2) drives the scale — the
    // estimate must equal the sampled count rescaled by exactly
    // 1/p^3 built in the same IEEE-double op order, and stay
    // deterministic under repartitioning
    val p2 = Graph.triangleCountApprox(df, keepPermille = 200).head()
    val p = 13107.0 / 65536.0
    val want = math.floor(p2.getLong(1) * (1.0 / (p * p * p)) + 0.5).toLong
    assert(p2.getLong(2) === want,
      s"realized-p scale drifted: ${p2.getLong(2)} vs $want")
    val p2again = Graph.triangleCountApprox(df.repartition(5), keepPermille = 200).head()
    assert((p2again.getLong(0), p2again.getLong(1), p2again.getLong(2)) ===
      ((p2.getLong(0), p2.getLong(1), p2.getLong(2))))
  }

  test("kCore: clique survives, tail peels, cascades complete, round budget is invariant past fixpoint") {
    // 6-clique (every node has degree 5 inside it) with a pendant
    // path 100-101-102 hanging off node 1
    val clique = for (i <- 1L to 6L; j <- (i + 1) to 6L) yield (i, j)
    val graph = clique ++ Seq((1L, 100L), (100L, 101L), (101L, 102L))
    def core(k: Int, rounds: Int) =
      Graph.kCore(edgeDf(graph), k, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k=3: the path peels off (degree 1-2), the clique stays whole;
    // node 1 loses its pendant edge so all six end at degree 5
    assert(core(3, 8) === (1L to 6L).map(_ -> 5L).toMap)
    // k=6 exceeds the clique's internal degree: the whole graph
    // cascades away
    assert(core(6, 8) === Map.empty)
    // budget invariance: extra rounds after the fixpoint are no-ops
    assert(core(3, 2) === core(3, 8))
    // chain cascade needs one round PER NODE: a path of length 5 at
    // k=2 erodes end-in; an undersized budget leaves a partial
    // (non-fixpoint) subgraph and a sufficient one empties it —
    // exactly the truncation the unrolled oracle mirrors
    val path = (0L until 6L).map(i => (i, i + 1))
    assert(Graph.kCore(edgeDf(path), 2, 8).count() === 0L)
    assert(Graph.kCore(edgeDf(path), 2, 2).count() > 0L)
  }

  test("kCoreApprox: superset of exact core under forced collisions; exact at adequate width; deterministic") {
    // clique + pendant path (the kCore fixture): exact 3-core = the
    // 6-clique at degree 5
    val clique = for (i <- 1L to 6L; j <- (i + 1) to 6L) yield (i, j)
    val graph = clique ++ Seq((1L, 100L), (100L, 101L), (101L, 102L))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = asMap(Graph.kCore(edgeDf(graph), 3, 8))
    // width 2: every node collides with ~half the graph — estimates
    // inflate hard, but the one-sided error means the core can only
    // GROW, never lose a true member
    val collided = asMap(Graph.kCoreApprox(edgeDf(graph), 3, 8, depth = 2, width = 2))
    assert(exact.keySet.subsetOf(collided.keySet),
      s"sketch peel dropped true core members: exact=${exact.keySet} approx=${collided.keySet}")
    // adequate width: no node shares all its cells — the sketch peel
    // IS the exact peel, degrees included
    val wide = asMap(Graph.kCoreApprox(edgeDf(graph), 3, 8, depth = 4, width = 8192))
    assert(wide == exact, s"collision-free sketch must reproduce exact k-core: $wide vs $exact")
    // cascades complete through the sketch too (k above max degree)
    assert(Graph.kCoreApprox(edgeDf(graph), 7, 8, depth = 4, width = 8192).count() === 0L)
    // md5 cells + exact merge: partitioning-invariant
    val a = asMap(Graph.kCoreApprox(edgeDf(graph).repartition(7), 3, 8, depth = 2, width = 2))
    assert(a == collided, "sketch peel must not depend on partitioning")
    // real graph, real collisions at the entry dials: still a superset
    val li = Tables.lineitem(spark, SharedSpark.sf)
    val e = Graph.coPurchaseEdges(li).localCheckpoint(true)
    val exactCore = asMap(Graph.kCore(e, 70, 8)).keySet
    val approxCore = asMap(Graph.kCoreApprox(e, 70, 8)).keySet
    assert(exactCore.subsetOf(approxCore),
      s"entry-dial sketch peel lost ${exactCore -- approxCore}")
  }

  test("adaptiveWidth: sqrt-free ladder — full width while big, shrinks with the survivor set, floors at minWidth") {
    // need = 8 * edges; smallest power of two >= need in [512, 8192]
    assert(Graph.adaptiveWidth(100000L, 8192, 512, 4) === 8192)
    assert(Graph.adaptiveWidth(1024L, 8192, 512, 4) === 8192)  // need 8192
    assert(Graph.adaptiveWidth(512L, 8192, 512, 4) === 4096)   // need 4096
    assert(Graph.adaptiveWidth(100L, 8192, 512, 4) === 1024)   // need 800
    assert(Graph.adaptiveWidth(64L, 8192, 512, 4) === 512)     // need 512
    assert(Graph.adaptiveWidth(3L, 8192, 512, 4) === 512)      // floor
    assert(Graph.adaptiveWidth(0L, 8192, 512, 4) === 512)
    // minWidth = width disables adaptation
    assert(Graph.adaptiveWidth(3L, 8192, 8192, 4) === 8192)
  }

  test("kCoreApprox adaptive width: identical to fixed width while the graph exceeds the ladder; still a superset when shrunk") {
    val li = Tables.lineitem(spark, SharedSpark.sf)
    val e = Graph.coPurchaseEdges(li).localCheckpoint(true)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // entry dials (adaptive) vs adaptation disabled: on a graph whose
    // early rounds exceed the ladder top the runs may only diverge in
    // LATE shrunk rounds, where narrower sketches add collisions —
    // the adaptive result must contain the fixed-width one (both
    // contain the exact core)
    val adaptive = asMap(Graph.kCoreApprox(e, 70, 8)).keySet
    val fixed = asMap(Graph.kCoreApprox(e, 70, 8, minWidth = 8192)).keySet
    assert(fixed.subsetOf(adaptive),
      s"adaptive shrink may only ADD collision survivors: lost ${fixed -- adaptive}")
    val exactCore = asMap(Graph.kCore(e, 70, 8)).keySet
    assert(exactCore.subsetOf(adaptive), "adaptive peel lost true core members")
  }

  test("kCore frees superseded round checkpoints: persisted-block count stays O(1)") {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    // a 45-node path at k=2 peels two endpoints per round — a
    // 20-round run whose per-round edge checkpoints must not pile up
    val longPath = (0L until 45L).map(i => (i, i + 1))
    val before = persisted
    Graph.kCore(edgeDf(longPath), 2, rounds = 20).count()
    assert(persisted <= before + 2,
      s"kCore leaked round checkpoints: $before -> $persisted after 20 rounds")
  }

  test("bfsHops: chain distances from the min-id seed; other components absent; maxRounds caps depth") {
    import spark.implicits._
    // chain 1-2-3-4-5 plus a disjoint pair 10-11 (unreachable from
    // the seed component: must not appear at all)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("u", "v")
    val d = Graph.bfsHops(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    val capped = Graph.bfsHops(edges, maxRounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsHopHistogram: equals per-source bfsHopsFrom histograms; disjoint component invisible; k caps sources") {
    import spark.implicits._
    // chain 1-2-3-4-5 plus disjoint pair 10-11; k=3 sources = {1,2,3}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L)).toDF("u", "v")
    val got = Graph.bfsHopHistogram(edges, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent expectation: union of single-source BFS runs
    val expect = Seq(1L, 2L, 3L).flatMap { s =>
      Graph.bfsHopsFrom(edges, s).collect().map(r => r.getLong(1))
    }.groupBy(identity).map { case (h, xs) => h -> xs.size.toLong }
    assert(got == expect, s"got $got want $expect")
    // hand check: dists from 1: 0,1,2,3,4; from 2: 1,0,1,2,3; from 3:
    // 2,1,0,1,2 -> hop histogram 0:3, 1:5, 2:4, 3:2, 4:1
    assert(got == Map(0L -> 3L, 1L -> 5L, 2L -> 4L, 3L -> 2L, 4L -> 1L))
    // k larger than the node count degrades to all-sources
    val all = Graph.bfsHopHistogram(Seq((1L, 2L)).toDF("u", "v"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all == Map(0L -> 2L, 1L -> 2L))
    // empty input
    assert(Graph.bfsHopHistogram(Seq.empty[(Long, Long)].toDF("u", "v")).isEmpty)
  }

  test("harmonicCentrality: hand-computed on a star+chain; self-distance excluded; micros exact") {
    import spark.implicits._
    // star center 1 with leaves 2,3,4 plus a chain 4-5; sources k=3
    // = {1,2,3}. d(1,*): 2,3,4=1, 5=2; d(2,*): 1=1, 3,4=2, 5=3;
    // d(3,*): 1=1, 2,4=2, 5=3
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L)).toDF("u", "v")
    val got = Graph.harmonicCentrality(edges, k = 3, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hc = got.map(g => g._1 -> g._2).toMap
    // H(1) = 1e6 + 1e6 (from 2 and 3) = 2_000_000
    // H(2) = 1e6 (from 1) + 500_000 (from 3) = 1_500_000; H(3) same
    // H(4) = 1e6 + 500_000 + 500_000 = 2_000_000
    // H(5) = 500_000 + 333_333 + 333_333 = 1_166_666
    assert(hc == Map(1L -> 2000000L, 2L -> 1500000L, 3L -> 1500000L,
      4L -> 2000000L, 5L -> 1166666L), s"got $hc")
    // rank: ties broken by node id — 1 before 4, 2 before 3
    assert(got.sortBy(_._3).map(_._1).toSeq == Seq(1L, 4L, 2L, 3L, 5L))
    // topK caps the output
    assert(Graph.harmonicCentrality(edges, k = 3, topK = 2).count() == 2)
  }

  test("betweennessApprox: hand values on path and star; == independent local Brandes on seeded graphs") {
    import spark.implicits._
    // independent local Brandes (source-summed dependency, the
    // operator's declared convention = 2x unordered-pair betweenness)
    def localBrandes(edges: Seq[(Long, Long)], sources: Seq[Long]): Map[Long, Double] = {
      val adj = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
      val nodes = adj.keySet
      val bc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      sources.filter(nodes.contains).foreach { s =>
        val distM = scala.collection.mutable.Map(s -> 0)
        val sigma = scala.collection.mutable.Map(s -> 1L).withDefaultValue(0L)
        val order = scala.collection.mutable.ArrayBuffer(s)
        var q = List(s)
        while (q.nonEmpty) {
          val u = q.head; q = q.tail
          adj.getOrElse(u, Nil).foreach { v =>
            if (!distM.contains(v)) {
              distM(v) = distM(u) + 1; order += v; q = q :+ v
            }
            if (distM(v) == distM(u) + 1) sigma(v) += sigma(u)
          }
        }
        val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        order.reverse.foreach { w =>
          adj.getOrElse(w, Nil).foreach { u =>
            if (distM.contains(u) && distM(u) == distM(w) - 1)
              delta(u) += sigma(u).toDouble / sigma(w) * (1.0 + delta(w))
          }
          if (w != s) bc(w) += delta(w)
        }
      }
      bc.toMap
    }
    def run(edges: Seq[(Long, Long)], k: Int): Map[Long, Double] =
      graft.operators.Graph.betweennessApprox(edges.toDF("u", "v"), k, topK = 100)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // path 1-2-3-4-5, all sources: interior brokers 6/8/6, endpoints 0
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(run(path, 5) == Map(1L -> 0.0, 2L -> 6.0, 3L -> 8.0, 4L -> 6.0, 5L -> 0.0))
    // star: all leaf pairs route through the center (3 pairs x 2)
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    assert(run(star, 4) == Map(0L -> 6.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0))
    // seeded random graphs, k = 4 smallest sources — the operator's
    // sampled semantics replicated locally
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(500 + seed)
      val es = (1 to 40).map(_ =>
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val sources = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted.take(4)
      val got = run(es, 4)
      val want = localBrandes(es, sources)
        .map { case (n, v) => n -> math.floor(v * 1e4 + 0.5) / 1e4 }
      val keys = got.keySet ++ want.keySet
      keys.foreach { n =>
        assert(math.abs(got.getOrElse(n, 0.0) - want.getOrElse(n, 0.0)) < 1e-3,
          s"seed=$seed node=$n got=${got.get(n)} want=${want.get(n)}")
      }
    }
  }

  test("betweennessApprox: driver-gated and distributed paths agree (r15 gate invariance)") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(900 + seed)
      val es = (1 to 60).map(_ =>
        (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
          .sortBy(_._3)
      val gated = asMap(Graph.betweennessApprox(es.toDF("u", "v"), 4, topK = 100))
      val dist = asMap(Graph.betweennessApprox(es.toDF("u", "v"), 4, topK = 100,
        driverGate = 0L))
      assert(gated.length == dist.length, s"seed=$seed row counts differ")
      gated.zip(dist).foreach { case ((n1, b1, r1), (n2, b2, r2)) =>
        assert(r1 == r2 && n1 == n2 && math.abs(b1 - b2) < 1e-3,
          s"seed=$seed rank $r1: gated=($n1,$b1) dist=($n2,$b2)")
      }
    }
  }

  test("betweennessApprox: gate invariance holds under maxRounds TRUNCATION (r15 ADVICE)") {
    import spark.implicits._
    // A 9-node path probed with maxRounds = 2: sources (the 4 smallest
    // ids) see only their 2-hop neighborhoods, so the level cap BINDS
    // — the trickiest equivalence between driverBrandes and the
    // distributed two-pass (dist == maxRounds nodes are kept but not
    // expanded) is exercised, not just the converged case. A ring
    // checks the same under two simultaneous frontiers per source.
    val path9 = (1L to 8L).map(i => (i, i + 1))
    val ring8 = (0L to 6L).map(i => (i, i + 1)) :+ (0L, 7L)
    for ((es, label) <- Seq((path9, "path9"), (ring8, "ring8")); mr <- Seq(2, 3)) {
      def asRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
          .sortBy(_._3)
      val gated = asRows(Graph.betweennessApprox(es.toDF("u", "v"), 4,
        topK = 100, maxRounds = mr))
      val dist = asRows(Graph.betweennessApprox(es.toDF("u", "v"), 4,
        topK = 100, maxRounds = mr, driverGate = 0L))
      assert(gated.length == dist.length,
        s"$label maxRounds=$mr row counts differ: ${gated.length} vs ${dist.length}")
      gated.zip(dist).foreach { case ((n1, b1, r1), (n2, b2, r2)) =>
        assert(r1 == r2 && n1 == n2 && math.abs(b1 - b2) < 1e-9,
          s"$label maxRounds=$mr rank $r1: gated=($n1,$b1) dist=($n2,$b2)")
      }
    }
  }

  test("bfsHops: a ring is walked in both directions (true shortest hops, not traversal order)") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (0L, 5L)).toDF("u", "v")
    val d = Graph.bfsHops(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
  }

  test("sssp: min-WEIGHT path wins over min-hop path; unreachable component absent; cap binds like an unrolled ladder") {
    import spark.implicits._
    // Seed 1. Direct hop 1→4 costs 10; the 3-hop detour 1→2→3→4
    // costs 3 — weighted distance must take the detour where BFS
    // would take the direct edge. Disjoint 10-11 must not appear.
    val edges = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (10L, 11L, 2L)).toDF("u", "v", "w")
    val d = Graph.sssp(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // maxRounds = 1, strict off: only one relaxation — node 4 keeps
    // the direct edge's 10 (the detour needs 3 rounds), exactly what
    // a 1-round unrolled Bellman ladder computes.
    val r1 = Graph.sssp(edges, maxRounds = 1, strict = false).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    // strict (the entry default) fails LOUD on the same truncation
    // instead of returning distances that would hash-drift from a
    // fixpoint oracle
    val before = persistedIds
    val e = intercept[IllegalStateException] {
      Graph.sssp(edges, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("exhausted before fixpoint"))
    // ... and frees every checkpoint it made before throwing
    val leaked = persistedIds -- before
    assert(leaked.isEmpty, s"sssp left checkpoints behind on the fail-loud path: $leaked")
  }

  test("sssp: ring relaxes in both directions; later rounds improve earlier estimates") {
    import spark.implicits._
    // Ring 0-1-2-3-4-5-0 with one heavy edge 0-1 (weight 100): going
    // clockwise 0→5→4→… must beat 0→1 for every node past the heavy
    // edge, and node 1 itself is cheaper the long way round (5 hops,
    // cost 5) than directly (100) — an improvement that arrives at
    // round 5, AFTER node 1 was first reached at round 1.
    val edges = Seq((0L, 1L, 100L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L), (0L, 5L, 1L)).toDF("u", "v", "w")
    val d = Graph.sssp(edges).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(0L -> 0L, 1L -> 5L, 2L -> 4L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
  }

  test("sssp: empty edges -> empty result; partitioning-invariant on a pseudo-random weighted graph") {
    import spark.implicits._
    assert(Graph.sssp(Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")).isEmpty)
    // Deterministic pseudo-random graph: result identical at 1 vs 7
    // partitions (min-aggregation order cannot matter — integers).
    val pairs = (for (i <- 0L until 60L) yield {
      val u = (i * 7919L) % 30L
      val v = (i * 104729L + 13L) % 30L
      if (u < v) Some((u, v, 1L + (i % 9L))) else if (v < u) Some((v, u, 1L + (i % 9L))) else None
    }).flatten.distinct
    val d1 = Graph.sssp(pairs.toDF("u", "v", "w").repartition(1)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d7 = Graph.sssp(pairs.toDF("u", "v", "w").repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 === d7)
    assert(d1.nonEmpty)
  }

  test("kTruss: K4 survives at k=4, pendant triangle peels; triangle chain unravels over two rounds") {
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val withPendant = k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val t = Graph.kTruss(edgeDf(withPendant), k = 4, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t === k4.toSet, "pendant triangle (support 1) must peel; K4 (support 2) must stay")
    // Triangle chain {1,2,3},{2,3,4}: round 1 drops the four outer
    // edges (support 1), which starves (2,3) — round 2 empties it.
    val chain = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(Graph.kTruss(edgeDf(chain), k = 4, rounds = 4).isEmpty)
    // rounds=1 pins the mid-cascade truncation the oracle ladder
    // reproduces: only (2,3) survives round 1
    val r1 = Graph.kTruss(edgeDf(chain), k = 4, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r1 === Set((2L, 3L)))
    // k=3 (support >= 1) keeps every triangle edge of the chain
    val t3 = Graph.kTruss(edgeDf(chain), k = 3, rounds = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3 === chain.toSet)
  }

  test("clusteringCoefficient: 1.0 on a clique, 0 on a star, exact ppm on a known mix; empty input") {
    import spark.implicits._
    // K4: 4 triangles, wedges = 4·C(3,2) = 12, cc = 3·4/12 = 1.0
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val rK4 = Graph.clusteringCoefficient(edgeDf(k4)).head()
    assert((rK4.getLong(2), rK4.getLong(3), rK4.getLong(4)) === ((12L, 4L, 1000000L)))
    // star: wedges galore, zero triangles -> 0
    val star = (1L to 10L).map(i => (0L, i))
    assert(Graph.clusteringCoefficient(edgeDf(star)).head().getLong(4) === 0L)
    // triangle + pendant: T=1, degrees (2,2,3,1) -> wedges 1+1+3+0=5,
    // ppm = 3_000_000/5 = 600_000
    val mix = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val rMix = Graph.clusteringCoefficient(edgeDf(mix)).head()
    assert((rMix.getLong(2), rMix.getLong(3), rMix.getLong(4)) === ((5L, 1L, 600000L)))
    assert(Graph.clusteringCoefficient(
      Seq.empty[(Long, Long)].toDF("u", "v")).head().getLong(4) === 0L)
  }

  test("diameterDoubleSweep: exact on a path; improves the seed's eccentricity on an off-center seed; empty input") {
    import spark.implicits._
    // Path 3-1-2-4-5 by ids: seed is node 1 (min id), which sits
    // OFF-CENTER: ecc(1) = 3 (to 5), but the true diameter is 4
    // (3 to 5). The second sweep from the farthest node finds it —
    // the case that shows why one BFS is not enough.
    val path = Seq((1L, 3L), (1L, 2L), (2L, 4L), (4L, 5L)).toDF("u", "v")
    val r = Graph.diameterDoubleSweep(path).head()
    assert(r.getLong(0) === 1L)   // seed
    assert(r.getLong(1) === 3L)   // ecc(seed)
    assert(r.getLong(2) === 5L)   // farthest from seed
    assert(r.getLong(3) === 4L)   // true diameter, found by sweep 2
    // tie rule: two nodes at the max distance -> smallest id chosen
    val star2 = Seq((1L, 2L), (2L, 3L), (2L, 4L)).toDF("u", "v")
    val r2 = Graph.diameterDoubleSweep(star2).head()
    assert(r2.getLong(2) === 3L, "argmax tie must resolve to the smaller node id")
    assert(Graph.diameterDoubleSweep(
      Seq.empty[(Long, Long)].toDF("u", "v")).isEmpty)
  }

  test("kTruss: triangle-free star and empty input -> empty") {
    import spark.implicits._
    val star = (1L to 20L).map(i => (0L, i))
    assert(Graph.kTruss(edgeDf(star), k = 3, rounds = 2).isEmpty)
    assert(Graph.kTruss(Seq.empty[(Long, Long)].toDF("u", "v"), k = 4, rounds = 2).isEmpty)
  }

  test("mstBoruvka: known MST on a hand graph; deterministic under all-equal weights; forest on disconnected input") {
    import spark.implicits._
    val g = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L), (1L, 4L, 5L), (1L, 3L, 10L))
    val mst = Graph.mstBoruvka(g.toDF("u", "v", "w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mst === Set((1L, 2L, 1L), (3L, 4L, 1L), (2L, 3L, 2L)))
    // all-equal weights: the (w,u,v) total order still yields a
    // unique forest — the two lexicographically smallest edges
    val tri = Seq((1L, 2L, 7L), (1L, 3L, 7L), (2L, 3L, 7L))
    val mstTri = Graph.mstBoruvka(tri.toDF("u", "v", "w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mstTri === Set((1L, 2L, 7L), (1L, 3L, 7L)))
    // disconnected: a spanning FOREST, one edge per pair
    val forest = Seq((1L, 2L, 3L), (10L, 11L, 7L))
    val mstF = Graph.mstBoruvka(forest.toDF("u", "v", "w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mstF === forest.toSet)
    assert(Graph.mstBoruvka(Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")).isEmpty)
  }

  test("sccCondensation: planted cycles collapse to their labels, cross-SCC edges dedup, intra-SCC edges vanish") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cycle {1,2,3} -> label 1; cycle {10,11} -> label 10; DAG tail
    // 20 -> 21; two parallel bridges 3->10 and 1->11 collapse to ONE
    // condensation edge (1, 10)
    val g = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 10L),
      (3L, 10L), (1L, 11L),
      (11L, 20L), (20L, 21L)))
    val got = asSet(Graph.sccCondensation(g))
    assert(got == Set((1L, 10L), (10L, 20L), (20L, 21L)), s"got $got")
    // a fully strongly-connected graph condenses to ZERO edges
    val cyc = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(Graph.sccCondensation(cyc).isEmpty)
    // empty input -> empty condensation
    assert(Graph.sccCondensation(edgeDf(Seq.empty)).isEmpty)
  }

  test("topoLayers: longest-path depths on a planted DAG; composes with sccCondensation; fails loud on a cycle") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // diamond + a long arm: depth is the LONGEST path, not the shortest
    //   1 -> 2 -> 4, 1 -> 3 -> 5 -> 4, 4 -> 6
    val dag = edgeDf(Seq((1L, 2L), (2L, 4L), (1L, 3L), (3L, 5L), (5L, 4L), (4L, 6L)))
    val got = asMap(Graph.topoLayers(dag))
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 5L -> 2L, 4L -> 3L, 6L -> 4L),
      s"got $got")
    // condense-then-layer: the cycle {10,11} is one node at depth 1
    val mixed = edgeDf(Seq((1L, 10L), (10L, 11L), (11L, 10L), (11L, 20L)))
    val layered = asMap(Graph.topoLayers(
      Graph.sccCondensation(mixed)
        .select(col("src_scc").as("u"), col("dst_scc").as("v"))))
    assert(layered == Map(1L -> 0L, 10L -> 1L, 20L -> 2L), s"got $layered")
    // a cyclic input must fail loud on BOTH paths, never loop/truncate
    val ex = intercept[IllegalArgumentException] {
      Graph.topoLayers(edgeDf(Seq((1L, 2L), (2L, 1L))), maxRounds = 5)
    }
    assert(ex.getMessage.contains("cyclic"))
    val beforeDist = persistedIds
    val exd = intercept[IllegalArgumentException] {
      Graph.topoLayers(edgeDf(Seq((1L, 2L), (2L, 1L))), maxRounds = 5,
        driverGate = 0L)
    }
    assert(exd.getMessage.contains("cyclic"))
    val leaked = persistedIds -- beforeDist
    assert(leaked.isEmpty, s"topoLayers left checkpoints behind on the cyclic input: $leaked")
    // empty input -> empty layering
    assert(Graph.topoLayers(edgeDf(Seq.empty)).isEmpty)
    // driver-gate invariance (the driverTarjan convention): the
    // distributed delta-fixpoint at driverGate=0 and the collected
    // Kahn DP agree on a seeded random DAG, bit for bit
    val rnd = new scala.util.Random(23)
    val rdag = edgeDf(Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) })
    assert(asMap(Graph.topoLayers(rdag)) ==
      asMap(Graph.topoLayers(rdag, driverGate = 0L)))
  }

  test("mstSummary: one-row (n_edges, total_weight, n_components) matches the forest; agrees with the threshold identity on a seeded random graph") {
    import spark.implicits._
    def summary(edges: Seq[(Long, Long, Long)]) = {
      val r = Graph.mstSummary(edges.toDF("u", "v", "w")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // hand graph from the mstBoruvka test: forest {1-2, 3-4, 2-3}
    assert(summary(Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 1L),
      (1L, 4L, 5L), (1L, 3L, 10L))) == ((3L, 4L, 1L)))
    // disconnected: two components
    assert(summary(Seq((1L, 2L, 3L), (10L, 11L, 7L))) == ((2L, 10L, 2L)))
    // seeded random graph: summary must equal local Kruskal's, and
    // weight must satisfy the threshold identity the oracle uses:
    // weight = sum_{t=0}^{W-1} (c(t) - c(W))
    val rnd = new scala.util.Random(11)
    val es = Seq.fill(60)((rnd.nextInt(20).toLong + 1L, rnd.nextInt(20).toLong + 1L,
        rnd.nextInt(9).toLong + 1L))
      .filter(e => e._1 != e._2)
      .groupBy(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .map { case ((a, b), g) => (a, b, g.map(_._3).min) }.toSeq
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    var (kEdges, kWeight) = (0L, 0L)
    es.sortBy(e => (e._3, e._1, e._2)).foreach { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(math.max(ru, rv)) = math.min(ru, rv); kEdges += 1; kWeight += w }
    }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val got = summary(es)
    assert(got == ((kEdges, kWeight, nodes.size - kEdges)), s"got $got")
    // threshold identity cross-check (the oracle's formula)
    def comps(t: Long): Long = {
      val p = scala.collection.mutable.Map.empty[Long, Long]
      def f(x: Long): Long = { var r = x; while (p.getOrElse(r, r) != r) r = p(r); r }
      es.filter(_._3 <= t).foreach { case (u, v, _) =>
        val (ru, rv) = (f(u), f(v)); if (ru != rv) p(math.max(ru, rv)) = math.min(ru, rv)
      }
      nodes.map(f).distinct.size.toLong
    }
    val cFull = comps(9L)
    val identityWeight = (0L until 9L).map(t => comps(t) - cFull).sum
    assert(identityWeight == kWeight, s"threshold identity broke: $identityWeight vs $kWeight")
  }

  test("labelPropagation: two cliques joined by a bridge -> two communities; CC would say one") {
    import spark.implicits._
    // K4 on {1..4}, K4 on {11..14}, bridge 4-11.
    val cl = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)) ++
      (for (i <- 11L to 14L; j <- (i + 1) to 14L) yield (i, j)) :+ ((4L, 11L))
    for (gate <- lpaGates) {
      val labels = Graph.labelPropagation(cl.toDF("u", "v"), 5, gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Each clique converges to its min member's label; the bridge
      // endpoints stay with their own clique (3 clique neighbors vs 1
      // bridge neighbor).
      assert((1L to 4L).map(labels).toSet === Set(1L), s"gate=$gate")
      assert((11L to 14L).map(labels).toSet === Set(11L), s"gate=$gate")
    }
  }

  test("labelPropagation: deterministic under ties (smallest label) and partitioning-invariant") {
    import spark.implicits._
    // Path 1-2-3: node 2 sees labels {1, 3} once each — tie broken
    // to 1. Nodes 1 and 3 see only node 2's label.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    val big = (for (i <- 0L until 40L) yield (i, (i * 13L + 7L) % 40L))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val byGate = lpaGates.map { gate =>
      val l1 = Graph.labelPropagation(path, 1, gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l1 === Map(1L -> 2L, 2L -> 1L, 3L -> 2L), s"gate=$gate")
      val a = Graph.labelPropagation(big.toDF("u", "v").repartition(1), 5, gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = Graph.labelPropagation(big.toDF("u", "v").repartition(7), 5, gate).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b, s"gate=$gate")
      assert(a.nonEmpty)
      a
    }
    assert(byGate.distinct.size == 1, "driver and distributed paths disagree")
  }

  private def sparkJobs(body: => Unit): Int = SparkJobs.count(spark)(body)

  test("labelPropagation job-count guard: the driver path runs <= 3 Spark jobs, the distributed path >= rounds; the gate boundary picks the path") {
    import spark.implicits._
    val rows = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
    val edges = rows.toDF("u", "v")
    val rounds = 5
    val n = rows.size.toLong
    // the default gate and a gate of exactly `n` rows take the driver
    // path; `n - 1` (n = gate + 1 rows) and 0 take the distributed one
    val byGate = Seq(2000000L -> true, n -> true, n - 1 -> false, 0L -> false).map {
      case (gate, onDriver) =>
        var out: org.apache.spark.sql.DataFrame = null
        val jobs = sparkJobs { out = Graph.labelPropagation(edges, rounds, gate) }
        if (onDriver) assert(jobs <= 3, s"gate=$gate: $jobs Spark jobs on the driver path")
        else assert(jobs >= rounds, s"gate=$gate: $jobs Spark jobs on the distributed path")
        out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(byGate.distinct.size == 1, s"paths disagree: $byGate")
  }

  test("round-loop job counts: each iterative operator runs a pinned number of Spark jobs per call on one fixed graph") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L), (7L, 8L), (10L, 11L))
    val und = edgeDf(pairs)
    val weighted = pairs.map { case (u, v) => (u, v, (u + v) % 5 + 1) }.toDF("u", "v", "w")
    val digraph = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 6L), (10L, 11L)))
    // Jobs of one call plus collecting its result (gated operators at
    // driverGate = 0). Every round's checkpoint and probe is a job, so
    // an added or dropped per-round action moves these. AQE is off
    // while counting: with it on, the counts for betweennessApprox and
    // SCC changed from run to run of the same code; with it off every
    // count repeats.
    val expected = Seq[(String, Int, () => Any)](
      ("sssp", 31, () => Graph.sssp(weighted).collect()),
      ("bfsHops", 29, () => Graph.bfsHops(und).collect()),
      ("bfsHopsFrom", 20, () => Graph.bfsHopsFrom(und, 5L).collect()),
      ("diameterDoubleSweep", 56, () => Graph.diameterDoubleSweep(und).collect()),
      ("bfsHopHistogram", 30, () => Graph.bfsHopHistogram(und, k = 3).collect()),
      ("harmonicCentrality", 30,
        () => Graph.harmonicCentrality(und, k = 3, topK = 5).collect()),
      ("betweennessApprox", 50,
        () => Graph.betweennessApprox(und, k = 3, topK = 5, driverGate = 0L).collect()),
      ("topoLayers", 39, () => Graph.topoLayers(und, driverGate = 0L).collect()),
      ("stronglyConnectedComponents", 176,
        () => Graph.stronglyConnectedComponents(digraph, driverGate = 0L).collect()),
      ("kCore", 12, () => Graph.kCore(und, 2).collect()),
      ("kTruss", 17, () => Graph.kTruss(und, k = 3).collect()),
      ("kCoreApprox", 12,
        () => Graph.kCoreApprox(und, 2, width = 256, minWidth = 64).collect()),
      ("minLabelFlood", 37, () => Graph.minLabelFlood(digraph).collect()),
      ("labelPropagation", 14, () => Graph.labelPropagation(und, 5, 0L).collect()),
      ("pagerankMicros", 15, () => graft.operators.Dedup.pagerankMicros(
        pairs.toDF("doc_a", "doc_b"), iters = 5).collect()))
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    val off = try expected.flatMap { case (name, want, call) =>
      val jobs = sparkJobs { call() }
      if (jobs != want) Some(s"$name: $jobs jobs, pinned $want") else None
    } finally saved match {
      case Some(v) => spark.conf.set(aqe, v)
      case None => spark.conf.unset(aqe)
    }
    assert(off.isEmpty, off.mkString("; "))
  }

  test("scc: planted cycles/bridges/DAG tail peel correctly; matches a brute-force closure on a seeded random digraph; partitioning-invariant") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two cycles joined one-way, plus a DAG tail: four SCCs, and the
    // outer loop must PEEL (the one-class-per-round adversary shape)
    val planted = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L), // cycle {1,2,3}
      (3L, 10L),                                            // one-way bridge
      (10L, 11L), (11L, 10L),                               // cycle {10,11}
      (11L, 20L), (20L, 21L)))                              // DAG tail
    val got = asMap(Graph.stronglyConnectedComponents(planted))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 21L), s"got $got")
    // driverGate = 0 forces the distributed FW-BW path: both paths
    // must agree on the planted decomposition
    val gotDist = asMap(Graph.stronglyConnectedComponents(planted, driverGate = 0L))
    assert(gotDist == got, s"distributed path drifted: $gotDist")
    // a pure chain: every node a singleton SCC, one peel per round
    val chain = edgeDf((1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq)
    assert(asMap(Graph.stronglyConnectedComponents(chain)) ==
      (1L to 6L).map(i => i -> i).toMap)
    assert(asMap(Graph.stronglyConnectedComponents(chain, driverGate = 0L)) ==
      (1L to 6L).map(i => i -> i).toMap)
    // seeded random digraph vs an independent local closure oracle
    val rnd = new scala.util.Random(7)
    val n = 24
    val randomEdges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val reach = Array.fill(n, n)(false)
    randomEdges.foreach { case (a, b) => reach(a.toInt)(b.toInt) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
    val nodes = randomEdges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map { v =>
      val mutual = nodes.filter(w =>
        w != v && reach(v.toInt)(w.toInt) && reach(w.toInt)(v.toInt))
      v -> (mutual :+ v).min
    }.toMap
    val df = edgeDf(randomEdges)
    assert(asMap(Graph.stronglyConnectedComponents(df)) == expected)
    assert(asMap(Graph.stronglyConnectedComponents(df.repartition(7))) == expected)
    // the distributed path must match the same closure oracle,
    // partitioning-invariant
    assert(asMap(Graph.stronglyConnectedComponents(df, driverGate = 0L)) == expected)
    assert(asMap(Graph.stronglyConnectedComponents(
      df.repartition(7), driverGate = 0L)) == expected)
    // empty edges -> empty decomposition, both paths
    assert(Graph.stronglyConnectedComponents(edgeDf(Seq.empty)).count() == 0)
    assert(Graph.stronglyConnectedComponents(
      edgeDf(Seq.empty), driverGate = 0L).count() == 0)
    // a 10-ring needs 9 coloring rounds: at maxInner = 2 the distributed
    // path fails loud, with every checkpoint it made freed
    val ring = edgeDf((0L until 10L).map(i => (i, (i + 1) % 10)))
    val before = persistedIds
    val ex = intercept[IllegalArgumentException] {
      Graph.stronglyConnectedComponents(ring, maxInner = 2, driverGate = 0L)
    }
    assert(ex.getMessage.contains("did not reach a fixpoint"))
    val leaked = persistedIds -- before
    assert(leaked.isEmpty, s"SCC left checkpoints behind on the fail-loud path: $leaked")
    // ring {1,2,3} -> 4 -> ring {4,5,6}: one outer round extracts only
    // {1,2,3}, so at maxOuter = 1 the second SCC is left over
    val twoRings = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L)))
    val beforeOuter = persistedIds
    val exOuter = intercept[IllegalArgumentException] {
      Graph.stronglyConnectedComponents(twoRings, maxOuter = 1, driverGate = 0L)
    }
    assert(exOuter.getMessage.contains("did not finish in 1 outer rounds"))
    val leakedOuter = persistedIds -- beforeOuter
    assert(leakedOuter.isEmpty, s"SCC left checkpoints behind on the outer exit: $leakedOuter")
    // a 10-ring with the chord 0 -> 5: the forward coloring settles in
    // 6 rounds, but the backward pass needs 10 (node 1 reaches 0 only
    // the long way round), so maxInner = 7 fails the backward exit
    val chorded = edgeDf((0L until 10L).map(i => (i, (i + 1) % 10)) :+ ((0L, 5L)))
    val beforeBwd = persistedIds
    val exBwd = intercept[IllegalArgumentException] {
      Graph.stronglyConnectedComponents(chorded, maxInner = 7, driverGate = 0L)
    }
    assert(exBwd.getMessage.contains("SCC backward confirmation did not converge"))
    val leakedBwd = persistedIds -- beforeBwd
    assert(leakedBwd.isEmpty, s"SCC left checkpoints behind on the backward exit: $leakedBwd")
  }

  test("co-purchase weighted edges: canonical, multiplicity-derived lengths in [1, 9]") {
    val li = Tables.lineitem(spark, SharedSpark.sf)
    val we = Graph.coPurchaseWeightedEdges(li).cache()
    try {
      assert(we.filter(col("u") >= col("v")).isEmpty)
      assert(we.filter(col("w") < 1 || col("w") > 9).isEmpty)
      // Same edge set as the unweighted builder.
      val plain = Graph.coPurchaseEdges(li)
      assert(we.select("u", "v").exceptAll(plain).isEmpty)
      assert(plain.exceptAll(we.select("u", "v")).isEmpty)
    } finally we.unpersist()
  }

  test("minLabelFlood: hand-checked fmin/bmin on a planted digraph; budget semantics exact; saturation early-exit is a no-op") {
    import spark.implicits._
    // 1 -> 2 -> 3 -> 4 (chain) plus a 2-cycle 5 <-> 6
    val e = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 5L)))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // saturated (rounds >= diameter): fmin = min ancestor, bmin = min descendant
    val full = asMap(Graph.minLabelFlood(e, 8))
    assert(full == Map(
      1L -> ((1L, 1L)), 2L -> ((1L, 2L)), 3L -> ((1L, 3L)), 4L -> ((1L, 4L)),
      5L -> ((5L, 5L)), 6L -> ((5L, 5L))))
    // bounded below the diameter: node 4 sees only 2 hops back (label 2)
    val two = asMap(Graph.minLabelFlood(e, 2))
    assert(two(4L) == ((2L, 4L)) && two(3L) == ((1L, 3L)))
    // extra rounds past saturation change nothing
    assert(asMap(Graph.minLabelFlood(e, 20)) == full)
  }

  test("sccFloodGate: correct labels pin label_match=1 everywhere; a wrong label on a certificate node flips it to 0") {
    import spark.implicits._
    val e = edgeDf(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L), (6L, 5L)))
    val good = Graph.stronglyConnectedComponents(e)
    val gated = Graph.sccFloodGate(e, good, 8)
    assert(gated.filter(col("label_match") =!= 1L).isEmpty,
      "correct decomposition must pass the certificate everywhere")
    // all of {1,2,3} and {5,6} are certificate nodes (fmin = bmin)
    assert(gated.filter(col("fmin") === col("bmin")).count() >= 5)
    // corrupt one certificate node's label: 2 moved to its own SCC
    val bad = good.withColumn("scc_label",
      when(col("node") === 2L, lit(99L)).otherwise(col("scc_label")))
    assert(Graph.sccFloodGate(e, bad, 8)
      .filter(col("label_match") === 0L).count() >= 1,
      "a wrong SCC label on a certificate node must flip label_match")
  }

  test("levelDag: strictly-increasing md5 levels make an acyclic subgraph; topoLayers converges within levels-1 rounds; level reproduces the SQL convention") {
    import spark.implicits._
    val li = Tables.lineitem(spark, SharedSpark.sf)
    val e = Graph.itemSequenceEdges(li)
    val dag = Graph.levelDag(e).cache()
    try {
      // acyclicity via the construction invariant itself
      val lv = dag.select(Graph.hashLevel(col("u")).as("lu"),
        Graph.hashLevel(col("v")).as("lv"))
      assert(lv.filter(col("lu") >= col("lv")).isEmpty)
      // depth bounded by levels-1 on both topoLayers paths
      val depths = Graph.topoLayers(dag)
      assert(depths.agg(max("depth")).head().getLong(0) <= 15L)
      val dist = Graph.topoLayers(dag, driverGate = 0L)
      assert(depths.exceptAll(dist).isEmpty && dist.exceptAll(depths).isEmpty,
        "driver and distributed layering disagree on the level DAG")
      // the md5 level matches the oracle's ('0x'||substr(md5,1,4))::BIGINT % 16
      val probe = Seq(0L, 1L, 7L, 12345L, 999999L).toDF("x")
        .select(col("x"), Graph.hashLevel(col("x")).as("l")).collect()
      probe.foreach { r =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"lvl:${r.getLong(0)}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 4)
        assert(r.getLong(1) == java.lang.Long.parseLong(hex, 16) % 16)
      }
    } finally dag.unpersist()
  }

  test("co-purchase edges are canonical (u < v), distinct, and order-bounded") {
    val li = Tables.lineitem(spark, SharedSpark.sf)
    val e = Graph.coPurchaseEdges(li).cache()
    try {
      assert(e.filter(col("u") >= col("v")).isEmpty)
      assert(e.count() === e.distinct().count())
      // Fan-out bound: edges ≤ sum over orders of C(parts-in-order, 2).
      val bound = li.select(col("l_orderkey"), col("l_partkey")).distinct()
        .groupBy("l_orderkey").agg(count(lit(1)).as("k"))
        .select(sum(col("k") * (col("k") - 1))).head().getLong(0) / 2
      assert(e.count() <= bound)
    } finally e.unpersist()
  }
}

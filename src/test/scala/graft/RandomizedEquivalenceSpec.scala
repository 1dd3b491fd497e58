package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph}
import graft.plans.TemporalJoins

/** Randomized (seeded, deterministic) equivalence checks between
  * independent implementations of the same operator — the strongest
  * cheap oracle we have for operators whose SQL twin is a different
  * algorithm entirely. Seeds are fixed: failures reproduce exactly.
  */
class RandomizedEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("alternating CC == propagation CC on 12 seeded random graphs") {
    import spark.implicits._
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 5 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(60)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val pairs = edges.toDF("doc_a", "doc_b")
        val prop = Dedup.connectedComponents(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val alt = Dedup.connectedComponentsAlternating(pairs).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(alt == prop, s"seed=$seed edges=$edges")
      }
    }
  }

  test("sssp == local Dijkstra from the min node on 10 seeded random weighted graphs") {
    import spark.implicits._
    def dijkstra(edges: Seq[(Long, Long, Long)]): Map[Long, Long] = {
      val adj = (edges.map(e => (e._1, e._2, e._3)) ++ edges.map(e => (e._2, e._1, e._3)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(v => (v._2, v._3)) }
      val seed = adj.keys.min
      val dist = scala.collection.mutable.Map(seed -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, seed))(
        Ordering.by[(Long, Long), Long](-_._1))
      while (pq.nonEmpty) {
        val (d, n) = pq.dequeue()
        if (d == dist(n)) {
          adj(n).foreach { case (m, w) =>
            if (!dist.contains(m) || d + w < dist(m)) {
              dist(m) = d + w
              pq.enqueue((d + w, m))
            }
          }
        }
      }
      dist.toMap
    }
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(1500 + seed)
      val nNodes = 5 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(80)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong,
          1L + rnd.nextInt(9)))
        .collect { case (a, b, w) if a != b =>
          (math.min(a, b), math.max(a, b), w) }
        .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq
      if (edges.nonEmpty) {
        val got = Graph.sssp(edges.toDF("u", "v", "w"), maxRounds = 40).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == dijkstra(edges), s"seed=$seed edges=$edges")
      }
    }
  }

  /** Local synchronous LPA: every row adds one neighbor entry in each
    * direction (a duplicate row counts twice, a self-loop twice). */
  private def localLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).map { case (l, xs) => l -> xs.size }
        val maxC = counts.values.max
        // most frequent neighbor label, smallest label on ties
        n -> counts.filter(_._2 == maxC).keys.min
      }
    }
    labels
  }

  private def lpa(edges: Seq[(Long, Long)], rounds: Int, driverGate: Long): Map[Long, Long] = {
    import spark.implicits._
    Graph.labelPropagation(edges.toDF("u", "v"), rounds, driverGate).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** labelPropagation's default driver gate, then the distributed path. */
  private val lpaGates = Seq(2000000L, 0L)

  test("labelPropagation == local synchronous LPA simulation on 10 seeded random graphs") {
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(1100 + seed)
      val nNodes = 5 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(80)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) {
        for (gate <- lpaGates)
          assert(lpa(edges, 5, gate) == localLpa(edges, 5), s"seed=$seed gate=$gate edges=$edges")
      }
    }
  }

  test("labelPropagation driver and distributed paths == local simulation on self-loops, duplicate rows, empty input and the gate boundary") {
    // a self-loop counts twice: node 1 sees {1, 1, 5, 5, 6}, a 1-vs-5
    // tie that goes to 1; counted once, 5 would win
    val selfLoop = Seq((1L, 1L), (1L, 5L), (1L, 5L), (1L, 6L))
    // a duplicated row counts twice: node 1 sees {2, 3, 3} and adopts 3
    val dup = Seq((1L, 2L), (1L, 3L), (1L, 3L))
    for (gate <- lpaGates) {
      assert(lpa(selfLoop, 1, gate) == Map(1L -> 1L, 5L -> 1L, 6L -> 1L), s"gate=$gate")
      assert(lpa(dup, 1, gate) == Map(1L -> 3L, 2L -> 1L, 3L -> 1L), s"gate=$gate")
      for (e <- Seq(selfLoop, dup))
        assert(lpa(e, 5, gate) == localLpa(e, 5), s"gate=$gate edges=$e")
      assert(lpa(Seq.empty, 5, gate).isEmpty, s"gate=$gate")
    }
    // a small gate on 30 rows, a self-loop and a duplicate among them:
    // exactly `gate` rows take the driver path, `gate + 1` the
    // distributed one
    val rnd = new scala.util.Random(1177)
    val g = Seq.fill(27)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong)) ++
      Seq((3L, 3L), (3L, 4L), (3L, 4L))
    for (gate <- Seq(30L, 29L))
      assert(lpa(g, 5, gate) == localLpa(g, 5), s"gate=$gate edges=$g")
  }

  test("kTruss == local support-peel simulation on 10 seeded random graphs") {
    import spark.implicits._
    def localTruss(edges0: Seq[(Long, Long)], k: Int, rounds: Int): Set[(Long, Long)] = {
      var edges = edges0.toSet
      var r = 0
      var changed = true
      while (changed && r < rounds && edges.nonEmpty) {
        val byNode = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
          .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).toSet }
        def sup(e: (Long, Long)) =
          (byNode(e._1) intersect byNode(e._2)).size
        val kept = edges.filter(sup(_) >= k - 2)
        changed = kept.size != edges.size
        edges = kept
        r += 1
      }
      edges
    }
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(1300 + seed)
      val nNodes = 6 + rnd.nextInt(20)
      val nEdges = 5 + rnd.nextInt(80)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) {
        val got = Graph.kTruss(edges.toDF("u", "v"), k = 4, rounds = 6).collect()
          .map(r2 => (r2.getLong(0), r2.getLong(1))).toSet
        assert(got == localTruss(edges, 4, 6), s"seed=$seed edges=$edges")
      }
    }
  }

  test("mstBoruvka == local Kruskal under the (w,u,v) total order on 10 seeded random weighted graphs") {
    import spark.implicits._
    def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val out = scala.collection.mutable.Set[(Long, Long, Long)]()
      for ((u, v, w) <- edges.sortBy { case (a, b, c) => (c, a, b) }) {
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { parent(rv) = ru; out += ((u, v, w)) }
      }
      out.toSet
    }
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(700 + seed)
      val nNodes = 5 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(80)
      // duplicate weights ON PURPOSE (w in 1..5): the (w,u,v)
      // tie-break is what makes the forest unique on both sides
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong,
          1L + rnd.nextInt(5)))
        .collect { case (a, b, w) if a != b =>
          (math.min(a, b), math.max(a, b), w) }
        .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq // one weight per edge
      if (edges.nonEmpty) {
        val got = Graph.mstBoruvka(edges.toDF("u", "v", "w")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == kruskal(edges), s"seed=$seed edges=$edges")
      }
    }
  }

  test("bfsHops == local queue BFS on 10 seeded random graphs") {
    import spark.implicits._
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(100 + seed)
      val nNodes = 5 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(80)
      val edges = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct
      if (edges.nonEmpty) {
        val adj = (edges ++ edges.map(e => (e._2, e._1)))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val seedNode = edges.flatMap(e => Seq(e._1, e._2)).min
        val distRef = scala.collection.mutable.Map(seedNode -> 0L)
        var frontier = Seq(seedNode)
        var lvl = 1L
        while (frontier.nonEmpty) {
          val nxt = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
            .distinct.filterNot(distRef.contains)
          nxt.foreach(n => distRef(n) = lvl)
          frontier = nxt
          lvl += 1
        }
        val got = Graph.bfsHops(edges.toDF("u", "v")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == distRef.toMap, s"seed=$seed edges=$edges")
      }
    }
  }

  test("native session windows == flag-form sessionize on 8 seeded random event sets (off-boundary)") {
    import spark.implicits._
    // the two sessionizers share the inclusive merge-at-gap convention
    // but evaluate it at different resolutions (µs native, ns flags);
    // generate whole-µs timestamps with gaps != exactly 30 min so the
    // conventions provably coincide, and compare per-session
    // (user, n_events, value-sum) multisets
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(200 + seed)
      var id = 0L
      val rows = (1 to 5 + rnd.nextInt(15)).flatMap { user =>
        var tUs = 1700000000000000L + rnd.nextInt(1000000).toLong
        (0 until 3 + rnd.nextInt(25)).map { _ =>
          var gap = 1000000L + (rnd.nextDouble() * 3 * 3600e6).toLong
          if (gap == 1800000000L) gap += 1L
          tUs += gap
          id += 1
          (id, tUs * 1000L, user.toLong, math.floor(rnd.nextDouble() * 100) / 100)
        }
      }
      val df = rows.toDF("event_id", "ts_ns", "user_id", "value")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      def key(rws: Array[org.apache.spark.sql.Row], nIdx: Int, vIdx: Int) =
        rws.map(r => (r.getLong(0), r.getLong(nIdx), r.getDouble(vIdx)))
          .groupBy(identity).view.mapValues(_.length).toMap
      val flag = key(graft.operators.Relational.sessionize(df, 30)
        .select("user_id", "n_events", "session_value").collect(), 1, 2)
      val native = key(graft.operators.Relational.sessionWindowAgg(df, 30)
        .select("user_id", "n_events", "session_value").collect(), 1, 2)
      assert(native == flag, s"seed=$seed")
    }
  }

  test("sourceCap == window row_number on 8 seeded skewed source distributions") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(100 + seed)
      val cap = 1 + rnd.nextInt(6)
      // zipf-ish skew: source 's0' holds ~half the docs (the
      // common-crawl-bucket shape the bounded aggregator exists for)
      val docs = (0 until 120).map { i =>
        val src = if (rnd.nextBoolean()) "s0" else s"s${1 + rnd.nextInt(9)}"
        (i.toLong, src)
      }.toDF("doc_id", "source")
      val got = graft.operators.TextAnalysis.sourceCap(docs, cap).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        .orderBy(md5(concat_ws(":", col("source"), col("doc_id").cast("string"))))
      val ref = docs.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= cap)
        .select(col("doc_id"), col("source"), col("rk")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == ref, s"seed=$seed cap=$cap")
    }
  }

  test("funnel == independent per-user fold on 10 seeded random event sets") {
    import spark.implicits._
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(300 + seed)
      val types = Seq("view", "click", "purchase", "signup")
      val events = Seq.fill(150)((rnd.nextInt(12).toLong,
        types(rnd.nextInt(types.length)), rnd.nextInt(1000).toLong * 1000000L))
      val df = events.toDF("user_id", "event_type", "ts_ns")
      val got = graft.operators.Relational.funnel(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // independent implementation: per-user time-ordered fold through
      // the stage machine (ties broken by input order, which cannot
      // matter: stage transitions require STRICTLY greater timestamps)
      val expected = events.groupBy(_._1).map { case (u, evs) =>
        var stage = 0
        var tPrev = Long.MinValue
        for (target <- Seq("view", "click", "purchase")) {
          val hits = evs.filter(e => e._2 == target &&
            (if (stage == 0) true else e._3 > tPrev)).map(_._3)
          if (stage == Seq("view", "click", "purchase").indexOf(target) && hits.nonEmpty) {
            tPrev = hits.min
            stage += 1
          }
        }
        u -> stage.toLong
      }
      assert(got == expected.toMap, s"seed=$seed")
    }
  }

  test("binned range join == naive inequality join on 8 seeded random configs") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(200 + seed)
      val before = rnd.nextInt(50).toLong
      val after = rnd.nextInt(50).toLong
      val binWidth = 1L + rnd.nextInt(40)  // bins misaligned with the interval on purpose
      def rows(n: Int) = Seq.tabulate(n)(i =>
        (rnd.nextInt(4).toLong, rnd.nextInt(200).toLong, i.toLong))
      val left = rows(30).toDF("k", "t", "lid")
      val right = rows(30).toDF("k", "t", "rid")
      val binned = TemporalJoins.rangeJoin(left, right, "k", "t",
        before, after, binWidth, Seq("lid"), Seq("rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val naive = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") &&
          col("r.t") >= col("l.t") - before && col("r.t") <= col("l.t") + after)
        .select(col("l.lid"), col("r.rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(binned == naive, s"seed=$seed before=$before after=$after bin=$binWidth")
    }
  }

  test("binned interval overlap join == naive inequality join, each pair exactly once, on 8 seeded configs") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(300 + seed)
      val binWidth = 1L + rnd.nextInt(40) // bins misaligned with intervals
      // spans up to 60 straddle many bins at small widths; zero-length
      // (point) intervals occur too
      def ivls(n: Int, tag: Long) = Seq.tabulate(n) { i =>
        val s = rnd.nextInt(200).toLong
        (s, s + rnd.nextInt(60).toLong, tag * 1000 + i)
      }
      val left = ivls(30, 1).toDF("ivl_start", "ivl_end", "lid")
      val right = ivls(30, 2).toDF("ivl_start", "ivl_end", "rid")
      val got = TemporalJoins.intervalOverlapJoin(left, right,
        "ivl_start", "ivl_end", binWidth, Seq("lid"), Seq("rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val naive = left.as("l").join(right.as("r"),
        col("l.ivl_start") <= col("r.ivl_end") &&
          col("r.ivl_start") <= col("l.ivl_end"))
        .select(col("l.lid"), col("r.rid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // emit-once: the max-start-bin filter must dedup WITHOUT a distinct
      assert(got.length == got.toSet.size, s"duplicate pairs at seed=$seed bin=$binWidth")
      assert(got.toSet == naive, s"seed=$seed bin=$binWidth")
    }
  }

  test("native as-of join == compositional as-of join on 6 seeded random event sets") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(100 + seed)
      // small key space + coarse timestamps force (key, time) ties so
      // the tie-break path is genuinely exercised; the tie column
      // (eid, a unique id) exists on BOTH sides, as the compositional
      // join's union-based carry requires
      def rows(n: Int) = Seq.tabulate(n)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(8).toLong * 10L, i.toLong, i.toLong + 1000L))
      val left = rows(40).toDF("k", "t", "eid", "lpay")
      val right = rows(40).toDF("k", "t", "eid", "rpay")
      val native = org.apache.spark.sql.graftplan.AsofJoinNative
        .asofJoin(left.select("k", "t", "eid"), right, "k", "t", "eid", Seq("rpay"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      val composed = TemporalJoins.asofJoin(left.select("k", "t", "eid"), right,
        "k", "t", "eid", Seq("rpay"))
        .select(col("k"), col("t"), col("eid"), col("rpay"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(native == composed, s"seed=$seed")
    }
  }

  test("forward as-of == naive earliest-at-or-after join on 6 seeded random event sets") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(500 + seed)
      // same tie-forcing shape as the backward fuzz: the delegation's
      // tie rule (largest eid among equal-time right rows) must match
      // the naive min(struct(t, -eid)) pick
      def rows(n: Int) = Seq.tabulate(n)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(8).toLong * 10L, i.toLong, i.toLong + 1000L))
      val left = rows(40).toDF("k", "t", "eid", "lpay").select("k", "t", "eid")
      val right = rows(40).toDF("k", "t", "eid", "rpay")
      val fwd = TemporalJoins.asofJoinForward(left, right, "k", "t", "eid", Seq("rpay"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      val naive = left.as("l")
        .join(right.as("r"),
          col("l.k") === col("r.k") && col("r.t") >= col("l.t"), "left")
        .groupBy(col("l.k").as("k"), col("l.t").as("t"), col("l.eid").as("eid"))
        .agg(min(struct(col("r.t"), -col("r.eid"), col("r.rpay"))).as("m"))
        .select(col("k"), col("t"), col("eid"), col("m.rpay").as("rpay"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(fwd == naive, s"seed=$seed")
    }
  }

  test("nearest as-of == naive argmin(|dt|, backward-on-tie) join on 6 seeded random event sets") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(900 + seed)
      // coarse time grid forces BOTH tie classes: equal |dt| in the
      // two directions (backward must win) and equal right times
      // (largest eid must win)
      def rows(n: Int) = Seq.tabulate(n)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(8).toLong * 10L, i.toLong, i.toLong + 1000L))
      val left = rows(40).toDF("k", "t", "eid", "lpay").select("k", "t", "eid")
      val right = rows(40).toDF("k", "t", "eid", "rpay")
      val near = TemporalJoins.asofJoinNearest(left, right, "k", "t", "eid", Seq("rpay"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      // naive: min over (|dt|, direction flag, -eid) — the pandas
      // 'nearest' rule stated as one argmin
      val naive = left.as("l")
        .join(right.as("r"), col("l.k") === col("r.k"), "left")
        .groupBy(col("l.k").as("k"), col("l.t").as("t"), col("l.eid").as("eid"))
        .agg(min(struct(
          abs(col("r.t") - col("l.t")),
          when(col("r.t") <= col("l.t"), lit(0L)).otherwise(lit(1L)),
          -col("r.eid"), col("r.rpay"))).as("m"))
        .select(col("k"), col("t"), col("eid"), col("m.rpay").as("rpay"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(near == naive, s"seed=$seed")
    }
  }

  test("intervalCoverage == naive local interval-union on 12 seeded random interval sets") {
    import spark.implicits._
    // independent local implementation: sort, linear merge with the
    // gap-0 adjacency rule, count/cover/span per key — no windows
    def local(iv: Seq[(Long, Long, Long)]): Map[Long, (Long, Long, Long, Long, Long)] =
      iv.groupBy(_._1).map { case (k, rows) =>
        val sorted = rows.map(r => (r._2, r._3)).sorted
        val islands = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        for ((s, e) <- sorted) {
          if (islands.nonEmpty && s <= islands.last._2 + 1)
            islands(islands.length - 1) =
              (islands.last._1, math.max(islands.last._2, e))
          else islands += ((s, e))
        }
        val covered = islands.map { case (s, e) => e - s + 1 }.sum
        val span = islands.last._2 - islands.head._1 + 1
        k -> ((rows.size.toLong, islands.size.toLong, covered, span,
          covered * 1000000L / span))
      }
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(700 + seed)
      val iv = Seq.fill(5 + rnd.nextInt(80))((rnd.nextInt(6).toLong,
        rnd.nextInt(50).toLong, rnd.nextInt(12).toLong))
        .map { case (k, s, len) => (k, s, s + len) }
      // drive the shipped sweep through the same summary tail the
      // entry uses (weighted, wt = 1)
      val got = graft.operators.Relational.coverageSummary(
          graft.operators.Relational.sweepIslands(
            iv.toDF("k", "s", "e").withColumn("wt", lit(1L))))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      assert(got == local(iv), s"seed=$seed iv=$iv")
    }
  }

  test("noveltyProfile == naive local first-occurrence scan on 10 seeded random corpora") {
    import spark.implicits._
    val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")
    def shingles(words: Seq[String], n: Int): Set[String] =
      if (words.size <= n) Set(words.mkString(" "))
      else words.sliding(n).map(_.mkString(" ")).toSet
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(800 + seed)
      val docs = (1L to (3 + rnd.nextInt(10)).toLong).map { id =>
        (id, Seq.fill(3 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val seen = scala.collection.mutable.Set.empty[String]
      val want = docs.sortBy(_._1).map { case (id, text) =>
        val sh = shingles(text.split(" ").toSeq, 3)
        val novel = sh.count(s => !seen.contains(s))
        seen ++= sh
        id -> ((sh.size.toLong, novel.toLong))
      }.toMap
      val got = graft.operators.TextAnalysis.noveltyProfile(docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == want, s"seed=$seed docs=$docs")
    }
  }

  test("qualityTopP == naive local per-source sort cut on 8 seeded random corpora") {
    import spark.implicits._
    val vocab = Vector("join", "merge", "the", "a", "window", "value", "scan", "row")
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(900 + seed)
      val docs = (1L to (8 + rnd.nextInt(20)).toLong).map { id =>
        (id, Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
          s"s${rnd.nextInt(3)}")
      }
      val df = docs.toDF("doc_id", "text", "source")
      val pPpm = 1000L * (100 + rnd.nextInt(800)) // 10%..90%
      // naive: score via the shipped classifier, sort locally, cut
      val scores = graft.operators.TextAnalysis.qualityClassify(df.select("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val want = docs.groupBy(_._3).flatMap { case (src, rows) =>
        val ordered = rows.map(_._1).sortBy(id => (-scores(id), id))
        val keep = (pPpm * rows.size / 1000000L).toInt
        ordered.take(keep).zipWithIndex.map { case (id, i) => (id, src, i + 1L) }
      }.toSet
      val got = graft.operators.TextAnalysis.qualityTopP(df, pPpm)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSet
      assert(got == want, s"seed=$seed pPpm=$pPpm")
    }
  }

  test("phraseSearch == local sliding-window scan on 10 seeded random corpora (tiny vocab, repeated-word phrases)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val vocab = Seq("a", "b", "c", "d")
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to (3 + rnd.nextInt(8)).toLong).map { id =>
        (id, Seq.fill(5 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
      }
      val phrase = Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.length)))
      val want = docs.flatMap { case (id, text) =>
        val ws = text.split(" ").toSeq
        val hits = ws.indices.filter(i =>
          i + phrase.length <= ws.length && ws.slice(i, i + phrase.length) == phrase)
        if (hits.isEmpty) None
        else Some((id, hits.length.toLong, hits.head.toLong + 1))
      }.toSet
      val got = TextAnalysis.phraseSearch(docs.toDF("doc_id", "text"), phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"seed=$seed phrase=$phrase")
    }
  }

  test("robustOutliers == local median/MAD fold on 8 seeded random labeled vector sets") {
    import spark.implicits._
    import graft.operators.Similarity
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val dim = 3 + rnd.nextInt(5)
      val vecs = (1L to (6 + rnd.nextInt(30)).toLong).map { id =>
        (id, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat), rnd.nextInt(3))
      }
      // independent local implementation: rounded centroid, double
      // cosine, integer micros, low median/MAD, integer threshold
      val byLabel = vecs.groupBy(_._3)
      val want = byLabel.flatMap { case (label, ms) =>
        val cent = (0 until dim).map(j =>
          BigDecimal(ms.map(_._2(j).toDouble).sum / ms.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        def cmicros(v: Seq[Float]): Long = {
          var dot = 0.0; var na = 0.0; var nb = 0.0
          for (j <- 0 until dim) {
            val x = v(j).toDouble; dot += x * cent(j); na += x * x
            nb += cent(j) * cent(j)
          }
          math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5).toLong
        }
        val scored = ms.map { case (id, v, _) => (id, cmicros(v)) }
        def lomed(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
        val med = lomed(scored.map(_._2))
        val mad = lomed(scored.map(s => math.abs(s._2 - med)))
        scored.map { case (id, c) =>
          (id, label, c, med, mad, math.abs(c - med) * 10000L > 44478L * mad)
        }
      }.toSet
      val got = Similarity.robustOutliers(
          vecs.toDF("vec_id", "embedding", "label")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))).toSet
      assert(got == want, s"seed=$seed dim=$dim")
    }
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** Graph centrality: the Spark fixed-point PageRank is checked against an
  * INDEPENDENT in-memory replication of the integer recurrence (plain Scala
  * maps — no Spark, no SQL), so a mistake in the DataFrame formulation
  * cannot hide in a shared implementation. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000000L

  /** The reference recurrence, replicated independently. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var rank = nodes.map(_ -> Scale).toMap
    for (_ <- 1 to iters) {
      val recv = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => rank(s) / out(s) }.sum
      }
      rank = nodes.map(n => n -> (150000000000L + 85L * recv.getOrElse(n, 0L) / 100L)).toMap
    }
    rank
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRankInt(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  test("pageRankInt: symmetric 2-cycle holds rank exactly at scale") {
    // a <-> b: each round forwards the full rank, damps by 85/100 and adds
    // the 15/100 teleport — 1e12 is a fixed point with ZERO truncation, so
    // any off-by-one in the integer recurrence shows up exactly
    val got = run(Seq((1L, 2L), (2L, 1L)), iters = 7)
    assert(got == Map(1L -> Scale, 2L -> Scale))
  }

  test("pageRankInt: star and dangling-source graphs match the reference recurrence") {
    // undirected star (center 0, leaves 1..3) — asymmetric degrees, real
    // truncation; and a directed edge into a sink — teleport-only source,
    // dropped dangling mass at the sink
    val star = (1L to 3L).flatMap(l => Seq((0L, l), (l, 0L)))
    for (edges <- Seq(star, Seq((10L, 20L)))) {
      for (iters <- Seq(0, 1, 3, 5)) {
        assert(run(edges, iters) == refPageRank(edges, iters),
          s"edges=$edges iters=$iters")
      }
    }
  }

  test("pageRankInt: rank ordering and symmetry on an undirected path") {
    // path 1-2-3-4-5: nodes 2 and 4 rank HIGHEST (each receives an
    // endpoint's entire rank — the classic path-graph result), endpoints
    // lowest; mirror-symmetric pairs tie exactly
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = path ++ path.map(_.swap)
    val r = run(edges, 5)
    assert(r(2L) > r(3L) && r(3L) > r(1L))
    assert(r(2L) == r(4L) && r(1L) == r(5L))
    assert(r == refPageRank(edges, 5))
  }

  /** Independent brute-force triangle reference: all node triples. */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct.toSet
    val nodes = es.toSeq.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val tris = for {
      a <- nodes; b <- nodes if a < b && es((a, b))
      c <- nodes if b < c && es((b, c)) && es((a, c))
    } yield (a, b, c)
    nodes.map(n => n -> tris.count(t => t._1 == n || t._2 == n || t._3 == n)
      .toLong).toMap
  }

  test("triangleCounts: K4-plus-tail matches brute force; coefficients exact") {
    // K4 on 1..4 (every node in 3 triangles, coefficient 1.0) plus a tail
    // 4-5 (node 4's coefficient drops: degree 4, still 3 triangles) and an
    // isolated edge 6-7 (zero triangles, zero coefficient); duplicate and
    // reversed input rows must collapse
    val k4 = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    val edges = k4 ++ Seq((4L, 5L), (6L, 7L), (5L, 4L), (1L, 2L))
    val got = Graph.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val ref = refTriangles(edges)
    assert(got.keySet == ref.keySet)
    got.foreach { case (n, (d, t, c)) =>
      assert(t == ref(n), s"node $n")
      val expC = if (d >= 2) math.floor(t.toDouble * 2e6 / (d * (d - 1))) / 1e6
        else 0.0
      assert(c == expC, s"node $n coeff")
    }
    assert(got(1L) == ((3L, 3L, 1.0)))
    assert(got(4L)._1 == 4L && got(4L)._2 == 3L && got(4L)._3 == 0.5)
    assert(got(5L) == ((1L, 0L, 0.0)) && got(7L) == ((1L, 0L, 0.0)))
  }

  test("triangleCounts: partitioning-independent (orientation is a total order)") {
    val edges = (for (a <- 1L to 9L; b <- a + 1 to 9L if (a + b) % 3 != 0)
      yield (a, b)).toSeq
    val one = Graph.triangleCounts(edges.toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val re = Graph.triangleCounts(edges.toDF("src", "dst").repartition(7))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(one == re)
    assert(one.map(_._3).sum % 3 == 0) // every triangle counted at 3 corners
  }

  test("ktruss: partitioning-independent and direction-insensitive") {
    val edges = (for (a <- 1L to 10L; b <- a + 1 to 10L if (a * b) % 4 != 1)
      yield (a, b)).toSeq
    val one = Graph.ktruss(edges.toDF("src", "dst"), "src", "dst", 4, 4)
      .as[(Long, Long, Long)].collect().toSet
    val re = Graph.ktruss(edges.toDF("src", "dst").repartition(7),
      "src", "dst", 4, 4).as[(Long, Long, Long)].collect().toSet
    assert(one == re)
    // reversed/duplicated input directions canonicalize to the same truss
    val both = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val rev = Graph.ktruss(both.toDF("src", "dst"), "src", "dst", 4, 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(rev == one)
  }

  test("kCore: K5 survives a 3-core peel, tails and bridges cascade away") {
    // K5 on 1..5 (deg 4) + a path 5-6-7 (deg <= 2) + a triangle 8-9-10
    // (deg 2): for k=3 only K5 survives, and removing the path must
    // CASCADE (node 6 only drops once 7 goes, etc.)
    val k5 = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val und = (k5 ++ Seq((5L, 6L), (6L, 7L), (8L, 9L), (9L, 10L), (8L, 10L)))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = Graph.kCore(und.toDF("src", "dst"), "src", "dst", k = 3,
        rounds = 4).as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 5L).toSet)
    assert(got(5L) == 4L) // degree measured on the SURVIVING subgraph
    // converged: extra rounds change nothing
    val more = Graph.kCore(und.toDF("src", "dst"), "src", "dst", k = 3,
        rounds = 8).as[(Long, Long)].collect().toMap
    assert(more == got)
    // k=1 peels nothing here
    assert(Graph.kCore(und.toDF("src", "dst"), "src", "dst", 1, 2)
      .count() == 10L)
  }

  test("ktruss: K5 is a 4-truss; pendant triangles and bridges peel away") {
    // K5 on 1..5: every edge closes 3 triangles (support 3) — survives
    // k=4 (needs >= 2) and k=5 (needs 3), not k=6. A triangle 5-6-7
    // hanging off K5 has support-1 edges — peeled at k=4. A chordless
    // square 8-9-10-11 has support-0 edges — peeled immediately.
    val k5 = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val g = k5 ++ Seq((5L, 6L), (6L, 7L), (5L, 7L),
      (8L, 9L), (9L, 10L), (10L, 11L), (8L, 11L))
    val got = Graph.ktruss(g.toDF("src", "dst"), "src", "dst", k = 4,
      rounds = 3).as[(Long, Long, Long)].collect().toSet
    assert(got == k5.map { case (a, b) => (a, b, 3L) }.toSet)
    // k=5 also keeps exactly K5; k=6 empties the graph
    assert(Graph.ktruss(g.toDF("src", "dst"), "src", "dst", 5, 3)
      .count() == 10L)
    assert(Graph.ktruss(g.toDF("src", "dst"), "src", "dst", 6, 3)
      .count() == 0L)
    // monotone peel converged: extra rounds are exact no-ops
    val more = Graph.ktruss(g.toDF("src", "dst"), "src", "dst", 4, 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(more == got)
  }

  test("ktruss: peeling cascades (a 2-round chain the 1-round result misses)") {
    // Two triangles sharing edge (1,2): each outer edge has support 1,
    // the shared edge support 2. k=4 peels the outer edges in round 1,
    // which leaves the shared edge with support 0 — round 2 removes it.
    // A single round would keep (1,2) with a stale support.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    assert(Graph.ktruss(g.toDF("src", "dst"), "src", "dst", 4, 1)
      .count() == 1L) // after one round the shared edge is still there
    assert(Graph.ktruss(g.toDF("src", "dst"), "src", "dst", 4, 2)
      .count() == 0L) // the cascade clears it
  }

  test("triangleCounts: random graphs match brute force (seeded)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 12) {
      val n = 4 + rnd.nextInt(7)
      val edges = (for (a <- 1L to n; b <- a + 1 to n
        if rnd.nextDouble() < 0.45) yield (a, b)).toSeq
      if (edges.nonEmpty) {
        val got = Graph.triangleCounts(edges.toDF("src", "dst"))
          .as[(Long, Long, Long, Double)].collect()
          .map(r => r._1 -> r._3).toMap
        assert(got == refTriangles(edges), s"trial $trial edges=$edges")
      }
    }
  }

  test("kCore: random graphs reach an all-degrees>=k fixpoint subgraph (seeded)") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(8)
      val und = (for (a <- 1L to n; b <- a + 1 to n
        if rnd.nextDouble() < 0.4) yield (a, b))
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSeq
      if (und.nonEmpty) {
        val k = 2 + rnd.nextInt(2)
        // n rounds always suffice: each non-final round peels >= 1 node
        val core = Graph.kCore(und.toDF("src", "dst"), "src", "dst", k,
          rounds = n.toInt).as[(Long, Long)].collect().toMap
        // fixpoint: every surviving degree >= k…
        core.values.foreach(d => assert(d >= k, s"trial $trial"))
        // …and the degrees are consistent with the surviving edge set
        val alive = core.keySet
        val sub = und.filter { case (a, b) => alive(a) && alive(b) }
        val deg = sub.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
        assert(core == deg, s"trial $trial")
      }
    }
  }

  test("louvainOnePass: double star — hand-computed gains, hub-hub move rejected") {
    // h1=10 with leaves 1,2,3; h2=20 with leaves 21,22,23; bridge 10-20.
    // m=7, 2m=14; deg(h)=4, deg(leaf)=1. Leaf -> its hub: 14-4=10. Hub ->
    // leaf: 14-4=10 (tie -> min leaf); hub -> hub: 14-16=-2, correctly
    // NOT chosen even though the hubs are each other's "biggest" nbr.
    val canon = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (21L, 20L), (22L, 20L), (23L, 20L), (10L, 20L))
    val sym = (canon ++ canon.map(_.swap)).toDF("src", "dst")
    val got = Graph.louvainOnePass(sym, "src", "dst")
      .as[(Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 10L, 10L), (2L, 10L, 10L), (3L, 10L, 10L),
      (21L, 20L, 10L), (22L, 20L, 10L), (23L, 20L, 10L),
      (10L, 1L, 10L), (20L, 21L, 10L))
    assert(got == want)
  }

  test("louvainOnePass: on a simple graph every node has a positive move") {
    // Σ_{j∈N(i)} k_j <= 2m - k_i < k_i * (2m/k_i), so at least one nbr
    // has k_i*k_j < 2m — the stay branch is a guard, not a code path,
    // on simple unweighted graphs. Random-graph check.
    val rnd = new scala.util.Random(7)
    val n = 20
    val directed = (1 to 60).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (directed ++ directed.map(_.swap)).distinct
    val got = Graph.louvainOnePass(sym.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (node, comm, gain) =>
      assert(gain > 0 && comm != node, s"node $node")
    }
  }

  test("labelPropagation: random graphs match an independent sync fold (seeded)") {
    // plain-Scala synchronous mode-label recurrence, replicated without
    // Spark: each round every node takes its neighbors' most frequent
    // label, ties to the smallest
    def ref(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nodes = edges.map(_._1).distinct
      var lab = nodes.map(n => n -> n).toMap
      for (_ <- 1 to rounds) {
        lab = nodes.map { n =>
          val counts = adj(n).map(lab).groupBy(identity)
            .map { case (l, xs) => (l, xs.size) }
          n -> counts.toSeq.maxBy { case (l, c) => (c, -l) }._1
        }.toMap
      }
      lab
    }
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val n = 12 + rnd.nextInt(10)
      val directed = (1 to 40).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val sym = (directed ++ directed.map(_.swap)).distinct
      val got = Graph.labelPropagation(
          sym.toDF("src", "dst"), "src", "dst", rounds = 4)
        .as[(Long, Long)].collect().toMap
      assert(got == ref(sym, 4), s"trial $trial")
    }
  }

  test("capDegree: hub-heavy graph bounded, deterministic, exact below cap") {
    // hub 0 wired to 1..200, plus a clean triangle (300,301,302) far from
    // the hub — the degenerate derived-graph shape that turned the r6
    // triangle query quadratic before fixture thinning
    val hub = (1L to 200L).map(i => (0L, i))
    val tri = Seq((300L, 301L), (301L, 302L), (300L, 302L))
    val edges = (hub ++ tri).toDF("src", "dst")
    val capped = Graph.capDegree(edges, "src", "dst", maxDegree = 10)
      .as[(Long, Long)].collect().toSet
    // every surviving node's degree respects the cap
    val degs = capped.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size }
    assert(degs.values.forall(_ <= 10), s"cap violated: $degs")
    // the hub kept exactly maxDegree of its 200 edges (a documented
    // under-count); below-cap structure is untouched
    assert(degs(0L) == 10)
    assert(tri.toSet.subsetOf(capped))
    // deterministic: same input -> bit-identical sample
    val again = Graph.capDegree(edges, "src", "dst", maxDegree = 10)
      .as[(Long, Long)].collect().toSet
    assert(capped == again)
  }

  test("capDegree: triangleCounts and labelPropagation run capped on hubs") {
    // triangles through the hub are a sample of the full count; the
    // off-hub triangle must survive intact (its nodes are below the cap)
    val hub = (1L to 200L).map(i => (0L, i)) ++
      (1L until 200L).map(i => (i, i + 1)) // wheel rim: many hub triangles
    val tri = Seq((300L, 301L), (301L, 302L), (300L, 302L))
    val edges = (hub ++ tri).toDF("src", "dst")
    val exact = Graph.triangleCounts(edges, "src", "dst")
      .select("node", "triangles").as[(Long, Long)].collect().toMap
    val capped = Graph.triangleCounts(edges, "src", "dst", maxDegree = 10)
      .select("node", "triangles").as[(Long, Long)].collect().toMap
    // under-count, never over; exact on the untouched triangle
    capped.foreach { case (n, t) =>
      assert(t <= exact.getOrElse(n, 0L), s"node $n overcounted")
    }
    Seq(300L, 301L, 302L).foreach(n => assert(capped.get(n).contains(1L)))
    // label propagation on the capped symmetric graph completes and still
    // finds the off-hub community
    val sym = (hub ++ tri ++ (hub ++ tri).map(_.swap)).toDF("src", "dst")
    val labels = Graph.labelPropagation(sym, "src", "dst", rounds = 3,
      maxDegree = 10).as[(Long, Long)].collect().toMap
    assert(labels(300L) == labels(301L) && labels(301L) == labels(302L))
  }

  /** Independent plain-Scala fold of the seed-gated PPR recurrence. */
  private def refPpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var rank = nodes.map(n => n -> (if (seeds(n)) Scale else 0L)).toMap
    for (_ <- 1 to iters) {
      val recv = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => rank(s) / out(s) }.sum
      }
      rank = nodes.map(n => n -> ((if (seeds(n)) 150000000000L else 0L) +
        85L * recv.getOrElse(n, 0L) / 100L)).toMap
    }
    rank
  }

  private def runPpr(edges: Seq[(Long, Long)], seeds: Seq[Long],
      iters: Int): Map[Long, Long] =
    Graph.pprInt(edges.toDF("src", "dst"), "src", "dst",
      seeds.toDF("seed"), "seed", iters)
      .as[(Long, Long)].collect().toMap

  test("pprInt: rank decays with distance from the seed; off-component is 0") {
    // DIRECTED chain 1->2->3->4 with seed 1, plus a disconnected edge
    // 8->9: every out-degree is 1, so the fixed-point rank is geometric in
    // distance (r(d+1) = 85% of r(d)) and must strictly decrease along the
    // chain; off-component nodes stay exactly 0. (On an UNDIRECTED path the
    // decay claim is false — reflected mass makes the seed's sole neighbor
    // outrank the seed at the fixed point — so the directed chain is the
    // honest monotonicity witness.)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L))
    val r = runPpr(edges, Seq(1L), 6)
    assert(r(1L) > r(2L) && r(2L) > r(3L) && r(3L) > r(4L) && r(4L) > 0L)
    assert(r(8L) == 0L && r(9L) == 0L)
    assert(r == refPpr(edges, Set(1L), 6))
  }

  test("pprInt: random graphs and multi-seed sets match the fold (seeded)") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(7)
      val edges = (1 to 24).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        val pool = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val seeds = pool.take(1 + rnd.nextInt(3))
        for (iters <- Seq(0, 2, 4)) {
          assert(runPpr(edges, seeds, iters) ==
            refPpr(edges, seeds.toSet, iters),
            s"trial $trial iters=$iters seeds=$seeds edges=$edges")
        }
      }
    }
  }

  /** Independent plain-Scala fold of the Bellman-Ford relaxation. */
  private def refSssp(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      rounds: Int): Map[Long, Long] = {
    var dist: Map[Long, Long] = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = edges.flatMap { case (u, v, w) =>
        dist.get(u).map(d => v -> (d + w))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    dist
  }

  private def runSssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int): Map[Long, Long] =
    Graph.ssspInt(edges.toDF("src", "dst", "w"), "src", "dst", "w",
      seeds.toDF("seed"), "seed", rounds)
      .as[(Long, Long)].collect().toMap

  test("ssspInt: hand graph — cheaper 2-hop route beats the direct edge") {
    // 1->3 direct costs 10; 1->2->3 costs 3+4=7; node 4 is 2 hops past 3;
    // node 9 unreachable. rounds=1 must report the 1-hop truth (direct 10).
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 4L), (1L, 3L, 10L),
      (3L, 4L, 1L), (9L, 1L, 1L))
    val r1 = runSssp(edges, Seq(1L), 1)
    assert(r1(3L) == 10L && r1(2L) == 3L && !r1.contains(4L))
    val r3 = runSssp(edges, Seq(1L), 3)
    assert(r3(1L) == 0L && r3(2L) == 3L && r3(3L) == 7L && r3(4L) == 8L)
    assert(!r3.contains(9L)) // 9 reaches 1, nothing reaches 9
    assert(r3 == refSssp(edges, Set(1L), 3))
  }

  test("ssspInt: random weighted graphs match the fold; rounds monotone") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 5) {
      val n = 5 + rnd.nextInt(6)
      val edges = (1 to 20).map(_ => (rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong, 1L + rnd.nextInt(9))).distinct
        .filter { case (a, b, _) => a != b }
      if (edges.nonEmpty) {
        val seeds = Seq(edges.head._1)
        val byRound = Seq(1, 2, 4).map(r =>
          r -> runSssp(edges, seeds, r)).toMap
        for ((r, got) <- byRound)
          assert(got == refSssp(edges, seeds.toSet, r),
            s"trial $trial rounds=$r edges=$edges")
        // more rounds never worsens a distance, only adds/loosens nodes
        for ((node, d4) <- byRound(4); d2 <- byRound(2).get(node))
          assert(d4 <= d2, s"trial $trial node $node: $d4 > $d2")
      }
    }
  }

  /** Independent plain-Scala replication of the max-normalized integer
    * HITS recurrence (duplicate edges honored, like the operator). */
  private def refHits(edges: Seq[(Long, Long)], iters: Int,
      scale: Long): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val araw = nodes.map(n =>
        n -> edges.filter(_._2 == n).map(e => hub(e._1)).sum).toMap
      val amax = math.max(araw.values.max, 1L)
      auth = araw.map { case (n, v) => n -> v * scale / amax }
      val hraw = nodes.map(n =>
        n -> edges.filter(_._1 == n).map(e => auth(e._2)).sum).toMap
      val hmax = math.max(hraw.values.max, 1L)
      hub = hraw.map { case (n, v) => n -> v * scale / hmax }
    }
    nodes.map(n => n -> ((auth(n), hub(n)))).toMap
  }

  private def runHits(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Long, Long)] =
    Graph.hitsInt(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("hitsInt: bipartite star splits hubs from authorities exactly") {
    // 1,2,3 -> 10: the sources are pure hubs (score = scale, no in-edges
    // so auth 0), the sink the unique authority (scale, hub 0) — fixed
    // point with zero truncation at any iteration count
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L))
    for (iters <- Seq(1, 3, 5)) {
      val got = runHits(edges, iters)
      assert(got(10L) == ((1000000L, 0L)), s"iters=$iters")
      Seq(1L, 2L, 3L).foreach(n =>
        assert(got(n) == ((0L, 1000000L)), s"node $n iters=$iters"))
    }
  }

  test("hitsInt: shared-pointer authority outranks a single-pointer one") {
    // 1 and 2 both point at 10; 3 alone points at 11. 10 must out-score 11
    // as an authority, and the argmax authority sits exactly at scale
    val got = runHits(Seq((1L, 10L), (2L, 10L), (3L, 11L)), 3)
    assert(got(10L)._1 == 1000000L)
    assert(got(11L)._1 < got(10L)._1 && got(11L)._1 > 0L)
    assert(got == refHits(Seq((1L, 10L), (2L, 10L), (3L, 11L)), 3, 1000000L))
  }

  test("hitsInt: random directed graphs match the reference fold (seeded)") {
    val rnd = new scala.util.Random(19)
    for (trial <- 1 to 6) {
      val n = 5 + rnd.nextInt(8)
      val edges = (1 to 25).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      if (edges.nonEmpty) {
        for (iters <- Seq(1, 3)) {
          assert(runHits(edges, iters) == refHits(edges, iters, 1000000L),
            s"trial $trial iters=$iters edges=$edges")
        }
      }
    }
  }

  test("degrees: out/in/total per node, destination-only nodes included") {
    val got = Graph.degrees(
        Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((2L, 0L, 2L)),
      2L -> ((1L, 1L, 2L)),
      3L -> ((0L, 2L, 2L))))
  }

  test("bfsLevels: path graph levels, horizon cut, unreached absent") {
    // undirected path 1-2-3-4-5 (both directions listed)
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("seed")
    val got = Graph.bfsLevels(e, "src", "dst", seeds, "seed", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4, 5 beyond horizon
  }

  test("bfsLevels: diamond admits each node once at its minimum hop") {
    val fwd = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val e = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val rows = Graph.bfsLevels(e, "src", "dst",
        Seq(1L).toDF("seed"), "seed", rounds = 4)
      .as[(Long, Long)].collect()
    assert(rows.length == rows.map(_._1).distinct.length) // once per node
    assert(rows.toMap ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
  }

  test("bfsLevels: multi-seed frontier takes the nearer seed") {
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val e = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val got = Graph.bfsLevels(e, "src", "dst",
        Seq(1L, 5L).toDF("seed"), "seed", rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got ==
      Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("cascade: square + pendant — threshold gate, chain round, no spread past it") {
    // square 1-2-3-4, pendant 5 on 2, node 6 hanging off 2 and 4.
    // seeds {1, 3} (opposite corners): round 1 activates 2 and 4 (two
    // active neighbors each), round 2 activates 6 (2 and 4 now active);
    // 5 never activates (one neighbor < threshold 2)
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 5L),
      (6L, 2L), (6L, 4L))
    val e = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val got = Graph.cascade(e, "src", "dst", Seq(1L, 3L).toDF("seed"),
        "seed", threshold = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 3L -> 0L, 2L -> 1L, 4L -> 1L, 6L -> 2L))
  }

  /** Independent replication of the hash neighbor pick: first 8 md5 hex
    * chars of "walk|step" as a long, mod out-degree, 1-based index into
    * the dst-sorted adjacency list — plain Scala, no Spark. */
  private def refWalks(edges: Seq[(Long, Long)], seeds: Seq[Long],
      steps: Int): Seq[(Long, Long, Long)] = {
    val adj = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).sorted }
    def pick(walk: Long, step: Int, deg: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$walk|$step".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % deg).toInt
    }
    seeds.flatMap { w =>
      var node = w
      (w, 0L, node) +: (1 to steps).flatMap { st =>
        adj.get(node) match {
          case Some(ns) =>
            node = ns(pick(w, st, ns.size))
            Some((w, st.toLong, node))
          case None => None // walk dies at a sink
        }
      }
    }
  }

  test("randomWalks: paths match the independent hash replication") {
    // undirected triangle with a tail, plus a directed sink branch
    val fwd = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val sym = fwd ++ fwd.map(_.swap)
    val edges = sym :+ ((4L, 9L)) // 9 has no out-edges: walks die there
    val seeds = Seq(1L, 2L, 4L)
    val got = Graph.randomWalks(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("wid").select(col("wid"), col("wid").as("nd")),
        "wid", "nd", steps = 5)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got == refWalks(edges, seeds, 5).sorted)
    // each surviving walk advances exactly one step at a time
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted == (0L until rows.size.toLong))
    }
  }

  test("anfReach: non-full sketches report the exact r-hop reach") {
    // path 1-2-3-4-5 plus isolated pair 8-9: with k well above the graph
    // size every sketch stays non-full, so reach_est must BE the exact
    // |ball(v, r)| — propagation, dedup and the self-inclusion all pinned.
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
    val sym = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val got = Graph.anfReach(sym, "src", "dst", k = 64, rounds = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    val exact = Map(1L -> 3L, 2L -> 4L, 3L -> 5L, 4L -> 4L, 5L -> 3L,
      8L -> 2L, 9L -> 2L)
    assert(got == exact)
    // multiplicity invariance: doubling the edge list changes nothing
    // (bottom-k union is idempotent)
    val dbl = Graph.anfReach(sym.union(sym), "src", "dst",
        k = 64, rounds = 2)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(dbl == exact)
  }

  test("anfReach: full sketch uses the KMV estimator, never exceeds k") {
    // star: hub 0 joined to 1..40 — the hub's 1-hop ball is 41 nodes,
    // far beyond k = 8, so its sketch saturates and the estimate must be
    // the KMV formula over the 8 smallest node hashes.
    val fwd = (1L to 40L).map(i => (0L, i))
    val sym = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val rows = Graph.anfReach(sym, "src", "dst", k = 8, rounds = 1)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(rows(0L)._1 == 8L)
    val est = rows(0L)._2
    // KMV is an unbiased estimator; for 41 distinct hashes it must land
    // within a loose constant factor (deterministic given md5)
    assert(est > 10.0 && est < 200.0, s"est=$est")
    // leaves see {self, hub} only
    assert(rows(7L) == ((2L, 2.0)))
  }

  /** Reference MST weight by Kruskal over the canonical edge list. */
  private def kruskalWeight(edges: Seq[(Long, Long, Long)]): Long = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var total = 0L
    for ((a, b, w) <- edges.sortBy(e => (e._3, e._1, e._2))) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; total += w }
    }
    total
  }

  test("boruvkaForest: enough rounds yield the exact MST weight") {
    // two components with distinct-weight edges (unique MST): a 6-node
    // weighted path with shortcut edges, plus a 4-cycle with one heavy
    // closing edge that must be excluded
    val edges = Seq(
      (1L, 2L, 4L), (2L, 3L, 1L), (3L, 4L, 7L), (4L, 5L, 2L),
      (5L, 6L, 9L), (1L, 3L, 12L), (2L, 5L, 20L), (3L, 6L, 3L),
      (10L, 11L, 5L), (11L, 12L, 6L), (12L, 13L, 8L), (13L, 10L, 30L))
    val df = edges.toDF("src", "dst", "w")
    val got = Graph.boruvkaForest(df, "src", "dst", "w", rounds = 4)
      .as[(Long, Long, Long)].collect().toSeq
    // a spanning forest of the two components: n - #components edges
    assert(got.size == 10 - 2)
    assert(got.map(_._3).sum == kruskalWeight(edges))
    // cycle-free: Kruskal over the forest itself keeps every edge
    assert(kruskalWeight(got) == got.map(_._3).sum)
    // fixed-round prefix property: 1 round selects a sub-forest of it
    val r1 = Graph.boruvkaForest(df, "src", "dst", "w", rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1.subsetOf(got.toSet))
  }

  test("boruvkaForest: under-converged merge labels fail loudly") {
    // a 12-node path with increasing weights: round 1 selects every path
    // edge (node i+1's cheapest incident edge is e_i), so the merge label
    // pass runs over a diameter-11 path — labelRounds = 1 cannot converge
    // and the fixed-point guard must throw instead of silently carrying
    // wrong component labels into round 2
    val path = (1L to 11L).map(i => (i, i + 1, i))
    val df = path.toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      Graph.boruvkaForest(df, "src", "dst", "w", rounds = 2, labelRounds = 1)
    }
    assert(ex.getMessage.contains("still changing"))
    // labelRounds >= diameter converges and yields the exact (unique) MST
    val ok = Graph.boruvkaForest(df, "src", "dst", "w", rounds = 2,
        labelRounds = 16)
      .as[(Long, Long, Long)].collect().toSeq
    assert(ok.size == 11 && ok.map(_._3).sum == kruskalWeight(path))
  }

  test("randomWalks: structural out-degree cap bounds hub fan-out") {
    // directed hub: 0 -> 1..100, every leaf loops back so walks survive.
    // With maxDegree = 4 the operator itself must sample 4 deterministic
    // out-edges at the hub — across 64 walks, step 1 lands on at most 4
    // distinct leaves; no caller-side capDegree involved.
    val edges = ((1L to 100L).map(h => (0L, h)) ++
      (1L to 100L).map(h => (h, 0L))).toDF("src", "dst")
    val seeds = (1L to 64L).map(w => (w, 0L)).toDF("wid", "nd")
    def run() = Graph.randomWalks(edges, "src", "dst", seeds, "wid", "nd",
        steps = 2, maxDegree = 4)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val got = run()
    val step1 = got.filter(_._2 == 1L).map(_._3).distinct
    assert(step1.nonEmpty && step1.size <= 4, s"fanout=${step1.size}")
    // every walk advances 0, 1, 2 (leaves loop back, no walk dies)
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted == Seq(0L, 1L, 2L))
    }
    // the capped sample is a pure md5 function — bit-stable across runs
    assert(run() == got)
  }

  test("labelPropagation: audit column reports last-round label movement") {
    // 8-node path, rounds = 2: labels are still flowing (the path needs
    // ~n rounds), so the audit must report movement in the final round —
    // and the default (audit = false) schema stays (node, label)
    val fwd = (1L to 7L).map(i => (i, i + 1))
    val sym = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val audited = Graph.labelPropagation(sym, "src", "dst", rounds = 2,
      audit = true)
    assert(audited.columns.toSeq ==
      Seq("node", "label", "changed_last_round"))
    val moved = audited.agg(sum("changed_last_round")).as[Long].head()
    assert(moved > 0L, s"expected label movement on a path, got $moved")
    assert(Graph.labelPropagation(sym, "src", "dst", rounds = 2)
      .columns.toSeq == Seq("node", "label"))
  }

  test("betweennessSampled: exact Brandes values on a path graph") {
    // path 1-2-3-4-5, all nodes as pivots, depth covers the diameter:
    // sigma = 1 on every pair, so bc_micro = 1e6 x (ordered source/target
    // pairs brokered): node 3 carries {1,2}x{4,5} both ways = 8, nodes
    // 2/4 carry 6; endpoints broker nothing and must be absent
    val fwd = (1L to 4L).map(i => (i, i + 1))
    val sym = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val seeds = (1L to 5L).toDF("seed")
    val got = Graph.betweennessSampled(sym, "src", "dst", seeds, "seed",
        rounds = 4)
      .select("node", "n_sources", "bc_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got == Map(
      2L -> ((4L, 6000000L)),
      3L -> ((4L, 8000000L)),
      4L -> ((4L, 6000000L))))
  }

  test("betweennessSampled: star center brokers every leaf pair") {
    // star: center 0, leaves 1..4; every leaf pair's only path crosses 0.
    // Pivot at every node: each leaf source contributes (SCALE + 0) per
    // of the 3 other leaves -> bc(0) = 4 sources x 3e6 = 12e6
    val fwd = (1L to 4L).map(i => (0L, i))
    val sym = (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
    val seeds = (0L to 4L).toDF("seed")
    val got = Graph.betweennessSampled(sym, "src", "dst", seeds, "seed",
        rounds = 2)
      .select("node", "bc_micro").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 12000000L))
  }

  test("temporalReach: blocks backward-in-time paths, takes earliest arrival") {
    import spark.implicits._
    // a->b @5, b->c @3 (backwards: statically reachable, temporally NOT),
    // b->d @7 (legal continuation)
    val e1 = Seq((1L, 2L, 5L), (2L, 3L, 3L), (2L, 4L, 7L))
      .toDF("src", "dst", "t")
    val seeds = Seq(1L).toDF("seed")
    val got = Graph.temporalReach(e1, "src", "dst", "t", seeds, "seed",
      rounds = 2).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 4L -> 7L), got.toString)
    // a parallel earlier edge a->b @2 unblocks b->c @3, and arrival(b)
    // takes the MIN over incoming legal edges
    val e2 = e1.unionAll(Seq((1L, 2L, 2L)).toDF("src", "dst", "t"))
    val got2 = Graph.temporalReach(e2, "src", "dst", "t", seeds, "seed",
      rounds = 2).as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 7L),
      got2.toString)
  }

  test("pageRankInt equals pprInt with every node a seed, at any scale") {
    // 10 -> 20 is a dangling source (teleport only); 30 fans out to 12
    // nodes, so at scale 10 its contributions floor to 0, and at scale 3
    // the teleport itself is 0 and zero ranks occur
    val edges = Seq((10L, 20L), (20L, 30L), (101L, 30L)) ++
      (1L to 12L).map(n => (30L, 100L + n))
    val df = edges.toDF("src", "dst")
    val all = edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("seed")
    for (scale <- Seq(Scale, 10L, 3L); iters <- Seq(0, 1, 4, 9)) {
      val pr = Graph.pageRankInt(df, "src", "dst", iters, scale)
        .as[(Long, Long)].collect().toMap
      val ppr = Graph.pprInt(df, "src", "dst", all, "seed", iters, scale)
        .as[(Long, Long)].collect().toMap
      assert(pr == ppr, s"scale=$scale iters=$iters")
      if (scale == 3L && iters > 0) assert(pr(10L) == 0L, pr.toString)
    }
  }

  test("ktruss at k = 3 keeps every triangle: supports sum as triangleCounts' (seeded)") {
    // every edge closing a triangle has support >= 1, so the k = 3 peel
    // keeps all triangles, and each triangle lands on its 3 edges just as
    // triangleCounts lands it on its 3 nodes
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 6) {
      val n = 6 + rnd.nextInt(7)
      val edges = (for (a <- 1L to n; b <- a + 1 to n
        if rnd.nextDouble() < 0.45)
        yield if (rnd.nextBoolean()) (a, b) else (b, a)).toSeq
      if (edges.nonEmpty) {
        val df = edges.toDF("src", "dst")
        val sup = Graph.ktruss(df, "src", "dst", k = 3, rounds = 2)
          .agg(coalesce(sum("support"), lit(0L))).as[Long].head()
        val tri = Graph.triangleCounts(df)
          .agg(coalesce(sum("triangles"), lit(0L))).as[Long].head()
        assert(sup == tri && tri == refTriangles(edges).values.sum,
          s"trial $trial edges=$edges")
      }
    }
  }

  test("one co-order graph builder and one BIGINT edge intake in the source") {
    // comments do not count (string literals are matched only so that a
    // comment marker inside one stays code)
    val commentOrString =
      """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*""".r
    def code(file: String): String = commentOrString.replaceAllIn(
      java.nio.file.Files.readString(java.nio.file.Paths.get(file)),
      m => if (m.matched.startsWith("/")) ""
        else java.util.regex.Matcher.quoteReplacement(m.matched))
    def count(file: String, needle: String): Int =
      java.util.regex.Pattern.quote(needle).r.findAllIn(code(file)).size
    assert(count("src/main/scala/graft/catalog/GraphQueries.scala",
      "% 5 === 0") == 1)
    assert(count("src/main/scala/graft/ops/Graph.scala",
      """col(srcCol).cast("long").as("src")""") == 1)
  }
}

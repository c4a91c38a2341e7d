package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph
import graft.queries.Graphs

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank on a regular graph is uniform (triangle stays at 1.0)") {
    // every node of a regular undirected graph has identical in/out mass,
    // so r=1 is the fixed point at any damping
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "d")
    val out = Graph.pageRank(edges, "s", "d", iterations = 5)
      .as[(String, Double)].collect().toMap
    assert(out.keySet == Set("a", "b", "c"))
    out.values.foreach(v => assert(math.abs(v - 1.0) < 1e-12))
  }

  test("pageRank conserves total mass on undirected graphs") {
    // undirected => no dangling nodes => sum(pr) == |V| every iteration
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "e"))
      .toDF("s", "d")
    val pr = Graph.pageRank(edges, "s", "d", iterations = 4)
    val total = pr.agg(sum("pr")).head().getDouble(0)
    assert(math.abs(total - 5.0) < 1e-9, s"mass drifted: $total")
  }

  test("pageRank ranks the hub of a star graph highest") {
    val edges = Seq(("hub", "s1"), ("hub", "s2"), ("hub", "s3"), ("hub", "s4"))
      .toDF("s", "d")
    val out = Graph.pageRank(edges, "s", "d", iterations = 3)
      .as[(String, Double)].collect().toMap
    val spokes = out.filter(_._1 != "hub").values
    assert(spokes.forall(out("hub") > _))
    // spokes are symmetric => identical ranks
    assert(spokes.toSet.size == 1)
  }

  test("pageRank one directed iteration matches the hand formula") {
    // a->b, a->c, b->c directed; deg(a)=2, deg(b)=1; c is dangling (mass
    // leaks by design, documented). After 1 iter from r0=1:
    // r(a) = 0.15 (no in-edges)
    // r(b) = 0.15 + 0.85 * (1/2)         = 0.575
    // r(c) = 0.15 + 0.85 * (1/2 + 1/1)   = 1.425
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("s", "d")
    val out = Graph.pageRank(edges, "s", "d", iterations = 1,
      undirected = false).as[(String, Double)].collect().toMap
    assert(math.abs(out("a") - 0.15) < 1e-12)
    assert(math.abs(out("b") - 0.575) < 1e-12)
    assert(math.abs(out("c") - 1.425) < 1e-12)
  }

  test("hits one iteration matches the hand formula") {
    // a->x, b->x, c->x, a->y. h0=1 everywhere:
    // a1_raw: x=3, y=1 -> L1: auth(x)=0.75, auth(y)=0.25
    // h1_raw: a=0.75+0.25=1.0, b=0.75, c=0.75 -> total 2.5
    //   -> hub(a)=0.4, hub(b)=hub(c)=0.3
    val edges = Seq(("a", "x"), ("b", "x"), ("c", "x"), ("a", "y")).toDF("s", "d")
    val out = Graph.hits(edges, "s", "d", iterations = 1)
      .as[(String, Double, Double)].collect()
      .map { case (n, a, h) => n -> ((a, h)) }.toMap
    assert(out("x") == ((0.75, 0.0)))
    assert(out("y") == ((0.25, 0.0)))
    assert(out("a") == ((0.0, 0.4)))
    assert(out("b") == ((0.0, 0.3)))
    assert(out("c") == ((0.0, 0.3)))
  }

  test("hits scores stay L1-normalized across iterations") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("s", "d")
    val out = Graph.hits(edges, "s", "d", iterations = 3)
    val Array(sa, sh) = out.agg(sum("auth"), sum("hub")).head()
      .toSeq.map(_.asInstanceOf[Double]).toArray
    assert(math.abs(sa - 1.0) < 1e-6 && math.abs(sh - 1.0) < 1e-6)
  }

  test("labelPropagation converges a triangle to one community") {
    // r1: a adopts min(b,c)=b; b and c adopt a. r2: everything is 'a'.
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "d")
    val out = Graph.labelPropagation(edges, "s", "d", iterations = 2)
      .as[(String, String)].collect().toMap
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("labelPropagation keeps disjoint components in separate communities") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("y", "z"))
      .toDF("s", "d")
    val out = Graph.labelPropagation(edges, "s", "d", iterations = 3)
      .as[(String, String)].collect().toMap
    val left = Set("a", "b", "c").map(out)
    val right = Set("x", "y", "z").map(out)
    assert(left.forall(Set("a", "b", "c")), s"labels crossed: $out")
    assert(right.forall(Set("x", "y", "z")), s"labels crossed: $out")
  }

  test("triangleCounts: K4 minus an edge, robust to duplicates/reversals") {
    // vertices a,b,c,d; edges ab,ac,ad,bc,bd (cd missing) → triangles
    // abc and abd: a:2 b:2 c:1 d:1. Reversed + duplicate edges and a
    // self-loop must not change anything.
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("b", "d"), ("c", "c"))
      .toDF("s", "d")
    val out = Graph.triangleCounts(edges, "s", "d")
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> 2L, "b" -> 2L, "c" -> 1L, "d" -> 1L))
    // triangle-free graph (a 4-cycle) → empty output
    val square = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("s", "d")
    assert(Graph.triangleCounts(square, "s", "d").count() == 0)
    // numeric ids canonicalize in STRING order ("10" < "9") — the
    // documented contract the cross-engine oracle replays
    val num = Seq((9L, 10L), (9L, 11L), (10L, 11L)).toDF("s", "d")
    val numOut = Graph.triangleCounts(num, "s", "d")
      .as[(String, Long)].collect().toMap
    assert(numOut == Map("9" -> 1L, "10" -> 1L, "11" -> 1L))
  }

  test("personalizedPageRank: hand-computed walk, zero off-component") {
    // path a-b-c plus a disconnected x-y; seed {a}, 2 iterations:
    // r1 = (0.15, 0.85, 0); r2(a) = 0.15 + 0.85*(0.85/2) = 0.51125,
    // r2(b) = 0.85*0.15 = 0.1275, r2(c) = 0.85*(0.85/2) = 0.36125
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("s", "d")
    val out = Graph.personalizedPageRank(edges, "s", "d", Seq("a"),
        iterations = 2)
      .as[(String, Double)].collect().toMap
    def r6(v: Double) = math.rint(v * 1e6) / 1e6
    assert(r6(out("a")) == 0.51125)
    assert(r6(out("b")) == 0.1275)
    assert(r6(out("c")) == 0.36125)
    // teleport never reaches the disconnected component
    assert(out("x") == 0.0 && out("y") == 0.0)
    // multi-seed: teleport splits 1/|S|; symmetric seeds tie exactly
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("s", "d")
    val two = Graph.personalizedPageRank(tri, "s", "d", Seq("a", "c"),
        iterations = 3)
      .as[(String, Double)].collect().toMap
    assert(two("a") == two("c") && two("a") > two("b"))
  }

  test("twoHopNeighborhood: path and triangle-with-pendant, dup/reversal-proof") {
    // path a-b-c-d (with a duplicate and a reversed edge thrown in)
    val path = Seq(("a", "b"), ("b", "c"), ("c", "b"), ("c", "d"), ("c", "d"))
      .toDF("s", "d")
    val got = Graph.twoHopNeighborhood(path, "s", "d")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == Map("a" -> (1L, 2L), "b" -> (2L, 3L),
      "c" -> (2L, 3L), "d" -> (1L, 2L)))
    // K3 plus pendant d-a: everyone reaches everyone within 2 hops
    val k3p = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("d", "a"))
      .toDF("s", "d")
    val got2 = Graph.twoHopNeighborhood(k3p, "s", "d")
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got2 == Map("a" -> (3L, 3L), "b" -> (2L, 3L),
      "c" -> (2L, 3L), "d" -> (1L, 3L)))
  }

  // q_triangles / q_assoc_rules stay tractable ONLY because support
  // pruning shrinks the co-purchase pair graph before the wedge /
  // rule-expansion stages (unpruned = the documented 30 s wedge
  // explosion, ARCHITECTURE §5). Pin the mechanism adversarially so a
  // future threshold change can't silently reintroduce the blow-up:
  // inflate BASKET SIZES with globally-unique filler parts — the raw
  // within-basket pair count grows quadratically in basket size, but
  // every filler pair has support 1, so the support-≥2 edge set must
  // stay EXACTLY the planted hot pairs, independent of inflation.
  test("support pruning caps the co-purchase pair graph under basket inflation") {
    val nOrders = 40
    val hot = Seq("h1", "h2", "h3") // planted in every order: 3 hot pairs
    def sets(fill: Int) = (0 until nOrders).map { o =>
      // filler ids globally unique across ALL orders → no filler pair
      // can reach support 2, deterministically (no randomness needed)
      o.toLong -> (hot ++ (0 until fill).map(j => f"u${o * fill + j}%06d"))
        .sorted
    }.toDF("l_orderkey", "ps")
    def prunedCount(fill: Int): Long =
      Graphs.supportPrunedPairs(sets(fill), 2).count()
    def rawCount(fill: Int): Long = { // the explosion the pruning absorbs
      val b = hot.size + fill
      nOrders.toLong * b * (b - 1) / 2
    }
    val at0 = prunedCount(0)
    assert(at0 == 3, s"expected exactly the 3 planted hot pairs, got $at0")
    for (fill <- Seq(8, 32)) {
      assert(prunedCount(fill) == 3,
        s"support-pruned edges grew under ×$fill basket inflation")
    }
    // the adversarial premise is real: raw pairs grew ~120× while the
    // pruned edge set stayed flat
    assert(rawCount(32) > 100 * rawCount(0))

    // the TRIPLE level (q_itemsets3) is guarded the same way: baskets
    // are filtered to pair-frequent items before the cubic expansion,
    // so the CANDIDATE count (pre-support-count) is exactly
    // nOrders × C(3,3) = nOrders — flat under inflation — while the
    // unpruned expansion would be nOrders × C(3+fill, 3)
    def tripleCandidates(fill: Int): Long =
      Graphs.aprioriTripleCandidates(sets(fill), 2).count()
    def rawTriples(fill: Int): Long = {
      val b = hot.size.toLong + fill
      nOrders.toLong * b * (b - 1) * (b - 2) / 6
    }
    for (fill <- Seq(0, 8, 32)) {
      assert(tripleCandidates(fill) == nOrders.toLong,
        s"triple candidates grew under ×$fill basket inflation")
    }
    // ~1000× raw blow-up absorbed at fill=32 (C(35,3)=6545 vs C(3,3)=1)
    assert(rawTriples(32) > 1000 * rawTriples(0))
  }

  // the deg² wedge frontier is the scale killer on skewed graphs; the
  // maxDegree cap must keep it LINEAR by excluding hubs from the middle
  // role — planted hub: "m" bridges nb below-spokes and na above-spokes,
  // so every a<m<z wedge pivots on the hub
  test("maxDegree hub cap keeps the wedge frontier linear on a planted hub") {
    val nb = 20
    val below = (0 until nb).map(i => (f"a$i%02d", "m"))
    val above = (0 until nb).map(i => ("m", f"z$i%02d"))
    val edges = (below ++ above).toDF("s", "d")
    val e = Graph.canonicalUndirected(edges, "s", "d")
    // uncapped: nb×nb hub-middle wedges (the quadratic frontier)
    assert(Graph.wedges(e, Int.MaxValue).count() == nb.toLong * nb)
    // capped below the hub degree (2·nb): spokes have degree 1, hub is
    // excluded from the middle role -> zero wedges, frontier collapses
    assert(Graph.wedges(e, nb).count() == 0L)
    // a cap ABOVE every degree changes nothing (exactness preserved)
    assert(Graph.wedges(e, 3 * nb).count() == nb.toLong * nb)

    // triangleCounts: hub-median triangles are the ones dropped. K3
    // {a,m,z} + the star: uncapped counts the triangle at all 3 vertices;
    // capped at deg<=2 drops it (median m is a hub), exactness above cap
    val tri = edges.union(Seq(("a00", "z00")).toDF("s", "d"))
    val uncapped = Graph.triangleCounts(tri, "s", "d")
      .as[(String, Long)].collect().toMap
    assert(uncapped == Map("a00" -> 1L, "m" -> 1L, "z00" -> 1L))
    assert(Graph.triangleCounts(tri, "s", "d", maxDegree = nb).count() == 0L)
    assert(Graph.triangleCounts(tri, "s", "d", maxDegree = 3 * nb)
      .as[(String, Long)].collect().toMap == uncapped)

    // twoHopNeighborhood: hub-mediated reach is dropped, hub keeps its
    // own row, direct edges unaffected. Star only: uncapped spokes see
    // all 2·nb-1 others + hub via 2 hops... capped at 1 they see only m
    val star = edges
    val capped = Graph.twoHopNeighborhood(star, "s", "d", maxDegree = 1)
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(capped("m") == (2L * nb, 2L * nb)) // hub row intact
    assert(capped("a00") == (1L, 1L)) // no hub-routed expansion
    val full = Graph.twoHopNeighborhood(star, "s", "d")
      .as[(String, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(full("a00") == (1L, 2L * nb)) // hub + the 2nb-1 other spokes
  }

  test("kCore: planted triangle survives a 2-core peel, tails peel away") {
    import spark.implicits._
    // triangle a-b-c, tail c-d-e: round 1 drops e (deg 1), round 2 drops
    // d (its degree fell to 1 when e left), round 3 is stable
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"))
      .toDF("s", "d")
    val core = Graph.kCore(edges, "s", "d", k = 2, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(core == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    // one round is NOT enough — d still present (cascade not yet seen)
    val r1 = Graph.kCore(edges, "s", "d", k = 2, rounds = 1)
      .as[(String, Long)].collect().toMap
    assert(r1.keySet == Set("a", "b", "c", "d"))
  }

  test("kCore: 3 rounds reach the fixpoint on the co-purchase graph") {
    val edges = Graphs.supportPrunedPairs(
      Graphs.copurchaseSets(spark, sf), 2).select("u", "v")
    def run(r: Int) = Graph.kCore(edges, "u", "v", k = 2, rounds = r)
      .orderBy("vertex").collect().toSeq
    val r3 = run(3)
    assert(r3 == run(6), "q_kcore's fixed 3 rounds stopped short of the fixpoint")
    assert(r3.nonEmpty) // the oracle comparison must not be vacuous
  }

  test("modularity: two planted cliques joined by one bridge score high Q") {
    import spark.implicits._
    // K4 ∪ K4 + a single bridge (m = 13): label propagation finds the
    // cliques; hand-computed Newman Q for that partition is
    // 2·(6/13 − (13/26)²) = 12/13 − 1/2 ≈ 0.423077 — strong communities
    val cliqueA = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"a$i", s"a$j")
    val cliqueB = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"b$i", s"b$j")
    val edges = (cliqueA ++ cliqueB :+ ("a1", "b1")).toDF("src", "dst")
    val labels = Graph.labelPropagation(edges, "src", "dst", iterations = 3)
    val byLabel = labels.groupBy("label").count().collect()
    assert(byLabel.length == 2, s"expected 2 communities, got ${byLabel.toSeq}")
    // modularity of that partition, replicated with the q_modularity
    // aggregates: e_in per community / m, degree sums
    val m = 13.0
    val l = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val withinEdges = (cliqueA ++ cliqueB :+ (("a1", "b1")))
      .count { case (u, v) => l(u) == l(v) }
    assert(withinEdges == 12, "only the bridge may cross communities")
    // per-community degree sums: clique 6·2+... compute directly
    val deg = (cliqueA ++ cliqueB :+ (("a1", "b1")))
      .flatMap { case (u, v) => Seq(u, v) }.groupBy(identity)
      .map { case (n, xs) => n -> xs.size }
    val q = l.values.toSet.toSeq.map { c: String =>
      val eIn = (cliqueA ++ cliqueB).count {
        case (u, v) => l(u) == c && l(v) == c }
      val dSum = deg.collect { case (n, d) if l(n) == c => d }.sum
      eIn / m - math.pow(dSum / (2 * m), 2)
    }.sum
    assert(math.abs(q - (12.0 / 13 - 0.5)) < 1e-9,
      s"hand Q for the clique partition: $q")
  }
}

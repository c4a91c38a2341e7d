package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Graph

/** The graph query family: the co-purchase graph of parts sharing an
  * order (triangles, two-hop reach, association rules, frequent
  * itemsets, item-to-item CF, cross-sell), the supplier-part and
  * supplier-customer graphs (PageRank, HITS, label propagation, k-core,
  * modularity, assortativity) and the fuzzy string joins (edit distance,
  * Jaro-Winkler). Membership rule: a query whose result is computed over
  * an edge set (pairs of keys), built here from lineitem or from string
  * similarity. */
object Graphs extends QueryFamily {

  /** Per-order DISTINCT part sets for the co-purchase queries
    * (q_triangles, q_assoc_rules) — ONE lineitem scan + one shuffle;
    * derive counts/pairs from this so the exchange is reused instead of
    * re-scanning per branch. Parts as sorted STRINGS: the pair order
    * (and Graph.triangleCounts' canonicalization) is lexicographic,
    * replayed by the oracles' VARCHAR comparisons. */
  private[graft] def copurchaseSets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey").cast("string")))
        .as("ps"))

  /** Within-order pairs of a sorted set column `ps`, support-counted and
    * pruned — the single definition of the slice(i+2) pair expression
    * and the support threshold both co-purchase queries share. */
  private[graft] def supportPrunedPairs(sets: DataFrame, minSupport: Int): DataFrame =
    sets.select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), " +
          "y -> struct(x AS u, y AS v))))")).as("pr"))
      .groupBy(col("pr.u").as("u"), col("pr.v").as("v"))
      .agg(count(lit(1)).as("sup_ab"))
      .filter(col("sup_ab") >= minSupport)

  /** Apriori-pruned within-order TRIPLE candidates: baskets are first
    * filtered to items that appear in some support-`minSupport` pair
    * (every sub-pair of a frequent triple is frequent, so the filter
    * drops no qualifying triple and adds none — surviving triples are
    * counted over exactly the same baskets), THEN the cubic expansion
    * runs on the shrunken arrays. A large-basket corpus can't go cubic
    * on filler items the pair screen already rejected: candidate count
    * is C(freq-items-in-basket, 3) per basket, not C(|basket|, 3).
    * The item screen is a semi-join (AQE broadcasts the pruned item
    * set when small), not a driver-side collect. */
  private[graft] def aprioriTripleCandidates(sets: DataFrame, minSupport: Int): DataFrame = {
    val freqItems = supportPrunedPairs(sets, minSupport)
      .select(explode(array(col("u"), col("v"))).as("item")).distinct()
    sets.select(col("l_orderkey"), explode(col("ps")).as("item"))
      .join(freqItems, Seq("item"), "left_semi")
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("item"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "flatten(transform(slice(ps, i + 2, size(ps)), (y, j) -> " +
          "transform(slice(ps, i + j + 3, size(ps)), " +
          "z -> struct(x AS a, y AS b, z AS c))))))")).as("t"))
      .select("t.a", "t.b", "t.c")
  }

  /** A lineitem supplier's node id, "s" + its key, as `src`. */
  private def supplierNode: Column = concat(lit("s"), col("l_suppkey")).as("src")

  /** The supplier-part graph: lineitem's distinct (supplier, part) pairs
    * as `src` → `dst` node ids, the part's "p" + its key. The pair dedup
    * runs on the int keys; the injective prefixes keep the rendered edges
    * distinct (the `dedupEdges = false` contract). */
  private def supplierPartEdges(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey")).distinct()
      .select(supplierNode, concat(lit("p"), col("l_partkey")).as("dst"))

  /** `supplierPartEdges` in DuckDB SQL. */
  private val supplierPartEdgesSql =
    "SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM lineitem"

  protected val paired: Seq[(String, Paired)] = Seq(

    // ---- The co-purchase graph ----

    // triangle counting on the co-purchase part graph (parts sharing an
    // order are linked): ordered edge-iterator — wedges by middle-vertex
    // equi-join, closed by a semi-join, each triangle counted once via
    // x<y<z. Edges are SUPPORT-PRUNED to pairs co-purchased ≥2 times —
    // the market-basket sparsification that bounds the wedge count
    // (Σ deg²): the raw singleton graph at sf0.1 has 1.2M edges and
    // hub degrees in the hundreds (a ~30 s wedge explosion); pruning
    // keeps ~3.6k meaningful edges. Canonical order is STRING order
    // (the operator's node-id domain); the oracle replays the same
    // VARCHAR least/greatest.
    "q_triangles" -> Paired((s, dir) => {
      // pair generation as ONE aggregation (copurchaseSets): collect the
      // order's distinct part set, emit its within-array pairs map-side
      // — replaces the self-join formulation (two scans + two distinct
      // shuffles + broadcast build over 600k rows) with a single groupBy
      // plus the pair-key shuffle
      val pairs = supportPrunedPairs(copurchaseSets(s, dir), 2)
      graft.operators.Graph.triangleCounts(pairs, "u", "v")
        .orderBy(col("n_triangles").desc, col("vertex").asc)
        .limit(50)
    },
      // same lexicographic canonicalization (VARCHAR least/greatest),
      // support-≥2 edge pruning, wedge join, and EXISTS closure
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pr AS (
           SELECT CAST(a.l_partkey AS VARCHAR) AS u,
                  CAST(b.l_partkey AS VARCHAR) AS v
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
           GROUP BY u, v HAVING count(*) >= 2),
         e AS (SELECT DISTINCT LEAST(u, v) AS lo, GREATEST(u, v) AS hi
               FROM pr WHERE u <> v),
         w AS (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
               FROM e e1 JOIN e e2 ON e2.lo = e1.hi),
         t AS (SELECT x, y, z FROM w
               WHERE EXISTS (SELECT 1 FROM e
                             WHERE e.lo = w.x AND e.hi = w.z)),
         vx AS (SELECT unnest([x, y, z]) AS vertex FROM t)
         SELECT vertex, count(*) AS n_triangles FROM vx
         GROUP BY vertex
         ORDER BY n_triangles DESC, vertex ASC LIMIT 50"""),

    // 1-hop/2-hop reachability profile over the same support-pruned
    // co-purchase graph as q_triangles (pruning is what bounds the
    // wedge-shaped 2-hop frontier, pinned by GraphSpec)
    "q_two_hop" -> Paired((s, dir) => {
      val pairs = supportPrunedPairs(copurchaseSets(s, dir), 2)
      graft.operators.Graph.twoHopNeighborhood(pairs, "u", "v")
        .orderBy(col("n_2hop").desc, col("vertex").asc)
        .limit(50)
    },
      // same support-≥2 pair CTE as q_triangles; adjacency symmetrized,
      // 2-hop via one self-join, distinct counts
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pr AS (
           SELECT CAST(a.l_partkey AS VARCHAR) AS u,
                  CAST(b.l_partkey AS VARCHAR) AS v
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                              AND a.l_partkey < b.l_partkey
           GROUP BY u, v HAVING count(*) >= 2),
         adj AS (SELECT u AS s, v AS d FROM pr WHERE u <> v
                 UNION SELECT v, u FROM pr WHERE u <> v),
         two AS (SELECT a.s AS s, b.d AS d
                 FROM adj a JOIN adj b ON a.d = b.s
                 WHERE a.s <> b.d),
         reach AS (SELECT s, d FROM adj UNION SELECT s, d FROM two),
         h1 AS (SELECT s, count(*) AS n_1hop FROM adj GROUP BY s),
         h2 AS (SELECT s, count(*) AS n_2hop FROM reach GROUP BY s)
         SELECT h1.s AS vertex, h1.n_1hop AS n_1hop, h2.n_2hop AS n_2hop
         FROM h1 JOIN h2 USING (s)
         ORDER BY n_2hop DESC, vertex ASC LIMIT 50"""),

    // market-basket association rules over the same co-purchase pairs
    // as q_triangles: support ≥2 itemset pairs expanded to both rule
    // directions, confidence = sup(ab)/sup(a), lift computed as
    // (sup_ab/sup_a)·(n/sup_b) — two double divisions and a multiply in
    // fixed order, bit-identical on both engines and overflow-free (a
    // raw sup_ab·n Long product would wrap silently at extreme order
    // counts where DuckDB's BIGINT errors) — ranked on the rounded
    // lift with rule tiebreaks
    "q_assoc_rules" -> Paired((s, dir) => {
      // EVERY input (order count, singleton supports, pair supports)
      // derives from the one copurchaseSets aggregation, so the
      // collect_set exchange is planned once and reused — not four
      // independent lineitem scan branches
      val sets = copurchaseSets(s, dir)
      val nOrders = sets.agg(count(lit(1)).as("n_orders"))
      val singles = sets.select(explode(col("ps")).as("p"))
        .groupBy("p").agg(count(lit(1)).as("sup_single"))
      val pairs = supportPrunedPairs(sets, 2)
      val rules = pairs.select(explode(array(
          struct(col("u").as("antecedent"), col("v").as("consequent"),
            col("sup_ab")),
          struct(col("v").as("antecedent"), col("u").as("consequent"),
            col("sup_ab")))).as("r"))
        .select("r.antecedent", "r.consequent", "r.sup_ab")
      rules
        .join(singles.select(col("p").as("antecedent"),
          col("sup_single").as("sup_a")), Seq("antecedent"))
        .join(singles.select(col("p").as("consequent"),
          col("sup_single").as("sup_b")), Seq("consequent"))
        .crossJoin(broadcast(nOrders))
        .select(col("antecedent"), col("consequent"), col("sup_ab"),
          round(col("sup_ab").cast("double") / col("sup_a"), 4)
            .as("confidence"),
          round((col("sup_ab").cast("double") / col("sup_a")) *
            (col("n_orders").cast("double") / col("sup_b")), 4).as("lift"))
        .orderBy(col("lift").desc, col("antecedent").asc,
          col("consequent").asc)
        .limit(30)
    },
      // both rule directions from each support-≥2 pair; lift as
      // (sup_ab/sup_a)·(n/sup_b), same fixed double-op order as the
      // Spark side — no integer products, overflow-free
      """WITH li AS (SELECT DISTINCT l_orderkey,
                            CAST(l_partkey AS VARCHAR) AS p
                     FROM lineitem),
         n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
         s AS (SELECT p, count(*) AS sup_single FROM li GROUP BY p),
         pr AS (
           SELECT a.p AS u, b.p AS v, count(*) AS sup_ab
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                              AND a.p < b.p
           GROUP BY u, v HAVING count(*) >= 2),
         rules AS (
           SELECT u AS antecedent, v AS consequent, sup_ab FROM pr
           UNION ALL
           SELECT v, u, sup_ab FROM pr)
         SELECT r.antecedent, r.consequent, r.sup_ab,
                ROUND(CAST(r.sup_ab AS DOUBLE) / sa.sup_single, 4)
                  AS confidence,
                ROUND((CAST(r.sup_ab AS DOUBLE) / sa.sup_single) *
                      (CAST(n.n_orders AS DOUBLE) / sb.sup_single), 4)
                  AS lift
         FROM rules r
         JOIN s sa ON sa.p = r.antecedent
         JOIN s sb ON sb.p = r.consequent
         CROSS JOIN n
         ORDER BY lift DESC, antecedent ASC, consequent ASC LIMIT 30"""),

    // frequent triples (Apriori level above q_assoc_rules' pairs) from
    // the SAME copurchaseSets aggregation — Apriori-pruned: baskets are
    // filtered to pair-frequent items BEFORE the cubic within-array
    // expansion (aprioriTripleCandidates), so basket size bounds only
    // the frequent-item part of the expansion, not raw |basket|^3
    "q_itemsets3" -> Paired((s, dir) =>
      aprioriTripleCandidates(copurchaseSets(s, dir), 2)
        .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy(col("support").desc, col("a").asc, col("b").asc,
          col("c").asc)
        .limit(30),
      // three-way distinct self-join replays the within-basket triple
      // expansion; VARCHAR part ordering matches the sorted string sets
      """WITH li AS (SELECT DISTINCT l_orderkey,
                            CAST(l_partkey AS VARCHAR) AS p
                     FROM lineitem)
         SELECT a.p AS a, b.p AS b, c.p AS c, count(*) AS support
         FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.p < b.p
                   JOIN li c ON a.l_orderkey = c.l_orderkey AND b.p < c.p
         GROUP BY a.p, b.p, c.p HAVING count(*) >= 2
         ORDER BY support DESC, a ASC, b ASC, c ASC LIMIT 30"""),

    // item-item cosine collaborative filtering from co-purchase counts:
    // sim = sup_ab / √(n_a·n_b) on the SAME shared copurchaseSets
    // exchange the other basket queries reuse; sqrt is IEEE-exact so
    // the ranking needs no rounding rescue (rounded anyway for display)
    "q_item_cf" -> Paired((s, dir) => {
      val sets = copurchaseSets(s, dir)
      val itemN = sets.select(explode(col("ps")).as("item"))
        .groupBy("item").agg(count(lit(1)).as("n_orders"))
      supportPrunedPairs(sets, 2)
        .join(itemN.select(col("item").as("u"), col("n_orders").as("n_u")),
          Seq("u"))
        .join(itemN.select(col("item").as("v"), col("n_orders").as("n_v")),
          Seq("v"))
        .select(col("u"), col("v"), col("sup_ab"),
          round(col("sup_ab").cast("double") /
            sqrt((col("n_u") * col("n_v")).cast("double")), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("u"), col("v"))
        .limit(50)
    },
      // same distinct-basket pair counts as q_assoc_rules; cosine =
      // sup_ab / √(n_a·n_b), ranked on the rounded value
      """WITH li AS (SELECT DISTINCT l_orderkey,
                            CAST(l_partkey AS VARCHAR) AS p
                     FROM lineitem),
         s AS (SELECT p, count(*) AS n_orders FROM li GROUP BY p),
         pr AS (
           SELECT a.p AS u, b.p AS v, count(*) AS sup_ab
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                              AND a.p < b.p
           GROUP BY u, v HAVING count(*) >= 2)
         SELECT pr.u, pr.v, pr.sup_ab,
                ROUND(CAST(pr.sup_ab AS DOUBLE)
                      / sqrt(CAST(su.n_orders * sv.n_orders AS DOUBLE)), 6)
                  AS cosine
         FROM pr JOIN s su ON su.p = pr.u JOIN s sv ON sv.p = pr.v
         ORDER BY cosine DESC, pr.u, pr.v LIMIT 50"""),

    // cross-sell sequences at the ITEM level: customer bought part X
    // in an earlier order, then part Y in a LATER order — the retail
    // twin of q_seq_patterns, bounded to the top-20 parts by order
    // count (the fixed-vocabulary discipline that keeps the per-
    // customer pair profile ≤ 20 rows at any scale); first-purchase
    // profile join, X.first < Y.first, support = customers
    "q_cross_sell" -> Paired((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val topParts = li.select(col("l_orderkey"), col("l_partkey"))
        .distinct()
        .groupBy("l_partkey").agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("l_partkey")).limit(20)
        .select("l_partkey")
      val firstBuy = li
        .join(broadcast(topParts), Seq("l_partkey"), "left_semi")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .agg(min("o_orderdate").as("first_dt"))
      val a = firstBuy.select(col("cust"), col("part").as("x"),
        col("first_dt").as("xd"))
      val b = firstBuy.select(col("cust"), col("part").as("y"),
        col("first_dt").as("yd"))
      a.join(b, Seq("cust")).filter(col("xd") < col("yd"))
        .groupBy("x", "y").agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("x"), col("y"))
        .limit(30)
    },
      // top-20 parts by distinct-order count; X-before-Y on first buys
      """WITH tp AS (
           SELECT l_partkey FROM (
             SELECT l_partkey, count(*) AS n_orders
             FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
             GROUP BY l_partkey)
           ORDER BY n_orders DESC, l_partkey LIMIT 20),
         fb AS (
           SELECT o.o_custkey AS cust, li.l_partkey AS part,
                  min(o.o_orderdate) AS first_dt
           FROM lineitem li
           JOIN tp ON tp.l_partkey = li.l_partkey
           JOIN orders o ON o.o_orderkey = li.l_orderkey
           GROUP BY 1, 2)
         SELECT a.part AS x, b.part AS y, count(*) AS support
         FROM fb a JOIN fb b ON a.cust = b.cust
                            AND a.first_dt < b.first_dt
         GROUP BY 1, 2
         ORDER BY support DESC, x, y LIMIT 30"""),

    // ---- The supplier-part and supplier-customer graphs ----

    // fixed-iteration PageRank over the undirected supplier↔customer
    // trade graph (edges from lineitem⋈orders). Fixed iterations +
    // ranking on the ROUNDED rank make the iterative float arithmetic
    // replayable cross-engine (the DuckDB twin chains one CTE per
    // iteration).
    "q_pagerank" -> Paired((s, dir) => {
      val l = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      // dedup as narrow int pairs BEFORE rendering string node ids (the
      // "s"/"c" prefixes are injective, so distinctness survives the
      // concat — and the disjoint namespaces keep the mirrored set
      // duplicate-free, satisfying the dedupEdges=false contract)
      val edges = l.join(o, Seq("l_orderkey"))
        .select(col("l_suppkey"), col("o_custkey")).distinct()
        .select(supplierNode, concat(lit("c"), col("o_custkey")).as("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 3,
        dedupEdges = false)
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy(col("pr").desc, col("node").asc)
        .limit(20)
    },
      // 3 PageRank iterations as chained CTEs — identical edge set,
      // identical r_{t+1} = (1-d) + 0.85·Σ r_t/deg arithmetic
      """WITH e0 AS (
           SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT src, dst FROM e0
               UNION SELECT dst AS src, src AS dst FROM e0),
         deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
         r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM deg),
         r1 AS (SELECT e.dst AS node, (1.0 - 0.85) + 0.85 * SUM(r.pr / d.deg) AS pr
                FROM e JOIN r0 r ON e.src = r.node
                       JOIN deg d ON e.src = d.node GROUP BY e.dst),
         r2 AS (SELECT e.dst AS node, (1.0 - 0.85) + 0.85 * SUM(r.pr / d.deg) AS pr
                FROM e JOIN r1 r ON e.src = r.node
                       JOIN deg d ON e.src = d.node GROUP BY e.dst),
         r3 AS (SELECT e.dst AS node, (1.0 - 0.85) + 0.85 * SUM(r.pr / d.deg) AS pr
                FROM e JOIN r2 r ON e.src = r.node
                       JOIN deg d ON e.src = d.node GROUP BY e.dst)
         SELECT node, ROUND(pr, 6) AS pr FROM r3
         ORDER BY ROUND(pr, 6) DESC, node LIMIT 20"""),

    // HITS hubs/authorities on the directed supplier→part supply graph
    // (edge list straight from lineitem, no upstream join). L1
    // normalization per half-step keeps every constant replayable; the
    // DuckDB twin chains two CTEs per iteration. Ranking on ROUNDED
    // scores with node tiebreak, per the repo determinism rule.
    "q_hits" -> Paired((s, dir) => {
      val edges = supplierPartEdges(s, dir)
      Graph.hits(edges, "src", "dst", iterations = 2, dedupEdges = false)
        .orderBy(col("auth").desc, col("hub").desc, col("node").asc)
        .limit(20)
    },
      // HITS, two iterations as chained CTEs — identical edge set,
      // identical L1 normalization per half-step
      s"""WITH e AS ($supplierPartEdgesSql),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         h0 AS (SELECT node, 1.0 AS h FROM nodes),
         a1r AS (SELECT e.dst AS node, SUM(h0.h) AS a
                 FROM e JOIN h0 ON e.src = h0.node GROUP BY e.dst),
         a1 AS (SELECT node, a / (SELECT SUM(a) FROM a1r) AS a FROM a1r),
         h1r AS (SELECT e.src AS node, SUM(a1.a) AS h
                 FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
         h1 AS (SELECT node, h / (SELECT SUM(h) FROM h1r) AS h FROM h1r),
         a2r AS (SELECT e.dst AS node, SUM(h1.h) AS a
                 FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
         a2 AS (SELECT node, a / (SELECT SUM(a) FROM a2r) AS a FROM a2r),
         h2r AS (SELECT e.src AS node, SUM(a2.a) AS h
                 FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
         h2 AS (SELECT node, h / (SELECT SUM(h) FROM h2r) AS h FROM h2r)
         SELECT n.node AS node, ROUND(COALESCE(a2.a, 0), 6) AS auth,
                ROUND(COALESCE(h2.h, 0), 6) AS hub
         FROM nodes n LEFT JOIN a2 ON n.node = a2.node
                      LEFT JOIN h2 ON n.node = h2.node
         ORDER BY ROUND(COALESCE(a2.a, 0), 6) DESC,
                  ROUND(COALESCE(h2.h, 0), 6) DESC, n.node LIMIT 20"""),

    // Deterministic synchronous label propagation on the undirected
    // supplier↔part graph: communities emerge as shared min-ish labels;
    // output is the community-size histogram (top 20)
    "q_label_prop" -> Paired((s, dir) => {
      val edges = supplierPartEdges(s, dir)
      Graph.labelPropagation(edges, "src", "dst", iterations = 2,
        dedupEdges = false)
        .groupBy("label").agg(count(lit(1)).as("n_members"))
        .orderBy(col("n_members").desc, col("label").asc)
        .limit(20)
    },
      // synchronous LPA, two rounds as chained CTEs: adopt the most
      // frequent neighbor label, ties to the smallest label
      s"""WITH e0 AS ($supplierPartEdgesSql),
         e AS (SELECT src, dst FROM e0
               UNION SELECT dst AS src, src AS dst FROM e0),
         r0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         n1 AS (SELECT e.src AS node, r.label, count(*) AS cnt
                FROM e JOIN r0 r ON e.dst = r.node GROUP BY e.src, r.label),
         r1 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY cnt DESC, label) AS rn
                  FROM n1) WHERE rn = 1),
         n2 AS (SELECT e.src AS node, r.label, count(*) AS cnt
                FROM e JOIN r1 r ON e.dst = r.node GROUP BY e.src, r.label),
         r2 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY cnt DESC, label) AS rn
                  FROM n2) WHERE rn = 1)
         SELECT label, count(*) AS n_members FROM r2 GROUP BY label
         ORDER BY count(*) DESC, label LIMIT 20"""),

    // 2-core of the co-purchase graph (support-≥2 pairs): peel degree-<2
    // vertices for 3 rounds — the dense-cluster filter that bounds the
    // wedge ops' frontier; fixed rounds keep it oracle-replayable
    "q_kcore" -> Paired((s, dir) => {
      val edges = supportPrunedPairs(copurchaseSets(s, dir), 2)
        .select(col("u"), col("v"))
      Graph.kCore(edges, "u", "v", k = 2, rounds = 3)
        .orderBy("vertex")
    },
      // 3 unrolled peel rounds over the same support-≥2 co-purchase edge
      // set (VARCHAR part keys match the sorted-string pair generation)
      """WITH li AS (SELECT DISTINCT l_orderkey,
                            CAST(l_partkey AS VARCHAR) AS p
                     FROM lineitem),
         e0 AS (SELECT a.p AS lo, b.p AS hi
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey AND a.p < b.p
                GROUP BY a.p, b.p HAVING count(*) >= 2),
         d1 AS (SELECT n, count(*) AS deg FROM (
                  SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0)
                GROUP BY n),
         k1 AS (SELECT n FROM d1 WHERE deg >= 2),
         e1 AS (SELECT lo, hi FROM e0
                WHERE lo IN (SELECT n FROM k1) AND hi IN (SELECT n FROM k1)),
         d2 AS (SELECT n, count(*) AS deg FROM (
                  SELECT lo AS n FROM e1 UNION ALL SELECT hi FROM e1)
                GROUP BY n),
         k2 AS (SELECT n FROM d2 WHERE deg >= 2),
         e2 AS (SELECT lo, hi FROM e1
                WHERE lo IN (SELECT n FROM k2) AND hi IN (SELECT n FROM k2)),
         d3 AS (SELECT n, count(*) AS deg FROM (
                  SELECT lo AS n FROM e2 UNION ALL SELECT hi FROM e2)
                GROUP BY n),
         k3 AS (SELECT n FROM d3 WHERE deg >= 2),
         e3 AS (SELECT lo, hi FROM e2
                WHERE lo IN (SELECT n FROM k3) AND hi IN (SELECT n FROM k3))
         SELECT vertex, count(*) AS degree FROM (
           SELECT lo AS vertex FROM e3 UNION ALL SELECT hi AS vertex FROM e3)
         GROUP BY vertex ORDER BY vertex"""),

    // Newman modularity of the label-propagation communities on the
    // supplier–part graph: Q = Σ_c (e_c/m − (d_c/2m)²) — the "are these
    // communities real" quality score on top of q_label_prop, computed
    // from three equi-join aggregates (within-community edges, degree
    // sums, |E|); per-community terms rounded then decimal-summed
    "q_modularity" -> Paired((s, dir) => {
      val e0 = supplierPartEdges(s, dir)
      val labels = Graph.labelPropagation(e0, "src", "dst",
        iterations = 2, dedupEdges = false)
      val m = e0.agg(count(lit(1)).as("m_edges"))
      val ec = e0
        .join(labels.select(col("node").as("src"), col("label").as("ls")),
          Seq("src"))
        .join(labels.select(col("node").as("dst"), col("label").as("ld")),
          Seq("dst"))
        .filter(col("ls") === col("ld"))
        .groupBy(col("ls").as("label")).agg(count(lit(1)).as("e_in"))
      val deg = e0.select(col("src").as("node"))
        .unionByName(e0.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val dc = labels.join(deg, Seq("node"))
        .groupBy("label")
        .agg(sum("d").as("d_sum"), count(lit(1)).as("n_members"))
      val halfD = col("d_sum").cast("double") / (lit(2) * col("m_edges"))
      val terms = dc.join(ec, Seq("label"), "left")
        .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
        .crossJoin(broadcast(m))
        .withColumn("q_term", round(
          col("e_in").cast("double") / col("m_edges") - halfD * halfD, 6))
      val q = terms.agg(
        round(sum(col("q_term").cast("decimal(18,6)")).cast("double"), 6)
          .as("modularity"))
      terms.crossJoin(broadcast(q))
        .select(col("label"), col("n_members"), col("e_in"), col("d_sum"),
          col("q_term"), col("modularity"))
        .orderBy(col("n_members").desc, col("label"))
        .limit(20)
    },
      // same unrolled 2-iteration propagation as q_label_prop, then the
      // three modularity aggregates over the ONE-direction edge list
      s"""WITH e0 AS ($supplierPartEdgesSql),
         e AS (SELECT src, dst FROM e0
               UNION SELECT dst AS src, src AS dst FROM e0),
         r0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         n1 AS (SELECT e.src AS node, r.label, count(*) AS cnt
                FROM e JOIN r0 r ON e.dst = r.node GROUP BY e.src, r.label),
         r1 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY cnt DESC, label) AS rn
                  FROM n1) WHERE rn = 1),
         n2 AS (SELECT e.src AS node, r.label, count(*) AS cnt
                FROM e JOIN r1 r ON e.dst = r.node GROUP BY e.src, r.label),
         r2 AS (SELECT node, label FROM (
                  SELECT node, label, row_number() OVER (
                    PARTITION BY node ORDER BY cnt DESC, label) AS rn
                  FROM n2) WHERE rn = 1),
         mm AS (SELECT count(*) AS m_edges FROM e0),
         ec AS (
           SELECT ls.label, count(*) AS e_in
           FROM e0 JOIN r2 ls ON ls.node = e0.src
                   JOIN r2 ld ON ld.node = e0.dst
           WHERE ls.label = ld.label
           GROUP BY ls.label),
         deg AS (
           SELECT node, count(*) AS d FROM (
             SELECT src AS node FROM e0
             UNION ALL SELECT dst AS node FROM e0)
           GROUP BY node),
         dc AS (
           SELECT r.label, CAST(SUM(d.d) AS BIGINT) AS d_sum,
                  count(*) AS n_members
           FROM r2 r JOIN deg d USING (node) GROUP BY r.label),
         terms AS (
           SELECT dc.label, dc.n_members,
                  COALESCE(ec.e_in, 0) AS e_in, dc.d_sum,
                  ROUND(CAST(COALESCE(ec.e_in, 0) AS DOUBLE) / mm.m_edges
                      - (CAST(dc.d_sum AS DOUBLE) / (2 * mm.m_edges))
                      * (CAST(dc.d_sum AS DOUBLE) / (2 * mm.m_edges)), 6)
                    AS q_term
           FROM dc LEFT JOIN ec USING (label) CROSS JOIN mm),
         q AS (SELECT ROUND(CAST(SUM(CAST(q_term AS DECIMAL(18,6)))
                    AS DOUBLE), 6) AS modularity FROM terms)
         SELECT t.label, t.n_members, t.e_in, t.d_sum, t.q_term,
                q.modularity
         FROM terms t CROSS JOIN q
         ORDER BY t.n_members DESC, t.label LIMIT 20"""),

    // degree assortativity of the supplier–part graph: Pearson
    // correlation of endpoint degrees over the symmetrized edge list
    // (negative = hubs attach to leaves, the usual bipartite signature)
    // — exact decimal moments of integer degrees, one edges⋈degrees
    // equi-join per side
    "q_assortativity" -> Paired((s, dir) => {
      val e0 = supplierPartEdges(s, dir)
      val sym = e0.unionByName(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      val deg = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      val pairs = sym
        .join(deg.select(col("node").as("src"), col("d").as("dx")),
          Seq("src"))
        .join(deg.select(col("node").as("dst"), col("d").as("dy")),
          Seq("dst"))
        .select(col("dx").cast("decimal(18,0)").as("x"),
          col("dy").cast("decimal(18,0)").as("y"))
      val m = pairs.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double")
      val sy = col("sy").cast("double")
      val cov = n * col("sxy").cast("double") - sx * sy
      val vx = n * col("sxx").cast("double") - sx * sx
      val vy = n * col("syy").cast("double") - sy * sy
      m.select(col("n").as("n_directed_edges"),
        round(cov / sqrt(vx * vy), 6).as("assortativity"))
    },
      // symmetrized edges ⋈ integer degrees; Pearson from decimal moments
      s"""WITH e0 AS ($supplierPartEdgesSql),
         sym AS (SELECT src, dst FROM e0
                 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
         pairs AS (
           SELECT CAST(dx.d AS DECIMAL(18,0)) AS x,
                  CAST(dy.d AS DECIMAL(18,0)) AS y
           FROM sym JOIN deg dx ON dx.node = sym.src
                    JOIN deg dy ON dy.node = sym.dst),
         m AS (SELECT count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                 SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
                 SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy
               FROM pairs)
         SELECT n AS n_directed_edges,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS assortativity
         FROM m"""),

    // ---- Fuzzy joins ----

    // edit-distance self-join (entity resolution): all distinct part-name
    // pairs within 2 edits, via deletion-neighborhood blocking (complete
    // candidate generation, no all-pairs scan) + threshold levenshtein
    "q_fuzzy_join" -> Paired((s, dir) => {
      val names = Tables.load(s, dir, "part").select(col("p_name")).distinct()
      graft.operators.FuzzyJoin.selfJoin(names, "p_name", "p_name", tau = 2)
        .select(col("a_id").as("a_name"), col("b_id").as("b_name"), col("dist"))
        .orderBy("a_name", "b_name")
    },
      // oracle is the brute-force all-pairs join the operator avoids
      """WITH d AS (SELECT DISTINCT p_name FROM part)
         SELECT a.p_name AS a_name, b.p_name AS b_name,
                CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
         FROM d a JOIN d b ON a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= 2
         ORDER BY a_name, b_name"""),

    // Jaro–Winkler name-similarity self-join (entity resolution's other
    // classic measure, complementing q_fuzzy_join's edit distance): the
    // native expression stays inside codegen; blocking is the compound
    // (2-char prefix × length band) key — a 1-char key's buckets grow
    // linearly with the corpus and its within-bucket pairs
    // quadratically, the textbook weak blocking key (see
    // FuzzyJoin.jaroCandidates and FuzzyJoinSpec's candidate-count
    // pin). The oracle replays the exact same blocking + algorithm;
    // round(·,6) washes last-ulp double drift; the ≥ threshold compares
    // the ROUNDED score in both engines so boundary rows can't flicker.
    "q_jaro_pairs" -> Paired((s, dir) => {
      val names = Tables.load(s, dir, "part").select(col("p_name")).distinct()
      graft.operators.FuzzyJoin.jaroSelfJoin(names, "p_name", minSim = 0.5)
        .orderBy("name1", "name2")
    },
      // same (2-char prefix × length band of 4) blocking; DuckDB's
      // jaro_winkler_similarity is the same algorithm (0.7 boost gate,
      // prefix≤4, scale 0.1) — both sides round to 6 before the threshold
      // so boundary rows agree
      """WITH n AS (SELECT DISTINCT p_name FROM part)
         SELECT a.p_name AS name1, b.p_name AS name2,
                ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS sim
         FROM n a JOIN n b
           ON substr(a.p_name, 1, 2) = substr(b.p_name, 1, 2)
          AND CAST(floor(length(a.p_name) / 4) AS BIGINT)
              = CAST(floor(length(b.p_name) / 4) AS BIGINT)
          AND a.p_name < b.p_name
         WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.5
         ORDER BY name1, name2"""),

    // dirty-record -> clean-catalog fuzzy match (two-sided variant): a
    // deterministically corrupted copy of the name table matched back at
    // tau=2; oracle is the brute-force levenshtein join
    "q_fuzzy_match" -> Paired((s, dir) => {
      val clean = Tables.load(s, dir, "part").select(col("p_name")).distinct()
      val dirty = clean.select(translate(col("p_name"), "e", "3").as("dirty_name"))
        .distinct()
      graft.operators.FuzzyJoin.join(
        dirty, "dirty_name", "dirty_name", clean, "p_name", "p_name", tau = 2)
        .select(col("left_id").as("dirty_name"), col("right_id").as("clean_name"),
          col("dist"))
        .orderBy("dirty_name", "clean_name")
    },
      """WITH clean AS (SELECT DISTINCT p_name FROM part),
            dirty AS (SELECT DISTINCT replace(p_name, 'e', '3') AS dirty_name
                      FROM clean)
         SELECT d.dirty_name, c.p_name AS clean_name,
                CAST(levenshtein(d.dirty_name, c.p_name) AS INT) AS dist
         FROM dirty d JOIN clean c
           ON levenshtein(d.dirty_name, c.p_name) <= 2
         ORDER BY dirty_name, clean_name"""),
  )
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge-list DataFrames — the link-analysis side of a
  * training-data pipeline (source authority weighting, crawl frontier
  * prioritization). Same iterative-join shape as [[Dedup.dedupFamilies]]:
  * per-round localCheckpoint lineage truncation, O(E) shuffle per round,
  * no driver-side state beyond the loop counter — the shape that survives
  * a 1000-executor deployment (reliable checkpointing would replace
  * executor-local blocks there).
  *
  * Two knobs shared by every operator here:
  *
  *   - `dedupEdges` (default true): the operators require a
  *     duplicate-free edge set, and dedup it themselves. A caller that
  *     already deduplicated — typically as narrow integer pairs BEFORE
  *     rendering string node ids, which shuffles far fewer bytes — can
  *     pass false and skip the second distinct. For the undirected
  *     operators the caller then also asserts the MIRRORED set is
  *     duplicate-free (true whenever src and dst draw from disjoint id
  *     namespaces, e.g. a bipartite "s…"/"p…" graph).
  *   - `broadcastNodeLimit`: checkpointed score vectors have no catalyst
  *     size statistics, so the planner would sort-merge-join them against
  *     the edge list every round. The operators instead measure |V| once
  *     (a cheap count over an already-materialized frame — bounded driver
  *     state, one scalar) and broadcast the node-keyed side of every
  *     per-round join while |V| stays under the limit. Under the limit:
  *     zero edge shuffles per round. Over it (billion-node graphs): the
  *     plain shuffle-join shape, unchanged.
  */
object Graph {

  /** Measured-size broadcast decision for node-keyed vectors. */
  private def sideStrategy(nV: Long, limit: Long): DataFrame => DataFrame =
    if (nV <= limit) broadcast _ else identity _

  /** Fixed-iteration PageRank over an edge list.
    *
    * `undirected = true` (the default) mirrors every edge, so every node
    * has out-degree ≥ 1 and no dangling-mass redistribution is needed —
    * rank mass is exactly conserved (Σ rank = |V| at every iteration,
    * pinned by GraphSpec). With `undirected = false` dangling nodes leak
    * their mass (documented simplification; the fixed iteration count
    * keeps the result deterministic either way, which is what makes the
    * operator oracle-checkable cross-engine).
    *
    * r₀(v) = 1;  r_{t+1}(v) = (1-d) + d · Σ_{(u,v)∈E} r_t(u) / deg(u)
    *
    * Scale shape: the out-degree is fused into the edge list ONCE, so
    * each round is exactly one hash join + one aggregation — not the
    * naive per-round recompute of degree and node tables, which triples
    * the join count and re-runs a distinct over the edges every
    * iteration. In undirected mode every node is some edge's dst, so the
    * rank vector needs no reconciling outer join with a node table
    * either. Lineage is truncated per round so the plan stays O(1) deep
    * regardless of iterations.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 3, damping: Double = 0.85,
      undirected: Boolean = true, dedupEdges: Boolean = true,
      broadcastNodeLimit: Long = 1000000L): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    // materialize the canonical edge set ONCE — the upstream edge
    // derivation (often a fact-table join) is the expensive part, and
    // both sides of the deg-fusion join below read it
    val merged = if (undirected)
      e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    else e0
    val e = (if (dedupEdges) merged.distinct() else merged)
      .localCheckpoint(true)

    var ranks =
      (if (undirected) e.select(col("src").as("node")).distinct()
       else e.select(col("src").as("node"))
         .unionByName(e.select(col("dst").as("node"))).distinct())
        .withColumn("pr", lit(1.0)).localCheckpoint(true)
    val nodes = ranks.select("node")
    val side = sideStrategy(ranks.count(), broadcastNodeLimit)

    // deg fused once; the deg side is node-keyed, so the same broadcast
    // decision applies
    val ew = e
      .join(side(e.groupBy("src").agg(count(lit(1)).as("deg"))), Seq("src"))
      .localCheckpoint(true)

    var i = 0
    while (i < iterations) {
      val contribs = ew
        .join(side(ranks.select(col("node").as("src"), col("pr"))), Seq("src"))
        .select(col("dst").as("node"), (col("pr") / col("deg")).as("c"))
        .groupBy("node").agg(sum("c").as("in_mass"))
      val next =
        if (undirected) contribs
        else nodes.join(contribs, Seq("node"), "left")
      ranks = next
        .select(col("node"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
      i += 1
    }
    ranks
  }

  /** Personalized PageRank: identical iteration to [[pageRank]] except
    * the teleport mass (1−d) flows ONLY to the seed set (uniformly,
    * 1/|S| each) instead of every node — so scores measure importance
    * RELATIVE to the seeds (the standard seed-expansion / related-items
    * primitive: "what is close to these nodes under random walks with
    * restart"). Nodes unreachable from the seeds converge to 0.
    *
    * Same scale shapes as [[pageRank]]: canonical undirected edge set
    * materialized once, degree fused once, per-round hash join + agg
    * with node-keyed broadcast under `broadcastNodeLimit`, per-round
    * localCheckpoint lineage truncation. Same determinism contract —
    * division/sum arithmetic replayed by the oracle, ranking on the
    * rounded score.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[String], iterations: Int = 3, damping: Double = 0.85,
      broadcastNodeLimit: Long = 1000000L): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    val e0 = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    val e = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    // teleport vector: computed once against the node set; a seed not in
    // the graph simply contributes nothing (same CASE on both engines)
    val nodes = e.select(col("src").as("node")).distinct()
      .withColumn("t", when(col("node").isin(seeds: _*),
        lit(1.0 / seeds.size)).otherwise(lit(0.0)))
      .localCheckpoint(true)
    val side = sideStrategy(nodes.count(), broadcastNodeLimit)
    val ew = e
      .join(side(e.groupBy("src").agg(count(lit(1)).as("deg"))), Seq("src"))
      .localCheckpoint(true)
    var ranks = nodes.select(col("node"), col("t").as("pr"))
    var i = 0
    while (i < iterations) {
      val contribs = ew
        .join(side(ranks.select(col("node").as("src"), col("pr"))), Seq("src"))
        .select(col("dst").as("node"), (col("pr") / col("deg")).as("c"))
        .groupBy("node").agg(sum("c").as("in_mass"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"), col("t"),
          (lit(1.0 - damping) * col("t") +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("pr"))
        .localCheckpoint(true)
        .select("node", "pr")
      i += 1
    }
    ranks
  }

  /** Fixed-iteration HITS (Kleinberg hubs & authorities) over a directed
    * edge list, L1-normalized each half-step so the scores are scale-free
    * and the arithmetic replays exactly on another engine:
    *
    * a_{t+1}(v) = Σ_{(u,v)∈E} h_t(u) / ‖·‖₁ ;  h_{t+1}(u) = Σ_{(u,v)∈E} a_{t+1}(v) / ‖·‖₁
    *
    * Nodes with no in-edges get authority 0 (and symmetrically hub 0) via
    * the final reconciling left join — they drop out of the iteration
    * entirely, so the per-round working set is only the reachable side.
    *
    * Scale shape: per half-step, one hash join of the edge list against a
    * node-keyed score vector + one aggregation; the L1 total is a
    * single-row aggregate broadcast back (no driver collect). The edge
    * set is materialized once; lineage truncates per half-step.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2, dedupEdges: Boolean = true,
      broadcastNodeLimit: Long = 1000000L): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    val e = (if (dedupEdges) e0.distinct() else e0).localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val side = sideStrategy(nodes.count(), broadcastNodeLimit)

    // the L1 total is a single-row aggregate broadcast back onto the
    // scores (no driver collect). The checkpoint is taken AFTER the
    // normalization, not on the raw sums: a raw-score checkpoint re-runs
    // this total aggregation in every consumer of the half-step (the
    // next half-step's join AND the final reconciliation). Measured by
    // graft.JobProfileDetail at sf0.1 warm: 4.31 s/33 jobs raw-checkpointed vs
    // 3.44 s/31 jobs fused — the win is dropping the per-consumer
    // re-aggregation scans of the score vector, which is also what
    // matters at cluster scale. The total and the join side share one
    // shuffle exchange (ReuseExchange), so the lazy double reference
    // costs one materialization, not two.
    def l1Normalize(df: DataFrame, c: String): DataFrame =
      df.crossJoin(broadcast(df.agg(sum(col(c)).as("_tot"))))
        .select(col("node"), (col(c) / col("_tot")).as(c))

    var hub = nodes.withColumn("h", lit(1.0)).localCheckpoint(true)
    var auth: DataFrame = null
    var i = 0
    while (i < iterations) {
      auth = l1Normalize(e
        .join(side(hub.select(col("node").as("src"), col("h"))), Seq("src"))
        .select(col("dst").as("node"), col("h"))
        .groupBy("node").agg(sum("h").as("a")), "a")
        .localCheckpoint(true)
      hub = l1Normalize(e
        .join(side(auth.select(col("node").as("dst"), col("a"))), Seq("dst"))
        .select(col("src").as("node"), col("a"))
        .groupBy("node").agg(sum("a").as("h")), "h")
        .localCheckpoint(true)
      i += 1
    }
    nodes
      .join(side(auth), Seq("node"), "left")
      .join(side(hub), Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("a"), lit(0.0)), 6).as("auth"),
        round(coalesce(col("h"), lit(0.0)), 6).as("hub"))
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with its own id; each round every node adopts the
    * most frequent label among its neighbors, ties broken by smallest
    * label. The synchronous update + total tie order make the result a
    * pure function of the edge set — deterministic and replayable
    * cross-engine, unlike the usual async/randomized LPA.
    *
    * Edges are mirrored (undirected), so every node is some edge's src
    * and keeps receiving a label each round.
    *
    * Scale shape: per round, one hash join edge⋈labels and two hash
    * aggregations — the argmax (highest count, ties to smallest label)
    * is `min(struct(-cnt, label))`, which gets map-side partial
    * aggregation; a row_number window would force a full per-node sort
    * instead. All shuffle-keyed by node id, no driver state, lineage
    * truncated per round.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 2, dedupEdges: Boolean = true,
      broadcastNodeLimit: Long = 1000000L): DataFrame = {
    val e0 = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    val mirrored = e0
      .unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
    val e = (if (dedupEdges) mirrored.distinct() else mirrored)
      .localCheckpoint(true)
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint(true)
    val side = sideStrategy(labels.count(), broadcastNodeLimit)
    var i = 0
    while (i < iterations) {
      val neigh = e
        .join(side(labels.select(col("node").as("dst"), col("label"))),
          Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("cnt"))
      labels = neigh
        .select(col("src"),
          struct((-col("cnt")).as("neg_cnt"), col("label").as("label")).as("sl"))
        .groupBy("src").agg(min("sl").as("best"))
        .select(col("src").as("node"), col("best.label").as("label"))
        .localCheckpoint(true)
      i += 1
    }
    labels
  }

  /** Per-vertex triangle counts via the ordered edge-iterator — the
    * standard distributed triangle algorithm: canonicalize every edge to
    * (lo < hi), build wedges x–y–z (x<y<z) by joining the edge list with
    * itself on the middle vertex, close each wedge with a third
    * equi-join on (x, z). Ordering each triangle as x<y<z counts it
    * exactly once with NO post-hoc dedup, and every join is an
    * equi-join — never an all-pairs step.
    *
    * Scale shape: wedge count is Σ_y deg_lo(y)·deg_hi(y) — bounded on
    * skewed graphs by `maxDegree` (the same cap-the-hot-key move as the
    * LSH bucket cap): vertices whose undirected degree exceeds the cap
    * are excluded from the wedge-MIDDLE role, so the frontier is at most
    * maxDegree·|E| (linear in edges) instead of quadratic in hub degree.
    * The approximation is explicit: a triangle is missed iff its MEDIAN
    * vertex (the y of x<y<z) is a hub — the standard production
    * trade-off, since hub-mediated triangles dominate cost but carry the
    * least signal. Default Int.MaxValue = exact (uncapped). The closing
    * join then only touches wedges. Output: one row per vertex appearing
    * in ≥1 counted triangle, (vertex, n_triangles).
    */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String, maxDegree: Int = Int.MaxValue): DataFrame = {
    val e = canonicalUndirected(edges, srcCol, dstCol)
    val tri = wedges(e, maxDegree).join(
      e.select(col("lo").as("x"), col("hi").as("z")), Seq("x", "z"),
      "left_semi")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_triangles"))
  }

  /** Canonical duplicate-free undirected edge set: self-loops dropped,
    * every edge ordered (lo < hi). */
  private[graft] def canonicalUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).cast("string").as("u"),
      col(dstCol).cast("string").as("v"))
    raw.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("lo"),
        greatest(col("u"), col("v")).as("hi"))
      .distinct()
  }

  /** Ordered wedges x–y–z (x<y<z, edges (x,y) and (y,z) present) over a
    * canonical edge set. With `maxDegree < Int.MaxValue`, vertices whose
    * undirected degree exceeds the cap are semi-joined OUT of the middle
    * role before the self-join — each surviving middle fans out at most
    * maxDegree×maxDegree, and the total frontier is ≤ maxDegree·|E|. The
    * endpoint roles are never filtered, so hubs still appear in wedges —
    * just not as the pivot that multiplies. */
  private[graft] def wedges(e: DataFrame, maxDegree: Int): DataFrame = {
    val (byHi, byLo) =
      if (maxDegree == Int.MaxValue) (e, e)
      else {
        val ok = e.select(col("lo").as("n"))
          .unionByName(e.select(col("hi").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
          .filter(col("deg") <= maxDegree)
        (e.join(ok.select(col("n").as("hi")), Seq("hi"), "left_semi"),
          e.join(ok.select(col("n").as("lo")), Seq("lo"), "left_semi"))
      }
    byHi.select(col("lo").as("x"), col("hi").as("y"))
      .join(byLo.select(col("lo").as("y"), col("hi").as("z")), Seq("y"))
  }

  /** Per-vertex 1-hop and 2-hop neighborhood sizes — the local
    * reachability profile (how connected is this item within two
    * referrals?) and the BFS-frontier building block: the 2-hop set is
    * one adjacency self-join, distinct-counted; iterate the same step
    * for k-hop. Edges are undirected (symmetrized), self-loops dropped,
    * the vertex itself excluded from its own neighborhood.
    *
    * Scale shape: the 2-hop frontier materializes Σ_y deg(y)² candidate
    * pairs — the SAME wedge quantity triangleCounts walks, bounded two
    * ways: by running on support-pruned graphs (see q_triangles /
    * GraphSpec's basket-inflation spec), and by `maxDegree`, which
    * excludes hub vertices from the INTERMEDIATE role so each surviving
    * middle fans out at most maxDegree² and the frontier stays ≤
    * maxDegree·|E|. The approximation is explicit: 2-hop paths routed
    * through a hub are not counted (a hub intermediate connects
    * "everything to everything" and drowns the local profile — dropping
    * it is the standard neighborhood-profile practice). Hubs still get
    * their own row and still appear as endpoints. Default = exact.
    * Both joins are equi-joins on the frontier vertex; counts are
    * distinct-aggregated per source, never collected.
    */
  def twoHopNeighborhood(edges: DataFrame, srcCol: String,
      dstCol: String, maxDegree: Int = Int.MaxValue): DataFrame = {
    val raw = edges.select(col(srcCol).cast("string").as("s"),
      col(dstCol).cast("string").as("d"))
    val adj = raw.filter(col("s") =!= col("d"))
      .union(raw.filter(col("s") =!= col("d"))
        .select(col("d").as("s"), col("s").as("d")))
      .distinct()
    val mids = adj.select(col("s"), col("d").as("m"))
    val midsCapped =
      if (maxDegree == Int.MaxValue) mids
      else mids.join( // degree in the symmetric adj = undirected degree
        adj.groupBy("s").agg(count(lit(1)).as("deg"))
          .filter(col("deg") <= maxDegree).select(col("s").as("m")),
        Seq("m"), "left_semi")
    val two = midsCapped
      .join(adj.select(col("s").as("m"), col("d")), Seq("m"))
      .filter(col("s") =!= col("d"))
      .select("s", "d")
    val reach = adj.union(two).distinct()
    adj.groupBy("s").agg(count(lit(1)).as("n_1hop")) // adj is distinct
      .join(reach.groupBy("s").agg(count(lit(1)).as("n_2hop")), Seq("s"))
      .select(col("s").as("vertex"), col("n_1hop"), col("n_2hop"))
  }

  /** k-core decomposition by iterative peeling: repeatedly delete every
    * vertex whose degree in the CURRENT surviving subgraph is below `k`
    * (deleting a vertex lowers its neighbors' degrees, which is why the
    * peel iterates), for `rounds` rounds. The classic community-density
    * filter — the k-core is where spam rings, dense co-purchase
    * clusters, and well-connected concept groups live, and peeling away
    * low-degree fringe is the standard preprocessing step before the
    * expensive wedge-quantity ops ([[triangleCounts]],
    * [[twoHopNeighborhood]]) since it shrinks exactly the frontier they
    * square.
    *
    * A FIXED round count (rather than loop-to-fixpoint) keeps the
    * computation deterministic and replayable by an unrolled relational
    * oracle; peeling converges geometrically in practice, and a caller
    * can pass a larger `rounds` for deep cores (each round is one agg +
    * two semi-joins on the shrinking edge set, lineage truncated per
    * round — the same per-round shape as the other iteratives here).
    * Returns (vertex, degree) of the surviving subgraph after the last
    * peel — degrees are ≥ k iff the peel converged, and the last round's
    * deletions are reflected in the degree values either way. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k>=1, rounds>=1; got k=$k rounds=$rounds")
    var e = canonicalUndirected(edges, srcCol, dstCol).localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      val keep = e.select(col("lo").as("n"))
        .unionByName(e.select(col("hi").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("n")
      e = e.join(keep.select(col("n").as("lo")), Seq("lo"), "left_semi")
        .join(keep.select(col("n").as("hi")), Seq("hi"), "left_semi")
        .localCheckpoint(true)
      i += 1
    }
    e.select(col("lo").as("vertex"))
      .unionByName(e.select(col("hi").as("vertex")))
      .groupBy("vertex").agg(count(lit(1)).as("degree"))
  }
}

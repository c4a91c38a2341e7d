package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Graphs

/** CI-light re-run of one row of the ARCHITECTURE §5 scaling table, so the
  * recorded ×2..×64 measurements can't silently rot as operators change:
  * under the shingle-disjoint inflation below the TRUE near-dup pair
  * count provably scales ×n, and this spec asserts the LSH pipeline
  * recovers exactly that at ×8, inside a generously sub-quadratic time
  * budget. The inflations live in the companion object.
  */
class ScaleProbeSpec extends SparkSpec {
  import ScaleProbeSpec._
  import spark.implicits._

  test("×8 shingle-disjoint inflation: pairs scale exactly ×8, sub-quadratic time") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1

    def pairsAt(n: Int): (Long, Double) = {
      val d = inflate(docs, maxId, n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val c = graft.operators.Dedup.minhashLshPairs(
        d, "doc_id", "text", shingleN = 3, k = 64, bands = 16,
        threshold = 0.7).count()
      (c, (System.nanoTime() - t0) / 1e9)
    }

    val (base, baseSec) = pairsAt(1)
    assert(base > 0, "corpus has no near-dup pairs — inflation ratio is vacuous")
    val (inflated, inflatedSec) = pairsAt(8)
    // replicas are shingle-disjoint, so each contributes exactly the base
    // pair set; banding recall at j≥0.7 on this corpus is 1 (fixed seeds,
    // deterministic) — any deviation means a pair was lost or invented
    assert(inflated == 8 * base, s"pairs: base=$base ×8=$inflated")
    // Wall-clock on a shared CI host flakes (BASELINE.md documents 15–21%
    // ambient windows with clean-looking probes; a spike during only the
    // ×8 run would trip any fixed ratio), so the sub-quadratic TIMING
    // assertion is opt-in for idle-machine runs; the exact pair-count
    // check above is the unconditional correctness pin (ADVICE r6).
    val msg =
      f"×8 wall-time $inflatedSec%.1fs vs base $baseSec%.1fs (budget 16×, floor 2 s)"
    if (sys.env.get("SPARK_GRAFT_STRICT_TIMING").contains("1"))
      // generous sub-quadratic budget: 8× data quadratically would be 64×;
      // the floor term absorbs fixed per-job scheduling at tiny scale
      assert(inflatedSec < 16 * math.max(baseSec, 2.0),
        s"$msg — super-linear drift")
    else info(msg)
  }

  test("densify: the dense-pairs fixture produces exactly " +
      "C(copies+1,2) pairs per dense base, all above threshold") {
    // 30 long docs with globally unique tokens: no intrinsic pairs, so
    // every pair comes from densification — 10 dense bases (doc_id%3==0)
    // × C(5,2) = 100 true pairs at jaccard 28/34 ≈ 0.824
    val corpus = (0L until 30L).map(i =>
      (i, (0 until 30).map(j => s"u${i}t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val d = densify(corpus, 1000L, every = 3, copies = 4)
      .localCheckpoint(true)
    assert(d.count() == 30 + 10 * 4)
    val sh = d.select(col("doc_id"),
      graft.functions.TextFunctions.shingles(col("text"), 3).as("s"))
    val a = sh.select(col("doc_id").as("a_id"), col("s").as("as"))
    val b = sh.select(col("doc_id").as("b_id"), col("s").as("bs"))
    val inter = size(array_intersect(col("as"), col("bs")))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .withColumn("j", inter /
        (size(col("as")) + size(col("bs")) - inter))
      .filter(col("j") >= 0.7)
    assert(exact.count() == 100,
      "dense fixture must contribute C(5,2) pairs per dense base")
    // and the LSH pipeline (fixed seeds, deterministic) recovers them
    val lsh = graft.operators.Dedup.minhashLshPairs(
      d, "doc_id", "text", shingleN = 3, k = 64, bands = 16,
      threshold = 0.7).count()
    assert(lsh == 100, s"LSH recovered $lsh of 100 dense pairs")
  }

  // CI-light pin for the profiling/rolling-sketch scaling-table rows: the
  // shape-preserving events inflation makes exact expectations provable,
  // so a probe row can't rot into measuring a different computation
  test("×8 events inflation: skew profile and rolling KMV scale exactly") {
    import graft.operators.Profiling
    import graft.ops.ScaleOps
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val maxE = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxU = ev.agg(max("user_id")).head().getLong(0) + 1
    def at(n: Int) =
      inflateEvents(ev, maxE, maxU, n).localCheckpoint(true)
    val b = at(1)
    val i8 = at(8)

    // keySkewProfile: rows/keys scale exactly ×8; max/avg frequency are
    // replica-invariant (interpolated percentiles are NOT — the rank
    // index shifts between N and 8N copies of the same multiset, so
    // they're probed for presence, not pinned)
    val p1 = Profiling.keySkewProfile(b, "user_id").head()
    val p8 = Profiling.keySkewProfile(i8, "user_id").head()
    assert(p8.getAs[Long]("n_rows") == 8 * p1.getAs[Long]("n_rows"))
    assert(p8.getAs[Long]("n_keys") == 8 * p1.getAs[Long]("n_keys"))
    assert(p8.getAs[Long]("max_freq") == p1.getAs[Long]("max_freq"))
    assert(p8.getAs[Double]("avg_freq") == p1.getAs[Double]("avg_freq"))
    assert(p8.getAs[Double]("freq_p90") >= p1.getAs[Double]("freq_p50"))

    // rollingKmvDistinct with k above window cardinality is exact: the
    // window set (anchor days) is inflation-invariant and every window's
    // distinct count scales exactly ×8 (shifted user ids are disjoint)
    def roll(d: org.apache.spark.sql.DataFrame) =
      ScaleOps.rollingKmvDistinct(
        d.withColumn("day", to_date(col("ts"))), "day", "user_id",
        windowDays = 7, k = 65536)
        .collect().map(r => r.getDate(0).toString -> r.getLong(2)).toMap
    val r1 = roll(b)
    val r8 = roll(i8)
    assert(r1.nonEmpty && r1.keySet == r8.keySet)
    r1.foreach { case (day, u) =>
      assert(r8(day) == 8 * u, s"window $day: ${r8(day)} != 8×$u")
    }
  }

  test("×8 embeddings inflation: ANN result sizes invariant, scores replica-stable") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    val corpus8 = (0 until 8).map { r =>
      if (r == 0) emb
      else emb.select((col("vec_id") + lit(r * maxVec)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    val q = emb.filter(col("vec_id") < 8)
    def top(c: org.apache.spark.sql.DataFrame,
        f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
          org.apache.spark.sql.DataFrame) = f(q, c).collect()
    val brute = (d: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =>
      Similarity.bruteForceTopK(d, c, "vec_id", "embedding", k = 5)
    val int8 = (d: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =>
      Similarity.int8TopK(d, c, "vec_id", "embedding", k = 5)
    // invariants under inflation: result size stays |queries|·k, and a
    // larger corpus can only RAISE each query's best score — at ×8 an
    // identical replica of the query itself exists, so the float path's
    // rank-1 must be a self-replica at cosine 1.0
    for ((f, isFloat) <- Seq((brute, true), (int8, false))) {
      val base = top(emb, f)
      val big = top(corpus8, f)
      assert(base.length == 8 * 5 && big.length == 8 * 5)
      def rank1(rows: Array[org.apache.spark.sql.Row]) = rows
        .filter(_.getInt(1) == 1)
        .map(r => r.getLong(0) ->
          (r.getLong(2), r.get(3).toString.toDouble)).toMap
      val b1 = rank1(base); val g1 = rank1(big)
      b1.keySet.foreach { qid =>
        assert(g1(qid)._2 >= b1(qid)._2,
          s"query $qid: best score dropped under inflation")
        if (isFloat) {
          assert(g1(qid)._2 == 1.0)
          assert(g1(qid)._1 % maxVec == qid, "rank-1 not a self-replica")
        }
      }
    }
  }

  // CI-light pin for the behavioral/basket scaling-table rows: user-shifted
  // events replicas have identical per-user streams, so every 3-step
  // pattern's support scales exactly ×n and attribution credit exactly
  // ×n (modulo the documented 4-dp rounding of the ×1 total); part/order
  // shifted lineitem replicas keep basket structure on disjoint item
  // spaces, so support-pruned co-purchase pairs scale exactly ×n
  test("×4 events/lineitem inflation: seq3 supports, attribution credit, and co-purchase pairs scale exactly") {
    import graft.operators.EventOps
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val maxE = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxU = ev.agg(max("user_id")).head().getLong(0) + 1
    val ev4 = inflateEvents(ev, maxE, maxU, 4).localCheckpoint(true)

    def seq(d: org.apache.spark.sql.DataFrame) =
      EventOps.sequenceTripleSupport(d, "user_id", "event_type", "ts")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))
          -> r.getAs[Long]("support")).toMap
    val s1 = seq(ev); val s4 = seq(ev4)
    assert(s1.nonEmpty && s4.keySet == s1.keySet,
      "inflation must not invent or lose patterns")
    s1.foreach { case (k, v) => assert(s4(k) == 4 * v, s"support of $k") }

    def attr(d: org.apache.spark.sql.DataFrame) =
      EventOps.multiTouchAttribution(d, "user_id", "event_type", "ts",
        "event_id", "purchase", 3)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Long]("n_touches"), r.getAs[Double]("total_credit"))).toMap
    val a1 = attr(ev); val a4 = attr(ev4)
    assert(a4.keySet == a1.keySet)
    a1.foreach { case (k, (n1, c1)) =>
      assert(a4(k)._1 == 4 * n1, s"touches of $k")
      // per-pair credits are identical across replicas; only the final
      // 4-dp display round differs between round(4S) and 4·round(S)
      assert(math.abs(a4(k)._2 - 4 * c1) < 2e-3, s"credit of $k")
    }

    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey")
    val maxOrd = li.agg(max("l_orderkey")).head().getLong(0) + 1
    val maxPart = li.agg(max("l_partkey")).head().getLong(0) + 1
    def pairs(d: org.apache.spark.sql.DataFrame) = {
      val sets = d.groupBy("l_orderkey")
        .agg(array_sort(collect_set(col("l_partkey").cast("string")))
          .as("ps"))
      Graphs.supportPrunedPairs(sets, 2).count()
    }
    val p1 = pairs(li)
    val li4 = (0 until 4).map { r =>
      if (r == 0) li
      else li.select((col("l_orderkey") + lit(r * maxOrd)).as("l_orderkey"),
        (col("l_partkey") + lit(r * maxPart)).as("l_partkey"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    assert(p1 > 0 && pairs(li4) == 4 * p1,
      "co-purchase pair count must scale exactly ×4")
  }

  // CI-light pin for the stats/hamming scaling-table families: bootstrap
  // output stays |types| rows under any inflation (the shuffle-volume
  // claim), and XOR-masked fingerprint replicas reproduce the pair set
  // exactly ×4 (XOR by a constant preserves within-replica distances;
  // seeded masks keep cross-replica distances far above maxHamming)
  test("×4 inflation: bootstrap CI rows invariant, hamming pairs scale exactly") {
    import graft.operators.{Dedup, Stats}
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val maxE = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxU = ev.agg(max("user_id")).head().getLong(0) + 1
    val types = ev.select("event_type").distinct().count()
    def ciRows(d: org.apache.spark.sql.DataFrame) =
      Stats.poissonBootstrap(d, Seq("event_type"), "event_id", "value",
        replicates = 8).count()
    assert(ciRows(ev) == types)
    assert(ciRows(inflateEvents(ev, maxE, maxU, 4)
      .localCheckpoint(true)) == types)

    val base = ev.select(col("event_id").as("id"))
      .withColumn("h", xxhash64(col("id")))
    val twins = base.filter(col("id") % 100 === 0)
      .select((col("id") + lit(1000000000L)).as("id"),
        col("h").bitwiseXOR(lit(3L)).as("h"))
    val f0 = base.unionByName(twins)
    def ham(d: org.apache.spark.sql.DataFrame) =
      Dedup.hammingPairs(d, "id", "h", bits = 64, bands = 8,
        maxHamming = 7).count()
    val h1 = ham(f0.localCheckpoint(true))
    assert(h1 > 0, "no planted twins found — premise broken")
    val rnd = new scala.util.Random(42)
    val masks = (0 until 4).map(_ => rnd.nextLong())
    val f4 = (0 until 4).map { r =>
      if (r == 0) f0
      else f0.select((col("id") + lit(r * 4000000000L)).as("id"),
        col("h").bitwiseXOR(lit(masks(r))).as("h"))
    }.reduce(_ unionByName _).localCheckpoint(true)
    assert(ham(f4) == 4 * h1, "hamming pair count must scale exactly ×4")

    // multi-index variant: same planted Hamming-2 twins, so its pair
    // set must (a) scale exactly ×4 and (b) equal the single-chunk
    // banded join's at the same threshold — both are pigeonhole-exact
    def hamMulti(d: org.apache.spark.sql.DataFrame) =
      Dedup.hammingPairsMultiIndex(d, "id", "h", bits = 64, blocks = 4,
        maxHamming = 2).count()
    val m1 = hamMulti(f0.localCheckpoint(true))
    assert(m1 > 0)
    assert(hamMulti(f4) == 4 * m1,
      "multi-index hamming pair count must scale exactly ×4")
    assert(m1 == Dedup.hammingPairs(f0, "id", "h", bits = 64, bands = 4,
      maxHamming = 2).count(),
      "multi-index and single-chunk joins must agree where both exact")
  }

  // CI pins for the round-9 probe families: skyline rows scale exactly
  // ×N (duplicate (x,y) points are mutually non-dominating), gains
  // conversion totals scale exactly ×N under events inflation, and the
  // IVM change feed is INVARIANT under base inflation with a fixed
  // change batch — the O(changes) data-volume claim.
  test("×4 inflation: skyline rows and gains totals scale exactly") {
    import graft.operators.Stats
    val part = Tables.load(spark, sf, "part")
      .select("p_partkey", "p_size", "p_retailprice")
    val maxPk = part.agg(max("p_partkey")).head().getLong(0) + 1
    def sky(n: Int) = Stats.skyline2d(
      (0 until n).map { r =>
        if (r == 0) part
        else part.select((col("p_partkey") + lit(r * maxPk)).as("p_partkey"),
          col("p_size"), col("p_retailprice"))
      }.reduce(_ unionByName _), "p_size", "p_retailprice").count()
    val s1 = sky(1)
    assert(s1 > 0 && sky(4) == 4 * s1, "skyline must scale exactly ×4")

    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val maxE = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxU = ev.agg(max("user_id")).head().getLong(0) + 1
    def gains(n: Int) = Stats.gainsTable(
      inflateEvents(ev, maxE, maxU, n).select(
        col("value").as("score"),
        (floor(col("value") * 100) % 2 === 0).cast("long").as("label")),
      "score", "label")
      .agg(sum("n"), sum("conv"), count(lit(1))).head()
    val g1 = gains(1)
    val g4 = gains(4)
    assert(g1.getLong(2) == 10 && g4.getLong(2) == 10)
    assert(g4.getLong(0) == 4 * g1.getLong(0), "total n must scale ×4")
    assert(g1.getLong(1) > 0 && g4.getLong(1) == 4 * g1.getLong(1),
      "total conversions must scale ×4")
  }

  test("×4 inflation: duplicated spans replica-stable and cross-replica disjoint") {
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
    def spansAt(n: Int): Long = {
      val d = inflate(docs, maxId, n).localCheckpoint(true)
      graft.operators.Dedup.duplicateSpans(d, "doc_id", "text", minLen = 30).count()
    }
    val base = spansAt(1)
    assert(base > 0, "corpus has no duplicated spans — the pin is vacuous")
    // token prefixes lengthen tokens, so a replica's OWN span count can
    // legitimately differ from the original's; what must hold exactly is
    // per-replica stability: replicas r>=1 are copies of each other
    val r1 = spansAt(2) - base
    assert(r1 > 0)
    assert(spansAt(4) == base + 3 * r1,
      s"spans must grow by exactly one replica's count per factor")
    // and the replica span SETS are identical up to the id shift
    val d4 = inflate(docs, maxId, 4).localCheckpoint(true)
    val byRep = graft.operators.Dedup
      .duplicateSpans(d4, "doc_id", "text", minLen = 30)
      .withColumn("rep", floor(col("doc_id") / maxId).cast("long"))
      .select(col("rep"), (col("doc_id") % maxId).as("d"),
        col("span_start"), col("span_end"))
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (r, xs) => r -> xs.map(x => (x._2, x._3, x._4)).toSet }
    assert(byRep.keySet == Set(0L, 1L, 2L, 3L))
    assert(byRep(1L) == byRep(2L) && byRep(2L) == byRep(3L),
      "prefixed replicas must produce identical span structure")
  }

  test("join IVM: fixed two-table churn → both feeds invariant under ×4 " +
      "base inflation, maintained == recomputed at both factors") {
    import graft.table.{IncrementalView, LakeTable}
    val orders = Tables.load(spark, sf, "orders")
    val customer = Tables.load(spark, sf, "customer")
      .withColumnRenamed("c_custkey", "o_custkey")
    val maxOk = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    val maxCk = customer.agg(max("o_custkey")).head().getLong(0) + 1
    def run(n: Int): (Long, Long, Set[(String, Long, String)]) = {
      val factBase = (0 until n).map { r =>
        if (r == 0) orders
        else orders.select(
          (col("o_orderkey") + lit(r * maxOk)).as("o_orderkey"),
          (col("o_custkey") + lit(r * maxCk)).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      }.reduce(_ unionByName _)
      val dimBase = (0 until n).map { r =>
        if (r == 0) customer
        else customer.select(
          (col("o_custkey") + lit(r * maxCk)).as("o_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"))
      }.reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "jivm_pin").toString
      val f = LakeTable(spark, root, "f", Seq("o_orderkey"), changeFeed = true)
      val d = LakeTable(spark, root, "d", Seq("o_custkey"), changeFeed = true)
      val v = LakeTable(spark, root, "v", Seq("c_mktsegment"))
      f.create(factBase); d.create(dimBase)
      val (f0, d0) = (f.version, d.version)
      v.create(IncrementalView.joinSumView(f.read, d.read,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
      f.upsert(orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      f.delete(col("o_orderkey") % 101 === 0 && col("o_orderkey") < maxOk)
      d.update(col("o_custkey") % 13 === 0 && col("o_custkey") < maxCk,
        Map("c_mktsegment" -> lit("MOVED")))
      d.delete(col("o_custkey") % 17 === 0 && col("o_custkey") < maxCk)
      val feeds = (f.changesSince(f0).count(), d.changesSince(d0).count())
      IncrementalView.maintainJoinSumView(f, d, v,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice", f0, d0)
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.select(col("c_mktsegment"), col("n"),
            col("sum_value").cast("string"))
          .as[(String, Long, String)].collect().toSet
      val got = snap(v.read)
      assert(got == snap(IncrementalView.joinSumView(f.read, d.read,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice")),
        s"maintained != recomputed at x$n")
      // the two-feed STREAMING drain (the probe's stream_twofeed row)
      // must land the identical state from the same churn window
      val v2 = LakeTable(spark, root, "v2", Seq("c_mktsegment"))
      v2.create(IncrementalView.joinSumView(factBase, dimBase,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
      graft.streaming.Streams.maintainJoinSumViewFromBothFeeds(
        f, d, v2, Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice",
        f0, d0, appId = s"pin_jv2_$n")
      assert(snap(v2.read) == got,
        s"two-feed streaming drain != batch maintenance at x$n")
      (feeds._1, feeds._2, got)
    }
    val (ff1, df1, s1) = run(1)
    val (ff4, df4, s4) = run(4)
    assert(ff1 > 0 && df1 > 0, "fixture churn must be non-trivial")
    // the change window is fixed on replica-0 keys: both feeds invariant
    assert(ff4 == ff1, s"fact feed grew with the base: $ff1 -> $ff4")
    assert(df4 == df1, s"dim feed grew with the base: $df1 -> $df4")
    // replica segments never churn, so the churned groups' rows differ
    // between factors only by the untouched replica contributions
    assert(s4.map(_._1) == s1.map(_._1) && s1.exists(_._1 == "MOVED"))
  }

  test("IVM: fixed change batch → feed volume invariant under ×4 base " +
      "inflation, and the maintained view still equals the recompute") {
    import graft.table.{IncrementalView, LakeTable}
    val orders = Tables.load(spark, sf, "orders")
    val maxOk = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    val maxCk = orders.agg(max("o_custkey")).head().getLong(0) + 1
    def run(n: Int): (Long, Set[(Long, Long, String)]) = {
      val base = (0 until n).map { r =>
        if (r == 0) orders
        else orders.select(
          (col("o_orderkey") + lit(r * maxOk)).as("o_orderkey"),
          (col("o_custkey") + lit(r * maxCk)).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      }.reduce(_ unionByName _)
      val root = s"$tablesRoot/probe_spec_ivm"
      val t = LakeTable(spark, root, s"b$n", Seq("o_orderkey"),
        changeFeed = true)
      val v = LakeTable(spark, root, s"v$n", Seq("o_custkey"))
      t.drop(); v.drop()
      t.create(base)
      val v0 = t.version
      v.create(IncrementalView.sumView(t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(orders.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      t.delete(col("o_orderkey") % 101 === 0 && col("o_orderkey") < maxOk)
      val feedRows = t.changesSince(v0).count()
      IncrementalView.maintainSumView(t, v, Seq("o_custkey"),
        "o_totalprice", v0)
      val snap = v.read.select(col("o_custkey"), col("n"),
          col("sum_value").cast("string"))
        .as[(Long, Long, String)].collect().toSet
      val recomp = IncrementalView.sumView(t.read, Seq("o_custkey"),
          "o_totalprice")
        .select(col("o_custkey"), col("n"), col("sum_value").cast("string"))
        .as[(Long, Long, String)].collect().toSet
      assert(snap == recomp, s"maintained != recomputed at ×$n")
      // two-level distinct maintenance over the same feed span
      val aux = LakeTable(spark, root, s"a$n", Seq("o_custkey", "__v"))
      val vd = LakeTable(spark, root, s"d$n", Seq("o_custkey"))
      aux.drop(); vd.drop()
      aux.create(IncrementalView.supportView(base, Seq("o_custkey"),
        "o_orderpriority"))
      vd.create(IncrementalView.distinctView(base, Seq("o_custkey"),
        "o_orderpriority"))
      IncrementalView.maintainDistinctView(t, aux, vd, Seq("o_custkey"),
        "o_orderpriority", v0)
      val dSnap = vd.read.select("o_custkey", "n_distinct")
        .as[(Long, Long)].collect().toSet
      val dRecomp = IncrementalView.distinctView(t.read, Seq("o_custkey"),
          "o_orderpriority").select("o_custkey", "n_distinct")
        .as[(Long, Long)].collect().toSet
      assert(dSnap == dRecomp, s"distinct maintained != recomputed at ×$n")
      // moments maintenance over the same feed span: exact decimal
      // moment state must equal the recompute at every factor
      val vm = LakeTable(spark, root, s"m$n", Seq("o_custkey"))
      vm.drop()
      vm.create(IncrementalView.momentsView(base, Seq("o_custkey"),
        "o_totalprice"))
      IncrementalView.maintainMomentsView(t, vm, Seq("o_custkey"),
        "o_totalprice", v0)
      def mSnap(df: org.apache.spark.sql.DataFrame) =
        df.select(col("o_custkey"), col("n"),
            col("sum_value").cast("string"), col("sum_sq").cast("string"))
          .as[(Long, Long, String, String)].collect().toSet
      assert(mSnap(vm.read) == mSnap(IncrementalView.momentsView(
        t.read, Seq("o_custkey"), "o_totalprice")),
        s"moments maintained != recomputed at ×$n")
      // fused stats maintenance (one feed pass, rescan included)
      val vst = LakeTable(spark, root, s"s$n", Seq("o_custkey"))
      vst.drop()
      vst.create(IncrementalView.statsView(base, Seq("o_custkey"),
        "o_totalprice"))
      IncrementalView.maintainStatsView(t, vst, Seq("o_custkey"),
        "o_totalprice", v0)
      def stSnap(df: org.apache.spark.sql.DataFrame) =
        df.select(col("o_custkey"), col("n"),
            col("sum_value").cast("string"), col("min_value").cast("string"),
            col("max_value").cast("string"), col("sum_sq").cast("string"))
          .as[(Long, Long, String, String, String, String)].collect().toSet
      assert(stSnap(vst.read) == stSnap(IncrementalView.statsView(
        t.read, Seq("o_custkey"), "o_totalprice")),
        s"fused stats maintained != recomputed at ×$n")
      // STREAMING drains over the same recorded feed (the probe's
      // stream_sum/stream_stats rows): the foreachBatch cores must
      // land the identical state the batch maintainers do, at every
      // inflation factor — feed-invariance above then pins that their
      // consumed volume does not grow with the base
      val vss = LakeTable(spark, root, s"ss$n", Seq("o_custkey"))
      vss.drop()
      vss.create(IncrementalView.sumView(base, Seq("o_custkey"),
        "o_totalprice"))
      graft.streaming.Streams.maintainSumViewFromChangeFeed(
        t.readChangeFeedStream, vss, Seq("o_custkey"), "o_totalprice",
        appId = s"ci_ss$n")
      val ssSnap = vss.read.select(col("o_custkey"), col("n"),
          col("sum_value").cast("string"))
        .as[(Long, Long, String)].collect().toSet
      assert(ssSnap == recomp, s"stream-sum drain != recompute at ×$n")
      val vsts = LakeTable(spark, root, s"sts$n", Seq("o_custkey"))
      vsts.drop()
      vsts.create(IncrementalView.statsView(base, Seq("o_custkey"),
        "o_totalprice"))
      graft.streaming.Streams.maintainStatsViewFromChangeFeed(
        t.readChangeFeedStream, t, vsts, Seq("o_custkey"), "o_totalprice",
        appId = s"ci_sts$n")
      assert(stSnap(vsts.read) == stSnap(IncrementalView.statsView(
        t.read, Seq("o_custkey"), "o_totalprice")),
        s"stream-stats drain != recompute at ×$n")
      (feedRows, snap)
    }
    val (f1, _) = run(1)
    val (f4, _) = run(4)
    assert(f1 > 0, "fixture batch must produce changes")
    assert(f4 == f1,
      s"feed volume must be invariant under base inflation ($f1 vs $f4)")
  }

  test("dedup index: fixed change batch → feed volume invariant under ×4 " +
      "corpus inflation, maintained pairs == batch recompute at each factor") {
    import graft.table.{DedupIndex, LakeTable}
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1
    def run(n: Int): (Long, Set[(Long, Long)]) = {
      val base = inflate(
        Tables.load(spark, sf, "documents").select("doc_id", "text", "lang"),
        maxId, n).select("doc_id", "text")
      val root = s"$tablesRoot/probe_spec_didx"
      val t = LakeTable(spark, root, s"pd$n", Seq("doc_id"),
        changeFeed = true)
      t.drop()
      val di = DedupIndex(spark, root, s"pdi$n")
      t.create(base)
      di.build(t.read, "doc_id", "text")
      val v0 = t.version
      // fixed batch on replica-0 ids (same shape as the probe family)
      t.upsert(docs.filter(col("doc_id") % 31 === 5)
        .select(col("doc_id"),
          concat(lit("zq xv wq "), col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 37 === 11)
          .select((col("doc_id") + lit(64L * maxId)).as("doc_id"),
            col("text"))))
      t.delete(col("doc_id") % 41 === 3 && col("doc_id") < maxId)
      val feedRows = t.changesSince(v0).count()
      di.maintain(t, "doc_id", "text", v0)
      val maintained = di.pairs.read.select(col("a_id").cast("long"),
        col("b_id").cast("long")).as[(Long, Long)].collect().toSet
      val batch = graft.operators.Dedup.minhashLshPairs(t.read, "doc_id",
          "text", shingleN = 3, k = 64, bands = 16, threshold = 0.7)
        .select(col("a_id").cast("long"), col("b_id").cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(maintained == batch, s"maintained != batch recompute at ×$n")
      (feedRows, maintained)
    }
    val (f1, p1) = run(1)
    val (f4, p4) = run(4)
    assert(f1 == f4, s"fixed batch must give invariant feed rows: $f1 vs $f4")
    // replica-0-touching pairs are identical across factors (inflation
    // replicas are shingle-disjoint, so no cross-replica pairs appear)
    assert(p1.subsetOf(p4),
      "×1 maintained pairs must survive unchanged inside the ×4 corpus")
  }

  test("feed compaction: raw event volume grows with the version span, " +
      "the compacted net stays O(hot keys) — invariant in span length") {
    import graft.table.LakeTable
    val orders = Tables.load(spark, sf, "orders")
    def run(n: Int): (Long, Long, Long) = {
      val root = s"$tablesRoot/probe_spec_feed"
      val t = LakeTable(spark, root, s"fr$n", Seq("o_orderkey"),
        changeFeed = true)
      t.drop(); t.create(orders)
      val v0 = t.version
      // every version re-prices the SAME hot keys (all present in the
      // base), so each contributes exactly one pre/post pair per key
      val hot = orders.filter(col("o_orderkey") % 97 === 0)
        .localCheckpoint(true)
      (1 to n).foreach(i => t.upsert(hot.withColumn("o_totalprice",
        col("o_totalprice") * lit(1.0 + i * 0.01))))
      val raw = t.changesSince(v0).count()
      t.compactChangeFeed(v0, t.version)
      (hot.count(), raw, t.changesSince(v0).count())
    }
    val (k2, raw2, net2) = run(2)
    val (k4, raw4, net4) = run(4)
    assert(k2 > 0 && k2 == k4)
    assert(raw2 == 2 * 2 * k2 && raw4 == 4 * 2 * k4,
      s"raw log must be O(versions × keys): $raw2/$raw4 for $k2 keys")
    assert(net2 == 2 * k2 && net4 == 2 * k4,
      s"compacted net must be ONE pre/post pair per hot key regardless " +
        s"of span length: $net2/$net4 for $k2 keys")
  }
}

/** The corpus and events inflations the scaling pins run. */
object ScaleProbeSpec {

  /** Shingle-disjoint ×n corpus inflation (see object doc): replica r
    * shifts ids past `maxId` and prefixes every token with `r<r>`, so
    * replicas share no shingles while each reproduces the original's
    * internal dup structure — true near-dup pairs scale exactly ×n. */
  def inflate(docs: DataFrame, maxId: Long, n: Int): DataFrame =
    (0 until n).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r * maxId)).as("doc_id"),
        // prefix EVERY token: replicas share no shingles with each
        // other or the original, so near-dup structure is per-replica
        regexp_replace(col("text"), "([A-Za-z0-9]+)", s"r$r$$1").as("text"),
        col("lang"))
    }.reduce(_ unionByName _)

  /** Near-dup DENSIFIED corpus for the dense-pairs probe: every doc with
    * `doc_id % every == 0` gains `copies` near-duplicate variants (ids
    * shifted past `maxId` per variant, text prefixed with a 3-token
    * variant-distinct filler — a long doc keeps shingle-Jaccard well
    * above threshold), so the true pair volume is ≈ C(copies+1, 2)/every
    * pairs per corpus row ON TOP of the corpus's own near-dup structure.
    * This is the regime where the pairs table rivals the postings
    * sidecar in stored volume — what the symmetric `__ab` layout's 2×
    * row cost is paid in — and density is uniform across replicas, so
    * pairs still scale exactly ×n under [[inflate]]. */
  def densify(docs: DataFrame, maxId: Long, every: Int,
      copies: Int): DataFrame =
    docs.select("doc_id", "text").unionByName(
      (1 to copies).map { r =>
        docs.filter(col("doc_id") % every === 0)
          .select((col("doc_id") + lit(r * maxId)).as("doc_id"),
            concat(lit(s"dv$r vq$r zz$r "), col("text")).as("text"))
      }.reduce(_ unionByName _))

  /** Events inflation for the profiling / rolling-sketch probes: replica
    * r shifts event_id and user_id past their max while keeping
    * timestamps — each replica reproduces the original key-frequency
    * histogram over fresh keys (n_keys/n_rows scale exactly ×n,
    * max/avg frequency invariant) and per-day distinct users scale
    * exactly ×n, which is what makes the measured slope and the
    * exactness pins in the spec interpretable. */
  def inflateEvents(ev: DataFrame, maxEvent: Long, maxUser: Long,
      n: Int): DataFrame =
    (0 until n).map { r =>
      if (r == 0) ev
      else ev.select(
        (col("event_id") + lit(r * maxEvent)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r * maxUser)).as("user_id"),
        col("event_type"), col("value"))
    }.reduce(_ unionByName _)
}

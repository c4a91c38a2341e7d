package graft

import org.apache.spark.sql.functions._

import graft.ops.ScaleOps

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns the same rows as a plain join") {
    val fact = Seq.tabulate(100)(i => (i % 3L, s"row$i")).toDF("k", "v")
    val dim = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "d")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "d")
      .as[(Long, String, String)].collect().toSet
    val salted = ScaleOps.saltedJoin(fact, dim, "k", buckets = 4)
      .select("k", "v", "d").as[(Long, String, String)].collect().toSet
    assert(salted == plain)
  }

  test("bloomSemiJoin equals the plain semi-join (bloom only prunes)") {
    val fact = Tables.load(spark, sf, "lineitem")
      .select(col("l_suppkey").as("s_suppkey"), col("l_quantity"))
    val dim = Tables.load(spark, sf, "supplier")
      .filter(col("s_acctbal") > 5000).select("s_suppkey")
    val plain = graft.ops.CoreOps.semiJoin(Seq("s_suppkey"), dim)(fact)
      .groupBy("s_suppkey").count()
      .as[(Long, Long)].collect().toSet
    val bloomed = ScaleOps.bloomSemiJoin(fact, dim, "s_suppkey")
      .groupBy("s_suppkey").count()
      .as[(Long, Long)].collect().toSet
    assert(bloomed == plain)
  }

  test("bloomSemiJoin is exact for STRING keys (build/probe hash parity)") {
    // regression: bloom built on raw strings but probed as long produced
    // arbitrary false negatives — string keys must round-trip losslessly
    val fact = Tables.load(spark, sf, "documents").select("doc_id", "lang")
    val dim = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 3 === 0).select("lang").distinct()
    val plain = graft.ops.CoreOps.semiJoin(Seq("lang"), dim)(fact)
      .groupBy("lang").count().as[(String, Long)].collect().toSet
    val bloomed = ScaleOps.bloomSemiJoin(fact, dim, "lang")
      .groupBy("lang").count().as[(String, Long)].collect().toSet
    assert(bloomed == plain)
    assert(bloomed.nonEmpty)
  }

  test("stratifiedSample hits per-stratum fractions, deterministic by seed") {
    val docs = Tables.load(spark, sf, "documents")
    val fr = Map("en" -> 0.5, "de" -> 1.0) // other langs dropped
    val s1 = ScaleOps.stratifiedSample(docs, "lang", fr, seed = 7L)
    val s2 = ScaleOps.stratifiedSample(docs, "lang", fr, seed = 7L)
    assert(s1.select("doc_id").as[Long].collect().toSet ==
      s2.select("doc_id").as[Long].collect().toSet) // same seed → same rows
    val byLang = s1.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val total = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang.keySet == Set("en", "de"))
    assert(byLang("de") == total("de")) // fraction 1.0 keeps everything
    val ratio = byLang("en").toDouble / total("en")
    assert(ratio > 0.3 && ratio < 0.7, s"en ratio $ratio")
  }

  test("weightedMixtureSample: deterministic, monotone in weight, near-rate") {
    val docs = Tables.load(spark, sf, "documents")
    def kept(w: Double): Set[Long] =
      ScaleOps.weightedMixtureSample(docs, "doc_id", lit(w))
        .select("doc_id").as[Long].collect().toSet
    val k4a = kept(0.4)
    // pure function of the id: identical across runs and repartitioning
    assert(kept(0.4) == k4a)
    assert(ScaleOps.weightedMixtureSample(docs.repartition(7), "doc_id", lit(0.4))
      .select("doc_id").as[Long].collect().toSet == k4a)
    // monotone: raising the weight only ADDS documents
    val k2 = kept(0.2)
    val k8 = kept(0.8)
    assert(k2.subsetOf(k4a) && k4a.subsetOf(k8))
    // realized rate tracks the weight (multiplicative hash is uniform)
    val n = docs.count().toDouble
    assert(math.abs(k4a.size / n - 0.4) < 0.15, s"rate ${k4a.size / n}")
    assert(kept(1.0).size == n.toLong) // weight 1.0 keeps everything
    assert(kept(0.0).isEmpty)
  }

  test("consistentSamplePerGroup: exact per-group counts, subset, repartition-stable") {
    val docs = Tables.load(spark, sf, "documents")
    val sampled = ScaleOps.consistentSamplePerGroup(
      docs, Seq("lang"), Seq("doc_id"), k = 5, seed = 11L)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    val groupSizes = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val perGroup = sampled.groupBy(_._1).view.mapValues(_.size).toMap
    groupSizes.foreach { case (lang, n) =>
      assert(perGroup(lang) == math.min(5L, n), lang)
    }
    // sampled rows are real rows of their group
    val all = docs.select("lang", "doc_id").as[(String, Long)].collect().toSet
    assert(sampled.subsetOf(all))
    // identical choice under a different physical layout (hash is a pure
    // function of the row, not of order/partitioning)
    val reshuffled = ScaleOps.consistentSamplePerGroup(
      docs.repartition(17, col("doc_id")), Seq("lang"), Seq("doc_id"),
      k = 5, seed = 11L)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    assert(reshuffled == sampled)
    // a different seed picks a different sample (with overwhelming odds)
    val otherSeed = ScaleOps.consistentSamplePerGroup(
      docs, Seq("lang"), Seq("doc_id"), k = 5, seed = 12L)
      .select("lang", "doc_id").as[(String, Long)].collect().toSet
    assert(otherSeed != sampled)
  }

  test("profileColumns: one-pass long-format stats incl. nulls") {
    val df = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "b"))
      .toDF("id", "v")
    val p = ScaleOps.profileColumns(df, Seq("id", "v"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(p("id") == (("id", 3L, 2L, 2L, "1", "2")))
    assert(p("v") == (("v", 3L, 3L, 2L, "a", "b")))
  }

  test("observedSplitMetrics counts input/valid/rejected in one pass") {
    val df = Seq(
      (Some(1L), "a"), (Some(2L), "b"), (None, "c")
    ).toDF("id", "v")
    val (instrumented, obs) = ScaleOps.observedSplitMetrics(df, Seq("id"))
    instrumented.write.mode("overwrite")
      .parquet(java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "obs").toString + "/t")
    val m = obs.get
    assert(m("n_input") == 3L && m("n_valid") == 2L && m("n_rejected") == 1L)
  }

  test("hashSampledQuantiles estimates true quantiles within sampling error") {
    import spark.implicits._
    // deterministic skewed-ish values over 20k ids; k=2048 sample
    val df = (1 to 20000).map(i => (i.toLong, (i % 997).toDouble))
      .toDF("id", "v")
    val out = ScaleOps.hashSampledQuantiles(df, "id", "v",
      k = 2048, probs = Seq(0.5, 0.9)).head()
    // true p50 ~498, p90 ~897 over the 0..996 uniform residues; allow
    // generous sampling tolerance (~3/sqrt(k) of the range)
    assert(math.abs(out.getDouble(0) - 498.0) < 70, out.toString)
    assert(math.abs(out.getDouble(1) - 897.0) < 70, out.toString)
  }

  test("hashSampledQuantiles with k >= n equals exact quantiles") {
    import spark.implicits._
    val df = (1 to 101).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val out = ScaleOps.hashSampledQuantiles(df, "id", "v",
      k = 1000, probs = Seq(0.5)).head()
    assert(out.getDouble(0) == 51.0)
  }

  test("hashSampledQuantilesPerGroup samples each group independently") {
    import spark.implicits._
    // group "a": values 0..9 exactly (k >= n => exact quantiles);
    // group "b": constant 7 => every quantile is 7
    val df = ((1 to 10).map(i => (i.toLong, "a", (i - 1).toDouble)) ++
      (11 to 30).map(i => (i.toLong, "b", 7.0))).toDF("id", "g", "v")
    val out = ScaleOps.hashSampledQuantilesPerGroup(df, "g", "id", "v",
      k = 100, probs = Seq(0.5, 1.0))
      .as[(String, Double, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(("a", 4.5, 9.0), ("b", 7.0, 7.0)))
  }

  test("hashSampledQuantiles plans a TakeOrdered, not a global sort") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val plan = df.select(col("v"), md5(col("id").cast("string")).as("__h"))
      .orderBy("__h").limit(64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("epochShuffle: reproducible per epoch, different across epochs") {
    import spark.implicits._
    val df = (1L to 200L).toDF("id")
    def order(epoch: Int) =
      graft.ops.ScaleOps.epochShuffle(df, "id", epoch)
        .as[Long].collect().toSeq
    val e1 = order(1)
    assert(e1 == order(1)) // rerun-stable
    assert(e1.sorted == (1L to 200L)) // a permutation, nothing lost
    val e2 = order(2)
    assert(e2 != e1 && e2.sorted == e1.sorted) // new permutation per epoch
    // partitioning-independent: same order from a differently-split input
    val repart = graft.ops.ScaleOps.epochShuffle(df.repartition(7), "id", 1)
      .as[Long].collect().toSeq
    assert(repart == e1)
  }

  test("hashStratifiedSample: exact hash rule, absent strata drop, monotone") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("id", "grp")
    val got = graft.ops.ScaleOps.hashStratifiedSample(
      df, "grp", "id", Map("a" -> 0.5, "b" -> 0.2))
      .as[(Long, String)].collect().toSet
    // exact replay of the Knuth-hash threshold rule
    def hash(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)
    val want = (1L to 1000L).flatMap { i =>
      val grp = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      val f = Map("a" -> 0.5, "b" -> 0.2).getOrElse(grp, 0.0)
      if (hash(i) < math.floor(f * 4294967296.0).toLong) Some((i, grp)) else None
    }.toSet
    assert(got == want)
    assert(!got.exists(_._2 == "c")) // absent stratum drops entirely
    // monotone: raising a fraction only ADDS rows
    val wider = graft.ops.ScaleOps.hashStratifiedSample(
      df, "grp", "id", Map("a" -> 0.8, "b" -> 0.2))
      .as[(Long, String)].collect().toSet
    assert(got.subsetOf(wider))
  }

  test("temperatureMixSample: smallest source keeps all, sqrt-scaled " +
      "rates replay exactly, repartition-stable") {
    import spark.implicits._
    val df = ((1L to 100L).map(i => (i, "big")) ++
      (1001L to 1025L).map(i => (i, "small"))).toDF("id", "src")
    val bySrc = graft.ops.ScaleOps.temperatureMixSample(df, "src", "id")
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(bySrc("small") == 25) // n_min source: rate 1, keeps everything
    // big keeps per-row hash < sqrt(25/100)·2³² — exact scalar replay
    def hash(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 4294967296L)
    val thr = math.floor(math.sqrt(25.0 / 100.0) * 4294967296.0).toLong
    assert(bySrc("big") == (1L to 100L).count(hash(_) < thr))
    val re = graft.ops.ScaleOps.temperatureMixSample(
      df.repartition(7), "src", "id")
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(re == bySrc)
  }

  test("kmvDistinct: exact under k, inside KMV error bound over k, " +
      "repartition-stable") {
    import spark.implicits._
    // fewer than k distinct values → the sketch saw everything: exact
    val small = (1L to 40L).map(i => (i, "s")).toDF("id", "grp")
    assert(graft.ops.ScaleOps.kmvDistinct(small, Seq("grp"), "id", k = 64)
      .as[(String, Long)].head() == ("s", 40L))
    // 10k distinct per group at k=256: KMV relative error ~1/√(k-2) ≈ 6%
    val df = (1L to 20000L).map(i => (i, "g" + (i % 2))).toDF("id", "grp")
    val est = graft.ops.ScaleOps.kmvDistinct(df, Seq("grp"), "id", k = 256)
      .as[(String, Long)].collect().toMap
    est.values.foreach(v =>
      assert(math.abs(v - 10000.0) / 10000.0 < 0.25, est)) // 4σ headroom
    // pure function of the value set — partitioning cannot move it
    val re = graft.ops.ScaleOps.kmvDistinct(
      df.repartition(13), Seq("grp"), "id", k = 256)
      .as[(String, Long)].collect().toMap
    assert(re == est)
    // nulls excluded like count_distinct (and Spark/DuckDB order null
    // hashes at opposite ends, so including them would break the oracle)
    val withNulls = (1L to 30L)
      .map(i => (if (i % 3 == 0) None else Some(i), "n"))
      .toDF("id", "grp")
    assert(graft.ops.ScaleOps.kmvDistinct(withNulls, Seq("grp"), "id", k = 64)
      .as[(String, Long)].head() == ("n", 20L))
  }

  test("kmvSetOps: exact below k, bounded estimates + invariants above") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A = 1..40, B = 21..60 → |A|=40 |B|=40 |A∪B|=60 |A∩B|=20; union
    // under k ⇒ every output is the exact count
    val small = (1L to 60L).map(i => (i, if (i <= 40) "a" else "x",
      if (i > 20) "b" else "x")).toDF("id", "ta", "tb")
    val ex = graft.ops.ScaleOps.kmvSetOps(small, "id",
      col("ta") === "a", col("tb") === "b", k = 64)
      .as[(Long, Long, Long, Long)].head()
    assert(ex == ((40L, 40L, 60L, 20L)))
    // A = 1..2000, B = 1001..3000 at k=256: errors inside 4σ of the
    // ~1/√(k-2) bound; intersection via ρ/k scaling is noisier — pin a
    // generous band plus the structural invariants
    val big = (1L to 3000L).map(i => (i, i <= 2000, i > 1000))
      .toDF("id", "ia", "ib")
    val (ea, eb, eu, ei) = graft.ops.ScaleOps.kmvSetOps(big, "id",
      col("ia"), col("ib"), k = 256)
      .as[(Long, Long, Long, Long)].head()
    assert(math.abs(ea - 2000.0) / 2000.0 < 0.25, (ea, eb, eu, ei))
    assert(math.abs(eb - 2000.0) / 2000.0 < 0.25, (ea, eb, eu, ei))
    assert(math.abs(eu - 3000.0) / 3000.0 < 0.25, (ea, eb, eu, ei))
    assert(math.abs(ei - 1000.0) / 1000.0 < 0.40, (ea, eb, eu, ei))
    assert(ei <= math.min(ea, eb) && eu <= ea + eb, (ea, eb, eu, ei))
    // pure function of the value sets — partitioning cannot move it
    val re = graft.ops.ScaleOps.kmvSetOps(big.repartition(13), "id",
      col("ia"), col("ib"), k = 256)
      .as[(Long, Long, Long, Long)].head()
    assert(re == ((ea, eb, eu, ei)))
  }

  test("saltedAgg == plain groupBy under planted 90% key skew") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 90% of rows share one hot key — the reduce-side shape saltedAgg
    // exists for; decomposable sums make equality exact, not approximate
    val df = (1L to 2000L)
      .map(i => (if (i % 10 != 0) "hot" else s"k${i % 7}", i / 100.0))
      .toDF("k", "v")
    val salted = graft.ops.ScaleOps.saltedAgg(df, Seq("k"), "v", buckets = 8)
      .as[(String, Long, Double)].collect().toSet
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v").cast("decimal(20,4)")).cast("double").as("sum_value"))
      .as[(String, Long, Double)].collect().toSet
    assert(salted == plain)
    // phase 1 really splits the hot key: > 1 salt bucket materializes
    val buckets = df.withColumn("__salt",
        (rand(seed = 42) * 8).cast("int"))
      .filter(col("k") === "hot").select("__salt").distinct().count()
    assert(buckets > 1, s"salt produced $buckets bucket(s)")
  }

  test("knuthHash is total over huge ids (past naive Long overflow)") {
    import spark.implicits._
    // ids ≥ ~3.47e9 overflow a naive id*2654435761 Long multiply; the
    // split-multiply formulation must still equal the exact BigInt map
    val ids = Seq(0L, 1L, 3470000000L, 4294967295L, 4294967296L,
      1234567890123L, Long.MaxValue, Long.MaxValue - 7L)
    val got = ids.toDF("id")
      .select(col("id"), graft.ops.ScaleOps.knuthHash(col("id")).as("h"))
      .as[(Long, Long)].collect().toMap
    ids.foreach { i =>
      val want = ((BigInt(i).mod(BigInt(2).pow(32))) * BigInt(2654435761L))
        .mod(BigInt(2).pow(32)).toLong
      assert(got(i) == want, s"id=$i")
    }
  }

  test("epochPositions equals the global-window row_number, windowlessly") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 500L).toDF("id")
    val got = graft.ops.ScaleOps.epochPositions(df, "id", epoch = 3)
      .as[(Long, Long)].collect().toMap
    val want = df.withColumn("pos", row_number().over(Window.orderBy(
        graft.ops.ScaleOps.epochShuffleKey(col("id"), 3), col("id")))
        .cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    // positions are a permutation of 1..n
    assert(got.values.toSeq.sorted == (1L to 500L))
    // and the plan really has no unpartitioned window
    val lint = graft.plans.PlanLint.lint(
      graft.ops.ScaleOps.epochPositions(df, "id", epoch = 3))
    assert(!lint.exists(f => f.rule == "global-window" && f.severity == "error"),
      lint)
  }
  test("rollingKmvDistinct: sketch-merged windows equal exact sliding distinct") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    // day 1: users 1,2; day 2: users 2,3; day 10: user 9 (outside any
    // 3-day window of the first two)
    val rows = Seq(
      (d("2024-01-01"), 1L), (d("2024-01-01"), 2L),
      (d("2024-01-02"), 2L), (d("2024-01-02"), 3L),
      (d("2024-01-10"), 9L))
      .toDF("day", "user_id")
    val got = ScaleOps.rollingKmvDistinct(rows, "day", "user_id",
        windowDays = 3, k = 64)
      .orderBy("day")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .toSeq
    // window@01-01: {1,2}; @01-02: both days, {1,2,3} — user 2 counted
    // ONCE across days (sketch union, not sum); @01-10: {9} alone
    assert(got == Seq(
      ("2024-01-01", 1L, 2L), ("2024-01-02", 2L, 3L),
      ("2024-01-10", 1L, 1L)))
    // no phantom window rows for dataless anchor days (01-03, 01-04
    // would otherwise inherit day-02's sketch)
    assert(got.map(_._1) == Seq("2024-01-01", "2024-01-02", "2024-01-10"))
  }

  test("tokenBudgetSample: budget-prefix in md5 order, deterministic") {
    val docs = (1L to 6L).map(i => ("s", i, ("w " * 10).trim))
      .toDF("src", "id", "txt")
    val got = ScaleOps.tokenBudgetSample(docs, "src", "id", "txt", 25L)
      .orderBy("cum_tok").collect()
    // every doc is 10 tokens; docs starting at cum 0, 10, 20 are kept
    assert(got.length == 3)
    assert(got.map(_.getAs[Long]("cum_tok")).toSeq == Seq(10L, 20L, 30L))
    // deterministic: same kept ids on a rerun
    val again = ScaleOps.tokenBudgetSample(docs, "src", "id", "txt", 25L)
      .orderBy("cum_tok").collect()
    assert(got.map(_.getAs[Long]("id")).toSeq ==
      again.map(_.getAs[Long]("id")).toSeq)
    // a doc's worth of budget keeps exactly one doc per source
    assert(ScaleOps.tokenBudgetSample(docs, "src", "id", "txt", 1L)
      .count() == 1)
  }

  test("weightedSamplePerGroup: exact k, weight-proportional inclusion, deterministic") {
    // group g: 1000 items, item 0 carries 50× the weight of the rest —
    // over many disjoint seeds its inclusion frequency must far exceed
    // a uniform item's k/n
    val df = (0 until 1000).map(i => ("g", i.toLong,
      if (i == 0) 50.0 else 1.0)).toDF("grp", "id", "w")
    val k = 10
    val hits = (1 to 40).map { seed =>
      val s = ScaleOps.weightedSamplePerGroup(df, Seq("grp"), "id", "w",
        k, seed.toLong).select("id").as[Long].collect()
      assert(s.length == k)
      assert(s.distinct.length == k) // without replacement
      if (s.contains(0L)) 1 else 0
    }.sum
    // P(include heavy) = 1-(1-p)… with w=50/1049 per draw ≈ 0.38 vs
    // uniform ≈ 0.01; 40 trials → expect ≈ 15 hits, uniform ≈ 0.4
    assert(hits >= 5, s"heavy item sampled only $hits/40 times")
    // deterministic for a fixed seed
    val a = ScaleOps.weightedSamplePerGroup(df, Seq("grp"), "id", "w", k, 3L)
      .orderBy("sample_rank").collect().toSeq
    val b = ScaleOps.weightedSamplePerGroup(df, Seq("grp"), "id", "w", k, 3L)
      .orderBy("sample_rank").collect().toSeq
    assert(a == b)
    // zero/negative weights are excluded, not sampled
    val z = ScaleOps.weightedSamplePerGroup(
      Seq(("g", 1L, 0.0), ("g", 2L, 1.0)).toDF("grp", "id", "w"),
      Seq("grp"), "id", "w", 5)
    assert(z.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("dsirWeights: target-domain docs score above off-domain, exact token counts") {
    // target docs speak vocabulary A, off-domain docs vocabulary B, one
    // mixed doc sits between — the weight ordering is the operator's job
    val docs = Seq(
      (1L, "alpha beta gamma alpha", "en"),
      (2L, "beta gamma alpha beta gamma", "en"),
      (3L, "zork quux blarg zork quux", "de"),
      (4L, "alpha zork beta quux", "de"),
      (5L, "blarg blarg quux zork", "de")).toDF("doc_id", "text", "lang")
    val got = ScaleOps.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 64)
      .orderBy("doc_id").collect()
    val w = got.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val nTok = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nTok == Map(1L -> 4L, 2L -> 5L, 3L -> 5L, 4L -> 4L, 5L -> 4L))
    // per-token average ordering: pure-target docs above the mixed doc,
    // mixed above pure-off-domain (absolute signs depend on smoothing
    // mass at this tiny corpus size — the ORDERING is the contract)
    def perTok(id: Long) = w(id) / nTok(id)
    assert(perTok(1L) > perTok(4L) && perTok(2L) > perTok(4L),
      s"target docs not above mixed: $w")
    assert(perTok(4L) > perTok(3L) && perTok(4L) > perTok(5L),
      s"mixed doc not above off-domain: $w")
    // deterministic replay — the decimal-sum contract leaves no float
    // accumulation order to vary
    val again = ScaleOps.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en", buckets = 64).orderBy("doc_id").collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}

package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.CoreOps._
import graft.table.LakeTable

/** Property-based invariants (SURVEY.md §5.2): merge idempotency, dedup
  * cardinality, split partition. Small generated tables, full operator
  * stack. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  // raw ScalaCheck sampling with fixed seeds (scalatestplus bridge is not
  // in the offline cache): deterministic, 10 cases per property
  private def cases[T](g: Gen[T], n: Int = 10): Seq[T] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default.withSize(20), Seed(i.toLong)))

  private def forAllCases[T](g: Gen[T], n: Int = 10)(f: T => Unit): Unit =
    cases(g, n).foreach(f)

  private val rowGen = for {
    id <- Gen.chooseNum(0L, 15L)
    ts <- Gen.option(Gen.chooseNum(0L, 5L))
    v <- Gen.alphaStr.map(_.take(4))
  } yield (id, ts, v)

  private val tableGen = Gen.listOf(rowGen)

  test("valid ∪ rejected == input (row-count preserving, any null pattern)") {
    forAllCases(tableGen) { rows =>
      val df = rows.toDF("id", "ts", "v")
      val (valid, rejected) = splitValid(Seq("ts"))(df)
      assert(valid.count() + rejected.count() == rows.size)
    }
  }

  test("latestWins yields exactly one row per present key") {
    forAllCases(tableGen) { rows =>
      val df = rows.toDF("id", "ts", "v")
      val out = latestWins(Seq("id"), "ts", tiebreakers = Seq($"v"))(df)
      val keys = rows.map(_._1).distinct.size
      assert(out.count() == keys)
      assert(out.select("id").distinct().count() == keys)
    }
  }

  private val tsRowGen = for {
    k <- Gen.chooseNum(0L, 3L)
    sec <- Gen.chooseNum(0L, 5000L)
    v <- Gen.chooseNum(0, 999)
  } yield (k, new java.sql.Timestamp(1700000000000L + sec * 1000), v.toLong)

  test("asOf join matches the brute-force definition on random data") {
    import graft.operators.AsOfJoin
    forAllCases(Gen.zip(Gen.listOf(tsRowGen), Gen.nonEmptyListOf(tsRowGen))) {
      case (lRows, rRows) =>
        val left = lRows.toDF("k", "ts", "lv")
        val right = rRows.map { case (k, ts, v) => (k, ts, v * 10) }.toDF("k", "ts", "rv")
        val got = AsOfJoin.asOf(left, right, Seq("k"), "ts", "ts", Seq("rv"))
          .select("k", "ts", "lv", "asof_rv")
          .as[(Long, java.sql.Timestamp, Long, Option[Long])].collect()
          .groupBy(r => (r._1, r._2, r._3)).view.mapValues(_.map(_._4).toSet).toMap
        lRows.foreach { case (k, ts, lv) =>
          val eligible = rRows.filter(r => r._1 == k && !r._2.after(ts))
          val expected =
            if (eligible.isEmpty) None
            else {
              val maxTs = eligible.map(_._2.getTime).max
              // ties on (k, ts) in the right side: any peer is a valid answer
              Some(eligible.filter(_._2.getTime == maxTs).map(_._3 * 10).toSet)
            }
          val gotSet = got((k, ts, lv))
          expected match {
            case None => assert(gotSet == Set(None))
            case Some(valid) => gotSet.foreach(g => assert(g.exists(valid.contains)))
          }
        }
    }
  }

  test("binned range join matches the naive theta join on random data") {
    import graft.operators.RangeJoin
    forAllCases(Gen.zip(Gen.listOf(tsRowGen), Gen.listOf(tsRowGen))) {
      case (lRows, rRows) =>
        val left = lRows.zipWithIndex.map { case ((k, ts, _), i) => (k, ts, i.toLong) }
          .toDF("k", "ts", "lid")
        val right = rRows.zipWithIndex.map { case ((k, ts, _), i) => (k, ts, i.toLong) }
          .toDF("k", "ts", "rid")
        val w = 600L
        val got = RangeJoin.windowFollowing(left, right, Seq("k"), "ts", "ts",
          Seq("rid"), windowSeconds = w, binSecondsOpt = Some(250))
          .select("lid", "r_rid").as[(Long, Long)].collect().toSet
        val expected = (for {
          ((lk, lts, _), li) <- lRows.zipWithIndex
          ((rk, rts, _), ri) <- rRows.zipWithIndex
          if rk == lk && rts.getTime >= lts.getTime &&
            rts.getTime < lts.getTime + w * 1000
        } yield (li.toLong, ri.toLong)).toSet
        assert(got == expected)
    }
  }

  test("dedupFamilies matches a driver-side union-find on random graphs") {
    import graft.operators.Dedup
    val graphGen = for {
      n <- Gen.chooseNum(1, 30)
      edges <- Gen.listOf(for {
        a <- Gen.chooseNum(0L, n.toLong - 1)
        b <- Gen.chooseNum(0L, n.toLong - 1) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield (n, edges.distinct)
    forAllCases(graphGen) { case (n, edges) =>
      val ids = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("a_id", "b_id")
      val got = Dedup.dedupFamilies(ids, pairs, "doc_id")
        .as[(Long, Long)].collect().toMap
      // reference: classic union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      assert(got == want, s"n=$n edges=$edges")
    }
  }

  test("pruned upsert equals unpruned under arbitrary cross-partition key moves") {
    // keys re-draw their partition value between target and source, so
    // matched rows frequently change partition — the case where unsafe
    // pruning leaves a stale duplicate behind
    val partRowGen = for {
      id <- Gen.chooseNum(0L, 15L)
      p <- Gen.oneOf("a", "b", "c", "", "x y") // incl. empty + space
      v <- Gen.alphaStr.map(_.take(4))
    } yield (id, p, v)
    forAllCases(Gen.zip(Gen.listOf(partRowGen), Gen.listOf(partRowGen))) {
      case (t, s) if t.nonEmpty =>
        val target = t.toDF("id", "p", "v")
        val source = latestWins(Seq("id"), "v", tiebreakers = Seq($"p"))(
          s.toDF("id", "p", "v"))
        def run(prune: Boolean): Seq[String] = {
          val root = Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "prop_prune").toString
          val tbl = LakeTable(spark, root, "t", Seq("id"), partitionCols = Seq("p"))
          tbl.create(target)
          tbl.upsert(source, prunePartitions = prune)
          tbl.read.collect().map(_.toString).sorted.toSeq
        }
        assert(run(prune = true) == run(prune = false), s"t=$t s=$s")
      case _ => ()
    }
  }

  test("stratifiedSample per-stratum fractions within Bernoulli tolerance") {
    import graft.ops.ScaleOps
    val n = 400
    val df = (0 until 3).flatMap(s => (0 until n).map(i =>
      (s.toLong * n + i, s"stratum$s"))).toDF("id", "lang")
    val fracGen = Gen.zip(Gen.chooseNum(0.1, 0.9), Gen.chooseNum(0.1, 0.9),
      Gen.chooseNum(1L, 9999L))
    forAllCases(fracGen) { case (f0, f1, seed) =>
      val fr = Map("stratum0" -> f0, "stratum1" -> f1) // stratum2 dropped
      val got = ScaleOps.stratifiedSample(df, "lang", fr, seed)
        .groupBy("lang").count()
        .as[(String, Long)].collect().toMap
      assert(!got.contains("stratum2")) // absent stratum fully dropped
      fr.foreach { case (k, f) =>
        val c = got.getOrElse(k, 0L).toDouble
        // 4.5σ Bernoulli envelope + 1: deterministic-by-seed, never flaky
        val tol = 4.5 * math.sqrt(n * f * (1 - f)) + 1
        assert(math.abs(c - n * f) <= tol,
          s"$k: got $c, want ${n * f} ± $tol (f=$f seed=$seed)")
      }
      // same seed → identical sample
      val again = ScaleOps.stratifiedSample(df, "lang", fr, seed)
        .groupBy("lang").count().as[(String, Long)].collect().toMap
      assert(again == got)
    }
  }

  test("contaminated matches naive shingle-set intersection on random docs") {
    import graft.operators.Dedup
    // naive twin of the native shingle semantics: lowercase whitespace
    // tokens; >= n tokens -> distinct space-joined n-grams, else whole doc
    def shingleSet(text: String, n: Int): Set[String] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val docGen = Gen.chooseNum(1, 8).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))
    val corpusGen = Gen.zip(
      Gen.nonEmptyListOf(docGen).map(_.take(6)),
      Gen.nonEmptyListOf(docGen).map(_.take(6)))
    forAllCases(corpusGen) { case (testDocs, corpusDocs) =>
      val n = 2
      val minShared = 2
      val test = testDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val corpus = corpusDocs.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("doc_id", "text")
      val got = Dedup.contaminated(corpus, test, "doc_id", "text", n, minShared)
        .as[(Long, Long)].collect().toMap
      val testSh = testDocs.flatMap(shingleSet(_, n)).toSet
      val want = corpusDocs.zipWithIndex.flatMap { case (t, i) =>
        val shared = shingleSet(t, n).count(testSh.contains)
        if (shared >= minShared) Some((100L + i).toLong -> shared.toLong) else None
      }.toMap
      assert(got == want, s"test=$testDocs corpus=$corpusDocs")
    }
  }

  test("upsert is idempotent for any target/source pair") {
    forAllCases(Gen.zip(tableGen, tableGen)) { case (t, s) =>
      if (t.nonEmpty || s.nonEmpty) {
        val root = Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "prop").toString
        val target = t.toDF("id", "ts", "v")
        // source deduped on merge key (the pipelines' guarantee)
        val source = latestWins(Seq("id"), "ts", tiebreakers = Seq($"v"))(
          s.toDF("id", "ts", "v"))
        val tbl = LakeTable(spark, root, "t", Seq("id"))
        tbl.create(target)
        tbl.upsert(source)
        val once = tbl.read.collect().map(_.toString).sorted.toSeq
        tbl.upsert(source)
        val twice = tbl.read.collect().map(_.toString).sorted.toSeq
        assert(once == twice)
        // all source keys present exactly once per id
        val srcIds = source.select("id").as[Long].collect().toSet
        val outPairs = tbl.read.select("id").as[Long].collect()
          .groupBy(identity).map { case (k, v) => k -> v.length }
        srcIds.foreach(k => assert(outPairs(k) >= 1))
      }
    }
  }

  test("fuzzy selfJoin matches brute-force levenshtein on random strings") {
    import graft.operators.FuzzyJoin
    // small alphabet maximizes collisions/near-misses; includes len<=tau
    val strGen = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    forAllCases(Gen.nonEmptyListOf(strGen), n = 6) { strs =>
      val rows = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val df = rows.toDF("id", "s")
      for (tau <- Seq(1, 2)) {
        val got = FuzzyJoin.selfJoin(df, "id", "s", tau)
          .select("a_id", "b_id", "dist")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val want = (for {
          a <- rows; b <- rows if a._1 < b._1
          d = levenshteinRef(a._2, b._2) if d <= tau
        } yield (a._1, b._1, d)).toSet
        assert(got == want, s"tau=$tau strs=$strs")
      }
    }
  }

  /** Textbook DP edit distance — independent of both engines. */
  private def levenshteinRef(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("multiPatternMatch equals per-pattern contains on random inputs") {
    import graft.functions.TextExpressions
    val strGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val caseGen = Gen.zip(Gen.nonEmptyListOf(strGen), Gen.nonEmptyListOf(strGen))
    forAllCases(caseGen, n = 8) { case (texts, pats0) =>
      val pats = pats0.distinct
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "t")
        .select($"id", TextExpressions.multiPatternMatch($"t", pats).as("m"))
        .as[(Long, Seq[Int])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val want = pats.indices.filter(j => t.contains(pats(j)))
        assert(got(i.toLong) == want, s"text=$t pats=$pats")
      }
    }
  }

  // cross-query structural invariants on the real sf0.001 contract —
  // cheap sanity the per-query oracles can't express (they compare
  // values, not algebraic relationships across rows)
  test("contract invariants: shares sum to 1, votes bounded, AUC/NDCG in range") {
    import org.apache.spark.sql.functions._
    def run(name: String) = SparkEntry.queries(name)(spark, sf)
    // share_of_parent: nation shares within each region sum to 1
    val shares = run("q_share_of_parent")
      .groupBy("r_name")
      .agg(round(sum("share_of_region"), 4).as("s")).collect()
    shares.foreach(r => assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-3,
      s"region ${r.getString(0)} shares sum to ${r.getAs[Double]("s")}"))
    // anomaly consensus: votes are the sum of its three 0/1 components
    assert(run("q_anomaly_consensus").filter(
      col("votes") =!= col("v_plain") + col("v_deseason") + col("v_wow") ||
        col("votes") < 0 || col("votes") > 3).isEmpty)
    // AUC and NDCG live in their defining ranges
    val auc = run("q_auc").head().getAs[Double]("auc")
    assert(auc >= 0.0 && auc <= 1.0, s"auc=$auc")
    val ndcg = run("q_ndcg").head()
    assert(ndcg.getAs[Double]("ndcg") > 0.0 &&
      ndcg.getAs[Double]("ndcg") <= 1.0)
    assert(ndcg.getAs[Double]("dcg") <= ndcg.getAs[Double]("idcg"),
      "ideal ordering can only raise DCG")
    // RFM scores are quintile-bounded
    assert(run("q_rfm").filter(
      col("r_score") < 1 || col("r_score") > 5 ||
        col("f_score") < 1 || col("f_score") > 5 ||
        col("m_score") < 1 || col("m_score") > 5).isEmpty)
    // CUPED cannot increase variance
    val cuped = run("q_cuped").head()
    assert(cuped.getAs[Double]("var_adjusted") <=
      cuped.getAs[Double]("var_y") + 1e-9)
  }
}

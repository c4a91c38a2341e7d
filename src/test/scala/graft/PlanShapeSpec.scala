package graft

import org.apache.spark.sql.functions._

/** Physical-plan pins for the properties a PlanDump explain shows: the
  * 100 TB story depends on these staying true, so they are asserted. */
class PlanShapeSpec extends SparkSpec {

  test("star join broadcasts the small dimensions") {
    val plan = SparkEntry.queries("q_sql_join_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"))
  }

  test("RI semi-join plans as a hash semi-join, never a nested loop") {
    val plan = SparkEntry.queries("q_semi_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), plan.take(1500))
    assert(!plan.contains("NestedLoop"))
  }

  test("column pruning reaches the parquet scan") {
    val plan = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("predicate pushdown reaches the parquet scan") {
    val plan = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") === 42).select("o_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(o_orderkey,42)"), plan.take(1500))
  }

  test("TPC-H Q3/Q5 shapes: dims broadcast, no nested loop") {
    Seq("q_tpch_q3", "q_tpch_q5").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$q: ${plan.take(1500)}")
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), q)
    }
  }

  private def formatted(q: String): String = {
    import org.apache.spark.sql.execution.ExplainMode
    SparkEntry.queries(q)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("full TPC-H suite: no unbounded loop join anywhere") {
    // the scalar-subquery shapes (q11/q15/q22) attach a SINGLE-ROW
    // aggregate; Catalyst plans that as the bounded broadcast stats
    // attach (same family as bm25's crossJoin(broadcast(stats))), which
    // PlanLint exempts by maxRows — so the pin here is PlanLint's own
    // verdict, not a blanket no-BNLJ string match
    val all = (Seq("q1_agg") ++
      Seq(2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
        19, 20, 21, 22).map(n => s"q_tpch_q$n"))
    all.foreach { q =>
      val errs = graft.plans.PlanLint.lint(
        SparkEntry.queries(q)(spark, sf)).filter(_.severity == "error")
      assert(errs.isEmpty, s"$q: $errs")
    }
  }

  test("TPC-H q6/q19: every scan-side predicate is pushed to parquet") {
    val pushed6 = formatted("q_tpch_q6").linesIterator
      .filter(_.contains("PushedFilters")).mkString
    // date window, discount band, quantity cap all reach the reader
    assert(pushed6.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed6.contains("LessThan(l_shipdate") &&
      pushed6.contains("GreaterThanOrEqual(l_discount,0.02)") &&
      pushed6.contains("LessThan(l_quantity,24.0)"), pushed6)
    // the brand/size disjunction is pushed into the part scan AND the
    // derived quantity-band disjunction into the lineitem scan
    val pushed19 = formatted("q_tpch_q19").linesIterator
      .filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed19.contains("Brand#12") && pushed19.contains("Brand#34"),
      pushed19)
    assert(pushed19.contains("GreaterThanOrEqual(l_quantity,1.0)"),
      pushed19)
  }

  test("TPC-H q17/q21: correlated rewrites stay broadcast/semi/anti hash joins") {
    val p17 = SparkEntry.queries("q_tpch_q17")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p17.contains("BroadcastHashJoin"), p17.take(1200))
    val p21 = SparkEntry.queries("q_tpch_q21")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      p21.take(1200))
    assert(!p21.contains("NestedLoop"), p21.take(1200))
  }

  test("consistent sampling does map-side partial top-k (WindowGroupLimit)") {
    val plan = graft.ops.ScaleOps.consistentSamplePerGroup(
      Tables.load(spark, sf, "documents"), Seq("lang"), Seq("doc_id"), 5, 7L)
      .queryExecution.executedPlan.toString
    // partial limit appears BELOW the exchange (and final above it)
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert(plan.indexOf("WindowGroupLimit") != plan.lastIndexOf("WindowGroupLimit"))
  }

  test("pagerank and ngram-dup profiles never plan a cartesian product") {
    Seq("q_pagerank", "q_dup_ngram_rate").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1500)}")
    }
  }

  test("bm25 broadcasts the tiny df/stats sides, hash-joins the tf side") {
    val plan = SparkEntry.queries("q_bm25")(spark, sf)
      .queryExecution.executedPlan.toString
    // term→df join is a broadcast hash join; the only nested-loop is the
    // single-row corpus-stats broadcast (a deliberate 1×N attach)
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("chunking is map-only: no Exchange anywhere in the chunk plan") {
    val plan = graft.operators.Retrieval.chunkDocuments(
      Tables.load(spark, sf, "documents"), "doc_id", "text",
      chunkSize = 64, stride = 48)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("hits reconcile joins broadcast the node-keyed score vectors") {
    // under broadcastNodeLimit the final auth/hub reconcile must be
    // broadcast hash joins, never a sort-merge of the node table
    val plan = SparkEntry.queries("q_hits")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    df.collect() // AQE shows codegen spans only in the final executed plan
    val plan = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the executed-plan tree
    assert(plan.contains("*("), plan.take(1500))
  }

  test("fuzzy join candidates come from a hash join on variants, no BNLJ") {
    val plan = SparkEntry.queries("q_fuzzy_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("decontamination scan is map-only over the corpus") {
    val plan = SparkEntry.queries("q_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    // one AC pass per row; the only Exchange is the output ORDER BY sort
    assert(plan.linesIterator.count(_.trim.startsWith("Exchange")) <= 1,
      plan.take(1500))
  }

  test("unigram LM broadcasts the single-row total, hash-joins counts") {
    val plan = SparkEntry.queries("q_unigram_lm")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // the token→count join must be a real equi-join, not a nested loop
    // over the vocabulary (the 1-row totals attach is the only BNLJ)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(1500))
  }

  test("LATERAL top-n decorrelates to WindowGroupLimit, never a loop join") {
    val plan = SparkEntry.queries("q_lateral")(spark, sf)
      .queryExecution.executedPlan.toString
    // per-key LIMIT inside the lateral subquery must become a map-side
    // partial top-k (WindowGroupLimit), not a per-row re-execution
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      plan.take(1500))
  }

  test("semDedup pairs itself only within cells (equi-join on cell)") {
    val plan = SparkEntry.queries("q_semdedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }
}

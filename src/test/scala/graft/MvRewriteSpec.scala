package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.plans.{GraftOptimizations, MvRewrite}
import graft.table.{IncrementalView, LakeTable}

/** Transparent materialized-view substitution: a base-table aggregation
  * must silently become a view read when (and ONLY when) the view is
  * synced to the scanned snapshot and every aggregate maps onto view
  * columns — verified by plan inspection (which paths are scanned), not
  * just by result equality. */
class MvRewriteSpec extends SparkSpec {
  import spark.implicits._

  GraftOptimizations.install(spark)

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case hfs: HadoopFsRelation => hfs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten

  private def readsOnlyView(df: DataFrame, view: LakeTable): Boolean = {
    val ps = scanPaths(df)
    ps.nonEmpty && ps.forall(_.contains(view.tablePath))
  }

  private def vDec = col("v").cast("decimal(20,4)")

  private def freshPair(tag: String): (LakeTable, LakeTable) = {
    val root = s"$tablesRoot/mv_spec_$tag"
    val base = LakeTable(spark, root, s"mv_base_$tag", Seq("id"),
      changeFeed = true)
    val view = LakeTable(spark, root, s"mv_view_$tag", Seq("k", "k2"))
    base.drop(); view.drop()
    MvRewrite.unregister(base)
    (base, view)
  }

  private def seed(base: LakeTable, view: LakeTable): Unit = {
    val t0 = (1L to 40L).map(i => (i, i % 4, i % 2, i * 1.5))
      .toDF("id", "k", "k2", "v")
    base.create(t0)
    val v0 = base.version
    view.create(IncrementalView.minMaxView(base.read, Seq("k", "k2"), "v"))
    // churn so the view state is genuinely MAINTAINED, not a recompute
    base.upsert((1L to 40L).filter(_ % 5 == 0)
      .map(i => (i, i % 4, i % 2, i * 3.0)).toDF("id", "k", "k2", "v"))
    base.delete(col("id") % 7 === 0)
    IncrementalView.maintainMinMaxView(base, view, Seq("k", "k2"), "v",
      sinceVersion = v0, meta = MvRewrite.syncMeta(base.version))
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.MinMaxKind)
  }

  test("exact grouping match collapses to a view projection") {
    val (base, view) = freshPair("exact")
    seed(base, view)
    val q = base.read.groupBy("k", "k2").agg(
      count(lit(1)).as("n_rows"),
      sum(vDec).as("sum_v"),
      min(vDec).as("min_v"),
      max(vDec).as("max_v"))
    assert(readsOnlyView(q, view), s"expected view-only scan: ${scanPaths(q)}")
    // and the rewritten result equals the honest base aggregation
    MvRewrite.unregister(base)
    val direct = base.read.groupBy("k", "k2").agg(
      count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"),
      min(vDec).as("min_v"), max(vDec).as("max_v"))
    assert(q.orderBy("k", "k2").collect().toSeq ==
      direct.orderBy("k", "k2").collect().toSeq)
    assert(q.count() > 0)
    MvRewrite.register(base, view, Seq("k", "k2"), "v", MvRewrite.MinMaxKind)
  }

  test("HAVING-shaped filter above the aggregate rides the rewrite " +
      "(output ExprIds preserved)") {
    val (base, view) = freshPair("having")
    seed(base, view)
    // DataFrame form: filter on the aggregated value ABOVE the groupBy
    val q = base.read.groupBy("k", "k2")
      .agg(count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"))
      .filter(col("sum_v") > 50 && col("n_rows") >= 2)
    assert(readsOnlyView(q, view), s"expected view-only scan: ${scanPaths(q)}")
    // SQL form: an actual HAVING clause through the SQL surface
    base.read.createOrReplaceTempView("mv_having_base")
    val qs = spark.sql(
      """SELECT k, k2, count(1) AS n_rows,
                sum(cast(v AS decimal(20,4))) AS sum_v
         FROM mv_having_base GROUP BY k, k2
         HAVING sum(cast(v AS decimal(20,4))) > 50""")
    assert(readsOnlyView(qs, view), s"expected view-only scan: ${scanPaths(qs)}")
    MvRewrite.unregister(base)
    val direct = base.read.groupBy("k", "k2")
      .agg(count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"))
      .filter(col("sum_v") > 50 && col("n_rows") >= 2)
    assert(q.orderBy("k", "k2").collect().toSeq ==
      direct.orderBy("k", "k2").collect().toSeq)
    assert(q.count() > 0, "the HAVING pin needs surviving groups")
    spark.catalog.dropTempView("mv_having_base")
  }

  test("roll-up to a key subset re-aggregates the view") {
    val (base, view) = freshPair("rollup")
    seed(base, view)
    val q = base.read.groupBy("k").agg(
      count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"),
      min(vDec).as("min_v"), max(vDec).as("max_v"))
    assert(readsOnlyView(q, view), s"expected view-only scan: ${scanPaths(q)}")
    MvRewrite.unregister(base)
    val direct = base.read.groupBy("k").agg(
      count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"),
      min(vDec).as("min_v"), max(vDec).as("max_v"))
    assert(q.orderBy("k").collect().toSeq ==
      direct.orderBy("k").collect().toSeq)
  }

  test("global aggregate rolls up, count coalesces to zero on empty base") {
    val (base, view) = freshPair("global")
    seed(base, view)
    val q = base.read.agg(count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"))
    assert(readsOnlyView(q, view))
    MvRewrite.unregister(base)
    val direct = base.read.agg(count(lit(1)).as("n_rows"),
      sum(vDec).as("sum_v"))
    assert(q.collect().toSeq == direct.collect().toSeq)

    // base that BECAME empty: global count must still be the single-row
    // 0 / null sum (the view is empty; coalesce(sum(n), 0) supplies it)
    val (eb, ev) = freshPair("empty")
    eb.create(Seq((1L, 0L, 0L, 2.0)).toDF("id", "k", "k2", "v"))
    val v0 = eb.version
    ev.create(IncrementalView.minMaxView(eb.read, Seq("k", "k2"), "v"))
    eb.delete(col("id") === 1L)
    IncrementalView.maintainMinMaxView(eb, ev, Seq("k", "k2"), "v",
      sinceVersion = v0, meta = MvRewrite.syncMeta(eb.version))
    MvRewrite.register(eb, ev, Seq("k", "k2"), "v", MvRewrite.MinMaxKind)
    val eq = eb.read.agg(count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"))
    assert(readsOnlyView(eq, ev))
    val row = eq.collect()
    assert(row.length == 1 && row(0).getLong(0) == 0L && row(0).isNullAt(1))
    MvRewrite.unregister(eb)
  }

  test("filters on grouping keys commute through the rewrite") {
    val (base, view) = freshPair("filter")
    seed(base, view)
    val q = base.read.filter(col("k") =!= 2).groupBy("k", "k2")
      .agg(sum(vDec).as("sum_v"))
    assert(readsOnlyView(q, view))
    MvRewrite.unregister(base)
    val direct = base.read.filter(col("k") =!= 2).groupBy("k", "k2")
      .agg(sum(vDec).as("sum_v"))
    assert(q.orderBy("k", "k2").collect().toSeq ==
      direct.orderBy("k", "k2").collect().toSeq)
  }

  test("non-key filters, raw-double sums, distinct aggs do NOT rewrite") {
    val (base, view) = freshPair("block")
    seed(base, view)
    // filter references the value column → must read the base
    val f = base.read.filter(col("v") > 10).groupBy("k", "k2")
      .agg(sum(vDec).as("s"))
    assert(!readsOnlyView(f, view))
    // sum of the raw double is a DIFFERENT number than the decimal view
    val d = base.read.groupBy("k", "k2").agg(sum(col("v")).as("s"))
    assert(!readsOnlyView(d, view))
    // distinct count is not materialized by this view kind
    val dc = base.read.groupBy("k", "k2")
      .agg(countDistinct(col("v")).as("s"))
    assert(!readsOnlyView(dc, view))
    // grouping by a non-key column
    val g = base.read.groupBy("id").agg(sum(vDec).as("s"))
    assert(!readsOnlyView(g, view))
  }

  test("stale view (base advanced past sync marker) blocks the rewrite") {
    val (base, view) = freshPair("stale")
    seed(base, view)
    base.upsert(Seq((99L, 1L, 0L, 123.0)).toDF("id", "k", "k2", "v"))
    val q = base.read.groupBy("k", "k2").agg(sum(vDec).as("s"))
    assert(!readsOnlyView(q, view), "stale view must not serve the query")
    // result is the honest (fresh) base aggregation
    assert(q.filter(col("k") === 1 && col("k2") === 0).count() == 1)
    // re-sync → rewrite resumes
    IncrementalView.maintainMinMaxView(base, view, Seq("k", "k2"), "v",
      sinceVersion = view.meta(MvRewrite.SyncKey).toInt,
      meta = MvRewrite.syncMeta(base.version))
    val q2 = base.read.groupBy("k", "k2").agg(sum(vDec).as("s"))
    assert(readsOnlyView(q2, view))
    MvRewrite.unregister(base)
    val direct = base.read.groupBy("k", "k2").agg(sum(vDec).as("s"))
    assert(q2.orderBy("k", "k2").collect().toSeq ==
      direct.orderBy("k", "k2").collect().toSeq)
  }

  test("SQL queries over temp views rewrite too (same logical plan)") {
    val (base, view) = freshPair("sql")
    seed(base, view)
    base.read.createOrReplaceTempView("mv_sql_base")
    val q = spark.sql(
      """SELECT k, k2, count(1) AS n_rows,
                sum(cast(v AS decimal(20,4))) AS sum_v
         FROM mv_sql_base GROUP BY k, k2""")
    assert(readsOnlyView(q, view), s"SQL surface must rewrite: ${scanPaths(q)}")
    MvRewrite.unregister(base)
    val direct = spark.sql(
      """SELECT k, k2, count(1) AS n_rows,
                sum(cast(v AS decimal(20,4))) AS sum_v
         FROM mv_sql_base GROUP BY k, k2""")
    assert(q.orderBy("k", "k2").collect().toSeq ==
      direct.orderBy("k", "k2").collect().toSeq)
    spark.catalog.dropTempView("mv_sql_base")
  }

  test("aggregate-over-join rewrites to the maintained join view") {
    import graft.table.IncrementalView
    val root = s"$tablesRoot/mv_spec_join"
    val fact = LakeTable(spark, root, "mvj_fact", Seq("fid"),
      changeFeed = true)
    val dim = LakeTable(spark, root, "mvj_dim", Seq("jk"),
      changeFeed = true)
    val view = LakeTable(spark, root, "mvj_view", Seq("cat"))
    fact.drop(); dim.drop(); view.drop()
    MvRewrite.unregisterJoin(fact, dim)
    fact.create((1L to 60L).map(i => (i, i % 7, i * 1.1))
      .toDF("fid", "jk", "v"))
    dim.create((0L to 6L).map(k => (k, s"cat${k % 3}")).toDF("jk", "cat"))
    val fv0 = fact.version; val dv0 = dim.version
    view.create(IncrementalView.joinSumView(fact.read, dim.read,
      Seq("jk"), Seq("cat"), "v"))
    // churn BOTH sides, then maintain with the two-version marker
    fact.upsert((1L to 60L).filter(_ % 5 == 0)
      .map(i => (i, i % 7, i * 3.0)).toDF("fid", "jk", "v"))
    dim.upsert(Seq((3L, "cat9")).toDF("jk", "cat"))
    fact.delete(col("fid") % 11 === 0)
    IncrementalView.maintainJoinSumView(fact, dim, view, Seq("jk"),
      Seq("cat"), "v", fv0, dv0,
      meta = MvRewrite.joinSyncMeta(fact.version, dim.version))
    MvRewrite.registerJoin(fact, dim, view, Seq("jk"), Seq("cat"), "v")

    def query() = fact.read.join(dim.read, Seq("jk")).groupBy("cat")
      .agg(count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"))
    val q = query()
    assert(readsOnlyView(q, view),
      s"join aggregate must be served by the view: ${scanPaths(q)}")
    MvRewrite.unregisterJoin(fact, dim)
    val direct = query()
    assert(!readsOnlyView(direct, view))
    assert(q.orderBy("cat").collect().toSeq ==
      direct.orderBy("cat").collect().toSeq)
    MvRewrite.registerJoin(fact, dim, view, Seq("jk"), Seq("cat"), "v")

    // global roll-up over the join
    val g = fact.read.join(dim.read, Seq("jk"))
      .agg(count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"))
    assert(readsOnlyView(g, view))
    MvRewrite.unregisterJoin(fact, dim)
    val gd = fact.read.join(dim.read, Seq("jk"))
      .agg(count(lit(1)).as("n_rows"), sum(vDec).as("sum_v"))
    assert(g.collect().toSeq == gd.collect().toSeq)
    MvRewrite.registerJoin(fact, dim, view, Seq("jk"), Seq("cat"), "v")

    // group-key filter (pushed below the join by the optimizer) commutes
    val f = fact.read.join(dim.read, Seq("jk"))
      .filter(col("cat") =!= "cat1").groupBy("cat")
      .agg(sum(vDec).as("sum_v"))
    assert(readsOnlyView(f, view), s"pushed key filter: ${scanPaths(f)}")
    MvRewrite.unregisterJoin(fact, dim)
    val fd = fact.read.join(dim.read, Seq("jk"))
      .filter(col("cat") =!= "cat1").groupBy("cat")
      .agg(sum(vDec).as("sum_v"))
    assert(f.orderBy("cat").collect().toSeq ==
      fd.orderBy("cat").collect().toSeq)
    MvRewrite.registerJoin(fact, dim, view, Seq("jk"), Seq("cat"), "v")

    // a non-key filter, a stale view, or a different join blocks it
    val nf = fact.read.join(dim.read, Seq("jk"))
      .filter(col("v") > 10).groupBy("cat").agg(sum(vDec).as("s"))
    assert(!readsOnlyView(nf, view))
    fact.upsert(Seq((999L, 1L, 5.0)).toDF("fid", "jk", "v"))
    val stale = fact.read.join(dim.read, Seq("jk")).groupBy("cat")
      .agg(sum(vDec).as("s"))
    assert(!readsOnlyView(stale, view), "stale join view must not serve")
    MvRewrite.unregisterJoin(fact, dim)
  }

  test("count(distinct) is served by a full-stats view, exact form only") {
    import graft.table.IncrementalView
    val root = s"$tablesRoot/mv_spec_distinct"
    val base = LakeTable(spark, root, "mvd_base", Seq("id"),
      changeFeed = true)
    val aux = LakeTable(spark, root, "mvd_aux", Seq("k", "k2", "__v"))
    val view = LakeTable(spark, root, "mvd_view", Seq("k", "k2"))
    base.drop(); aux.drop(); view.drop()
    MvRewrite.unregister(base)
    base.create((1L to 40L).map(i => (i, i % 4, i % 2, (i % 6) * 1.5))
      .toDF("id", "k", "k2", "v"))
    val v0 = base.version
    aux.create(IncrementalView.fullStatsSupportView(
      base.read, Seq("k", "k2"), "v"))
    view.create(IncrementalView.fullStatsView(base.read, Seq("k", "k2"), "v"))
    base.upsert((1L to 40L).filter(_ % 5 == 0)
      .map(i => (i, i % 4, i % 2, i * 3.0)).toDF("id", "k", "k2", "v"))
    base.delete(col("id") % 7 === 0)
    IncrementalView.maintainFullStatsView(base, aux, view, Seq("k", "k2"),
      "v", sinceVersion = v0, meta = MvRewrite.syncMeta(base.version))
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.FullStatsKind)
    val v18 = col("v").cast("decimal(18,4)")
    val q = base.read.groupBy("k", "k2").agg(
      count(lit(1)).as("n_rows"), countDistinct(v18).as("nd"),
      sum(v18).as("s"), min(v18).as("mn"), max(v18).as("mx"))
    assert(readsOnlyView(q, view), s"full-stats kind: ${scanPaths(q)}")
    MvRewrite.unregister(base)
    val direct = base.read.groupBy("k", "k2").agg(
      count(lit(1)).as("n_rows"), countDistinct(v18).as("nd"),
      sum(v18).as("s"), min(v18).as("mn"), max(v18).as("mx"))
    assert(q.orderBy("k", "k2").collect().toSeq ==
      direct.orderBy("k", "k2").collect().toSeq)
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.FullStatsKind)
    // roll-up with a distinct agg must NOT rewrite (not re-aggregable)
    val r = base.read.groupBy("k").agg(countDistinct(v18).as("nd"))
    assert(!readsOnlyView(r, view))
    // the (20,4) cast is a DIFFERENT value space → no rewrite
    val w = base.read.groupBy("k", "k2")
      .agg(sum(col("v").cast("decimal(20,4)")).as("s"))
    assert(!readsOnlyView(w, view))
    MvRewrite.unregister(base)
  }

  test("multiple views per base: the best fresh container serves each query") {
    import graft.table.IncrementalView
    val root = s"$tablesRoot/mv_spec_multi"
    val base = LakeTable(spark, root, "mvm_base", Seq("id"),
      changeFeed = true)
    val fine = LakeTable(spark, root, "mvm_fine", Seq("k", "k2"))
    val coarse = LakeTable(spark, root, "mvm_coarse", Seq("k"))
    base.drop(); fine.drop(); coarse.drop()
    MvRewrite.unregister(base)
    base.create((1L to 40L).map(i => (i, i % 4, i % 2, i * 1.5))
      .toDF("id", "k", "k2", "v"))
    val v0 = base.version
    fine.create(IncrementalView.minMaxView(base.read, Seq("k", "k2"), "v"))
    coarse.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
    base.upsert(Seq((41L, 1L, 0L, 9.0)).toDF("id", "k", "k2", "v"))
    IncrementalView.maintainMinMaxView(base, fine, Seq("k", "k2"), "v",
      v0, meta = MvRewrite.syncMeta(base.version))
    IncrementalView.maintainMinMaxView(base, coarse, Seq("k"), "v",
      v0, meta = MvRewrite.syncMeta(base.version))
    MvRewrite.register(base, fine, Seq("k", "k2"), "v", MvRewrite.MinMaxKind)
    MvRewrite.register(base, coarse, Seq("k"), "v", MvRewrite.MinMaxKind)
    // group by (k, k2): only the fine view can answer — exact match
    val q2 = base.read.groupBy("k", "k2").agg(sum(vDec).as("s"))
    assert(readsOnlyView(q2, fine), s"${scanPaths(q2)}")
    // group by k: BOTH can answer; the coarse exact match must win
    // over the fine roll-up
    val q1 = base.read.groupBy("k").agg(sum(vDec).as("s"))
    assert(readsOnlyView(q1, coarse), s"${scanPaths(q1)}")
    // drop the coarse container: the fine one serves k via roll-up
    MvRewrite.unregisterView(base, coarse)
    val q1b = base.read.groupBy("k").agg(sum(vDec).as("s"))
    assert(readsOnlyView(q1b, fine), s"${scanPaths(q1b)}")
    MvRewrite.unregister(base)
    val direct = base.read.groupBy("k").agg(sum(vDec).as("s"))
    assert(q1.orderBy("k").collect().toSeq ==
      direct.orderBy("k").collect().toSeq)
    assert(q1b.orderBy("k").collect().toSeq ==
      direct.orderBy("k").collect().toSeq)
  }

  test("a streaming-maintained view serves the rewrite after a " +
      "post-drain annotate") {
    import graft.table.IncrementalView
    val root = s"$tablesRoot/mv_spec_stream"
    val base = LakeTable(spark, root, "mvs_base", Seq("id"),
      changeFeed = true)
    val view = LakeTable(spark, root, "mvs_view", Seq("k", "k2"))
    base.drop(); view.drop()
    MvRewrite.unregister(base)
    base.create((1L to 30L).map(i => (i, i % 3, i % 2, i * 2.0))
      .toDF("id", "k", "k2", "v"))
    view.create(IncrementalView.minMaxView(base.read, Seq("k", "k2"), "v"))
    base.upsert(Seq((31L, 1L, 1L, 7.0)).toDF("id", "k", "k2", "v"))
    base.delete(col("id") % 5 === 0)
    val bv = base.version // snapshot BEFORE the drain starts
    graft.streaming.Streams.maintainMinMaxViewFromChangeFeed(
      base.readChangeFeedStream, base, view, Seq("k", "k2"), "v")
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.MinMaxKind)
    // drained but not annotated: no freshness marker → no rewrite
    val q0 = base.read.groupBy("k", "k2").agg(sum(vDec).as("s"))
    assert(!readsOnlyView(q0, view))
    // the post-drain metadata-only commit plants the marker
    view.annotate(MvRewrite.syncMeta(bv))
    val q1 = base.read.groupBy("k", "k2").agg(sum(vDec).as("s"))
    assert(readsOnlyView(q1, view), s"${scanPaths(q1)}")
    MvRewrite.unregister(base)
    val direct = base.read.groupBy("k", "k2").agg(sum(vDec).as("s"))
    assert(q1.orderBy("k", "k2").collect().toSeq ==
      direct.orderBy("k", "k2").collect().toSeq)
  }

  test("serveDouble registration serves UNCAST double aggregates " +
      "(avg/sum/min/max/count); the strict default still refuses them") {
    val root = s"$tablesRoot/mv_spec_dbl"
    val base = LakeTable(spark, root, "mvd_base", Seq("id"),
      changeFeed = true)
    val aux = LakeTable(spark, root, "mvd_aux", Seq("k", "k2", "__v"))
    val view = LakeTable(spark, root, "mvd_view", Seq("k", "k2"))
    base.drop(); aux.drop(); view.drop()
    MvRewrite.unregister(base)
    // quarters: exact in BOTH binary doubles and the (18,4) decimal
    // space, so the contract's roundtrip is identity and direct float
    // aggregation is bit-equal to the served decimal-exact path —
    // result equality below is exact, not within-ulp
    def mk(i: Long): (Long, Long, Long, Option[Double]) =
      (i, i % 4, i % 2, if (i % 5 == 2) None else Some(i * 0.25))
    base.create((1L to 40L).map(mk).toDF("id", "k", "k2", "v"))
    val v0 = base.version
    aux.create(IncrementalView.fullStatsSupportView(
      base.read, Seq("k", "k2"), "v"))
    view.create(IncrementalView.fullStatsView(base.read, Seq("k", "k2"), "v"))
    base.upsert(Seq((2L, 2L, 0L, Some(99.25)), (41L, 1L, 1L, None),
      (8L, 0L, 0L, None)).toDF("id", "k", "k2", "v"))
    base.delete(col("id") % 7 === 0)
    IncrementalView.maintainFullStatsView(base, aux, view, Seq("k", "k2"),
      "v", sinceVersion = v0, meta = MvRewrite.syncMeta(base.version))

    // strict default: an uncast double aggregate NEVER rewrites
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.FullStatsKind)
    val strict = base.read.groupBy("k", "k2")
      .agg(avg(col("v")).as("a"), sum(col("v")).as("s"))
    assert(!readsOnlyView(strict, view),
      "uncast double must not rewrite without serveDouble")

    // serveDouble opt-in (re-register replaces the entry)
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.FullStatsKind, serveDouble = true)
    def exactQ() = base.read.groupBy("k", "k2").agg(
      count(col("v")).as("nn"), avg(col("v")).as("a"),
      sum(col("v")).as("s"), min(col("v")).as("mn"),
      max(col("v")).as("mx"))
    val q = exactQ()
    assert(readsOnlyView(q, view), s"serveDouble exact form: ${scanPaths(q)}")
    def rollQ() = base.read.groupBy("k").agg(
      avg(col("v")).as("a"), sum(col("v")).as("s"),
      min(col("v")).as("mn"), count(col("v")).as("nn"))
    val r = rollQ()
    assert(readsOnlyView(r, view), s"serveDouble roll-up: ${scanPaths(r)}")
    // the decimal-cast form still rewrites under the same registration
    val v18 = col("v").cast("decimal(18,4)")
    val dec = base.read.groupBy("k", "k2").agg(sum(v18).as("s"))
    assert(readsOnlyView(dec, view))
    MvRewrite.unregister(base)
    assert(q.orderBy("k", "k2").collect().toSeq ==
      exactQ().orderBy("k", "k2").collect().toSeq)
    assert(r.orderBy("k").collect().toSeq ==
      rollQ().orderBy("k").collect().toSeq)
  }

  test("avg() and count(col) are served by the full-stats view's " +
      "n_nonnull — correct on null-bearing groups, exact and roll-up") {
    val root = s"$tablesRoot/mv_spec_avg"
    val base = LakeTable(spark, root, "mva_base", Seq("id"),
      changeFeed = true)
    val aux = LakeTable(spark, root, "mva_aux", Seq("k", "k2", "__v"))
    val view = LakeTable(spark, root, "mva_view", Seq("k", "k2"))
    base.drop(); aux.drop(); view.drop()
    MvRewrite.unregister(base)
    // v carries NULLs in several groups — the case where serving avg
    // from (sum, n) is silently wrong (Average counts non-null values)
    def mk(i: Long): (Long, Long, Long, Option[Double]) =
      (i, i % 4, i % 2, if (i % 5 == 2) None else Some(i * 1.7))
    base.create((1L to 40L).map(mk).toDF("id", "k", "k2", "v"))
    val v0 = base.version
    aux.create(IncrementalView.fullStatsSupportView(
      base.read, Seq("k", "k2"), "v"))
    view.create(IncrementalView.fullStatsView(base.read, Seq("k", "k2"), "v"))
    // churn adds MORE nulls (and flips one null to a value) so the
    // n_nonnull column is genuinely maintained, not a create-time copy
    base.upsert(Seq((2L, 2L, 0L, Some(99.0)), (41L, 1L, 1L, None),
      (8L, 0L, 0L, None)).toDF("id", "k", "k2", "v"))
    base.delete(col("id") % 7 === 0)
    IncrementalView.maintainFullStatsView(base, aux, view, Seq("k", "k2"),
      "v", sinceVersion = v0, meta = MvRewrite.syncMeta(base.version))
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.FullStatsKind)
    val v18 = col("v").cast("decimal(18,4)")
    def exactQ() = base.read.groupBy("k", "k2").agg(
      count(lit(1)).as("n"), count(v18).as("nn"),
      avg(v18).as("a"), sum(v18).as("s"))
    val q = exactQ()
    assert(readsOnlyView(q, view), s"avg exact form: ${scanPaths(q)}")
    def rollQ() = base.read.groupBy("k").agg(
      avg(v18).as("a"), count(v18).as("nn"))
    val r = rollQ()
    assert(readsOnlyView(r, view), s"avg roll-up form: ${scanPaths(r)}")
    MvRewrite.unregister(base)
    assert(q.orderBy("k", "k2").collect().toSeq ==
      exactQ().orderBy("k", "k2").collect().toSeq)
    assert(r.orderBy("k").collect().toSeq ==
      rollQ().orderBy("k").collect().toSeq)
    // the SQL surface produces the same Average node → same rewrite
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.FullStatsKind)
    base.read.createOrReplaceTempView("mv_avg_base")
    val sqlQ = spark.sql(
      """SELECT k, k2, avg(cast(v AS decimal(18,4))) AS a,
                count(cast(v AS decimal(18,4))) AS nn
         FROM mv_avg_base GROUP BY k, k2""")
    assert(readsOnlyView(sqlQ, view), s"SQL avg must rewrite: ${scanPaths(sqlQ)}")
    MvRewrite.unregister(base)
    assert(sqlQ.orderBy("k", "k2").collect().toSeq ==
      spark.sql(
        """SELECT k, k2, avg(cast(v AS decimal(18,4))) AS a,
                  count(cast(v AS decimal(18,4))) AS nn
           FROM mv_avg_base GROUP BY k, k2""")
        .orderBy("k", "k2").collect().toSeq)
    spark.catalog.dropTempView("mv_avg_base")
    // value-space strictness: avg over the (20,4) cast is a DIFFERENT
    // number than the (18,4) view space → never rewrites
    MvRewrite.register(base, view, Seq("k", "k2"), "v",
      MvRewrite.FullStatsKind)
    val wrongSpace = base.read.groupBy("k", "k2")
      .agg(avg(col("v").cast("decimal(20,4)")).as("a"))
    assert(!readsOnlyView(wrongSpace, view))
    MvRewrite.unregister(base)
    // a kind WITHOUT n_nonnull must never serve avg or count(col)
    val (mb, mv) = freshPair("avgneg")
    seed(mb, mv) // MinMaxKind registration
    val bad = mb.read.groupBy("k", "k2")
      .agg(avg(col("v").cast("decimal(20,4)")).as("a"))
    assert(!readsOnlyView(bad, mv), "minmax kind has no n_nonnull")
    val badC = mb.read.groupBy("k", "k2")
      .agg(count(col("v").cast("decimal(20,4)")).as("nn"))
    assert(!readsOnlyView(badC, mv))
    MvRewrite.unregister(mb)
  }

  test("non-deterministic filters never commute through the rewrite") {
    val (base, view) = freshPair("nondet")
    seed(base, view)
    // rand() < 0.5 is NON-deterministic with an empty reference set —
    // it passes the key-only reference check vacuously, but commuting
    // it from per-base-row to per-view-group application changes its
    // sampling distribution, so the plan must be left untouched (the
    // rewrite fires happily on the same query with the filter removed,
    // proving the block is the predicate). Note the predicate must not
    // be a provable tautology like rand() < 2.0 — Spark's own optimizer
    // eliminates that Filter before this rule ever sees it.
    val q = base.read.filter(rand(7) < 0.5).groupBy("k", "k2")
      .agg(sum(vDec).as("s"))
    assert(!readsOnlyView(q, view), s"non-deterministic filter: ${scanPaths(q)}")
    val ok = base.read.groupBy("k", "k2").agg(sum(vDec).as("s"))
    assert(readsOnlyView(ok, view))
    MvRewrite.unregister(base)
  }

  test("multiple JOIN views per (fact, dim): best fresh container wins, " +
      "finer serves the roll-up") {
    val root = s"$tablesRoot/mv_spec_joinmulti"
    val fact = LakeTable(spark, root, "mvjm_fact", Seq("fid"),
      changeFeed = true)
    val dim = LakeTable(spark, root, "mvjm_dim", Seq("jk"),
      changeFeed = true)
    val fine = LakeTable(spark, root, "mvjm_fine", Seq("cat", "band"))
    val coarse = LakeTable(spark, root, "mvjm_coarse", Seq("cat"))
    fact.drop(); dim.drop(); fine.drop(); coarse.drop()
    MvRewrite.unregisterJoin(fact, dim)
    fact.create((1L to 60L).map(i => (i, i % 7, i * 1.1))
      .toDF("fid", "jk", "v"))
    dim.create((0L to 6L).map(k => (k, s"cat${k % 3}", s"b${k % 2}"))
      .toDF("jk", "cat", "band"))
    val (fv0, dv0) = (fact.version, dim.version)
    fine.create(IncrementalView.joinSumView(fact.read, dim.read,
      Seq("jk"), Seq("cat", "band"), "v"))
    coarse.create(IncrementalView.joinSumView(fact.read, dim.read,
      Seq("jk"), Seq("cat"), "v"))
    fact.upsert(Seq((61L, 2L, 5.5)).toDF("fid", "jk", "v"))
    IncrementalView.maintainJoinSumView(fact, dim, fine, Seq("jk"),
      Seq("cat", "band"), "v", fv0, dv0,
      meta = MvRewrite.joinSyncMeta(fact.version, dim.version))
    IncrementalView.maintainJoinSumView(fact, dim, coarse, Seq("jk"),
      Seq("cat"), "v", fv0, dv0,
      meta = MvRewrite.joinSyncMeta(fact.version, dim.version))
    // BOTH registered: the round-12 single-slot catalog would have
    // silently dropped the first
    MvRewrite.registerJoin(fact, dim, fine, Seq("jk"), Seq("cat", "band"), "v")
    MvRewrite.registerJoin(fact, dim, coarse, Seq("jk"), Seq("cat"), "v")
    def byBoth() = fact.read.join(dim.read, Seq("jk"))
      .groupBy("cat", "band").agg(sum(vDec).as("s"))
    def byCat() = fact.read.join(dim.read, Seq("jk"))
      .groupBy("cat").agg(sum(vDec).as("s"))
    // (cat, band): only the fine container can answer
    val q2 = byBoth()
    assert(readsOnlyView(q2, fine), s"${scanPaths(q2)}")
    // cat: both can — the coarse EXACT match beats the fine roll-up
    val q1 = byCat()
    assert(readsOnlyView(q1, coarse), s"${scanPaths(q1)}")
    // only the fine registered: it serves cat via roll-up
    MvRewrite.unregisterJoin(fact, dim)
    MvRewrite.registerJoin(fact, dim, fine, Seq("jk"), Seq("cat", "band"), "v")
    val q1b = byCat()
    assert(readsOnlyView(q1b, fine), s"${scanPaths(q1b)}")
    MvRewrite.unregisterJoin(fact, dim)
    val direct1 = byCat().orderBy("cat").collect().toSeq
    assert(q1.orderBy("cat").collect().toSeq == direct1)
    assert(q1b.orderBy("cat").collect().toSeq == direct1)
    assert(q2.orderBy("cat", "band").collect().toSeq ==
      byBoth().orderBy("cat", "band").collect().toSeq)
  }

  test("a non-LakeTable parquet scan never rewrites (path-shape contract)") {
    val (base, view) = freshPair("plain")
    seed(base, view)
    // same rows, written as a PLAIN parquet dir (no v<N> leaf) under a
    // directory that IS registered in the catalog: the rule can parse
    // no version from the scan path, so it must safely never fire
    val root2 = s"$tablesRoot/mv_spec_plainroot"
    val fakeBase = LakeTable(spark, root2, "plain_base", Seq("id"))
    val dataDir = s"${fakeBase.tablePath}/data"
    base.read.write.mode("overwrite").parquet(dataDir)
    MvRewrite.register(fakeBase, view, Seq("k", "k2"), "v",
      MvRewrite.MinMaxKind)
    val q = spark.read.parquet(dataDir).groupBy("k", "k2")
      .agg(sum(vDec).as("s"))
    assert(!readsOnlyView(q, view),
      s"plain dir must never be version-matched: ${scanPaths(q)}")
    MvRewrite.unregister(fakeBase)
    MvRewrite.unregister(base)
  }

  test("derived expressions over mapped aggregates rewrite too") {
    val (base, view) = freshPair("derived")
    seed(base, view)
    // avg expressed as sum/count — CollapseProject folds it INTO the
    // Aggregate, so the rule must rewrite inside composite expressions
    val q = base.read.groupBy("k", "k2")
      .agg(sum(vDec).as("s"), count(lit(1)).as("n"))
      .select(col("k"), col("k2"),
        (col("s") / col("n")).cast("double").as("avg_v"))
    assert(readsOnlyView(q, view))
    MvRewrite.unregister(base)
    val direct = base.read.groupBy("k", "k2")
      .agg(sum(vDec).as("s"), count(lit(1)).as("n"))
      .select(col("k"), col("k2"),
        (col("s") / col("n")).cast("double").as("avg_v"))
    assert(q.orderBy("k", "k2").collect().toSeq ==
      direct.orderBy("k", "k2").collect().toSeq)
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.table.{IncrementalView, LakeTable}

/** Delta-rule IVM invariant: maintaining the stored view from the CDC
  * feed must equal re-aggregating the base — through inserts, updates,
  * deletes, and group extinction (last member deleted → group row
  * removed, not left at zero). */
class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private def snapshot(t: LakeTable): Set[(Long, Long, java.math.BigDecimal)] =
    t.read.select(col("k"), col("n"), col("sum_value"))
      .as[(Long, Long, java.math.BigDecimal)].collect().toSet

  test("maintained view == full recompute across insert/update/delete batches") {
    val root = s"$tablesRoot/ivm_spec"
    val base = LakeTable(spark, root, "ivm_base", Seq("id"))
    val view = LakeTable(spark, root, "ivm_view", Seq("k"))
    base.drop(); view.drop()
    // groups: k = id % 3; values = id as decimal-able double
    val t0 = (1L to 30L).map(i => (i, i % 3, i * 1.0)).toDF("id", "k", "v")
    base.create(t0)
    view.create(IncrementalView.sumView(base.read, Seq("k"), "v"))

    // batch: update ids % 4 == 0 (v doubled), insert 31..35, delete % 7 == 0
    val batch = (1L to 30L).filter(_ % 4 == 0).map(i => (i, i % 3, i * 2.0)) ++
      (31L to 35L).map(i => (i, i % 3, i * 1.0))
    base.upsert(batch.toDF("id", "k", "v"))
    base.delete(col("id") % 7 === 0)
    IncrementalView.maintainSumView(base, view, Seq("k"), "v",
      sinceVersion = base.availableVersions.min)

    val recomputed = LakeTable(spark, root, "ivm_recomp", Seq("k"))
    recomputed.drop()
    recomputed.create(IncrementalView.sumView(base.read, Seq("k"), "v"))
    assert(snapshot(view) == snapshot(recomputed))
    assert(snapshot(view).nonEmpty)
  }

  test("group extinction: deleting a group's last members removes its row") {
    val root = s"$tablesRoot/ivm_spec2"
    val base = LakeTable(spark, root, "ivm_base2", Seq("id"))
    val view = LakeTable(spark, root, "ivm_view2", Seq("k"))
    base.drop(); view.drop()
    base.create(Seq((1L, 10L, 5.0), (2L, 10L, 7.0), (3L, 20L, 1.0))
      .toDF("id", "k", "v"))
    view.create(IncrementalView.sumView(base.read, Seq("k"), "v"))
    base.delete(col("k") === 10L)
    IncrementalView.maintainSumView(base, view, Seq("k"), "v",
      sinceVersion = base.availableVersions.min)
    val rows = snapshot(view)
    assert(rows.map(_._1) == Set(20L), s"group 10 must vanish, got $rows")
    assert(rows.head._2 == 1L)
  }

  // ---- min/max maintenance (round 9) ----

  private def mmSnapshot(t: LakeTable): Set[(Long, Long, String, String, String)] =
    t.read.select(col("k"), col("n"), col("sum_value").cast("string"),
        col("min_value").cast("string"), col("max_value").cast("string"))
      .as[(Long, Long, String, String, String)].collect().toSet

  test("min/max maintained == full recompute incl. extremum deletion") {
    val root = s"$tablesRoot/ivm_mm1"
    val base = LakeTable(spark, root, "mm_base", Seq("id"))
    val view = LakeTable(spark, root, "mm_view", Seq("k"))
    base.drop(); view.drop()
    base.create((1L to 12L).map(i => (i, i % 3, i * 1.0)).toDF("id", "k", "v"))
    val v0 = base.version
    view.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
    // doubles make id 10 (k=1, v=20) group 1's max; insert 13..16; then
    // the delete removes id 10 — the CURRENT max — so the maintainer's
    // rescan path must reveal the runner-up (16.0), not keep 20.0
    base.upsert(((1L to 12L).filter(_ % 4 == 0).map(i => (i, i % 3, i * 2.0)) ++
      (13L to 16L).map(i => (i, i % 3, i * 1.0))).toDF("id", "k", "v"))
    base.delete(col("id") % 5 === 0)
    IncrementalView.maintainMinMaxView(base, view, Seq("k"), "v",
      sinceVersion = v0)
    val recomputed = LakeTable(spark, root, "mm_recomp", Seq("k"))
    recomputed.drop()
    recomputed.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
    assert(mmSnapshot(view) == mmSnapshot(recomputed))
    // the extremum-deletion really happened: group 1's max is 16, not 20
    val g1 = mmSnapshot(view).find(_._1 == 1L).get
    assert(g1._5.startsWith("16."), s"expected rescanned max 16.0, got $g1")
  }

  test("chained maintenance via the RETURNED synced version " +
      "(availableVersions.min is the documented trap)") {
    val root = s"$tablesRoot/ivm_mm2"
    val base = LakeTable(spark, root, "mm_base2", Seq("id"))
    val view = LakeTable(spark, root, "mm_view2", Seq("k"))
    base.drop(); view.drop()
    base.create((1L to 9L).map(i => (i, i % 2, i * 1.0)).toDF("id", "k", "v"))
    val v0 = base.version
    view.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
    // batch 1: insert + delete (two base writes)
    base.upsert((10L to 12L).map(i => (i, i % 2, i * 1.0)).toDF("id", "k", "v"))
    base.delete(col("id") === 9L) // group 1's max → rescan reveals 11
    val s1 = IncrementalView.maintainMinMaxView(base, view, Seq("k"), "v", v0)
    // batch 2: two more writes — by now the CREATE version is pruned
    // (keepVersions=2), so only the recorded s1 keeps the chain honest
    base.upsert(Seq((13L, 0L, 0.5)).toDF("id", "k", "v")) // new group-0 min
    base.delete(col("id") === 12L) // group 0's max 12 → rescan reveals 10
    IncrementalView.maintainMinMaxView(base, view, Seq("k"), "v", s1)
    assert(!base.availableVersions.contains(v0),
      "fixture must prune the create version or the trap isn't exercised")
    val recomputed = LakeTable(spark, root, "mm_recomp2", Seq("k"))
    recomputed.drop()
    recomputed.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
    assert(mmSnapshot(view) == mmSnapshot(recomputed))
    val g0 = mmSnapshot(view).find(_._1 == 0L).get
    assert(g0._4.startsWith("0.5") && g0._5.startsWith("10."),
      s"expected min 0.5 / rescanned max 10.0, got $g0")
  }

  test("distinct-count view: transitions only when the LAST instance " +
      "of a value goes (or the first arrives), chained via returned " +
      "versions, group extinction") {
    val root = s"$tablesRoot/ivm_dist"
    val base = LakeTable(spark, root, "d_base", Seq("id"))
    val aux = LakeTable(spark, root, "d_aux", Seq("k", "__v"))
    val view = LakeTable(spark, root, "d_view", Seq("k"))
    base.drop(); aux.drop(); view.drop()
    // k=1: values a,a,b ; k=2: values c
    base.create(Seq((1L, 1L, "a"), (2L, 1L, "a"), (3L, 1L, "b"),
      (4L, 2L, "c")).toDF("id", "k", "v"))
    val v0 = base.version
    aux.create(IncrementalView.supportView(base.read, Seq("k"), "v"))
    view.create(IncrementalView.distinctView(base.read, Seq("k"), "v"))
    def dist: Map[Long, Long] = view.read.select("k", "n_distinct")
      .as[(Long, Long)].collect().toMap
    assert(dist == Map(1L -> 2L, 2L -> 1L))
    // batch 1: delete ONE of the two 'a' rows → no transition; insert a
    // NEW value d for k=2 → +1
    base.delete(col("id") === 1L)
    base.upsert(Seq((5L, 2L, "d")).toDF("id", "k", "v"))
    val s1 = IncrementalView.maintainDistinctView(base, aux, view,
      Seq("k"), "v", v0)
    assert(dist == Map(1L -> 2L, 2L -> 2L),
      "surviving duplicate must keep the distinct count")
    // batch 2: delete the LAST 'a' → k=1 drops to 1; delete ALL of
    // k=2 → group extinct
    base.delete(col("id") === 2L)
    base.delete(col("k") === 2L)
    val preView = view.read.collect().toSet // pre-span view contents
    IncrementalView.maintainDistinctView(base, aux, view, Seq("k"), "v", s1)
    assert(dist == Map(1L -> 1L), "last-instance delete + extinction")
    // invariant vs full recompute at the end
    val recomp = IncrementalView.distinctView(base.read, Seq("k"), "v")
      .select(col("k"), col("n_distinct"))
      .as[(Long, Long)].collect().toMap
    assert(dist == recomp)
    // the support relation converged too (no zombie zero-count rows)
    assert(aux.read.filter(col("cnt") <= 0L).count() == 0L)
    // crash-replay: re-running the SAME span is a no-op (span markers),
    // and the aux-applied-only crash window recovers exactly (the same
    // stored − d_n arithmetic the full-stats maintainer pins in depth)
    val a1 = aux.read.select(col("k"), col("__v"), col("cnt"))
      .as[(Long, String, Long)].collect().toSet
    IncrementalView.maintainDistinctView(base, aux, view, Seq("k"), "v", s1)
    assert(dist == recomp && aux.read.select(col("k"), col("__v"),
      col("cnt")).as[(Long, String, Long)].collect().toSet == a1,
      "same-span replay must be a no-op")
    // the aux-applied-only CRASH WINDOW (view commit never landed):
    // reset the view to its pre-span contents — create is DDL-replace,
    // so contents AND span marker are gone — while the aux keeps its
    // marker. The retry must route through oldCnt = stored − d_n (exact
    // even for the aux rows the merge DELETED: k=2's values, whose
    // stored cnt is now absent, recover as 0 − (−1) = 1) and run ONLY
    // the view merge, landing the identical post-span state.
    view.create(spark.createDataFrame(
      spark.sparkContext.parallelize(preView.toSeq), view.read.schema))
    IncrementalView.maintainDistinctView(base, aux, view, Seq("k"), "v", s1)
    assert(dist == recomp, "crash-window retry must land the same view")
    assert(aux.read.select(col("k"), col("__v"), col("cnt"))
      .as[(Long, String, Long)].collect().toSet == a1,
      "crash-window retry must NOT re-apply the aux")
  }

  test("moments view: maintained == recompute through churn and " +
      "extinction; second moment needs no rescan") {
    val root = s"$tablesRoot/ivm_mom"
    val base = LakeTable(spark, root, "mom_base", Seq("id"), changeFeed = true)
    val view = LakeTable(spark, root, "mom_view", Seq("k"))
    base.drop(); view.drop()
    base.create((1L to 30L).map(i => (i, i % 3, i * 1.0)).toDF("id", "k", "v"))
    val v0 = base.version
    view.create(IncrementalView.momentsView(base.read, Seq("k"), "v"))
    base.upsert(((1L to 30L).filter(_ % 4 == 0).map(i => (i, i % 3, i * 2.0)) ++
      (31L to 35L).map(i => (i, i % 3, i * 1.0))).toDF("id", "k", "v"))
    base.delete(col("id") % 7 === 0)
    base.delete(col("k") === 0L) // extinction: group 0 fully gone
    IncrementalView.maintainMomentsView(base, view, Seq("k"), "v", v0)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("sum_value").cast("string"),
          col("sum_sq").cast("string"))
        .as[(Long, Long, String, String)].collect().toSet
    val got = snap(view.read)
    assert(got == snap(IncrementalView.momentsView(base.read, Seq("k"), "v")))
    assert(!got.exists(_._1 == 0L), "extinct group must vanish")
    assert(got.nonEmpty)
  }

  // ---- JOIN views (two-table delta rule) ----

  private def jvSnapshot(t: LakeTable): Set[(String, Long, String)] =
    t.read.select(col("seg"), col("n"), col("sum_value").cast("string"))
      .as[(String, Long, String)].collect().toSet

  private def jvRecomp(f: LakeTable, d: LakeTable): Set[(String, Long, String)] =
    IncrementalView.joinSumView(f.read, d.read, Seq("ck"), Seq("seg"), "v")
      .select(col("seg"), col("n"), col("sum_value").cast("string"))
      .as[(String, Long, String)].collect().toSet

  test("join view: maintained == recompute through fact churn, then " +
      "simultaneous fact+dim churn, chained via returned versions") {
    val root = s"$tablesRoot/ivm_jv1"
    val f = LakeTable(spark, root, "jv_fact", Seq("id"), changeFeed = true)
    val d = LakeTable(spark, root, "jv_dim", Seq("ck"), changeFeed = true)
    val v = LakeTable(spark, root, "jv_view", Seq("seg"))
    f.drop(); d.drop(); v.drop()
    f.create((1L to 20L).map(i => (i, i % 5, i * 1.0)).toDF("id", "ck", "v"))
    d.create(Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B"), (4L, "C"))
      .toDF("ck", "seg"))
    val (f0, d0) = (f.version, d.version)
    v.create(IncrementalView.joinSumView(f.read, d.read, Seq("ck"),
      Seq("seg"), "v"))
    // batch 1: fact churn only — the quiet-dim fast path (dD empty)
    f.upsert(((4L to 20L by 4).map(i => (i, i % 5, i * 2.0)) ++
      Seq((21L, 1L, 3.0))).toDF("id", "ck", "v"))
    f.delete(col("id") % 7 === 0)
    val (f1, d1) = IncrementalView.maintainJoinSumView(f, d, v,
      Seq("ck"), Seq("seg"), "v", f0, d0)
    assert(jvSnapshot(v) == jvRecomp(f, d))
    assert(jvSnapshot(v).nonEmpty)
    // batch 2: dim churn (segment move + customer delete) AND fact
    // churn in the SAME window — exercises all three delta terms,
    // including the fact-insert-joins-deleted-dim interaction (id 22,
    // ck 4) that only the −dF⋈dD term nets out, and a fresh fact
    // insert (id 23) that must land in the dim row's NEW segment
    d.update(col("ck") === 1L, Map("seg" -> lit("MOVED")))
    d.delete(col("ck") === 4L)
    f.upsert(Seq((22L, 4L, 9.0), (23L, 1L, 1.5)).toDF("id", "ck", "v"))
    IncrementalView.maintainJoinSumView(f, d, v,
      Seq("ck"), Seq("seg"), "v", f1, d1)
    val snap = jvSnapshot(v)
    assert(snap == jvRecomp(f, d))
    assert(snap.exists(_._1 == "MOVED"), "moved segment must appear")
    assert(!snap.exists(_._1 == "C"),
      s"segment C lost its only customer — extinction, got $snap")
  }

  test("join view grouped by a fact-side key (dim as filter)") {
    val root = s"$tablesRoot/ivm_jv2"
    val f = LakeTable(spark, root, "jv_fact2", Seq("id"), changeFeed = true)
    val d = LakeTable(spark, root, "jv_dim2", Seq("ck"), changeFeed = true)
    val v = LakeTable(spark, root, "jv_view2", Seq("ck"))
    f.drop(); d.drop(); v.drop()
    f.create((1L to 12L).map(i => (i, i % 4, i * 1.0)).toDF("id", "ck", "v"))
    d.create(Seq((0L, "A"), (1L, "A"), (2L, "B")).toDF("ck", "seg")) // no ck=3
    val (f0, d0) = (f.version, d.version)
    v.create(IncrementalView.joinSumView(f.read, d.read, Seq("ck"),
      Seq("ck"), "v"))
    // unmatched fact rows (ck=3) are invisible to the view on BOTH sides
    f.upsert(Seq((13L, 3L, 5.0), (14L, 2L, 6.0)).toDF("id", "ck", "v"))
    d.delete(col("ck") === 0L) // group 0 extinct via the dim side
    IncrementalView.maintainJoinSumView(f, d, v,
      Seq("ck"), Seq("ck"), "v", f0, d0)
    val got = v.read.select(col("ck"), col("n"), col("sum_value").cast("string"))
      .as[(Long, Long, String)].collect().toSet
    val want = IncrementalView.joinSumView(f.read, d.read, Seq("ck"),
        Seq("ck"), "v")
      .select(col("ck"), col("n"), col("sum_value").cast("string"))
      .as[(Long, Long, String)].collect().toSet
    assert(got == want)
    assert(!got.exists(_._1 == 0L) && !got.exists(_._1 == 3L))
  }

  test("quiet-dim join maintenance never reads the fact table " +
      "(bytes-read pin on the O(changes) claim)") {
    val root = s"$tablesRoot/ivm_jv4"
    val f = LakeTable(spark, root, "nb_fact", Seq("id"), changeFeed = true)
    val d = LakeTable(spark, root, "nb_dim", Seq("ck"))
    val v = LakeTable(spark, root, "nb_view", Seq("seg"))
    f.drop(); d.drop(); v.drop()
    // fact made deliberately LARGE relative to dim/feed/view so a scan
    // of it would dominate the byte counter
    f.create((1L to 60000L).map(i => (i, i % 4, i * 1.0)).toDF("id", "ck", "v"))
    d.create(Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B")).toDF("ck", "seg"))
    val (f0, d0) = (f.version, d.version)
    v.create(IncrementalView.joinSumView(f.read, d.read, Seq("ck"),
      Seq("seg"), "v"))
    // fact-only churn — the quiet-dim window where the F1⋈dD and dF⋈dD
    // terms are provably empty and AQE must propagate that emptiness
    // instead of scanning the fact
    f.upsert(Seq((60001L, 1L, 7.0), (4L, 0L, 99.0)).toDF("id", "ck", "v"))
    f.delete(col("id") === 8L)
    val factBytes = f.describeDetail.filter(col("is_current"))
      .select("bytes").as[Long].head()
    val bytes = bytesReadBy {
      IncrementalView.maintainJoinSumView(f, d, v,
        Seq("ck"), Seq("seg"), "v", f0, d0)
    }
    // correctness first, then the cost-shape pin
    val got = jvSnapshot(v)
    assert(got == jvRecomp(f, d))
    assert(factBytes > 200000, s"fixture fact too small to discriminate: $factBytes")
    assert(bytes < factBytes / 2,
      s"quiet-dim maintenance read $bytes bytes against a " +
        s"$factBytes-byte fact — the fact was scanned")
  }

  test("join min/max view: extremum deletes rescan through the join; " +
      "same-window cancelled values never tighten") {
    val root = s"$tablesRoot/ivm_jv3"
    val f = LakeTable(spark, root, "jm_fact", Seq("id"), changeFeed = true)
    val d = LakeTable(spark, root, "jm_dim", Seq("ck"), changeFeed = true)
    val v = LakeTable(spark, root, "jm_view", Seq("seg"))
    f.drop(); d.drop(); v.drop()
    f.create((1L to 12L).map(i => (i, i % 3, i * 1.0)).toDF("id", "ck", "v"))
    d.create(Seq((0L, "A"), (1L, "A"), (2L, "B")).toDF("ck", "seg"))
    val (f0, d0) = (f.version, d.version)
    v.create(IncrementalView.joinMinMaxView(f.read, d.read, Seq("ck"),
      Seq("seg"), "v"))
    // one window: delete A's max (id 12, v=12 — rescan must reveal 10);
    // delete B's only customer (extinction through the dim); AND insert
    // a huge fact (v=500) for that same deleted customer — the net
    // per-(group, value) rule must treat it as a phantom, not a new max
    f.delete(col("id") === 12L)
    d.delete(col("ck") === 2L)
    f.upsert(Seq((14L, 2L, 500.0)).toDF("id", "ck", "v"))
    IncrementalView.maintainJoinMinMaxView(f, d, v,
      Seq("ck"), Seq("seg"), "v", f0, d0)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("seg"), col("n"), col("sum_value").cast("string"),
          col("min_value").cast("string"), col("max_value").cast("string"))
        .as[(String, Long, String, String, String)].collect().toSet
    val got = snap(v.read)
    assert(got == snap(IncrementalView.joinMinMaxView(f.read, d.read,
      Seq("ck"), Seq("seg"), "v")))
    assert(!got.exists(_._1 == "B"), s"B extinct through the dim, got $got")
    val a = got.find(_._1 == "A").get
    assert(a._5.startsWith("10."), s"rescan must reveal A's runner-up: $a")
    assert(a._4.startsWith("1."), s"min untouched: $a")
  }

  test("moments maintenance preserves >=4-dp precision (sub-1e-6 " +
      "squares survive the signed delta)") {
    // the round-9 latent bug: sum(vDec*vDec*sign) overflowed past
    // precision 38 and Spark's precision-loss rule truncated the scale
    // to 6, so 0.0003² (9.0E-8) maintained as 0.000000 — masked by 2-dp
    // money fixtures. 4-dp values with sub-1e-6 squares pin maintained
    // ≡ recomputed bit-for-bit through insert/update/delete batches.
    val root = s"$tablesRoot/ivm_mom4dp"
    val base = LakeTable(spark, root, "m4_base", Seq("id"), changeFeed = true)
    val view = LakeTable(spark, root, "m4_view", Seq("k"))
    base.drop(); view.drop()
    val vals = Seq(0.0003, 0.0007, 1.0001, 2.5009, 0.0001, 3.1415)
    base.create(vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, i.toLong % 2, v) }.toDF("id", "k", "v"))
    val v0 = base.version
    view.create(IncrementalView.momentsView(base.read, Seq("k"), "v"))
    // update id 0 (0.0003 -> 0.0005: both squares sub-1e-6), insert a
    // fresh 4-dp row, delete id 1 (removes 0.0007² = 4.9E-7)
    base.upsert(Seq((0L, 0L, 0.0005), (6L, 0L, 0.0009)).toDF("id", "k", "v"))
    base.delete(col("id") === 1L)
    IncrementalView.maintainMomentsView(base, view, Seq("k"), "v", v0)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("sum_value").cast("string"),
          col("sum_sq").cast("string"))
        .as[(Long, Long, String, String)].collect().toSet
    val got = snap(view.read)
    assert(got == snap(IncrementalView.momentsView(base.read, Seq("k"), "v")))
    // the discriminating digits really are there: group 0 now holds
    // {0.0005, 1.0001, 0.0001, 0.0009} -> Σv² = 0.00000025 +
    // 1.00020001 + 0.00000001 + 0.00000081 = 1.00020108 — every digit
    // past the 6th decimal place is exactly what the old truncating
    // delta destroyed
    val g0 = got.find(_._1 == 0L).get
    assert(g0._4 == "1.00020108", s"sub-1e-6 squares destroyed: $g0")
  }

  test("min/max over a CHANGE FEED: a value inserted then deleted in " +
      "the same span is a phantom — netting keeps it out of the extrema") {
    // with changeFeed on, changesSince is an un-netted per-version
    // EVENT LOG: insert v=200 @v2 then delete it @v3 lands 200 in the
    // insert-side extrema unless the maintainer nets per (group, value)
    // first (the round-9 high-severity ADVICE case; the older specs
    // only exercised snapshot-diff tables, which arrive pre-netted)
    val root = s"$tablesRoot/ivm_mmfeed"
    val base = LakeTable(spark, root, "mmf_base", Seq("id"), changeFeed = true)
    val view = LakeTable(spark, root, "mmf_view", Seq("k"))
    base.drop(); view.drop()
    base.create(Seq((1L, 0L, 100.0), (2L, 0L, 50.0), (3L, 1L, 7.0))
      .toDF("id", "k", "v"))
    val v0 = base.version
    view.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
    // span: insert 200 (new group-0 max), then delete that same row;
    // also update id 3 to 9 then back to 7 (pre/post pairs must cancel)
    base.upsert(Seq((10L, 0L, 200.0)).toDF("id", "k", "v"))
    base.delete(col("id") === 10L)
    base.upsert(Seq((3L, 1L, 9.0)).toDF("id", "k", "v"))
    base.upsert(Seq((3L, 1L, 7.0)).toDF("id", "k", "v"))
    IncrementalView.maintainMinMaxView(base, view, Seq("k"), "v", v0)
    val got = mmSnapshot(view)
    val want = {
      val recomputed = LakeTable(spark, root, "mmf_recomp", Seq("k"))
      recomputed.drop()
      recomputed.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
      mmSnapshot(recomputed)
    }
    assert(got == want, s"got $got, want $want")
    val g0 = got.find(_._1 == 0L).get
    assert(g0._5.startsWith("100."),
      s"phantom insert-then-delete value leaked into max: $g0")
  }

  test("broadcast gates degrade to shuffle semi-joins past the limit " +
      "with identical results (min/max, join sum, join min/max)") {
    val root = s"$tablesRoot/ivm_gate"
    val prev = IncrementalView.broadcastLimit
    IncrementalView.broadcastLimit = 1 // every gate takes the fallback
    try {
      // single-table min/max with a forced rescan (extremum deleted)
      val base = LakeTable(spark, root, "g_base", Seq("id"), changeFeed = true)
      val view = LakeTable(spark, root, "g_view", Seq("k"))
      base.drop(); view.drop()
      base.create((1L to 12L).map(i => (i, i % 3, i * 1.0)).toDF("id", "k", "v"))
      val v0 = base.version
      view.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
      base.delete(col("id") >= 10L) // deletes every group's max
      IncrementalView.maintainMinMaxView(base, view, Seq("k"), "v", v0)
      assert(mmSnapshot(view) == {
        val r = LakeTable(spark, root, "g_recomp", Seq("k"))
        r.drop()
        r.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
        mmSnapshot(r)
      })
      // join views with dim churn (dDKeys gate) + extremum rescan
      // through the join (rescanKeys/dimR/rescanned gates)
      val f = LakeTable(spark, root, "g_fact", Seq("id"), changeFeed = true)
      val d = LakeTable(spark, root, "g_dim", Seq("ck"), changeFeed = true)
      val vs = LakeTable(spark, root, "g_vsum", Seq("seg"))
      val vm = LakeTable(spark, root, "g_vmm", Seq("seg"))
      f.drop(); d.drop(); vs.drop(); vm.drop()
      f.create((1L to 12L).map(i => (i, i % 3, i * 1.0)).toDF("id", "ck", "v"))
      d.create(Seq((0L, "A"), (1L, "A"), (2L, "B")).toDF("ck", "seg"))
      val (f0, d0) = (f.version, d.version)
      vs.create(IncrementalView.joinSumView(f.read, d.read, Seq("ck"),
        Seq("seg"), "v"))
      vm.create(IncrementalView.joinMinMaxView(f.read, d.read, Seq("ck"),
        Seq("seg"), "v"))
      d.update(col("ck") === 1L, Map("seg" -> lit("MOVED")))
      f.delete(col("id") === 12L) // an extremum through the join
      IncrementalView.maintainJoinSumView(f, d, vs,
        Seq("ck"), Seq("seg"), "v", f0, d0)
      IncrementalView.maintainJoinMinMaxView(f, d, vm,
        Seq("ck"), Seq("seg"), "v", f0, d0)
      assert(jvSnapshot(vs) == jvRecomp(f, d))
      def mmJ(df: org.apache.spark.sql.DataFrame) =
        df.select(col("seg"), col("n"), col("sum_value").cast("string"),
            col("min_value").cast("string"), col("max_value").cast("string"))
          .as[(String, Long, String, String, String)].collect().toSet
      assert(mmJ(vm.read) == mmJ(IncrementalView.joinMinMaxView(
        f.read, d.read, Seq("ck"), Seq("seg"), "v")))
    } finally IncrementalView.broadcastLimit = prev
  }

  test("fused stats view: one-pass maintenance == recompute through " +
      "4-dp churn, phantom events, extremum deletion, and extinction") {
    val root = s"$tablesRoot/ivm_stats"
    val base = LakeTable(spark, root, "st_base", Seq("id"), changeFeed = true)
    val view = LakeTable(spark, root, "st_view", Seq("k"))
    base.drop(); view.drop()
    // 4-dp values so the moments half exercises the sub-1e-6 digits;
    // group structure so the min/max half exercises the rescan
    base.create(Seq((1L, 0L, 0.0003), (2L, 0L, 1.0001), (3L, 0L, 9.5),
        (4L, 1L, 0.0007), (5L, 1L, 2.5009), (6L, 2L, 4.0))
      .toDF("id", "k", "v"))
    val v0 = base.version
    view.create(IncrementalView.statsView(base.read, Seq("k"), "v"))
    // churn in one span: phantom (insert 99 then delete it — must not
    // become group 0's max), delete group 0's current max 9.5 (rescan
    // reveals 1.0001), update a 4-dp value, extinguish group 2
    base.upsert(Seq((10L, 0L, 99.0)).toDF("id", "k", "v"))
    base.delete(col("id") === 10L)
    base.delete(col("id") === 3L)
    base.upsert(Seq((4L, 1L, 0.0005)).toDF("id", "k", "v"))
    base.delete(col("k") === 2L)
    IncrementalView.maintainStatsView(base, view, Seq("k"), "v", v0)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("sum_value").cast("string"),
          col("min_value").cast("string"), col("max_value").cast("string"),
          col("sum_sq").cast("string"))
        .as[(Long, Long, String, String, String, String)].collect().toSet
    val got = snap(view.read)
    assert(got == snap(IncrementalView.statsView(base.read, Seq("k"), "v")))
    assert(!got.exists(_._1 == 2L), s"group 2 extinct, got $got")
    val g0 = got.find(_._1 == 0L).get
    assert(g0._5.startsWith("1.0001"),
      s"rescan must reveal the runner-up max, not 99 or 9.5: $g0")
    val g1 = got.find(_._1 == 1L).get
    // Σv² for group 1 = 0.0005² + 2.5009² = 0.00000025 + 6.25450081
    assert(g1._6 == "6.25450106", s"4-dp moment digits destroyed: $g1")
  }

  test("full stats view (aux-backed): maintained == recompute through " +
      "churn, phantom, extremum deletion, all-non-null-deleted, " +
      "distinct transitions, extinction") {
    val root = s"$tablesRoot/ivm_full"
    val base = LakeTable(spark, root, "fs_base", Seq("id"), changeFeed = true)
    val aux = LakeTable(spark, root, "fs_aux", Seq("k", "__v"))
    val view = LakeTable(spark, root, "fs_view", Seq("k"))
    base.drop(); aux.drop(); view.drop()
    // k=0: duplicate value 2.5 (distinct-count stability under single
    // delete), a 4-dp value, and a max to delete; k=1: a value AND a
    // null row (all-non-null-deleted case); k=2: extinction fodder
    base.create(Seq((1L, 0L, Some(2.5)), (2L, 0L, Some(2.5)),
        (3L, 0L, Some(0.0003)), (4L, 0L, Some(9.5)),
        (5L, 1L, Some(7.0)), (6L, 1L, None),
        (7L, 2L, Some(4.0))).toDF("id", "k", "v"))
    val v0 = base.version
    aux.create(IncrementalView.fullStatsSupportView(base.read, Seq("k"), "v"))
    view.create(IncrementalView.fullStatsView(base.read, Seq("k"), "v"))
    // churn: phantom 99 (insert then delete), delete k=0's max 9.5
    // (aux answers 2.5), delete ONE of the 2.5 twins (n_distinct must
    // NOT move), delete k=1's only non-null value (extrema go null,
    // n_distinct 0, n stays 1), extinguish k=2
    base.upsert(Seq((10L, 0L, Some(99.0))).toDF("id", "k", "v"))
    base.delete(col("id") === 10L)
    base.delete(col("id") === 4L)
    base.delete(col("id") === 1L)
    base.delete(col("id") === 5L)
    base.delete(col("k") === 2L)
    IncrementalView.maintainFullStatsView(base, aux, view, Seq("k"), "v", v0)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("sum_value").cast("string"),
          col("min_value").cast("string"), col("max_value").cast("string"),
          col("sum_sq").cast("string"), col("n_distinct"))
        .as[(Long, Long, String, String, String, String, Long)]
        .collect().toSet
    val got = snap(view.read)
    assert(got == snap(IncrementalView.fullStatsView(base.read, Seq("k"), "v")))
    val g0 = got.find(_._1 == 0L).get
    assert(g0._5.startsWith("2.5"), s"aux must answer the runner-up max: $g0")
    assert(g0._7 == 2L, s"twin delete must not move n_distinct: $g0")
    val g1 = got.find(_._1 == 1L).get
    assert(g1._2 == 1L && g1._4 == null && g1._5 == null && g1._7 == 0L,
      s"all-non-null-deleted group must null its extrema: $g1")
    assert(!got.exists(_._1 == 2L), "k=2 extinct")
    // aux converged: no zombie rows, and it equals its own recompute
    assert(aux.read.filter(col("cnt") <= 0L).isEmpty)
    // LEGACY aux (created without the frozen key, plain create above):
    // the first maintain retro-froze the modulus, so a later mismatched
    // maintainer fails the frozen-key check instead of corrupting
    assert(aux.meta.get(IncrementalView.AuxBucketsKey).contains("0"))
  }

  test("full stats crash-replay: re-running the same span converges, " +
      "including the crash window between the aux and view commits") {
    val root = s"$tablesRoot/ivm_flreplay"
    val base = LakeTable(spark, root, "fr_base", Seq("id"), changeFeed = true)
    val aux = LakeTable(spark, root, "fr_aux", Seq("k", "__v"))
    val view = LakeTable(spark, root, "fr_view", Seq("k"))
    base.drop(); aux.drop(); view.drop()
    base.create(Seq((1L, 0L, 2.5), (2L, 0L, 2.5), (3L, 0L, 9.5),
      (4L, 1L, 7.0)).toDF("id", "k", "v"))
    val v0 = base.version
    aux.create(IncrementalView.fullStatsSupportView(base.read, Seq("k"), "v"))
    view.create(IncrementalView.fullStatsView(base.read, Seq("k"), "v"))
    val preView = view.read.collect().toSet // pre-span view contents
    base.delete(col("id") === 3L)           // max delete: aux-answered
    base.upsert(Seq((5L, 1L, 1.0), (6L, 0L, 2.5)).toDF("id", "k", "v"))
    IncrementalView.maintainFullStatsView(base, aux, view, Seq("k"), "v", v0)
    def vsnap = view.read.select(col("k"), col("n"), col("n_nonnull"),
        col("sum_value").cast("string"), col("min_value").cast("string"),
        col("max_value").cast("string"), col("n_distinct"))
      .as[(Long, Long, Long, String, String, String, Long)].collect().toSet
    def asnap = aux.read.select(col("k"), col("__v").cast("string"),
      col("cnt")).as[(Long, String, Long)].collect().toSet
    val (v1, a1) = (vsnap, asnap)
    // 1. FULL replay of the same span: both markers present → no-op
    IncrementalView.maintainFullStatsView(base, aux, view, Seq("k"), "v", v0)
    assert(vsnap == v1 && asnap == a1, "full replay must be a no-op")
    // 2. the CRASH WINDOW: aux commit landed, view commit didn't —
    //    simulate by resetting the view to its pre-span contents
    //    (create is DDL-replace: contents AND markers gone, exactly a
    //    view whose span commit never happened). Before round 13 the
    //    retry re-applied the ADDITIVE aux merge and the support
    //    counts drifted; now the aux's span marker routes the retry
    //    through the stored−w recovery and only the view merge runs.
    view.create(spark.createDataFrame(
      spark.sparkContext.parallelize(preView.toSeq), view.read.schema))
    IncrementalView.maintainFullStatsView(base, aux, view, Seq("k"), "v", v0)
    assert(vsnap == v1, "crash-window retry must land the same view")
    assert(asnap == a1, "crash-window retry must NOT re-apply the aux")
    // and the converged state equals the from-scratch recompute
    val recomp = IncrementalView.fullStatsView(base.read, Seq("k"), "v")
      .select(col("k"), col("n"), col("n_nonnull"),
        col("sum_value").cast("string"), col("min_value").cast("string"),
        col("max_value").cast("string"), col("n_distinct"))
      .as[(Long, Long, Long, String, String, String, Long)].collect().toSet
    assert(vsnap == recomp)
  }

  test("full stats view with a BUCKETED aux: identical results, " +
      "Hive-partitioned aux layout, pruned per-batch merge") {
    val root = s"$tablesRoot/ivm_fullb"
    val base = LakeTable(spark, root, "fb_base", Seq("id"), changeFeed = true)
    val aux = LakeTable(spark, root, "fb_aux", Seq("k", "__v"),
      partitionCols = Seq("__b"))
    val view = LakeTable(spark, root, "fb_view", Seq("k"))
    base.drop(); aux.drop(); view.drop()
    base.create((1L to 200L).map(i => (i, i % 8, (i % 20) * 1.0))
      .toDF("id", "k", "v"))
    val v0 = base.version
    // create through the helper so the modulus freezes ATOMICALLY into
    // the create commit (AuxBucketsKey doc)
    IncrementalView.createFullStatsAux(aux,
      base.read, Seq("k"), "v", buckets = 4)
    view.create(IncrementalView.fullStatsView(base.read, Seq("k"), "v"))
    assert(aux.meta.get(IncrementalView.AuxBucketsKey).contains("4"))
    // the aux landed as a Hive-partitioned table over the bucket col
    assert(java.nio.file.Files.list(aux.currentDir).toArray.map(_.toString)
      .count(_.contains("__b=")) > 1, "aux must be bucket-partitioned")
    // churn touching a FEW groups (few buckets): kill EVERY copy of
    // value 19 in group 3 (ids ≡19 mod 20 ∧ ≡3 mod 8 — its max; group
    // 7 keeps its own copies), insert a 4-dp-ish value, extinguish k=5
    base.delete(col("id") % 20 === 19L && col("id") % 8 === 3L)
    base.upsert(Seq((201L, 3L, 2.5)).toDF("id", "k", "v"))
    base.delete(col("k") === 5L)
    // a mismatched bucket count fails loudly instead of corrupting —
    // both the on/off flip and the MODULUS change the presence check
    // is provably blind to (stored pmod(h,4) values are a subset of
    // pmod(h,8)'s range, so the IN-list would silently drop counts)
    intercept[IllegalArgumentException] {
      IncrementalView.maintainFullStatsView(base, aux, view,
        Seq("k"), "v", v0, auxBuckets = 0)
    }
    val exm = intercept[IllegalArgumentException] {
      IncrementalView.maintainFullStatsView(base, aux, view,
        Seq("k"), "v", v0, auxBuckets = 8)
    }
    assert(exm.getMessage.contains("auxBuckets=8"))
    IncrementalView.maintainFullStatsView(base, aux, view,
      Seq("k"), "v", v0, auxBuckets = 4)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("sum_value").cast("string"),
          col("min_value").cast("string"), col("max_value").cast("string"),
          col("sum_sq").cast("string"), col("n_distinct"))
        .as[(Long, Long, String, String, String, String, Long)]
        .collect().toSet
    val got = snap(view.read)
    assert(got == snap(IncrementalView.fullStatsView(base.read, Seq("k"), "v")))
    val g3 = got.find(_._1 == 3L).get
    assert(g3._5.startsWith("15."),
      s"aux must answer k=3's runner-up max 15 after value 19 died: $g3")
    assert(!got.exists(_._1 == 5L), "k=5 extinct")
    // aux content equals its own recompute (bucket col included)
    val auxGot = aux.read.select(col("k"), col("__v").cast("string"),
        col("cnt"), col("__b"))
      .as[(Long, String, Long, Long)].collect().toSet
    val auxWant = IncrementalView.fullStatsSupportView(
        base.read, Seq("k"), "v", buckets = 4)
      .select(col("k"), col("__v").cast("string"), col("cnt"), col("__b"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(auxGot == auxWant)
  }

  test("full stats maintenance NEVER reads the base (bytes-read pin " +
      "on the aux-answered extremum deletion)") {
    val root = s"$tablesRoot/ivm_full_nb"
    val base = LakeTable(spark, root, "fnb_base", Seq("id"), changeFeed = true)
    val aux = LakeTable(spark, root, "fnb_aux", Seq("k", "__v"))
    val view = LakeTable(spark, root, "fnb_view", Seq("k"))
    base.drop(); aux.drop(); view.drop()
    // base deliberately LARGE with heavily-duplicated values (i%100 ≡ i
    // mod 4, so group k holds the 25 values ≡ k mod 4 and the aux is
    // ~100 rows against 300k base rows — the realistic aux-much-
    // smaller-than-base shape) plus ONE planted singleton: group 3's
    // max 999. Deleting it is a one-row feed whose extremum deletion
    // forces what the min/max maintainers answer with a base rescan —
    // answered here from the aux alone.
    base.create(((1L to 300000L).map(i => (i, i % 4, (i % 100) * 1.0)) :+
      ((300001L, 3L, 999.0))).toDF("id", "k", "v"))
    val v0 = base.version
    aux.create(IncrementalView.fullStatsSupportView(base.read, Seq("k"), "v"))
    view.create(IncrementalView.fullStatsView(base.read, Seq("k"), "v"))
    base.delete(col("id") === 300001L) // the planted max, fully gone
    val baseBytes = base.describeDetail.filter(col("is_current"))
      .select("bytes").as[Long].head()
    val bytes = bytesReadBy {
      IncrementalView.maintainFullStatsView(base, aux, view,
        Seq("k"), "v", v0)
    }
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("sum_value").cast("string"),
          col("min_value").cast("string"), col("max_value").cast("string"),
          col("sum_sq").cast("string"), col("n_distinct"))
        .as[(Long, Long, String, String, String, String, Long)]
        .collect().toSet
    val got = snap(view.read)
    assert(got == snap(IncrementalView.fullStatsView(base.read, Seq("k"), "v")))
    // the aux really answered the deletion: group 3's max fell 999 → 99
    assert(got.find(_._1 == 3L).get._5.startsWith("99."))
    assert(baseBytes > 200000, s"fixture too small to discriminate: $baseBytes")
    // the budget covers feed + (tiny) aux + view reads only
    assert(bytes < baseBytes / 2,
      s"maintenance read $bytes bytes against a $baseBytes-byte " +
        "base — the base was scanned")
  }

  test("extremum maintainers rescan the base only when a batch threatens " +
      "an extremum (bytes-read and plan pins on the zero-threat gate)") {
    val root = s"$tablesRoot/ivm_gate"
    val dim = LakeTable(spark, root, "gate_dim", Seq("k"))
    dim.drop()
    dim.create(Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B")).toDF("k", "seg"))
    // one row per maintainer: its view key, its initial view of a base,
    // and its maintain call over (base, view, since)
    final case class Gate(name: String, viewKey: String,
        initial: LakeTable => org.apache.spark.sql.DataFrame,
        maintain: (LakeTable, LakeTable, Int) => Unit)
    val gates = Seq(
      Gate("minmax", "k",
        b => IncrementalView.minMaxView(b.read, Seq("k"), "v"),
        (b, v, since) => IncrementalView.maintainMinMaxView(b, v,
          Seq("k"), "v", since)),
      Gate("stats", "k",
        b => IncrementalView.statsView(b.read, Seq("k"), "v"),
        (b, v, since) => IncrementalView.maintainStatsView(b, v,
          Seq("k"), "v", since)),
      Gate("joinminmax", "seg",
        b => IncrementalView.joinMinMaxView(b.read, dim.read, Seq("k"),
          Seq("seg"), "v"),
        (b, v, since) => IncrementalView.maintainJoinMinMaxView(b, dim, v,
          Seq("k"), Seq("seg"), "v", since, dim.version)))
    // base deliberately LARGE against feed and view, its bytes mostly
    // the value column (scrambled doubles barely compress), so a rescan
    // reads most of them; group k = id % 4, segment B = k in (2, 3)
    val rows = (1L to 60000L).map(i =>
      (i, i % 4, ((i * 0x9E3779B97F4A7C15L) >>> 34) / 100.0))
    val maxB = rows.filter(_._2 >= 2L).maxBy(_._3)
    val k0 = rows.filter(_._2 == 0L).sortBy(_._3)
    val mid = k0(k0.size / 2)
    gates.foreach { g =>
      val base = LakeTable(spark, root, s"gate_${g.name}_base", Seq("id"),
        changeFeed = true)
      val view = LakeTable(spark, root, s"gate_${g.name}_view", Seq(g.viewKey))
      base.drop(); view.drop()
      base.create(rows.toDF("id", "k", "v"))
      view.create(g.initial(base))
      val baseBytes = base.describeDetail.filter(col("is_current"))
        .select("bytes").as[Long].head()
      assert(baseBytes > 200000,
        s"${g.name}: fixture too small to discriminate: $baseBytes")
      def check(): Unit = {
        val cols = view.read.columns.toSeq.sorted.map(c => col(c).cast("string"))
        assert(view.read.select(cols: _*).collect().toSet ==
          g.initial(base).select(cols: _*).collect().toSet,
          s"${g.name}: maintained != recompute")
      }
      // (bytes read, whether any action planned the rescan join): AQE
      // drops a scan behind an EMPTY rescan key set at run time, so the
      // bytes alone cannot tell the gate from a rescan of nothing
      def maintain(since: Int): (Long, Boolean) = {
        var bytes = 0L
        val (_, runs) = graft.plans.PlanLint.captureExecutions(spark) {
          bytes = bytesReadBy { g.maintain(base, view, since) }
        }
        (bytes, runs.exists(_._2.optimizedPlan.toString.contains("r_min")))
      }
      // zero threat: an insert and the delete of a median value tie no
      // stored extremum
      val v0 = base.version
      base.upsert(Seq((60001L, 1L, mid._3)).toDF("id", "k", "v"))
      base.delete(col("id") === mid._1)
      val (quiet, quietRescan) = maintain(v0)
      check()
      assert(!quietRescan, s"${g.name}: a zero-threat batch planned a rescan")
      assert(quiet < baseBytes / 2,
        s"${g.name}: a zero-threat batch read $quiet bytes against a " +
          s"$baseBytes-byte base — the base was rescanned")
      // threat: deleting segment B's max (its group's max too) rescans
      // the group and value columns of the base — most of its bytes
      val v1 = base.version
      base.delete(col("id") === maxB._1)
      val (threat, threatRescan) = maintain(v1)
      check()
      assert(threatRescan, s"${g.name}: an extremum delete planned no rescan")
      assert(threat > baseBytes / 2,
        s"${g.name}: an extremum delete read only $threat bytes of a " +
          s"$baseBytes-byte base — the threatened group was not rescanned")
    }
  }

  test("min/max extinction + null values never join the extrema") {
    val root = s"$tablesRoot/ivm_mm3"
    val base = LakeTable(spark, root, "mm_base3", Seq("id"))
    val view = LakeTable(spark, root, "mm_view3", Seq("k"))
    base.drop(); view.drop()
    base.create(Seq((1L, 10L, Some(5.0)), (2L, 10L, Some(7.0)),
        (3L, 20L, Some(1.0)), (4L, 20L, None))
      .toDF("id", "k", "v"))
    val v0 = base.version
    view.create(IncrementalView.minMaxView(base.read, Seq("k"), "v"))
    base.delete(col("k") === 10L) // extinction
    IncrementalView.maintainMinMaxView(base, view, Seq("k"), "v", v0)
    val rows = mmSnapshot(view)
    assert(rows.map(_._1) == Set(20L), s"group 10 must vanish, got $rows")
    val g20 = rows.head
    // null row counts in n but not in min/max
    assert(g20._2 == 2L && g20._4.startsWith("1.") && g20._5.startsWith("1."),
      s"got $g20")
  }

  test("a stored sum_sq past decimal(37,8) headroom fails LOUDLY, " +
      "never silently resets to 0") {
    val root = s"$tablesRoot/ivm_ovf"
    val base = LakeTable(spark, root, "ovf_base", Seq("id"))
    val view = LakeTable(spark, root, "ovf_view", Seq("k"))
    base.drop(); view.drop()
    base.create(Seq((1L, 0L, 2.0), (2L, 0L, 3.0)).toDF("id", "k", "v"))
    val v0 = base.version
    // fabricate a stored Σv² with 30 integer digits — one past what
    // the (37,8) merge-addition space holds. The non-ANSI cast nulls
    // it; without the guard the maintainer would coalesce that to 0
    // and publish a silently-corrupted view.
    view.create(Seq((0L, 2L)).toDF("k", "n")
      .withColumn("sum_value", lit(5).cast("decimal(30,4)"))
      .withColumn("sum_sq", expr(
        "CAST('100000000000000000000000000000' AS DECIMAL(38,8))")))
    base.upsert(Seq((3L, 0L, 4.0)).toDF("id", "k", "v")) // touches group 0
    val e = intercept[Exception] {
      IncrementalView.maintainMomentsView(base, view, Seq("k"), "v", v0)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("IVM sum_sq overflow")),
      s"expected the loud overflow error, got: $e")
  }
}

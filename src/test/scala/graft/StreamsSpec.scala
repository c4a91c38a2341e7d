package graft

import org.apache.spark.sql.functions._

import graft.operators.EventOps
import graft.streaming.Streams

/** Structured Streaming parity: the streaming window aggregation over the
  * events table (drained with Trigger.AvailableNow) must equal the batch
  * EventOps result — same plan semantics, different execution mode. */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed counts == batch tumbling aggregation") {
    val batch = EventOps.tumbling(Tables.load(spark, sf, "events"), "1 hour")
      .orderBy("window_start", "event_type").collect().toSeq
    // readTableStream normalizes events.ts exactly like Tables.load
    val stream = Streams.readTableStream(spark, sf, "events")
    val streamed = Streams.drainToBatch(Streams.windowedCounts(stream, "1 hour"), "t_win")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming decontamination == batch multi-pattern scan") {
    // native expressions compose with Structured Streaming unchanged:
    // the AC scan is row-local, so it runs map-side in each micro-batch
    val pats = Seq("merge batch", "fast table", "hash value")
    def scan(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      graft.functions.TextExpressions.multiPatternMatch(col("text"), pats).as("m"))
    val batch = scan(Tables.load(spark, sf, "documents"))
      .orderBy("doc_id").collect().toSeq
    val streamed = Streams.drainAppend(
      scan(Streams.readTableStream(spark, sf, "documents")), "t_decon")
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming sliding windows == batch sliding aggregation") {
    val batch = EventOps.sliding(Tables.load(spark, sf, "events"), "1 hour", "30 minutes")
      .orderBy("window_start", "event_type").collect().toSeq
    val stream = Streams.readTableStream(spark, sf, "events")
    val streamed = Streams.drainToBatch(
      Streams.slidingCounts(stream, "1 hour", "30 minutes"), "t_slide")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(streamed == batch)
  }

  test("streaming dedup == batch distinct keys across micro-batches") {
    val stream = Streams.readTableStream(spark, sf, "events")
    val out = Streams.drainAppend(
      Streams.dedupStream(stream, Seq("user_id", "event_type")), "t_dedup")
      .select("user_id", "event_type").distinct().count()
    val batchKeys = Tables.load(spark, sf, "events")
      .select("user_id", "event_type").distinct().count()
    assert(out == batchKeys)
    // the watermark-scoped variant emits AT LEAST the distinct keys (a
    // key can re-emit once its state expires) — never loses one
    val stream2 = Streams.readTableStream(spark, sf, "events")
    val outWm = Streams.drainAppend(
      Streams.dedupStream(stream2, Seq("user_id", "event_type"),
        withinWatermarkOnly = true), "t_dedup_wm")
      .select("user_id", "event_type").distinct().count()
    assert(outWm == batchKeys)
  }

  test("foreachBatch streaming MERGE lands the same table as a batch upsert") {
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "cdc").toString
    val table = graft.table.LakeTable(spark, root, "events_t", Seq("event_id"))
    val stream = Streams.readTableStream(spark, sf, "events")
      .select("event_id", "user_id", "ts", "event_type", "value")
    Streams.upsertStream(stream, table, Seq("event_id"), "ts")
    val batch = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "ts", "event_type", "value")
    assert(table.read.count() == batch.count())
    assert(table.read.select("event_id").distinct().count() == batch.count())
    // idempotent rerun: same source stream again → identical table
    Streams.upsertStream(Streams.readTableStream(spark, sf, "events")
      .select("event_id", "user_id", "ts", "event_type", "value"),
      table, Seq("event_id"), "ts")
    assert(table.read.count() == batch.count())
  }

  test("streaming IVM sink across micro-batches == full recompute") {
    import graft.table.{IncrementalView, LakeTable}
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "sivm").toString
    val v = LakeTable(spark, root, "view", Seq("user_id"))
    v.create(IncrementalView.sumView(
      ev.filter(col("event_id") % 2 === 0), Seq("user_id"), "value"))
    // the odd half as THREE files + maxFilesPerTrigger=1 → the additive
    // delta rule must survive genuine micro-batch boundaries
    val srcDir = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "sivm_src").toString
    val odd = ev.filter(col("event_id") % 2 =!= 0)
    odd.repartition(3).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(odd.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    Streams.maintainSumViewStream(stream, v, Seq("user_id"), "value")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("n"), col("sum_value").cast("string"))
        .as[(Long, Long, String)].collect().toSet
    assert(snap(v.read) == snap(
      IncrementalView.sumView(ev, Seq("user_id"), "value")))
    assert(snap(v.read).nonEmpty)
    // REPLAY: a second drain of the same source re-delivers the same
    // batch ids — the transactional last-batch marker (committed with
    // the data) must make the additive deltas exactly-once, not
    // double-counted
    val replay = spark.readStream.schema(odd.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    Streams.maintainSumViewStream(replay, v, Seq("user_id"), "value")
    assert(snap(v.read) == snap(
      IncrementalView.sumView(ev, Seq("user_id"), "value")),
      "replayed batches must be skipped, not re-applied")
  }

  test("continuous IVM from the CDC stream: signed deltas through " +
      "upsert+delete+extinction == recompute; replay is a no-op") {
    import graft.table.{IncrementalView, LakeTable}
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "civm").toString
    val t = LakeTable(spark, root, "base", Seq("id"), changeFeed = true)
    val v = LakeTable(spark, root, "view", Seq("k"))
    t.create(Seq((1L, 1L, 2.0), (2L, 1L, 3.0), (3L, 2L, 5.0))
      .toDF("id", "k", "v"))
    v.create(IncrementalView.sumView(t.read, Seq("k"), "v"))
    t.upsert(Seq((2L, 1L, 30.0), (4L, 3L, 7.0)).toDF("id", "k", "v"))
    t.delete(col("k") === 2L) // group 2 extinct
    // per-FILE micro-batches may even split one version's feed — the
    // signed deltas must compose across any batching
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        t.read.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType)))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/base/changes/v*")
    Streams.maintainSumViewFromChangeFeed(feed, v, Seq("k"), "v")
    def snap = v.read.select(col("k"), col("n"), col("sum_value").cast("string"))
      .as[(Long, Long, String)].collect().toSet
    val recomp = IncrementalView.sumView(t.read, Seq("k"), "v")
      .select(col("k"), col("n"), col("sum_value").cast("string"))
      .as[(Long, Long, String)].collect().toSet
    assert(snap == recomp)
    assert(snap.map(_._1) == Set(1L, 3L), "group 2 must be extinct")
    // replay the whole feed: batch-id marker makes it a no-op
    Streams.maintainSumViewFromChangeFeed(
      t.readChangeFeedStream, v, Seq("k"), "v")
    assert(snap == recomp, "replay must not double-apply")
  }

  test("continuous MIN/MAX IVM from the CDC stream: netting, rescan, " +
      "extinction across arbitrary micro-batching == recompute; " +
      "replay is a no-op") {
    import graft.table.{IncrementalView, LakeTable}
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "cmm").toString
    val t = LakeTable(spark, root, "base", Seq("id"), changeFeed = true)
    val v = LakeTable(spark, root, "view", Seq("k"))
    t.create(Seq((1L, 1L, 2.0), (2L, 1L, 3.0), (3L, 2L, 5.0))
      .toDF("id", "k", "v"))
    v.create(IncrementalView.minMaxView(t.read, Seq("k"), "v"))
    // churn: insert a new group-1 max (99), then delete it (phantom
    // across the span); delete the original max 3.0 (rescan reveals
    // 2.0); extinguish group 2. With maxFilesPerTrigger=1 the phantom's
    // insert and delete land in DIFFERENT micro-batches — batch A
    // tightens max to 99, batch B's delete ties it, threatens the
    // group, and the rescan self-heals. The final state must equal the
    // recompute under ANY batching.
    t.upsert(Seq((9L, 1L, 99.0)).toDF("id", "k", "v"))
    t.delete(col("id") === 9L)
    t.delete(col("id") === 2L)
    t.delete(col("k") === 2L)
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        t.read.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType)))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/base/changes/v*")
    Streams.maintainMinMaxViewFromChangeFeed(feed, t, v, Seq("k"), "v")
    def snap = v.read.select(col("k"), col("n"),
        col("sum_value").cast("string"), col("min_value").cast("string"),
        col("max_value").cast("string"))
      .as[(Long, Long, String, String, String)].collect().toSet
    val recomp = IncrementalView.minMaxView(t.read, Seq("k"), "v")
      .select(col("k"), col("n"), col("sum_value").cast("string"),
        col("min_value").cast("string"), col("max_value").cast("string"))
      .as[(Long, Long, String, String, String)].collect().toSet
    assert(snap == recomp)
    val g1 = snap.find(_._1 == 1L).get
    assert(g1._5.startsWith("2."), s"max must rescan down to 2.0: $g1")
    assert(!snap.exists(_._1 == 2L), "group 2 must be extinct")
    // replay the whole feed: batch-id marker makes it a no-op
    Streams.maintainMinMaxViewFromChangeFeed(
      t.readChangeFeedStream, t, v, Seq("k"), "v")
    assert(snap == recomp, "replay must not double-apply")
  }

  test("continuous FULL-stats (aux-backed) IVM from the CDC stream == " +
      "recompute across per-file micro-batching; replay is a no-op") {
    import graft.table.{IncrementalView, LakeTable}
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "cfl").toString
    val t = LakeTable(spark, root, "base", Seq("id"), changeFeed = true)
    val aux = LakeTable(spark, root, "aux", Seq("k", "__v"))
    val v = LakeTable(spark, root, "view", Seq("k"))
    t.create(Seq((1L, 1L, Some(0.0003)), (2L, 1L, Some(3.0)),
        (3L, 1L, Some(3.0)), (4L, 2L, Some(5.0)), (5L, 1L, None))
      .toDF("id", "k", "v"))
    aux.create(IncrementalView.fullStatsSupportView(t.read, Seq("k"), "v"))
    v.create(IncrementalView.fullStatsView(t.read, Seq("k"), "v"))
    t.upsert(Seq((9L, 1L, Some(99.0))).toDF("id", "k", "v"))
    t.delete(col("id") === 9L) // phantom max, possibly split across batches
    t.delete(col("id") === 2L) // one 3.0 twin: n_distinct must NOT move
    t.delete(col("k") === 2L)  // extinction
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        t.read.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType)))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/base/changes/v*")
    Streams.maintainFullStatsViewFromChangeFeed(feed, aux, v, Seq("k"), "v")
    def fsnap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("n"), col("n_nonnull"),
          col("sum_value").cast("string"), col("min_value").cast("string"),
          col("max_value").cast("string"), col("sum_sq").cast("string"),
          col("n_distinct"))
        .as[(Long, Long, Long, String, String, String, String, Long)]
        .collect().toSet
    val snap = fsnap(v.read)
    assert(snap == fsnap(IncrementalView.fullStatsView(t.read, Seq("k"), "v")))
    val g1 = snap.find(_._1 == 1L).get
    assert(g1._2 == 3L && g1._3 == 2L && g1._8 == 2L,
      s"null row counts in n only; twin delete keeps n_distinct: $g1")
    assert(!snap.exists(_._1 == 2L), "group 2 must be extinct")
    // aux == its own recompute (the additive two-level state drifted
    // NOWHERE through per-file batching)
    def asnap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("k"), col("__v").cast("string"), col("cnt"))
        .as[(Long, String, Long)].collect().toSet
    assert(asnap(aux.read) ==
      asnap(IncrementalView.fullStatsSupportView(t.read, Seq("k"), "v")))
    Streams.maintainFullStatsViewFromChangeFeed(
      t.readChangeFeedStream, aux, v, Seq("k"), "v")
    assert(fsnap(v.read) == snap, "replay must not double-apply")
  }

  test("continuous fused-stats IVM from the CDC stream == recompute " +
      "across per-file micro-batching; replay is a no-op") {
    import graft.table.{IncrementalView, LakeTable}
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "cst").toString
    val t = LakeTable(spark, root, "base", Seq("id"), changeFeed = true)
    val v = LakeTable(spark, root, "view", Seq("k"))
    // 4-dp values so the moment digits discriminate
    t.create(Seq((1L, 1L, 0.0003), (2L, 1L, 3.0), (3L, 2L, 5.0))
      .toDF("id", "k", "v"))
    v.create(IncrementalView.statsView(t.read, Seq("k"), "v"))
    t.upsert(Seq((9L, 1L, 99.0)).toDF("id", "k", "v"))
    t.delete(col("id") === 9L) // phantom max, possibly split across batches
    t.delete(col("id") === 2L) // current max: rescan reveals 0.0003
    t.delete(col("k") === 2L) // extinction
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        t.read.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType)))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/base/changes/v*")
    Streams.maintainStatsViewFromChangeFeed(feed, t, v, Seq("k"), "v")
    def snap = v.read.select(col("k"), col("n"),
        col("sum_value").cast("string"), col("min_value").cast("string"),
        col("max_value").cast("string"), col("sum_sq").cast("string"))
      .as[(Long, Long, String, String, String, String)].collect().toSet
    val recomp = IncrementalView.statsView(t.read, Seq("k"), "v")
      .select(col("k"), col("n"), col("sum_value").cast("string"),
        col("min_value").cast("string"), col("max_value").cast("string"),
        col("sum_sq").cast("string"))
      .as[(Long, Long, String, String, String, String)].collect().toSet
    assert(snap == recomp)
    val g1 = snap.find(_._1 == 1L).get
    assert(g1._2 == 1L && g1._6 == "0.00000009",
      s"4-dp moment digits must survive the stream: $g1")
    assert(!snap.exists(_._1 == 2L), "group 2 must be extinct")
    Streams.maintainStatsViewFromChangeFeed(
      t.readChangeFeedStream, t, v, Seq("k"), "v")
    assert(snap == recomp, "replay must not double-apply")
  }

  test("streaming SCD2 sink == batch SCD2 of the same deduped batch") {
    import graft.table.LakeTable
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "scd2s").toString
    val asOf = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def eventCols(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_id"), col("event_type"))
    // streaming: latest event per user (by event_id) becomes the dimension
    val t1 = LakeTable(spark, root, "s", Seq("user_id"))
    Streams.scd2Stream(
      eventCols(Streams.readTableStream(spark, sf, "events"))
        .withColumn("ord", col("event_id")),
      t1, Seq("user_id"), "ord", Seq("event_type"), _ => asOf)
    // batch twin
    val t2 = LakeTable(spark, root, "b", Seq("user_id"))
    val deduped = graft.ops.CoreOps.latestWins(Seq("user_id"), "ord")(
      eventCols(Tables.load(spark, sf, "events"))
        .withColumn("ord", col("event_id"))).drop("ord")
    t2.upsertScd2(deduped, Seq("event_type"), asOf)
    def snap(t: LakeTable) = t.read
      .select("user_id", "event_id", "event_type", "__is_current")
      .collect().map(_.toString).sorted.toSeq
    assert(snap(t1) == snap(t2))
    assert(t1.read.filter(!col("__is_current")).isEmpty) // first load: all current
  }

  test("stream-stream interval join == batch range join") {
    val ev = Tables.load(spark, sf, "events")
    val batch = graft.operators.RangeJoin.windowFollowing(
      ev.filter(col("event_type") === "error").select(col("user_id"), col("ts"), col("event_id")),
      ev.filter(col("event_type") === "click").select(col("user_id"), col("ts"), col("event_id").as("click_id")),
      Seq("user_id"), "ts", "ts", Seq("click_id"), windowSeconds = 86400)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().toSeq
    def stream() = Streams.readTableStream(spark, sf, "events")
    val errors = stream().filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"))
    val clicks = stream().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val streamed = Streams.drainAppend(Streams.intervalJoin(
        errors, clicks, "user_id", "c_user", "ts", "c_ts", 86400), "t_ij")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy("user_id").collect().toSeq
    assert(streamed == batch)
  }

  test("left-outer interval join emits unmatched lefts with nulls after the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    case class E(user_id: Long, ts: java.sql.Timestamp)
    def t(sec: Long) = new java.sql.Timestamp((1000 + sec) * 1000)
    val lefts = MemoryStream[(Long, java.sql.Timestamp)]
    val rights = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = Streams.intervalJoin(
      lefts.toDF().toDF("user_id", "ts"),
      rights.toDF().toDF("c_user", "c_ts"),
      "user_id", "c_user", "ts", "c_ts",
      windowSeconds = 100, watermarkDelay = "0 seconds", joinType = "left_outer")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("t_loj").start()
    // user 1 gets a match in-window; user 2 never does
    lefts.addData((1L, t(0)), (2L, t(0)))
    rights.addData((1L, t(50)))
    q.processAllAvailable()
    // advance both watermarks far past t(0)+100 so the unmatched left closes
    lefts.addData((9L, t(5000))); rights.addData((9L, t(5000)))
    q.processAllAvailable()
    lefts.addData((9L, t(9000))); rights.addData((9L, t(9000)))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_loj").filter(col("user_id") < 9)
      .select(col("user_id"), col("c_user").isNull.as("unmatched"))
      .as[(Long, Boolean)].collect().toSet
    assert(rows == Set((1L, false), (2L, true)))
  }

  test("flatMapGroupsWithState sessionization == batch session_window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sf, "events")
    val batch = EventOps.sessions(events, "4 hours")
      .select("user_id", "session_start", "n_events")
      .orderBy("user_id", "session_start").collect().toSeq
    val evs = events.select(col("user_id").cast("long"), col("ts"),
      col("value").cast("double")).as[Streams.Ev].collect()
    val maxTs = evs.map(_.ts.getTime).max
    // sentinel user advances the watermark past every real session's
    // end + gap so the event-time timeouts flush them all
    def sentinel(plusMs: Long) =
      Streams.Ev(-1L, new java.sql.Timestamp(maxTs + plusMs), 0.0)
    val input = MemoryStream[Streams.Ev]
    val q = Streams.sessionize(input.toDF(), gapSeconds = 4 * 3600)
      .writeStream.outputMode("append").format("memory").queryName("t_sess").start()
    input.addData(evs.toSeq: _*); q.processAllAvailable()
    input.addData(sentinel(365L * 24 * 3600 * 1000)); q.processAllAvailable()
    input.addData(sentinel(366L * 24 * 3600 * 1000)); q.processAllAvailable()
    q.stop()
    val sessions = spark.table("t_sess").filter(col("user_id") =!= -1L)
      .select("user_id", "session_start", "n_events")
      .orderBy("user_id", "session_start").collect().toSeq
    assert(sessions == batch)
  }

  test("mapGroupsWithState running stats accumulate across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, sec: Long, id: Long, t: String, v: Double) =
      Streams.RunEv(u, new java.sql.Timestamp(sec * 1000), id, t, v)
    val input = MemoryStream[Streams.RunEv]
    val q = Streams.runningStats(input.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName("t_run").start()
    // batch 1: two events for user 1 — latest is id 2
    input.addData(ev(1, 10, 1, "view", 1.005), ev(1, 20, 2, "click", 2.0))
    q.processAllAvailable()
    // batch 2: user 1 grows (OLDER ts than current last must NOT win the
    // last_type slot); user 2 appears
    input.addData(ev(1, 15, 3, "scroll", 0.495), ev(2, 5, 4, "buy", 7.0))
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("t_run")
      .groupBy("user_id").agg(
        max(struct(col("n_events"), col("sum_value"), col("last_type")))
          .as("s"))
      .select(col("user_id"), col("s.n_events"), col("s.sum_value"),
        col("s.last_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3))).sortBy(_._1).toSeq
    // 1.005 quantizes to 1.0050 HALF_UP; exact sum 3.5000 → 3.5
    assert(fin == Seq((1L, 3L, 3.5, "click"), (2L, 1L, 7.0, "buy")))
    // the update sink saw user 1's state twice (once per batch)
    assert(spark.table("t_run").filter(col("user_id") === 1L).count() == 2)
  }

  test("sessions spanning micro-batches are emitted once, never split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // times offset from epoch: an event AT the initial watermark (0) would
    // be dropped as late by the strict > comparison
    def ev(u: Long, sec: Long) = Streams.Ev(u, new java.sql.Timestamp((1000 + sec) * 1000), 1.0)
    val input = MemoryStream[Streams.Ev]
    val q = Streams.sessionize(input.toDF(), gapSeconds = 100)
      .writeStream.outputMode("append").format("memory").queryName("t_span").start()
    input.addData(ev(1, 0), ev(1, 50)); q.processAllAvailable()
    input.addData(ev(1, 120)); q.processAllAvailable() // 120 < 50+100: same session
    // nothing may be emitted while the session could still grow
    assert(spark.table("t_span").count() == 0)
    input.addData(ev(1, 500)); q.processAllAvailable() // gap: second session opens;
    // watermark then passes 120+gap → the spanning session closes via timeout
    val afterB3 = spark.table("t_span").filter(col("user_id") === 1L)
      .select("n_events", "sum_value").collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    // ONE session of 3 events spanning three micro-batches — not split
    assert(afterB3 == Seq((3L, 3.0)))
    input.addData(ev(2, 1000)); q.processAllAvailable() // watermark → 1500: flushes [1500]
    q.stop()
    val out = spark.table("t_span").filter(col("user_id") === 1L)
      .select("n_events", "sum_value").collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    assert(out == Seq((3L, 3.0), (1L, 1.0)))
  }

  test("patternDetect == batch interval-join replay on the events table") {
    val ev = Tables.load(spark, sf, "events")
    val winSec = 4 * 3600
    // batch replay: purchases strictly before the final watermark
    // (max ts at millisecond granularity) joined to their view window
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val mx = ev.agg(max(date_trunc("millisecond", col("ts"))).as("mx"))
    val expected = p.crossJoin(broadcast(mx))
      .filter(date_trunc("millisecond", col("purchase_ts")) < col("mx"))
      .join(v, Seq("user_id"))
      .filter(col("view_ts") < col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $winSec SECONDS"))
      .groupBy("user_id", "purchase_id", "purchase_ts")
      .agg(count(lit(1)).as("n_trigger"), max("view_ts").as("last_trigger_ts"))
      .orderBy("user_id", "purchase_ts").collect().toSeq
    val stream = Streams.readTableStream(spark, sf, "events")
    val got = Streams.drainAppend(
      Streams.patternDetect(stream, "view", "purchase", winSec), "t_pat")
      .select("user_id", "purchase_id", "purchase_ts", "n_trigger",
        "last_trigger_ts")
      .orderBy("user_id", "purchase_ts").collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty) // the parity must not be vacuous
  }

  test("abandonDetect == batch NOT-EXISTS replay on the events table") {
    val ev = Tables.load(spark, sf, "events")
    val winSec = 4 * 3600
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val mx = ev.agg(max(date_trunc("millisecond", col("ts"))).as("mx"))
    val expected = v.crossJoin(broadcast(mx))
      .filter(date_trunc("millisecond",
        col("view_ts") + expr(s"INTERVAL $winSec SECONDS")) < col("mx"))
      .join(p, v("user_id") === p("user_id") &&
        col("p_ts") > col("view_ts") &&
        col("p_ts") <= col("view_ts") + expr(s"INTERVAL $winSec SECONDS"),
        "left_anti")
      .select("user_id", "view_id", "view_ts")
      .orderBy("user_id", "view_ts").collect().toSeq
    val stream = Streams.readTableStream(spark, sf, "events")
    val got = Streams.drainAppend(
      Streams.abandonDetect(stream, "view", "purchase", winSec), "t_abandon")
      .select("user_id", "view_id", "view_ts")
      .orderBy("user_id", "view_ts").collect().toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("abandonDetect across micro-batches: conversion suppresses, timeout emits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, sec: Long, id: Long, t: String) =
      Streams.PatEv(u, new java.sql.Timestamp((1000 + sec) * 1000), id, t)
    val input = MemoryStream[Streams.PatEv]
    val q = Streams.abandonDetect(input.toDF(), "view", "purchase",
        withinSeconds = 100)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_ab_mb").start()
    // u1: view@10 converted by purchase@50; view@60 NOT converted
    // (next purchase only at 300 > 60+100)
    input.addData(ev(1, 10, 1, "view"), ev(1, 50, 2, "purchase"),
      ev(1, 60, 3, "view")); q.processAllAvailable()
    assert(spark.table("t_ab_mb").count() == 0) // undecidable yet
    // watermark advances on an unrelated key; u1 gets NO new data —
    // only the timeout can decide view@60
    input.addData(ev(2, 300, 4, "view")); q.processAllAvailable()
    input.addData(ev(2, 700, 5, "view")); q.processAllAvailable()
    val rows = spark.table("t_ab_mb").select("user_id", "view_id")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted
    // view@60 times out unanswered; u2's own view@300 is abandoned too
    // once the watermark passes 400 (view@700 is still undecidable)
    assert(rows == Seq((1L, 3L), (2L, 4L)), s"got $rows")
    q.stop()
  }

  test("patternDetect across micro-batches: complete trigger set, exactly-once, strict boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(u: Long, sec: Long, id: Long, t: String) =
      Streams.PatEv(u, new java.sql.Timestamp((1000 + sec) * 1000), id, t)
    val input = MemoryStream[Streams.PatEv]
    val q = Streams.patternDetect(input.toDF(), "view", "purchase",
        withinSeconds = 100)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_pat_mb").start()
    // window boundary: view at 60 is exactly purchase(160) - 100 → IN
    // (>= lower bound); view at 10 is out (10 < 60); view ts == purchase
    // ts would be out (strict <)
    input.addData(ev(1, 10, 1, "view"), ev(1, 60, 2, "view"),
      ev(1, 120, 4, "view"), ev(1, 160, 3, "purchase"))
    q.processAllAvailable()
    // wm is still 0 while batch 1 processes — nothing may emit yet
    assert(spark.table("t_pat_mb").count() == 0)
    // two watermark advances on an unrelated key: the first moves wm to
    // 160, the second strictly past it — the purchase must emit via the
    // event-time timeout with the COMPLETE trigger set, no data for key 1
    input.addData(ev(2, 500, 5, "view")); q.processAllAvailable()
    input.addData(ev(2, 900, 6, "view")); q.processAllAvailable()
    val rows = spark.table("t_pat_mb")
      .select("user_id", "purchase_id", "n_trigger", "last_trigger_ts")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime))
    assert(rows == Seq((1L, 3L, 2L, (1000 + 120) * 1000L)))
    // exactly-once: more watermark advances must not re-emit
    input.addData(ev(2, 1200, 7, "view")); q.processAllAvailable()
    assert(spark.table("t_pat_mb").count() == 1)
    q.stop()
  }

  test("streaming anomaly detector: split feed == single feed, exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def day(d: Int, h: Int) = Streams.AnomEv("e",
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00"))
    // 10 alternating days (2/4 events — nonzero variance so z is
    // defined), then a 10-event spike on day 11: prior stats at day 11
    // are mean 3, var 1 → z = (10−3)/1 = 7
    val evs = (1 to 10).flatMap(d =>
      (1 to (if (d % 2 == 1) 2 else 4)).map(h => day(d, h))) ++
      (1 to 10).map(h => day(11, h))
    def run(name: String)(feed: MemoryStream[Streams.AnomEv] => Unit) = {
      val input = MemoryStream[Streams.AnomEv]
      val q = Streams.anomalyDetect(input.toDF())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      feed(input)
      // sentinel advances the watermark past day 11's end twice so the
      // event-time timeout flushes the final decidable day
      input.addData(day(13, 1)); q.processAllAvailable()
      input.addData(day(14, 1)); q.processAllAvailable()
      q.stop()
      spark.table(name).filter(col("day") <= "2024-01-11")
        .select("event_type", "day", "n", "z", "is_anomaly")
        .orderBy("day").collect().toSeq
    }
    val single = run("t_anom_a") { in =>
      in.addData(evs: _*)
    }
    val split = run("t_anom_b") { in =>
      // split mid-day-5: day 5's count must not be emitted partially
      val (a, b) = evs.splitAt(13)
      in.addData(a: _*); in.addData(b: _*)
    }
    assert(single == split, "micro-batch split changed the output")
    assert(single.size == 11)
    val spike = single.last
    assert(spike.getAs[Long]("n") == 10 &&
      spike.getAs[Double]("z") == 7.0 &&
      spike.getAs[Boolean]("is_anomaly"), s"day-11 spike must flag: $spike")
    // steady days with ≥7 days of history score but must NOT flag
    assert(single.drop(7).dropRight(1).forall(r =>
      !r.isNullAt(3) && !r.getAs[Boolean]("is_anomaly")))
  }

  test("streaming JOIN-view maintenance: fact CDC drain == recompute, replay no-op") {
    import graft.table.{IncrementalView, LakeTable}
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "sjv").toString
    val f = LakeTable(spark, root, "fact", Seq("id"), changeFeed = true)
    val d = LakeTable(spark, root, "dim", Seq("ck"))
    val v = LakeTable(spark, root, "view", Seq("seg"))
    f.create((1L to 20L).map(i => (i, i % 4, i * 1.0)).toDF("id", "ck", "v"))
    d.create(Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "B")).toDF("ck", "seg"))
    v.create(IncrementalView.joinSumView(f.read, d.read, Seq("ck"),
      Seq("seg"), "v"))
    // fact churn through the CDC stream, enriched in-stream: update
    // (net value change), insert (new + unmatched-dim), delete
    f.upsert(Seq((4L, 0L, 40.0), (21L, 2L, 5.0), (22L, 9L, 99.0))
      .toDF("id", "ck", "v")) // ck=9 has no dim row — invisible
    f.delete(col("id") % 5 === 0)
    Streams.maintainJoinSumViewFromChangeFeed(f.readChangeFeedStream,
      d.read, v, Seq("ck"), Seq("seg"), "v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("seg"), col("n"), col("sum_value").cast("string"))
        .as[(String, Long, String)].collect().toSet
    val want = snap(IncrementalView.joinSumView(f.read, d.read, Seq("ck"),
      Seq("seg"), "v"))
    assert(snap(v.read) == want && want.nonEmpty)
    // REPLAY: a fresh drain re-delivers the same batch ids — the
    // transactional marker must make it a no-op, not a double count
    Streams.maintainJoinSumViewFromChangeFeed(f.readChangeFeedStream,
      d.read, v, Seq("ck"), Seq("seg"), "v")
    assert(snap(v.read) == want)
  }

  test("streaming JOIN-view MIN/MAX: netting, rescan THROUGH the join, " +
      "extinction across per-file micro-batching == recompute; replay no-op") {
    import graft.table.{IncrementalView, LakeTable}
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "sjmm").toString
    val f = LakeTable(spark, root, "fact", Seq("id"), changeFeed = true)
    val d = LakeTable(spark, root, "dim", Seq("ck"))
    val v = LakeTable(spark, root, "view", Seq("seg"))
    f.create(Seq((1L, 0L, 2.0), (2L, 1L, 3.0), (3L, 2L, 5.0))
      .toDF("id", "ck", "v"))
    d.create(Seq((0L, "A"), (1L, "A"), (2L, "B"), (9L, "C")).toDF("ck", "seg"))
    v.create(IncrementalView.joinMinMaxView(f.read, d.read, Seq("ck"),
      Seq("seg"), "v"))
    // churn, forced into per-file micro-batches: a phantom segment-A max
    // (insert 99 then delete it — with maxFilesPerTrigger=1 the insert
    // batch tightens, the delete batch threatens, and the rescan goes
    // THROUGH the join to heal); delete A's true max 3.0 (rescan reveals
    // 2.0); extinguish segment B; an unmatched-dim insert stays invisible
    f.upsert(Seq((9L, 1L, 99.0), (22L, 7L, 999.0)).toDF("id", "ck", "v"))
    f.delete(col("id") === 9L)
    f.delete(col("id") === 2L)
    f.delete(col("ck") === 2L)
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        f.read.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType)))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/fact/changes/v*")
    Streams.maintainJoinMinMaxViewFromChangeFeed(feed, f, d.read, v,
      Seq("ck"), Seq("seg"), "v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("seg"), col("n"), col("sum_value").cast("string"),
          col("min_value").cast("string"), col("max_value").cast("string"))
        .as[(String, Long, String, String, String)].collect().toSet
    val want = snap(IncrementalView.joinMinMaxView(f.read, d.read,
      Seq("ck"), Seq("seg"), "v"))
    assert(snap(v.read) == want && want.nonEmpty)
    val a = snap(v.read).find(_._1 == "A").get
    assert(a._5.startsWith("2."),
      s"segment A's max must rescan down to 2.0 through the join: $a")
    assert(!snap(v.read).exists(_._1 == "B"), "segment B must be extinct")
    // replay the whole feed: the batch-id marker makes it a no-op
    Streams.maintainJoinMinMaxViewFromChangeFeed(f.readChangeFeedStream,
      f, d.read, v, Seq("ck"), Seq("seg"), "v")
    assert(snap(v.read) == want, "replay must not double-apply")
  }

  test("TWO-FEED streaming JOIN-view: dim churn arrives through the " +
      "stream, same-window fact-insert+dim-delete cancels (cross term), " +
      "dim-only cycles wake the maintainer, replay no-op") {
    import graft.table.{IncrementalView, LakeTable}
    val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "sjv2").toString
    val f = LakeTable(spark, root, "fact", Seq("id"), changeFeed = true)
    val d = LakeTable(spark, root, "dim", Seq("ck"), changeFeed = true)
    val v = LakeTable(spark, root, "view", Seq("seg"))
    f.create(Seq((1L, 0L, 2.0), (2L, 1L, 3.0), (3L, 2L, 5.0),
      (4L, 2L, 7.0)).toDF("id", "ck", "v"))
    d.create(Seq((0L, "A"), (1L, "A"), (2L, "B")).toDF("ck", "seg"))
    val (f0, d0) = (f.version, d.version)
    v.create(IncrementalView.joinMinMaxView(f.read, d.read, Seq("ck"),
      Seq("seg"), "v"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("seg"), col("n"), col("sum_value").cast("string"),
          col("min_value").cast("string"), col("max_value").cast("string"))
        .as[(String, Long, String, String, String)].collect().toSet
    def recompute = snap(IncrementalView.joinMinMaxView(f.read, d.read,
      Seq("ck"), Seq("seg"), "v"))
    def drain() = Streams.maintainJoinMinMaxViewFromBothFeeds(f, d, v,
      Seq("ck"), Seq("seg"), "v", f0, d0)
    // window 1 — the subtle same-window interaction: fact row 5
    // (ck=1, 99.0) inserted while ck=1 LEAVES the dim. The naive
    // sequential application over-counts by exactly the dF⋈dD cross
    // term (99.0 would tighten segment A's max); the version-marker
    // drain consumes both feeds through the three-term identity and
    // nets it to zero. Plus a re-homing: ck=0 moves A→B, so segment A
    // goes extinct and fact 1 (2.0) re-homes into B.
    f.upsert(Seq((5L, 1L, 99.0)).toDF("id", "ck", "v"))
    d.delete(col("ck") === 1L)
    d.update(col("ck") === 0L, Map("seg" -> lit("B")))
    drain()
    val w1 = recompute
    assert(snap(v.read) == w1 && w1.nonEmpty)
    assert(!snap(v.read).exists(_._1 == "A"), "A must be extinct (re-homed)")
    assert(!snap(v.read).exists(_._5.startsWith("99")),
      s"the phantom 99.0 (fact insert + same-window dim delete of its " +
        s"key) must net away: ${snap(v.read)}")
    // window 2 — DIM-ONLY churn: ck=1 resurrects under a new segment,
    // pulling fact rows 2 (3.0) and 5 (99.0) back into view. The
    // fact-feed-only drain would never even wake for this window.
    d.upsert(Seq((1L, "C")).toDF("ck", "seg"))
    drain()
    val w2 = recompute
    assert(snap(v.read) == w2)
    val c = snap(v.read).find(_._1 == "C").get
    assert(c._2 == 2L && c._5.startsWith("99."), s"got $c")
    // window 3 — replay with nothing outstanding: marker no-op
    drain()
    assert(snap(v.read) == w2, "replay must not double-apply")
    // and the SUM twin shares the drain contract end-to-end
    val vs = LakeTable(spark, root, "view_sum", Seq("seg"))
    vs.create(IncrementalView.joinSumView(f.read, d.read, Seq("ck"),
      Seq("seg"), "v"))
    val (f1, d1) = (f.version, d.version)
    d.delete(col("ck") === 2L) // extinguish B's dim key
    f.upsert(Seq((6L, 1L, 1.5)).toDF("id", "ck", "v"))
    Streams.maintainJoinSumViewFromBothFeeds(f, d, vs, Seq("ck"),
      Seq("seg"), "v", f1, d1)
    def snapS(df: org.apache.spark.sql.DataFrame) =
      df.select(col("seg"), col("n"), col("sum_value").cast("string"))
        .as[(String, Long, String)].collect().toSet
    assert(snapS(vs.read) == snapS(IncrementalView.joinSumView(f.read,
      d.read, Seq("ck"), Seq("seg"), "v")))
    // ck=2's rows (5.0 + 7.0) left B via the dim stream; only the
    // re-homed ck=0 row (2.0) remains
    val b = snapS(vs.read).find(_._1 == "B").get
    assert(b._2 == 1L && b._3.startsWith("2."),
      s"B must shrink to the re-homed ck=0 row via the dim stream: $b")
  }
}

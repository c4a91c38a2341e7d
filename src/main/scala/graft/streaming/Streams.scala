package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftStreamingBridge, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.table.{IncrementalView, LakeTable}

/** Structured Streaming coverage (SURVEY.md §2.10): the reference's
  * file-arrival micro-batching mapped to file-source streaming with
  * `Trigger.AvailableNow` (drain-what-exists, then stop), plus
  * watermarked event-time aggregation and custom sessionization state via
  * `flatMapGroupsWithState`.
  *
  * These run in tests through the memory sink; the same plans deploy
  * unchanged against a real continuous source — watermark semantics and
  * state-store partitioning (hash on group key) are identical at cluster
  * scale.
  */
object Streams {

  /** File-source stream over an existing parquet table (schema taken from
    * a batch peek — file streams require an explicit schema). The file
    * stream source needs a *directory*; a single-file table is exposed
    * through a temp dir holding a symlink to it. */
  def readTableStream(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    import java.nio.file.{Files, LinkOption, Paths}
    val src = Paths.get(s"$sfDir/$table.parquet")
    val path =
      if (Files.isDirectory(src)) src.toString
      else {
        // one deterministic dir per (sfDir, table), reused across calls —
        // a fresh createTempDirectory per call would leak a dir per
        // streaming query. The key includes a hash of the FULL source
        // path: a lossy sanitize alone would collide two sfDirs that
        // differ only in non-alphanumeric characters and silently stream
        // the wrong corpus.
        val key = f"${src.toAbsolutePath.toString.hashCode}%08x"
        val dir = Paths.get(System.getProperty("java.io.tmpdir"),
          "graft_stream",
          s"${sfDir.replaceAll("[^A-Za-z0-9]", "_")}_${key}_$table")
        Files.createDirectories(dir)
        val link = dir.resolve(s"$table.parquet")
        if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
          try Files.createSymbolicLink(link, src)
          catch { // lost a cross-JVM race: the winner created the same link
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
        dir.toString
      }
    val schema = spark.read.parquet(src.toString).schema
    val raw = spark.readStream.schema(schema).parquet(path)
    // same ts normalization as the batch path (Tables.load), so batch
    // and stream pipelines see one timestamp type regardless of the
    // testdata generation's parquet layout
    if (table == "events") graft.Tables.normalizeEventTs(raw) else raw
  }

  /** Watermarked tumbling-window count/sum over the events stream.
    * Late data beyond 10 minutes is dropped; state is bounded by the
    * watermark, which is what keeps this runnable forever at scale. */
  def windowedCounts(events: DataFrame, width: String = "1 hour"): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(20,4)")).cast("double"), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Watermarked sliding-window count (width/slide overlapping windows). */
  def slidingCounts(events: DataFrame, width: String, slide: String): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionAcc(events: List[Ev])
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, sum_value: Double)

  /** Session value total replaying EXACTLY the batch/oracle arithmetic
    * (`round(sum(value.cast(decimal(20,4))).cast(double), 2)`): each
    * value quantized to 4 decimal places HALF_UP, summed exactly, cast
    * to double, then rounded to 2 places HALF_UP — a naive double sum
    * can flip the final 2-dp rounding and hash-mismatch the cross-engine
    * oracle once sessions grow past a handful of events. */
  private def sumValue2dp(s: List[Ev]): Double = {
    val sum = s.map(e => BigDecimal(e.value)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
    BigDecimal(sum.toDouble)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Split a time-sorted event list into sessions at `gapMs` gaps
    * (new session when ts >= prev_ts + gap — same as EventOps.sessions). */
  private def splitSessions(all: List[Ev], gapMs: Long): List[List[Ev]] =
    all.foldLeft(List.empty[List[Ev]]) { (acc, ev) =>
      acc match {
        case cur :: rest if ev.ts.getTime < cur.last.ts.getTime + gapMs =>
          (cur :+ ev) :: rest
        case _ => List(ev) :: acc
      }
    }.reverse

  /** Custom stateful sessionization via flatMapGroupsWithState, correct
    * across micro-batches: a session is emitted only once the event-time
    * WATERMARK has passed its end + gap (no event able to extend it can
    * still arrive), open sessions stay in state, and an event-time timeout
    * flushes them when the watermark advances with no new data for the
    * key. Sessions spanning micro-batches are therefore emitted exactly
    * once, never split.
    *
    * Input must carry a watermark on `ts` (`withWatermark`); callers get
    * `watermarkDelay` applied here for convenience. In a finite drain
    * (AvailableNow) the trailing open session per key remains pending —
    * that is streaming semantics, not data loss; it flushes as soon as the
    * watermark passes it on a live stream.
    *
    * State is one open-session buffer per key, bounded by the gap — the
    * same state shape session_window uses, hash-partitioned on the key at
    * any scale. */
  def sessionize(events: DataFrame, gapSeconds: Long,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000
    val typed = events.withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("ts"),
        col("value").cast("double")).as[Ev]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionAcc]) =>
          val newEvents = if (state.hasTimedOut) Nil else rows.toList
          val all = (state.getOption.map(_.events).getOrElse(Nil) ++ newEvents)
            .sortBy(_.ts.getTime)
          val sessions = splitSessions(all, gapMs)
          val wm = state.getCurrentWatermarkMs()
          // closed = the watermark passed end + gap; open stays buffered
          val (closed, open) = sessions.partition(
            s => s.last.ts.getTime + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionAcc(open.flatten))
            // earliest possible close time of any buffered session
            state.setTimeoutTimestamp(open.head.last.ts.getTime + gapMs)
          }
          closed.iterator.map(s => SessionOut(user, s.head.ts, s.size.toLong,
            sumValue2dp(s)))
      }.toDF()
  }

  case class RunEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String, value: Double)
  // running sum kept as exact ten-thousandths so incremental
  // accumulation replays the decimal(20,4) oracle arithmetic exactly
  // regardless of arrival order or batch boundaries
  case class RunAcc(n: Long, tenThousandths: Long, lastTs: Long,
      lastId: Long, lastType: String)
  case class RunOut(user_id: Long, n_events: Long, sum_value: Double,
      last_type: String)

  /** Per-key running aggregate via `mapGroupsWithState` (Update mode):
    * event count, exact-decimal value total, and the latest event type
    * (by (ts, event_id) — order-independent max, so replays across any
    * batch split). The third custom-state primitive next to
    * [[sessionize]]'s flatMapGroupsWithState and the foreachBatch MERGE
    * sink: state here is ONE fixed-size record per key (no buffered
    * rows), hash-partitioned on the key — the shape that scales to any
    * key cardinality an executor set can hash.
    *
    * Emits the updated state of every key seen in each micro-batch;
    * after an AvailableNow drain the FINAL state per key is the row
    * with that key's maximum (monotone) `n_events`. */
  def runningStats(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id").cast("long"), col("ts"),
      col("event_id").cast("long"), col("event_type"),
      col("value").cast("double")).as[RunEv]
    typed.groupByKey(_.user_id)
      .mapGroupsWithState[RunAcc, RunOut](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[RunEv], state: GroupState[RunAcc]) =>
          var st = state.getOption
            .getOrElse(RunAcc(0L, 0L, Long.MinValue, Long.MinValue, ""))
          rows.foreach { e =>
            val units = BigDecimal(e.value)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .underlying.unscaledValue.longValueExact
            val later = e.ts.getTime > st.lastTs ||
              (e.ts.getTime == st.lastTs && e.event_id > st.lastId)
            st = RunAcc(st.n + 1, st.tenThousandths + units,
              if (later) e.ts.getTime else st.lastTs,
              if (later) e.event_id else st.lastId,
              if (later) e.event_type else st.lastType)
          }
          state.update(st)
          // same double-then-2dp sequence as sumValue2dp / the oracle's
          // ROUND(CAST(sum AS DOUBLE), 2)
          val sumD = java.math.BigDecimal.valueOf(st.tenThousandths, 4)
            .doubleValue()
          RunOut(user, st.n,
            BigDecimal(sumD).setScale(2, BigDecimal.RoundingMode.HALF_UP)
              .toDouble,
            st.lastType)
      }.toDF()
  }

  case class PatEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      event_type: String)
  case class PatState(events: List[PatEv])
  case class PatOut(user_id: Long, purchase_id: Long,
      purchase_ts: java.sql.Timestamp, n_trigger: Long,
      last_trigger_ts: java.sql.Timestamp)

  /** Event-time in MICROSECONDS — `Timestamp.getTime` alone truncates to
    * millis, which would make the window-boundary comparisons coarser
    * than the microsecond-precision oracle replay. */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** CEP-style pattern detection via `flatMapGroupsWithState`: emit one
    * row per `actionType` event that was preceded by ≥1 `triggerType`
    * event of the same key within `withinSeconds` — the streaming
    * "view → purchase inside the attribution window" conversion
    * primitive, with the trigger count and the latest trigger timestamp
    * attached.
    *
    * Watermark correctness (same contract as [[sessionize]]): an action
    * is scored only once the event-time watermark has passed its
    * timestamp — no trigger able to precede it can still arrive — so
    * matches are emitted exactly once with the COMPLETE trigger set,
    * regardless of how events split across micro-batches or arrive
    * out of order within the allowed lateness. Pending actions set an
    * event-time timeout at their own timestamp so the final watermark
    * advance flushes them without new data.
    *
    * State per key is bounded by the window: triggers older than
    * watermark − `withinSeconds` can no longer match anything and are
    * dropped on every invocation, actions leave state when emitted.
    * Hash-partitioned on the key — the same state scaling as every
    * stateful op here. */
  def patternDetect(events: DataFrame, triggerType: String,
      actionType: String, withinSeconds: Long,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val winUs = withinSeconds * 1000000L
    val typed = events.withWatermark("ts", watermarkDelay)
      .filter(col("event_type").isin(triggerType, actionType))
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type")).as[PatEv]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[PatState, PatOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[PatEv], state: GroupState[PatState]) =>
          val newEvents = if (state.hasTimedOut) Nil else rows.toList
          val all = (state.getOption.map(_.events).getOrElse(Nil) ++ newEvents)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // an action is scored only once the watermark is STRICTLY past
          // it; ts == wm stays pending, so on a finite drain an action at
          // exactly max(ts) is out of scope — the oracle's
          // `p.ts < max(ts)` bound mirrors this boundary precisely
          val (ready, pendingActs) = all.filter(_.event_type == actionType)
            .partition(a => tsMicros(a.ts) < wmUs)
          val triggers = all.filter(_.event_type == triggerType)
          val out = ready.flatMap { a =>
            val aUs = tsMicros(a.ts)
            val matched = triggers.filter { t =>
              val tUs = tsMicros(t.ts)
              tUs < aUs && tUs >= aUs - winUs
            }
            if (matched.isEmpty) Nil
            else List(PatOut(user, a.event_id, a.ts, matched.size.toLong,
              matched.maxBy(t => tsMicros(t.ts)).ts))
          }
          // triggers still inside some future action's window + unscored
          // actions stay; everything else leaves state
          val keepTriggers = triggers.filter(t => tsMicros(t.ts) + winUs >= wmUs)
          if (keepTriggers.isEmpty && pendingActs.isEmpty) state.remove()
          else {
            state.update(PatState(keepTriggers ++ pendingActs))
            if (pendingActs.nonEmpty)
              // the timeout must sit strictly above the current watermark
              // (engine contract); a pending action whose millisecond
              // timestamp equals the watermark is clamped to wm+1ms — it
              // fires only if the watermark still advances past it
              state.setTimeoutTimestamp(
                math.max(pendingActs.map(_.ts.getTime).min,
                  state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }.toDF()
  }

  case class AnomEv(event_type: String, ts: java.sql.Timestamp)
  case class AnomState(pending: Map[Long, Long], sumN: Long, sumSq: Long,
      kDays: Long)
  case class AnomOut(event_type: String, day: java.sql.Date, n: Long,
      z: Option[Double], is_anomaly: Option[Boolean])

  /** Streaming daily anomaly detection per key: each COMPLETED day's
    * event count is z-scored against the expanding mean/variance of all
    * PRIOR completed days (≥ `minPriorDays` of history, else NULL) —
    * the ops-monitoring detector as a stream, emitting the verdict the
    * moment the watermark strictly passes a day's end (no late event
    * can change the count; exactly-once across micro-batches, the
    * [[patternDetect]] contract).
    *
    * State per key: the open days' partial counts (calendar-bounded by
    * the watermark) + three integers (Σn, Σn², #days) — the expanding
    * statistics NEVER replay history, which is what makes this runnable
    * forever: day t costs O(1) regardless of t. Determinism: the
    * variance comes from the integer prefix sums via the ONE formula
    * `Q/k − (P/k)²` and z is rounded HALF_UP at 4 dp — the identical
    * arithmetic the relational oracle replays. */
  def anomalyDetect(events: DataFrame, minPriorDays: Int = 7,
      zThreshold: Double = 2.0,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val usPerDay = 86400000000L
    val typed = events.withWatermark("ts", watermarkDelay)
      .select(col("event_type"), col("ts")).as[AnomEv]
    typed.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[AnomEv], state: GroupState[AnomState]) =>
          val st0 = state.getOption.getOrElse(AnomState(Map.empty, 0L, 0L, 0L))
          val newCounts =
            if (state.hasTimedOut) st0.pending
            else rows.foldLeft(st0.pending) { (m, e) =>
              val d = Math.floorDiv(tsMicros(e.ts), usPerDay)
              m.updated(d, m.getOrElse(d, 0L) + 1L)
            }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // a day is decidable once the watermark is STRICTLY past its
          // end — ts == wm stays pending (the patternDetect boundary)
          val (ready, open) = newCounts.partition {
            case (d, _) => (d + 1) * usPerDay < wmUs
          }
          var (p, q, k) = (st0.sumN, st0.sumSq, st0.kDays)
          val out = ready.toSeq.sortBy(_._1).map { case (d, n) =>
            val z =
              if (k >= minPriorDays) {
                val mean = p.toDouble / k
                val variance = q.toDouble / k - mean * mean
                if (variance > 0)
                  Some(BigDecimal((n - mean) / math.sqrt(variance))
                    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
                else None
              } else None
            val flag =
              if (k >= minPriorDays)
                Some(z.exists(v => math.abs(v) >= zThreshold))
              else None
            p += n; q += n * n; k += 1
            AnomOut(key, java.sql.Date.valueOf(
              java.time.LocalDate.ofEpochDay(d)), n, z, flag)
          }
          if (open.isEmpty && out.isEmpty && st0.pending.isEmpty)
            state.remove()
          else {
            state.update(AnomState(open, p, q, k))
            if (open.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                (open.keys.min + 1) * 86400000L,
                state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }.toDF()
  }

  case class AbandonOut(user_id: Long, view_id: Long,
      view_ts: java.sql.Timestamp)

  /** ABSENCE detection — the negation dual of [[patternDetect]]: emit
    * each `triggerType` event that was NOT followed by an `actionType`
    * event of the same key within `withinSeconds` (cart/view
    * abandonment, missed-heartbeat, SLA-breach alerts). Negation is the
    * classically hard streaming case because "nothing happened" has no
    * row to react to — it NEEDS the event-time timeout machinery: a
    * trigger becomes decidable only once the watermark strictly passes
    * trigger_ts + window (no qualifying action can still arrive), at
    * which point it is emitted iff its action window stayed empty, and
    * leaves state either way. Pending triggers set a timeout just past
    * their decision point so the final watermark advance flushes them
    * without new data.
    *
    * State per key: undecided triggers (≤ window-bounded) + actions
    * still inside some pending trigger's window; both pruned every
    * invocation. Exactly-once, complete-window semantics across
    * micro-batches, same contract as [[patternDetect]]/[[sessionize]]. */
  def abandonDetect(events: DataFrame, triggerType: String,
      actionType: String, withinSeconds: Long,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val winUs = withinSeconds * 1000000L
    val typed = events.withWatermark("ts", watermarkDelay)
      .filter(col("event_type").isin(triggerType, actionType))
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"), col("event_type")).as[PatEv]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[PatState, AbandonOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[PatEv], state: GroupState[PatState]) =>
          val newEvents = if (state.hasTimedOut) Nil else rows.toList
          val all = state.getOption.map(_.events).getOrElse(Nil) ++ newEvents
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // decidable once the watermark is STRICTLY past ts + window;
          // the oracle mirrors the ms-granularity boundary with
          // date_trunc('milliseconds', ts + window) < trunc(max ts)
          val (decided, pending) = all.filter(_.event_type == triggerType)
            .partition(t => tsMicros(t.ts) + winUs < wmUs)
          val actions = all.filter(_.event_type == actionType)
          val out = decided
            .filter { t =>
              val tUs = tsMicros(t.ts)
              !actions.exists { a =>
                val aUs = tsMicros(a.ts)
                aUs > tUs && aUs <= tUs + winUs
              }
            }
            .map(t => AbandonOut(user, t.event_id, t.ts))
          // actions only matter inside a still-pending trigger's window
          val keepActions = actions.filter(a => tsMicros(a.ts) + winUs > wmUs)
          if (pending.isEmpty && keepActions.isEmpty) state.remove()
          else {
            state.update(PatState(pending ++ keepActions))
            if (pending.nonEmpty) {
              // fire once the watermark can be strictly past ts + window
              val next = pending.map(t =>
                Math.floorDiv(tsMicros(t.ts) + winUs, 1000L) + 1).min
              state.setTimeoutTimestamp(
                math.max(next, state.getCurrentWatermarkMs() + 1))
            }
          }
          out.iterator
      }.toDF()
  }

  /** Watermarked STREAM-STREAM interval join: right rows of the same key
    * within [left.ts, left.ts + window) attach to each left row. Both
    * sides carry watermarks and the join condition bounds the time range,
    * so each side's join state is evictable once the other side's
    * watermark passes ts + window — the requirement for an unbounded
    * stream-stream join to run forever with bounded state. Column names
    * (except the time-range pair) must be disjoint; pre-alias the right
    * side. State is hash-partitioned on the join key, same scale shape as
    * the batch binned range join (RangeJoin.windowFollowing). */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      windowSeconds: Long, watermarkDelay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    // left_outer: an unmatched left row is emitted with nulls once the
    // RIGHT watermark passes leftTs + window (no match can still arrive)
    l.join(r, l(leftKey) === r(rightKey) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) < l(leftTs) + expr(s"INTERVAL $windowSeconds SECONDS"),
      joinType)
  }

  /** Stream-static enrichment join: the unbounded stream joins a static
    * (or slowly-refreshed) dimension snapshot. The static side is
    * re-evaluated each micro-batch by Structured Streaming — a dim
    * refreshed in place is picked up on the next batch — and explicitly
    * broadcast: the one join strategy that never shuffles the unbounded
    * side and keeps no join state at all (contrast [[intervalJoin]],
    * whose stream-stream state must be watermark-bounded). */
  def enrichStream(stream: DataFrame, dim: DataFrame,
      joinCols: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), joinCols)

  /** Streaming exact dedup — first-seen row per key, emitted in Append
    * mode. Two state regimes, chosen by the key domain:
    *  - `withinWatermarkOnly=false`: global dedup (`dropDuplicates`) —
    *    state holds one entry per DISTINCT key forever, which is the
    *    correct and bounded choice when the key domain is bounded
    *    (user × event-type, device ids, ...).
    *  - `withinWatermarkOnly=true`: `dropDuplicatesWithinWatermark` —
    *    state expires once the event-time watermark passes, the only
    *    shape that runs forever over an UNBOUNDED key domain (event
    *    uuids); duplicates separated by more than the watermark delay
    *    are then out of dedup scope by design.
    * State is hash-partitioned on the key either way. */
  def dedupStream(events: DataFrame, keys: Seq[String],
      watermarkDelay: String = "10 minutes",
      withinWatermarkOnly: Boolean = false): DataFrame = {
    val wm = events.withWatermark("ts", watermarkDelay)
    if (withinWatermarkOnly) wm.dropDuplicatesWithinWatermark(keys)
    else wm.dropDuplicates(keys)
  }

  /** Streaming MERGE sink (the Delta CDC pattern on our table layer):
    * every micro-batch is deduplicated on the merge key and upserted into
    * the LakeTable via foreachBatch — idempotent per batch, so at-least-
    * once delivery still yields exactly-once table state. */
  def upsertStream(streamDf: DataFrame, table: LakeTable,
      mergeKeys: Seq[String], orderCol: String): Unit =
    drain(streamDf, "foreachbatch_upsert") { (batch, _) =>
      table.upsert(graft.ops.CoreOps.latestWins(mergeKeys, orderCol)(batch))
    }

  /** Streaming SCD Type 2 sink: each micro-batch is deduplicated on the
    * merge key (latest wins) and applied as a history-preserving upsert —
    * the streaming dimension-maintenance pattern. `asOfForBatch` maps the
    * deduplicated batch to its effective timestamp (e.g. its max event
    * time), keeping reruns of a replayed batch idempotent: an identical
    * batch at the same asOf is a no-op by upsertScd2's change detection. */
  def scd2Stream(streamDf: DataFrame, table: LakeTable,
      mergeKeys: Seq[String], orderCol: String, trackCols: Seq[String],
      asOfForBatch: DataFrame => java.sql.Timestamp): Unit =
    drain(streamDf, "foreachbatch_scd2") { (batch, _) =>
      if (!batch.isEmpty) {
        val deduped = graft.ops.CoreOps.latestWins(mergeKeys, orderCol)(batch)
        table.upsertScd2(deduped.drop(orderCol), trackCols,
          asOfForBatch(deduped))
      }
    }

  /** Streaming incremental view maintenance: every micro-batch of an
    * APPEND-ONLY stream contributes a pure-insert delta (its rows tagged
    * `insert`), applied by the batch
    * [[graft.table.IncrementalView.applySumDelta]] core —
    * (count, exact-decimal sum) per key MERGEd additively into the
    * stored view — a dashboard aggregate kept fresh per batch without
    * re-aggregating history, and without the unbounded operator state a
    * native streaming aggregation would carry on an open key domain
    * (the view table IS the state, and it's spillable/queryable).
    * Exactly-once under batch REPLAY via [[drainMarked]]: the
    * last-applied batch id commits IN THE SAME atomic publish as the
    * delta it covers. `appId` scopes the marker when several streams
    * maintain one view. */
  def maintainSumViewStream(streamDf: DataFrame, view: LakeTable,
      keyCols: Seq[String], valueCol: String, appId: String = "ivm"): Unit =
    drainMarked(streamDf, "foreachbatch_ivm", view,
      s"ivm_last_batch_$appId") { (batch, _, meta) =>
      IncrementalView.applySumDelta(
        batch.withColumn("_change_type", lit("insert")), view, keyCols,
        valueCol, meta)
    }

  /** The full continuous-IVM loop: subscribe to a base table's CDC
    * stream ([[graft.table.LakeTable.readChangeFeedStream]]) and apply
    * each micro-batch's SIGNED deltas to the stored view — inserts and
    * update post-images count +1/+value, deletes and pre-images
    * −1/−value — via the batch [[graft.table.IncrementalView.applySumDelta]]
    * core, so the view tracks the base through arbitrary DML (not just
    * appends) with no snapshot reads anywhere: writer → change log →
    * subscriber → view. Groups whose count reaches zero are deleted in
    * the same atomic commit that merges the survivors and records the
    * batch marker ([[drainMarked]]). */
  def maintainSumViewFromChangeFeed(feedStream: DataFrame,
      view: LakeTable, keyCols: Seq[String], valueCol: String,
      appId: String = "cdc"): Unit =
    drainMarked(feedStream, "foreachbatch_ivm_cdc", view,
      s"ivm_last_batch_$appId") { (batch, _, meta) =>
      IncrementalView.applySumDelta(batch, view, keyCols, valueCol, meta)
    }

  /** Continuous MIN/MAX (+count/sum) view maintenance from the base
    * table's CDC stream: each micro-batch applies the FULL batch
    * min/max rule — per-(group, value) netting, insert-side extrema,
    * threatened-group rescan against the current base snapshot, atomic
    * merge-with-extinction — via the shared
    * [[graft.table.IncrementalView.applyMinMaxDelta]] core, with the
    * batch-id marker of [[drainMarked]] riding the same commit.
    *
    * Rescan consistency: the rescan reads the base's CURRENT snapshot,
    * which under the AvailableNow drain contract (writes complete, then
    * the drain runs) is the final state — so the drained view equals
    * the recompute exactly. A live continuous deployment may briefly
    * surface a rescan-ahead extremum mid-stream (the snapshot is ahead
    * of the batch being applied); later batches self-heal it, because
    * any event that invalidates the value re-threatens the group. */
  def maintainMinMaxViewFromChangeFeed(feedStream: DataFrame,
      base: LakeTable, view: LakeTable,
      keyCols: Seq[String], valueCol: String,
      appId: String = "mmcdc"): Unit =
    drainMarked(feedStream, "foreachbatch_ivm_minmax", view,
      s"ivm_last_batch_$appId") { (batch, _, meta) =>
      IncrementalView.applyMinMaxDelta(
        batch, base.read, view, keyCols, valueCol, meta)
    }

  /** Continuous FULL-STATS (aux-backed) view maintenance from the base
    * table's CDC stream: each micro-batch applies the two-level rule —
    * support-relation merge, transition-derived distinct deltas,
    * aux-answered extremum rescans, never a base read — via the shared
    * [[graft.table.IncrementalView.applyFullStatsDelta]] core. Two
    * layers of exactly-once: the drain's batch-id marker (rides the
    * final view commit) skips replayed batches, and the core's span
    * markers make the crash window BETWEEN the aux and view commits
    * exact — a redelivered batch whose aux merge already landed
    * recovers the pre-merge support counts as `stored − w` and applies
    * only the view merge, so the additive aux can never double-count
    * (the round-13 fix; pinned in IncrementalViewSpec). This is the
    * drain that keeps the avg/count(col)-serving MV container
    * ([[graft.plans.MvRewrite.FullStatsKind]]) streaming-fresh — pair
    * it with the post-drain `annotate` freshness pattern. */
  def maintainFullStatsViewFromChangeFeed(feedStream: DataFrame,
      aux: LakeTable, view: LakeTable,
      keyCols: Seq[String], valueCol: String, auxBuckets: Int = 0,
      appId: String = "flcdc"): Unit =
    drainMarked(feedStream, "foreachbatch_ivm_fullstats", view,
      s"ivm_last_batch_$appId") { (batch, batchId, meta) =>
      // spanId scoped by appId: several streams maintaining one
      // view must not collide on the view's single span marker
      // (stream B's batch 3 would read stream A's "b3" as
      // already-applied and silently drop its own events)
      IncrementalView.applyFullStatsDelta(
        batch, aux, view, keyCols, valueCol, auxBuckets,
        spanId = s"$appId:b$batchId", meta = meta)
    }

  /** Continuous FUSED-STATS view maintenance from the base table's CDC
    * stream: each micro-batch applies the full one-pass stats rule —
    * raw signed events for the moment deltas, netted per-(group,
    * value) weights for the extrema, threatened-group rescan, one
    * atomic merge — via the shared
    * [[graft.table.IncrementalView.applyStatsDelta]] core. Same
    * batch-id idempotence and rescan-consistency contract as
    * [[maintainMinMaxViewFromChangeFeed]]. */
  def maintainStatsViewFromChangeFeed(feedStream: DataFrame,
      base: LakeTable, view: LakeTable,
      keyCols: Seq[String], valueCol: String,
      appId: String = "stcdc"): Unit =
    drainMarked(feedStream, "foreachbatch_ivm_stats", view,
      s"ivm_last_batch_$appId") { (batch, _, meta) =>
      IncrementalView.applyStatsDelta(
        batch, base.read, view, keyCols, valueCol, meta)
    }

  /** Continuous near-duplicate index maintenance from the document
    * table's CDC stream: each micro-batch runs the FULL batch rule —
    * touched ids from the events, final doc state from the current
    * snapshot, band-row merge with tombstones, touched-bucket candidate
    * probe, exact-Jaccard verification, stale-pair extinction — via the
    * shared [[graft.table.DedupIndex.applyChanges]] core, so streaming
    * and batch dedup maintenance are THE SAME semantics by construction.
    *
    * Batch-id idempotence: the marker rides the final (pairs) commit;
    * a replayed batch is skipped. A crash between the index and pairs
    * commits re-runs the whole batch on restart (the marker was never
    * written), and both merges are idempotent for a fixed event set.
    * Snapshot consistency follows the same contract as the IVM drains:
    * events are consulted only for their KEY set, final text always
    * comes from the snapshot, so a batch older than the snapshot
    * converges once the remaining events drain. */
  def maintainDedupIndexFromChangeFeed(feedStream: DataFrame,
      docsTable: LakeTable, di: graft.table.DedupIndex,
      idCol: String, textCol: String, appId: String = "didxcdc"): Unit =
    drainMarked(feedStream, "foreachbatch_dedup_index", di.pairs,
      s"dedupidx_last_batch_$appId") { (batch, _, meta) =>
      di.applyChanges(batch, docsTable.read, idCol, textCol, meta = meta)
    }

  /** Continuous IVF-index maintenance from the embedding table's CDC
    * stream: each micro-batch re-assigns only the touched ids against
    * the frozen quantizer via the shared
    * [[graft.table.AnnIndex.applyChanges]] core — streaming and batch
    * index maintenance are one semantics by construction, with the same
    * batch-id idempotence (marker rides applyChanges' LAST commit — the
    * ids sidecar when idParts > 0, hence `markerTable`) and
    * snapshot-consistency contract as the dedup-index drain. */
  def maintainAnnIndexFromChangeFeed(feedStream: DataFrame,
      docsTable: LakeTable, ai: graft.table.AnnIndex,
      idCol: String, vecCol: String, appId: String = "anncdc"): Unit =
    drainMarked(feedStream, "foreachbatch_ann_index", ai.markerTable,
      s"annidx_last_batch_$appId") { (batch, _, meta) =>
      ai.applyChanges(batch, docsTable.read, idCol, vecCol, meta = meta)
    }

  /** Continuous JOIN-view maintenance, fact side: subscribe to the fact
    * table's CDC stream and enrich each SIGNED micro-batch against the
    * current dim snapshot (stream-static equi-join,
    * [[graft.table.IncrementalView.enrichFactDelta]]) before merging the
    * aggregated deltas ([[graft.table.IncrementalView.applyJoinSumRows]])
    * — the dF ⋈ D term of
    * [[graft.table.IncrementalView.maintainJoinSumView]]'s identity,
    * which is the whole delta while the dim is quiet. Dim churn is the
    * batch maintainer's job between drains — the standard production
    * split: stream the high-rate fact, treat the dimension as slowly
    * changing. Same transactional batch-id idempotence as
    * [[maintainSumViewFromChangeFeed]] (marker commits WITH the delta;
    * replayed batches are skipped). */
  def maintainJoinSumViewFromChangeFeed(factFeedStream: DataFrame,
      dim: DataFrame, view: LakeTable, joinKeys: Seq[String],
      groupKeys: Seq[String], valueCol: String,
      appId: String = "jvcdc"): Unit =
    drainMarked(factFeedStream, "foreachbatch_ivm_join", view,
      s"ivm_last_batch_$appId") { (batch, _, meta) =>
      IncrementalView.applyJoinSumRows(
        IncrementalView.enrichFactDelta(batch, dim, joinKeys, groupKeys,
          valueCol), view, groupKeys, meta)
    }

  /** Continuous JOIN-view MIN/MAX maintenance, fact side: each signed
    * fact micro-batch is enriched against the current dim snapshot
    * (the dF ⋈ D term, [[graft.table.IncrementalView.enrichFactDelta]])
    * and then runs the FULL batch join-min/max rule — per-(group,
    * value) netting, insert-side extrema, threatened-group rescan
    * THROUGH the join (fact snapshot ⋈ dim restricted to the threatened
    * groups' slice, every side under the measured broadcast gate),
    * atomic merge-with-extinction — via the shared
    * [[graft.table.IncrementalView.applyJoinMinMaxRows]] core. Dim
    * churn is the batch maintainer's job between drains (the standard
    * split, as in [[maintainJoinSumViewFromChangeFeed]]). Same
    * batch-id idempotence (marker rides the merge commit) and the same
    * rescan-consistency contract as [[maintainMinMaxViewFromChangeFeed]]:
    * AvailableNow drains read the final fact snapshot so the drained
    * view equals the recompute; a live stream may briefly surface a
    * rescan-ahead extremum that later batches re-threaten and heal. */
  def maintainJoinMinMaxViewFromChangeFeed(factFeedStream: DataFrame,
      fact: LakeTable, dim: DataFrame,
      view: LakeTable, joinKeys: Seq[String],
      groupKeys: Seq[String], valueCol: String,
      appId: String = "jmmcdc"): Unit =
    drainMarked(factFeedStream, "foreachbatch_ivm_join_minmax", view,
      s"ivm_last_batch_$appId") { (batch, _, meta) =>
      IncrementalView.applyJoinMinMaxRows(
        IncrementalView.enrichFactDelta(batch, dim, joinKeys, groupKeys,
          valueCol),
        fact.read, dim, view, joinKeys, groupKeys, valueCol, meta)
    }

  /** Two-feed continuous JOIN-view maintenance (sum): subscribe to
    * BOTH tables' CDC streams — so churn on EITHER side wakes the
    * maintainer, closing the fact-feed-only drains' gap where a
    * continuously-churning dimension had no streaming path — and per
    * micro-cycle consume each table's change feed from the view's
    * RECORDED sync versions via the exact batch identity
    * Δ(F⋈D) = dF⋈D₁ + F₁⋈dD − dF⋈dD
    * ([[graft.table.IncrementalView.maintainJoinSumView]], reused
    * verbatim — batch ≡ streaming semantics by construction).
    *
    * Why version markers, not batch rows: a per-micro-batch
    * application of the identity against the CURRENT snapshots is only
    * exact if each batch carries the WHOLE outstanding delta — the
    * cross term dF_i⋈dD_j for fact events in batch i and dim events in
    * batch j≠i cancels nowhere, so arbitrary file-level batching of a
    * merged event stream would over-count. Consuming both feeds
    * through `changesSince(recorded sync version)` instead makes every
    * cycle carry exactly the outstanding delta regardless of how the
    * source batched files; the stream is the WAKE-UP, the feed log is
    * the data. Apply order is deterministic by construction (one
    * atomic application per cycle, keyed by the version pair).
    *
    * Exactly-once: the synced (fact, dim) versions commit in the SAME
    * atomic merge as the delta they cover ([[graft.table.LakeTable]]
    * `_meta.json`), so a replayed cycle reads markers == current
    * versions and no-ops — no separate batch-id bookkeeping needed.
    * `factSince`/`dimSince` seed the markers on the first cycle (the
    * versions the view was initialized from). */
  def maintainJoinSumViewFromBothFeeds(factT: LakeTable,
      dimT: LakeTable, view: LakeTable,
      joinKeys: Seq[String], groupKeys: Seq[String], valueCol: String,
      factSince: Int, dimSince: Int, appId: String = "jv2cdc"): Unit =
    maintainJoinFromBothFeeds(factT, dimT, view, factSince, dimSince,
      appId, "foreachbatch_ivm_join2") { (fs, ds, meta) =>
      IncrementalView.maintainJoinSumView(factT, dimT, view,
        joinKeys, groupKeys, valueCol, fs, ds, meta)
      ()
    }

  /** Two-feed continuous JOIN-view MIN/MAX maintenance: the
    * [[maintainJoinSumViewFromBothFeeds]] drain contract over the full
    * batch join-min/max rule (netting, insert-side extrema,
    * threatened-group rescan THROUGH the join, atomic
    * merge-with-extinction) — dim churn included, through the stream.
    * Same rescan-consistency contract as
    * [[maintainJoinMinMaxViewFromChangeFeed]]: AvailableNow drains
    * read the final snapshots, so the drained view equals the
    * recompute; a live stream may briefly surface a rescan-ahead
    * extremum that later cycles re-threaten and heal. */
  def maintainJoinMinMaxViewFromBothFeeds(factT: LakeTable,
      dimT: LakeTable, view: LakeTable,
      joinKeys: Seq[String], groupKeys: Seq[String], valueCol: String,
      factSince: Int, dimSince: Int, appId: String = "jmm2cdc"): Unit =
    maintainJoinFromBothFeeds(factT, dimT, view, factSince, dimSince,
      appId, "foreachbatch_ivm_join2_minmax") { (fs, ds, meta) =>
      IncrementalView.maintainJoinMinMaxView(factT, dimT, view,
        joinKeys, groupKeys, valueCol, fs, ds, meta)
      ()
    }

  /** Shared two-feed drain: both tables' CDC streams merged into one
    * TICK source (1-column projections — column pruning keeps the
    * wake-up scan trivial), one maintenance application per cycle with
    * anything-outstanding guard. Multiple ticks per drain (forced
    * per-file batching, or both feeds landing files) mean the first
    * tick does the work and the rest no-op on the markers. */
  private def maintainJoinFromBothFeeds(factT: LakeTable,
      dimT: LakeTable, view: LakeTable,
      factSince: Int, dimSince: Int, appId: String, capture: String)(
      applyOnce: (Int, Int, Map[String, String]) => Unit): Unit = {
    val fKey = s"ivm_fact_synced_$appId"
    val dKey = s"ivm_dim_synced_$appId"
    val ticks = factT.readChangeFeedStream.select(lit(1).as("__tick"))
      .unionByName(dimT.readChangeFeedStream.select(lit(1).as("__tick")))
    drain(ticks, capture) { (_, _) =>
      val m = view.meta
      val fs = m.get(fKey).map(_.toInt).getOrElse(factSince)
      val ds = m.get(dKey).map(_.toInt).getOrElse(dimSince)
      if (fs < factT.version || ds < dimT.version)
        applyOnce(fs, ds, Map(fKey -> factT.version.toString,
          dKey -> dimT.version.toString))
    }
  }

  /** The one table-sink drain: run `f` on every micro-batch of `stream`
    * (foreachBatch), drain what exists (AvailableNow) and wait. The
    * batch internals `f` runs are batch executions (listener-visible);
    * the stream-side micro-batch plan is recorded under `capture` for
    * an active [[withDrainCapture]] scope, so the per-query streaming
    * lint gate sees foreachBatch sinks too. */
  private def drain(stream: DataFrame, capture: String)(
      f: (DataFrame, Long) => Unit): Unit =
    awaitDrain(stream.writeStream.foreachBatch(f), capture)

  /** [[drain]] with the batch-id exactly-once guard (Delta's
    * txnAppId/txnVersion pattern): a batch whose id is not above the
    * id recorded under `key` in `markerTable`'s `_meta.json`, or which
    * is empty, is skipped; any other batch is handed to `applyBatch`
    * with the marker entry `key -> batchId`, which it must commit IN
    * THE SAME atomic publish as the delta it covers — so at-least-once
    * delivery (a retried/restarted drain) cannot double-apply, and
    * there is no crash window between "apply" and "remember". As with
    * Delta's pattern, batch ids are only meaningful within one
    * checkpoint lineage: a production deployment sets
    * `checkpointLocation` so restarts resume the same numbering;
    * re-draining the same source state without one is also safe (same
    * ids, all skipped). `markerTable` is by-name: it is resolved per
    * batch, from the table `applyBatch`'s LAST commit lands in. */
  private def drainMarked(stream: DataFrame, capture: String,
      markerTable: => LakeTable, key: String)(
      applyBatch: (DataFrame, Long, Map[String, String]) => Unit): Unit =
    drain(stream, capture) { (batch, batchId) =>
      val last = markerTable.meta.get(key).map(_.toLong).getOrElse(-1L)
      if (batchId > last && !batch.isEmpty)
        applyBatch(batch, batchId, Map(key -> batchId.toString))
    }

  /** Drain a streaming DataFrame into an in-memory table and return the
    * result — AvailableNow processes existing files as micro-batches then
    * stops (the reference's file-drop batch model). */
  def drainToBatch(streamDf: DataFrame, name: String): DataFrame =
    drainWithExecution(streamDf, name, OutputMode.Complete())._1

  /** Append-mode drain for non-aggregating / flatMapGroupsWithState streams. */
  def drainAppend(streamDf: DataFrame, name: String): DataFrame =
    drainWithExecution(streamDf, name, OutputMode.Append())._1

  /** Update-mode drain for mapGroupsWithState streams — the memory sink
    * accumulates every per-batch emission; callers reduce to final
    * state (e.g. max of a monotone counter per key). */
  def drainUpdate(streamDf: DataFrame, name: String): DataFrame =
    drainWithExecution(streamDf, name, OutputMode.Update())._1

  /** Drain and ALSO return the last micro-batch's QueryExecution (None
    * if no batch ran) — micro-batch plans bypass QueryExecutionListener,
    * so this is how the PlanLint gate audits streaming physical plans. */
  def drainWithExecution(streamDf: DataFrame, name: String,
      mode: OutputMode): (DataFrame, Option[QueryExecution]) = {
    val qe = awaitDrain(streamDf.writeStream.outputMode(mode)
      .format("memory").queryName(name), name)
    (streamDf.sparkSession.table(name), qe)
  }

  /** Start `writer` with `Trigger.AvailableNow`, wait for it to drain,
    * and record its last micro-batch QueryExecution under `capture` in
    * the active [[withDrainCapture]] scope. Every drain starts here. */
  private def awaitDrain(writer: DataStreamWriter[Row],
      capture: String): Option[QueryExecution] = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val qe = GraftStreamingBridge.lastExecution(q)
    drainCapture.get.foreach(buf => qe.foreach(e => buf += capture -> e))
    qe
  }

  // thread-local so nothing is retained outside an explicit capture scope
  // (a session-global registry would pin every drained micro-batch plan
  // for the life of a 131-query bench run)
  private val drainCapture =
    new ThreadLocal[Option[scala.collection.mutable.ArrayBuffer[
      (String, QueryExecution)]]] {
      override def initialValue = None
    }

  /** Run `action` and collect the last-micro-batch QueryExecution of
    * every stream drained THROUGH THIS API on the calling thread — the
    * per-query hook that lets the PlanLint gate audit a query whose
    * drain happens inside its own construction (every `q_stream_*`
    * entry), where the caller never sees the streaming query object.
    * Nested captures restore the outer scope on exit. */
  def withDrainCapture[T](action: => T): (T, Seq[(String, QueryExecution)]) = {
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, QueryExecution)]
    val prev = drainCapture.get
    drainCapture.set(Some(buf))
    try { val r = action; (r, buf.toSeq) }
    finally drainCapture.set(prev)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsOfJoin, EventOps, Graph, Profiling, RangeJoin, Stats}
import graft.ops.ScaleOps
import graft.streaming.Streams

/** The events query family: every query whose oracle reads the `events`
  * table — event-time windows and sessions, as-of and range joins and
  * their streamed twins, funnels, cohorts and resampling, the JSON
  * properties, per-key profiles and sketches, the daily-series
  * statistics, the experiment readouts and the behavioral mining. Each
  * replay is spelled once below and shared by the oracles that use it;
  * a streamed query reuses its batch twin's oracle. */
object Events extends QueryFamily {
  import QueryFamily.withSQLConf

  private def events(s: SparkSession, dir: String) = Tables.load(s, dir, "events")

  /** Drain the streaming plan `plan` builds over the events table into a
    * memory sink named `<prefix>_<nanos>` through `drain`
    * (`Streams.drainToBatch`, `drainAppend` or `drainUpdate`), and return
    * what the sink holds. `plan` reads the stream by calling its
    * argument, once per source it needs (a stream-stream join reads it
    * once per side). */
  private def drainEvents(s: SparkSession, dir: String, prefix: String,
      drain: (DataFrame, String) => DataFrame)(
      plan: (() => DataFrame) => DataFrame): DataFrame = {
    val name = s"${prefix}_${System.nanoTime()}"
    // State-store count = shuffle partitions AT QUERY START, and each
    // store pays fixed per-micro-batch cost (4 stores per partition for
    // a stream-stream join). Size it to the stream's volume, not the
    // batch default — the standard streaming ops knob. Safe to scope:
    // the drain action completes inside this block.
    withSQLConf(s, "spark.sql.shuffle.partitions", "8") {
      drain(plan(() => Streams.readTableStream(s, dir, "events")), name)
    }
  }

  /** Each event type's event count `n` per calendar `day` — the Spark
    * side of `dailyCte`. */
  private def dailyCounts(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  // ---- The replays the oracles share ----

  /** The exact-decimal total of `value`, rounded to 2 places. */
  private val valueSum2dp = "ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE), 2)"

  /** Hourly tumbling windows: each type's count and value total. */
  private val tumblingSql =
    s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n,
                $valueSum2dp
                  AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""

  /** 1-hour windows sliding by 30 minutes: each type's count. */
  private val slidingSql =
    """WITH w AS (
           SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                          time_bucket(INTERVAL '30 minutes', ts)
                            - INTERVAL '30 minutes']) AS window_start,
                  event_type
           FROM events)
         SELECT window_start, event_type, count(*) AS n
         FROM w GROUP BY 1, 2 ORDER BY window_start, event_type"""

  /** Per user, the (error, click) pairs with the click in the 24 hours
    * from the error. */
  private val rangeJoinSql =
    """SELECT e.user_id, count(*) AS n_pairs
         FROM (SELECT user_id, ts FROM events WHERE event_type = 'error') e
         JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
           ON c.user_id = e.user_id AND c.ts >= e.ts
              AND c.ts < e.ts + INTERVAL '24 hours'
         GROUP BY e.user_id ORDER BY e.user_id"""

  /** `m` + `s`: each user's events (ordered by ts, event_id) cut into
    * sessions at gaps of 4 hours or more; `sid` numbers the sessions. */
  private val sessionCtes =
    """m AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts >= lag(ts) OVER w + INTERVAL '4 hours'
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)"""

  /** `daily`: each event type's event count `n` per calendar `day`. */
  private val dailyCte =
    """daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
           FROM events GROUP BY 1, 2)"""

  /** `bydow` + `totals` + `idx`: each type's day-of-week seasonal index
    * `sidx` (ISO weekday mean over the all-day mean) from `daily`. */
  private val seasonalIdxCtes =
    """bydow AS (
           SELECT event_type, isodow(day) AS dow,
                  CAST(SUM(n) AS BIGINT) AS s_dow, count(*) AS d_dow
           FROM daily GROUP BY 1, 2),
         totals AS (
           SELECT event_type, CAST(SUM(n) AS BIGINT) AS s_all,
                  count(*) AS d_all
           FROM daily GROUP BY event_type),
         idx AS (
           SELECT b.event_type, b.dow,
                  ROUND((CAST(b.s_dow AS DOUBLE) / b.d_dow)
                      / (CAST(t.s_all AS DOUBLE) / t.d_all), 4) AS sidx
           FROM bydow b JOIN totals t USING (event_type))"""

  /** `ds`: each `daily` count divided by its `idx` seasonal index, as a
    * 4-place decimal `nd`. */
  private val deseasonedCte =
    """ds AS (
           SELECT d.event_type, d.day, d.n,
                  CAST(ROUND(CAST(d.n AS DOUBLE) / i.sidx, 4)
                       AS DECIMAL(18,4)) AS nd
           FROM daily d JOIN idx i
             ON i.event_type = d.event_type AND i.dow = isodow(d.day))"""

  /** Pearson's r from the exact moments sx, sy, sxx, syy and sxy of the
    * pairs counted in column `n`; NULL unless both variances are > 0. */
  private def pearsonSql(n: String): String =
    s"""CASE WHEN CAST($n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                            AND CAST($n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                      THEN (CAST($n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST($n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST($n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                      END"""

  /** `m` + the final select: per `lag`, the exact decimal moments of the
    * `pairs` rows (lag, x, y) and their Pearson r, as column `name`. */
  private def lagCorrelationSql(name: String): String =
    s"""m AS (SELECT lag, count(*) AS n_pairs,
                 SUM(CAST(x AS DECIMAL(19,0))) AS sx,
                 SUM(CAST(y AS DECIMAL(19,0))) AS sy,
                 SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
                 SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy,
                 SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy
               FROM pairs GROUP BY lag)
         SELECT lag, n_pairs,
                ROUND(${pearsonSql("n_pairs")}, 6) AS $name
         FROM m ORDER BY lag"""

  protected val paired: Seq[(String, Paired)] = Seq(

    // ---- Event-time windows and sessions, batch and streamed ----

    "q_event_tumbling" -> Paired((s, dir) =>
      EventOps.tumbling(events(s, dir), "1 hour")
        .orderBy("window_start", "event_type"),
      tumblingSql),

    // Structured Streaming surface: the same tumbling aggregation as
    // q_event_tumbling, executed as a micro-batch stream (AvailableNow
    // drain into a memory sink) — oracle-checked against the same SQL.
    // readTableStream normalizes events.ts exactly like Tables.load.
    "q_stream_tumbling" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_tbl", Streams.drainToBatch)(ev =>
        Streams.windowedCounts(ev(), "1 hour"))
        .orderBy("window_start", "event_type"),
      tumblingSql),

    "q_event_sliding" -> Paired((s, dir) =>
      EventOps.sliding(events(s, dir), "1 hour", "30 minutes")
        .orderBy("window_start", "event_type"),
      slidingSql),

    // streaming sliding windows (width 1h, slide 30m) drained AvailableNow
    // — same answer as the batch q_event_sliding, same oracle
    "q_stream_sliding" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_slide", Streams.drainToBatch)(ev =>
        Streams.slidingCounts(ev(), "1 hour", "30 minutes"))
        .orderBy("window_start", "event_type"),
      slidingSql),

    "q_event_sessions" -> Paired((s, dir) =>
      EventOps.sessions(events(s, dir), "4 hours")
        .orderBy("user_id", "session_start"),
      s"""WITH $sessionCtes
         SELECT MIN(ts) AS session_start, user_id, count(*) AS n_events,
                $valueSum2dp
                  AS sum_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""),

    // streaming sessionization (flatMapGroupsWithState, event-time
    // timeouts) drained AvailableNow: a session is emitted once the
    // watermark passes its end + gap, and the final no-data micro-batch
    // flushes everything closed by the global max event time — so the
    // drained result is EXACTLY the batch sessions whose
    // end + gap <= max(ts); each user's trailing open session stays
    // pending by design (streaming semantics, not data loss), which the
    // oracle's HAVING replays.
    "q_stream_sessions" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_sess", Streams.drainAppend)(ev =>
        Streams.sessionize(ev(), gapSeconds = 4 * 3600))
        .select("user_id", "session_start", "n_events", "sum_value")
        .orderBy("user_id", "session_start"),
      // the batch sessionization restricted to sessions the stream's final
      // watermark (= global max ts, delay 0) has closed: end + gap <= max(ts)
      s"""WITH $sessionCtes,
         g AS (SELECT max(ts) AS mx FROM events)
         SELECT user_id, MIN(ts) AS session_start, count(*) AS n_events,
                $valueSum2dp
                  AS sum_value
         FROM s, g GROUP BY user_id, sid, mx
         HAVING MAX(ts) + INTERVAL '4 hours' <= mx
         ORDER BY user_id, session_start"""),

    // mapGroupsWithState running per-key aggregate (Update mode): count,
    // exact-decimal value total, latest event type — one fixed-size state
    // record per key. The Update-mode memory sink holds every per-batch
    // emission; the final state is the max of the monotone counter.
    "q_stream_running" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val drained = drainEvents(s, dir, "stream_run", Streams.drainUpdate)(ev =>
        Streams.runningStats(ev()))
      val w = Window.partitionBy("user_id").orderBy(col("n_events").desc)
      drained.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "n_events", "sum_value", "last_type")
        .orderBy("user_id")
    },
      // final per-key state = whole-corpus aggregate; latest type replays
      // the (ts, event_id)-max rule; sum replays the decimal arithmetic
      """WITH last AS (
           SELECT user_id, event_type AS last_type FROM (
             SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) WHERE rn = 1)
         SELECT e.user_id, count(*) AS n_events,
                ROUND(CAST(SUM(CAST(e.value AS DECIMAL(20,4))) AS DOUBLE), 2)
                  AS sum_value,
                l.last_type
         FROM events e JOIN last l USING (user_id)
         GROUP BY e.user_id, l.last_type
         ORDER BY user_id"""),

    // streaming exact dedup: first-seen row per (user, event_type) key,
    // drained AvailableNow — key set equals batch DISTINCT (bounded key
    // domain → global dedup state; see Streams.dedupStream for the
    // unbounded-domain watermark variant)
    "q_stream_dedup" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_dedup", Streams.drainAppend)(ev =>
        Streams.dedupStream(ev(), Seq("user_id", "event_type")))
        .select("user_id", "event_type")
        .orderBy("user_id", "event_type"),
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type"""),

    // ---- Joins in event time ----

    // as-of join: each click event picks up the user's most recent error
    // event at-or-before it (single shuffle on user_id — no range blowup)
    "q_asof" -> Paired((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id").as("err_id"), col("value"))
      AsOfJoin.asOf(clicks, errors, Seq("user_id"), "ts", "ts", Seq("err_id", "value"))
        .select(col("event_id"), col("user_id"), col("asof_err_id"),
          round(col("asof_value"), 2).as("asof_value"))
        .orderBy("event_id")
    },
      """SELECT c.event_id, c.user_id, e.event_id AS asof_err_id,
                ROUND(e.value, 2) AS asof_value
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click') c
         ASOF LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                         WHERE event_type = 'error') e
           ON c.user_id = e.user_id AND c.ts >= e.ts
         ORDER BY c.event_id"""),

    // binned range join: clicks within 24h after each error, per user
    "q_range_join" -> Paired((s, dir) => {
      val ev = events(s, dir)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      RangeJoin.windowFollowing(errors, clicks, Seq("user_id"), "ts", "ts",
        Seq("click_id"), windowSeconds = 86400)
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },
      rangeJoinSql),

    // STREAM-STREAM interval join: the q_range_join semantics executed as
    // a two-stream watermarked join (clicks within 24h after each error),
    // drained and re-aggregated; oracle is the same SQL as q_range_join.
    "q_stream_interval" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_ij", Streams.drainAppend) { ev =>
        val errors = ev().filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"))
        val clicks = ev().filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        Streams.intervalJoin(
          errors, clicks, "user_id", "c_user", "ts", "c_ts", windowSeconds = 86400)
      }.groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id"),
      rangeJoinSql),

    // stream-stream LEFT OUTER interval join: unmatched error rows are
    // emitted with nulls only when the watermark proves no click can
    // still arrive — the state-expiry semantics the inner variant never
    // exercises. The cutoff is applied AFTER the join, not on the left
    // stream: the global watermark is min(left, right), so a
    // pre-filtered left side would trail its own max and the newest
    // unmatched rows could never flush (observed: n_unmatched short by
    // the tail rows). With full-range watermarks, every retained row's
    // eviction bound (ts + window = cutoff + 3600) clears the final
    // watermark (max ts − 600) by a 3900 s margin, so the AvailableNow
    // drain flushes EVERY retained unmatched row and the oracle can
    // replay the join relationally without modeling eviction timing
    "q_stream_outer" -> Paired((s, dir) => {
      // the join's effective watermark is min(left wm, right wm), each
      // trailing ITS OWN type's max ts — anchor the cutoff there, not at
      // the global max (a sparse tail of other event types would leave
      // the last errors/clicks stuck in state and short the unmatched
      // counts, as observed at sf0.001)
      val maxTs = events(s, dir)
        .agg(least(
          max(when(col("event_type") === "error", col("ts"))),
          max(when(col("event_type") === "click", col("ts")))))
        .head().getTimestamp(0)
      // 8100 s = window 3600 + watermark delay 600 + margin 3900
      val cutoff = new java.sql.Timestamp(maxTs.getTime - 8100L * 1000)
      drainEvents(s, dir, "stream_oj", Streams.drainAppend) { ev =>
        val errors = ev().filter(col("event_type") === "error")
          .select(col("user_id"), col("ts"))
        val clicks = ev().filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        Streams.intervalJoin(
          errors, clicks, "user_id", "c_user", "ts", "c_ts",
          windowSeconds = 3600, joinType = "left_outer")
          .filter(col("ts") <= lit(cutoff))
      }.groupBy("user_id")
        .agg(count(col("c_ts")).as("n_matched"),
          (count(lit(1)) - count(col("c_ts"))).as("n_unmatched"))
        .orderBy("user_id")
    },
      // the left-outer stream emits every pre-cutoff error row exactly
      // once per matching click plus once with nulls when unmatched, so
      // the relational left join replays it; 8100 s mirrors the Spark
      // side's cutoff (window + watermark delay + margin)
      """WITH mx AS (SELECT LEAST(
                       MAX(ts) FILTER (WHERE event_type = 'error'),
                       MAX(ts) FILTER (WHERE event_type = 'click')) AS m
                     FROM events),
            e AS (SELECT user_id, ts FROM events CROSS JOIN mx
                  WHERE event_type = 'error'
                    AND ts <= m - INTERVAL 8100 SECONDS),
            c AS (SELECT user_id AS c_user, ts AS c_ts FROM events
                  WHERE event_type = 'click'),
            j AS (SELECT e.user_id, c.c_ts
                  FROM e LEFT JOIN c ON e.user_id = c.c_user
                    AND c.c_ts >= e.ts
                    AND c.c_ts < e.ts + INTERVAL 3600 SECONDS)
         SELECT user_id, CAST(COUNT(c_ts) AS BIGINT) AS n_matched,
                CAST(COUNT(*) - COUNT(c_ts) AS BIGINT) AS n_unmatched
         FROM j GROUP BY user_id ORDER BY user_id"""),

    // stream-static enrichment: the events stream joins a broadcast
    // customer-dimension snapshot, then a watermarked tumbling agg per
    // nation. AvailableNow drain => batch-equivalent result, so the
    // DuckDB twin is the plain batch join+agg.
    "q_stream_enrich" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_enrich", Streams.drainToBatch) { ev =>
        val dim = Tables.load(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_nationkey"))
        Streams.enrichStream(ev(), dim, Seq("user_id"))
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("c_nationkey"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value").cast("decimal(20,4)")).cast("double"), 2)
              .as("sum_value"))
          .select(col("w.start").as("window_start"), col("c_nationkey"),
            col("n"), col("sum_value"))
      }.orderBy("window_start", "c_nationkey"),
      s"""SELECT date_trunc('hour', ts) AS window_start, c_nationkey,
                count(*) AS n,
                $valueSum2dp
                  AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2 ORDER BY window_start, c_nationkey"""),

    // ---- Event patterns on the stream ----

    // CEP conversion detection on the event stream: purchases preceded
    // by ≥1 view of the same user within 4 h, with trigger count and
    // latest-view attribution — flatMapGroupsWithState, watermark-exact
    "q_stream_pattern" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_pat", Streams.drainAppend)(ev =>
        Streams.patternDetect(ev(), triggerType = "view",
          actionType = "purchase", withinSeconds = 4 * 3600))
        .select("user_id", "purchase_id", "purchase_ts",
          "n_trigger", "last_trigger_ts")
        .orderBy("user_id", "purchase_ts", "purchase_id"),
      // every purchase the final watermark passed (strictly, at the
      // watermark's millisecond granularity — the date_trunc mirror of the
      // operator's ms-domain boundary) joined to its 4 h view window;
      // inner join = matched-only, interval arithmetic in microseconds
      """WITH g AS (SELECT max(ts) AS mx FROM events),
         p AS (SELECT user_id, event_id, ts FROM events, g
               WHERE event_type = 'purchase'
                 AND date_trunc('milliseconds', ts)
                     < date_trunc('milliseconds', mx)),
         v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
         SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
                count(*) AS n_trigger, max(v.ts) AS last_trigger_ts
         FROM p JOIN v ON p.user_id = v.user_id
              AND v.ts < p.ts AND v.ts >= p.ts - INTERVAL '4 hours'
         GROUP BY p.user_id, p.event_id, p.ts
         ORDER BY p.user_id, p.ts, p.event_id"""),

    // absence detection (negation CEP): views with NO purchase inside
    // the 4 h attribution window — decidable only via the event-time
    // timeout once the watermark strictly passes view_ts + window
    "q_stream_abandon" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_abandon", Streams.drainAppend)(ev =>
        Streams.abandonDetect(ev(), triggerType = "view",
          actionType = "purchase", withinSeconds = 4 * 3600))
        .select("user_id", "view_id", "view_ts")
        .orderBy("user_id", "view_ts", "view_id"),
      // every view the final watermark decided (strictly past ts + 4 h at
      // ms granularity) with an EMPTY (view, view+4h] purchase window
      """WITH g AS (SELECT max(ts) AS mx FROM events),
         v AS (SELECT user_id, event_id, ts FROM events, g
               WHERE event_type = 'view'
                 AND date_trunc('milliseconds', ts + INTERVAL '4 hours')
                     < date_trunc('milliseconds', mx)),
         p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts
         FROM v
         WHERE NOT EXISTS (
           SELECT 1 FROM p
           WHERE p.user_id = v.user_id
             AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '4 hours')
         ORDER BY v.user_id, v.ts, v.event_id"""),

    // STREAMING daily anomaly detection: each completed day z-scored
    // against the expanding stats of all prior completed days, emitted
    // the moment the watermark strictly passes the day boundary —
    // O(1) state per key (Σn, Σn², #days + open-day counts), never a
    // history replay; the monitoring detector as a live stream
    "q_stream_anomaly" -> Paired((s, dir) =>
      drainEvents(s, dir, "stream_anom", Streams.drainAppend)(ev =>
        Streams.anomalyDetect(ev()))
        .orderBy("event_type", "day"),
      // a day is emitted once the final watermark (max ts, ms-truncated,
      // delay 0) is STRICTLY past its end; z vs expanding PRIOR-day
      // stats via the same Q/k − (P/k)² integer-prefix formula
      s"""WITH $dailyCte,
         wm AS (SELECT date_trunc('milliseconds', max(ts)) AS w
                FROM events),
         ready AS (
           SELECT d.* FROM daily d CROSS JOIN wm
           WHERE CAST(d.day AS TIMESTAMP) + INTERVAL 1 DAY < wm.w),
         pre AS (
           SELECT event_type, day, n,
                  CAST(SUM(n) OVER wp AS BIGINT) AS p,
                  CAST(SUM(n * n) OVER wp AS BIGINT) AS q,
                  count(*) OVER wp AS k
           FROM ready
           WINDOW wp AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING))
         SELECT event_type, day, n,
                CASE WHEN k >= 7
                      AND (CAST(q AS DOUBLE) / k
                           - (CAST(p AS DOUBLE) / k)
                           * (CAST(p AS DOUBLE) / k)) > 0 THEN
                  ROUND((n - CAST(p AS DOUBLE) / k)
                        / sqrt(CAST(q AS DOUBLE) / k
                               - (CAST(p AS DOUBLE) / k)
                               * (CAST(p AS DOUBLE) / k)), 4)
                END AS z,
                CASE WHEN k >= 7 THEN
                  COALESCE(abs(CASE WHEN k >= 7
                        AND (CAST(q AS DOUBLE) / k
                             - (CAST(p AS DOUBLE) / k)
                             * (CAST(p AS DOUBLE) / k)) > 0 THEN
                      ROUND((n - CAST(p AS DOUBLE) / k)
                            / sqrt(CAST(q AS DOUBLE) / k
                                   - (CAST(p AS DOUBLE) / k)
                                   * (CAST(p AS DOUBLE) / k)), 4)
                    END) >= 2.0, false)
                END AS is_anomaly
         FROM pre ORDER BY event_type, day"""),

    // ---- Funnels, cohorts and resampling ----

    // funnel analysis: view → click → purchase, each stage gated on the
    // user's previous-stage timestamp
    "q_funnel" -> Paired((s, dir) =>
      EventOps.funnel(events(s, dir), "user_id", "event_type",
        Seq("view", "click", "purchase"))
        .orderBy("stage"),
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                     WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN s1 ON e.user_id = s1.user_id
                   WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                   JOIN s2 ON e.user_id = s2.user_id
                   WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
         SELECT stage, n_users FROM (
           SELECT '1_view' AS stage, count(*) AS n_users FROM s1
           UNION ALL SELECT '2_click', count(*) FROM s2
           UNION ALL SELECT '3_purchase', count(*) FROM s3)
         ORDER BY stage"""),

    // cohort retention triangle: first-activity week × week offset
    "q_cohort" -> Paired((s, dir) =>
      EventOps.cohortRetention(events(s, dir), "user_id")
        .orderBy("cohort", "week_offset"),
      """WITH fw AS (SELECT user_id,
                            CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
                     FROM events GROUP BY 1),
            act AS (SELECT DISTINCT user_id,
                           CAST(date_trunc('week', ts) AS DATE) AS w
                    FROM events)
         SELECT cohort,
                CAST(date_diff('day', cohort, w) // 7 AS INT) AS week_offset,
                count(DISTINCT act.user_id) AS n_users
         FROM act JOIN fw ON act.user_id = fw.user_id
         GROUP BY 1, 2 ORDER BY cohort, week_offset"""),

    // time-series resample: hourly grid per user with 0-filled gaps and
    // carry-forward of the last observed hourly sum
    "q_resample" -> Paired((s, dir) =>
      EventOps.resampleHourly(
        events(s, dir).filter(col("user_id") < 20), "user_id")
        .orderBy("user_id", "hour"),
      s"""WITH b AS (
           SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n,
                  $valueSum2dp AS sv
           FROM events WHERE user_id < 20 GROUP BY 1, 2),
         spans AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM b GROUP BY 1),
         grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                  FROM spans),
         j AS (SELECT g.user_id, g.h, b.n, b.sv
               FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.h)
         SELECT user_id, h AS hour, COALESCE(n, 0) AS n,
                ROUND(COALESCE(last_value(sv IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY h
                  ROWS UNBOUNDED PRECEDING), 0.0), 2) AS carried
         FROM j ORDER BY user_id, hour"""),

    // ---- JSON properties ----

    "q_json_extract" -> Paired((s, dir) =>
      EventOps.withJsonProp(events(s, dir), "k")
        .groupBy("event_type")
        .agg(sum(col("k").cast("long")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type"),
      """SELECT event_type,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                  AS sum_k,
                count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // schema-full JSON parse (from_json → struct) then struct field access
    "q_from_json" -> Paired((s, dir) =>
      events(s, dir)
        .withColumn("props_struct",
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .groupBy((col("props_struct.k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"))
        .orderBy("k_mod"),
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY k_mod"""),

    // Spark 4 VARIANT path for semi-structured data: parse once into the
    // shredded binary encoding, then typed path extraction — at scale
    // this replaces re-parsing the JSON string per accessed field
    // (get_json_object) with O(1) binary navigation
    "q_variant_json" -> Paired((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k").as("max_k"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n,
                CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                     AS BIGINT) AS sum_k,
                CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                     AS BIGINT) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // ---- Profiles, sketches and quantiles ----

    // exact interpolated percentiles per group
    "q_percentile" -> Paired((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.95)"), 4).as("p95"))
        .orderBy("event_type"),
      """SELECT event_type,
                ROUND(quantile_cont(value, 0.5), 4) AS p50,
                ROUND(quantile_cont(value, 0.95), 4) AS p95
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // per-user feature aggregation (sequence-modeling prep): activity
    // counts, span, exact-decimal average, max inter-event gap
    "q_user_features" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts")
      events(s, dir)
        .withColumn("gap_ms",
          unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          datediff(to_date(max("ts")), to_date(min("ts"))).as("span_days"),
          round((sum(col("value").cast("decimal(20,4)")) / count(lit(1)))
            .cast("double"), 4).as("avg_value"),
          max("gap_ms").as("max_gap_ms"))
        .orderBy("user_id")
    },
      """WITH g AS (
           SELECT user_id, ts, event_type, value,
                  epoch_ms(ts) - epoch_ms(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts)) AS gap_ms
           FROM events)
         SELECT user_id, count(*) AS n_events,
                count(DISTINCT event_type) AS n_types,
                date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
                  AS span_days,
                ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) / count(*)
                  AS DOUBLE), 4) AS avg_value,
                CAST(max(gap_ms) AS BIGINT) AS max_gap_ms
         FROM g GROUP BY user_id ORDER BY user_id"""),

    // personalized PageRank on the bipartite user–event-type graph,
    // seeded at the purchase node: random-walk-with-restart relevance
    // of every user (and type) to purchasing behavior
    "q_ppr" -> Paired((s, dir) => {
      val ev = events(s, dir).select(
        concat(lit("u"), col("user_id")).as("src"),
        concat(lit("t_"), col("event_type")).as("dst")).distinct()
      Graph.personalizedPageRank(
        ev, "src", "dst", Seq("t_purchase"), iterations = 3)
        .select(col("node"), round(col("pr"), 6).as("ppr"))
        .orderBy(col("ppr").desc, col("node").asc)
        .limit(20)
    },
      // same teleport CASE, division/sum chain, and (1-d)*t + d*mass
      // operation order as the Spark loop, unrolled three iterations
      """WITH e0 AS (SELECT DISTINCT 'u' || user_id AS src,
                            't_' || event_type AS dst
                     FROM events),
         e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
         n AS (SELECT DISTINCT src AS node FROM e),
         t AS (SELECT node, CASE WHEN node = 't_purchase'
                                 THEN 1.0 ELSE 0.0 END AS t FROM n),
         r0 AS (SELECT node, t AS pr FROM t),
         r1 AS (SELECT t.node, (1.0 - 0.85) * t.t + 0.85 * COALESCE(m.im, 0.0) AS pr
                FROM t LEFT JOIN (SELECT e.dst AS node,
                                         SUM(r.pr / d.deg) AS im
                                  FROM e JOIN r0 r ON e.src = r.node
                                         JOIN deg d ON e.src = d.node
                                  GROUP BY e.dst) m USING (node)),
         r2 AS (SELECT t.node, (1.0 - 0.85) * t.t + 0.85 * COALESCE(m.im, 0.0) AS pr
                FROM t LEFT JOIN (SELECT e.dst AS node,
                                         SUM(r.pr / d.deg) AS im
                                  FROM e JOIN r1 r ON e.src = r.node
                                         JOIN deg d ON e.src = d.node
                                  GROUP BY e.dst) m USING (node)),
         r3 AS (SELECT t.node, (1.0 - 0.85) * t.t + 0.85 * COALESCE(m.im, 0.0) AS pr
                FROM t LEFT JOIN (SELECT e.dst AS node,
                                         SUM(r.pr / d.deg) AS im
                                  FROM e JOIN r2 r ON e.src = r.node
                                         JOIN deg d ON e.src = d.node
                                  GROUP BY e.dst) m USING (node))
         SELECT node, ROUND(pr, 6) AS ppr FROM r3
         ORDER BY ppr DESC, node ASC LIMIT 20"""),

    // count-min sketch point estimates: fixed-constant universal hashing
    // makes the sketch content itself deterministic, so the DuckDB twin
    // rebuilds the exact cells and reproduces the exact estimates —
    // sketch built map-side-mergeable, probed with codegen'd built-ins
    "q_cms_counts" -> Paired((s, dir) => {
      import graft.functions.SketchAggregates
      val sk = events(s, dir).agg(
        SketchAggregates.countMin(col("user_id"), depth = 4, width = 64).as("sk"))
      s.range(0, 10).select(col("id").as("probe_user"))
        .crossJoin(broadcast(sk))
        .select(col("probe_user"),
          SketchAggregates.countMinEstimate(col("sk"), col("probe_user"),
            depth = 4, width = 64).as("est"))
        .orderBy("probe_user")
    },
      // exact replay of the count-min cells: same fixed hash family
      // ((a·(x mod p) + b) mod p) mod width, p = 2^31−1, in BIGINT math
      """WITH h(i, a, b) AS (
           VALUES (0, 1299721, 7), (1, 15485863, 101),
                  (2, 32452843, 1009), (3, 49979687, 10007)),
         cells AS (
           SELECT h.i AS i,
                  ((h.a * ((user_id % 2147483647 + 2147483647) % 2147483647)
                    + h.b) % 2147483647) % 64 AS bkt,
                  count(*) AS c
           FROM events CROSS JOIN h GROUP BY 1, 2),
         probes AS (SELECT unnest(range(0, 10)) AS probe_user),
         est AS (
           SELECT p.probe_user AS probe_user,
                  MIN(coalesce(c.c, 0)) AS est
           FROM probes p CROSS JOIN h
           LEFT JOIN cells c ON c.i = h.i
            AND c.bkt = ((h.a * ((p.probe_user % 2147483647 + 2147483647)
                                 % 2147483647) + h.b) % 2147483647) % 64
           GROUP BY 1)
         SELECT probe_user, CAST(est AS BIGINT) AS est
         FROM est ORDER BY probe_user"""),

    // per-(user, type) inter-arrival gaps (lag under a total (ts, id)
    // order), exact median/p90 per type in seconds — the event-cadence
    // profile; microsecond-exact diffs, one double division at the end
    "q_interarrival" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap_us, 0.5)") / 1e6, 4)
            .as("median_gap_s"),
          round(expr("percentile(gap_us, 0.9)") / 1e6, 4).as("p90_gap_s"))
        .orderBy("event_type")
    },
      // same (user, type) partition and (ts, event_id) total order;
      // epoch_us == unix_micros
      """WITH g AS (
           SELECT event_type,
                  epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS gap_us
           FROM events)
         SELECT event_type, count(*) AS n_gaps,
                ROUND(quantile_cont(gap_us, 0.5) / 1e6, 4) AS median_gap_s,
                ROUND(quantile_cont(gap_us, 0.9) / 1e6, 4) AS p90_gap_s
         FROM g WHERE gap_us IS NOT NULL
         GROUP BY event_type ORDER BY event_type"""),

    // functional-dependency screens: a PK that must determine (orders)
    // next to a key that must NOT (users emit many event types)
    "q_fd_profile" -> Paired((s, dir) => {
      def p(df: DataFrame, det: String, dep: String, label: String) =
        Profiling.functionalDependency(df, det, dep)
          .select(lit(label).as("fd"), col("n_keys"),
            col("violating_keys"), col("violation_rate"),
            col("max_dep_values"))
      p(Tables.load(s, dir, "orders"), "o_orderkey", "o_custkey",
        "orderkey_custkey")
        .unionByName(p(events(s, dir), "user_id", "event_type",
          "user_eventtype"))
        .orderBy("fd")
    },
      // exact distinct-dependent counting per determinant, twice
      """WITH o AS (SELECT o_orderkey AS k,
                           count(DISTINCT o_custkey) AS nd
                    FROM orders GROUP BY o_orderkey),
         e AS (SELECT user_id AS k,
                      count(DISTINCT event_type) AS nd
               FROM events GROUP BY user_id)
         SELECT 'orderkey_custkey' AS fd, count(*) AS n_keys,
                count(CASE WHEN nd > 1 THEN 1 END) AS violating_keys,
                ROUND(count(CASE WHEN nd > 1 THEN 1 END)
                      / CAST(count(*) AS DOUBLE), 6) AS violation_rate,
                MAX(nd) AS max_dep_values
         FROM o
         UNION ALL
         SELECT 'user_eventtype', count(*),
                count(CASE WHEN nd > 1 THEN 1 END),
                ROUND(count(CASE WHEN nd > 1 THEN 1 END)
                      / CAST(count(*) AS DOUBLE), 6),
                MAX(nd)
         FROM e
         ORDER BY fd"""),

    // rolling 7-day distinct users from MERGEABLE daily KMV sketches —
    // raw events touched once, every window answered by sketch merge;
    // k=4096 >> weekly cardinality at lab scale, so counts are exact
    // and the oracle checks them against a recomputed sliding distinct
    "q_rolling_uniques" -> Paired((s, dir) =>
      ScaleOps.rollingKmvDistinct(
        events(s, dir).select(to_date(col("ts")).as("day"), col("user_id")),
        "day", "user_id", windowDays = 7, k = 4096)
        .orderBy("day"),
      // recomputed exact sliding distinct — equals the sketch rollup
      // while the window cardinality sits below k
      """WITH daily AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                        FROM events),
         days AS (SELECT DISTINCT day FROM daily)
         SELECT d.day AS day,
                count(DISTINCT u.day) AS n_days,
                count(DISTINCT u.user_id) AS uniques
         FROM days d JOIN daily u ON u.day BETWEEN d.day - 6 AND d.day
         GROUP BY d.day ORDER BY d.day"""),

    // one-row key-skew profile of events.user_id — the pre-shuffle
    // diagnostic that decides whether a join/agg needs the suite's
    // salted shapes; exact percentiles over PER-KEY frequencies (one
    // row per distinct key, so exact stays cheap at corpus scale)
    "q_key_skew" -> Paired((s, dir) =>
      Profiling.keySkewProfile(events(s, dir), "user_id"),
      // exact percentiles over per-key frequencies: quantile_cont is the
      // same linear-interpolation definition as Spark's percentile
      """WITH f AS (SELECT user_id, count(*) AS freq
                    FROM events GROUP BY user_id)
         SELECT CAST(SUM(freq) AS BIGINT) AS n_rows,
                count(*) AS n_keys,
                MAX(freq) AS max_freq,
                ROUND(AVG(freq), 4) AS avg_freq,
                ROUND(CAST(MAX(freq) AS DOUBLE) / SUM(freq), 6) AS top1_share,
                ROUND(quantile_cont(freq, 0.5), 4) AS freq_p50,
                ROUND(quantile_cont(freq, 0.9), 4) AS freq_p90,
                ROUND(quantile_cont(freq, 0.99), 4) AS freq_p99
         FROM f"""),

    // the concrete salting sidecar: per-key salt factors for users
    // whose event count exceeds the 70-rows-per-task budget; integer
    // ceil-division, so the plan replays exactly
    "q_salt_plan" -> Paired((s, dir) =>
      Profiling.saltPlan(events(s, dir), "user_id", 70)
        .orderBy(col("freq").desc, col("key").asc),
      // integer ceil-division replayed with //; only keys above the
      // per-task budget appear
      """WITH f AS (SELECT user_id AS key, count(*) AS freq
                    FROM events GROUP BY user_id)
         SELECT key, freq, CAST((freq + 69) // 70 AS INT) AS salt
         FROM f WHERE freq > 70
         ORDER BY freq DESC, key ASC"""),

    // median/MAD robust outlier screen per event type — exact
    // percentiles, identical IEEE predicate order on both engines
    "q_robust_outliers" -> Paired((s, dir) =>
      Profiling.robustOutliers(
        events(s, dir), "event_type", "value", nMads = 3.0)
        .orderBy("event_type"),
      // exact medians via quantile_cont (same interpolation as Spark's
      // percentile); outlier predicate in the identical operation order
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                      FROM events GROUP BY event_type),
         dv AS (SELECT e.event_type, m.med,
                       abs(e.value - m.med) AS adev
                FROM events e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
                 FROM dv GROUP BY event_type)
         SELECT dv.event_type AS event_type, count(*) AS n,
                ROUND(MAX(dv.med), 4) AS med,
                ROUND(MAX(mad.mad), 4) AS mad,
                count(CASE WHEN dv.adev > 3.0 * mad.mad THEN 1 END)
                  AS n_outliers,
                ROUND(count(CASE WHEN dv.adev > 3.0 * mad.mad THEN 1 END)
                      / CAST(count(*) AS DOUBLE), 6) AS outlier_rate
         FROM dv JOIN mad USING (event_type)
         GROUP BY dv.event_type ORDER BY event_type"""),

    // winsorized per-event-type stats: exact percentile bounds, clip
    // counts, and the deterministic decimal-summed clipped mean
    "q_winsorize" -> Paired((s, dir) =>
      Profiling.winsorizedStats(
        events(s, dir), "event_type", "value", pLo = 0.01, pHi = 0.99)
        .orderBy("event_type"),
      // same exact-percentile bounds, clip predicate, and round-then-
      // decimal-sum mean chain as the Spark side
      """WITH b AS (SELECT event_type,
                           quantile_cont(value, 0.01) AS lo,
                           quantile_cont(value, 0.99) AS hi
                    FROM events GROUP BY event_type),
         c AS (SELECT e.event_type, e.value, b.lo, b.hi,
                      least(greatest(e.value, b.lo), b.hi) AS clip
               FROM events e JOIN b USING (event_type))
         SELECT event_type, count(*) AS n,
                ROUND(MAX(lo), 4) AS lo, ROUND(MAX(hi), 4) AS hi,
                count(CASE WHEN value < lo THEN 1 END) AS n_clipped_lo,
                count(CASE WHEN value > hi THEN 1 END) AS n_clipped_hi,
                ROUND(CAST(SUM(CAST(ROUND(clip, 4) AS DECIMAL(20,4)))
                           AS DOUBLE) / count(*), 4) AS mean_wins
         FROM c GROUP BY event_type ORDER BY event_type"""),

    // deterministic sketch-style quantiles: bottom-4096-by-id-hash sample
    // (TakeOrdered, O(k)/partition) + exact interpolated quantiles of the
    // sample — replays exactly in DuckDB, unlike a randomized KLL
    "q_sampled_quantiles" -> Paired((s, dir) =>
      ScaleOps.hashSampledQuantiles(events(s, dir),
        "event_id", "value", k = 4096, probs = Seq(0.5, 0.9, 0.99)),
      // same deterministic bottom-k-by-hash sample; quantile_cont uses the
      // identical linear-interpolation definition as Spark's percentile
      """SELECT ROUND(quantile_cont(value, 0.5), 4) AS p50,
                ROUND(quantile_cont(value, 0.9), 4) AS p90,
                ROUND(quantile_cont(value, 0.99), 4) AS p99
         FROM (SELECT value FROM events
               ORDER BY md5(CAST(event_id AS VARCHAR)) LIMIT 4096)"""),

    // per-stratum variant: an independent deterministic sample per
    // event_type (WindowGroupLimit: map-side partial top-k per group)
    "q_group_quantiles" -> Paired((s, dir) =>
      ScaleOps.hashSampledQuantilesPerGroup(events(s, dir),
        "event_type", "event_id", "value", k = 2048,
        probs = Seq(0.5, 0.9))
        .orderBy("event_type"),
      """WITH s AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY md5(CAST(event_id AS VARCHAR))) AS rn
           FROM events)
         SELECT event_type,
                ROUND(quantile_cont(value, 0.5), 4) AS p50,
                ROUND(quantile_cont(value, 0.9), 4) AS p90
         FROM s WHERE rn <= 2048
         GROUP BY event_type ORDER BY event_type"""),

    // ---- Daily-series statistics ----

    // Theil–Sen robust trend per event type over daily counts: the
    // exact median of all pairwise slopes — outlier days can't drag
    // the estimate the way least squares lets them; pair count is
    // calendar-bounded (days², not events²)
    "q_theil_sen" -> Paired((s, dir) => {
      val daily = dailyCounts(events(s, dir))
        .withColumn("d", datediff(col("day"),
          lit("2020-01-01").cast("date")).cast("double"))
      val a = daily.select(col("event_type"), col("d").as("d1"),
        col("n").as("n1"))
      val b = daily.select(col("event_type"), col("d").as("d2"),
        col("n").as("n2"))
      a.join(b, Seq("event_type"))
        .filter(col("d2") > col("d1"))
        .withColumn("slope",
          (col("n2") - col("n1")).cast("double") / (col("d2") - col("d1")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"))
        .orderBy("event_type")
    },
      // same pairwise-slope construction; quantile_cont == percentile
      s"""WITH $dailyCte,
         d AS (SELECT event_type,
                      CAST(date_diff('day', DATE '2020-01-01', day)
                           AS DOUBLE) AS d,
                      n
               FROM daily),
         p AS (SELECT a.event_type AS event_type,
                      CAST(b.n - a.n AS DOUBLE) / (b.d - a.d) AS slope
               FROM d a JOIN d b ON a.event_type = b.event_type
                                AND b.d > a.d)
         SELECT event_type, count(*) AS n_pairs,
                ROUND(quantile_cont(slope, 0.5), 6) AS ts_slope
         FROM p GROUP BY event_type ORDER BY event_type"""),

    // rolling 7-day z-score anomaly screen over daily per-type volumes —
    // the data-drift monitor you'd run nightly on an ingest firehose;
    // variance from integer frame sums, comparisons on the rounded score
    "q_rolling_zscore" -> Paired((s, dir) =>
      EventOps.rollingZScore(events(s, dir), "event_type", "ts",
        windowDays = 7, zThreshold = 2.0)
        .orderBy("event_type", "day"),
      // identical integer frame sums + one shared IEEE formula
      // (var = sumsq/n − mean²); stats NULL until the frame is full,
      // anomaly compares the ROUNDED z on both engines
      s"""WITH $dailyCte,
         w AS (
           SELECT event_type, day, n,
                  count(*) OVER fr AS cnt_w,
                  SUM(n) OVER fr AS sum_w,
                  SUM(n * n) OVER fr AS sumsq_w
           FROM daily
           WINDOW fr AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
         z AS (
           SELECT event_type, day, n, cnt_w,
                  CAST(sum_w AS DOUBLE) / 7.0 AS mean_r,
                  CAST(sumsq_w AS DOUBLE) / 7.0
                    - (CAST(sum_w AS DOUBLE) / 7.0) * (CAST(sum_w AS DOUBLE) / 7.0)
                    AS var_r
           FROM w),
         s AS (
           SELECT event_type, day, n,
                  CASE WHEN cnt_w = 7 THEN ROUND(mean_r, 4) END AS mean_w,
                  CASE WHEN cnt_w = 7 AND var_r > 0
                       THEN ROUND((CAST(n AS DOUBLE) - mean_r) / sqrt(var_r), 4)
                  END AS z,
                  cnt_w
           FROM z)
         SELECT event_type, day, n, mean_w, z,
                CASE WHEN cnt_w = 7 THEN COALESCE(abs(z) >= 2.0, FALSE)
                END AS is_anomaly
         FROM s ORDER BY event_type, day"""),

    // day-of-week seasonal profile per event type — the multiplicative
    // index that deseasonalizes before q_rolling_zscore's trend logic
    "q_seasonal_index" -> Paired((s, dir) =>
      EventOps.seasonalIndex(events(s, dir), "event_type", "ts")
        .orderBy("event_type", "dow"),
      // integer daily sums through one shared division chain; ISO weekday
      s"""WITH $dailyCte,
         dw AS (
           SELECT event_type, isodow(day) AS dow,
                  SUM(n) AS s_dow, count(*) AS d_dow
           FROM daily GROUP BY 1, 2),
         tot AS (
           SELECT event_type, SUM(n) AS s_all, count(*) AS d_all
           FROM daily GROUP BY 1)
         SELECT dw.event_type, dw.dow, dw.d_dow AS n_days,
                ROUND(CAST(s_dow AS DOUBLE) / d_dow, 4) AS avg_n,
                ROUND((CAST(s_dow AS DOUBLE) / d_dow) /
                      (CAST(s_all AS DOUBLE) / d_all), 4) AS seasonal_index
         FROM dw JOIN tot USING (event_type)
         ORDER BY event_type, dow"""),

    // CUSUM level-shift evidence per event type — the cumulative drift
    // detector that complements q_rolling_zscore's pointwise spikes;
    // sequential fold replayed exactly via list_reduce
    "q_cusum" -> Paired((s, dir) =>
      EventOps.cusumDrift(events(s, dir), "event_type", "ts")
        .orderBy("event_type"),
      // prefix identity replay: p_t = P_t − t·μ on the exact integer
      // running count; s_t = p_t − min(0, running min p); min/max are
      // order-insensitive so no float accumulation order exists
      s"""WITH $dailyCte,
         tot AS (
           SELECT event_type, SUM(n) AS total, count(*) AS n_days
           FROM daily GROUP BY event_type),
         pre AS (
           SELECT d.event_type, d.day, t.n_days,
                  CAST(t.total AS DOUBLE) / t.n_days AS mu,
                  CAST(SUM(n) OVER w AS DOUBLE)
                    - CAST(count(*) OVER w AS DOUBLE)
                      * (CAST(t.total AS DOUBLE) / t.n_days) AS p
           FROM daily d JOIN tot t USING (event_type)
           WINDOW w AS (PARTITION BY d.event_type ORDER BY day
                        ROWS UNBOUNDED PRECEDING)),
         s AS (
           SELECT event_type, n_days, mu,
                  p - least(CAST(0 AS DOUBLE),
                            min(p) OVER (PARTITION BY event_type ORDER BY day
                                         ROWS UNBOUNDED PRECEDING)) AS sv
           FROM pre)
         SELECT event_type, n_days, ROUND(mu, 4) AS mean_daily,
                ROUND(MAX(sv), 4) AS max_cusum
         FROM s GROUP BY event_type, n_days, mu ORDER BY event_type"""),

    // EWMA (α = 1/2) smoothing of daily event volume per type — exact
    // dyadic closed form, bit-identical across engines by construction
    "q_ewma" -> Paired((s, dir) =>
      Stats.ewmaDaily(events(s, dir), "event_type", "ts")
        .orderBy("event_type", "day"),
      // s_t = 2^(−t)·(B_t + x_1): the only accumulation (B_t) is an exact
      // int128/decimal running sum and every weight a dyadic rational, so
      // the doubles agree bit-for-bit with no rounding rescue
      s"""WITH $dailyCte,
         cut AS (SELECT max(day) - 99 AS min_day FROM daily),
         idx AS (
           SELECT d.event_type, d.day, d.n,
                  row_number() OVER (PARTITION BY d.event_type
                                     ORDER BY d.day) AS t
           FROM daily d CROSS JOIN cut WHERE d.day >= cut.min_day),
         acc AS (
           SELECT event_type, day, n, t,
                  SUM(CAST(power(2.0, t - 1) AS HUGEINT) * n)
                    OVER (PARTITION BY event_type ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS b,
                  first_value(n)
                    OVER (PARTITION BY event_type ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS x1
           FROM idx)
         SELECT event_type, day, n,
                power(2.0, -t) * CAST(b + x1 AS DOUBLE) AS ewma
         FROM acc ORDER BY event_type, day"""),

    // Holt linear-trend 7-day forecast per event type (α=β=½, l₁=y₁,
    // b₁=0); the fold's fixed-order IEEE arithmetic replays in the
    // oracle's recursive CTE step for step
    "q_holt_forecast" -> Paired((s, dir) =>
      Stats.holtLinearDaily(events(s, dir), "event_type", "ts", horizon = 7)
        .orderBy("event_type", "h"),
      // Holt recursion replayed step for step in a recursive CTE — the
      // level/trend updates mirror the Spark fold's exact operation order
      s"""WITH RECURSIVE $dailyCte,
         d AS (SELECT event_type, day, n,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY day) AS t
               FROM daily),
         rec AS (
           -- b must anchor as DOUBLE: a bare 0.0 is DECIMAL(1,1) in
           -- DuckDB and would quantize the trend every iteration
           SELECT event_type, t, CAST(n AS DOUBLE) AS l,
                  CAST(0.0 AS DOUBLE) AS b
           FROM d WHERE t = 1
           UNION ALL
           SELECT d.event_type, d.t,
                  0.5 * d.n + 0.5 * (rec.l + rec.b),
                  0.5 * ((0.5 * d.n + 0.5 * (rec.l + rec.b)) - rec.l)
                    + 0.5 * rec.b
           FROM rec JOIN d ON d.event_type = rec.event_type
                          AND d.t = rec.t + 1),
         fin AS (
           SELECT r.event_type, r.l, r.b, lst.last_day
           FROM rec r
           JOIN (SELECT event_type, max(t) AS mt, max(day) AS last_day
                 FROM d GROUP BY event_type) lst
             ON r.event_type = lst.event_type AND r.t = lst.mt)
         SELECT f.event_type, f.last_day, hs.h,
                ROUND(f.l + hs.h * f.b, 6) AS forecast
         FROM fin f CROSS JOIN (SELECT unnest(range(1, 8)) AS h) hs
         ORDER BY f.event_type, hs.h"""),

    // daily-count autocorrelation at lags 1..7 (seasonality diagnostic:
    // a weekly cycle peaks at lag 7); exact decimal moments per lag
    "q_acf" -> Paired((s, dir) =>
      Stats.acfDaily(events(s, dir), "ts", maxLag = 7)
        .orderBy("lag"),
      // per-lag Pearson from exact decimal moments over the day-lag join
      s"""WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*) AS n
           FROM events GROUP BY 1),
         pairs AS (
           SELECT ls.lag, a.n AS x, b.n AS y
           FROM daily a
           CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) ls
           JOIN daily b ON b.day = a.day - CAST(ls.lag AS INT)),
         ${lagCorrelationSql("acf")}"""),

    // Kendall's tau-b on the same two daily series — the other standard
    // rank correlation, with exact tie-corrected pair counting
    "q_kendall_tau" -> Paired((s, dir) =>
      Stats.kendallTauDaily(events(s, dir), "ts", "user_id"),
      // tau-b replay: pairwise sign products via a day<day self-join,
      // tie sums per series, same fixed final formula
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*) AS x,
                  count(DISTINCT user_id) AS y
           FROM events GROUP BY 1),
         pairs AS (
           SELECT COALESCE(CAST(SUM(CAST(sign(b.x - a.x) AS BIGINT)
                           * CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT), 0) AS s
           FROM daily a JOIN daily b ON a.day < b.day),
         tx AS (SELECT COALESCE(SUM(t * (t - 1)), 0) AS tx2
                FROM (SELECT count(*) AS t FROM daily GROUP BY x)),
         ty AS (SELECT COALESCE(SUM(t * (t - 1)), 0) AS ty2
                FROM (SELECT count(*) AS t FROM daily GROUP BY y)),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
         SELECT n_days, s,
                round(CASE WHEN (CAST(n_days AS DOUBLE) * (n_days - 1) - tx2) > 0
                            AND (CAST(n_days AS DOUBLE) * (n_days - 1) - ty2) > 0
                      THEN CAST(2 AS DOUBLE) * s
                           / sqrt((CAST(n_days AS DOUBLE) * (n_days - 1) - tx2)
                                  * (CAST(n_days AS DOUBLE) * (n_days - 1) - ty2))
                      END, 6) AS tau_b
         FROM nn CROSS JOIN pairs CROSS JOIN tx CROSS JOIN ty"""),

    // Spearman rank correlation of daily volume vs daily user breadth —
    // integer series, average ranks in exact 2·avgrank integer space
    "q_spearman" -> Paired((s, dir) =>
      Stats.spearmanDaily(events(s, dir), "ts", "user_id"),
      s"""WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*) AS x,
                  count(DISTINCT user_id) AS y
           FROM events GROUP BY 1),
         rk AS (
           SELECT CAST(2 * rank() OVER (ORDER BY x)
                       + count(*) OVER (PARTITION BY x) - 1
                    AS DECIMAL(19,0)) AS rx,
                  CAST(2 * rank() OVER (ORDER BY y)
                       + count(*) OVER (PARTITION BY y) - 1
                    AS DECIMAL(19,0)) AS ry
           FROM daily),
         m AS (SELECT count(*) AS n_days,
                 SUM(rx) AS sx, SUM(ry) AS sy,
                 SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
                 SUM(rx * ry) AS sxy
               FROM rk)
         SELECT n_days,
                ROUND(${pearsonSql("n_days")}, 6) AS spearman
         FROM m"""),

    // Mann–Whitney U on daily mean event values, even-user cohort vs
    // odd (same treated split as q_did): nonparametric shift test in
    // the doubled-rank integer space; tie-corrected normal z
    "q_mann_whitney" -> Paired((s, dir) =>
      Stats.mannWhitneyDaily(events(s, dir), "ts", "value",
        treated = col("user_id") % 2 === 0),
      // Mann–Whitney replay: pooled doubled average ranks of the 6dp
      // daily means, exact-long doubled U, tie-corrected variance; all
      // double arithmetic in the same operand order as the Spark side
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
                  CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp,
                  ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                        / COUNT(*), 6) AS m
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         rk AS (SELECT grp,
                  2 * rank() OVER (ORDER BY m)
                    + COUNT(*) OVER (PARTITION BY m) - 1 AS r2
                FROM daily),
         tie AS (SELECT COALESCE(SUM(t * t * t - t), 0) AS tie3
                 FROM (SELECT COUNT(*) AS t FROM daily GROUP BY m)),
         agg AS (SELECT SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n_a,
                        SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n_b,
                        SUM(CASE WHEN grp = 1 THEN r2 ELSE 0 END) AS ra2
                 FROM rk),
         fin AS (SELECT n_a, n_b,
                   CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) AS u2,
                   CAST(n_a AS DOUBLE) AS n1, CAST(n_b AS DOUBLE) AS n2,
                   CAST(n_a + n_b AS DOUBLE) AS n,
                   CAST(tie3 AS DOUBLE) AS t3
                 FROM agg CROSS JOIN tie)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                ROUND(u2 / 2.0, 1) AS u_a,
                ROUND(CASE WHEN n1 * n2 / 12.0 * ((n + 1.0)
                                - t3 / (n * (n - 1.0))) > 0
                      THEN (u2 / 2.0 - n1 * n2 / 2.0)
                           / sqrt(n1 * n2 / 12.0 * ((n + 1.0)
                                  - t3 / (n * (n - 1.0))))
                      END, 6) AS z
         FROM fin"""),

    // Mann–Kendall monotone-trend test + Sen's slope over the daily
    // mean event value — S, tie-corrected z, and the exact median of
    // pairwise slopes, all from one calendar-bounded daily frame.
    "q_mann_kendall" -> Paired((s, dir) =>
      Stats.mannKendallDaily(events(s, dir), "ts", "value"),
      // Mann–Kendall replay: pairwise S over the same rounded daily
      // means, tie-corrected variance, continuity-corrected z, Sen's
      // slope as the exact median of pairwise slopes (the oracle may
      // self-join freely; the engine enumerates the bounded pairs
      // row-locally)
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day,
                  ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                        / COUNT(*), 6) AS m
           FROM events WHERE value IS NOT NULL GROUP BY 1),
         idx AS (SELECT m,
                   CAST(datediff('day', (SELECT MIN(day) FROM daily), day)
                        AS DOUBLE) AS t
                 FROM daily),
         pairs AS (SELECT a.m AS ma, b.m AS mb, a.t AS ta, b.t AS tb
                   FROM idx a JOIN idx b ON a.t < b.t),
         sagg AS (SELECT COALESCE(CAST(SUM(CASE WHEN mb > ma THEN 1
                                 WHEN mb < ma THEN -1 ELSE 0 END) AS BIGINT),
                          0) AS s,
                         median((mb - ma) / (tb - ta)) AS sen
                  FROM pairs),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
         tie AS (SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie3
                 FROM (SELECT COUNT(*) AS t FROM daily GROUP BY m)),
         fin AS (SELECT n_days, s, sen,
                   (CAST(n_days AS DOUBLE) * (n_days - 1) * (2.0 * n_days + 5)
                    - CAST(tie3 AS DOUBLE)) / 18.0 AS vars
                 FROM nn CROSS JOIN sagg CROSS JOIN tie)
         SELECT n_days, s,
                ROUND(CASE WHEN vars > 0 AND s > 0
                             THEN (CAST(s AS DOUBLE) - 1) / sqrt(vars)
                           WHEN vars > 0 AND s < 0
                             THEN (CAST(s AS DOUBLE) + 1) / sqrt(vars)
                           WHEN vars > 0 THEN 0.0 END, 6) AS z,
                ROUND(sen, 6) AS sen_slope
         FROM fin"""),

    // lead-lag cross-correlation signup → purchase at lags −7..7 (a
    // positive-lag peak = signups lead purchases by that many days)
    "q_ccf" -> Paired((s, dir) =>
      Stats.ccfDaily(events(s, dir), "event_type", "ts",
        "signup", "purchase", maxLag = 7)
        .orderBy("lag"),
      // same day-lag join + moment kernel as q_acf, between two filtered
      // series over lags -7..7
      s"""WITH a AS (
           SELECT CAST(ts AS DATE) AS day, count(*) AS x
           FROM events WHERE event_type = 'signup' GROUP BY 1),
         b AS (
           SELECT CAST(ts AS DATE) AS day, count(*) AS y
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         pairs AS (
           SELECT ls.lag, a.x, b.y
           FROM a
           CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag) ls
           JOIN b ON b.day = a.day + CAST(ls.lag AS INT)),
         ${lagCorrelationSql("ccf")}"""),

    // rolling z-scores on the seasonally-adjusted series: q_rolling_
    // zscore ∘ q_seasonal_index — weekend dips stop tripping the
    // detector, genuine same-weekday spikes still do
    "q_deseasonal_z" -> Paired((s, dir) =>
      EventOps.deseasonalizedZScore(events(s, dir), "event_type", "ts")
        .orderBy("event_type", "day"),
      // q_seasonal_index ∘ q_rolling_zscore: deseasonalized counts
      // rounded to 4 dp → DECIMAL frame sums → ONE variance formula
      s"""WITH $dailyCte,
         $seasonalIdxCtes,
         $deseasonedCte,
         z AS (
           SELECT event_type, day, n, CAST(nd AS DOUBLE) AS deseasonalized,
                  count(*) OVER w AS cnt,
                  CAST(SUM(nd) OVER w AS DOUBLE) / 7.0 AS mean_w,
                  CAST(SUM(nd * nd) OVER w AS DOUBLE) / 7.0
                    - (CAST(SUM(nd) OVER w AS DOUBLE) / 7.0)
                    * (CAST(SUM(nd) OVER w AS DOUBLE) / 7.0) AS var_w,
                  CAST(nd AS DOUBLE) AS ndd
           FROM ds
           WINDOW w AS (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
         SELECT event_type, day, n, deseasonalized,
                CASE WHEN cnt = 7 AND var_w > 0 THEN
                  ROUND((ndd - mean_w) / sqrt(var_w), 4) END AS z,
                CASE WHEN cnt = 7 THEN
                  COALESCE(abs(CASE WHEN cnt = 7 AND var_w > 0 THEN
                    ROUND((ndd - mean_w) / sqrt(var_w), 4) END) >= 2.0,
                    false)
                END AS is_anomaly
         FROM z ORDER BY event_type, day"""),

    // time-series lag/rolling features per (type, day): lag-1, lag-7,
    // trailing-7 mean — the standard forecasting feature block; counts
    // are integers so every feature is exact (mean = int sum / 7.0)
    "q_lag_features" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = dailyCounts(events(s, dir))
      val w = Window.partitionBy("event_type").orderBy("day")
      val w7 = w.rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("lag_1", lag("n", 1).over(w))
        .withColumn("lag_7", lag("n", 7).over(w))
        .withColumn("roll7_mean",
          when(count(lit(1)).over(w7) === 7,
            round(sum("n").over(w7).cast("double") / lit(7.0), 4)))
        .orderBy("event_type", "day")
    },
      // lag() ignores frames; the rolling mean guards partial frames
      s"""WITH $dailyCte
         SELECT event_type, day, n,
                lag(n, 1) OVER w AS lag_1,
                lag(n, 7) OVER w AS lag_7,
                CASE WHEN count(*) OVER w7 = 7 THEN
                  ROUND(CAST(SUM(n) OVER w7 AS DOUBLE) / 7.0, 4)
                END AS roll7_mean
         FROM daily
         WINDOW w AS (PARTITION BY event_type ORDER BY day),
                w7 AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, day"""),

    // seasonal-naive forecast with backtest: forecast(d) = seasonal
    // index(dow) × trailing-7 deseasonalized mean, scored by MAE over
    // the fully-framed days — the closed-form baseline every real
    // forecaster must beat; absolute errors rounded then decimal-summed
    "q_seasonal_forecast" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = dailyCounts(events(s, dir))
      val byDow = daily
        .groupBy(col("event_type"), (weekday(col("day")) + 1).as("dow"))
        .agg(sum("n").as("s_dow"), count(lit(1)).as("d_dow"))
      val totals = daily.groupBy(col("event_type"))
        .agg(sum("n").as("s_all"), count(lit(1)).as("d_all"))
      val idx = byDow.join(broadcast(totals), Seq("event_type"))
        .select(col("event_type"), col("dow"),
          round((col("s_dow").cast("double") / col("d_dow")) /
            (col("s_all").cast("double") / col("d_all")), 4).as("sidx"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val wPrev7 = w.rowsBetween(-7, -1)
      val withNd = daily
        .withColumn("dow", weekday(col("day")) + 1)
        .join(broadcast(idx), Seq("event_type", "dow"))
        .withColumn("nd", round(col("n").cast("double") / col("sidx"), 4)
          .cast("decimal(18,4)"))
      val scored = withNd
        .withColumn("base",
          when(count(lit(1)).over(wPrev7) === 7,
            round(sum("nd").over(wPrev7).cast("double") / lit(7.0), 4)))
        .withColumn("forecast", round(col("base") * col("sidx"), 2))
        .withColumn("abs_err",
          round(abs(col("n").cast("double") - col("forecast")), 2)
            .cast("decimal(18,2)"))
      scored.filter(col("forecast").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          round(sum("abs_err").cast("double") / count(lit(1)), 4).as("mae"),
          // split-conformal 90% interval half-width: the empirical p90
          // of backtest |errors| (exact interpolated percentile over
          // the calendar-bounded error set)
          round(expr("percentile(cast(abs_err as double), 0.9)"), 4)
            .as("pi90_halfwidth"))
        .orderBy("event_type")
    },
      // forecast = trailing-7 deseasonalized mean × index; MAE from
      // rounded absolute errors decimal-summed
      s"""WITH $dailyCte,
         $seasonalIdxCtes,
         nd AS (
           SELECT d.event_type, d.day, d.n, i.sidx,
                  CAST(ROUND(CAST(d.n AS DOUBLE) / i.sidx, 4)
                       AS DECIMAL(18,4)) AS ndv
           FROM daily d JOIN idx i
             ON i.event_type = d.event_type AND i.dow = isodow(d.day)),
         sc AS (
           SELECT event_type, day, n, sidx,
                  CASE WHEN count(*) OVER wp = 7 THEN
                    ROUND(CAST(SUM(ndv) OVER wp AS DOUBLE) / 7.0, 4)
                  END AS base
           FROM nd
           WINDOW wp AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         f AS (SELECT event_type, day, n,
                      ROUND(base * sidx, 2) AS forecast
               FROM sc),
         e AS (SELECT event_type,
                      CAST(ROUND(abs(CAST(n AS DOUBLE) - forecast), 2)
                           AS DECIMAL(18,2)) AS abs_err
               FROM f WHERE forecast IS NOT NULL)
         SELECT event_type, count(*) AS n_days,
                ROUND(CAST(SUM(abs_err) AS DOUBLE) / count(*), 4) AS mae,
                ROUND(quantile_cont(CAST(abs_err AS DOUBLE), 0.9), 4)
                  AS pi90_halfwidth
         FROM e GROUP BY event_type ORDER BY event_type"""),

    // changepoint LOCATION by binary segmentation: the split day that
    // minimizes SSE_left + SSE_right of each type's daily series —
    // where q_cusum says "a level shift exists", this says WHERE.
    // All candidate costs come from integer prefix sums (one window),
    // selection by (rounded cost, day) so the argmin is cross-engine
    "q_changepoint" -> Paired((s, dir) =>
      EventOps.binaryChangepoint(events(s, dir), "event_type", "ts")
        .orderBy("event_type"),
      // integer prefix sums → per-candidate SSE costs; argmin on the
      // rounded cost with day tiebreak
      s"""WITH $dailyCte,
         tot AS (
           SELECT event_type, CAST(SUM(n) AS BIGINT) AS tn,
                  CAST(SUM(n * n) AS BIGINT) AS tq, count(*) AS td
           FROM daily GROUP BY event_type),
         pre AS (
           SELECT d.event_type, d.day,
                  CAST(SUM(n) OVER w AS BIGINT) AS p,
                  CAST(SUM(n * n) OVER w AS BIGINT) AS q,
                  count(*) OVER w AS k,
                  t.tn, t.tq, t.td
           FROM daily d JOIN tot t USING (event_type)
           WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)),
         scored AS (
           SELECT event_type, day,
                  ROUND((CAST(q AS DOUBLE)
                         - CAST(p AS DOUBLE) * p / k)
                      + (CAST(tq - q AS DOUBLE)
                         - CAST(tn - p AS DOUBLE) * (tn - p)
                           / (td - k)), 4) AS cost
           FROM pre WHERE k < td),
         best AS (SELECT event_type, min(cost) AS mc FROM scored
                  GROUP BY event_type),
         pick AS (
           SELECT s.event_type, min(s.day) AS split_day,
                  b.mc AS sse_split
           FROM scored s JOIN best b ON s.event_type = b.event_type
                                    AND s.cost = b.mc
           GROUP BY s.event_type, b.mc),
         ns AS (
           SELECT event_type,
                  ROUND(CAST(tq AS DOUBLE)
                        - CAST(tn AS DOUBLE) * tn / td, 4) AS sse_nosplit
           FROM tot)
         SELECT p.event_type, p.split_day, p.sse_split, ns.sse_nosplit,
                CASE WHEN ns.sse_nosplit > 0 THEN
                  ROUND((ns.sse_nosplit - p.sse_split)
                        / ns.sse_nosplit * 100, 2)
                END AS sse_drop_pct
         FROM pick p JOIN ns USING (event_type)
         ORDER BY p.event_type"""),

    // anomaly ENSEMBLE: the plain rolling z-score, the seasonally-
    // adjusted z-score, and a same-weekday spike rule vote per
    // (type, day) — consensus ≥ 2 is the page-worthy alert, a single
    // vote is triage noise; the production pattern that keeps one
    // detector's blind spot from paging (or silencing) on its own
    "q_anomaly_consensus" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val plain = EventOps.rollingZScore(ev, "event_type", "ts")
        .select(col("event_type"), col("day"), col("n"),
          coalesce(col("is_anomaly"), lit(false)).cast("int").as("v_plain"))
      val deseason = EventOps.deseasonalizedZScore(ev, "event_type", "ts")
        .select(col("event_type"), col("day"),
          coalesce(col("is_anomaly"), lit(false)).cast("int")
            .as("v_deseason"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val wow = dailyCounts(ev)
        .withColumn("lag7", lag("n", 7).over(w))
        .select(col("event_type"), col("day"),
          coalesce(col("n") > lit(2) * col("lag7"), lit(false))
            .cast("int").as("v_wow"))
      plain.join(deseason, Seq("event_type", "day"))
        .join(wow, Seq("event_type", "day"))
        .withColumn("votes",
          col("v_plain") + col("v_deseason") + col("v_wow"))
        .select(col("event_type"), col("day"), col("n"), col("v_plain"),
          col("v_deseason"), col("v_wow"), col("votes"))
        .orderBy("event_type", "day")
    },
      // the three detector chains replayed verbatim, then a vote join
      s"""WITH $dailyCte,
         zw AS (
           SELECT event_type, day, n,
                  count(*) OVER fr AS cnt_w,
                  SUM(n) OVER fr AS sum_w,
                  SUM(n * n) OVER fr AS sumsq_w
           FROM daily
           WINDOW fr AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
         zz AS (
           SELECT event_type, day, n, cnt_w,
                  CAST(sum_w AS DOUBLE) / 7.0 AS mean_r,
                  CAST(sumsq_w AS DOUBLE) / 7.0
                    - (CAST(sum_w AS DOUBLE) / 7.0)
                    * (CAST(sum_w AS DOUBLE) / 7.0) AS var_r
           FROM zw),
         plain AS (
           SELECT event_type, day, n,
                  CAST(COALESCE(CASE WHEN cnt_w = 7 THEN
                    COALESCE(abs(CASE WHEN cnt_w = 7 AND var_r > 0
                      THEN ROUND((CAST(n AS DOUBLE) - mean_r)
                                 / sqrt(var_r), 4) END) >= 2.0, FALSE)
                  END, FALSE) AS INTEGER) AS v_plain
           FROM zz),
         $seasonalIdxCtes,
         $deseasonedCte,
         dz AS (
           SELECT event_type, day,
                  count(*) OVER w2 AS cnt,
                  CAST(SUM(nd) OVER w2 AS DOUBLE) / 7.0 AS mean_w,
                  CAST(SUM(nd * nd) OVER w2 AS DOUBLE) / 7.0
                    - (CAST(SUM(nd) OVER w2 AS DOUBLE) / 7.0)
                    * (CAST(SUM(nd) OVER w2 AS DOUBLE) / 7.0) AS var_w,
                  CAST(nd AS DOUBLE) AS ndd
           FROM ds
           WINDOW w2 AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
         deseason AS (
           SELECT event_type, day,
                  CAST(COALESCE(CASE WHEN cnt = 7 THEN
                    COALESCE(abs(CASE WHEN cnt = 7 AND var_w > 0 THEN
                      ROUND((ndd - mean_w) / sqrt(var_w), 4) END) >= 2.0,
                      false)
                  END, false) AS INTEGER) AS v_deseason
           FROM dz),
         wow AS (
           SELECT event_type, day,
                  CAST(COALESCE(n > 2 * lag(n, 7) OVER
                    (PARTITION BY event_type ORDER BY day), false)
                    AS INTEGER) AS v_wow
           FROM daily)
         SELECT p.event_type, p.day, p.n, p.v_plain, d2.v_deseason,
                w3.v_wow, p.v_plain + d2.v_deseason + w3.v_wow AS votes
         FROM plain p
         JOIN deseason d2 ON d2.event_type = p.event_type
                         AND d2.day = p.day
         JOIN wow w3 ON w3.event_type = p.event_type AND w3.day = p.day
         ORDER BY p.event_type, p.day"""),

    // burstiness profile per event type: Fano factor (variance/mean of
    // daily counts — 1 ≈ Poisson, ≫1 bursty) from exact integer sums
    "q_burstiness" -> Paired((s, dir) => {
      val daily = dailyCounts(events(s, dir))
      val mean = col("total").cast("double") / col("n_days")
      val variance = col("sumsq").cast("double") / col("n_days") -
        mean * mean
      daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("n").as("total"),
          sum(col("n") * col("n")).as("sumsq"))
        .select(col("event_type"), col("n_days"), col("total"),
          round(mean, 4).as("mean_daily"),
          round(variance, 4).as("var_daily"),
          round(variance / mean, 4).as("fano"))
        .orderBy("event_type")
    },
      // Fano = var/mean of daily counts from exact integer sums
      s"""WITH $dailyCte,
         m AS (
           SELECT event_type, count(*) AS n_days,
                  CAST(SUM(n) AS BIGINT) AS total,
                  CAST(SUM(n * n) AS BIGINT) AS sumsq
           FROM daily GROUP BY event_type)
         SELECT event_type, n_days, total,
                ROUND(CAST(total AS DOUBLE) / n_days, 4) AS mean_daily,
                ROUND(CAST(sumsq AS DOUBLE) / n_days
                    - (CAST(total AS DOUBLE) / n_days)
                    * (CAST(total AS DOUBLE) / n_days), 4) AS var_daily,
                ROUND((CAST(sumsq AS DOUBLE) / n_days
                     - (CAST(total AS DOUBLE) / n_days)
                     * (CAST(total AS DOUBLE) / n_days))
                    / (CAST(total AS DOUBLE) / n_days), 4) AS fano
         FROM m ORDER BY event_type"""),

    // week-over-week growth per event type — the period-over-period
    // report every ops dashboard runs; integer counts, lag window
    "q_wow_growth" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val weekly = events(s, dir)
        .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("week")
      weekly.withColumn("prev_n", lag("n", 1).over(w))
        .withColumn("wow_pct", when(col("prev_n") > 0,
          round((col("n") - col("prev_n")).cast("double") /
            col("prev_n") * 100, 4)))
        .orderBy("event_type", "week")
    },
      // Monday-anchored weeks on both engines; growth on integer counts
      """WITH w AS (
           SELECT event_type, date_trunc('week', ts) AS week,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT event_type, week, n,
                  lag(n, 1) OVER (PARTITION BY event_type
                                  ORDER BY week) AS prev_n
           FROM w)
         SELECT event_type, week, n, prev_n,
                CASE WHEN prev_n > 0 THEN
                  ROUND(CAST(n - prev_n AS DOUBLE) / prev_n * 100, 4)
                END AS wow_pct
         FROM l ORDER BY event_type, week"""),

    // ---- Experiments ----

    // A/B readout on the deterministic user-parity split: 2×2 table,
    // pooled two-proportion z, uncorrected chi-square — every statistic
    // a fixed closed form over exact integer counts
    "q_ab_test" -> Paired((s, dir) =>
      Stats.abTest(events(s, dir), "user_id", "event_type", "purchase"),
      """WITH u AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS converted
           FROM events GROUP BY user_id),
         arms AS (
           SELECT user_id % 2 AS arm, count(*) AS n,
                  CAST(SUM(converted) AS BIGINT) AS conv
           FROM u GROUP BY 1),
         t AS (
           SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
                  max(CASE WHEN arm = 0 THEN conv END) AS conv_a,
                  max(CASE WHEN arm = 1 THEN n END) AS n_b,
                  max(CASE WHEN arm = 1 THEN conv END) AS conv_b
           FROM arms)
         SELECT n_a, conv_a, n_b, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
           ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
           ROUND(CAST(conv_b AS DOUBLE) / n_b
               - CAST(conv_a AS DOUBLE) / n_a, 6) AS lift,
           CASE WHEN (conv_a + conv_b) > 0
                 AND (n_a + n_b) > (conv_a + conv_b) THEN
             ROUND((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
               / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)), 6)
           END AS z_stat,
           CASE WHEN (conv_a + conv_b) > 0
                 AND (n_a + n_b) > (conv_a + conv_b) THEN
             ROUND(CAST(n_a + n_b AS DOUBLE)
                 * CAST(conv_a * (n_b - conv_b)
                        - (n_a - conv_a) * conv_b AS DOUBLE)
                 * CAST(conv_a * (n_b - conv_b)
                        - (n_a - conv_a) * conv_b AS DOUBLE)
                 / CAST(n_a * n_b * (conv_a + conv_b)
                        * ((n_a - conv_a) + (n_b - conv_b)) AS DOUBLE), 6)
           END AS chi2
         FROM t"""),

    // stratified A/B: CMH over 3 user strata (decorrelated from the
    // arm hash), uncorrected chi2 + Mantel-Haenszel common odds ratio
    "q_cmh" -> Paired((s, dir) =>
      Stats.cmhTest(events(s, dir), "user_id", "event_type", "purchase",
        strata = pmod(floor(col("user_id") / 2).cast("long"), lit(3))),
      // every statistic is integer-count arithmetic + one fixed double
      // formula; the 2×2 determinant replayed in the same a·d − b·c form
      // CMH replay: same user-level conversion aggregate, 2x2 per
      // stratum, per-stratum terms rounded to 10 dp then decimal-summed
      // (order-free) exactly as the engine does
      """WITH u AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS cv,
                  user_id % 2 AS arm,
                  (user_id // 2) % 3 AS st
           FROM events GROUP BY user_id),
         tab AS (
           SELECT st,
                  SUM(CASE WHEN arm = 1 AND cv = 1 THEN 1 ELSE 0 END) AS a,
                  SUM(CASE WHEN arm = 1 AND cv = 0 THEN 1 ELSE 0 END) AS b,
                  SUM(CASE WHEN arm = 0 AND cv = 1 THEN 1 ELSE 0 END) AS c,
                  SUM(CASE WHEN arm = 0 AND cv = 0 THEN 1 ELSE 0 END) AS d
           FROM u GROUP BY st),
         terms AS (
           SELECT a, b, c, d,
                  CAST(a + b + c + d AS DOUBLE) AS t
           FROM tab WHERE a + b + c + d > 1),
         r AS (
           SELECT a,
                  CAST(round(CAST((a + b) AS DOUBLE) * CAST((a + c) AS DOUBLE)
                       / t, 10) AS DECIMAL(28,10)) AS e,
                  CAST(round(CAST((a + b) * (c + d) AS DOUBLE)
                       * CAST((a + c) * (b + d) AS DOUBLE)
                       / (t * t * (t - 1)), 10) AS DECIMAL(28,10)) AS v,
                  CAST(round(CAST(a * d AS DOUBLE) / t, 10)
                       AS DECIMAL(28,10)) AS num,
                  CAST(round(CAST(b * c AS DOUBLE) / t, 10)
                       AS DECIMAL(28,10)) AS den
           FROM terms),
         agg AS (
           SELECT CAST(count(*) AS BIGINT) AS n_strata,
                  CAST(SUM(a) AS BIGINT) AS sum_a,
                  CAST(SUM(e) AS DOUBLE) AS se,
                  CAST(SUM(v) AS DOUBLE) AS sv,
                  CAST(SUM(num) AS DOUBLE) AS sn,
                  CAST(SUM(den) AS DOUBLE) AS sd
           FROM r)
         SELECT n_strata, sum_a,
                round(se, 6) AS expected_a,
                round(CASE WHEN sv > 0 THEN
                  (CAST(sum_a AS DOUBLE) - se) * (CAST(sum_a AS DOUBLE) - se)
                    / sv END, 6) AS chi2_cmh,
                round(CASE WHEN sd > 0 THEN sn / sd END, 6) AS or_mh
         FROM agg"""),

    // CUPED variance reduction (Deng et al. 2013): per-user pre-period
    // activity x (days 1–15) as the covariate for the post-period
    // metric y (days 16+); θ = cov/var(x) from ONE pass of exact
    // decimal moments, reported with the achieved variance reduction —
    // the experimentation-platform readout that shrinks required
    // sample sizes without touching the treatment effect
    "q_cuped" -> Paired((s, dir) => {
      val ev = events(s, dir)
      val anchor = ev.agg(date_add(to_date(min("ts")), 15).as("cut"))
      val xy = ev.crossJoin(broadcast(anchor))
        .groupBy("user_id")
        .agg(sum(when(to_date(col("ts")) < col("cut"), 1L).otherwise(0L))
          .as("x"),
          sum(when(to_date(col("ts")) >= col("cut"), 1L).otherwise(0L))
            .as("y"))
      val m = xy.agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      val n = col("n").cast("double")
      val mx = col("sx").cast("double") / n
      val my = col("sy").cast("double") / n
      val varX = col("sxx").cast("double") / n - mx * mx
      val varY = col("syy").cast("double") / n - my * my
      val covXY = col("sxy").cast("double") / n - mx * my
      m.select(col("n").as("n_users"),
        round(covXY / varX, 6).as("theta"),
        round(varY, 4).as("var_y"),
        round(varY - covXY * covXY / varX, 4).as("var_adjusted"),
        round((covXY * covXY / varX) / varY * 100, 2)
          .as("reduction_pct"))
    },
      // θ = cov/var(x) from one exact-moment pass; var formulas mirrored
      """WITH anchor AS (
           SELECT CAST(min(ts) AS DATE) + 15 AS cut FROM events),
         xy AS (
           SELECT user_id,
                  CAST(SUM(CASE WHEN CAST(ts AS DATE) < a.cut
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
                  CAST(SUM(CASE WHEN CAST(ts AS DATE) >= a.cut
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
           FROM events CROSS JOIN anchor a GROUP BY user_id, a.cut),
         m AS (
           SELECT count(*) AS n,
                  CAST(SUM(x) AS BIGINT) AS sx,
                  CAST(SUM(y) AS BIGINT) AS sy,
                  CAST(SUM(x * x) AS BIGINT) AS sxx,
                  CAST(SUM(y * y) AS BIGINT) AS syy,
                  CAST(SUM(x * y) AS BIGINT) AS sxy
           FROM xy)
         SELECT n AS n_users,
           ROUND((CAST(sxy AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
               / (CAST(sxx AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)), 6)
             AS theta,
           ROUND(CAST(syy AS DOUBLE) / n
                 - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n), 4)
             AS var_y,
           ROUND((CAST(syy AS DOUBLE) / n
                  - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
               - (CAST(sxy AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
               * (CAST(sxy AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
               / (CAST(sxx AS DOUBLE) / n
                  - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)), 4)
             AS var_adjusted,
           ROUND(((CAST(sxy AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                * (CAST(sxy AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
                / (CAST(sxx AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)))
               / (CAST(syy AS DOUBLE) / n
                  - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
               * 100, 2) AS reduction_pct
         FROM m"""),

    // difference-in-differences: even user_ids "treated", cutover = the
    // integer midpoint of the observed time range, outcome = mean event
    // value per cell; all four cells + the estimate from ONE aggregate
    "q_did" -> Paired((s, dir) =>
      Stats.diffInDiff(events(s, dir), "ts", "value",
        treated = col("user_id") % 2 === 0),
      // DiD cells from exact decimal sums; cutover = floor-midpoint of
      // epoch-us range (Spark's double-divide-then-truncate equals // here
      // because the operands are positive and < 2^53)
      """WITH x AS (SELECT epoch_us(ts) AS t,
                           CAST(value AS DECIMAL(20,4)) AS v,
                           (user_id % 2 = 0) AS treated
                    FROM events),
         c AS (SELECT (MIN(t) + MAX(t)) // 2 AS cut FROM x),
         m AS (SELECT
            CAST(SUM(CASE WHEN NOT treated AND t <  cut THEN v END) AS DOUBLE)
              / SUM(CASE WHEN NOT treated AND t <  cut THEN 1 END) AS m_c_pre,
            CAST(SUM(CASE WHEN NOT treated AND t >= cut THEN v END) AS DOUBLE)
              / SUM(CASE WHEN NOT treated AND t >= cut THEN 1 END) AS m_c_post,
            CAST(SUM(CASE WHEN treated AND t <  cut THEN v END) AS DOUBLE)
              / SUM(CASE WHEN treated AND t <  cut THEN 1 END) AS m_t_pre,
            CAST(SUM(CASE WHEN treated AND t >= cut THEN v END) AS DOUBLE)
              / SUM(CASE WHEN treated AND t >= cut THEN 1 END) AS m_t_post
           FROM x CROSS JOIN c)
         SELECT ROUND(m_c_pre, 6) AS mean_c_pre,
                ROUND(m_c_post, 6) AS mean_c_post,
                ROUND(m_t_pre, 6) AS mean_t_pre,
                ROUND(m_t_post, 6) AS mean_t_post,
                ROUND((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did
         FROM m"""),

    // experiment sample-size planning from the measured baseline rate:
    // n/arm = ⌈(z_{α/2}+z_β)²·2p̄(1−p̄)/δ²⌉ at α=.05, power=.8 for three
    // candidate absolute lifts — the "how long must this test run"
    // readout next to q_ab_test; z constants are fixed 6-dp literals
    "q_ab_power" -> Paired((s, dir) => {
      val users = events(s, dir).groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      val base = users.agg(count(lit(1)).as("n_users"),
        sum("converted").as("n_conv"))
      val p = col("n_conv").cast("double") / col("n_users")
      val z = lit(1.959964) + lit(0.841621) // z_{.975} + z_{.80}
      base.select(explode(array(
          lit(0.02), lit(0.05), lit(0.10)).cast("array<double>"))
          .as("delta"), col("n_users"), col("n_conv"))
        .withColumn("base_rate", round(p, 6))
        .withColumn("n_per_arm",
          ceil(z * z * lit(2.0) * p * (lit(1.0) - p) /
            (col("delta") * col("delta"))).cast("long"))
        .select(col("delta"), col("n_users"), col("n_conv"),
          col("base_rate"), col("n_per_arm"))
        .orderBy("delta")
    },
      // the z-sum must be the SAME double addition as Spark's lit sum
      """WITH u AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS converted
           FROM events GROUP BY 1),
         b AS (SELECT count(*) AS n_users,
                      CAST(SUM(converted) AS BIGINT) AS n_conv FROM u),
         d(delta) AS (VALUES (CAST(0.02 AS DOUBLE)),
                             (CAST(0.05 AS DOUBLE)),
                             (CAST(0.10 AS DOUBLE)))
         SELECT d.delta, b.n_users, b.n_conv,
                ROUND(CAST(b.n_conv AS DOUBLE) / b.n_users, 6) AS base_rate,
                CAST(CEIL((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
                        * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
                        * 2.0 * (CAST(b.n_conv AS DOUBLE) / b.n_users)
                        * (1.0 - CAST(b.n_conv AS DOUBLE) / b.n_users)
                        / (d.delta * d.delta)) AS BIGINT) AS n_per_arm
         FROM b CROSS JOIN d ORDER BY d.delta"""),

    // Mantel–Cox log-rank test: treated (even user_ids) vs control
    // time-to-purchase curves; O/E/V from the shared risk-set table,
    // per-t terms quantized to 10 dp then exact-decimal-summed
    "q_logrank" -> Paired((s, dir) =>
      Stats.logRank(events(s, dir), "user_id", "event_type", "ts",
        "purchase", treated = col("user_id") % 2 === 0),
      // O/E/V over the risk-set table; per-t terms ROUND(...,10) then
      // decimal-summed exactly as the Spark side pins
      """WITH pu AS (
           SELECT user_id, CAST(min(ts) AS DATE) AS d0,
                  CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS DATE) AS dp,
                  CAST(max(ts) AS DATE) AS dl,
                  max(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS grp
           FROM events GROUP BY user_id),
         dur AS (
           SELECT CASE WHEN dp IS NOT NULL THEN datediff('day', d0, dp)
                       ELSE datediff('day', d0, dl) END AS t,
                  CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS observed,
                  grp
           FROM pu),
         byt AS (
           SELECT t, CAST(SUM(observed) AS BIGINT) AS d,
                  CAST(SUM(observed * grp) AS BIGINT) AS da,
                  count(*) AS ended,
                  CAST(SUM(grp) AS BIGINT) AS endeda
           FROM dur GROUP BY t),
         tot AS (SELECT CAST(SUM(ended) AS BIGINT) AS n_total,
                        CAST(SUM(endeda) AS BIGINT) AS n_total_a
                 FROM byt),
         risk AS (
           SELECT byt.*, tot.n_total, tot.n_total_a,
                  tot.n_total - COALESCE(SUM(ended) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
                  tot.n_total_a - COALESCE(SUM(endeda) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na
           FROM byt CROSS JOIN tot),
         terms AS (
           SELECT n_total, n_total_a, da,
                  CAST(ROUND(CAST(na AS DOUBLE) * CAST(d AS DOUBLE)
                             / CAST(n AS DOUBLE), 10) AS DECIMAL(28,10)) AS e,
                  CAST(CASE WHEN n > 1 THEN ROUND(
                         CAST(na AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(na AS DOUBLE))
                         * CAST(d AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) - 1.0)), 10)
                       ELSE 0.0 END AS DECIMAL(28,10)) AS v
           FROM risk WHERE d > 0),
         agg AS (
           SELECT max(n_total) AS n_users, max(n_total_a) AS n_users_a,
                  CAST(SUM(da) AS BIGINT) AS oa, SUM(e) AS ea, SUM(v) AS v
           FROM terms)
         SELECT n_users, n_users_a, oa,
                ROUND(CAST(ea AS DOUBLE), 6) AS ea,
                ROUND(CAST(v AS DOUBLE), 6) AS v,
                ROUND(CASE WHEN CAST(v AS DOUBLE) > 0
                      THEN (CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))
                           / sqrt(CAST(v AS DOUBLE)) END, 6) AS z,
                ROUND(CASE WHEN CAST(v AS DOUBLE) > 0
                      THEN ((CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))
                            / sqrt(CAST(v AS DOUBLE)))
                           * ((CAST(oa AS DOUBLE) - CAST(ea AS DOUBLE))
                              / sqrt(CAST(v AS DOUBLE))) END, 6) AS chi2
         FROM agg"""),

    // Kaplan–Meier days-to-purchase survival (right-censored at the
    // user's last event); product-limit via 6-dp-ln exact-decimal sums
    "q_kaplan_meier" -> Paired((s, dir) =>
      Stats.kaplanMeier(events(s, dir), "user_id", "event_type", "ts",
        "purchase").orderBy("t_days"),
      // product-limit as exp(Σ round(ln(factor),6)) with an exact DECIMAL
      // sum — the dsirWeights transcendental discipline; factor 0 floored
      // at ln = −20 on both sides
      """WITH pu AS (
           SELECT user_id, CAST(min(ts) AS DATE) AS d0,
                  CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS DATE) AS dp,
                  CAST(max(ts) AS DATE) AS dl
           FROM events GROUP BY user_id),
         dur AS (
           SELECT CASE WHEN dp IS NOT NULL THEN datediff('day', d0, dp)
                       ELSE datediff('day', d0, dl) END AS t,
                  CASE WHEN dp IS NOT NULL THEN 1 ELSE 0 END AS observed
           FROM pu),
         byt AS (
           SELECT t, CAST(SUM(observed) AS BIGINT) AS d,
                  CAST(SUM(1 - observed) AS BIGINT) AS c,
                  count(*) AS ended
           FROM dur GROUP BY t),
         tot AS (SELECT CAST(SUM(ended) AS BIGINT) AS n_total FROM byt),
         risk AS (
           SELECT b.t, b.d, b.c,
                  t2.n_total - COALESCE(CAST(SUM(b.ended) OVER (ORDER BY b.t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT), 0) AS n_risk
           FROM byt b CROSS JOIN tot t2),
         lf AS (
           SELECT t, d, c, n_risk,
                  CAST(CASE WHEN d > 0 AND n_risk > d
                       THEN ROUND(ln(CAST(n_risk - d AS DOUBLE) / n_risk), 6)
                       WHEN d > 0 THEN CAST(-20 AS DOUBLE)
                       ELSE CAST(0 AS DOUBLE) END AS DECIMAL(18,6)) AS ln_f
           FROM risk)
         SELECT t AS t_days, n_risk, d AS d_conv, c AS c_censored,
                ROUND(exp(CAST(SUM(ln_f) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)), 4) AS survival
         FROM lf QUALIFY d > 0 ORDER BY t"""),

    // Poisson-bootstrap 90% CI for the mean event value per type — B=40
    // one-pass weighted sums (shuffle = types x 40 rows, never events);
    // weights replay from knuthHash + fixed integer CDF thresholds, so
    // the whole interval is oracle-exact
    "q_bootstrap_ci" -> Paired((s, dir) =>
      Stats.poissonBootstrap(events(s, dir), Seq("event_type"), "event_id",
        "value", replicates = 40)
        .orderBy("event_type"),
      // Poisson-bootstrap replay: same knuthHash(id*40+rep) uniform (the
      // HUGEINT twin), same integer CDF thresholds, exact decimal sums,
      // double division, order-stat endpoints rms[2]/rms[38]
      """WITH w AS (
           SELECT e.event_type, CAST(e.value AS DECIMAL(20,4)) AS v, r.rep,
                  (CAST(e.event_id * 40 + r.rep AS HUGEINT) * 2654435761)
                    % 4294967296 AS u
           FROM events e
           CROSS JOIN (SELECT unnest(range(40)) AS rep) r),
         ww AS (SELECT event_type, v, rep,
                  CASE WHEN u < 1580030168 THEN 0
                       WHEN u < 3160060337 THEN 1
                       WHEN u < 3950075421 THEN 2
                       WHEN u < 4213413783 THEN 3
                       WHEN u < 4279248373 THEN 4
                       WHEN u < 4292415291 THEN 5
                       ELSE 6 END AS w
                FROM w),
         rm AS (SELECT event_type, rep,
                  ROUND(CAST(SUM(v * w) AS DOUBLE) / SUM(w), 6) AS rmean
                FROM ww GROUP BY event_type, rep HAVING SUM(w) > 0),
         b AS (SELECT event_type, list_sort(list(rmean)) AS rms
               FROM rm GROUP BY event_type),
         o AS (SELECT event_type, count(*) AS n,
                  ROUND(CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                        / count(*), 6) AS observed_mean
               FROM events GROUP BY event_type)
         SELECT o.event_type, o.n, o.observed_mean,
                b.rms[2] AS boot_lo, b.rms[38] AS boot_hi
         FROM o JOIN b USING (event_type)
         ORDER BY o.event_type"""),

    // ---- Behavioral mining ----

    // first-order Markov transition matrix of user event streams; the
    // (ts, event_id) tiebreak makes lead() total-ordered on both engines
    "q_transitions" -> Paired((s, dir) =>
      EventOps.transitionMatrix(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type"),
      // lead() with the same (ts, event_id) total order; probabilities
      // as one double division of exact counts
      """WITH nx AS (
           SELECT event_type AS from_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS to_type
           FROM events),
         pr AS (SELECT from_type, to_type, count(*) AS n
                FROM nx WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         tt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
                FROM pr GROUP BY from_type)
         SELECT pr.from_type AS from_type, pr.to_type AS to_type, pr.n AS n,
                ROUND(CAST(pr.n AS DOUBLE) / tt.n_from, 6) AS p
         FROM pr JOIN tt USING (from_type)
         ORDER BY from_type, to_type"""),

    // level-2 sequential patterns: users with type a EVENTUALLY before
    // type b (min/max-timestamp profile trick — no raw-event self-join)
    "q_seq_patterns" -> Paired((s, dir) =>
      EventOps.sequencePairSupport(events(s, dir), "user_id", "event_type", "ts")
        .orderBy(col("support").desc, col("a"), col("b")),
      // ∃ a-before-b replayed via the same min/max profile reduction
      """WITH prof AS (
           SELECT user_id, event_type,
                  min(ts) AS first_ts, max(ts) AS last_ts
           FROM events GROUP BY 1, 2)
         SELECT a.event_type AS a, b.event_type AS b, count(*) AS support
         FROM prof a JOIN prof b
           ON a.user_id = b.user_id AND a.first_ts < b.last_ts
         GROUP BY 1, 2 ORDER BY support DESC, a, b"""),

    // 3-step behavioral patterns a→b→c (∃ ordered, not adjacent) —
    // the PrefixSpan level the pair profile trick can't see
    "q_seq3" -> Paired((s, dir) =>
      EventOps.sequenceTripleSupport(events(s, dir), "user_id",
        "event_type", "ts")
        .orderBy(col("support").desc, col("a"), col("b"), col("c"))
        .limit(50),
      // b-event anchored: profile joins give ∃a-before and ∃c-after
      """WITH prof AS (
           SELECT user_id AS u, event_type AS t, min(ts) AS f,
                  max(ts) AS l
           FROM events GROUP BY 1, 2),
         tri AS (
           SELECT DISTINCT e.user_id AS u, a.t AS a, e.event_type AS b,
                  c.t AS c
           FROM events e
           JOIN prof a ON a.u = e.user_id AND a.f < e.ts
           JOIN prof c ON c.u = e.user_id AND e.ts < c.l)
         SELECT a, b, c, count(*) AS support
         FROM tri GROUP BY a, b, c
         ORDER BY support DESC, a, b, c LIMIT 50"""),

    // conversion-latency distribution: first view → first subsequent
    // purchase per user; exact interpolated percentiles over the
    // user-bounded latency set
    "q_time_to_convert" -> Paired((s, dir) => {
      val ev = events(s, dir)
      val fv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("fv"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(fv, Seq("user_id"))
        .filter(col("ts") > col("fv"))
        .groupBy("user_id", "fv").agg(min("ts").as("cp"))
        .select(((unix_micros(col("cp")) - unix_micros(col("fv"))).cast("double")
          / 1000000.0d).as("latency_s"))
      conv.agg(count(lit(1)).as("n_converted"),
        round(expr("percentile(latency_s, 0.5)"), 1).as("median_s"),
        round(expr("percentile(latency_s, 0.9)"), 1).as("p90_s"))
    },
      // identical epoch-microsecond arithmetic; quantile_cont is the same
      // linear interpolation as Spark's percentile
      """WITH fv AS (
           SELECT user_id, min(ts) AS fv FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         conv AS (
           SELECT (CAST(epoch_us(min(e.ts)) - epoch_us(fv.fv) AS DOUBLE)
                   / 1000000.0) AS latency_s
           FROM events e JOIN fv USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > fv.fv
           GROUP BY e.user_id, fv.fv)
         SELECT count(*) AS n_converted,
                ROUND(quantile_cont(latency_s, 0.5), 1) AS median_s,
                ROUND(quantile_cont(latency_s, 0.9), 1) AS p90_s
         FROM conv"""),

    // linear multi-touch attribution: each purchase splits one unit of
    // credit across the user's touches in the trailing 3 days; 1/k
    // credits rounded then decimal-summed (repeating rationals must
    // not ride float accumulation order)
    "q_attribution" -> Paired((s, dir) =>
      EventOps.multiTouchAttribution(events(s, dir), "user_id",
        "event_type", "ts", "event_id", "purchase", 3)
        .orderBy("touch_type"),
      // per-conversion fan-out k via a conversion-id window; credit 1/k
      // rounded at 6 dp, decimal-summed
      """WITH conv AS (
           SELECT user_id AS u, event_id AS conv_id, ts AS cts
           FROM events WHERE event_type = 'purchase'),
         touches AS (
           SELECT user_id AS u, event_type AS touch_type, ts AS tts
           FROM events WHERE event_type <> 'purchase'),
         pairs AS (
           SELECT t.touch_type, c.conv_id
           FROM touches t JOIN conv c ON t.u = c.u
           WHERE t.tts < c.cts AND t.tts >= c.cts - INTERVAL 3 DAY),
         credits AS (
           SELECT touch_type,
                  CAST(ROUND(1.0 / (count(*) OVER (PARTITION BY conv_id)), 6)
                       AS DECIMAL(18,6)) AS credit
           FROM pairs)
         SELECT touch_type, count(*) AS n_touches,
                ROUND(CAST(SUM(credit) AS DOUBLE), 4) AS total_credit
         FROM credits GROUP BY touch_type ORDER BY touch_type"""),

    // longest consecutive-active-day streaks per user (gaps-and-islands
    // via the row_number difference trick — pure date arithmetic)
    "q_gaps_islands" -> Paired((s, dir) =>
      EventOps.gapsIslands(events(s, dir), "user_id", "ts")
        .orderBy("user_id"),
      // row_number difference anchor — pure integer date arithmetic
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         isl AS (
           SELECT user_id, day,
                  day - CAST(row_number() OVER (PARTITION BY user_id
                                                ORDER BY day) AS INTEGER)
                    AS anchor
           FROM ud),
         runs AS (
           SELECT user_id, anchor, count(*) AS len, min(day) AS start_day
           FROM isl GROUP BY user_id, anchor),
         mx AS (
           SELECT user_id, anchor, len, start_day,
                  max(len) OVER (PARTITION BY user_id) AS max_len
           FROM runs)
         SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
                count(*) AS n_streaks,
                CAST(max(len) AS BIGINT) AS longest_streak,
                min(CASE WHEN len = max_len THEN start_day END)
                  AS longest_start
         FROM mx GROUP BY user_id ORDER BY user_id"""),

    // growth accounting: daily active users, first-seen new users, and
    // the running total of distinct users ever seen (first-day trick —
    // no distinct-over-window, one bounded calendar-sized cumsum)
    "q_cumulative_uniques" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val newPerDay = ev.groupBy("user_id")
        .agg(to_date(min("ts")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      val dau = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      dau.join(newPerDay, Seq("day"), "left")
        .select(col("day"), col("dau"),
          coalesce(col("new_users"), lit(0L)).as("new_users"))
        .limit(10000) // calendar-bounded; proves the global cumsum safe
        .withColumn("cum_users", sum("new_users").over(
          Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("day")
    },
      // first-day trick: running distinct = cumsum of first-seen counts
      """WITH fd AS (
           SELECT user_id, CAST(min(ts) AS DATE) AS day
           FROM events GROUP BY user_id),
         npd AS (SELECT day, count(*) AS new_users FROM fd GROUP BY day),
         dau AS (SELECT CAST(ts AS DATE) AS day,
                        count(DISTINCT user_id) AS dau
                 FROM events GROUP BY 1),
         j AS (
           SELECT d.day, d.dau, COALESCE(n.new_users, 0) AS new_users
           FROM dau d LEFT JOIN npd n USING (day))
         SELECT day, dau, new_users,
                CAST(SUM(new_users) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_users
         FROM j ORDER BY day"""),

    // classic Dn retention (D1/D7/D14) per signup-day cohort — the
    // growth dashboard's standard curve; pure integer date arithmetic
    // over the same first-day reduction as q_cumulative_uniques
    "q_dn_retention" -> Paired((s, dir) => {
      val ev = events(s, dir)
      val fd = ev.groupBy("user_id").agg(to_date(min("ts")).as("cohort"))
      val act = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val cohortSize = fd.groupBy("cohort").agg(count(lit(1)).as("n_users"))
      act.join(fd, Seq("user_id"))
        .select(col("user_id"), col("cohort"),
          datediff(col("day"), col("cohort")).as("k"))
        .filter(col("k").isin(1, 7, 14))
        .groupBy("cohort", "k")
        .agg(count(lit(1)).as("n_active"))
        .join(cohortSize, Seq("cohort"))
        .select(col("cohort"), col("k"), col("n_active"), col("n_users"),
          round(col("n_active").cast("double") / col("n_users"), 4)
            .as("retention"))
        .orderBy("cohort", "k")
    },
      // first-day reduction + integer date arithmetic
      """WITH fd AS (
           SELECT user_id, CAST(min(ts) AS DATE) AS cohort
           FROM events GROUP BY 1),
         act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
         cs AS (SELECT cohort, count(*) AS n_users FROM fd GROUP BY cohort),
         r AS (
           SELECT f.cohort, datediff('day', f.cohort, a.day) AS k,
                  count(*) AS n_active
           FROM act a JOIN fd f USING (user_id)
           WHERE datediff('day', f.cohort, a.day) IN (1, 7, 14)
           GROUP BY 1, 2)
         SELECT r.cohort, r.k, r.n_active, c.n_users,
                ROUND(CAST(r.n_active AS DOUBLE) / c.n_users, 4)
                  AS retention
         FROM r JOIN cs c USING (cohort) ORDER BY r.cohort, r.k"""),
  )
}

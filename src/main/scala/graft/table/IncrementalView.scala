package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental view maintenance over [[LakeTable]] CDC feeds — the
  * pattern that keeps a 100 TB base table's aggregates fresh without
  * full recomputation: every (count, sum) group is a self-maintainable
  * view, so applying the signed per-key deltas of a change feed to the
  * stored view is EXACTLY equivalent to re-aggregating the whole base
  * (classic delta-rule IVM; the reference pipeline re-derives its
  * warehouse state from scratch per run — each Glue job under
  * `jobs/` rebuilds and re-counts its full table — which is the
  * O(base) cost this replaces with O(changes)).
  *
  * Cost shape: one pass over the CDC frame (inserts/deletes count ±1
  * and ±value; update pre/post images cancel to the net change), one
  * key-equi join of the (small) delta frame against the view, a MERGE
  * of only the changed keys, and a delete pass for groups whose count
  * reached zero. Nothing scans the base table. Sums are exact
  * DECIMAL(30,4) so maintenance never drifts from recomputation —
  * IncrementalViewSpec pins delta-maintained ≡ full recompute through
  * insert+update+delete batches, and the q_ivm oracle replays the
  * final state relationally.
  *
  * MIN/MAX views ([[minMaxView]] / [[maintainMinMaxView]]) are NOT
  * self-maintainable under deletes — the textbook IVM caveat: an
  * inserted value can only tighten an extremum
  * (new_min = least(old, inserted)), but deleting the current extremum
  * reveals the runner-up, which only the base knows. The standard
  * resolution implemented here: maintain insert-side extrema purely
  * from the delta, and rescan ONLY the groups whose current extremum
  * was deleted (one semi-join of the base against that — usually
  * empty — key set). The common batch touches no base data at all;
  * the worst case scans just the threatened groups' partitions, never
  * the table.
  *
  * One core per kind of view: the self-maintainable maintainers (sum,
  * moments, join sum) end in [[mergeDelta]]; the four extremum
  * maintainers (min/max, stats, full stats, join min/max) end in
  * [[maintainExtrema]], which alone decides per batch between the
  * zero-threat commit and the rescan of the threatened groups. A
  * maintainer passes only its delta frame, its view layout, where its
  * rescan reads from, and what else rides its commit.
  *
  * Sync bookkeeping: both maintainers RETURN the base version they
  * synced the view to — record it and pass it as the next call's
  * `sinceVersion`. Re-deriving it from `availableVersions.min` is a
  * silent-wrong-answer trap: the oldest retained version shifts
  * forward as writes prune history, so after enough base writes it
  * stops being "the version the view last saw" while `changesSince`
  * still succeeds — with an incomplete delta.
  */
object IncrementalView {

  /** Broadcast a (usually tiny) key/build frame only while its MEASURED
    * row count stays under `limit`; past it, return the frame unhinted
    * so it shuffles as an ordinary join build instead of OOMing the
    * driver. The designed case for every call site here is a small set
    * (changed dim keys, threatened groups), but a pathological window —
    * a full-dim re-homing, a delete storm touching every extremum —
    * must DEGRADE, not fail (the `dedupFamilies` measured-|V| policy,
    * operators/Dedup.scala). The probe is a bounded limit+1 count over
    * an already-checkpointed or delta-sized frame, never a full scan. */
  /** Broadcast-gate row limit. Test-tunable (IncrementalViewSpec drops
    * it to force the shuffle fallback on small fixtures); production
    * default keeps builds comfortably under driver memory. */
  private[graft] var broadcastLimit: Int = 1000000

  /** Shared by the serving indexes too (AnnIndex.search's probe list,
    * DedupIndex.standingRows' batch-bucket set) — any designed-small
    * build side that a pathological batch could inflate. */
  private[table] def broadcastIfSmall(df: DataFrame): DataFrame =
    if (df.limit(broadcastLimit + 1).count() <= broadcastLimit)
      broadcast(df)
    else df

  /** A size-gated hint whose probe rides an action the caller ALREADY pays
    * (guide §5 — no extra driver round-trip): attach an observation
    * counting `flagCol` = TRUE rows to the frame about to be eagerly
    * checkpointed, and read the metric back after the checkpoint
    * materializes it. A separate limit+count probe costs one job
    * per maintain — pure fixed driver latency at lab scale and one
    * extra cluster round-trip at any scale; this one costs zero jobs.
    * Returns the observed frame (checkpoint THIS one) and a thunk
    * yielding the flagged-row count — only call it AFTER the eager
    * checkpoint (it blocks until the metric lands). */
  private def observedFlagCount(df: DataFrame,
      flagCol: String): (DataFrame, () => Long) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      count(when(col(flagCol), lit(1))).as("__n_flagged"))
    (observed, () => obs.get.apply("__n_flagged").asInstanceOf[Long])
  }

  private def hintFor(n: Long): DataFrame => DataFrame =
    if (n <= broadcastLimit) broadcast _ else identity _

  private val zero30_4: Column = lit(0).cast("decimal(30,4)")

  // ---- shared Σv² decimal discipline (all moment-carrying maintainers) ----
  //
  // Stored Σv² is decimal(38,8); the merge ADD must happen at (37,8)
  // because a (38,8)+(38,8) add types as precision 39, which Spark
  // resolves by REDUCING the result scale to 7 — rounding the 8th
  // digit on every merge. And the delta terms must be SIGNED BY
  // NEGATION, never by multiplying a sign column: decimal(37,8) × LONG
  // types precision 58, truncated to scale 6, silently destroying
  // sub-1e-6 squares (both found empirically on Spark 4.1.2; pinned by
  // IncrementalViewSpec's 4-dp fixtures). The (38,8)→(37,8) narrowing
  // below is the one remaining hazard: a stored value past 29 integer
  // digits casts to NULL (non-ANSI), which a bare coalesce would
  // silently reset to 0 — so the helper distinguishes "group absent"
  // (NULL input → zero) from "cast overflow" (non-null input, null
  // cast → loud failure). Headroom: 29 integer digits hold any
  // realistic Σv² (10^10 rows × 10^11 per square ≈ 10^21).
  private val zero37_8: Column = lit(0).cast("decimal(37,8)")

  /** Narrow a Σv² term to the exact (37,8) addition space: NULL → 0
    * (group absent from view / no values in delta); a non-null value
    * that no longer fits 29 integer digits fails LOUDLY instead of
    * silently resetting the maintained Σv² to 0. */
  private def narrow37_8(c: Column): Column = {
    // try_cast, not cast: under ANSI the plain cast throws its own
    // (correctly loud, but formula-anonymous) error; under non-ANSI it
    // nulls silently. try_cast nulls in BOTH modes, so the guard below
    // is the single, mode-independent failure path.
    val narrowed = c.try_cast("decimal(37,8)")
    when(c.isNotNull && narrowed.isNull,
      raise_error(concat(lit("IVM sum_sq overflow: "), c.cast("string"),
        lit(" exceeds decimal(37,8) — recompute the view at a wider type")))
        .cast("decimal(37,8)"))
      .otherwise(coalesce(narrowed, zero37_8))
  }

  /** The guarded (37,8)-space add of two Σv² terms, cast back to the
    * stored decimal(38,8) — exact by construction (see above). */
  private def addSumSq(v: Column, d: Column): Column =
    (narrow37_8(v) + narrow37_8(d)).cast("decimal(38,8)")

  // ---- the delta and merge columns, spelled once ----
  //
  // Every maintainer LEFT-joins its per-group delta (`d_*` columns) to
  // the stored rows it reads back under the `v_*` names of [[priorName]]
  // and merges with the columns below; a group new to the view reads
  // NULL `v_*` columns, which count as zero. A delta group whose changed
  // rows all carry NULL values has d_sum NULL; coalesce so it can't null
  // out the stored sum.
  private val mergedN: Column = coalesce(col("v_n"), lit(0L)) + col("d_n")
  private val mergedSum: Column =
    (coalesce(col("v_sum"), zero30_4) + coalesce(col("d_sum"), zero30_4))
      .cast("decimal(30,4)")
  private val mergedSq: Column = addSumSq(col("v_sq"), col("d_sq"))
  private val countSum: Seq[(String, Column)] =
    Seq("n" -> mergedN, "sum_value" -> mergedSum)
  private val momentState: Seq[(String, Column)] =
    countSum :+ ("sum_sq" -> mergedSq)

  private val priorName = Map("n" -> "v_n", "n_nonnull" -> "v_nn",
    "sum_value" -> "v_sum", "min_value" -> "v_min", "max_value" -> "v_max",
    "sum_sq" -> "v_sq", "n_distinct" -> "v_d")

  /** The stored view columns a merge reads, renamed to their `v_*` names. */
  private def priorState(view: LakeTable, keys: Seq[Column],
      stored: Seq[String]): DataFrame =
    view.read.select(keys ++ stored.map(c => col(c).as(priorName(c))): _*)

  private def aggBy(df: DataFrame, keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  private def signOf(ins: Column): Column = when(ins, 1L).otherwise(-1L)

  /** Signed (d_n, d_sum, d_sq) of change rows whose `ins` marks an
    * addition. The squared term is signed by NEGATION, never by
    * multiplication: `v*v` is decimal(37,8), and multiplying THAT by a
    * LONG sign overflows precision past 38, where Spark's precision-loss
    * rule truncates to decimal(38,6) — silently destroying sub-1e-6
    * squares (0.0003² → 0.000000). Negation keeps decimal(37,8) exactly,
    * matching the create path's sum(vDec*vDec). Masked for 2-dp money;
    * fatal for any value column with >3 decimal digits (confirmed on
    * Spark 4.1.2; pinned by IncrementalViewSpec's 4-dp fixture). */
  private def signedMoments(ins: Column, v: Column): Seq[Column] = Seq(
    sum(signOf(ins)).as("d_n"),
    sum(when(ins, v).otherwise(-v)).as("d_sum"),
    sum(when(ins, v * v).otherwise(-(v * v))).as("d_sq"))

  /** Net signed weight `w` per (group, value `v`): all-cancelled values
    * (w = 0) drop out entirely. The change feed is a per-version EVENT
    * LOG, not a net diff, so extrema must read these — a value inserted
    * then deleted inside the span must never tighten an extremum, and
    * only values whose multiplicity strictly decreased threaten one. */
  private def netWeights(rows: DataFrame, keys: Seq[Column], v: Column,
      w: Column): DataFrame =
    rows.groupBy(keys :+ v: _*).agg(sum(w).as("w")).filter(col("w") =!= 0L)

  /** Insert- and delete-side extrema over net weights (NULL values never
    * enter min/max: Spark min/max and least/greatest skip nulls). */
  private val netExtrema: Seq[Column] = Seq(
    min(when(col("w") > 0, col("__v"))).as("ins_min"),
    max(when(col("w") > 0, col("__v"))).as("ins_max"),
    min(when(col("w") < 0, col("__v"))).as("del_min"),
    max(when(col("w") < 0, col("__v"))).as("del_max"))

  /** (d_n, d_sum, ins_*, del_*) per group from net weights. Signed
    * count/sum need no netting (canceling events cancel arithmetically),
    * but they ride the netted frame anyway: one pass either way. */
  private def weightedDelta(net: DataFrame, keys: Seq[Column]): DataFrame =
    aggBy(net, keys, Seq(sum(col("w")).as("d_n"),
      sum(col("__v") * col("w")).as("d_sum")) ++ netExtrema)

  // ---- the extremum core (minMax, stats, fullStats, joinMinMax) ----
  //
  // An inserted value can only tighten an extremum, but deleting the
  // current extremum reveals the runner-up, which only a rescan knows.
  // One routine takes that per-batch decision for all four extremum
  // maintainers: merge count/sum (and moments) by the delta rule, count
  // the THREATENED groups on the checkpoint's own materialization, and
  // either commit straight away (zero threat: no rescan subtree, no
  // rescan job) or rescan just the threatened groups. Each maintainer
  // passes only what differs: its delta frame, its view layout, where
  // a rescan reads from, and what else rides its commit.

  /** An extremum view's layout: the stored columns a merge reads (view
    * order), the merged columns the gate frame adds ahead of
    * `__rescan`, and the output row around the min/max selections. */
  private final case class ExtremaShape(stored: Seq[String],
      merged: Seq[(String, Column)], row: (Column, Column) => Seq[Column])

  private val minMaxShape = ExtremaShape(
    Seq("n", "sum_value", "min_value", "max_value"), countSum,
    (mn, mx) => Seq(col("n"), col("sum_value"), mn, mx))

  private val statsShape = ExtremaShape(
    Seq("n", "sum_value", "min_value", "max_value", "sum_sq"), momentState,
    (mn, mx) => Seq(col("n"), col("sum_value"), mn, mx, col("sum_sq")))

  /** Where threatened groups' extrema come back from — `extrema` maps
    * (threatened keys, their size hint) to (keys…, r_min, r_max) — and
    * which joined rows take them (`taken`); every other row keeps the
    * delta rule's least/greatest. */
  private final case class Rescan(
      extrema: (DataFrame, DataFrame => DataFrame) => DataFrame,
      taken: Column)

  private def extremaOf(rows: DataFrame, keys: Seq[Column],
      v: Column): DataFrame =
    rows.groupBy(keys: _*).agg(min(v).as("r_min"), max(v).as("r_max"))

  /** A base rescan: the threatened groups' CURRENT base rows, reduced to
    * their extrema and marked `__rescanned` so a legitimately-NULL
    * recomputed extremum (all remaining values null) isn't mistaken for
    * "not rescanned". Only groups that come back take the rescanned
    * value — a streaming drain's base snapshot can be AHEAD of its
    * batch, and a group it no longer holds keeps the delta rule. */
  private def baseRescan(keys: Seq[Column], v: Column)(
      rows: (DataFrame, DataFrame => DataFrame) => DataFrame): Rescan =
    Rescan((threatened, hint) => extremaOf(rows(threatened, hint), keys, v)
      .withColumn("__rescanned", lit(true)),
      coalesce(col("__rescanned"), lit(false)))

  /** [[baseRescan]] by one semi-join of the base against the threatened
    * key set — broadcast while it measures small, so the scan side never
    * shuffles (degrading to a shuffle semi-join under a delete storm
    * touching every extremum). */
  private def semiJoinRescan(baseNow: DataFrame, keyCols: Seq[String],
      v: Column): Rescan =
    baseRescan(keyCols.map(col), v)((threatened, hint) =>
      baseNow.join(hint(threatened), keyCols, "left_semi"))

  /** The extremum core. Left-joins `delta` (d_n, d_sum, ins_*, del_* and
    * the shape's extra deltas) to the stored rows, adds the shape's
    * merged columns and the `__rescan` flag, and checkpoints that frame
    * with the threatened-group count observed on the checkpoint's own
    * materialization (no probe job). Then one atomic
    * MERGE-with-DELETE — `staged` pendings commit ahead of it in the same
    * [[LakeTable.commitFused]], `meta` rides it, and groups whose count
    * reached zero go in the same commit:
    *  - zero threat (the common batch): least/greatest of stored and
    *    inserted extrema for every row — what the rescan branch computes
    *    when its rescan comes back empty;
    *  - otherwise: rescan only the threatened groups; the observed count
    *    decides the broadcast hint of the key set and of the (≤ one row
    *    per key) rescan result — probing the result itself would execute
    *    the rescan join twice. */
  private def maintainExtrema(view: LakeTable, keyCols: Seq[String],
      delta: DataFrame, shape: ExtremaShape, rescan: Rescan,
      staged: Seq[LakeTable.Pending], meta: Map[String, String]): Unit = {
    val keys = keyCols.map(col)
    // threatened only for a PRE-EXISTING, SURVIVING group where some
    // net-removed value ties the stored extremum (a consistent view
    // can't have net deletes beyond it; <=/>= also self-heals drift).
    // NULL values never participate, so null-row deletes threaten nothing
    val threatened = col("v_n").isNotNull && mergedN > 0 &&
      ((col("del_min") <= col("v_min")) || (col("del_max") >= col("v_max")))
    val (observed, nRescanF) = observedFlagCount(
      shape.merged.foldLeft(delta.join(priorState(view, keys, shape.stored),
        keyCols, "left")) { case (df, (c, e)) => df.withColumn(c, e) }
        .withColumn("__rescan", threatened), "__rescan")
    val joined = observed.localCheckpoint(true) // rescan-key probe AND merge
    val nRescan = nRescanF()
    // least/greatest skip NULLs: no inserts keeps the stored extremum, a
    // new group takes the insert-side extremum alone
    val keptMin = least(col("v_min"), col("ins_min"))
    val keptMax = greatest(col("v_max"), col("ins_max"))
    def commit(changed: DataFrame): Unit = LakeTable.commitFused(staged :+
      view.pendingUpsertWithDelete(changed, col("n") <= 0L, meta = meta))
    if (nRescan == 0L)
      commit(joined.select(keys ++
        shape.row(keptMin.as("min_value"), keptMax.as("max_value")): _*))
    else {
      val rescanKeys = joined.filter(col("__rescan")).select(keys: _*)
      val hint = hintFor(nRescan)
      commit(joined.join(hint(rescan.extrema(rescanKeys, hint)), keyCols, "left")
        .select(keys ++ shape.row(
          when(rescan.taken, col("r_min")).otherwise(keptMin).as("min_value"),
          when(rescan.taken, col("r_max")).otherwise(keptMax).as("max_value")): _*))
    }
  }

  /** Full (count, exact-decimal-sum) aggregate of `df` — the view's
    * initial state, and the recomputation IVM must stay equal to. */
  def sumView(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col(valueCol).cast("decimal(20,4)"))
        .cast("decimal(30,4)").as("sum_value"))

  /** [[sumView]] extended with per-group min/max (same exact
    * DECIMAL(20,4) value space, so maintained extrema compare
    * bit-for-bit against recomputed ones). */
  def minMaxView(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val vDec = col(valueCol).cast("decimal(20,4)")
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(vDec).cast("decimal(30,4)").as("sum_value"),
      min(vDec).as("min_value"),
      max(vDec).as("max_value"))
  }

  /** Apply the base table's changes since `sinceVersion` to the stored
    * view: signed per-key deltas → left join against current view rows
    * → MERGE the changed keys → drop zero-count groups. Returns the
    * base version the view is now synced to (pass it as the next
    * `sinceVersion`). */
  def maintainSumView(base: LakeTable, view: LakeTable, keyCols: Seq[String],
      valueCol: String, sinceVersion: Int,
      meta: Map[String, String] = Map.empty): Int = {
    val syncedTo = base.version
    applySumDelta(base.changesSince(sinceVersion), view, keyCols, valueCol,
      meta)
    syncedTo
  }

  /** Apply ONE change-event frame to a stored sum view — the whole
    * [[maintainSumView]] rule (signed per-key deltas, then
    * [[mergeDelta]]), factored out (the [[applyMinMaxDelta]] pattern)
    * so the streaming subscribers apply identical semantics per
    * micro-batch with their exactly-once `meta` marker riding the same
    * commit. An append-only stream tags its rows `insert`. */
  private[graft] def applySumDelta(events: DataFrame, view: LakeTable,
      keyCols: Seq[String], valueCol: String,
      meta: Map[String, String] = Map.empty): Unit = {
    val sign = LakeTable.changeSign
    val delta = events.groupBy(keyCols.map(col): _*).agg(
      sum(sign).as("d_n"),
      sum(col(valueCol).cast("decimal(20,4)") * sign).as("d_sum"))
    mergeDelta(view, keyCols, delta, countSum, meta)
  }

  /** Apply a per-group delta frame (d_n, d_sum[, d_sq]) to a stored
    * self-maintainable view through its `merged` columns: left join
    * against current rows → ONE atomic MERGE-with-DELETE of the changed
    * keys (groups whose count reached zero are removed in the SAME
    * commit as the surviving merges — no second publish, no window where
    * a zero-count zombie row is the durable state).
    *
    * Known SQL-semantics corner (all single-column sum/moments/minmax
    * maintainers): a surviving group whose non-null values are ALL
    * deleted while null-valued rows remain keeps sum 0 rather than
    * SQL's NULL — the view state can't distinguish "sums to zero"
    * from "no values" without a non-null count. [[fullStatsView]]
    * carries that signal (n_distinct) and reports the corner
    * correctly; use it where the distinction matters. */
  private def mergeDelta(view: LakeTable, keyCols: Seq[String],
      delta: DataFrame, merged: Seq[(String, Column)],
      meta: Map[String, String]): Unit = {
    val keys = keyCols.map(col)
    val changed = delta
      .join(priorState(view, keys, merged.map(_._1)), keyCols, "left")
      .select(keys ++ merged.map { case (c, e) => e.as(c) }: _*)
      .localCheckpoint(true) // referenced twice inside the merge plan
    view.upsertWithDelete(changed, col("n") <= 0L, meta = meta)
  }

  /** [[maintainSumView]] for a [[minMaxView]]: count/sum by the exact
    * delta rule; min/max from insert-side extrema when safe, and a
    * per-group base rescan ONLY where a delete (or update pre-image)
    * removed a value tied with the group's current extremum — the one
    * case the delta cannot answer. Extrema read the NET per-(group,
    * value) weights ([[netWeights]]), the same rule as
    * [[maintainJoinMinMaxView]]: insert 200 @v2, delete it @v3 must NOT
    * report max 200. The zero-threat gate, rescan and merge are the
    * extremum core's ([[maintainExtrema]]). Returns the synced base
    * version. */
  def maintainMinMaxView(base: LakeTable, view: LakeTable,
      keyCols: Seq[String], valueCol: String, sinceVersion: Int,
      meta: Map[String, String] = Map.empty): Int = {
    val syncedTo = base.version
    applyMinMaxDelta(base.changesSince(sinceVersion), base.read, view,
      keyCols, valueCol, meta)
    syncedTo
  }

  /** Apply ONE change-event frame to a stored min/max view against the
    * current base snapshot — the whole [[maintainMinMaxView]] rule
    * (netting, insert-side extrema, threatened-group rescan, atomic
    * merge-with-extinction), factored out so the streaming foreachBatch
    * subscriber ([[graft.streaming.Streams.maintainMinMaxViewFromChangeFeed]])
    * applies the IDENTICAL semantics per micro-batch with its
    * exactly-once `meta` marker riding the same commit. NULL values
    * collapse into one net group per key: they carry the count/sum
    * contribution but never enter min/max. */
  private[graft] def applyMinMaxDelta(ch: DataFrame, baseNow: DataFrame,
      view: LakeTable, keyCols: Seq[String], valueCol: String,
      meta: Map[String, String] = Map.empty): Unit = {
    val keys = keyCols.map(col)
    val vDec = col(valueCol).cast("decimal(20,4)")
    maintainExtrema(view, keyCols,
      weightedDelta(netWeights(ch, keys, vDec.as("__v"), LakeTable.changeSign), keys),
      minMaxShape, semiJoinRescan(baseNow, keyCols, vDec), Nil, meta)
  }

  // ---- MOMENTS views (self-maintainable variance) ----
  //
  // Unlike min/max, the second moment IS self-maintainable: Σv² obeys
  // the same signed delta rule as Σv, so (n, Σv, Σv²) maintains in one
  // pass with no rescan ever, and population variance/stddev derive in
  // closed form at read time: var = (Σv² − (Σv)²/n)/n. Both sums are
  // exact decimals, so the derived doubles are identical across
  // engines (the textbook cancellation caveat of the two-sums formula
  // affects accuracy, not determinism — and the oracle recomputes with
  // the SAME formula over the same exact sums).

  /** (count, Σv, Σv²) per group — the self-maintainable moment state
    * behind mean/variance/stddev. */
  def momentsView(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val vDec = col(valueCol).cast("decimal(18,4)")
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(vDec).cast("decimal(30,4)").as("sum_value"),
      sum(vDec * vDec).cast("decimal(38,8)").as("sum_sq"))
  }

  /** Maintain a [[momentsView]] — the [[maintainSumView]] delta rule
    * extended with the Σv² column. Returns the synced base version.
    *
    * Prefer [[maintainStatsView]] for new views: it strictly subsumes
    * this maintainer (same one-feed-pass cost — its extra netting
    * aggregation reads the CHECKPOINTED feed, not the log again) and
    * adds min/max. This one stays for views that genuinely never want
    * extrema: it is the only moment maintainer with NO rescan path at
    * all — a hard O(changes) ceiling with zero base-read risk, where
    * the stats maintainer's threatened-extremum rescan can touch the
    * base under a delete storm. Kept, documented, not deprecated: the
    * no-rescan guarantee is a real contract, not redundancy
    * (ARCHITECTURE.md "choosing a maintainer" table). */
  def maintainMomentsView(base: LakeTable, view: LakeTable,
      keyCols: Seq[String], valueCol: String, sinceVersion: Int): Int = {
    val syncedTo = base.version
    val keys = keyCols.map(col)
    mergeDelta(view, keyCols, aggBy(base.changesSince(sinceVersion), keys,
      signedMoments(LakeTable.isAddition, col(valueCol).cast("decimal(18,4)"))),
      momentState, Map.empty)
    syncedTo
  }

  // ---- FUSED STATS views (one feed pass, every aggregate) ----
  //
  // A dashboard view usually wants ALL of (count, sum, min, max,
  // variance) per group. Running the sum, min/max, and moments
  // maintainers separately costs three reads of the change feed and
  // three view merges; the fused maintainer reads the feed ONCE
  // (checkpointed, shared by both delta aggregations) and publishes
  // ONE merge. The two aggregations cannot fuse further because they
  // need different event treatments, both round-10 lessons:
  //  - extrema must read the NETTED per-(group, value) weights (the
  //    feed is an event log; a value inserted then deleted in the span
  //    is a phantom that must not tighten an extremum);
  //  - Σv² must come from RAW events signed by NEGATION — any Σ(v²·w)
  //    formulation multiplies decimal(37,8) by a LONG, overflows to
  //    precision 58, and Spark truncates the scale to 6, destroying
  //    sub-1e-6 squares. Netting cannot serve the moments.
  // Both delta frames are feed-sized; the worst-case base touch is the
  // min/max maintainers' threatened-group rescan, unchanged.

  /** Full per-group stats state — (count, Σv, min, max, Σv²) — the
    * union of [[minMaxView]] and [[momentsView]] in one aggregate;
    * mean/variance/stddev derive in closed form at read time from the
    * exact decimal state. */
  def statsView(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val vDec = col(valueCol).cast("decimal(18,4)")
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(vDec).cast("decimal(30,4)").as("sum_value"),
      min(vDec).as("min_value"),
      max(vDec).as("max_value"),
      sum(vDec * vDec).cast("decimal(38,8)").as("sum_sq"))
  }

  /** Maintain a [[statsView]] from ONE read of the change feed: the
    * raw signed events feed the moment deltas, the netted weights feed
    * the extrema, threatened groups rescan exactly as in
    * [[maintainMinMaxView]], and everything lands in one atomic
    * MERGE-with-DELETE. Returns the synced base version. */
  def maintainStatsView(base: LakeTable, view: LakeTable,
      keyCols: Seq[String], valueCol: String, sinceVersion: Int,
      meta: Map[String, String] = Map.empty): Int = {
    val syncedTo = base.version
    applyStatsDelta(base.changesSince(sinceVersion), base.read, view,
      keyCols, valueCol, meta)
    syncedTo
  }

  /** Apply ONE change-event frame to a stored stats view against the
    * current base snapshot — the whole [[maintainStatsView]] rule,
    * factored out (like [[applyMinMaxDelta]]) so the streaming
    * subscriber applies identical semantics per micro-batch with its
    * exactly-once `meta` marker riding the same commit. */
  private[graft] def applyStatsDelta(events: DataFrame, baseNow: DataFrame,
      view: LakeTable, keyCols: Seq[String], valueCol: String,
      meta: Map[String, String] = Map.empty): Unit = {
    val keys = keyCols.map(col)
    val vDec = col(valueCol).cast("decimal(18,4)")
    // one feed read, checkpointed, shared by both delta aggregations; a
    // group all of whose values cancelled is absent from the extrema
    // side, and the left join leaves its ins_*/del_* null — no tighten,
    // no threat
    val ch = events
      .select(keys :+ vDec.as("__v") :+ LakeTable.isAddition.as("__ins"): _*)
      .localCheckpoint(true)
    val ins = col("__ins")
    val ext = aggBy(netWeights(ch, keys, col("__v"), signOf(ins)), keys,
      netExtrema)
    maintainExtrema(view, keyCols,
      aggBy(ch, keys, signedMoments(ins, col("__v"))).join(ext, keyCols, "left"),
      statsShape, semiJoinRescan(baseNow, keyCols, vDec), Nil, meta)
  }

  // ---- COUNT DISTINCT views (two-level / support-relation IVM) ----
  //
  // An exact distinct count is not self-maintainable from the top view
  // alone (deleting a value only changes the count if it was the LAST
  // instance — which only per-value multiplicities know). The classic
  // resolution, as in production IVM engines: maintain an auxiliary
  // SUPPORT relation of per-(group, value) row counts — itself an
  // ordinary self-maintainable count view — and derive the top view's
  // delta from its 0↔positive transitions. Both levels stay O(changes);
  // nothing ever rescans the base. Groups tracked are those with at
  // least one NON-NULL value (count-distinct semantics skip nulls, and
  // an all-null group has no support rows to witness its existence).

  /** Initial top view: per-group exact distinct count of `valueCol`
    * (null values skipped; all-null groups absent). */
  def distinctView(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(countDistinct(col(valueCol)).as("n_distinct"))

  /** Initial support relation: per-(group, value) multiplicities. Store
    * in a LakeTable whose mergeKeys are `keyCols :+ "__v"`. */
  def supportView(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols.map(col) :+ col(valueCol).as("__v"): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Maintain BOTH levels from the base's changes since `sinceVersion`:
    * value-level count deltas update the support relation; its
    * 0↔positive transitions (±1 per (group, value)) roll up into the
    * top view's distinct-count delta. Returns the synced base version. */
  def maintainDistinctView(base: LakeTable, aux: LakeTable, view: LakeTable,
      keyCols: Seq[String], valueCol: String, sinceVersion: Int): Int = {
    val syncedTo = base.version
    val spanId = s"v$sinceVersion:v$syncedTo"
    if (view.exists && view.meta.get(SpanKey).contains(spanId))
      return syncedTo
    // same two-commit exactly-once as [[applyFullStatsDelta]]: the aux
    // merge is additive, so the crash window between the commits must
    // recover pre-merge counts as stored − d_n instead of re-applying
    val auxApplied = aux.exists && aux.meta.get(AuxSpanKey).contains(spanId)
    val keys = keyCols.map(col)
    val ch = base.changesSince(sinceVersion).filter(col(valueCol).isNotNull)
    val delta = ch.groupBy(keys :+ col(valueCol).as("__v"): _*)
      .agg(sum(LakeTable.changeSign).as("d_n"))
    val curAux = aux.read.select(keys :+ col("__v") :+ col("cnt").as("v_cnt"): _*)
    def alive(c: Column): Column = when(c > 0, 1L).otherwise(0L)
    val oldCnt =
      if (auxApplied) coalesce(col("v_cnt"), lit(0L)) - col("d_n")
      else coalesce(col("v_cnt"), lit(0L))
    val newCnt = oldCnt + col("d_n")
    val changedAux = delta.join(curAux, keyCols :+ "__v", "left")
      .select(keys ++ Seq(col("__v"), newCnt.as("cnt"),
        (alive(newCnt) - alive(oldCnt)).as("__tr")): _*)
      .localCheckpoint(true) // one computation: aux merge + rollup
    // both merges derive from the checkpointed delta and PRE-commit
    // reads, so they ride ONE fused write action; the pointer swaps
    // keep the aux → view order the span markers' recovery rule needs
    val pAux =
      if (auxApplied) None
      else Some(aux.pendingUpsertWithDelete(changedAux.drop("__tr"),
        col("cnt") <= 0L, meta = Map(AuxSpanKey -> spanId)))
    // top-view delta = sum of transitions per group; untouched groups
    // (d_d = 0) never enter the merge
    val dDist = changedAux.groupBy(keys: _*).agg(sum("__tr").as("d_d"))
      .filter(col("d_d") =!= 0L)
    val curView = view.read.select(keys :+ col("n_distinct").as("v_d"): _*)
    val changedView = dDist.join(curView, keyCols, "left")
      .select(keys :+
        (coalesce(col("v_d"), lit(0L)) + col("d_d")).as("n_distinct"): _*)
      .localCheckpoint(true)
    val pView = view.pendingUpsertWithDelete(changedView,
      col("n_distinct") <= 0L, meta = Map(SpanKey -> spanId))
    LakeTable.commitFused(pAux.toSeq :+ pView)
    syncedTo
  }

  // ---- FULL stats views (aux-backed: no base rescan, ever) ----
  //
  // The support relation that makes COUNT DISTINCT maintainable also
  // solves min/max's one weakness: it IS the group's surviving value
  // multiset, so when a delete threatens a stored extremum the
  // runner-up comes from the AUX SLICE of the threatened groups — a
  // semi-join against a table of per-(group, value) multiplicities —
  // and the BASE IS NEVER TOUCHED. At 100 TB that upgrades the worst
  // case from "rescan the threatened groups' base partitions" to
  // "read a few aux rows": maintenance cost is O(changes) + O(aux
  // slice) unconditionally. The price is keeping the aux (size =
  // distinct (group, value) pairs, typically orders of magnitude
  // below the base; co-partitioned by its merge keys) in every write
  // window. One feed read maintains aux and view; extrema, distinct
  // count, and moments all ride the same two merges.

  /** Top view: (n, n_nonnull, Σv, Σv², min, max, n_distinct) per group.
    * `n`/Σ count every row; extrema and the distinct count skip null
    * values (SQL semantics); an all-null group shows n>0,
    * n_nonnull = n_distinct = 0, null extrema. `n_nonnull` — the count
    * of non-null values in the view's exact decimal space — is what
    * lets the MV rewrite serve `avg()` and `count(col)` correctly on
    * null-bearing groups (Average's count buffer counts NON-NULL
    * values, so `n` cannot stand in for it); it maintains by the same
    * signed delta rule as `n`, restricted to non-null-value events. */
  def fullStatsView(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val vDec = col(valueCol).cast("decimal(18,4)")
    df.groupBy(keyCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      count(vDec).as("n_nonnull"),
      sum(vDec).cast("decimal(30,4)").as("sum_value"),
      min(vDec).as("min_value"),
      max(vDec).as("max_value"),
      sum(vDec * vDec).cast("decimal(38,8)").as("sum_sq"),
      countDistinct(vDec).as("n_distinct"))
  }

  /** The [[fullStatsView]] layout for [[maintainExtrema]]. Its sums
    * follow SQL SUM-over-no-rows semantics: a surviving group whose
    * non-null values are ALL deleted (only null-valued rows remain) must
    * report NULL sums, not the delta rule's arithmetic 0 — and
    * n_distinct = 0 is exactly that signal, for free from the aux. (The
    * single-column sum/moments maintainers lack the signal and keep 0
    * in this corner; documented at [[mergeDelta]].) */
  private val fullStatsShape = {
    val hasVals = col("n_distinct") > 0L
    ExtremaShape(Seq("n", "n_nonnull", "sum_value", "min_value",
      "max_value", "sum_sq", "n_distinct"),
      Seq("n" -> mergedN,
        "n_nonnull" -> (coalesce(col("v_nn"), lit(0L)) + coalesce(col("d_nn"), lit(0L))),
        "sum_value" -> mergedSum, "sum_sq" -> mergedSq,
        "n_distinct" -> (coalesce(col("v_d"), lit(0L)) + coalesce(col("d_d"), lit(0L)))),
      (mn, mx) => Seq(col("n"), col("n_nonnull"),
        when(hasVals, col("sum_value")).as("sum_value"), mn, mx,
        when(hasVals, col("sum_sq")).as("sum_sq"), col("n_distinct")))
  }

  /** Support relation for a [[fullStatsView]]: per-(group, DECIMAL
    * value) multiplicities — [[supportView]] over the same (18,4)
    * value space the view aggregates in, so aux-derived extrema
    * compare bit-for-bit. Store with mergeKeys `keyCols :+ "__v"`.
    *
    * `buckets > 0` adds a `__b` hash-bucket column over the GROUP keys
    * — create the aux LakeTable with `partitionCols = Seq("__b")` and
    * pass the same count to [[maintainFullStatsView]]. The aux is the
    * one IVM structure whose size tracks the base (distinct (group,
    * value) pairs), so at scale its per-batch merge must not be a
    * full rewrite: bucketing turns every aux read AND the pruned
    * merge into O(touched buckets), and a batch touching k groups
    * touches ≤ k buckets. Unbucketed (the default) is fine while the
    * aux comfortably fits a single rewrite. */
  def fullStatsSupportView(df: DataFrame, keyCols: Seq[String],
      valueCol: String, buckets: Int = 0): DataFrame = {
    val vDec = col(valueCol).cast("decimal(18,4)")
    val grouped = df.filter(vDec.isNotNull)
      .groupBy(keyCols.map(col) :+ vDec.as("__v"): _*)
      .agg(count(lit(1)).as("cnt"))
    if (buckets <= 0) grouped
    else grouped.withColumn("__b", bucketOf(keyCols, buckets))
  }

  /** Frozen aux bucket-modulus meta key — same rule as DocBuckets'
    * `docbuckets.parts` and the index families' layout keys: the
    * presence check in [[applyFullStatsDelta]] detects bucketed vs
    * unbucketed but is provably blind to a MODULUS change (stored
    * pmod(h,16) < 8 implies pmod(h,8) equals it for half the keys and
    * the `__b IN (...)` value filter silently drops the rest's current
    * counts — corrupting newCnt, not failing). Freeze at create via
    * [[createFullStatsAux]]; the maintainer validates and retro-freezes
    * legacy keyless auxes at their first merge. */
  val AuxBucketsKey = "ivm.aux_buckets"

  /** Create the aux table for [[maintainFullStatsView]] with the bucket
    * modulus frozen ATOMICALLY into the create commit (LakeTable.create
    * meta doc — create-then-annotate would leave a crash window where
    * the guard's absent-key tolerance accepts a mismatched maintainer). */
  def createFullStatsAux(aux: LakeTable, df: DataFrame,
      keyCols: Seq[String], valueCol: String, buckets: Int = 0): Unit =
    aux.create(fullStatsSupportView(df, keyCols, valueCol, buckets),
      Map(AuxBucketsKey -> buckets.toString))

  /** [[createFullStatsAux]] + the top view's create as ONE fused write
    * action (round 17, guide §2.6): both frames derive from the same
    * pre-commit snapshot, so they ride [[LakeTable.commitFused]] — one
    * write job instead of two per view initialization. The aux publishes
    * FIRST (pending order), preserving the maintainer's recovery rule's
    * reachable states (an aux-without-view state re-runs the view side
    * only, exactly as with sequential creates). */
  def createFullStatsPair(aux: LakeTable, view: LakeTable, df: DataFrame,
      keyCols: Seq[String], valueCol: String, buckets: Int = 0): Unit =
    LakeTable.commitFused(Seq(
      aux.pendingCreate(fullStatsSupportView(df, keyCols, valueCol, buckets),
        Map(AuxBucketsKey -> buckets.toString)),
      view.pendingCreate(fullStatsView(df, keyCols, valueCol))))

  /** The COUNT-DISTINCT twin of [[createFullStatsPair]]: support
    * relation + top view in one fused write action. */
  def createDistinctPair(aux: LakeTable, view: LakeTable, df: DataFrame,
      keyCols: Seq[String], valueCol: String): Unit =
    LakeTable.commitFused(Seq(
      aux.pendingCreate(supportView(df, keyCols, valueCol)),
      view.pendingCreate(distinctView(df, keyCols, valueCol))))

  /** Deterministic group-key hash bucket (aux partitioning). INT-typed
    * like every other layout stamp (DocBuckets.bucket doc): non-empty
    * partitioned reads infer the directory column as int, so the
    * stamped type must match what a schema-applied read would flip. */
  private def bucketOf(keyCols: Seq[String], buckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong)).cast("int")

  /** Span markers making the TWO-COMMIT maintainers exactly-once under
    * crash replay: the aux merge is ADDITIVE, so without them a crash
    * between the aux and view commits re-applies the aux on retry and
    * the support counts drift silently. The aux records the span it
    * last absorbed (marker rides ITS commit); the view's marker rides
    * the FINAL commit. Replaying a span then hits one of three states —
    * view marker present (fully applied → no-op), aux marker present
    * (aux landed, view didn't → recover the PRE-MERGE aux counts as
    * `stored − w` and apply only the view merge), neither (normal). */
  val SpanKey = "ivm_span"
  val AuxSpanKey = "ivm_aux_span"

  /** Maintain aux AND view from one read of the change feed. Returns
    * the synced base version. Never reads the base: threatened extrema
    * re-derive from the post-merge aux slice, and because the aux is a
    * COMPLETE multiset, a threatened group with no surviving non-null
    * values correctly lands null extrema (no "rescanned?" marker
    * needed, unlike the base-rescan maintainers).
    *
    * `auxBuckets` MUST match the count the aux was created with
    * ([[fullStatsSupportView]]'s `buckets`; 0 = unbucketed). With a
    * bucketed aux, every aux read carries an IN-list over the delta's
    * (bounded, collected) bucket set — partition-pruned at the scan —
    * and the aux merge rewrites only touched bucket partitions, so
    * maintenance cost is O(changes + touched aux buckets) even when
    * the aux itself tracks the base's size.
    *
    * Crash-replay contract (the span markers above): RE-RUNNING the
    * SAME span converges exactly — including the crash window between
    * the aux and view commits, which double-applied the aux before
    * round 13. The marker keys the (sinceVersion, syncedTo) span, so
    * the guarantee requires retrying the crashed span BEFORE new base
    * writes widen it — the same single-writer discipline the table
    * layer already assumes. */
  def maintainFullStatsView(base: LakeTable, aux: LakeTable,
      view: LakeTable, keyCols: Seq[String], valueCol: String,
      sinceVersion: Int, auxBuckets: Int = 0,
      meta: Map[String, String] = Map.empty): Int = {
    val syncedTo = base.version
    applyFullStatsDelta(base.changesSince(sinceVersion), aux, view,
      keyCols, valueCol, auxBuckets,
      spanId = s"v$sinceVersion:v$syncedTo", meta = meta)
    syncedTo
  }

  /** Apply ONE change-event frame to a stored full-stats view+aux pair —
    * the whole [[maintainFullStatsView]] rule factored out (the
    * [[applyStatsDelta]] pattern) so the streaming CDC subscriber
    * applies identical semantics per micro-batch. `spanId` identifies
    * the event set for the exactly-once markers (batch: the version
    * span; streaming: the micro-batch id); `meta` rides the final
    * (view) commit. */
  private[graft] def applyFullStatsDelta(events: DataFrame,
      aux: LakeTable, view: LakeTable, keyCols: Seq[String],
      valueCol: String, auxBuckets: Int, spanId: String,
      meta: Map[String, String] = Map.empty): Unit = {
    if (view.exists && view.meta.get(SpanKey).contains(spanId)) return
    val auxApplied = aux.exists && aux.meta.get(AuxSpanKey).contains(spanId)
    val keys = keyCols.map(col)
    val vDec = col(valueCol).cast("decimal(18,4)")
    // frozen-modulus check first (AuxBucketsKey doc): the presence
    // check below survives only as the legacy fallback for auxes
    // created before the key existed — it can't tell buckets=8 from 16
    val storedB = if (aux.exists) aux.meta.get(AuxBucketsKey) else None
    require(storedB.forall(_ == auxBuckets.toString),
      s"auxBuckets=$auxBuckets but the aux table was created with " +
        s"${storedB.getOrElse("<unknown>")} — the bucket-pruned aux " +
        "reads would silently drop current counts and corrupt the view")
    require(storedB.isDefined ||
      (auxBuckets > 0) == aux.read.columns.contains("__b"),
      s"auxBuckets=$auxBuckets disagrees with the aux table's layout " +
        "(created with a different fullStatsSupportView buckets value?)")
    val ch = events
      .select(keys :+ vDec.as("__v") :+ LakeTable.isAddition.as("__ins"): _*)
      .localCheckpoint(true) // one feed read feeds both aggregations
    val ins = col("__ins")
    // netted non-null multiplicity deltas → aux merge + transitions
    val net = netWeights(ch.filter(col("__v").isNotNull), keys, col("__v"),
      signOf(ins))
    // bucketed aux: restrict every aux read to the delta's bucket set
    // (collected once, ≤ auxBuckets values) so partition pruning
    // reaches the scan
    def auxSlice(of: DataFrame): DataFrame =
      if (auxBuckets <= 0) aux.read
      else {
        val bs = of.select(bucketOf(keyCols, auxBuckets).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        aux.read.filter(col("__b").isin(bs: _*))
      }
    val curAux = auxSlice(net)
      .select(keys :+ col("__v") :+ col("cnt").as("v_cnt"): _*)
    def alive(c: Column): Column = when(c > 0, 1L).otherwise(0L)
    // crash-replay recovery: when THIS span's aux merge already landed
    // (marker match), the stored count is post-merge — recover the
    // pre-merge count as stored − w (a row the merge deleted reads back
    // as NULL → 0, and 0 − w recovers its pre-merge count exactly), so
    // the view delta derives from the SAME transitions as the original
    // run and the aux is not merged a second time
    val oldCnt =
      if (auxApplied) coalesce(col("v_cnt"), lit(0L)) - col("w")
      else coalesce(col("v_cnt"), lit(0L))
    val newCnt = oldCnt + col("w")
    val changedAux = net.join(curAux, keyCols :+ "__v", "left")
      .select(keys ++ Seq(col("__v"), col("w"), newCnt.as("cnt"),
        (alive(newCnt) - alive(oldCnt)).as("__tr")): _*)
      .localCheckpoint(true) // aux merge + extrema deltas + rollup
    val auxMerge = changedAux.select(keys :+ col("__v") :+ col("cnt"): _*)
    // the frozen modulus rides the merge like the span marker: a legacy
    // keyless aux retro-freezes at its first maintain, and any later
    // mismatched maintainer fails the check above instead of corrupting.
    // Staged as a pending — the aux and view merges ride ONE fused
    // write action at the end (LakeTable.commitFused); the pointer
    // swaps keep the aux → view order the span markers' recovery needs.
    val pAux =
      if (auxApplied) None
      else Some(aux.pendingUpsertWithDelete(
        if (auxBuckets <= 0) auxMerge
        else auxMerge.withColumn("__b", bucketOf(keyCols, auxBuckets)),
        col("cnt") <= 0L, meta = Map(AuxSpanKey -> spanId,
          AuxBucketsKey -> auxBuckets.toString)))
    // top-level moment deltas over ALL rows (null values count in n;
    // n_nonnull's delta restricts the same ±1 rule to non-null values)
    val moments = signedMoments(ins, col("__v"))
    val mom = aggBy(ch, keys, moments.head +:
      sum(when(col("__v").isNotNull, signOf(ins)).otherwise(0L)).as("d_nn") +:
      moments.tail)
    val ext = aggBy(changedAux, keys, netExtrema :+ sum(col("__tr")).as("d_d"))
    // the aux-answered "rescan": the POST-merge aux multiset of the
    // threatened groups (bucket-pruned when the aux is bucketed), never
    // the base. Derived from PRE-commit reads so the view merge can
    // ride the fused commit: post-merge = stored ∖ keys(auxMerge) ∪
    // auxMerge's surviving (cnt > 0) rows — exactly upsertWithDelete's
    // semantics over the (group, __v) merge key. On a replay whose aux
    // merge already landed (auxApplied) the stored slice IS post-merge
    // and is read as-is. The aux is a COMPLETE multiset, so EVERY
    // threatened group takes its aux extremum: one with no surviving
    // value lands NULL extrema.
    val auxRescan = Rescan((threatened, hint) => {
      val storedSlice = auxSlice(threatened)
        .join(hint(threatened), keyCols, "left_semi")
        .select(keys :+ col("__v"): _*)
      extremaOf(
        if (auxApplied) storedSlice
        else storedSlice
          .join(changedAux.select(keys :+ col("__v"): _*),
            keyCols :+ "__v", "left_anti")
          .unionByName(changedAux.filter(col("cnt") > 0L)
            .join(hint(threatened), keyCols, "left_semi")
            .select(keys :+ col("__v"): _*)),
        keys, col("__v"))
    }, col("__rescan"))
    maintainExtrema(view, keyCols, mom.join(ext, keyCols, "left"),
      fullStatsShape, auxRescan, pAux.toSeq, meta + (SpanKey -> spanId))
  }

  // ---- JOIN views (two-table delta rule) ----
  //
  // V = γ_groupKeys(count, sum(value)) over fact ⋈_joinKeys dim — the
  // enriched-aggregate every dashboard actually wants ("revenue by
  // customer segment"), where the group attribute lives on the
  // dimension. With F1 = F0 + dF and D1 = D0 + dD as signed bags, the
  // exact identity
  //
  //   Δ(F ⋈ D) = dF ⋈ D1  +  F1 ⋈ dD  −  dF ⋈ dD
  //
  // uses only the CURRENT snapshots plus the two change feeds — no
  // time travel, so maintenance keeps working after retention has
  // pruned the pre-batch snapshots (the trap a readVersion-based
  // formulation walks into). Cost shape: dF⋈D1 is a delta-sized probe
  // of the dim; F1⋈dD is the honest price of dimension churn — a fact
  // scan RESTRICTED to the changed join keys (broadcast semi-join
  // first, so partition/zone-map pruning applies and only matching
  // rows ever shuffle); dF⋈dD is delta×delta. A quiet dim — the
  // common case — costs O(|dF|) total. The identity also nets out the
  // subtle same-window interactions (fact insert + dim delete of its
  // key, dim attribute move re-homing freshly inserted facts), which
  // IncrementalViewSpec pins case by case.

  /** Full enriched aggregate — the join view's initial state and the
    * recomputation maintenance must stay equal to. `groupKeys` may
    * come from either side; `valueCol` lives on the fact. */
  def joinSumView(fact: DataFrame, dim: DataFrame, joinKeys: Seq[String],
      groupKeys: Seq[String], valueCol: String): DataFrame =
    fact.join(dim, joinKeys).groupBy(groupKeys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(col(valueCol).cast("decimal(20,4)"))
        .cast("decimal(30,4)").as("sum_value"))

  /** Per-side projections for a join view: each group key must be
    * resolvable from exactly one side post-join; keys present on both
    * sides (e.g. a join key) resolve via the fact. */
  private def joinSides(factNow: DataFrame, dimNow: DataFrame,
      joinKeys: Seq[String], groupKeys: Seq[String],
      valueCol: String): (Seq[String], Seq[String]) = {
    val factSide = factNow.columns.toSet
    val dGroup = groupKeys.filterNot(factSide)
    require(dGroup.forall(dimNow.columns.contains),
      s"group keys ${dGroup.filterNot(dimNow.columns.contains)} in neither table")
    val fGroup = groupKeys.filter(factSide)
    ((joinKeys ++ fGroup :+ valueCol).distinct, (joinKeys ++ dGroup).distinct)
  }

  /** The dF ⋈ D term: fact change events signed by the feed rule and
    * enriched against a dim snapshot, as (groupKeys…, `__v`
    * decimal(20,4), `__w` ±long) rows — the first term of
    * [[joinDeltaRows]], and the whole delta of a fact-side streaming
    * drain while the dim is quiet. */
  private[graft] def enrichFactDelta(factEvents: DataFrame,
      dimNow: DataFrame, joinKeys: Seq[String], groupKeys: Seq[String],
      valueCol: String): DataFrame = {
    val (_, dimProj) =
      joinSides(factEvents, dimNow, joinKeys, groupKeys, valueCol)
    factEvents.withColumn("__w", LakeTable.changeSign)
      .join(dimNow.select(dimProj.map(col): _*), joinKeys)
      .select(groupKeys.map(col) :+
        col(valueCol).cast("decimal(20,4)").as("__v") :+ col("__w"): _*)
  }

  /** The three delta terms of Δ(F⋈D) = dF⋈D₁ + F₁⋈dD − dF⋈dD as one
    * signed row frame (groupKeys…, __v, __w) — shared by the sum and
    * min/max join maintainers. A quiet side is ROUTINE in the
    * two-table case (most windows touch only the fact): its delta is
    * the empty change set, not an error. */
  private def joinDeltaRows(factT: LakeTable, dimT: LakeTable,
      joinKeys: Seq[String], groupKeys: Seq[String], valueCol: String,
      factSince: Int, dimSince: Int): DataFrame = {
    val factNow = factT.read
    val dimNow = dimT.read
    val (factProj, dimProj) =
      joinSides(factNow, dimNow, joinKeys, groupKeys, valueCol)
    val w = LakeTable.changeSign
    val vDec = col(valueCol).cast("decimal(20,4)")
    def changes(t: LakeTable, since: Int): DataFrame =
      if (since >= t.version)
        t.read.limit(0).withColumn("_change_type", lit("insert"))
      else t.changesSince(since)
    val chF = changes(factT, factSince)
    val dF = chF.withColumn("__w", w)
    val dD = changes(dimT, dimSince)
      .select((dimProj.map(col) :+ w.as("__w")): _*)
    val p1 = enrichFactDelta(chF, dimNow, joinKeys, groupKeys, valueCol)
    // changed-dim keys: broadcast while measured-small (the designed,
    // bounded-churn case — the fact scan then prunes before any
    // shuffle); a pathological full-dim re-homing degrades to a shuffle
    // semi-join instead of OOMing the driver
    val dDKeys = dD.select(joinKeys.map(col): _*).distinct()
    val p2 = factNow.select(factProj.map(col): _*)
      .join(broadcastIfSmall(dDKeys), joinKeys, "left_semi")
      .join(dD, joinKeys)
      .select(groupKeys.map(col) :+ vDec.as("__v") :+ col("__w"): _*)
    val p3 = dF.select((factProj.map(col) :+ col("__w").as("__wf")): _*)
      .join(dD.withColumnRenamed("__w", "__wd"), joinKeys)
      .select(groupKeys.map(col) :+ vDec.as("__v") :+
        (-col("__wf") * col("__wd")).as("__w"): _*)
    p1.unionByName(p2).unionByName(p3)
  }

  /** Maintain a [[joinSumView]] from BOTH base tables' changes since
    * their respective synced versions. Returns the (fact, dim) versions
    * the view is now synced to — record and pass them next time. */
  /** `meta` entries commit atomically WITH the view merge (the
    * exactly-once hook the two-feed streaming drain records its synced
    * versions through). */
  def maintainJoinSumView(factT: LakeTable, dimT: LakeTable, view: LakeTable,
      joinKeys: Seq[String], groupKeys: Seq[String], valueCol: String,
      factSince: Int, dimSince: Int,
      meta: Map[String, String] = Map.empty): (Int, Int) = {
    val syncedTo = (factT.version, dimT.version)
    applyJoinSumRows(joinDeltaRows(factT, dimT, joinKeys, groupKeys,
      valueCol, factSince, dimSince), view, groupKeys, meta)
    syncedTo
  }

  /** Apply ONE signed delta-row frame (groupKeys…, `__v`, `__w`) to a
    * stored join sum view — the aggregation and merge half of
    * [[maintainJoinSumView]], shared with the fact-side streaming
    * drain (the [[applyJoinMinMaxRows]] pattern). */
  private[graft] def applyJoinSumRows(rows: DataFrame, view: LakeTable,
      groupKeys: Seq[String], meta: Map[String, String] = Map.empty): Unit = {
    val delta = rows
      .groupBy(groupKeys.map(col): _*)
      .agg(sum(col("__w")).as("d_n"),
        sum(col("__v") * col("__w")).as("d_sum"))
      // net-zero groups (e.g. an update that changed nothing the view
      // sees) never enter the merge
      .filter(col("d_n") =!= 0L ||
        coalesce(col("d_sum"), zero30_4) =!= zero30_4)
    mergeDelta(view, groupKeys, delta, countSum, meta)
  }

  /** [[joinSumView]] extended with per-group min/max of the fact value
    * (same exact DECIMAL(20,4) space as [[minMaxView]]). */
  def joinMinMaxView(fact: DataFrame, dim: DataFrame, joinKeys: Seq[String],
      groupKeys: Seq[String], valueCol: String): DataFrame = {
    val vDec = col(valueCol).cast("decimal(20,4)")
    fact.join(dim, joinKeys).groupBy(groupKeys.map(col): _*).agg(
      count(lit(1)).as("n"),
      sum(vDec).cast("decimal(30,4)").as("sum_value"),
      min(vDec).as("min_value"),
      max(vDec).as("max_value"))
  }

  /** Maintain a [[joinMinMaxView]]. Count/sum by the join delta rule;
    * min/max need one extra step the sum view doesn't: the signed
    * terms can CANCEL within a window (fact insert + dim delete of its
    * key nets to zero), so extrema must read the NET per-(group,
    * value) weights — a raw positive term is not proof the value
    * exists afterward. Net w>0 values tighten extrema (the group's
    * count of that value strictly increased, so it exists); net w<0
    * values tying the stored extremum threaten it, and ONLY those
    * groups rescan — THROUGH the join, with the dim first reduced to
    * the threatened group slice (broadcast) so the fact side joins a
    * shrunken build. Same caveat class as [[maintainMinMaxView]]'s
    * rescan: the common batch touches no base data. */
  def maintainJoinMinMaxView(factT: LakeTable, dimT: LakeTable,
      view: LakeTable, joinKeys: Seq[String], groupKeys: Seq[String],
      valueCol: String, factSince: Int, dimSince: Int,
      meta: Map[String, String] = Map.empty): (Int, Int) = {
    val syncedTo = (factT.version, dimT.version)
    applyJoinMinMaxRows(
      joinDeltaRows(factT, dimT, joinKeys, groupKeys, valueCol,
        factSince, dimSince),
      factT.read, dimT.read, view, joinKeys, groupKeys, valueCol, meta)
    syncedTo
  }

  /** Apply ONE signed delta-row frame (groupKeys…, `__v` decimal(20,4),
    * `__w` ±long) to a stored join min/max view against the CURRENT
    * fact/dim snapshots — the whole [[maintainJoinMinMaxView]] rule
    * factored out (the [[applyStatsDelta]] pattern) so the streaming
    * CDC subscriber applies identical semantics per micro-batch, with
    * its exactly-once `meta` marker riding the same atomic
    * merge-with-extinction commit. */
  private[graft] def applyJoinMinMaxRows(rows: DataFrame,
      factNow: DataFrame, dimNow: DataFrame, view: LakeTable,
      joinKeys: Seq[String], groupKeys: Seq[String], valueCol: String,
      meta: Map[String, String] = Map.empty): Unit = {
    val keys = groupKeys.map(col)
    // the dim build — full dim when group keys live on the fact, the
    // threatened groups' slice otherwise (whose cardinality is NOT
    // bounded by the key count: one threatened segment can hold millions
    // of dim rows) — gets its own measured gate. A delete storm touching
    // every extremum degrades every side to a shuffle semi-join instead
    // of OOMing the driver.
    val rescan = baseRescan(keys, col(valueCol).cast("decimal(20,4)")) {
      (threatened, hint) =>
        val (factProj, dimProj) =
          joinSides(factNow, dimNow, joinKeys, groupKeys, valueCol)
        val dimSideKeys = groupKeys.filter(dimProj.contains)
        val dimR = broadcastIfSmall(
          if (dimSideKeys.isEmpty) dimNow.select(dimProj.map(col): _*)
          else dimNow.select(dimProj.map(col): _*).join(
            hint(threatened.select(dimSideKeys.map(col): _*).distinct()),
            dimSideKeys, "left_semi"))
        factNow.select(factProj.map(col): _*)
          .join(dimR, joinKeys)
          .join(hint(threatened), groupKeys, "left_semi")
    }
    maintainExtrema(view, groupKeys,
      weightedDelta(netWeights(rows, keys, col("__v"), col("__w")), keys),
      minMaxShape, rescan, Nil, meta)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Scale utilities: skew-handling joins and single-pass observability —
  * the pieces that matter at the 100 TB design point but are invisible at
  * lab scale.
  */
object ScaleOps {

  /** Salted inner equi-join for skewed keys.
    *
    * The fact side gets a random salt in [0, buckets); the dim side is
    * exploded ×buckets so every (key, salt) pair exists. The join key
    * becomes (key, salt), splitting a hot key's rows across `buckets`
    * reducers. Use when AQE's skew-join threshold isn't enough (one
    * pathological key) — salt cost is dim ×buckets, so keep the dim slim.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      buckets: Int = 8): DataFrame = {
    val saltedFact = fact.withColumn("__salt",
      (rand(seed = 42) * buckets).cast("int"))
    val saltedDim = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedFact.join(saltedDim, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase salted aggregation — the skew guard for a HOT GROUP KEY
    * (the agg-side twin of [[saltedJoin]]): phase 1 aggregates on
    * (key, salt) so one pathological key's rows spread across `buckets`
    * reducers; phase 2 merges the ≤ `buckets` partials per key. Only
    * decomposable aggregates (sum/count/min/max) survive the two-phase
    * split — which is also why the result is EXACTLY the plain groupBy
    * (the cross-engine oracle). Spark's own partial aggregation already
    * map-side-combines; salting matters when the REDUCE side itself is
    * skewed — combine ratios collapse (high-cardinality payloads,
    * exploded rows) and one reducer still drowns.
    */
  def saltedAgg(df: DataFrame, keyCols: Seq[String], sumCol: String,
      buckets: Int = 8): DataFrame = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val ks = keyCols.map(col)
    val partial = df
      .withColumn("__salt", (rand(seed = 42) * buckets).cast("int"))
      .groupBy(ks :+ col("__salt"): _*)
      .agg(count(lit(1)).as("__n"),
        sum(col(sumCol).cast("decimal(20,4)")).as("__s"))
    partial.groupBy(ks: _*)
      .agg(sum(col("__n")).as("n_rows"),
        sum(col("__s")).cast("double").as("sum_value"))
  }

  /** Bloom-filter-accelerated semi-join — the runtime-filter pattern for
    * big-fact × selective-dim joins at scale: build a bloom filter over
    * the dim keys (one bounded driver-side sketch, ~MBs for millions of
    * keys at 1% fpp), prefilter the FACT before its shuffle with the
    * codegen'd native BloomFilterMightContain probe, then finish with the
    * exact semi-join. The bloom only prunes (false positives pass through
    * to the exact join, false negatives are impossible), so the output is
    * EXACTLY the plain semi-join — what the oracle checks — while the
    * shuffle moves only rows that can possibly match. Spark's AQE injects
    * this same filter automatically in some shapes; this is the explicit,
    * always-on form for a long key column. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, key: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    // Build and probe must hash the SAME representation: stat.bloomFilter
    // stores putLong for integral columns but putBinary for strings, while
    // BloomFilterMightContain always probes mightContainLong — so both
    // sides are first mapped through xxhash64 (native, codegen'd), making
    // the filter type-generic. Hash collisions only add false positives,
    // which the exact semi-join below removes.
    val bloom = dim.select(xxhash64(col(key)).as("__k"))
      .stat.bloomFilter("__k", expectedItems, fpp)
    val bytes = {
      val b = new java.io.ByteArrayOutputStream()
      bloom.writeTo(b)
      b.toByteArray
    }
    val might = GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bytes, BinaryType),
      GraftColumnBridge.expression(xxhash64(col(key)))))
    val pre = fact.filter(might)
    graft.ops.CoreOps.semiJoin(Seq(key), dim.select(col(key)))(pre)
  }

  /** Stratified sampling by a key column — the training-data rebalancing
    * primitive (e.g. downsample over-represented languages). Per-stratum
    * Bernoulli sampling, seed-deterministic, single pass, no shuffle
    * (sampling is a map-side filter). Fractions absent from the map drop
    * the stratum entirely. */
  def stratifiedSample(df: DataFrame, strataCol: String,
      fractions: Map[String, Double], seed: Long): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /** Deterministic stratified sampling: [[weightedMixtureSample]]'s
    * replayable hash-threshold rule applied per stratum — keep a row iff
    * knuthHash(id) falls under the stratum's fraction. Same three
    * properties (engine-replayable, rerun-stable, monotone in the
    * fraction), so unlike the engine-seeded [[stratifiedSample]] it gets
    * an exact cross-engine oracle; the RNG-seeded variant stays as the
    * engine-native alternative. Strata absent from the map drop entirely,
    * mirroring sampleBy. Map-side filter, no shuffle. */
  def hashStratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      s"fractions must be in [0,1], got $fractions")
    val weight = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit(f)).otherwise(acc) }
    weightedMixtureSample(df, idCol, weight)
  }

  /** Deterministic weighted mixture sampling — the "mix dataset Dᵢ at
    * weight wᵢ" primitive for assembling a training corpus from sources.
    * A row is kept iff hash(id) falls under its row's weight, with the
    * hash a fixed multiplicative map (Knuth's 2654435761 mod 2³²) over
    * the id column — NOT an engine-seeded RNG. That buys three things
    * rate-based `sample()` can't: (1) reproducible across runs, row
    * order, partitioning, and engines (the inclusion decision is a pure
    * function of the id — an external engine can replay it exactly, so
    * the operator is oracle-checkable); (2) stable under re-runs of an
    * incremental pipeline (a doc's fate never flips when the batch
    * around it changes); (3) monotone in the weight (raising wᵢ only
    * ADDS documents — the kept set at 0.4 is a superset of 0.2, pinned
    * in ScaleOpsSpec). Map-side filter, no shuffle, no driver state.
    *
    * `weight` is any per-row Column in [0, 1] (typically joined or
    * derived from the source column). The integer threshold compare
    * (hash < floor(w·2³²)) keeps the decision in exact integer space.
    */
  def weightedMixtureSample(df: DataFrame, idCol: String,
      weight: Column): DataFrame =
    df.filter(knuthHash(col(idCol)) <
      floor(weight * lit(4294967296.0)).cast("long"))

  /** THE canonical deterministic row hash (Knuth's multiplicative map,
    * 2654435761 mod 2³²) behind [[weightedMixtureSample]] /
    * [[hashStratifiedSample]] and the probe's skew injection — one
    * definition so the constant/modulus can never silently diverge.
    *
    * Computed as a split multiply entirely below 2⁶³: a naive
    * `id * 2654435761` overflows Long for ids ≥ ~3.47e9 (an ANSI-mode
    * error on Spark, a BIGINT error on DuckDB), so the product mod 2³²
    * is assembled from the id's low/high 16-bit halves instead —
    * (x mod 2³²)·2¹⁶ ≡ x·2¹⁶ (mod 2³²) makes the stepwise reduction
    * exact. Total over the full Long domain on both engines (the DuckDB
    * twin multiplies in HUGEINT), pinned against a BigInt replay in
    * ScaleOpsSpec including ids past the naive overflow point. */
  def knuthHash(id: Column): Column = {
    val id32 = pmod(id.cast("long"), lit(4294967296L))
    val hi = shiftright(id32, 16) // id32 < 2³², so arithmetic shift is safe
    val lo = id32.bitwiseAND(lit(65535L))
    pmod(pmod(hi * lit(2654435761L), lit(4294967296L)) * lit(65536L) +
      lo * lit(2654435761L), lit(4294967296L))
  }

  /** Deterministic epoch shuffle: a global reordering of the corpus that
    * is a pure function of (id, epoch) — md5 over the seeded id, so it is
    * reproducible across reruns and engines, independent of partitioning,
    * and a DIFFERENT permutation each epoch (the training-loader contract:
    * shuffled, but resumable and auditable). At scale this is a single
    * range-partitioned sort on a 32-char key — the same cost as any
    * ORDER BY; no driver-side state. */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int): DataFrame =
    df.orderBy(epochShuffleKey(col(idCol), epoch), col(idCol))

  /** The (epoch, id) shuffle key — exposed so verification queries and
    * cross-engine oracles rank with the IDENTICAL expression instead of
    * re-inlining the format. */
  def epochShuffleKey(id: Column, epoch: Int): Column =
    md5(concat_ws(":", lit(epoch), id.cast("string")))

  /** Explicit epoch positions (id → 1-based rank in the epoch
    * permutation) WITHOUT a global window — the classic two-phase
    * distributed ranking: bucket every row by the first two hex chars of
    * its shuffle key (256 buckets whose lexicographic order equals the
    * full-key order), rank within each bucket with a PARTITIONED window,
    * and add per-bucket offsets from a ≤256-row aggregate (bounded
    * driver state, same budget class as the IVF centroid table). The
    * md5 key is uniform, so buckets are balanced by construction — no
    * partition ever ranks more than ~1/256 of the corpus. Output is
    * identical to `row_number() OVER (ORDER BY key, id)` and therefore
    * exactly replayable by any engine. Construction is eager (one small
    * count-per-bucket job). */
  def epochPositions(df: DataFrame, idCol: String, epoch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = epochShuffleKey(col(idCol), epoch)
    // null ids have no deterministic cross-engine rank (and would yield a
    // null bucket) — they are excluded; verification oracles must filter
    // them symmetrically (id IS NOT NULL). Materialized ONCE: both the
    // offset-count job and the ranking job read the checkpoint instead
    // of re-scanning + re-hashing the corpus (same policy as semDedup).
    val bucketed = df.filter(col(idCol).isNotNull)
      .select(col(idCol), key.as("__k"), substring(key, 1, 2).as("__b"))
      .localCheckpoint(true)
    val counts = bucketed.groupBy("__b").agg(count(lit(1)).as("__c"))
      .orderBy("__b").collect() // <= 256 rows by construction
    var acc = 0L
    val offsets = counts.map { r =>
      val t = (r.getString(0), acc); acc += r.getLong(1); t
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toDF("__b", "__off")
    val w = Window.partitionBy("__b").orderBy(col("__k"), col(idCol))
    // pos stays LONG in the operator — an INT cast would wrap negative
    // past 2^31 rows; oracles that want INT cast at the query layer
    bucketed.withColumn("__rn", row_number().over(w))
      .join(broadcast(offDf), Seq("__b"))
      .select(col(idCol), (col("__off") + col("__rn")).as("pos"))
  }

  /** Deterministic consistent sample: exactly min(k, |group|) rows per
    * group, chosen as the k smallest xxhash64 values over (seed, id
    * columns) — the "k examples per language" eval-set primitive.
    * Unlike rate-based sampling this is reproducible independent of row
    * order and partitioning (the hash is a pure function of the row), and
    * Spark 4's WindowGroupLimit turns the row_number filter into a
    * map-side partial top-k before the exchange, so only ~k rows per
    * group per partition shuffle. */
  def consistentSamplePerGroup(df: DataFrame, groupCols: Seq[String],
      idCols: Seq[String], k: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = xxhash64((lit(seed) +: idCols.map(col)): _*)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(h.asc +: idCols.map(col(_).asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Approximate quantiles from a consistent (hash-deterministic) sample:
    * keep the k rows whose md5(id) sorts lowest — a uniform pseudo-random
    * subset that is a pure function of the ids — then take EXACT
    * interpolated quantiles of the sample.
    *
    * This is the deterministic cousin of a KLL/t-digest sketch: the
    * bottom-k-by-hash selection is order-insensitive and mergeable
    * (bottom-k of a union = merged bottom-k's), the physical plan is a
    * TakeOrdered — O(k) memory per partition, one pass, no full sort —
    * and unlike randomized sketches the result replays exactly on any
    * engine, so it gets a real oracle instead of an error-bound test.
    * Estimation error is the standard sampling error (~1/√k on middle
    * quantiles); PropertySpec pins it against exact percentiles.
    */
  def hashSampledQuantiles(df: DataFrame, idCol: String, valueCol: String,
      k: Int, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    val sample = df
      .select(col(valueCol).as("v"), md5(col(idCol).cast("string")).as("__h"))
      .orderBy("__h").limit(k)
    val qs = sample.agg(
      expr(s"percentile(v, array(${probs.mkString(",")}))").as("qs"))
    qs.select(probs.zipWithIndex.map { case (p, i) =>
      round(element_at(col("qs"), i + 1), 4)
        .as("p" + math.round(p * 100))
    }: _*)
  }

  /** Per-group [[hashSampledQuantiles]]: an independent bottom-k-by-hash
    * sample per group, then exact interpolated quantiles of each sample —
    * per-stratum latency/size/score profiles at a bounded cost per
    * stratum. The rank filter compiles to a WindowGroupLimit (map-side
    * partial top-k per group, pinned for the consistent-sample path in
    * PlanShapeSpec), so no group ever sorts more than its own rows and
    * the shuffle carries at most k rows per (group, partition). */
  def hashSampledQuantilesPerGroup(df: DataFrame, groupCol: String,
      idCol: String, valueCol: String, k: Int,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__h"))
    df.select(col(groupCol), col(valueCol).as("v"),
        md5(col(idCol).cast("string")).as("__h"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(groupCol)
      .agg(expr(s"percentile(v, array(${probs.mkString(",")}))").as("qs"))
      .select(col(groupCol) +: probs.zipWithIndex.map { case (p, i) =>
        round(element_at(col("qs"), i + 1), 4)
          .as("p" + math.round(p * 100))
      }: _*)
  }

  /** Temperature-scaled source mixing at α = 0.5 — the standard
    * "upweight small sources" corpus-assembly rule (multilingual
    * sampling): source i keeps rate rᵢ = √(n_min / nᵢ), so the smallest
    * source keeps everything and a source 100× larger keeps 10%. The
    * kept set is then decided per row by the deterministic
    * [[weightedMixtureSample]] hash rule — reproducible across reruns,
    * partitioning, and engines.
    *
    * α is PINNED at 0.5 deliberately: the rate computation is then a
    * division plus `sqrt`, both exactly rounded under IEEE-754 on every
    * engine, so a DuckDB replay reproduces the kept set bit-for-bit
    * (q_temperature_mix is hash-green). A generic-α variant would need
    * `pow`, which differs in the last ulp across libm implementations —
    * callers wanting other temperatures supply their own weight column
    * to [[weightedMixtureSample]] and accept an engine-bound boundary.
    *
    * Scale shape: one count aggregation per source, a single-row min
    * broadcast, a broadcast join of the tiny per-source rate table onto
    * the corpus, then the map-side hash filter — no extra shuffle of
    * the data itself. */
  def temperatureMixSample(df: DataFrame, sourceCol: String,
      idCol: String): DataFrame = {
    val counts = df.groupBy(sourceCol).agg(count(lit(1)).as("__n"))
    val nmin = counts.agg(min("__n").as("__nmin"))
    val rates = counts.crossJoin(broadcast(nmin))
      .select(col(sourceCol),
        sqrt(col("__nmin").cast("double") / col("__n").cast("double"))
          .as("__rate"))
    weightedMixtureSample(df.join(broadcast(rates), Seq(sourceCol)),
      idCol, col("__rate")).drop("__rate")
  }

  /** Deterministic per-source token-budget sampling: walk each source's
    * documents in md5(id) order (the repo's engine-portable shuffle) and
    * keep every document that STARTS under the budget — so the kept set
    * is a stable pseudo-random prefix whose token total first meets the
    * budget, reproducible across reruns, partitioning, and engines.
    * This is the "give me ~N tokens per source" primitive of corpus
    * assembly (the token-denominated sibling of the rate-based
    * [[temperatureMixSample]]).
    *
    * Scale shape: token counts are one native map-side expression; the
    * running sum is a window partitioned BY SOURCE ordered by the hash
    * (never a global window), with an (hash, id) compound order so ties
    * cannot reorder across engines. Returns the kept rows with their
    * cumulative token position. */
  def tokenBudgetSample(df: DataFrame, sourceCol: String, idCol: String,
      textCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"need budgetTokens > 0, got $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val t = df.select(col(sourceCol).as("source"), col(idCol).as("id"),
      size(graft.functions.TextExpressions.wordTokens(col(textCol)))
        .cast("long").as("n_tok"),
      md5(col(idCol).cast("string").cast("binary")).as("__h"))
    val w = Window.partitionBy("source").orderBy(col("__h"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum_tok", sum("n_tok").over(w))
      .filter(col("cum_tok") - col("n_tok") < budgetTokens)
      .select("source", "id", "n_tok", "cum_tok")
  }

  /** Multi-epoch annealed mixture schedule — the corpus-assembly PLAN
    * that [[temperatureMixSample]] executes one epoch of: per source,
    * the keep-rate at α = 1, 0.5, and 0.25 (rᵢ = (n_min/nᵢ)^α,
    * annealing from proportional toward uniform across epochs, the
    * standard multilingual/multi-source curriculum), plus the expected
    * kept-document count at each α. Emitting the schedule as data lets
    * the driver budget epochs before launching them.
    *
    * α values are PINNED to {1, 1/2, 1/4} for the same reason
    * temperatureMixSample pins 0.5: each rate is then division and
    * `sqrt` only — exactly rounded under IEEE-754 on every engine, so
    * the oracle replays bit-for-bit where a libm `pow` would drift in
    * the last ulp. Scale shape: one count agg per source + a single-row
    * min broadcast; output is one row per source. */
  def annealedMixSchedule(df: DataFrame, sourceCol: String): DataFrame = {
    val counts = df.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val nmin = counts.agg(min("n_docs").as("__nmin"))
    val r1 = col("__nmin").cast("double") / col("n_docs").cast("double")
    def sched(r: org.apache.spark.sql.Column, tag: String) = Seq(
      round(r, 6).as(s"rate_$tag"),
      floor(col("n_docs").cast("double") * r).cast("long").as(s"keep_$tag"))
    counts.crossJoin(broadcast(nmin))
      .select(col("source") +: col("n_docs") +:
        (sched(r1, "a100") ++ sched(sqrt(r1), "a50") ++
          sched(sqrt(sqrt(r1)), "a25")): _*)
  }

  /** KMV (k-minimum-values) distinct-count sketch — the deterministic,
    * engine-portable cousin of HLL: hash every value to a 60-bit integer
    * (first 15 hex chars of md5), keep the k smallest DISTINCT hashes
    * per group, and estimate the distinct count as (k-1)·2⁶⁰ / h_k where
    * h_k is the k-th smallest hash (Bar-Yossef et al.). A pure function
    * of the value set: reruns, partitioning, and any engine with md5
    * reproduce it bit-for-bit — so unlike the engine-seeded HLL of
    * `approx_count_distinct` (q_approx_distinct, rows-only) this sketch
    * gets an exact cross-engine oracle. Groups with fewer than k
    * distinct values return the EXACT count (the sketch saw everything).
    *
    * Scale shape: map-side hash projection, distinct on (group, hash) —
    * one shuffle on a narrow key — then a per-group bottom-k that
    * compiles to WindowGroupLimit (map-side partial top-k, same shape
    * as [[hashSampledQuantilesPerGroup]]); the final agg touches ≤ k
    * rows per group. Mergeable by construction (bottom-k of a union =
    * merged bottom-k's). Estimation error is the standard KMV ~1/√(k-2)
    * relative bound, pinned in ScaleOpsSpec.
    */
  // shared KMV primitives — ONE definition each so a change to the hash
  // width or estimator can't silently apply to only one of the two KMV
  // queries' oracles. 15 hex chars = 60 bits: fits a Long exactly on
  // both engines; estimate = (k-1)·2⁶⁰ / h_k, exact count below k.
  private def kmvHash(valueCol: String): Column =
    conv(substring(
      md5(col(valueCol).cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  private def kmvEstimate(n: Column, hk: Column, k: Int): Column =
    when(n < k, n)
      .otherwise(floor(lit((k - 1).toDouble * 1.152921504606846976e18) /
        hk.cast("double")).cast("long"))

  /** Rolling `windowDays`-day distinct counts from MERGEABLE daily KMV
    * sketches — the pre-aggregated-sketch rollup pattern: the raw
    * values are touched ONCE to build one bottom-k sketch per day
    * (a (day, k·long) table — the thing a production pipeline
    * materializes nightly), and every rolling window is then answered
    * by merging ≤ `windowDays` sketches, never by re-scanning events.
    * A recomputed exact sliding distinct re-reads every event
    * `windowDays` times; this reads each once.
    *
    * Shape: daily sketches via the bounded [[graft.functions.BottomK]]
    * aggregate — O(k) buffer state with map-side partial aggregation,
    * so the build is ONE shuffle of ≤ k-hash partial sketches per
    * (day, input-partition), never a distinct of the raw hashes (the
    * collect_set formulation this replaced buffered every distinct
    * hash of a day in one aggregation buffer). Each sketch then
    * contributes to its `windowDays` windows by an OFFSET EXPLODE +
    * groupBy(window day) — equi-shuffles only, no unpartitioned window
    * anywhere; per-group state ≤ windowDays·k hashes in the merge
    * stage too. Day-grain rows are calendar-bounded, so every
    * post-sketch stage is tiny at any corpus scale.
    *
    * Same determinism contract as [[kmvDistinct]] (md5 60-bit bottom-k,
    * union-closure merge, exact below k) — with `k` above the true
    * window cardinality the counts are EXACT, which is what the oracle
    * checks at lab scale; size k to the expected window cardinality for
    * estimate-mode at production scale. */
  def rollingKmvDistinct(df: DataFrame, dayCol: String, valueCol: String,
      windowDays: Int, k: Int): DataFrame = {
    require(windowDays >= 1, s"need windowDays >= 1, got $windowDays")
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val sk = df.filter(col(valueCol).isNotNull)
      .select(col(dayCol).as("day"), kmvHash(valueCol).as("h"))
      .groupBy("day")
      .agg(graft.functions.SketchAggregates.bottomK(col("h"), k).as("sk"))
    val days = sk.select(col("day"))
    val contrib = sk
      .select(col("day"), col("sk"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("off"))
      .select(expr("date_add(day, off)").as("day"), col("sk"))
      // windows whose anchor day has no data of its own don't exist
      .join(days, Seq("day"), "left_semi")
    contrib.groupBy("day")
      .agg(count(lit(1)).as("n_days"),
        flatten(collect_list(col("sk"))).as("hs"))
      .select(col("day"), col("n_days"),
        array_sort(array_distinct(col("hs"))).as("u"))
      .select(col("day"), col("n_days"),
        kmvEstimate(size(col("u")).cast("long"),
          element_at(col("u"), k), k).as("uniques"))
  }

  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val gs = groupCols.map(col)
    val h = kmvHash(valueCol)
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__h"))
    // null values are excluded like count_distinct does — and necessarily
    // so for the oracle: a null hash sorts FIRST in Spark's ascending
    // window but LAST in DuckDB's, which would skew the bottom-k
    // differently per engine
    df.filter(col(valueCol).isNotNull)
      .select(gs :+ h.as("__h"): _*).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy(gs: _*)
      .agg(count(lit(1)).as("__n"), max("__h").as("__hk"))
      .select(gs :+
        kmvEstimate(col("__n"), col("__hk"), k).as("est_distinct"): _*)
  }

  /** KMV set-operation estimates between two cohorts — the mergeability
    * payoff of [[kmvDistinct]]: distinct counts of A, B, A∪B and A∩B
    * from bottom-k sketches, never materializing either distinct set.
    * Union sketch = bottom-k of the merged hashes (KMV's closure under
    * union); intersection via the standard ρ/k scaling of the union
    * estimate (Beyer et al.), where ρ counts union-sketch members
    * belonging to BOTH cohorts. Everything degrades to EXACT counts
    * while the union's distinct count is below k.
    *
    * Same determinism contract as [[kmvDistinct]] (md5 60-bit hashes,
    * floor arithmetic) — bit-for-bit reproducible on any engine with
    * md5, so the whole estimator chain sits under the exact oracle.
    *
    * Scale shape: one filtered pass → distinct on the hash (narrow
    * shuffle) with cohort membership flags folded by max; the three
    * sketches come from ONE tag-partitioned bottom-k window
    * (WindowGroupLimit); the finale aggregates ≤ 3k rows to a single
    * row. Cohort predicates are row-local. */
  def kmvSetOps(df: DataFrame, valueCol: String,
      condA: Column, condB: Column, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val m = df.filter((condA || condB) && col(valueCol).isNotNull)
      .select(kmvHash(valueCol).as("__h"),
        condA.as("__ia"), condB.as("__ib"))
      .groupBy("__h").agg(max("__ia").as("in_a"), max("__ib").as("in_b"))
    val tagged = m.select(col("__h"), col("in_a"), col("in_b"),
      explode(expr("filter(array(CASE WHEN in_a THEN 'a' END, " +
        "CASE WHEN in_b THEN 'b' END, 'u'), x -> x IS NOT NULL)"))
        .as("__tag"))
    val w = Window.partitionBy("__tag").orderBy("__h")
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .groupBy("__tag")
      .agg(count(lit(1)).as("__n"), max("__h").as("__hk"),
        sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("__both"))
      .withColumn("__est", kmvEstimate(col("__n"), col("__hk"), k))
      .agg(
        max(when(col("__tag") === "a", col("__est"))).as("est_a"),
        max(when(col("__tag") === "b", col("__est"))).as("est_b"),
        max(when(col("__tag") === "u", col("__est"))).as("est_union"),
        // below k the union sketch saw every hash, so ρ IS the exact
        // hash-level intersection; above k, scale the union estimate
        max(when(col("__tag") === "u",
          when(col("__n") < k, col("__both"))
            .otherwise(floor(col("__both") * col("__est") /
              lit(k.toDouble)).cast("long")))).as("est_intersect"))
  }

  /** Column profiling — the engine-side analogue of the reference's Glue
    * crawler statistics pass (state_machine.json:69-116): per column,
    * row/non-null/distinct counts and min/max, unpivoted to long format.
    * The row and non-null counts and min/max come from ONE aggregate over
    * the table; each distinct count from its own single-distinct
    * aggregate, which scans only that column, joined on as a broadcast
    * one-row frame. (One aggregate holding all the distinct counts would
    * plan them through an Expand whose column order Catalyst takes from
    * expression-id hashes, so its plan would depend on what ran earlier
    * in the JVM.) min/max are taken in the column's native ordering and
    * then rendered as strings. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    // names are interpolated into selectExpr below — keep them simple
    require(cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
      s"profileColumns needs simple column names, got $cols")
    val n = count(lit(1)).as("__n")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"__nn_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")) }
    val row = cols.foldLeft(df.agg(n, aggs: _*)) { (r, c) =>
      r.crossJoin(broadcast(df.agg(count_distinct(col(c)).as(s"__nd_$c"))))
    }
    val stacked = cols.map(c =>
      s"'$c', __n, __nn_$c, __nd_$c, __min_$c, __max_$c").mkString(", ")
    row.selectExpr(s"stack(${cols.size}, $stacked) AS " +
      "(column_name, n_rows, n_nonnull, n_distinct, min_val, max_val)")
  }

  /** Weighted k-sample WITHOUT replacement per group, one pass, no RNG
    * state — Efraimidis–Spirakis (IPL 2006) A-ES keys on a replayable
    * hash: u = (h+1)/2⁶⁰ ∈ (0,1] from the repo-standard md5→60-bit
    * hash of (seed, id), key = −ln(u)/w, and the k SMALLEST keys per
    * group win — inclusion probability proportional to weight, exactly
    * the "sample long docs more" / "sample by quality score" primitive
    * a curation pipeline needs where rate-based sampling
    * ([[weightedMixtureSample]]) can't hit an exact k.
    *
    * Deterministic contract: ranking on the 6-dp-ROUNDED key with id
    * tiebreak (the repo's cross-engine float-ranking rule; ln is the
    * only float op). Scale shape: one row-local key computation + a
    * per-group top-k window — right when groups are numerous; for ONE
    * giant group compose the same key with a TakeOrdered-style bounded
    * top-k instead of a window. Weights must be > 0 (enforced). */
  def weightedSamplePerGroup(df: DataFrame, groupCols: Seq[String],
      idCol: String, weightCol: String, k: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    import org.apache.spark.sql.expressions.Window
    val h = conv(substring(md5(concat_ws("|", lit(seed.toString),
      col(idCol).cast("string")).cast("binary")), 1, 15), 16, 10).cast("long")
    val u = (h.cast("double") + 1.0d) / lit(1.152921504606846976e18)
    val key = round(-log(u) / col(weightCol).cast("double"), 6)
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(key.asc, col(idCol).asc)
    df.filter(col(weightCol) > 0)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** DSIR-style importance weights for target-domain upsampling (Data
    * Selection via Importance Resampling, Xie et al. 2023): each doc is
    * scored by how much more likely its hashed-unigram bag is under the
    * TARGET distribution than under the raw corpus —
    * `w(doc) = Σ_tokens log(p_tgt[bucket(tok)] / p_raw[bucket(tok)])`
    * with add-one smoothing over `buckets` hashed features. Docs with
    * positive weight look like the target domain; resampling by weight
    * is the paper's recipe for tilting a web-scale corpus toward a
    * high-quality / in-domain reference set without training a
    * classifier.
    *
    * Scale shape: one token explode → one (bucket, is-target) count agg
    * of at most `buckets` rows (broadcast back onto the token stream) →
    * one per-doc sum. No model state, no driver collect; the bucket
    * table is bounded by construction.
    *
    * Determinism contract: bucket = md5-derived 60-bit hash mod
    * `buckets` (the repo's standard replayable hash); each bucket's
    * log-ratio is ROUNDED to 6 decimals and carried as decimal(16,6),
    * so the per-doc sum is EXACT decimal arithmetic — token order and
    * engine float-sum order cannot move the result (the only float op
    * is the single per-bucket `ln`, rounded immediately). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 128): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    import graft.functions.TextFunctions.tokens
    val toks = docs.select(col(idCol).as("id"), targetPred.as("is_tgt"),
        explode(tokens(col(textCol))).as("tok"))
      .withColumn("bucket",
        conv(substring(md5(col("tok").cast("binary")), 1, 15), 16, 10)
          .cast("long") % buckets)
    val bucketStats = toks.groupBy("bucket")
      .agg(count(lit(1)).as("n_raw"),
        count(when(col("is_tgt"), 1)).as("n_tgt"))
    val totals = bucketStats.agg(sum("n_raw").as("t_raw"),
      sum("n_tgt").as("t_tgt"))
    val b = buckets.toDouble
    val ratios = bucketStats.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(log(
          ((col("n_tgt").cast("double") + 1.0d) / (col("t_tgt").cast("double") + lit(b))) /
          ((col("n_raw").cast("double") + 1.0d) / (col("t_raw").cast("double") + lit(b)))),
          6).cast("decimal(16,6)").as("lr"))
    toks.join(broadcast(ratios), Seq("bucket"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tok"),
        sum("lr").cast("double").as("weight"))
      .select(col("id").as(idCol), col("n_tok"), col("weight"))
  }

  /** One-pass pipeline metrics via the Observation API — the fix for the
    * reference's recompute-per-count anti-pattern (SURVEY.md §4.3-1):
    * counts are collected as accumulator-style observations DURING the one
    * real action instead of re-running the lineage per `.count()`.
    *
    * Returns the instrumented frame + the Observation; read
    * `obs.get` AFTER an action has run.
    */
  def observedSplitMetrics(df: DataFrame, notNullCols: Seq[String]): (DataFrame, Observation) = {
    val pred: Column = notNullCols.map(col(_).isNotNull).reduce(_ && _)
    val obs = Observation()
    val instrumented = df.observe(obs,
      count(lit(1)).as("n_input"),
      count(when(pred, 1)).as("n_valid"),
      count(when(!pred, 1)).as("n_rejected"))
    (instrumented, obs)
  }
}

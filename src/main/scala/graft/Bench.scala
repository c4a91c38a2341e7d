package graft
import org.apache.spark.sql.SparkSession

/** Benchmark harness: runs every query family's query (`SparkEntry.queries`) against
  * `SPARK_GRAFT_SF_DIR` under a noop sink (full evaluation — every row and
  * column is consumed, so projection-heavy queries are actually executed;
  * a bare `.count()` would let Catalyst prune the entire projection).
  *
  * Output contract: ONE JSON line on stdout,
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},...}`.
  * The consumer of that line captures only the LAST ~2000 characters of the
  * process output, so the line is kept under a hard byte budget: per-query
  * times are rounded to ms and the `queries` map lists queries slowest-first,
  * truncated when the budget would overflow (`n_queries` vs `n_shown` says
  * how many were dropped). The complete full-precision map is always written
  * to a sidecar in the working directory — but WHICH sidecar depends on the
  * run mode (round-9 record-protection contract, pinned by BenchSpec):
  *   - `SPARK_GRAFT_BENCH_REPEAT>=2` (the record methodology — per-query
  *     min across passes in one JVM) writes `BENCH_DETAIL.json`, the
  *     committed record every later run calibrates against.
  *   - default single-pass mode (including auto-escalated min-of-2, which
  *     is a CONTENTION-mode second pass, not a clean record) writes
  *     `BENCH_DETAIL_run.json`, so a driver or scratch run can never
  *     clobber the committed record: a single-pass total carries the
  *     one-sided spike envelope (+20–40 s observed), and committing it
  *     would silently ratchet the baseline up and dilute every future
  *     retry/escalation threshold computed from the record.
  *
  * Noise handling (round-7 A/B finding, BASELINE.md "Bench variance"): a
  * single pass carries 20–40 s of one-sided roaming spikes concentrated on
  * 2–5 arbitrary queries per run (GC / host hiccups landing on whoever is
  * running), while the other ~160 queries repeat within ~0.1 s. Wall-clock
  * noise is strictly additive — a query can't run faster than its true
  * cost — so per-query min across passes is the unbiased estimator, and
  * retrying only the inflated queries removes the spikes at a fraction of a
  * full second pass:
  *   - `SPARK_GRAFT_BENCH_REPEAT=N` runs the full suite N times, per-query
  *     min (the reference methodology used to record BASELINE).
  *   - default single-pass mode retries just the queries that exceed their
  *     committed BENCH_DETAIL.json time by >max(1.5x, +0.75 s), capped at
  *     12, and takes the min; if the run is still broadly inflated after
  *     that (median ratio vs the reference > 1.2 — contention, not
  *     spikes), it auto-escalates to a full second pass so the reported
  *     value is min-of-2 (`"escalated":true` in the JSON line).
  * `value` is the sum of per-query best times (the comparable metric);
  * `wall_sec` is the honest elapsed suite time including retries. The line
  * also self-reports comparability vs the committed reference
  * (`ratio_vs_detail` median/p90 over common queries + a verdict string) so
  * a contention-skewed run is legible as such without forensics.
  */
object Bench {
  /** Stdout-line byte budget. The consumer's tail window is 2000 chars and
    * sbt appends a ~80-char "[success] Total time" trailer after our line,
    * so 1700 leaves comfortable slack.
    */
  private val LineBudget = 1700

  /** Which full-precision sidecar a run may write (None = none at all).
    * Only the explicit min-of-N record methodology (`repeat >= 2`) may
    * touch the committed `BENCH_DETAIL.json`; single-pass runs (even
    * ones that auto-escalate to a contention-mode second pass) get their
    * own `BENCH_DETAIL_run.json`, and filtered (`SPARK_GRAFT_ONLY`) runs
    * write nothing. Pure so BenchSpec can pin the contract. */
  def detailPathFor(repeat: Int, filtered: Boolean): Option[String] =
    if (filtered) None
    else if (repeat >= 2) Some("BENCH_DETAIL.json")
    else Some("BENCH_DETAIL_run.json")

  /** Host-speed factor: this run's calibration probe ÷ the committed
    * record's probe. Query times are wall-clock on a shared host, so a
    * UNIFORMLY slower host inflates every ratio-vs-record by the same
    * multiple — previously that read as "inflated_do_not_compare" and
    * cost a manual BASELINE supersede ruling per round. The spike-retry
    * threshold, the escalation test, and the comparability verdict all
    * scale by this factor so a slower host self-corrects; the RAW
    * median stays in the output next to the normalized one, so nothing
    * is hidden. Clamped to [1, 3]: a FASTER host must not tighten the
    * thresholds below the record's own noise floor (ratios would
    * already look fine), and past 3× the host is too degraded for a
    * one-number correction to be credible — let the verdict say
    * inflated. Pure so BenchSpec can pin the contract. */
  def hostFactor(runProbe: Double, refProbe: Option[Double]): Double =
    refProbe.filter(_ > 0.05).fold(1.0)(r =>
      math.min(3.0, math.max(1.0, runProbe / r)))

  /** The calibration probe recorded in a BENCH_DETAIL json blob: min of
    * sec_start/sec_end (the less-contended of the two measurements). */
  def probeOf(txt: String): Option[Double] = {
    val p = """"sec_(?:start|end)":(-?[0-9][0-9.eE+-]*)""".r
    val vs = p.findAllMatchIn(txt).map(_.group(1).toDouble).toSeq
    if (vs.isEmpty) None else Some(vs.min)
  }

  private def fmt(v: Double): String = f"$v%.3f"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = DevSession.start()
    spark.sparkContext.setLogLevel("WARN")
    DevSession.warmUp(spark, sfDir)
    // Write-path warmup, same rationale: the noop sink, the parquet
    // write committer/codec classes and the first whole-stage-codegen
    // shuffle otherwise initialize inside whichever query sorts first
    // (~1 s of one-time JVM cost pinned onto the same query every
    // round — q1_agg measured 1.34 s vs its ~0.4 s steady state).
    try {
      val w = spark.range(10000).selectExpr("id", "id % 7 as k")
        .groupBy("k").count()
      w.write.format("noop").mode("overwrite").save()
      w.write.mode("overwrite").parquet("/tmp/graft_bench_warmup")
    } catch { case e: Throwable => System.err.println(s"[bench] warmup w: $e") }

    // Machine-contention guardrails: a fixed CPU-bound calibration job
    // timed before and after the suite + the OS load average. Query times
    // here are wall-clock on a shared machine — if calibration_sec is far
    // off its idle-machine value (~0.5 s at 32 cpus) or load_avg is well
    // above `cpus`, the run is contention-skewed and its totals should
    // not be compared against BASELINE (see README "Bench variance").
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = osBean.getSystemLoadAverage
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(2000000000L).selectExpr("count(if(id % 7 = 0, 1, null))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val loadStart = loadAvg
    val calStart = calibrate()

    // Dev aid: SPARK_GRAFT_ONLY=q_a,q_b times a subset. Filtered runs skip
    // the BENCH_DETAIL.json sidecar so a scratch run never clobbers the
    // full-suite record.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val queries = only.fold(SparkEntry.queries)(s => SparkEntry.queries.view.filterKeys(s).toMap)

    // Committed per-query reference, read BEFORE the run (a repeat>=2 run
    // overwrites the same path when cwd is the repo root). Parsed
    // with a flat "name":number scan — keys are then intersected with the
    // actual query names, so calibration fields can't leak in.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_DETAIL.json")
    val (reference: Map[String, Double], refProbe: Option[Double]) = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(refPath)), "UTF-8")
      val pair = """"([A-Za-z0-9_]+)":(-?[0-9][0-9.eE+-]*)""".r
      (pair.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble)
        .filter { case (k, _) => queries.contains(k) }
        .toMap, probeOf(txt))
    } catch { case _: Throwable => (Map.empty[String, Double], None) }
    // host-speed factor available DURING the run (only the start probe
    // exists yet); the final verdict recomputes with min(start, end)
    val hfRun = hostFactor(calStart, refProbe)

    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    val retryErrors = scala.collection.mutable.LinkedHashSet.empty[String]
    // (elapsed, ranClean): a failed run's elapsed is returned but flagged,
    // so the caller can keep it OUT of min/best — a failed query must not
    // masquerade as a fast one (its fast-failure time would otherwise
    // poison the committed BENCH_DETAIL.json that calibrates retries)
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    // deterministic (sorted) run order: Map hash order reshuffles whenever
    // a query is added, silently moving residual warm-up noise onto a
    // different query each round — sorted order keeps per-query times
    // comparable across rounds
    val ordered = queries.toSeq.sortBy(_._1)
    val wallT0 = System.nanoTime()
    val repeat = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt)
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failTime = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def runPass(): Unit = for ((name, fn) <- ordered) {
      val (t, ok) = timeOne(name, fn)
      if (ok) best(name) = best.get(name).fold(t)(math.min(_, t))
      else { errors += name; failTime(name) = math.max(failTime.getOrElse(name, 0.0), t) }
    }
    for (pass <- 1 to repeat) runPass()
    // a query that never ran clean reports its (max) failed elapsed —
    // visible cost, and unambiguous next to its entry in `errors`
    for ((k, v) <- failTime if !best.contains(k)) best(k) = v

    // Adaptive spike retry (single-pass mode only; REPEAT already covers
    // it): one-sided spikes are re-timed once, min taken. Only queries
    // that ran clean are retried; a retry that itself fails keeps the
    // clean first-pass time and is tagged in retry_errors — NOT errors
    // (the suite result stands; only the re-measurement failed).
    var retried = 0
    var spikeRecovered = 0.0
    def retrySpikes(): Unit = {
      // threshold scaled by the host factor: on a uniformly slower host
      // every query exceeds its record time, and un-normalized retries
      // would burn the full 12-query budget on non-spikes
      val spiked = best.toSeq
        .filter { case (k, v) => !errors.contains(k) &&
          reference.get(k).exists(r =>
            v > math.max(r * 1.5, r + 0.75) * hfRun) }
        .sortBy { case (k, v) => -(v - reference(k)) }
        .take(12)
      for ((name, first) <- spiked) {
        val (t, ok) = timeOne(name, queries(name))
        if (ok) { if (t < first) { spikeRecovered += first - t; best(name) = t } }
        else retryErrors += name
        retried += 1
      }
    }
    if (repeat == 1 && reference.nonEmpty) retrySpikes()

    // Auto-escalation: if after spike retries the run is still broadly
    // inflated vs the committed reference (median ratio > 1.2 — per-query
    // retries only help when spikes are few), a whole second pass converts
    // the run to min-of-2, which converges to the record methodology even
    // on a noisy host. Skipped in REPEAT/filtered modes.
    def medianRatio: Option[Double] = {
      val rs = best.collect {
        case (k, v) if reference.get(k).exists(_ > 0.05) => v / reference(k)
      }.toSeq.sorted
      if (rs.isEmpty) None else Some(rs(rs.size / 2))
    }
    var escalated = false
    if (repeat == 1 && only.isEmpty &&
        medianRatio.exists(_ > 1.2 * hfRun)) {
      escalated = true
      System.err.println(s"[bench] median ratio ${medianRatio.get} > " +
        s"${1.2 * hfRun} (1.2 x host factor $hfRun) after retries: " +
        "escalating to a full second pass (min-of-2)")
      runPass()
    }
    val wallSec = (System.nanoTime() - wallT0) / 1e9
    val results: Map[String, Double] = best.toMap

    val calEnd = calibrate()
    val loadEnd = loadAvg
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cal = s"""{"sec_start":${fmt(calStart)},"sec_end":${fmt(calEnd)},""" +
      s""""load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadEnd)},"cpus":$cpus}"""

    // Comparability self-report vs the committed reference: median and p90
    // of per-query time ratios over the common query set, plus a verdict
    // the driver/judge can read without cross-JSON forensics.
    val ratios = results.collect {
      case (k, v) if reference.get(k).exists(_ > 0.05) => v / reference(k)
    }.toSeq.sorted
    val cmp =
      if (ratios.isEmpty) s""""comparability":"no_reference""""
      else {
        val med = ratios(ratios.size / 2)
        val p90 = ratios((ratios.size * 9) / 10 min (ratios.size - 1))
        // verdict on the probe-NORMALIZED median (hostFactor doc): both
        // ends' probes are in by now, so use the less-contended one
        val hf = hostFactor(math.min(calStart, calEnd), refProbe)
        val verdict =
          if (med / hf <= 1.15) "comparable"
          else if (med / hf <= 1.35) "mildly_inflated_check_calibration"
          else "inflated_do_not_compare"
        s""""ratio_vs_detail":{"median":${fmt(med)},"p90":${fmt(p90)},""" +
          s""""median_norm":${fmt(med / hf)},"p90_norm":${fmt(p90 / hf)},""" +
          s""""host_factor":${fmt(hf)},""" +
          s""""n":${ratios.size}},"comparability":"$verdict""""
      }
    val retryErrs = retryErrors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noise = s""""repeat":$repeat,"retried":$retried,""" +
      s""""retry_errors":$retryErrs,"escalated":$escalated,""" +
      s""""spike_sec_recovered":${fmt(spikeRecovered)},"wall_sec":${fmt(wallSec)},$cmp"""

    // Full-precision sidecar: every query, never truncated. Record file
    // only under the explicit repeat>=2 methodology (see detailPathFor).
    val detailPath = detailPathFor(repeat, only.nonEmpty).getOrElse("none")
    val fullQs = results.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":$fullQs,"errors":$errs,"calibration":$cal,$noise,"sf":"$sfDir"}"""
    detailPathFor(repeat, only.nonEmpty).foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (detail + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    }

    // Stdout line: slowest queries first, truncated to fit the byte budget.
    val sorted = results.toSeq.sortBy(-_._2)
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{"""
    val tail0 = s"""},"n_queries":${results.size},"n_shown":NNN,"errors":$errs,""" +
      s""""calibration":$cal,$noise,"sf":"$sfDir","detail":"$detailPath"}"""
    val fixed = head.length + tail0.length
    val shown = scala.collection.mutable.ListBuffer.empty[String]
    var used = fixed
    var i = 0
    while (i < sorted.size) {
      val (k, v) = sorted(i)
      val ent = s"\"$k\":${fmt(v)}"
      val add = ent.length + (if (shown.nonEmpty) 1 else 0)
      if (used + add <= LineBudget) { shown += ent; used += add }
      i += 1
    }
    val line = head + shown.mkString(",") +
      tail0.replace("NNN", shown.size.toString)
    println(line)
    spark.stop()
  }
}

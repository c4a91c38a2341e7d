package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan linter: the 100 TB design checklist this repo audits by hand
  * (PlanDump) and pins in CI (PlanShapeSpec), packaged as a library API
  * over any DataFrame's physical plan. Every rule is a scale smell that
  * is invisible at lab size and dominant at cluster size:
  *
  *  - `cartesian-product` / `broadcast-nested-loop`: quadratic joins —
  *    error unless the BUILD side is a deliberate single-row broadcast
  *    attach. The exempt shape is exactly the repo's totals-attach
  *    convention `crossJoin(broadcast(agg))`: a naked `crossJoin(agg)`
  *    only becomes the same BNLJ while runtime stats prove the side
  *    tiny, and degrades to a flagged cartesian product the moment they
  *    can't (checkpointed state, external source) — write the broadcast
  *    explicitly.
  *  - `global-window`: a window with no PARTITION BY — error unless the
  *    input is provably bounded (a limit in the plan), since it funnels
  *    the whole frame through one partition.
  *  - `broadcastable-not-broadcast`: a shuffle join whose smaller side's
  *    estimated size is under the session's autoBroadcastJoinThreshold —
  *    usually a missing stats hint on checkpointed/iterative state (the
  *    exact bug Graph.sideStrategy exists to prevent).
  *  - `unpushed-filter`: a parquet scan with data filters that pushed
  *    nothing down to the reader.
  *  - `wide-scan`: a scan reading 8+ columns, every column of the file —
  *    fine for SELECT *, a pruning failure in a narrow pipeline.
  *  - `shuffle-count` / `codegen-coverage`: informational totals.
  *
  * Static analysis only — no jobs run. Severities: `error` (will not
  * survive a scale-up), `warn` (investigate), `info` (context).
  */
object PlanLint {

  case class Finding(rule: String, severity: String, detail: String)

  def lint(df: DataFrame): Seq[Finding] =
    lintPlan(df.queryExecution.executedPlan, df.sparkSession)

  /** Lint an already-materialized physical plan — the entry point for
    * executed-plan capture ([[lintExecuted]]), where there is no live
    * DataFrame to hand over. */
  def lintPlan(plan: SparkPlan,
      spark: org.apache.spark.sql.SparkSession): Seq[Finding] = {
    val threshold = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val thresholdBytes = parseBytes(threshold)
    val nodes = collectAll(plan)
    val findings = scala.collection.mutable.ArrayBuffer.empty[Finding]

    nodes.foreach {
      case j: CartesianProductExec =>
        findings += Finding("cartesian-product", "error",
          s"cartesian product over ${j.left.nodeName} x ${j.right.nodeName}" +
            " - quadratic at scale; add a join key or bound a side")
      case j: BroadcastNestedLoopJoinExec =>
        // exempt ONLY the single-row broadcast-attach shape: the build
        // (broadcast) side provably one row. A single-row STREAMED side
        // against a multi-row broadcast build is still wrong at scale —
        // it broadcasts the big side.
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        if (!maxRowsOf(build).exists(_ <= 1L))
          findings += Finding("broadcast-nested-loop", "error",
            "nested-loop join with a multi-row build side - every probe row" +
              " scans the whole build side; make it an equi-join, or if this" +
              " is a totals attach, broadcast a provably single-row side" +
              " (crossJoin(broadcast(agg)))")
      case j: SortMergeJoinExec =>
        smallSide(j.left, j.right, thresholdBytes).foreach { side =>
          findings += Finding("broadcastable-not-broadcast", "warn",
            s"sort-merge join but the $side side is estimated under the " +
              s"broadcast threshold ($thresholdBytes B) - missing stats " +
              "(checkpointed state?) or threshold off; consider broadcast()")
        }
      case j: ShuffledHashJoinExec =>
        smallSide(j.left, j.right, thresholdBytes).foreach { side =>
          findings += Finding("broadcastable-not-broadcast", "warn",
            s"shuffled hash join but the $side side is estimated under the " +
              s"broadcast threshold ($thresholdBytes B); consider broadcast()")
        }
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty =>
        // a global window over a provably bounded input (a limit in the
        // plan carries logical maxRows) is a legitimate verification
        // shape; over an unbounded frame it funnels the whole corpus
        // through one partition — the same exemption logic as the
        // single-row BNLJ attach above
        if (maxRowsOf(w.child).exists(_ <= 10000L))
          findings += Finding("global-window", "info",
            "window with no PARTITION BY over a provably bounded input " +
              "(maxRows <= 10000) - acceptable verification shape")
        else
          findings += Finding("global-window", "error",
            "window with no PARTITION BY funnels every row through one " +
              "partition - a single-executor bottleneck on a corpus-sized " +
              "frame; bound the input (limit) or add PARTITION BY")
      case s: FileSourceScanExec =>
        val pushed = s.metadata.getOrElse("PushedFilters", "[]")
        if (s.dataFilters.nonEmpty && pushed == "[]")
          findings += Finding("unpushed-filter", "warn",
            s"scan of ${shortLoc(s)} has ${s.dataFilters.size} data filter(s)" +
              " but pushed none to the reader - rows decode before filtering")
        val read = s.requiredSchema.size
        if (read >= 8 && read == s.relation.dataSchema.size)
          findings += Finding("wide-scan", "info",
            s"scan of ${shortLoc(s)} reads all $read columns - fine for " +
              "SELECT *, a pruning failure in a narrow pipeline")
      case _ =>
    }

    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    findings += Finding("shuffle-count", "info", s"$shuffles shuffle exchange(s)")
    val codegen = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    findings += Finding("codegen-coverage", "info",
      s"$codegen whole-stage codegen span(s) over ${nodes.size} nodes")
    findings.toSeq
  }

  /** Findings as a DataFrame, for notebook/SQL consumption. */
  def lintReport(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    lint(df).toDF("rule", "severity", "detail")
  }

  /** Errors only — the CI-gate subset. */
  def errors(df: DataFrame): Seq[Finding] =
    lint(df).filter(_.severity == "error")

  /** Run `action` while capturing EVERY query execution it triggers on
    * the session: (action result, (funcName, execution) in completion
    * order). The plans of operators whose work happens eagerly (lake
    * DML, iterative loops, foreachBatch sinks) are the jobs they run,
    * not the frame they return, so a frame's own plan never shows them.
    *
    * QueryExecutionListener delivery is asynchronous; the listener bus is
    * drained BEFORE registering (so an event still queued from an earlier
    * action is not misattributed to this one) and again before reading
    * the capture. Failed executions are skipped (they surface through the
    * action itself).
    *
    * The capture is session-global: any execution COMPLETING on this
    * session while `action` runs is attributed to it. Callers hold the
    * single-threaded-session invariant — in this repo the test suites
    * share one session and run sequentially, and every stream drain
    * completes inside its builder before returning — so the attribution
    * is exact here; a concurrently-shared session would need per-
    * execution tagging before trusting the capture. */
  def captureExecutions[A](spark: org.apache.spark.sql.SparkSession)
      (action: => A): (A, Seq[(String, QueryExecution)]) = {
    org.apache.spark.GraftListenerBridge.drainListenerBus(
      spark.sparkContext, 30000)
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = { captured.add((funcName, qe)); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result =
      try {
        val a = action
        org.apache.spark.GraftListenerBridge.drainListenerBus(
          spark.sparkContext, 30000)
        a
      } finally spark.listenerManager.unregister(listener)
    (result, captured.toArray(Array.empty[(String, QueryExecution)]).toSeq)
  }

  /** [[captureExecutions]], then lint each captured physical plan — the
    * post-hoc gate for operators whose work happens eagerly, which the
    * lazy `lint(df)` entry point never sees. Returns (action result,
    * findings across all captured executions); a plan that cannot be
    * linted post-hoc is recorded as an `unlintable` info finding rather
    * than crashing the audit. */
  def lintExecuted[A](spark: org.apache.spark.sql.SparkSession)
      (action: => A): (A, Seq[Finding]) = {
    val (result, captured) = captureExecutions(spark)(action)
    val findings = captured.flatMap { case (_, qe) =>
      scala.util.Try(lintPlan(qe.executedPlan, spark)) match {
        case scala.util.Success(fs) => fs
        case scala.util.Failure(e) =>
          Seq(Finding("unlintable", "info",
            s"captured execution could not be linted post-hoc: $e"))
      }
    }
    (result, findings)
  }

  // AQE wraps the real plan; subqueries hang off expressions — walk both.
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case other => other +: other.children.flatMap(collectAll)
    }
    self ++ p.subqueries.flatMap(collectAll)
  }

  // Exchange/reused nodes often carry no logicalLink; the first linked
  // descendant (e.g. the Aggregate under a BroadcastExchange) does. Only
  // descend through LINKLESS single-child wrappers — descending past a
  // linked multi-row node could surface an unrelated single-row input
  // and mask a real quadratic join.
  private def maxRowsOf(p: SparkPlan): Option[Long] = {
    def firstMaxRows(q: SparkPlan): Option[Long] = q.logicalLink match {
      case Some(l) => l.maxRows
      case None if q.children.size == 1 => firstMaxRows(q.children.head)
      case None => None
    }
    firstMaxRows(p)
  }

  /** Which side (if any) of a shuffle join sits under the broadcast
    * threshold by logical size estimate. */
  private def smallSide(l: SparkPlan, r: SparkPlan,
      threshold: Long): Option[String] = {
    if (threshold <= 0) return None
    // SMJ children are Sort/Exchange wrappers without logicalLinks;
    // descend like maxRowsOf does
    def size(p: SparkPlan): Option[BigInt] = p.logicalLink match {
      case Some(l) => Some(l.stats.sizeInBytes)
      case None if p.children.size == 1 => size(p.children.head)
      case None => None
    }
    (size(l), size(r)) match {
      case (Some(a), _) if a <= threshold => Some("left")
      case (_, Some(b)) if b <= threshold => Some("right")
      case _ => None
    }
  }

  private def shortLoc(s: FileSourceScanExec): String = {
    val loc = s.metadata.getOrElse("Location", "")
    loc.split('/').takeRight(1).headOption.getOrElse(loc).stripSuffix("]")
  }

  // Accepts every form Spark's own byte-conf parser does: "10485760",
  // "10m", "10mb", "1g", "512kb", "1tb" (strip an optional trailing 'b'
  // FIRST, then the unit letter — "10mb".endsWith("m") is false).
  private def parseBytes(v: String): Long = {
    val t0 = v.trim.toLowerCase
    val t = if (t0.length > 1 && t0.endsWith("b") &&
      "kmgtp".contains(t0.charAt(t0.length - 2))) t0.dropRight(1) else t0
    val (num, mult) =
      if (t.endsWith("k")) (t.dropRight(1), 1L << 10)
      else if (t.endsWith("m")) (t.dropRight(1), 1L << 20)
      else if (t.endsWith("g")) (t.dropRight(1), 1L << 30)
      else if (t.endsWith("t")) (t.dropRight(1), 1L << 40)
      else if (t.endsWith("p")) (t.dropRight(1), 1L << 50)
      else if (t.endsWith("b")) (t.dropRight(1), 1L)
      else (t, 1L)
    scala.util.Try(num.trim.toDouble * mult).map(_.toLong).getOrElse(-1L)
  }
}

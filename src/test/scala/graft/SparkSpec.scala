package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf = "/root/testdata/sf0.001"

  /** This JVM's scratch root for the specs' table dirs. */
  def tablesRoot: String = SparkSpec.tablesRoot

  /** Walk an EXECUTED physical plan including AQE wrappers: a
    * materialized query stage's subtree hangs off `plan`, not
    * `children`, so a plain `collect` over an adaptive plan finds no
    * scans at all. One shared definition so every partition-pruning
    * pin descends the same way (a future Spark wrapper node gets fixed
    * once, here). */
  def physPlanNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      physPlanNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      physPlanNodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      physPlanNodes(r.child)
    case other => other +: other.children.flatMap(physPlanNodes)
  }

  /** Input bytes read by the tasks `action` runs: the listener bus is
    * drained before the listener goes on and again before it comes off,
    * so no other action's tasks are counted. The cost-shape pin of an
    * O(changes) claim compares it against the bytes of the table that
    * must NOT be scanned.
    *
    * Parquet's vectored reads (on by default in parquet 1.16) fetch
    * column chunks on threads the task's filesystem statistics don't
    * see, so a full scan would count only its footers (a 60k-row,
    * 668 kB table scanned whole read as 11 kB). They are switched off
    * while `action` runs, so the count includes every column chunk. */
  def bytesReadBy(action: => Any): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          { bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead); () }
    }
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val vectored = "parquet.hadoop.vectored.io.enabled"
    val was = Option(hadoopConf.get(vectored))
    org.apache.spark.GraftListenerBridge.drainListenerBus(
      spark.sparkContext, 30000)
    hadoopConf.set(vectored, "false")
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      org.apache.spark.GraftListenerBridge.drainListenerBus(
        spark.sparkContext, 30000)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      was.fold(hadoopConf.unset(vectored))(hadoopConf.set(vectored, _))
    }
    bytes.get
  }

  /** Executed FileSourceScanExec nodes of `df` whose scan path contains
    * `pathPart` — materializes the frame first so AQE's final plan (and
    * its metrics) exist. */
  def executedScansOf(df: org.apache.spark.sql.DataFrame, pathPart: String):
      Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    df.collect()
    physPlanNodes(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths
          .exists(_.toString.contains(pathPart)) => f
    }
  }
}

object SparkSpec {
  /** One temp dir per JVM (`graft_spec_tables*` under java.io.tmpdir),
    * deleted at exit: two processes running specs (or a spec run and a
    * Verify run) never share table dirs and delete each other's files
    * mid-read. */
  lazy val tablesRoot: String =
    Tables.scratchRoot("graft_spec_tables").toString

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

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
  lazy val tablesRoot: String = {
    import java.nio.file.{Files, Path}
    val d = Files.createTempDirectory("graft_spec_tables")
    sys.addShutdownHook(scala.util.Try(Files.walk(d)
      .sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))))
    d.toString
  }

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

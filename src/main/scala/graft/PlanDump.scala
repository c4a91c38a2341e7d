package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: write `.explain("formatted")` for named queries to files —
  * the plan-evidence side of an optimization round (guide §1: capture the
  * plan shape — Exchange count, join strategy, PushedFilters/ReadSchema —
  * before and after each change).
  *
  * `sbt "runMain graft.PlanDump <sfDir> <outDir> q_a,q_b"` (or java -cp
  * against the compiled classes; the session mirrors Bench's config).
  *
  * Note: composite queries (lakehouse create→churn→maintain→serve rows)
  * EXECUTE their side effects while the DataFrame is being constructed;
  * the captured plan is the returned (served) query only. Internal
  * commit-path plans are pinned by PlanLint/spec assertions instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        Files.writeString(Paths.get(outDir, s"$n.txt"),
          df.queryExecution.explainString(mode))
        println(s"[plandump] wrote $outDir/$n.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }
}

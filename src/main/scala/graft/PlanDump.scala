package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.plans.PlanLint

/** Dev tool: write `.explain("formatted")` for named queries to files —
  * the plan-evidence side of an optimization round (guide §1: capture the
  * plan shape — Exchange count, join strategy, PushedFilters/ReadSchema —
  * before and after each change).
  *
  * `sbt "runMain graft.PlanDump <sfDir> <outDir> q_a,q_b"` (or java -cp
  * against the compiled classes; the session is [[DevSession]]'s).
  *
  * Per query it writes two files:
  *  - `<q>.txt`: the plan of the returned (served) query;
  *  - `<q>.exec.txt`: every action the query EXECUTED while being
  *    built (composite lakehouse queries run create → churn → maintain
  *    before returning), in completion order, each as its executed plan
  *    with expression ids, temp roots and random ids masked so two trees'
  *    dumps diff cleanly.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = DevSession.start()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    names.foreach { n =>
      try {
        val (df, executed) = PlanLint.captureExecutions(spark) {
          SparkEntry.queries(n)(spark, sfDir)
        }
        Files.writeString(Paths.get(outDir, s"$n.txt"),
          df.queryExecution.explainString(mode))
        Files.writeString(Paths.get(outDir, s"$n.exec.txt"),
          executed.zipWithIndex.map { case ((funcName, qe), i) =>
            s"== action $i: $funcName ==\n" + mask(qe.explainString(mode))
          }.mkString("\n"))
        println(s"[plandump] wrote $outDir/$n.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }

  /** What differs between two runs of the same code: expression ids,
    * the temp dir and its per-JVM roots (`graft_tables<random>`), random
    * UUIDs (Observation names, part files), what AQE numbers in
    * stage-completion order (exchange plan ids, codegen stage ids, query
    * stage ids) or measures at run time (a query stage's shuffle bytes),
    * and source lines of RDD call sites (a checkpoint's
    * `at IncrementalView.scala:<line>`), which move with any edit. */
  private def mask(plan: String): String = {
    val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
    plan.replace(tmp, "TMP")
      .replaceAll("#[0-9]+", "#N")
      .replaceAll("(graft_[a-z_]*[a-z])[0-9]+", "$1N")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
        "UUID")
      .replaceAll("plan_id=[0-9]+", "plan_id=N")
      .replaceAll("codegen id : [0-9]+", "codegen id : N")
      .replaceAll("(?m)^Arguments: [0-9]+$", "Arguments: N")
      .replaceAll("sizeInBytes=[0-9.]+ [A-Za-z]+", "sizeInBytes=S")
      .replaceAll("\\.scala:[0-9]+", ".scala:L")
  }
}

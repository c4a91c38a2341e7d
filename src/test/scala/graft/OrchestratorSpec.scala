package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipelines.{Orchestrator, Pipelines}
import graft.table.LakeTable

/** The composed job driver: all three reference jobs land their tables,
  * metrics come from one pass, reruns are idempotent, and a missing RI
  * dimension degrades to identity instead of failing the job. */
class OrchestratorSpec extends SparkSpec {

  private def freshRoot: String =
    Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "orch").toString

  test("runAll lands all three tables with one-pass metrics") {
    val root = freshRoot
    val reports = Orchestrator.runAll(spark, sf, root)
    assert(reports.map(_.entity) == Seq("products", "orders", "order_items"))
    reports.foreach { r =>
      assert(r.nInput == r.nValid + r.nRejected, r.toString)
      assert(r.nRejected == 0, r.toString) // parquet testdata has no bad keys
      assert(!r.riFallback, r.toString)
      assert(r.nMerged > 0, r.toString)
    }
    // merged state equals the standalone pipeline result
    val ordersTable = LakeTable(spark, root, "orders", Seq("o_orderkey")).read
    assert(ordersTable.count() == Pipelines.orders(spark, sf).count())
    // reject sinks and run logs exist (empty rejected still writes a dir)
    assert(Files.exists(java.nio.file.Paths.get(root, "rejected", "orders")))
    assert(Files.exists(java.nio.file.Paths.get(root, "logs", "orders")))
  }

  test("rerun is idempotent: merging the same rows changes nothing") {
    val root = freshRoot
    Orchestrator.runAll(spark, sf, root)
    val before = LakeTable(spark, root, "order_items",
      Seq("l_orderkey", "l_linenumber")).read
      .agg(count(lit(1)), sum("l_orderkey")).collect().toSeq
    val reports = Orchestrator.runAll(spark, sf, root)
    val after = LakeTable(spark, root, "order_items",
      Seq("l_orderkey", "l_linenumber")).read
      .agg(count(lit(1)), sum("l_orderkey")).collect().toSeq
    assert(before == after)
    assert(reports.forall(!_.riFallback))
  }

  test("presence gate: entity with no input file is skipped, others still run") {
    val root = freshRoot
    // staging dir holding only the orders input — products (part) and
    // order_items (lineitem) have "no files" and must be skipped
    val staging = Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "orch_in")
    Files.createSymbolicLink(staging.resolve("orders.parquet"),
      java.nio.file.Paths.get(s"$sf/orders.parquet"))
    val reports = Orchestrator.runAll(spark, staging.toString, root)
    assert(reports.map(_.entity) == Seq("orders"))
    // the skipped jobs wrote nothing
    assert(!Files.exists(java.nio.file.Paths.get(root, "products")))
    assert(!Files.exists(java.nio.file.Paths.get(root, "order_items")))
    // orders ran with the RI fallback (lineitem dim absent in staging)
    assert(reports.head.riFallback)
    assert(reports.head.nMerged > 0)
  }

  test("archive-after-success moves inputs aside; rerun sees nothing to do") {
    val root = freshRoot
    val staging = Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "orch_arch")
    Seq("part", "orders", "lineitem").foreach(t =>
      Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        staging.resolve(s"$t.parquet")))
    val first = Orchestrator.runAll(spark, staging.toString, root,
      archiveInputs = true)
    assert(first.map(_.entity) == Seq("products", "orders", "order_items"))
    // inputs moved to root/archive/<entity>/<file>.<timestamp>
    Seq("part", "orders", "lineitem").foreach(t =>
      assert(!Files.exists(staging.resolve(s"$t.parquet")), t))
    Seq("products", "orders", "order_items").foreach { e =>
      val archived = Files.list(
        java.nio.file.Paths.get(root, "archive", e)).toArray
      assert(archived.length == 1, e)
      assert(archived.head.toString
        .matches(""".*\.parquet\.\d+$"""), archived.head.toString)
    }
    // second run: everything archived → all three jobs skip
    val second = Orchestrator.runAll(spark, staging.toString, root,
      archiveInputs = true)
    assert(second.isEmpty)
  }

  test("missing RI dimension: job degrades to identity, does not fail") {
    val root = freshRoot
    val report = Orchestrator.runOrders(spark, sf, root,
      dimSfDir = Some("/tmp/definitely/not/a/table/dir"))
    assert(report.riFallback)
    // without the semi-join filter, every valid deduped order lands
    val expected = {
      import graft.ops.CoreOps
      val raw = Tables.load(spark, sf, "orders")
      val (valid, _) = CoreOps.splitValid(
        Seq("o_orderkey", "o_custkey", "o_orderdate"))(raw)
      CoreOps.latestWins(Seq("o_orderkey"), "o_orderdate")(valid).count()
    }
    assert(report.nMerged == expected)
  }
}

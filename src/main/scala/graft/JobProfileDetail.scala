package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev tool: run named queries and attribute per-JOB wall time to the
  * call site that scheduled it — the "where do the seconds actually go
  * inside a lakehouse composite" probe guide §1 asks for before touching
  * anything. A streaming job carries its call site in the `callSite.short`
  * job property; a batch job only carries the id of the SQL execution it
  * runs for (`spark.sql.execution.id`), so it is filed under the call site
  * of that execution's start event.
  *
  * Output: per query, total sec, scheduled job / stage / task counts
  * (each eager localCheckpoint is its own job, so the job count is the
  * direct probe of per-round scheduling overhead vs real shuffle work)
  * + the top call sites by summed job wall time with their job counts.
  * Driver-side gaps (planning, file ops, commit protocol between jobs)
  * show up as `total - sum(jobs)`.
  *
  * `sbt "runMain graft.JobProfileDetail <sfDir> q_a,q_b"`
  */
object JobProfileDetail {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.length > 1) args(1).split(",").map(_.trim).toSeq
      else Seq("q_mv_avg")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect() // session warmup
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try Tables.load(spark, sfDir, t).limit(1).collect()
      catch { case _: Throwable => () }
    }

    val starts = TrieMap.empty[Int, (Long, String)]
    val execSites = TrieMap.empty[String, String]
    val agg = TrieMap.empty[String, (Double, Int)]
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSites.put(x.executionId.toString, x.description); ()
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val prop = (k: String) => Option(j.properties).flatMap(p => Option(p.getProperty(k)))
        val site = prop("callSite.short")
          .orElse(prop("spark.sql.execution.id").flatMap(execSites.get))
          .getOrElse("<none>")
        starts.put(j.jobId, (System.nanoTime(), site)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        starts.remove(e.jobId).foreach { case (t0, site) =>
          val sec = (System.nanoTime() - t0) / 1e9
          val (s, n) = agg.getOrElse(site, (0.0, 0))
          agg.put(site, (s + sec, n + 1)); ()
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks); () }
    })

    // Per-ACTION attribution: every DataFrame action lands here with its
    // measured duration; the key is funcName + a plan identity hint
    // (write target's last path segments, or the root physical node).
    val execAgg = TrieMap.empty[String, (Double, Int)]
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        private def keyOf(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution): String = {
          val plan = qe.executedPlan
          val s = plan.toString.linesIterator.take(3).mkString(" | ")
          val path = "file:[^\\s,\\]]+".r.findFirstIn(s)
            .map(p => p.split('/').takeRight(2).mkString("/"))
            .getOrElse("")
          s"$funcName ${plan.nodeName} $path"
        }
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val k = keyOf(funcName, qe)
          val (s, n) = execAgg.getOrElse(k, (0.0, 0))
          execAgg.put(k, (s + durationNs / 1e9, n + 1)); ()
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    // Streaming micro-batch phase attribution: progress events carry
    // durationMs per phase (addBatch = the real work; the rest is
    // lifecycle — offset/commit logs, source listing, planning).
    val streamPhases = TrieMap.empty[String, (Long, Int)]
    var streamBatches = 0
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          streamBatches += 1
          e.progress.durationMs.forEach { (k, v) =>
            val (s, n) = streamPhases.getOrElse(k, (0L, 0))
            streamPhases.put(k, (s + v, n + 1)); ()
          }
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })

    names.foreach { n =>
      org.apache.spark.GraftListenerBridge.drainListenerBus(
        spark.sparkContext, 30000)
      agg.clear(); starts.clear(); execAgg.clear()
      stages.set(0); tasks.set(0)
      streamPhases.clear(); streamBatches = 0
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBridge.drainListenerBus(
        spark.sparkContext, 30000)
      val rows = agg.toSeq.sortBy(-_._2._1)
      val jobSec = rows.map(_._2._1).sum
      val jobs = rows.map(_._2._2).sum
      println(f"== $n: total $sec%.2f s, $jobs jobs summing $jobSec%.2f s, " +
        f"${stages.get} stages, ${tasks.get} tasks " +
        f"(driver gap ${sec - jobSec}%.2f s)")
      rows.take(25).foreach { case (site, (s, c)) =>
        println(f"   $s%7.2f s  $c%4d jobs  $site")
      }
      val execs = execAgg.toSeq.sortBy(-_._2._1)
      val execSec = execs.map(_._2._1).sum
      val execN = execs.map(_._2._2).sum
      println(f"   -- actions: $execN summing $execSec%.2f s " +
        f"(non-action driver time ${sec - execSec}%.2f s)")
      execs.take(30).foreach { case (k, (s, c)) =>
        println(f"   $s%7.2f s  $c%4d x  $k")
      }
      if (streamBatches > 0) {
        println(s"   -- streaming: $streamBatches micro-batch progress events")
        streamPhases.toSeq.sortBy(-_._2._1).foreach { case (k, (ms, c)) =>
          println(f"   ${ms / 1000.0}%7.2f s  $c%4d x  phase:$k")
        }
      }
    }
    spark.stop()
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer of a driver-thread stack (innermost frame first) and of a Spark
  * call site. */
object Layers {
  /** Program module of a class name, or None for code outside the
    * program (and for `operators`/`functions`, whose driver-side time
    * belongs to the module that called them). */
  def module(cn: String): Option[String] =
    if (!cn.startsWith("graft.")) None
    else if (cn.startsWith("graft.sources.") || cn.startsWith("graft.Tables")) Some("sources")
    else if (cn.startsWith("graft.ops.")) Some("ops")
    else if (cn.startsWith("graft.pipelines.")) Some("pipelines")
    else if (cn.startsWith("graft.table.IncrementalView")) Some("ivm")
    else if (cn.startsWith("graft.table.DedupIndex") || cn.startsWith("graft.table.AnnIndex"))
      Some("index")
    else if (cn.startsWith("graft.table.")) Some("table")
    else if (cn.startsWith("graft.plans.")) Some("plans")
    else if (cn.startsWith("graft.streaming.")) Some("streaming")
    else if (cn.startsWith("graft.operators.") || cn.startsWith("graft.functions.")) None
    else Some("driver")

  private val planPrefixes = Seq(
    "org.apache.spark.sql.catalyst.rules.RuleExecutor",
    "org.apache.spark.sql.catalyst.analysis.",
    "org.apache.spark.sql.catalyst.optimizer.",
    "org.apache.spark.sql.catalyst.planning.",
    "org.apache.spark.sql.execution.SparkStrategies",
    "org.apache.spark.sql.catalyst.expressions.codegen.",
    "graft.plans.")

  private def runtime(cn: String) = cn.startsWith("java.") || cn.startsWith("jdk.") ||
    cn.startsWith("sun.") || cn.startsWith("scala.")

  /** A parked thread whose first non-runtime frame is Spark waits on
    * Spark jobs (`exec`); otherwise the innermost Catalyst frame makes it
    * `plans` and the innermost program frame names the module. */
  def classify(st: Array[StackTraceElement]): String = {
    val parked = st.nonEmpty && (st(0).getMethodName.startsWith("park") ||
      st(0).getMethodName == "wait" || st(0).getMethodName == "wait0")
    val firstOwn = st.iterator.map(_.getClassName).find(c => !runtime(c))
    if (parked && firstOwn.exists(_.startsWith("org.apache.spark."))) return "exec"
    st.iterator.map(_.getClassName).foreach { cn =>
      if (planPrefixes.exists(cn.startsWith)) return "plans"
      module(cn) match {
        case Some(m) => return m
        case None =>
      }
    }
    "driver"
  }

  def entity(st: Array[StackTraceElement]): String =
    st.iterator.filter(_.getClassName.startsWith("graft.pipelines.Orchestrator"))
      .map(_.getMethodName).collectFirst {
        case "runProducts" => "products"
        case "runOrders" => "orders"
        case "runOrderItems" => "order_items"
      }.getOrElse("")

  /** Module of a Spark call-site long form (one frame per line, innermost
    * user frame first). */
  def ofCallSite(details: String): String =
    details.linesIterator.map(_.trim.takeWhile(_ != '('))
      .flatMap(f => module(f)).nextOption().getOrElse("driver")
}

/** Traced-run recorder: a Spark listener (jobs, tasks), a query-execution
  * listener (Catalyst phase times), a stack sampler on the op's driver
  * threads, and a filesystem snapshot at each op boundary. Ops started
  * while `enabled` is off are not sampled. */
final class Tracer(spark: SparkSession) {
  private final case class Job(id: Int, start: Long, var end: Long, module: String)
  private final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long, bytesRead: Long, recordsRead: Long)
  private final case class Qe(end: Long, analysis: Long, optimization: Long,
      planning: Long, files: Long)
  private final case class Tick(op: Int, t: Long, thread: Long, main: Boolean,
      layer: String, entity: String)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val ticks = new ConcurrentLinkedQueue[Tick]()
  private val fsStats = mutable.HashMap.empty[Int, Map[String, Double]]
  private var fsPrev: Map[String, (Any, Long)] = Map.empty

  // module of each SQL execution's call site: a job that AQE or a
  // broadcast submits from Spark's own thread pool carries no user frame,
  // only the id of the execution it belongs to
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val own = Layers.ofCallSite(x.details)
        execModule.put(x.executionId, if (own != "driver") own
          else x.rootExecutionId.flatMap(r => Option(execModule.get(r))).getOrElse(own))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val result = e.stageInfos.maxBy(_.stageId)
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      val module = Layers.ofCallSite(result.details) match {
        case "driver" => exec.flatMap(id => Option(execModule.get(id.toLong))).getOrElse("driver")
        case m => m
      }
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, module))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
      }
  })

  private object Plans extends AdaptiveSparkPlanHelper {
    def files(p: SparkPlan): Long = collectWithSubqueries(p) {
      case s if s.metrics.contains("numFiles") => s.metrics("numFiles").value
    }.sum
  }
  private def recordQe(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def ms(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
      val files = scala.util.Try(Plans.files(qe.executedPlan)).getOrElse(0L)
      qes.add(Qe(ph.values.map(_.endTimeMs).max, ms("analysis"), ms("optimization"),
        ms("planning"), files))
    }
  }
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = recordQe(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = recordQe(qe)
  })

  // ---- stack sampler ----
  private val mx = ManagementFactory.getThreadMXBean
  @volatile private var activeOp = -1
  @volatile private var opThread = -1L
  @volatile private var running = true
  val intervalNs = 5000000L

  private val sampler = new Thread(() => {
    var pool = Array.empty[Long]
    var lastOp = -1
    var n = 0
    while (running) {
      val op = activeOp
      if (op != lastOp) { pool = Array.empty; lastOp = op }
      if (op >= 0) {
        val ids = Array(opThread) ++ pool
        val infos = mx.getThreadInfo(ids, Int.MaxValue)
        val now = System.nanoTime
        infos.iterator.zip(ids.iterator).foreach { case (info, id) =>
          if (info != null) {
            val st = info.getStackTrace
            val isPool = id != opThread
            // a pool thread outside program code is idle: its empty layer
            // ends its previous segment
            val busy = !isPool || st.exists(_.getClassName.startsWith("graft."))
            ticks.add(Tick(op, now, id, !isPool, if (busy) Layers.classify(st) else "",
              if (isPool) Layers.entity(st) else ""))
            // Orchestrator.runAll's entity jobs run on a fresh pool per call
            if (!isPool && pool.length < 3 && n % 10 == 0 &&
                st.exists(_.getClassName.startsWith("graft.pipelines.Orchestrator")))
              pool = Thread.getAllStackTraces.keySet.asScala
                .filter(t => t.getName.startsWith("pool-") && t.isAlive &&
                  t.getStackTrace.exists(_.getClassName.startsWith("graft.")))
                .map(_.getId).toArray
          }
        }
        n += 1
      }
      LockSupport.parkNanos(intervalNs)
    }
  }, "perfbench-sampler")
  sampler.setDaemon(true)
  sampler.start()

  @volatile var enabled = false

  def begin(id: Int): Boolean = {
    if (enabled) {
      opThread = Thread.currentThread.getId
      activeOp = id
    }
    enabled
  }

  def end(): Unit = activeOp = -1

  // ---- filesystem at op boundaries ----
  private def snapshot(root: Path): Map[String, (Any, Long)] =
    if (!Files.isDirectory(root)) Map.empty
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .flatMap { p =>
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isRegularFile) Some(p.toString -> (a.fileKey: Any, a.size)) else None
        }.toMap
    }

  def start(root: String): Unit = fsPrev = snapshot(Paths.get(root))

  /** New files (new inodes), hard links (new paths onto known inodes) and
    * partitions rewritten since the previous op boundary. */
  def afterOp(ctx: Ctx, s: Sample): Unit = {
    val now = snapshot(Paths.get(ctx.root))
    if (s.traced && !s.read) {
      val known = fsPrev.values.map(_._1).toSet
      val added = now.filter { case (p, _) => !fsPrev.contains(p) }
      val (links, fresh) = added.partition { case (_, (k, _)) => known.contains(k) }
      val version = "(.*/v\\d+)/([^/]+=[^/]+)/[^/]+".r
      val touched = fresh.keys.collect { case version(v, part) => (v, part) }
        .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet.size }
      val ratio = touched.map { case (v, n) =>
        val parts = Option(Paths.get(v).toFile.list()).map(_.count(_.contains("="))).getOrElse(0)
        if (parts == 0) 0.0 else n.toDouble / parts
      }
      fsStats(s.id) = Map(
        "files" -> fresh.size.toDouble,
        "links" -> links.size.toDouble,
        "bytes_written" -> fresh.values.map(_._2).sum.toDouble,
        "parts_rewritten_ratio" -> (if (ratio.isEmpty) 0.0 else ratio.sum / ratio.size))
    }
    fsPrev = now
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Per traced op: spans (op, thread segments) for the self-time sweep,
    * entity spans, and counters from the listeners and the filesystem. */
  def finish(ctx: Ctx): Map[String, Any] = {
    running = false
    sampler.join()
    org.apache.spark.PerfbenchAccess.drain(spark.sparkContext)
    val byOp = ticks.asScala.toSeq.groupBy(_.op)
    val taskByJob = tasks.asScala.toSeq.groupBy(t => stageJob.getOrDefault(t.stage, -1))
    val allJobs = jobs.values.asScala.toSeq
    val allQes = qes.asScala.toSeq
    val ops = ctx.samples.filter(_.traced).map { s =>
      val ms = (t: Long) => (t - s.t0) / 1e6
      val wallMs = (s.t1 - s.t0) / 1e6
      val spans = mutable.ArrayBuffer[Map[String, Any]](
        Map("id" -> 0, "parent" -> -1, "layer" -> "driver", "start" -> 0.0, "end" -> wallMs))
      val entities = mutable.HashMap.empty[String, (Double, Double)]
      val opTicks = byOp.getOrElse(s.id, Nil)
      val mainSegs = mutable.ArrayBuffer.empty[(Int, Double, Double)]
      // the op thread's segments first: pool-thread segments nest under them
      opTicks.groupBy(_.thread).toSeq.sortBy(!_._2.head.main).foreach { case (_, ts0) =>
        val ts = ts0.sortBy(_.t)
        val isMain = ts.head.main
        // a sample's layer holds until the same thread's next sample (the
        // op's end for the op thread); idle pool samples emit no span
        var i = 0
        while (i < ts.size) {
          var j = i
          while (j + 1 < ts.size && ts(j + 1).layer == ts(i).layer) j += 1
          val start = ms(ts(i).t)
          val end = math.min(wallMs,
            if (j + 1 < ts.size) ms(ts(j + 1).t)
            else if (isMain) wallMs
            else ms(ts(j).t + intervalNs))
          val id = spans.size
          val parent =
            if (isMain) 0
            else mainSegs.find { case (_, a, b) => a <= start && start < b }.map(_._1).getOrElse(0)
          if (end > start && ts(i).layer.nonEmpty) {
            spans += Map("id" -> id, "parent" -> parent, "layer" -> ts(i).layer,
              "start" -> start, "end" -> end)
            if (isMain) mainSegs += ((id, start, end))
          }
          i = j + 1
        }
        ts.filter(_.entity.nonEmpty).groupBy(_.entity).foreach { case (e, es) =>
          val (a, b) = (ms(es.map(_.t).min), ms(es.map(_.t).max + intervalNs))
          entities(e) = entities.get(e).map { case (x, y) => (x min a, y max b) }
            .getOrElse((a, b))
        }
      }
      val opJobs = allJobs.filter(j => j.start >= s.w0 && j.start <= s.w1)
      val opTasks = opJobs.flatMap(j => taskByJob.getOrElse(j.id, Nil))
      def interval(j: Job) = (math.max(j.start, s.w0), math.min(if (j.end < 0) s.w1 else j.end, s.w1))
      val jobIv = opJobs.map(interval)
      val opQes = allQes.filter(q => q.end >= s.w0 && q.end <= s.w1)
      def jobsOf(m: String) = opJobs.count(_.module == m).toDouble
      def recordsOf(m: String) = opJobs.filter(_.module == m)
        .flatMap(j => taskByJob.getOrElse(j.id, Nil)).map(_.recordsRead).sum.toDouble
      val runMs = opTasks.map(_.runMs).sum.toDouble
      val counters = Map[String, Double](
        "exec.jobs" -> opJobs.size.toDouble,
        "exec.tasks" -> opTasks.size.toDouble,
        "exec.task_run_ms" -> runMs,
        "exec.task_cpu_ms" -> opTasks.map(_.cpuNs).sum / 1e6,
        "exec.gc_ms" -> opTasks.map(_.gcMs).sum.toDouble,
        "exec.shuffle_write_bytes" -> opTasks.map(_.shuffleWrite).sum.toDouble,
        "exec.spill_bytes" -> opTasks.map(_.spill).sum.toDouble,
        "sources.load_ms" -> union(opJobs.filter(_.module == "sources").map(interval)).toDouble,
        "sources.scan_ms" -> opTasks.filter(_.bytesRead > 0).map(_.runMs).sum.toDouble,
        "sources.bytes_read" -> opTasks.map(_.bytesRead).sum.toDouble,
        "sources.files_read" -> opQes.map(_.files).sum.toDouble,
        "plans.analysis_ms" -> opQes.map(_.analysis).sum.toDouble,
        "plans.optimization_ms" -> opQes.map(_.optimization).sum.toDouble,
        "plans.planning_ms" -> opQes.map(_.planning).sum.toDouble,
        "plans.actions_per_op" -> opQes.size.toDouble,
        "driver.gap_ms" -> (wallMs - union(jobIv)),
        "table.jobs" -> jobsOf("table"),
        "ivm.jobs" -> jobsOf("ivm"),
        "index.jobs" -> jobsOf("index"),
        "ivm.rows_read" -> recordsOf("ivm"),
        "index.rows_read" -> recordsOf("index"))
      Map("id" -> s.id, "kind" -> s.kind, "read" -> s.read, "group" -> s.group,
        "wall_ms" -> wallMs, "rows" -> s.rows, "extra" -> s.extra,
        "ticks" -> opTicks.count(_.main),
        "counters" -> counters, "fs" -> fsStats.getOrElse(s.id, Map.empty),
        "entities" -> entities.map { case (e, (a, b)) => e -> (b - a) },
        "spans" -> spans)
    }
    Map("ops" -> ops, "fs_entries" -> snapshot(Paths.get(ctx.root)).size, "versions_retained" -> versions(Paths.get(ctx.root)))
  }

  private def versions(root: Path): Int =
    if (!Files.isDirectory(root)) 0
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator().asScala.count(p => Files.isDirectory(p) &&
        p.getFileName.toString.matches("v\\d+") &&
        Files.exists(p.getParent.resolve("CURRENT")))
    }
}

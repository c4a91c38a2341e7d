package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One measured unit of work (or one read op) of a closed-loop client. */
final case class Sample(id: Int, kind: String, read: Boolean, group: Int,
    t0: Long, t1: Long, w0: Long, w1: Long, ok: Boolean, rows: Long,
    traced: Boolean, extra: Map[String, Double])

/** Result of one output check: a mismatch fails the run. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Shared state of one benchmark process: the session, the input and run
  * directories, the recorded samples and the optional tracer. */
final class Ctx(val spark: SparkSession, val inputs: String,
    val runDir: String, val tracer: Option[Tracer]) {
  val samples = ArrayBuffer.empty[Sample]
  var measuring = false
  /** Lake root of the measured loop. */
  var root = ""
  private var rows = 0L
  private var extra = Map.empty[String, Double]
  private var nextId = 0

  def noteRows(n: Long): Unit = rows += n
  def noteExtra(k: String, v: Double): Unit = extra += k -> v

  /** Run one closed-loop op. Outside the measured window it only runs
    * `f` (a failure there aborts the run); inside it records a sample
    * and counts a thrown exception as a failed op. */
  def op[T](kind: String, read: Boolean = false, group: Int = -1)(f: => T): Option[T] = {
    if (!measuring) return Some(f)
    val id = nextId
    nextId += 1
    rows = 0L
    extra = Map.empty
    val traced = tracer.exists(_.begin(id))
    val w0 = System.currentTimeMillis
    val t0 = System.nanoTime
    val r =
      try Some(f)
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] op $id ($kind) failed: $e")
          None
      }
    val t1 = System.nanoTime
    val w1 = System.currentTimeMillis
    if (traced) tracer.foreach(_.end())
    samples += Sample(id, kind, read, group, t0, t1, w0, w1, r.isDefined,
      rows, traced, extra)
    if (traced) tracer.foreach(_.afterOp(this, samples.last))
    r
  }

  /** Mark the latest sample failed: its output did not match the
    * expected value (checked after the op, outside its timing). */
  def markLastFailed(why: String): Unit =
    if (measuring && samples.nonEmpty) {
      System.err.println(s"[perfbench] op ${samples.last.id} " +
        s"(${samples.last.kind}) output mismatch: $why")
      samples(samples.size - 1) = samples.last.copy(ok = false)
    }
}

/** A seeded closed-loop workload driven through the program's public
  * entry points. `build` (re)creates the initial state under `root` and
  * resets every cursor; `step` issues the next unit of work and returns
  * false once the generated inputs are used up. */
trait Workload {
  def build(ctx: Ctx, root: String): Unit
  def step(ctx: Ctx): Boolean
  def warmSteps: Int
  def check(ctx: Ctx): Seq[Check]
  /** Whether the measured loop may stop here: runs end on a boundary so
    * that every run covers the same mix of op kinds. */
  def atBoundary: Boolean = true
}

object Main {
  def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload W --inputs DIR " +
      "--run DIR --seconds S --trace 0|1 --cores N --out FILE")
    sys.exit(2)
  }

  def peakRssKb(): Long = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    lines.toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case _ => usage() }.toMap
    def arg(k: String) = a.getOrElse(k, usage())
    val workloadName = arg("workload")
    val runDir = Paths.get(arg("run")).toAbsolutePath
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt

    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis - procStartMs) / 1000.0

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, arg("inputs"), runDir.toString, tracer)
    val wl: Workload = workloadName match {
      case "etl_ingest" => new EtlIngest(ctx)
      case "lake_dml" => new LakeDml(ctx)
      case "feed_maintain" => new FeedMaintain(ctx)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val lake = runDir.resolve("lake")

    // set-up: the initial state, then the JIT and class-loading warm-up
    // steps on it; the measured loop goes on from there, so setup_s is the
    // time from process start to the first timed op
    val root = lake.resolve("root")
    val tb = System.nanoTime
    wl.build(ctx, root.toString)
    val buildS = (System.nanoTime - tb) / 1e9
    val tw = System.nanoTime
    (0 until wl.warmSteps).foreach(_ => wl.step(ctx))
    val warmupS = (System.nanoTime - tw) / 1e9

    // the measured loop: closed-loop steps until the window has passed and
    // the workload sits on a boundary (or its inputs run out). A traced
    // run measures twice as long and traces steps in the pattern
    // untraced, traced, traced, untraced, so the JIT still settling over
    // the run favours neither side of the tracing-overhead ratio
    ctx.root = root.toString
    val load0 = loadAvg()
    ctx.measuring = true
    val start = System.nanoTime
    val deadline = start + ((if (trace) 2 else 1) * seconds * 1e9).toLong
    val hardDeadline = start + (6 * seconds * 1e9).toLong
    var more = true
    var steps = 0
    while (more && (System.nanoTime < deadline || !wl.atBoundary) &&
        System.nanoTime < hardDeadline) {
      tracer.foreach { t =>
        t.enabled = steps % 4 == 1 || steps % 4 == 2
        if (t.enabled) t.start(ctx.root)
      }
      more = wl.step(ctx)
      steps += 1
    }
    val measuredS = (System.nanoTime - start) / 1e9
    ctx.measuring = false
    val load1 = loadAvg()

    val checks = wl.check(ctx)
    val traceOut = tracer.map(_.finish(ctx)).getOrElse(Map.empty)
    val out = Map(
      "workload" -> workloadName,
      "cores" -> cores,
      "setup" -> Map("session_s" -> sessionS, "build_s" -> buildS, "warmup_s" -> warmupS),
      "measured_s" -> measuredS,
      "inputs_exhausted" -> !more,
      "load_avg" -> Seq(load0, load1),
      "peak_rss_kb" -> peakRssKb(),
      "lake_root" -> root.toString,
      "samples" -> ctx.samples.map(s => Map(
        "id" -> s.id, "kind" -> s.kind, "read" -> s.read, "group" -> s.group,
        "t0" -> s.t0, "t1" -> s.t1, "ok" -> s.ok, "rows" -> s.rows,
        "traced" -> s.traced, "extra" -> s.extra)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "trace" -> traceOut)
    Files.writeString(Paths.get(arg("out")), Json(out))
    spark.stop()
  }

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}

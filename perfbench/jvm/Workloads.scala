package perfbench

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.pipelines.Orchestrator
import graft.table.{AnnIndex, DedupIndex, IncrementalView, LakeTable}

object Workloads {
  /** Rows in `a` but not `b` plus rows in `b` but not `a` (multiset). */
  def diff(a: DataFrame, b: DataFrame): Long =
    a.exceptAll(b).count() + b.exceptAll(a).count()

  /** Row count and the sum of every row's hash: equal multisets have
    * equal fingerprints. */
  def fingerprint(df: DataFrame): Row =
    df.agg(count(lit(1)), sum(xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)")))
      .collect()(0)

  /** Equal fingerprints pass; otherwise the multiset difference decides
    * (a hash can tell apart values Spark compares as equal, e.g. -0.0). */
  def check(name: String, a: DataFrame, b: DataFrame): Check =
    if (fingerprint(a) == fingerprint(b)) Check(name, ok = true, "fingerprints equal")
    else {
      val d = diff(a, b)
      Check(name, d == 0, s"$d differing rows")
    }

  def frame(ctx: Ctx, rows: Seq[Row], schema: StructType): DataFrame =
    ctx.spark.createDataFrame(rows.asJava, schema)

  def readJson(path: String): Seq[Map[String, Any]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val t = m.getTypeFactory.constructCollectionType(
      classOf[java.util.List[_]], classOf[java.util.Map[_, _]])
    m.readValue[java.util.List[java.util.Map[String, Any]]](
      Files.readString(Paths.get(path)), t).asScala.toSeq.map(_.asScala.toMap)
  }

  /** Rows of a parquet file grouped by an int column, which is dropped. */
  def grouped(ctx: Ctx, path: String, by: String): (StructType, Map[Int, Seq[Row]]) = {
    val df = ctx.spark.read.parquet(path)
    val rest = df.columns.filterNot(_ == by)
    val schema = StructType(df.schema.filterNot(_.name == by))
    val rows = df.select((col(by) +: rest.toSeq.map(col)): _*).collect()
    (schema, rows.groupBy(_.getInt(0)).map { case (k, rs) =>
      k -> rs.toSeq.map(r => Row.fromSeq(r.toSeq.tail)) })
  }
}

/** The reference's own traffic: raw drops through Orchestrator.runAll
  * (validate, dedup, RI-filter, MERGE into three lake tables). */
final class EtlIngest(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val dropsDir = s"${ctx.inputs}/drops"
  private val drops: IndexedSeq[Int] =
    Files.list(Paths.get(dropsDir)).iterator().asScala
      .map(_.getFileName.toString.stripPrefix("d=").toInt)
      .filter(_ > 0).toIndexedSeq.sorted
  private var root = ""
  private var cursor = 0
  val warmSteps = 1

  def build(ctx: Ctx, r: String): Unit = {
    root = r
    cursor = 0
    Orchestrator.runAll(spark, s"$dropsDir/d=0", root)
  }

  private def table(name: String, keys: String*) = LakeTable(spark, root, name, keys)

  def step(ctx: Ctx): Boolean = {
    if (cursor >= drops.size) return false
    val d = drops(cursor)
    cursor += 1
    val dropBytes = Files.list(Paths.get(s"$dropsDir/d=$d")).iterator().asScala
      .map(Files.size(_)).sum
    ctx.op("drop", group = d) {
      val reports = Orchestrator.runAll(spark, s"$dropsDir/d=$d", root)
      ctx.noteExtra("source_bytes", dropBytes.toDouble)
      ctx.noteRows(reports.map(_.nMerged).sum)
      val nIn = reports.map(_.nInput).sum
      val nValid = reports.map(_.nValid).sum
      ctx.noteExtra("valid_ratio", nValid.toDouble / nIn)
      ctx.noteExtra("rejected_rows", reports.map(_.nRejected).sum.toDouble)
      ctx.noteExtra("dropped_rows", (nValid - reports.map(_.nMerged).sum).toDouble)
    }
    true
  }

  /** Plain-DataFrame recomputation of every applied drop: per drop,
    * not-null filter, latest-wins per key, RI semi-join against the same
    * drop's raw dimension; across drops, the latest drop holding a key
    * wins (each MERGE replaces the whole row). */
  private def expected(file: String, keys: Seq[String], order: Column,
      notNull: Seq[String], dimFile: String, dimCol: String, riKey: String): DataFrame = {
    def all(f: String) = spark.read.option("basePath", dropsDir)
      .parquet(s"$dropsDir/d=*/$f.parquet").filter(col("d") <= drops.take(cursor).lastOption.getOrElse(0))
    val valid = all(file).filter(notNull.map(col(_).isNotNull).reduce(_ && _))
    val w = Window.partitionBy((col("d") +: keys.map(col)): _*).orderBy(order)
    val dedup = valid.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    val dim = all(dimFile).select(col("d"), col(dimCol).as(riKey))
    val kept = dedup.join(dim, Seq("d", riKey), "left_semi")
    val latest = Window.partitionBy(keys.map(col): _*).orderBy(col("d").desc)
    kept.withColumn("__rn", row_number().over(latest)).filter(col("__rn") === 1)
  }

  def check(ctx: Ctx): Seq[Check] = {
    def cmp(entity: String, keys: Seq[String], exp: DataFrame) = {
      val actual = table(entity, keys: _*).read
      Workloads.check(s"etl.$entity", actual,
        exp.select(actual.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*))
    }
    Seq(
      cmp("products", Seq("p_partkey"), expected("part", Seq("p_partkey"),
        col("p_name").desc_nulls_last, Seq("p_partkey", "p_name"), "lineitem",
        "l_partkey", "p_partkey")),
      cmp("orders", Seq("o_orderkey"), expected("orders", Seq("o_orderkey"),
        col("o_orderdate").desc_nulls_last, Seq("o_orderkey", "o_custkey", "o_orderdate"),
        "lineitem", "l_orderkey", "o_orderkey")),
      cmp("order_items", Seq("l_orderkey", "l_linenumber"), expected("lineitem",
        Seq("l_orderkey", "l_linenumber"), col("l_shipdate").desc_nulls_last,
        Seq("l_orderkey", "l_partkey", "l_shipdate"), "orders", "o_orderkey",
        "l_orderkey")))
  }
}

/** One year-partitioned orders LakeTable with the change feed on, driven
  * by a seeded mix of pruned MERGEs, deletes, updates, reads, time travel
  * and change-feed reads; every 10th op compacts and prunes the feed.
  * A driver-side model replays the op log to check every read. */
final class LakeDml(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val DeletePriority = "9-DELETE"
  private val baseDf = spark.read.parquet(s"${ctx.inputs}/base.parquet")
  private val schema = baseDf.schema
  private val baseRows = baseDf.collect().toSeq
  private val (_, batches) = Workloads.grouped(ctx, s"${ctx.inputs}/batches.parquet", "op")
  private val ops = Workloads.readJson(s"${ctx.inputs}/ops.json")
  private val bytesPerRow = Files.size(Paths.get(s"${ctx.inputs}/batches.parquet")).toDouble /
    batches.values.map(_.size).sum

  private final case class M(key: Long, cust: Long, status: String,
      price: Double, dateSec: Long, prio: String, year: Int) {
    def ck: Long = key * 1000003L + cust * 7919L + (price * 4).toLong * 31L +
      dateSec * 17L + status.charAt(0).toInt * 13L + prio.length + year * 3L
  }
  private def m(r: Row) = M(r.getLong(0), r.getLong(1), r.getString(2),
    r.getDouble(3), r.getAs[LocalDateTime](4).toEpochSecond(ZoneOffset.UTC),
    r.getString(5), r.getInt(6))
  private val ck = expr("o_orderkey * 1000003 + o_custkey * 7919 + " +
    "cast(o_totalprice * 4 as bigint) * 31 + " +
    "(unix_micros(cast(o_orderdate as timestamp)) div 1000000) * 17 + " +
    "ascii(o_orderstatus) * 13 + length(o_orderpriority) + o_year * 3")

  private val model = mutable.HashMap.empty[Long, M]
  private val recorded = mutable.HashMap.empty[Int, (Long, Long)]
  private var table: LakeTable = _
  private var syncPoint = 0
  private var cursor = 0
  val warmSteps = 3
  /** The op log repeats a fixed period of ten kinds. */
  override def atBoundary: Boolean = cursor % 10 == 0

  private def modelSum(ms: Iterable[M]) = (ms.size.toLong, ms.iterator.map(_.ck).sum)
  private def record(): Unit = recorded(table.version) = modelSum(model.values)

  def build(ctx: Ctx, root: String): Unit = {
    table = LakeTable(spark, root, "orders", Seq("o_orderkey"),
      partitionCols = Seq("o_year"), changeFeed = true)
    table.create(spark.read.parquet(s"${ctx.inputs}/base.parquet"))
    model.clear()
    baseRows.foreach(r => model(r.getLong(0)) = m(r))
    recorded.clear()
    record()
    syncPoint = table.version
    cursor = 0
  }

  private def agg(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(ck), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
  private def cond(op: Map[String, Any]): (Column, M => Boolean) = {
    val y = op("year").asInstanceOf[Int]
    val mod = op("mod").asInstanceOf[Int]
    val rem = op("rem").asInstanceOf[Int]
    (col("o_year") === y && col("o_orderkey") % mod === rem,
      x => x.year == y && x.key % mod == rem)
  }
  private def expect(got: (Long, Long), want: (Long, Long)): Unit =
    if (got != want) ctx.markLastFailed(s"got $got, expected $want")

  def step(ctx: Ctx): Boolean = {
    if (cursor >= ops.size) return false
    val op = ops(cursor)
    cursor += 1
    val id = op("id").asInstanceOf[Int]
    op("kind").toString match {
      case k @ ("upsert" | "upsert_delete") =>
        val rows = batches(id)
        val done = ctx.op(k) {
          val df = Workloads.frame(ctx, rows, schema)
          if (k == "upsert") table.upsert(df)
          else table.upsertWithDelete(df, col("o_orderpriority") === DeletePriority)
          ctx.noteRows(rows.size)
          ctx.noteExtra("source_bytes", rows.size * bytesPerRow)
        }
        if (done.isDefined) {
          rows.map(m).foreach { x =>
            if (x.prio == DeletePriority) model.remove(x.key) else model(x.key) = x
          }
          record()
        }
      case "delete" =>
        val (c, p) = cond(op)
        if (ctx.op("delete")(table.delete(c)).isDefined) {
          model.filterInPlace { case (_, x) => !p(x) }
          record()
        }
      case "update" =>
        val (c, p) = cond(op)
        val done = ctx.op("update") {
          table.update(c, Map("o_totalprice" -> (col("o_totalprice") + 1.25)))
        }
        if (done.isDefined) {
          model.mapValuesInPlace((_, x) => if (p(x)) x.copy(price = x.price + 1.25) else x)
          record()
        }
      case "read" =>
        val y = op("year").asInstanceOf[Int]
        val minPrice = op("min_price").asInstanceOf[Double]
        ctx.op("read", read = true) {
          agg(table.read.filter(col("o_year") === y && col("o_totalprice") > minPrice))
        }.foreach(got => expect(got,
          modelSum(model.values.filter(x => x.year == y && x.price > minPrice))))
      case "read_version" =>
        val v = table.version - 1
        if (table.availableVersions.contains(v) && recorded.contains(v))
          ctx.op("read_version", read = true)(agg(table.readVersion(v)))
            .foreach(got => expect(got, recorded(v)))
      case "changes_since" =>
        val (v, cur) = (syncPoint, table.version)
        if (v < cur)
          ctx.op("changes_since", read = true) {
            val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
              .otherwise(-1L)
            val r = table.changesSince(v).agg(coalesce(sum(sign), lit(0L)),
              coalesce(sum(ck * sign), lit(0L))).collect()(0)
            (r.getLong(0), r.getLong(1))
          }.foreach(got => expect(got,
            (recorded(cur)._1 - recorded(v)._1, recorded(cur)._2 - recorded(v)._2)))
      case "compact" =>
        val cur = table.version
        if (syncPoint < cur) {
          ctx.op("compact") {
            table.compactChangeFeed(syncPoint, cur)
            table.pruneChangeFeed(cur)
          }
          syncPoint = cur
        }
    }
    true
  }

  def check(ctx: Ctx): Seq[Check] = {
    import spark.implicits._
    val want = model.values.map(x => (x.key, x.ck)).toSeq.toDF("k", "c")
    Seq(Workloads.check("lake_dml.final_state",
      table.read.select(col("o_orderkey").as("k"), ck.as("c")), want))
  }
}

/** Change-feed consumers: each round commits a seeded change batch to the
  * four base tables, then maintains three incremental views and two
  * indexes. */
final class FeedMaintain(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private def in(f: String) = s"${ctx.inputs}/$f"
  private val (factSchema, factCh) = Workloads.grouped(ctx, in("fact_changes.parquet"), "round")
  private val (custSchema, custCh) = Workloads.grouped(ctx, in("customer_changes.parquet"), "round")
  private val (docSchema, docCh) = Workloads.grouped(ctx, in("doc_changes.parquet"), "round")
  private val (vecSchema, vecCh) = Workloads.grouped(ctx, in("vec_changes.parquet"), "round")
  private val rounds = Workloads.readJson(in("rounds.json")).size
  private def rowBytes(f: String, ch: Map[Int, Seq[Row]]) =
    Files.size(Paths.get(in(f))).toDouble / math.max(1, ch.values.map(_.size).sum)
  private val factBytes = rowBytes("fact_changes.parquet", factCh)
  private val custBytes = rowBytes("customer_changes.parquet", custCh)
  private val docBytes = rowBytes("doc_changes.parquet", docCh)
  private val vecBytes = rowBytes("vec_changes.parquet", vecCh)
  private val Key = Seq("o_custkey")
  private val Seg = Seq("c_mktsegment")

  private var fact, dim, docs, vecs, sumV, mmV, joinV: LakeTable = _
  private var di: DedupIndex = _
  private var ai: AnnIndex = _
  private var sSum, sMm, jF, jD, sDoc, sVec = 0
  private var cursor = 0
  private var root = ""
  val warmSteps = 1

  def build(ctx: Ctx, r: String): Unit = {
    root = r
    def t(name: String, key: String, feed: Boolean = true) =
      LakeTable(spark, root, name, Seq(key), changeFeed = feed)
    fact = t("fact", "o_orderkey"); dim = t("customer", "o_custkey")
    docs = t("docs", "doc_id"); vecs = t("vecs", "vec_id")
    sumV = t("sum_view", "o_custkey", feed = false)
    mmV = t("minmax_view", "o_custkey", feed = false)
    joinV = t("join_view", "c_mktsegment", feed = false)
    fact.create(spark.read.parquet(in("orders.parquet")))
    dim.create(spark.read.parquet(in("customer.parquet")))
    docs.create(spark.read.parquet(in("documents.parquet")))
    vecs.create(spark.read.parquet(in("embeddings.parquet")))
    sumV.create(IncrementalView.sumView(fact.read, Key, "o_totalprice"))
    mmV.create(IncrementalView.minMaxView(fact.read, Key, "o_totalprice"))
    joinV.create(IncrementalView.joinSumView(fact.read, dim.read, Key, Seg, "o_totalprice"))
    di = DedupIndex(spark, root, "didx")
    di.build(docs.read, "doc_id", "text")
    ai = AnnIndex(spark, root, "aidx", nCells = 8)
    ai.build(vecs.read, "vec_id", "embedding")
    sSum = fact.version; sMm = fact.version; jF = fact.version; jD = dim.version
    sDoc = docs.version; sVec = vecs.version
    cursor = 0
  }

  def step(ctx: Ctx): Boolean = {
    if (cursor >= rounds) return false
    val r = cursor
    cursor += 1
    def commit(kind: String, t: LakeTable, rows: Seq[Row], schema: StructType,
        rowBytes: Double, deleteWhen: Option[Column]) =
      if (rows.nonEmpty) ctx.op(kind, group = r) {
        val df = Workloads.frame(ctx, rows, schema)
        deleteWhen.fold(t.upsert(df))(t.upsertWithDelete(df, _))
        ctx.noteRows(rows.size)
        ctx.noteExtra("source_bytes", rows.size * rowBytes)
      }
    commit("commit_fact", fact, factCh(r), factSchema, factBytes,
      Some(col("o_orderpriority") === "9-DELETE"))
    commit("commit_customer", dim, custCh.getOrElse(r, Nil), custSchema, custBytes, None)
    commit("commit_docs", docs, docCh(r), docSchema, docBytes,
      Some(col("text") === "__delete__"))
    commit("commit_vecs", vecs, vecCh(r), vecSchema, vecBytes, Some(col("embedding").isNull))
    ctx.op("maintain_sum", group = r) {
      sSum = IncrementalView.maintainSumView(fact, sumV, Key, "o_totalprice", sSum)
    }
    ctx.op("maintain_minmax", group = r) {
      sMm = IncrementalView.maintainMinMaxView(fact, mmV, Key, "o_totalprice", sMm)
    }
    ctx.op("maintain_join", group = r) {
      val s = IncrementalView.maintainJoinSumView(fact, dim, joinV, Key, Seg,
        "o_totalprice", jF, jD)
      jF = s._1; jD = s._2
    }
    ctx.op("maintain_dedup", group = r) {
      sDoc = di.maintain(docs, "doc_id", "text", sDoc)
    }
    ctx.op("maintain_ann", group = r) {
      sVec = ai.maintain(vecs, "vec_id", "embedding", sVec)
    }
    true
  }

  def check(ctx: Ctx): Seq[Check] = {
    val checkRoot = s"$root/_check"
    val fresh = DedupIndex(spark, checkRoot, "didx")
    fresh.build(docs.read, "doc_id", "text")
    // the maintained assignment of every live vector must score its cell
    // at least as high as any frozen centroid (ties allowed)
    val dot = "aggregate(zip_with(a.v, c.v, (x, y) -> x * y), 0D, (s, z) -> s + z)"
    val assign = ai.assign.read.alias("a")
    val scores = assign.crossJoin(ai.centroids.read.alias("c"))
      .selectExpr("a.id", "a.cell", "c.cell as cc", s"$dot as s")
    val bad = scores.groupBy("id").agg(
      max(when(col("cc") === col("cell"), col("s"))).as("own"), max("s").as("best"))
      .filter(col("own").isNull || col("own") < col("best") - 1e-9).count()
    val ids = Workloads.diff(assign.select("id"), vecs.read.select(col("vec_id").as("id")))
    Seq(
      Workloads.check("feed.sum_view", sumV.read,
        IncrementalView.sumView(fact.read, Key, "o_totalprice").select(sumV.read.columns.map(col): _*)),
      Workloads.check("feed.minmax_view", mmV.read,
        IncrementalView.minMaxView(fact.read, Key, "o_totalprice").select(mmV.read.columns.map(col): _*)),
      Workloads.check("feed.join_view", joinV.read,
        IncrementalView.joinSumView(fact.read, dim.read, Key, Seg, "o_totalprice")
          .select(joinV.read.columns.map(col): _*)),
      Workloads.check("feed.dedup_pairs", di.pairs.read.select("a_id", "b_id"),
        fresh.pairs.read.select("a_id", "b_id")),
      Check("feed.ann_assign", bad == 0 && ids == 0,
        s"$bad ids not in their best cell, $ids id mismatches"))
  }
}

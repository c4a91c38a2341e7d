package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Streams
import graft.table.{AnnIndex, DedupIndex, IncrementalView, LakeTable}

/** Exactly-once replay of every marker-guarded table-sink drain: the
  * first drain applies the churn and commits its marker; draining the
  * SAME feed again must commit nothing at all — every table the drain
  * writes keeps its version, rows and meta. Value-only replay checks
  * would also pass a replay that commits a no-op merge; the version
  * check does not. */
class DrainReplaySpec extends SparkSpec {
  import spark.implicits._

  /** One drain under test: `drain` runs it over a fresh stream of the
    * same source; `written` are the tables it commits to, marker table
    * first; `marker` is a meta key the first drain must record there. */
  case class Case(drain: () => Unit, written: Seq[LakeTable], marker: String)

  /** A table's change feed as a per-FILE stream (maxFilesPerTrigger=1):
    * the churn arrives as several micro-batches, each with its own id. */
  private def feed(t: LakeTable): DataFrame =
    spark.readStream.schema(t.read.schema.add("_change_type", "string"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${t.tablePath}/changes/v*")

  /** A change-feed base (id, k, v); [[churn]] adds inserts, an update,
    * a phantom (inserted, then deleted), and one extinct group across
    * several versions. */
  private def base(root: String): LakeTable = {
    val t = LakeTable(spark, root, "base", Seq("id"), changeFeed = true)
    t.create(Seq((1L, 1L, 2.0), (2L, 1L, 3.0), (3L, 2L, 5.0), (4L, 3L, 0.5))
      .toDF("id", "k", "v"))
    t
  }

  private def churn(t: LakeTable): Unit = {
    t.upsert(Seq((2L, 1L, 30.0), (5L, 3L, 7.0), (9L, 1L, 99.0))
      .toDF("id", "k", "v"))
    t.delete(col("id") === 9L)
    t.delete(col("k") === 2L)
  }

  /** A fact (id, ck, v) and a dim (ck, seg); [[churnFact]] churns the
    * fact like [[churn]]. */
  private def joinTables(root: String,
      dimFeed: Boolean = false): (LakeTable, LakeTable) = {
    val f = LakeTable(spark, root, "fact", Seq("id"), changeFeed = true)
    val d = LakeTable(spark, root, "dim", Seq("ck"), changeFeed = dimFeed)
    f.create((1L to 12L).map(i => (i, i % 4, i * 1.5)).toDF("id", "ck", "v"))
    d.create(Seq((0L, "A"), (1L, "A"), (2L, "B"), (3L, "C")).toDF("ck", "seg"))
    (f, d)
  }

  private def churnFact(f: LakeTable): Unit = {
    f.upsert(Seq((4L, 0L, 40.0), (21L, 2L, 5.0), (22L, 9L, 99.0))
      .toDF("id", "ck", "v"))
    f.delete(col("id") % 5 === 0)
  }

  private val cases: Seq[(String, String => Case)] = Seq(
    "sum (append-only stream)" -> { root =>
      val ev = (1L to 40L).map(i => (i, i % 5, i * 0.25)).toDF("id", "k", "v")
      val v = LakeTable(spark, root, "view", Seq("k"))
      v.create(IncrementalView.sumView(ev.filter(col("id") <= 10L), Seq("k"), "v"))
      val src = s"$root/src"
      ev.filter(col("id") > 10L).repartition(3).write.parquet(src)
      def stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      Case(() => Streams.maintainSumViewStream(stream, v, Seq("k"), "v"),
        Seq(v), "ivm_last_batch_ivm")
    },
    "sum" -> { root =>
      val t = base(root)
      val v = LakeTable(spark, root, "view", Seq("k"))
      v.create(IncrementalView.sumView(t.read, Seq("k"), "v"))
      churn(t)
      Case(() => Streams.maintainSumViewFromChangeFeed(feed(t), v, Seq("k"), "v"),
        Seq(v), "ivm_last_batch_cdc")
    },
    "min/max" -> { root =>
      val t = base(root)
      val v = LakeTable(spark, root, "view", Seq("k"))
      v.create(IncrementalView.minMaxView(t.read, Seq("k"), "v"))
      churn(t)
      Case(() => Streams.maintainMinMaxViewFromChangeFeed(feed(t), t, v,
        Seq("k"), "v"), Seq(v), "ivm_last_batch_mmcdc")
    },
    "stats" -> { root =>
      val t = base(root)
      val v = LakeTable(spark, root, "view", Seq("k"))
      v.create(IncrementalView.statsView(t.read, Seq("k"), "v"))
      churn(t)
      Case(() => Streams.maintainStatsViewFromChangeFeed(feed(t), t, v,
        Seq("k"), "v"), Seq(v), "ivm_last_batch_stcdc")
    },
    "full stats" -> { root =>
      val t = base(root)
      val aux = LakeTable(spark, root, "aux", Seq("k", "__v"))
      val v = LakeTable(spark, root, "view", Seq("k"))
      IncrementalView.createFullStatsPair(aux, v, t.read, Seq("k"), "v")
      churn(t)
      Case(() => Streams.maintainFullStatsViewFromChangeFeed(feed(t), aux, v,
        Seq("k"), "v"), Seq(v, aux), "ivm_last_batch_flcdc")
    },
    "fact-side join sum" -> { root =>
      val (f, d) = joinTables(root)
      val v = LakeTable(spark, root, "view", Seq("seg"))
      v.create(IncrementalView.joinSumView(f.read, d.read, Seq("ck"), Seq("seg"), "v"))
      churnFact(f)
      Case(() => Streams.maintainJoinSumViewFromChangeFeed(feed(f), d.read, v,
        Seq("ck"), Seq("seg"), "v"), Seq(v), "ivm_last_batch_jvcdc")
    },
    "fact-side join min/max" -> { root =>
      val (f, d) = joinTables(root)
      val v = LakeTable(spark, root, "view", Seq("seg"))
      v.create(IncrementalView.joinMinMaxView(f.read, d.read, Seq("ck"), Seq("seg"), "v"))
      churnFact(f)
      Case(() => Streams.maintainJoinMinMaxViewFromChangeFeed(feed(f), f, d.read,
        v, Seq("ck"), Seq("seg"), "v"), Seq(v), "ivm_last_batch_jmmcdc")
    },
    "dedup index" -> { root =>
      val docs = LakeTable(spark, root, "docs", Seq("doc_id"), changeFeed = true)
      val di = DedupIndex(spark, root, "didx")
      val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
        .filter(col("doc_id") % 4 =!= 0)
      docs.create(all.filter(col("doc_id") % 3 === 1))
      di.build(docs.read, "doc_id", "text")
      docs.upsert(all.filter(col("doc_id") % 3 === 2))
      docs.delete(col("doc_id") % 7 === 3)
      Case(() => Streams.maintainDedupIndexFromChangeFeed(feed(docs), docs, di,
        "doc_id", "text"), Seq(di.pairs, di.index), "dedupidx_last_batch_didxcdc")
    },
    "ANN index" -> { root =>
      val docs = LakeTable(spark, root, "docs", Seq("vec_id"), changeFeed = true)
      val ai = AnnIndex(spark, root, "anns", nCells = 4)
      val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
      docs.create(e.filter(col("vec_id") % 3 =!= 0))
      ai.build(docs.read, "vec_id", "embedding")
      docs.upsert(e.filter(col("vec_id") % 3 === 0))
      docs.delete(col("vec_id") % 7 === 3)
      Case(() => Streams.maintainAnnIndexFromChangeFeed(feed(docs), docs, ai,
        "vec_id", "embedding"), Seq(ai.markerTable), "annidx_last_batch_anncdc")
    },
    "two-feed join sum" -> { root =>
      val (f, d) = joinTables(root, dimFeed = true)
      val v = LakeTable(spark, root, "view", Seq("seg"))
      v.create(IncrementalView.joinSumView(f.read, d.read, Seq("ck"), Seq("seg"), "v"))
      val (f0, d0) = (f.version, d.version)
      churnFact(f)
      d.update(col("ck") === 0L, Map("seg" -> lit("B")))
      Case(() => Streams.maintainJoinSumViewFromBothFeeds(f, d, v, Seq("ck"),
        Seq("seg"), "v", f0, d0), Seq(v), "ivm_fact_synced_jv2cdc")
    },
    "two-feed join min/max" -> { root =>
      val (f, d) = joinTables(root, dimFeed = true)
      val v = LakeTable(spark, root, "view", Seq("seg"))
      v.create(IncrementalView.joinMinMaxView(f.read, d.read, Seq("ck"), Seq("seg"), "v"))
      val (f0, d0) = (f.version, d.version)
      churnFact(f)
      d.delete(col("ck") === 1L)
      Case(() => Streams.maintainJoinMinMaxViewFromBothFeeds(f, d, v, Seq("ck"),
        Seq("seg"), "v", f0, d0), Seq(v), "ivm_fact_synced_jmm2cdc")
    })

  private def state(t: LakeTable) =
    (t.version, t.meta, t.read.collect().map(_.toString).sorted.toSeq)

  cases.foreach { case (name, setup) =>
    test(s"replaying the drain is a no-op commit-wise: $name") {
      val root = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "replay").toString
      try {
        val c = setup(root)
        c.drain()
        assert(c.written.head.meta.contains(c.marker),
          s"the first drain must record ${c.marker}")
        val before = c.written.map(state)
        c.drain()
        c.written.zip(before).foreach { case (t, b) =>
          val a = state(t)
          assert(a._1 == b._1,
            s"${t.tablePath}: the replay committed version ${a._1}")
          assert(a == b, s"${t.tablePath}: the replay changed meta or rows")
        }
      } finally graft.pipelines.Orchestrator.deleteRecursively(root)
    }
  }
}

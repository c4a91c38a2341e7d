package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: micro-measurements behind the round-16 optimization
  * decisions (guide §1 — measure the fixed costs before changing them):
  *   1. DataFrame-construction cost of spark.read.parquet (schema
  *      inference: footer read per call) vs spark.read.schema(...)
  *      (no footer I/O) — the LakeTable.readDir fast-path candidate.
  *   2. Small-table parquet write+commit cost under committer variants —
  *      the per-publish floor every lakehouse composite pays ~6-30x.
  *   3. localCheckpoint(true) cost on a small frame.
  */
object MicroBench {
  def time[A](label: String, n: Int)(f: => A): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { f; i += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"$label%-58s ${sec / n * 1000}%8.1f ms/op  (x$n)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    val docs = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docs).schema

    // 1. construction: inference vs explicit schema
    time("read.parquet construction (schema inference)", 40) {
      spark.read.parquet(docs)
    }
    time("read.schema(...).parquet construction", 40) {
      spark.read.schema(schema).parquet(docs)
    }
    // and with an action on top (count), to see end-to-end delta
    time("read.parquet -> count", 10) {
      spark.read.parquet(docs).count()
    }
    time("read.schema -> count", 10) {
      spark.read.schema(schema).parquet(docs).count()
    }

    // 2. small write+commit
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .localCheckpoint(true)
    println(s"orders rows: ${orders.count()}")
    def wr(dir: String): Unit =
      orders.write.mode("overwrite").parquet(dir)
    time("write orders (defaults)", 6) { wr("/tmp/mb_w1") }
    spark.conf.set(
      "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    time("write orders (_SUCCESS off)", 6) { wr("/tmp/mb_w2") }
    spark.conf.set(
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    time("write orders (_SUCCESS off + committer v2)", 6) { wr("/tmp/mb_w3") }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("write orders (above + AQE off)", 6) { wr("/tmp/mb_w4") }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // a write whose plan includes a small shuffle (the merge shape)
    val keyed = orders.groupBy("o_custkey").count()
    time("write small-shuffle agg (AQE on)", 6) { keyed.write.mode("overwrite").parquet("/tmp/mb_w5") }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("write small-shuffle agg (AQE off)", 6) { keyed.write.mode("overwrite").parquet("/tmp/mb_w6") }
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    // 3. localCheckpoint
    val small = orders.limit(5000)
    time("localCheckpoint(true) of 5k rows", 8) {
      small.localCheckpoint(true)
    }
    time("collect-equivalent count of same frame", 8) {
      small.count()
    }

    // 4. isolated LakeTable commit path at bench scale: the floor every
    // lakehouse composite pays per DML, with and without the CDF feed
    import org.apache.spark.sql.functions.col
    val half = orders.filter(col("o_orderkey") % 2 === 0)
    def mkTable(name: String, feed: Boolean) = {
      val t = graft.table.LakeTable(spark, "/tmp/mb_tables", name,
        Seq("o_orderkey"), changeFeed = feed)
      t.drop(); t.create(orders); t
    }
    val tNoFeed = mkTable("mb_nofeed", feed = false)
    time("LakeTable.upsert 75k rows (no feed)", 5) { tNoFeed.upsert(half) }
    time("LakeTable.delete ~20% (no feed)", 3) {
      tNoFeed.delete(col("o_orderkey") % 5 === 0); tNoFeed.upsert(orders)
    }
    val tFeed = mkTable("mb_feed", feed = true)
    time("LakeTable.upsert 75k rows (changeFeed)", 5) { tFeed.upsert(half) }
    time("LakeTable.delete ~20% (changeFeed)", 3) {
      tFeed.delete(col("o_orderkey") % 5 === 0); tFeed.upsert(orders)
    }
    spark.stop()
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.table.FileSkipping

/** File-level data skipping: stats correctness AND the pruning effect —
  * the oracle only proves result equality, so the file-count assertions
  * here are what pin that skipping actually skips. */
class FileSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def layout(n: Int = 8): String = {
    val dst = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "skip").toString
    Tables.load(spark, sf, "orders")
      .repartitionByRange(n, col("o_totalprice"))
      .write.mode("overwrite").parquet(dst)
    dst
  }

  test("fileStats: one row per file, true per-file bounds, rows add up") {
    val dst = layout()
    val stats = FileSkipping.fileStats(spark, dst, "o_totalprice").collect()
    val nFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dst))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(stats.length == nFiles)
    assert(stats.map(_.getAs[Long]("n_rows")).sum ==
      Tables.load(spark, sf, "orders").count())
    // recompute one file's bounds independently
    val f = stats.head
    val direct = spark.read.parquet(f.getString(0))
      .agg(min("o_totalprice"), max("o_totalprice")).head()
    assert(f.getAs[Double]("min_v") == direct.getDouble(0))
    assert(f.getAs[Double]("max_v") == direct.getDouble(1))
  }

  test("skippingScan: narrow range reads a strict file subset, same answer") {
    val dst = layout()
    val total = FileSkipping.fileStats(spark, dst, "o_totalprice").count()
    val files = FileSkipping.candidateFiles(spark, dst, "o_totalprice",
      50000.0, 100000.0)
    // range clustering makes a ~10% value range live in few files
    assert(files.nonEmpty && files.length < total,
      s"no pruning: ${files.length} of $total files")
    val got = FileSkipping.skippingScan(spark, dst, "o_totalprice",
        50000.0, 100000.0)
      .agg(count(lit(1)), sum("o_orderkey")).head()
    val want = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice").between(50000.0, 100000.0))
      .agg(count(lit(1)), sum("o_orderkey")).head()
    assert(got == want)
    assert(want.getLong(0) > 0) // non-vacuous
  }

  test("skippingScan: disjoint range yields an empty frame with the schema") {
    val dst = layout()
    val out = FileSkipping.skippingScan(spark, dst, "o_totalprice", -10.0, -1.0)
    assert(out.columns.toSeq ==
      Tables.load(spark, sf, "orders").columns.toSeq)
    assert(out.count() == 0)
  }

  private def dateLayout(): String = {
    val dst = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "bloom").toString
    Tables.load(spark, sf, "orders")
      .repartitionByRange(8, col("o_orderdate"))
      .write.mode("overwrite").parquet(dst)
    dst
  }

  test("bloom index: no false negatives on every present key, and real pruning") {
    val dst = dateLayout()
    val total = FileSkipping.fileStats(spark, dst, "o_orderkey").count()
    // min/max on the NON-clustering key prunes nothing — the regime the
    // bloom index exists for
    val keys = Tables.load(spark, sf, "orders")
      .select("o_orderkey").limit(20).collect().map(_.getLong(0))
    var candTotal = 0L
    keys.foreach { key =>
      val trueFiles = spark.read.parquet(dst)
        .filter(col("o_orderkey") === key)
        .select(col("_metadata.file_path")).distinct()
        .collect().map(_.getString(0)).toSet
      val cand = FileSkipping.bloomCandidateFiles(
        spark, dst, "o_orderkey", key).toSet
      assert(trueFiles.subsetOf(cand),
        s"false negative for $key: ${trueFiles -- cand}")
      candTotal += cand.size
    }
    // average candidate set must be a small fraction of the layout
    // (false positives allowed; saturation would show up here)
    assert(candTotal < keys.length * total / 2,
      s"bloom barely prunes: avg ${candTotal.toDouble / keys.length} of $total files")
    // scan equality on one key
    val got = FileSkipping.bloomSkippingScan(spark, dst, "o_orderkey", keys.head)
      .select("o_orderkey", "o_custkey").collect().toSeq
    val want = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") === keys.head)
      .select("o_orderkey", "o_custkey").collect().toSeq
    assert(got == want && want.nonEmpty)
  }

  test("bloom index: absent key almost surely opens no file, returns empty") {
    val dst = dateLayout()
    val out = FileSkipping.bloomSkippingScan(spark, dst, "o_orderkey",
      -987654321L)
    assert(out.count() == 0)
  }

  test("z-order layout prunes on BOTH columns; single-sort layout on one") {
    import graft.functions.ZOrder
    val o = Tables.load(spark, sf, "orders")
    val b = o.agg(min(col("o_totalprice")).as("p_lo"),
      max(col("o_totalprice")).as("p_hi"),
      min(col("o_custkey")).as("c_lo"), max(col("o_custkey")).as("c_hi"))
    val z = ZOrder.interleave(
      ZOrder.bin(col("o_totalprice"), col("p_lo"), col("p_hi")),
      ZOrder.bin(col("o_custkey"), col("c_lo"), col("c_hi")))
    val zDst = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "zskip").toString
    o.crossJoin(broadcast(b)).withColumn("z", z)
      .repartitionByRange(8, col("z"))
      .drop("p_lo", "p_hi", "c_lo", "c_hi")
      .write.mode("overwrite").parquet(zDst)
    val pDst = layout() // price-range-sorted control
    def nCand(dst: String, c: String, lo: Any, hi: Any) =
      FileSkipping.candidateFiles(spark, dst, c, lo, hi).length
    // narrow ranges on each dimension (~1/8 of each value span)
    val (pLo, pHi) = (100000.0, 160000.0)
    val (cLo, cHi) = (20L, 40L)
    // the z layout prunes meaningfully on BOTH columns
    assert(nCand(zDst, "o_totalprice", pLo, pHi) < 8,
      "z layout failed to prune on price")
    assert(nCand(zDst, "o_custkey", cLo, cHi) < 8,
      "z layout failed to prune on custkey")
    // the single-column layout cannot prune the OTHER column at all
    assert(nCand(pDst, "o_custkey", cLo, cHi) == 8)
    // conjunction equality vs plain filter
    val got = FileSkipping.skippingScanConj(spark, zDst,
        Seq(("o_totalprice", pLo, pHi), ("o_custkey", cLo, cHi)))
      .agg(count(lit(1)), sum("o_orderkey")).head()
    val want = o.filter(col("o_totalprice").between(pLo, pHi) &&
        col("o_custkey").between(cLo, cHi))
      .agg(count(lit(1)), sum("o_orderkey")).head()
    assert(got == want && want.getLong(0) > 0)
  }

  test("fastCount: footer-only count equals the real count, multi-file and single-file") {
    val dst = layout()
    val real = Tables.load(spark, sf, "orders").count()
    assert(FileSkipping.fastCount(spark, dst) == real)
    // single-file raw table too
    assert(FileSkipping.fastCount(spark, s"$sf/orders.parquet") == real)
    // empty layout counts zero
    val empty = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "skip_empty").toString
    assert(FileSkipping.fastCount(spark, empty) == 0L)
  }
}

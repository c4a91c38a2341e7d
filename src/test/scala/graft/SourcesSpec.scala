package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sources

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp = Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "sources").toString

  test("CSV round-trip: dynamic mode lands every column as string") {
    val dir = tmp
    Sources.writeCsv(Seq((1L, "a", 2.5), (2L, "b", 3.5)).toDF("id", "s", "x"), s"$dir/t")
    val back = Sources.readCsvDynamic(spark, s"$dir/t")
    assert(back.schema.fields.forall(_.dataType == StringType))
    assert(back.count() == 2)
  }

  test("CSV declared-schema mode enforces types on read") {
    val dir = tmp
    Sources.writeCsv(Seq((1L, "a", 2.5)).toDF("id", "s", "x"), s"$dir/t")
    val st = StructType(Seq(StructField("id", LongType), StructField("s", StringType),
      StructField("x", DoubleType)))
    val back = Sources.readCsvDeclared(spark, s"$dir/t", st)
    assert(back.schema == st)
    assert(back.as[(Long, String, Double)].collect().toSet == Set((1L, "a", 2.5)))
  }

  test("empty-input guard raises; non-empty passes through") {
    intercept[IllegalArgumentException] {
      Sources.requireNonEmpty(Seq.empty[Long].toDF("id"), "test")
    }
    assert(Sources.requireNonEmpty(Seq(1L).toDF("id"), "test").count() == 1)
  }

  test("file lineage column records the source file") {
    val dir = tmp
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t")
    val back = Sources.withFileLineage(spark.read.parquet(s"$dir/t"))
    val file = back.select("source_file").as[String].head()
    assert(file.contains(s"$dir/t") && file.endsWith(".parquet"))
  }

  test("JSON sink round-trips rejected rows") {
    val dir = tmp
    Sources.writeJson(Seq((1L, "bad")).toDF("id", "why"), s"$dir/rejected")
    val back = spark.read.json(s"$dir/rejected")
    assert(back.count() == 1)
  }

  test("text log sink writes a single file") {
    val dir = tmp
    Sources.writeTextLog(spark, Seq("line1", "line2"), s"$dir/logs")
    val files = new java.io.File(s"$dir/logs").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(files.length == 1)
    assert(spark.read.text(s"$dir/logs").count() == 2)
  }

  test("schema evolution: mergeSchema unions parquet file schemas") {
    val dir = tmp
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t/batch=1")
    Seq((2L, "b", 9.5)).toDF("id", "s", "x").write.parquet(s"$dir/t/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$dir/t")
    assert(merged.columns.toSet == Set("id", "s", "x", "batch"))
    assert(merged.count() == 2)
    // old-schema rows surface null for the added column
    assert(merged.filter($"x".isNull).count() == 1)
  }

  test("sql-registered native functions work from spark.sql") {
    graft.functions.Registry.register(spark)
    val d = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(d == 11.0)
    val sh = spark.sql("SELECT simhash64(array('a','b','c')) AS h").as[Long].head()
    val sh2 = spark.sql("SELECT simhash64(array('a','b','c')) AS h").as[Long].head()
    assert(sh == sh2)
    val mh = spark.sql("SELECT size(minhash_sig(array('x','y'), 8)) AS n").as[Int].head()
    assert(mh == 8)
    // round-3 registrations
    val cc = spark.sql(
      "SELECT char_class_counts('Ab1!') AS c").select("c.len", "c.punct",
      "c.digit", "c.alpha", "c.upper").as[(Int, Int, Int, Int, Int)].head()
    assert(cc == ((4, 1, 1, 2, 1)))
    val mc = spark.sql(
      "SELECT member_count(array('the','cat'), array('the','a')) AS m")
      .as[Int].head()
    assert(mc == 1)
    val ng = spark.sql(
      "SELECT word_ngrams('a b a b', 2) AS g").as[Seq[String]].head()
    assert(ng == Seq("a b", "b a", "a b"))
    // round-4 registrations: sketch aggregates resolve from plain SQL
    // (the analyzer wraps the bare AggregateFunction)
    val fi = spark.sql(
      """SELECT freq_items(toks, 1, 16)[0].token AS t
         FROM (SELECT array('a','b','a') AS toks)""").as[String].head()
    assert(fi == "a")
    val cm = spark.sql(
      """SELECT size(count_min(k, 4, 64)) AS n
         FROM (SELECT CAST(5 AS BIGINT) AS k)""").as[Int].head()
    assert(cm == 256)
    val pm = spark.sql(
      "SELECT phrase_match('A b c', array('b','c')) AS m").as[Boolean].head()
    assert(pm)
    val mp = spark.sql(
      "SELECT multi_pattern_match('xabcy', array('abc','zz','bc')) AS m")
      .as[Seq[Int]].head()
    assert(mp == Seq(0, 2))
    val dn = spark.sql(
      "SELECT size(deletion_neighborhood('abc', 1)) AS n").as[Int].head()
    assert(dn == 4)
    val be = spark.sql(
      """SELECT bpe_encode('abab zq', array(array('a','b'), array('ab','ab')))
         AS t""").as[Seq[String]].head()
    assert(be == Seq("abab", "z", "q"))
  }
}

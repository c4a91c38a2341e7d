package graft

import org.apache.spark.sql.functions._

import graft.pipelines.Pipelines

/** End-to-end CSV ingestion (the reference's real input mode): string →
  * typed promotion via try_cast, with malformed rows captured in the
  * rejected channel and the valid path agreeing with the parquet
  * pipeline. */
class CsvPipelineSpec extends SparkSpec {

  test("malformed CSV rows are rejected, not silently dropped or fatal") {
    val (_, rejected) = Pipelines.ordersFromCsv(spark, sf)
    assert(rejected.count() == 3)
    // every rejected row failed a not-null key constraint after try_cast
    assert(rejected.filter(col("o_orderkey").isNull ||
      col("o_custkey").isNull || col("o_orderdate").isNull).count() == 3)
    // and the JSON side sink actually captured them (K4)
    val sunk = spark.read.json(Pipelines.ordersCsvRejectedDir(sf))
    assert(sunk.count() == 3)
  }

  test("CSV valid path equals the parquet pipeline result") {
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("s"))
        .orderBy("o_orderstatus").collect().toSeq
    val fromCsv = summarize(Pipelines.ordersFromCsv(spark, sf)._1)
    val fromParquet = summarize(Pipelines.orders(spark, sf))
    assert(fromCsv == fromParquet)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the north-star extensions (§7.5), each paired with
  * DuckDB oracle SQL over the same parquet tables. Every query lives in
  * one [[graft.queries.QueryFamily]], its builder beside its oracle SQL.
  *
  * Determinism rules for oracle-compared queries (SURVEY.md §7.3):
  * explicit ORDER BY everywhere, explicit NULLS FIRST/LAST (Spark and
  * DuckDB defaults differ), no current_timestamp in compared output,
  * doubles either exact-decimal-summed or rounded (ranking always on the
  * ROUNDED value so cross-engine ULP noise can't flip ranks), latest-wins
  * dedup with full tiebreakers instead of bare dropDuplicates.
  */
object SparkEntry {

  /** Flagship (SURVEY.md §7.4): the order-items pipeline end-to-end —
    * scan → validate → split → window-dedup → RI semi-join → agg. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_items_pipeline")(spark, "/root/testdata/sf0.001")

  /** Every query family; their name sets are disjoint (PipelinesSpec). */
  val families: Seq[QueryFamily] =
    Seq(Relational, Aggregates, Graphs, Statistics, Media, Lakehouse, Corpus, Events)

  def queries: Map[String, QueryFamily.QueryFn] =
    families.map(_.queries).reduce(_ ++ _)

  def oracleSql: Map[String, String] =
    families.map(_.oracleSql).reduce(_ ++ _)
}

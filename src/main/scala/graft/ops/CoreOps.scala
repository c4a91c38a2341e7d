package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Core relational operator library — the reference's operator inventory
  * (SURVEY.md §2) re-expressed as pure `DataFrame => DataFrame` combinators.
  *
  * Every op stays inside Catalyst built-ins (no UDFs) so predicate pushdown,
  * column pruning and whole-stage codegen apply unchanged; these compose into
  * the §3.1 pipelines and into the queries of [[graft.queries.Relational]].
  *
  * Reference behaviors covered (file:line cites into /root/reference):
  *  - strict/lenient schema validation  — jobs/order_glue_job.py:95-101,
  *    jobs/order_items_glue_job.py:102-110
  *  - cast normalization                — jobs/order_glue_job.py:105-109
  *  - one-pass valid/rejected split     — jobs/order_glue_job.py:111,122-126
  *    (fixing the `subtract` anti-pattern at order_items_glue_job.py:140)
  *  - latest-wins window dedup          — jobs/order_glue_job.py:113-116
  *  - exact key dedup                   — jobs/products_glue_job.py:146,
  *    jobs/order_items_glue_job.py:160-162
  *  - referential-integrity semi-join   — jobs/order_glue_job.py:132-140
  *  - lineage/audit columns             — jobs/order_glue_job.py:119
  */
object CoreOps {

  /** P1 — strict schema validation: fail if any required column is missing,
    * then project to exactly `required` (normalizes order, drops extras). */
  def enforceSchema(required: Seq[String])(df: DataFrame): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"Missing required columns: ${missing.mkString(", ")}")
    df.select(required.map(col): _*)
  }

  /** P2 — lenient variant: keep expected columns that are present. */
  def enforceSchemaLenient(expected: Seq[String])(df: DataFrame): DataFrame =
    df.select(expected.filter(df.columns.contains).map(col): _*)

  /** P3 — cast normalization ("string → typed" promotion). One `select`
    * rather than N chained `withColumn`s: a single projection node, no
    * reliance on CollapseProject.
    *
    * Uses try_cast: Spark 4 runs ANSI mode by default, where a malformed
    * value makes `cast` THROW mid-job — the reference's semantics
    * (PySpark 3.4, non-ANSI) null bad values so the not-null split routes
    * them to the rejected zone instead of failing the pipeline. */
  def castColumns(types: Map[String, DataType])(df: DataFrame): DataFrame =
    df.select(df.columns.map { c =>
      types.get(c).map(t => col(c).try_cast(t).as(c)).getOrElse(col(c))
    }.toIndexedSeq: _*)

  /** P4/P5 — one-pass valid/rejected split on NOT NULL constraints.
    *
    * Returns lazy views over one lineage; at 100 TB prefer running both
    * sinks off a cached/persisted upstream or a single pass with
    * `observe()` metrics rather than the reference's count-per-stage
    * recompute (SURVEY.md §4.3-1). Duplicate-preserving, unlike the
    * reference's EXCEPT-based split (§4.3-2). */
  def splitValid(notNullCols: Seq[String])(df: DataFrame): (DataFrame, DataFrame) = {
    val pred = notNullCols.map(col(_).isNotNull).reduce(_ && _)
    (df.filter(pred), df.filter(!pred))
  }

  /** W1 — latest-wins dedup: keep the newest row per key.
    *
    * `row_number() OVER (PARTITION BY keys ORDER BY orderCol DESC NULLS
    * LAST, tiebreakers)` == 1. One hash-partition exchange on the key;
    * survives scale-out because state per key is O(1) within the sort.
    * Tiebreaker columns make the winner deterministic on equal
    * timestamps (needed for the DuckDB oracle, SURVEY.md §7.3). */
  def latestWins(keys: Seq[String], orderCol: String, tiebreakers: Seq[Column] = Nil)(
      df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc_nulls_last +: tiebreakers: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** W2 — exact dedup on a key subset. Arbitrary-winner semantics like the
    * reference's `dropDuplicates`; use [[latestWins]] when the survivor
    * must be deterministic. */
  def dedupExact(keys: Seq[String])(df: DataFrame): DataFrame =
    df.dropDuplicates(keys)

  /** J1 — referential-integrity semi-join: keep rows of `df` whose key
    * exists in `dim`. `left_semi` instead of the reference's
    * dedup-then-inner-join (one exchange fewer, no column leakage).
    * Set `broadcastDim = true` when the key set is small enough to ship
    * to every executor (bounded dims only — never an unbounded fact). */
  def semiJoin(on: Seq[String], dim: DataFrame, broadcastDim: Boolean = false)(
      df: DataFrame): DataFrame = {
    val keys = dim.select(on.map(col): _*)
    df.join(if (broadcastDim) broadcast(keys) else keys, on, "left_semi")
      .select(df.columns.map(col).toIndexedSeq: _*) // USING-join puts keys first; restore order
  }

  /** J2 — RI join that degrades to identity if the dimension is missing
    * (reference's try/except fallback, order_glue_job.py:133-140). */
  def semiJoinIfPresent(on: Seq[String], dim: => DataFrame)(df: DataFrame): DataFrame =
    scala.util.Try(dim).map(d => semiJoin(on, d)(df)).getOrElse(df)

  /** T1 — anti-join: rows of `df` with no key match in `other` (the MERGE
    * emulation's core, and the principled form of the reference's
    * `subtract` reject-split). */
  def antiJoin(on: Seq[String], other: DataFrame)(df: DataFrame): DataFrame =
    df.join(other.select(on.map(col): _*), on, "left_anti")
      .select(df.columns.map(col).toIndexedSeq: _*)

  /** P6 — audit/lineage columns (ingestion timestamp + source). Excluded
    * from oracle-compared output (nondeterministic). */
  def withIngestedAt(df: DataFrame): DataFrame =
    df.withColumn("ingested_at", current_timestamp())

  def withLineage(sheetName: String, sourceFile: String)(df: DataFrame): DataFrame =
    df.withColumn("sheet_name", lit(sheetName)).withColumn("source_file", lit(sourceFile))

  /** A1 — one-pass stage metrics: input/valid/rejected counts in a single
    * scan (`groupBy(flag).count`), replacing the reference's
    * count-per-stage recompute (SURVEY.md §4.3-1). */
  def validityCounts(notNullCols: Seq[String])(df: DataFrame): DataFrame = {
    val pred = notNullCols.map(col(_).isNotNull).reduce(_ && _)
    df.groupBy(pred.as("is_valid")).agg(count(lit(1)).as("n"))
  }
}

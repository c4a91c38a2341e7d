package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Scan/sink surface from the reference (SURVEY.md §2.1/§2.2), minus the
  * AWS plumbing: CSV in both schema modes, JSON/CSV/text side outputs,
  * lineage columns, empty-input guard.
  *
  * Cites: common/utils.py:6-18 (CSV reader), products_glue_job.py:125-139
  * (declared schema), order_glue_job.py:87 (header CSV),
  * order_glue_job.py:166-174 (rejected JSON sink),
  * order_items_glue_job.py:143 (rejected CSV sink),
  * order_glue_job.py:180,210 (log text sink).
  */
object Sources {

  /** S1 — CSV with header, all columns inferred as string (the
    * reference's dynamic mode: no schema ⇒ strings; casting happens later
    * in the pipeline, CoreOps.castColumns). */
  def readCsvDynamic(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

  /** S2 — CSV with a declared schema (schema-on-read enforcement; skips
    * the inference pass — one fewer full scan of the input). */
  def readCsvDeclared(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S5 — empty-input guard (products_glue_job.py:140-141). `isEmpty`
    * only evaluates one partition's first row — not a full count. */
  def requireNonEmpty(df: DataFrame, what: String): DataFrame = {
    require(!df.isEmpty, s"$what input is empty")
    df
  }

  /** X1 — lineage columns from the file source itself: the engine-side
    * analogue of the reference's sheet_name/source_file provenance. */
  def withFileLineage(df: DataFrame): DataFrame =
    df.withColumn("source_file", input_file_name())

  /** K4 — JSON side output (rejected rows). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** K5 — CSV side output. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** K6 — single-file text log output, written from the driver: the
    * lines are already bounded driver data (logs/metrics, never
    * data-scale output), so a Spark job — the reference's coalesce(1)
    * text write — would only add its scheduling cost. Same layout as
    * Spark's text sink in overwrite mode: the dir replaced, one `part-*`
    * file of newline-terminated lines, no `_SUCCESS` marker. */
  def writeTextLog(spark: SparkSession, lines: Seq[String], path: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val dir = Paths.get(path)
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part-00000.txt"), lines.map(_ + "\n").mkString)
  }
}

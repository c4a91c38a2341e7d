package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Named access to the driver-provided testdata tables (TESTDATA.md).
  *
  * Every declared query's builder receives `(spark, sfDir)`; this is the
  * single place that maps a logical table name to its parquet path so the
  * scan (and therefore Catalyst's pushdown/pruning) starts from one spot.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A fresh temp dir (`<prefix><random>` under java.io.tmpdir) whose
    * tree is deleted when this JVM exits: two processes writing scratch
    * files for the same scale factor (a test run and a Verify run) never
    * share one and delete or overwrite each other's files mid-read. */
  def scratchRoot(prefix: String): java.nio.file.Path = {
    import java.nio.file.{Files, Path}
    val d = Files.createTempDirectory(prefix)
    sys.addShutdownHook(scala.util.Try(Files.walk(d)
      .sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))))
    d
  }

  /** Normalize `events.ts` across driver testdata generations to ONE
    * type — session-zone TimestampType — so every downstream operator
    * (batch and streaming; this is a pure projection, streaming-safe)
    * sees the same thing:
    *   - parquet TIMESTAMP(NANOS) (older generations): arrives as a
    *     long of nanos under the `nanosAsLong` legacy flag;
    *     floor-converted to micros with integer `div` (double division
    *     would lose precision above 2^53 ns);
    *   - parquet timestamp[us] (current generation): arrives as
    *     TIMESTAMP_NTZ; cast re-types the same wall-clock value (all
    *     graft entry points run UTC sessions).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Inferred-schema cache per parquet path — the catalog role a real
    * lakehouse metastore plays. `spark.read.parquet` re-infers the
    * schema from file footers on EVERY call (~70 ms of driver-side
    * footer I/O, measured round 16); a suite of hundreds of queries
    * each loading 1-3 tables pays that repeatedly for immutable input
    * files. Only the SCHEMA (metadata) is cached — every action still
    * scans the parquet data itself, so nothing here caches results. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      // schema inference fails fast here when the file is TIMESTAMP(NANOS)
      // and the session lacks the legacy flag — surface the fix instead of
      // Spark's bare "Illegal Parquet type"
      val sch = schemaCache.get(path)
      val raw = sch match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None =>
          val df =
            try spark.read.parquet(path)
            catch {
              case e: Throwable if String.valueOf(e.getMessage).contains("NANOS") =>
                throw new IllegalStateException(
                  "events.ts is parquet TIMESTAMP(NANOS); set " +
                    "spark.sql.legacy.parquet.nanosAsLong=true in your " +
                    "SparkSession.builder — it cannot be applied reliably after " +
                    "the session exists, and graft will not mutate your session's " +
                    "conf", e)
            }
          schemaCache.put(path, df.schema)
          df
      }
      normalizeEventTs(raw)
    } else {
      val sch = schemaCache.getOrElseUpdate(path,
        spark.read.parquet(path).schema)
      spark.read.schema(sch).parquet(path)
    }
  }

  /** Register every table as a temp view so plain `spark.sql` works —
    * the reference's Athena surface (SURVEY.md §2.9): tables queryable
    * under stable names. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}

package graft

import org.apache.spark.sql.SparkSession

/** The one session config of the dev mains (Bench, Verify, PlanDump,
  * JobProfileDetail): `local[SPARK_GRAFT_CPUS]` (default 4) with as many
  * shuffle partitions, UTC session time zone, and the nanos-as-long
  * parquet flag — provisioned at build time so no query has to mutate
  * session state: older testdata generations carry events.ts as
  * TIMESTAMP(NANOS), which Spark only reads as long-of-nanos under this
  * flag (normalized in Tables.load; harmless for timestamp[us] data).
  * Every main thus runs under the config Verify's oracle check proves. */
object DevSession {
  def start(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Session and parquet-path warm-up outside any timing: the first query
    * of a JVM otherwise pays session start, file listing, footer decode
    * and codec/datasource class init (~2 s landing on whichever query
    * runs first). */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).limit(1).collect()
      catch { case e: Throwable => System.err.println(s"[warmup] $t: $e") }
    }
  }
}

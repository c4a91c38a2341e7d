package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.CoreOps._

/** The three reference ETL pipelines (SURVEY.md §3.1), recomposed from
  * graft.ops over the testdata domain mapping (orders→orders,
  * lineitem→order_items, part→products; FIXTURES.md §B).
  *
  * Each returns its final DataFrame so it doubles as a query; the
  * write/merge stage is exercised separately through graft.table.LakeTable
  * (tested in LakeTableSpec) so these stay deterministic for the oracle.
  *
  * Reference shape per job:
  *   read → validate schema → cast → valid/reject split → dedup →
  *   RI semi-join → merge   (order_glue_job.py:186-193)
  */
object Pipelines {

  /** Orders pipeline (order_glue_job.py:85-163): strict schema validation,
    * cast, not-null split, latest-wins dedup on the PK by timestamp,
    * RI semi-join against order_items (lineitem). */
  def orders(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.load(spark, sfDir, "orders")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val validated = enforceSchema(Seq(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"))(raw)
    val casted = castColumns(Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType))(validated)
    val (valid, _) = splitValid(Seq("o_orderkey", "o_custkey", "o_orderdate"))(casted)
    val deduped = latestWins(Seq("o_orderkey"), "o_orderdate")(valid)
    semiJoin(Seq("o_orderkey"),
      lineitem.selectExpr("l_orderkey as o_orderkey"))(deduped)
  }

  /** Order-items pipeline (order_items_glue_job.py:96-207): lenient
    * projection, cast, reject split, RI semi-join to orders, composite-key
    * exact dedup — made deterministic via latest-wins with tiebreakers
    * (SURVEY.md §7.3). */
  def orderItems(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.load(spark, sfDir, "lineitem")
    val orders = Tables.load(spark, sfDir, "orders")
    val projected = enforceSchemaLenient(Seq(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"))(raw)
    val (valid, _) = splitValid(Seq("l_orderkey", "l_partkey", "l_shipdate"))(projected)
    val deduped = latestWins(Seq("l_orderkey", "l_linenumber"), "l_shipdate",
      tiebreakers = Seq(col("l_partkey"), col("l_suppkey")))(valid)
    semiJoin(Seq("l_orderkey"),
      orders.selectExpr("o_orderkey as l_orderkey"))(deduped)
  }

  // the staged fixture's malformed rows: every one must fail the
  // not-null split (a bad KEY column), so they route to rejected rather
  // than altering the output
  private val malformedRows = Seq(
    "BAD_KEY,77,F,12.5,2024-01-02T00:00:00.000Z,1-URGENT",
    ",88,O,1.0,2024-01-03T00:00:00.000Z,2-HIGH",
    "999999991,,P,notadouble,garbage-date,3-MEDIUM")

  private lazy val csvTmp = Tables.scratchRoot("graft_csv")

  private def ordersCsvDir(sfDir: String): String = csvTmp
    .resolve(sfDir.replaceAll("[^A-Za-z0-9]", "_")).resolve("orders").toString

  /** Where [[ordersFromCsv]] sinks its rejected rows as JSON (K4). */
  def ordersCsvRejectedDir(sfDir: String): String =
    s"${ordersCsvDir(sfDir)}-rejected"

  // the sfDirs staged in this JVM, recorded once a staging completes
  private val stagedCsv = scala.collection.mutable.Set.empty[String]

  /** Stage the orders table as header CSV plus malformed rows (the
    * upstream-extract stand-in shared by both CSV read modes) under this
    * JVM's own scratch root (`graft_csv*`, deleted at exit), so a test
    * run and a Verify run never overwrite each other's CSV mid-read.
    * Staged ONCE per sfDir per JVM: re-dumping the full CSV on every
    * call would put tmpfs I/O variance inside the benched region (these
    * two queries were the most load-sensitive entries in the round-4
    * detail). The source parquet is read-only input that no spec or
    * query rewrites, so a staging never goes stale within its JVM. */
  private def stageOrdersCsv(spark: SparkSession, sfDir: String): String =
    stagedCsv.synchronized {
      val csvDir = ordersCsvDir(sfDir)
      if (!stagedCsv(sfDir)) {
        val orders = Tables.load(spark, sfDir, "orders")
        orders.write.mode("overwrite").option("header", "true").csv(csvDir)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(csvDir, "zz_malformed.csv"),
          java.util.List.of(orders.columns.mkString(",") +: malformedRows: _*))
        stagedCsv += sfDir
      }
      csvDir
    }

  /** CSV-ingestion variant of the orders pipeline — the reference's ACTUAL
    * input mode: header CSV read with every column as string, promoted to
    * types later (order_glue_job.py:87; common/utils.py:6-18; casts at
    * order_glue_job.py:105-109).
    *
    * Stages: dump orders to CSV (stand-in for the upstream extract) and
    * append deliberately malformed rows → dynamic all-string read (S1) →
    * strict schema validation (P1) → try_cast promotion (P3, ANSI-safe:
    * malformed values null out instead of failing the job) → valid/reject
    * split (P4/P5) → rejected rows captured via the JSON side sink (K4) →
    * latest-wins dedup (W1) → RI semi-join (J1).
    *
    * Returns (final, rejected); the malformed rows all fail the not-null
    * split, so the valid-path result is byte-identical to running the
    * pipeline off parquet — which is exactly what the DuckDB oracle checks.
    */
  def ordersFromCsv(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import graft.sources.Sources
    val csvDir = stageOrdersCsv(spark, sfDir)
    val raw = Sources.readCsvDynamic(spark, csvDir)
    val validated = enforceSchema(Seq(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"))(raw)
    val casted = castColumns(Map(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType))(validated)
    val (valid, rejected) = splitValid(Seq("o_orderkey", "o_custkey", "o_orderdate"))(casted)
    Sources.writeJson(rejected, ordersCsvRejectedDir(sfDir))
    val deduped = latestWins(Seq("o_orderkey"), "o_orderdate")(valid)
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    (semiJoin(Seq("o_orderkey"),
      lineitem.selectExpr("l_orderkey as o_orderkey"))(deduped), rejected)
  }

  /** S2 variant: the same CSV ingested with a DECLARED schema — the
    * reader does the typed parsing directly (no inference pass, one fewer
    * scan); under the default PERMISSIVE mode malformed values null out
    * exactly like try_cast, so the reject routing is identical. */
  def ordersFromCsvDeclared(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    import graft.sources.Sources
    val csvDir = stageOrdersCsv(spark, sfDir)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val raw = Sources.readCsvDeclared(spark, csvDir, schema)
    val (valid, rejected) = splitValid(Seq("o_orderkey", "o_custkey", "o_orderdate"))(raw)
    val deduped = latestWins(Seq("o_orderkey"), "o_orderdate")(valid)
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    (semiJoin(Seq("o_orderkey"),
      lineitem.selectExpr("l_orderkey as o_orderkey"))(deduped), rejected)
  }

  /** Training-corpus cleaning pipeline — the north-star composite:
    * quality-score filter → exact dedup on normalized text (min-id
    * survivor) → per-language corpus stats. Every stage is row-local or
    * one hash shuffle; the whole thing is one linear pass at any scale. */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextFunctions._
    import graft.operators.Dedup
    val docs = Tables.load(spark, sfDir, "documents")
    val scored = docs.withColumn("quality", qualityScore(col("text")))
    val kept = scored.filter(col("quality") >= 0.5)
    val deduped = Dedup.dropExactDuplicates(kept, "doc_id", "text")
    deduped.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("sum_tokens"),
        round(avg(col("quality")), 4).as("avg_quality"))
      .orderBy("lang")
  }

  /** End-to-end training-corpus curation — the full LLM-data pipeline as
    * ONE call, each stage an already-verified operator:
    *
    *   1. language filter on the label column
    *   2. quality floor: frozen-logistic score ([[graft.functions
    *      .TextFunctions.qualityLogit]]) at `minQuality`
    *   3. benchmark decontamination: drop docs containing ANY eval-set
    *      string (one Aho–Corasick pass per row)
    *   4. exact dedup: keep min id per normalized fingerprint
    *   5. near-dup families: MinHash+LSH pairs at `nearDupThreshold` →
    *      connected components
    *   6. survivor selection: best quality per family (min-id tiebreak)
    *   7. leakage-safe split: whole families to train/test by md5 rule
    *
    * Output: one row per SURVIVING doc — (idCol, langCol, quality,
    * family, split). Every stage is linear or bucketed (the near-dup
    * stage is the repo's banded-LSH shape, never all-pairs), so the
    * composite inherits the 100 TB story of its parts.
    */
  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, keepLangs: Seq[String], minQuality: Double,
      evalPatterns: Seq[String], shingleN: Int = 3,
      nearDupThreshold: Double = 0.7, testHexPrefix: String = "33"): DataFrame = {
    import graft.functions.{TextExpressions, TextFunctions}
    import graft.operators.Dedup
    val kept = docs
      .filter(col(langCol).isin(keepLangs: _*))
      .withColumn("quality", TextFunctions.qualityLogit(col(textCol)))
      .filter(col("quality") >= minQuality)
      .filter(size(TextExpressions.multiPatternMatch(
        col(textCol), evalPatterns)) === 0)
    val exact = Dedup.dropExactDuplicates(kept, idCol, textCol)
    val pairs = Dedup.minhashLshPairs(exact, idCol, textCol, shingleN,
      k = 64, bands = 16, threshold = nearDupThreshold)
    val fams = Dedup.dedupFamilies(exact.select(col(idCol)), pairs, idCol)
    Dedup.keepBestPerFamily(
        exact.select(col(idCol), col(langCol), col("quality")),
        idCol, "quality", fams)
      .withColumn("split", Dedup.splitColumn(col("family"), testHexPrefix))
  }

  /** Nightly-ingestion curation: admit only NEW documents that pass the
    * same quality/decontamination gates as [[curateCorpus]] AND are not
    * exact or near duplicates of the STANDING corpus or of a smaller-id
    * new doc (keep-min-id, the repo's survivor convention).
    *
    * Scale shape: the standing corpus is never self-paired —
    * [[graft.operators.Dedup.minhashLshPairsIncremental]] only emits
    * pairs touching the increment, so nightly cost is
    * O(increment × collision rate), not O(corpus²). Admitted docs are
    * split-assigned individually (they are non-dups by construction, so
    * each is its own family).
    *
    * Output: (idCol, langCol, quality, split) for admitted new docs.
    */
  def curateIncrement(newDocs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, langCol: String, keepLangs: Seq[String],
      minQuality: Double, evalPatterns: Seq[String], shingleN: Int = 3,
      nearDupThreshold: Double = 0.7, testHexPrefix: String = "33"): DataFrame = {
    import graft.functions.{TextExpressions, TextFunctions}
    import graft.operators.Dedup
    val kept = newDocs
      .filter(col(langCol).isin(keepLangs: _*))
      .withColumn("quality", TextFunctions.qualityLogit(col(textCol)))
      .filter(col("quality") >= minQuality)
      .filter(size(TextExpressions.multiPatternMatch(
        col(textCol), evalPatterns)) === 0)
    val exactNew = Dedup.dropExactDuplicates(kept, idCol, textCol)
    // drop exact dups of the standing corpus (fingerprint anti-join —
    // 32-char keys shuffle, never the text)
    val corpusFp = corpus.select(
      TextFunctions.fingerprintNormalized(col(textCol)).as("__fp")).distinct()
    val fresh = exactNew
      .withColumn("__fp", TextFunctions.fingerprintNormalized(col(textCol)))
      .join(corpusFp, Seq("__fp"), "left_anti").drop("__fp")
    // near-dups touching the increment only; pairs come back normalized
    // a_id < b_id, so: b new => drop b (covers corpus-new AND new-new);
    // b in corpus => its partner a is new => drop a
    val pairs = Dedup.minhashLshPairsIncremental(
      corpus.select(col(idCol), col(textCol)),
      fresh.select(col(idCol), col(textCol)),
      idCol, textCol, shingleN, k = 64, bands = 16,
      threshold = nearDupThreshold)
    val corpusIds = corpus.select(col(idCol).as("__cid")).distinct()
    val dropB = pairs.join(corpusIds, pairs("b_id") === corpusIds("__cid"),
      "left_anti").select(col("b_id").as("__drop"))
    val dropA = pairs.join(corpusIds, pairs("b_id") === corpusIds("__cid"),
      "left_semi").select(col("a_id").as("__drop"))
    val drops = dropB.unionByName(dropA).distinct()
    fresh.join(drops, fresh(idCol) === drops("__drop"), "left_anti")
      .select(col(idCol), col(langCol), col("quality"))
      .withColumn("split", Dedup.splitColumn(col(idCol), testHexPrefix))
  }

  /** Products pipeline (products_glue_job.py:135-194): declared-schema
    * read, empty-input guard, exact dedup on PK, not-null filter, RI
    * semi-join from the fact table's key set. The part dim is small
    * relative to lineitem, but the *key set* shipped into the semi-join
    * comes from lineitem — so we aggregate it first and let AQE pick
    * broadcast once it's tiny. */
  def products(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = Tables.load(spark, sfDir, "part")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    require(!raw.isEmpty, "products input is empty")  // S5 empty-input guard
    val validated = enforceSchema(Seq(
      "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))(raw)
    val (valid, _) = splitValid(Seq("p_partkey", "p_name"))(validated)
    val deduped = latestWins(Seq("p_partkey"), "p_name")(valid)
    semiJoin(Seq("p_partkey"),
      lineitem.selectExpr("l_partkey as p_partkey"))(deduped)
  }
}

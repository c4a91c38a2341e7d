package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.MvRewrite
import graft.streaming.Streams
import graft.table.{IncrementalView, LakeTable}

/** The lakehouse query family: every query that writes files — MERGE /
  * DML / time travel, change feeds, incremental and materialized views,
  * streaming drains into lake tables, the persistent indexes, the
  * orchestrator run, the skipping layouts and the format round-trips.
  */
object Lakehouse extends QueryFamily {

  /** Guard for the MV-rewrite queries: fail loudly unless the optimized
    * plan scans ONLY the view's path — so the correctness row proves the
    * rewrite actually fired (a silent fallback to the base would still
    * match the oracle and hide a dead rule). */
  private def assertViewOnlyScan(df: DataFrame, view: LakeTable,
      tag: String): DataFrame = {
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten
    require(paths.nonEmpty && paths.forall(_.contains(view.tablePath)),
      s"$tag: expected the MV rewrite to serve this query from the view " +
        s"at ${view.tablePath}; scanned $paths")
    df
  }

  /** The scratch root for scale-factor dir `dir` of every query that
    * writes files (lake tables, the orchestrator run, format
    * round-trips, skipping layouts): a sub-dir of one temp dir per JVM,
    * deleted at exit — so two processes running the same scale factor
    * (a test run and a Verify run) never share these dirs and delete
    * each other's files mid-read. */
  private def tableRoot(dir: String): String =
    tablesTmp.resolve(dir.replaceAll("[^A-Za-z0-9]", "_")).toString

  private lazy val tablesTmp: java.nio.file.Path = {
    import java.nio.file.{Files, Path}
    val d = Files.createTempDirectory("graft_tables")
    sys.addShutdownHook(scala.util.Try(Files.walk(d)
      .sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))))
    d
  }

  // ---- The orders churn most of this family replays ----
  //
  // Create the table from the keys ≢ 0 mod 3, upsert the keys ≡ 0 mod 2
  // with the price doubled, delete the keys ≡ 0 mod 5. Spelled once for
  // the Spark side (frames and a predicate) and once for the oracles
  // (CTEs over `orders`); a variant query spells only the piece it changes.

  private def churnTarget(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 3 =!= 0)

  /** The upsert's rows, before any column is changed. */
  private def churnBatch(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 2 === 0)

  private def churnSource(orders: DataFrame): DataFrame =
    churnBatch(orders).withColumn("o_totalprice", col("o_totalprice") * 2)

  private def churnDeleted: Column = col("o_orderkey") % 5 === 0

  /** The join views' dimension churn: segment moves, then member deletes. */
  private def dimChurn(d: LakeTable): Unit = {
    d.update(col("o_custkey") % 7 === 0, Map("c_mktsegment" -> lit("MOVED")))
    d.delete(col("o_custkey") % 11 === 0)
  }

  /** The join-view queries' tables under prefix `p`: fact `<p>_fact`
    * (orders) and dim `<p>_dim` (customer, keyed as o_custkey), both
    * with change feeds, and view `<p>_view` by segment. All three are
    * dropped, then the fact (the churn target) and the dim are created
    * in ONE fused write (§2.6). Returns the orders the churn replays. */
  private def joinTables(s: SparkSession, dir: String, p: String)
      : (DataFrame, LakeTable, LakeTable, LakeTable) = {
    val orders = Tables.load(s, dir, "orders")
    val customer = Tables.load(s, dir, "customer")
      .withColumnRenamed("c_custkey", "o_custkey")
    val root = tableRoot(dir)
    val f = LakeTable(s, root, s"${p}_fact", Seq("o_orderkey"), changeFeed = true)
    val d = LakeTable(s, root, s"${p}_dim", Seq("o_custkey"), changeFeed = true)
    val vw = LakeTable(s, root, s"${p}_view", Seq("c_mktsegment"))
    f.drop(); d.drop(); vw.drop()
    LakeTable.commitFused(Seq(
      f.pendingCreate(churnTarget(orders)), d.pendingCreate(customer)))
    (orders, f, d, vw)
  }

  /** A maintained view read back under the oracle's names: the key, n,
    * sum_value as sum_total, then `more`; ordered by the key. */
  private def sumViewRows(v: LakeTable, key: String, more: Column*): DataFrame =
    v.read.select(Seq(col(key), col("n"),
        col("sum_value").cast("double").as("sum_total")) ++ more: _*)
      .orderBy(key)

  private def minMaxTotals: Seq[Column] = Seq(
    col("min_value").cast("double").as("min_total"),
    col("max_value").cast("double").as("max_total"))

  /** sum_sq as its exact string rendering: a raw decimal output column
    * is the one type the oracle compare hashes differently per engine. */
  private def sumSqText: Column = col("sum_sq").cast("string").as("sum_sq")

  private val targetCte =
    "target AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0)"

  private val sourceCte =
    """source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                         o_totalprice * 2 AS o_totalprice, o_orderdate,
                         o_orderpriority
                  FROM orders WHERE o_orderkey % 2 = 0)"""

  /** q_mv_avg's source: keys ≡ 1 mod 7 get a NULL price instead. */
  private val nullPriceSourceCte =
    """source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                         CASE WHEN o_orderkey % 7 = 1 THEN NULL
                              ELSE o_totalprice * 2 END AS o_totalprice,
                         o_orderdate, o_orderpriority
                  FROM orders WHERE o_orderkey % 2 = 0)"""

  private val mergedCte =
    """merged AS (
         SELECT * FROM target t
         WHERE NOT EXISTS (SELECT 1 FROM source s
                           WHERE s.o_orderkey = t.o_orderkey)
         UNION ALL SELECT * FROM source)"""

  private val finalCte =
    "final AS (SELECT * FROM merged WHERE o_orderkey % 5 <> 0)"

  /** The table right after the upsert (`merged`). */
  private val upsertedCtes = s"$targetCte, $sourceCte, $mergedCte"

  /** The table after the delete too (`final`). */
  private val churnedCtes = s"$upsertedCtes, $finalCte"

  /** The dimension after [[dimChurn]]. */
  private val dimChurnedCte =
    """dfinal AS (
         SELECT c_custkey,
                CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
                     ELSE c_mktsegment END AS c_mktsegment
         FROM customer WHERE c_custkey % 11 <> 0)"""

  /** The dedup-index queries' oracle: all-pairs Jaccard ≥ 0.7 over the
    * final corpus (docs ≡ 3 mod 7 deleted) — batch, pruned-layout and
    * streaming maintenance must all land on it. */
  private val dedupPairsSql =
    Corpus.shinglePairsSql("documents WHERE doc_id % 7 <> 3")

  /** The ANN-index queries' oracle: brute-force top-5 cosine over the
    * final corpus (ids ≡ 4 mod 11 negated, ≡ 3 mod 7 deleted), queried
    * with the ORIGINAL vectors. */
  private val annTopKSql =
    """WITH corpus AS (
           SELECT vec_id,
                  CASE WHEN vec_id % 11 = 4
                       THEN list_transform(embedding::DOUBLE[], x -> -x)
                       ELSE embedding::DOUBLE[] END AS emb
           FROM embeddings WHERE vec_id % 7 <> 3),
         nc AS (
           SELECT vec_id,
                  list_transform(emb,
                    x -> x / sqrt(list_sum(list_transform(emb, y -> y * y))))
                    AS v
           FROM corpus),
         nq AS (
           SELECT vec_id,
                  list_transform(embedding::DOUBLE[],
                    x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                          y -> y * y)))) AS v
           FROM embeddings WHERE vec_id < 16),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ROUND(list_dot_product(q.v, c.v), 6) AS cos
           FROM nq q JOIN nc c ON q.vec_id <> c.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, cos FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""

  protected val paired: Seq[(String, Paired)] = Seq(

    // full job orchestration (reference main + Step Functions routing):
    // all three pipelines with reject sinks, one-pass Observation metrics,
    // RI fallback, and MERGE into lake tables; compared output is the
    // final merged-table state
    "q_orchestrator" -> Paired((s, dir) => {
      import graft.pipelines.Orchestrator
      val root = s"${tableRoot(dir)}/orch"
      Orchestrator.deleteRecursively(root)
      Orchestrator.runAll(s, dir, root)
      def summ(entity: String, keys: Seq[String], keyCol: String) =
        LakeTable(s, root, entity, keys).read
          .agg(count(lit(1)).as("n_rows"), sum(col(keyCol)).as("key_sum"))
          .select(lit(entity).as("entity"), col("n_rows"), col("key_sum"))
      summ("order_items", Seq("l_orderkey", "l_linenumber"), "l_orderkey")
        .unionByName(summ("orders", Seq("o_orderkey"), "o_orderkey"))
        .unionByName(summ("products", Seq("p_partkey"), "p_partkey"))
        .orderBy("entity")
    },
      // the three merged tables equal their pipeline results (first run is a
      // create; reruns are idempotent merges), so the oracle re-derives each
      // pipeline and compares counts + key checksums
      """SELECT 'order_items' AS entity, count(*) AS n_rows,
                CAST(SUM(l_orderkey) AS BIGINT) AS key_sum
         FROM (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_shipdate DESC NULLS LAST, l_partkey, l_suppkey) AS rn
             FROM lineitem
             WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
               AND l_shipdate IS NOT NULL) t
           WHERE rn = 1
             AND EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = t.l_orderkey))
         UNION ALL
         SELECT 'orders', count(*), CAST(SUM(o_orderkey) AS BIGINT)
         FROM (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY o_orderdate DESC NULLS LAST) AS rn
             FROM orders
             WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
               AND o_orderdate IS NOT NULL) t
           WHERE rn = 1
             AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = t.o_orderkey))
         UNION ALL
         SELECT 'products', count(*), CAST(SUM(p_partkey) AS BIGINT)
         FROM (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY p_partkey ORDER BY p_name DESC NULLS LAST) AS rn
             FROM part
             WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL) t
           WHERE rn = 1
             AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = t.p_partkey))
         ORDER BY entity"""),

    // JSON source round-trip (S-surface breadth): typed table → JSON lines
    // → schema-inferred read → aggregate; oracle aggregates the parquet
    // original, so inference + value fidelity are both checked
    "q_json_source" -> Paired((s, dir) => {
      val path = s"${tableRoot(dir)}/fmt/orders_json"
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").json(path)
      s.read.json(path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("sum_total"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // ORC source round-trip (the other built-in columnar format)
    "q_orc_source" -> Paired((s, dir) => {
      val path = s"${tableRoot(dir)}/fmt/orders_orc"
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), max(col("o_orderdate")).as("max_date"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("sum_total"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus, count(*) AS n, max(o_orderdate) AS max_date,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_total
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // K2/K3 — full MERGE upsert through the LakeTable layer (real
    // partitioned-parquet writes + atomic swap), then summarize the
    // merged table. target = keys ≢0 mod 3; source = keys ≡0 mod 2 with
    // doubled totalprice (UPDATE for overlap, INSERT for the rest).
    "q_merge_upsert" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_merge", Seq("o_orderkey"))
      t.create(churnTarget(orders))
      t.upsert(churnSource(orders))
      t.read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("sum_total"))
        .orderBy("o_orderstatus")
    },
      s"""WITH $upsertedCtes
         SELECT o_orderstatus, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_total
         FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // K2 three-clause MERGE (Delta's WHEN MATCHED [AND cond] THEN
    // DELETE / UPDATE ALL / WHEN NOT MATCHED INSERT ALL): ONE atomic
    // commit applies updates, inserts, AND matched deletions — batch
    // rows with key ≡0 mod 7 remove their target rows, the rest
    // upsert; delete markers for absent keys are no-ops (SQL DELETE
    // semantics). This is the commit shape the IVM maintainers use for
    // group extinction (no upsert-then-delete crash window). Oracle
    // replays the same three-way merge relationally.
    "q_merge_delete" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_merge_del", Seq("o_orderkey"))
      t.create(churnTarget(orders))
      t.upsertWithDelete(churnSource(orders), col("o_orderkey") % 7 === 0)
      t.read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("sum_total"))
        .orderBy("o_orderstatus")
    },
      // three-clause MERGE replay: all batch keys leave the target, only
      // non-delete batch rows come back
      s"""WITH $targetCte, $sourceCte,
            merged AS (
              SELECT * FROM target t
              WHERE NOT EXISTS (SELECT 1 FROM source s
                                WHERE s.o_orderkey = t.o_orderkey)
              UNION ALL SELECT * FROM source WHERE o_orderkey % 7 <> 0)
         SELECT o_orderstatus, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_total
         FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // K2 time travel through the version-retaining atomic swap: create
    // (vN) → MERGE (vN+1) → read BOTH the current table and the retained
    // pre-merge snapshot via readVersion, contrasted per status. The
    // snapshot is the max of availableVersions AFTER the merge — the
    // version the merge displaced, i.e. this run's own create. (A
    // "second-highest" heuristic instead resolves to the PREVIOUS run's
    // final state once the table dir has accumulated versions — reruns
    // in a long session keep appending — a silent rerun instability the
    // full-suite oracle run caught while targeted fresh-dir runs
    // passed.)
    "q_time_travel" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_time_travel", Seq("o_orderkey"))
      t.create(churnTarget(orders))
      t.upsert(churnSource(orders))
      // availableVersions lists retained PRIOR snapshots (current
      // excluded), so its max after the merge is exactly the snapshot
      // the merge displaced — THIS run's create
      val prevV = t.availableVersions.max
      def agg(df: DataFrame, nCol: String, sumCol: String) =
        df.groupBy("o_orderstatus").agg(
          count(lit(1)).as(nCol),
          sum(col("o_totalprice").cast("decimal(20,4)"))
            .cast("double").as(sumCol))
      agg(t.read, "n_cur", "sum_cur")
        .join(agg(t.readVersion(prevV), "n_prev", "sum_prev"),
          Seq("o_orderstatus"))
        .orderBy("o_orderstatus")
    },
      // current state = the q_merge_upsert merge; previous snapshot = the
      // pre-merge target, both replayed relationally
      s"""WITH $upsertedCtes,
            cur AS (SELECT o_orderstatus, count(*) AS n_cur,
                           CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4)))
                                AS DOUBLE) AS sum_cur
                    FROM merged GROUP BY 1),
            prev AS (SELECT o_orderstatus, count(*) AS n_prev,
                            CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4)))
                                 AS DOUBLE) AS sum_prev
                     FROM target GROUP BY 1)
         SELECT o_orderstatus, n_cur, sum_cur, n_prev, sum_prev
         FROM cur JOIN prev USING (o_orderstatus)
         ORDER BY o_orderstatus"""),

    // K2 partition-pruned MERGE: year-partitioned orders table, source
    // touching a single partition — only that partition is rewritten,
    // untouched ones are hard-linked into the new version (sub-linear in
    // table size; compare its bench time against the full-rewrite
    // q_merge_upsert above).
    "q_merge_upsert_pruned" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      val source = orders.filter(col("o_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_merge_pruned", Seq("o_orderkey"),
        partitionCols = Seq("o_year"))
      t.create(orders)
      t.upsert(source) // prunePartitions defaults ON for partitioned tables
      t.read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("sum_total"))
        .orderBy("o_orderstatus")
    },
      """WITH base AS (SELECT *, year(o_orderdate) AS o_year FROM orders),
            source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                              o_totalprice * 2 AS o_totalprice, o_orderdate,
                              o_orderpriority, o_year
                       FROM base WHERE o_year = 1995 AND o_orderkey % 2 = 0),
            merged AS (
              SELECT * FROM base t
              WHERE NOT EXISTS (SELECT 1 FROM source s
                                WHERE s.o_orderkey = t.o_orderkey)
              UNION ALL SELECT * FROM source)
         SELECT o_orderstatus, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_total
         FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // row-level DML (Delta parity): DELETE low-value F orders, UPDATE the
    // priority of the largest ones, then summarize the final table state
    "q_delete_update" -> Paired((s, dir) => {
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_dml", Seq("o_orderkey"))
      t.create(Tables.load(s, dir, "orders"))
      t.delete(col("o_orderstatus") === "F" && col("o_totalprice") < 50000)
      t.update(col("o_totalprice") >= 300000,
        Map("o_orderpriority" -> lit("0-REVIEWED")))
      t.read.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("sum_total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },
      """SELECT o_orderstatus,
                CASE WHEN o_totalprice >= 300000 THEN '0-REVIEWED'
                     ELSE o_orderpriority END AS o_orderpriority,
                count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_total
         FROM orders
         WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
         GROUP BY 1, 2 ORDER BY o_orderstatus, o_orderpriority"""),

    // OPTIMIZE ZORDER: table rewritten clustered on the Morton curve of
    // (p_size, p_retailprice); content must be unchanged, which is what
    // the oracle checks (layout is asserted in LakeTableSpec)
    "q_zorder" -> Paired((s, dir) => {
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "part_z", Seq("p_partkey"))
      t.create(Tables.load(s, dir, "part")
        .select("p_partkey", "p_size", "p_retailprice"))
      t.optimizeZorder("p_size", "p_retailprice")
      t.read.groupBy("p_size")
        .agg(count(lit(1)).as("n"),
          sum(col("p_retailprice").cast("decimal(20,4)")).cast("double").as("sum_price"))
        .orderBy("p_size")
    },
      """SELECT p_size, count(*) AS n,
                CAST(SUM(CAST(p_retailprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price
         FROM part GROUP BY p_size ORDER BY p_size"""),

    // Persistent CDC-maintained LSH dedup index (table/DedupIndex): the
    // nightly-ingest shape at 100 TB. Unlike q_minhash_incremental, the
    // corpus is NEVER re-shingled — band rows live in a lakehouse table
    // maintained from the documents table's change feed, so each wave
    // costs O(changed docs + touched-bucket candidates). Three ingest
    // waves + a delete wave; the final maintained pairs table must equal
    // the all-pairs Jaccard oracle over the FINAL corpus state (delete
    // included), which is also the batch-recompute equivalence
    // DedupIndexSpec pins through updates.
    "q_dedup_index" -> Paired((s, dir) => {
      val all = Tables.load(s, dir, "documents").select("doc_id", "text")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "didx_docs", Seq("doc_id"),
        changeFeed = true)
      t.drop()
      val di = graft.table.DedupIndex(s, root, "didx")
      t.create(all.filter(col("doc_id") % 3 === 1))
      di.build(t.read, "doc_id", "text")
      var synced = t.version
      t.upsert(all.filter(col("doc_id") % 3 === 2))
      synced = di.maintain(t, "doc_id", "text", synced)
      t.upsert(all.filter(col("doc_id") % 3 === 0))
      t.delete(col("doc_id") % 7 === 3)
      synced = di.maintain(t, "doc_id", "text", synced)
      di.pairs.read.orderBy("a_id", "b_id")
    },
      // the maintained pairs table after 3 ingest waves + a delete wave ==
      // all-pairs Jaccard over the FINAL corpus state (docs %7=3 deleted)
      dedupPairsSql),

    // q_dedup_index with the SERVING layout: postingParts maintains the
    // bucket-partitioned postings sidecar (the candidate probe becomes a
    // partition-PRUNED read of the standing index — the plan
    // DedupIndexSpec pins), idParts hash-partitions the packed index
    // so its per-batch merge rewrites only touched id partitions, and
    // docParts hash-partitions the DOCS table itself so the snapshot
    // text fetches (alive-touched + candidate verification) open only
    // the touched ids' bucket partitions — the last O(corpus) term of
    // the maintenance path, pruned. The small-batch/streaming regime of
    // DedupIndex's class-doc analysis; same churn, same oracle — layout
    // must never change answers.
    "q_dedup_index_pruned" -> Paired((s, dir) => {
      val all = Tables.load(s, dir, "documents").select("doc_id", "text")
      val root = tableRoot(dir)
      // the DOCS table's id-hash layout is owned by the Bucketed handle
      // (every write stamps __db; modulus derived from the FULL corpus
      // count and frozen in meta — DocBuckets.sized drops any previous
      // run's table first so its feed/modulus can't leak in)
      val b = graft.table.DocBuckets.sized(s, root, "pdidx_docs",
        "doc_id", all.count(), all.filter(col("doc_id") % 3 === 1))
      // pairParts: the stale-pair lookup and the pairs merge prune to
      // the batch ids' __ab buckets (symmetric layout — the last
      // O(pairs) terms of a maintain, see DedupIndex's class doc)
      val di = graft.table.DedupIndex(s, root, "pdidx",
        postingParts = 16, idParts = 8, docParts = b.parts, pairParts = 8)
      di.build(b.read, "doc_id", "text")
      val synced = b.version
      b.upsert(all.filter(col("doc_id") % 3 === 2))
      b.upsert(all.filter(col("doc_id") % 3 === 0))
      b.delete(col("doc_id") % 7 === 3)
      // ONE maintain over the whole multi-version span (vs
      // q_dedup_index's per-wave maintains): same final state, same
      // oracle — and the span form is the one the serving layout is
      // for (fewer, batched syncs; the per-wave form is the unpruned
      // twin's job)
      di.maintain(b.table, "doc_id", "text", synced)
      di.currentPairs.orderBy("a_id", "b_id")
    },
      // identical oracle: the pruned serving layout must not change answers
      dedupPairsSql),

    // Streaming twin of q_dedup_index: the SAME ingest/delete churn, but
    // the index is maintained by subscribing to the documents table's
    // CDC STREAM (foreachBatch over the shared DedupIndex.applyChanges
    // core, batch-id idempotent) — streaming and batch dedup maintenance
    // are one semantics by construction. Identical oracle. Runs the FULL
    // SERVING layouts under the drain (postings sidecar + id-partitioned
    // packed index + bucketed docs table + symmetric pairs layout), like
    // its ANN twin: the exactly-once marker rides the pairs merge, every
    // micro-batch exercises the postings→index→pairs commit ordering and
    // the span tokens, and the layouts must never change answers — which
    // is exactly the property worth benching on the oracle-compared row.
    "q_stream_dedup_index" -> Paired((s, dir) => {
      val all = Tables.load(s, dir, "documents").select("doc_id", "text")
      val root = tableRoot(dir)
      val b = graft.table.DocBuckets.sized(s, root, "sdidx_docs",
        "doc_id", all.count(), all.filter(col("doc_id") % 3 === 1))
      val di = graft.table.DedupIndex(s, root, "sdidx",
        postingParts = 16, idParts = 8, docParts = b.parts, pairParts = 8)
      di.build(b.read, "doc_id", "text")
      b.upsert(all.filter(col("doc_id") % 3 === 2))
      b.upsert(all.filter(col("doc_id") % 3 === 0))
      b.delete(col("doc_id") % 7 === 3)
      // the stream replays the WHOLE recorded feed; events already
      // reflected in the built index re-converge harmlessly because
      // final doc state comes from the snapshot, never the event payload
      Streams.maintainDedupIndexFromChangeFeed(
        b.readChangeFeedStream, b.table, di, "doc_id", "text")
      di.currentPairs.orderBy("a_id", "b_id")
    },
      // the streaming-maintained pairs table must land the SAME final
      // state as the batch-maintained one — identical oracle
      dedupPairsSql),

    // incremental view maintenance: a per-customer (count, sum) view
    // kept fresh from the base table's CDC feed across an upsert AND a
    // delete batch — O(changes), never a base rescan; the oracle is the
    // full recompute the delta rule must equal
    "q_ivm" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_ivm", Seq("o_orderkey"),
        changeFeed = true) // write-time CDF: maintenance never diffs snapshots
      val v = LakeTable(s, root, "orders_ivm_view", Seq("o_custkey"))
      t.drop(); v.drop() // fresh history per run (rerun stability)
      t.create(churnTarget(orders))
      // record the snapshot the view is built from — NOT
      // availableVersions.min, which only coincides with it while
      // retention happens to keep the create version around
      val v0 = t.version
      v.create(IncrementalView.sumView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      IncrementalView.maintainSumView(t, v, Seq("o_custkey"),
        "o_totalprice", sinceVersion = v0)
      sumViewRows(v, "o_custkey")
    },
      // full recompute of the final base state (merge then delete) — the
      // delta-maintained view must equal it exactly
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // min/max incremental view maintenance: same CDC batches as q_ivm,
    // but the view also carries per-group extrema — maintained from the
    // insert-side delta when safe and by a per-group base rescan only
    // where a delete removed the current extremum (the textbook IVM
    // caveat, implemented instead of documented). Oracle = the full
    // recompute the maintained view must equal exactly.
    "q_ivm_minmax" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_ivmmm", Seq("o_orderkey"),
        changeFeed = true)
      val v = LakeTable(s, root, "orders_ivmmm_view", Seq("o_custkey"))
      t.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      v.create(IncrementalView.minMaxView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders)) // doubles even-key prices: moves many group maxima
      t.delete(churnDeleted) // deletes extrema + whole groups
      IncrementalView.maintainMinMaxView(t, v, Seq("o_custkey"),
        "o_totalprice", sinceVersion = v0)
      sumViewRows(v, "o_custkey", minMaxTotals: _*)
    },
      // same replay as q_ivm plus exact min/max — the maintained extrema
      // (delta rule + threatened-group rescan) must equal the recompute
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS max_total
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // Transparent materialized-view rewrite (plans.MvRewrite — the
    // Calcite/Snowflake MV-substitution pattern as a Catalyst rule):
    // the SAME churn replay as q_ivm_minmax, but the final aggregation
    // is issued against the BASE table and silently served by the
    // maintained view. The lambda asserts by plan inspection that the
    // optimized plan scans ONLY the view path — this correctness row
    // proves the rewrite fired AND that the view it served is exact.
    // At 100 TB this turns a full-corpus shuffle-aggregate into an
    // O(groups) read; freshness is checked per query against the
    // mv.base_version marker the maintainer commits atomically.
    "q_mv_rewrite" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      graft.plans.GraftOptimizations.install(s)
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_mv", Seq("o_orderkey"),
        changeFeed = true)
      val v = LakeTable(s, root, "orders_mv_view", Seq("o_custkey"))
      t.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      v.create(IncrementalView.minMaxView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      IncrementalView.maintainMinMaxView(t, v, Seq("o_custkey"),
        "o_totalprice", sinceVersion = v0,
        meta = MvRewrite.syncMeta(t.version))
      MvRewrite.register(t, v, Seq("o_custkey"), "o_totalprice",
        MvRewrite.MinMaxKind)
      val vDec = col("o_totalprice").cast("decimal(20,4)")
      val q = t.read.groupBy("o_custkey").agg(
          count(lit(1)).as("n"),
          sum(vDec).cast("double").as("sum_total"),
          min(vDec).cast("double").as("min_total"),
          max(vDec).cast("double").as("max_total"))
        .orderBy("o_custkey")
      assertViewOnlyScan(q, v, "q_mv_rewrite")
    },
      // the MV rewrite serves the query from the maintained view, so the
      // oracle is the honest base aggregation after the replay — identical
      // value space (decimal(20,4)) to q_ivm_minmax
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS max_total
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // MV roll-up rewrite: the view is keyed FINER than the query
    // (customer x priority vs priority), so the rule re-aggregates the
    // O(groups) view instead of the base — grouping-subset containment,
    // with a key-column filter commuted through the rewrite. Same
    // plan-inspection guarantee as q_mv_rewrite.
    "q_mv_rollup" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      graft.plans.GraftOptimizations.install(s)
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_mvr", Seq("o_orderkey"),
        changeFeed = true)
      val v = LakeTable(s, root, "orders_mvr_view",
        Seq("o_custkey", "o_orderpriority"))
      t.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      v.create(IncrementalView.minMaxView(
        t.read, Seq("o_custkey", "o_orderpriority"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      IncrementalView.maintainMinMaxView(t, v,
        Seq("o_custkey", "o_orderpriority"), "o_totalprice",
        sinceVersion = v0, meta = MvRewrite.syncMeta(t.version))
      MvRewrite.register(t, v,
        Seq("o_custkey", "o_orderpriority"), "o_totalprice",
        MvRewrite.MinMaxKind)
      val vDec = col("o_totalprice").cast("decimal(20,4)")
      val q = t.read.filter(col("o_custkey") % 10 < 5)
        .groupBy("o_orderpriority").agg(
          count(lit(1)).as("n"),
          sum(vDec).cast("double").as("sum_total"),
          min(vDec).cast("double").as("min_total"),
          max(vDec).cast("double").as("max_total"))
        .orderBy("o_orderpriority")
      assertViewOnlyScan(q, v, "q_mv_rollup")
    },
      // roll-up form: the query groups COARSER than the view and filters
      // on a view key; the rewrite re-aggregates view rows — the oracle
      // re-aggregates the base, same decimal value space
      s"""WITH $churnedCtes
         SELECT o_orderpriority, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS max_total
         FROM final WHERE o_custkey % 10 < 5
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // MV rewrite serving COUNT(DISTINCT): the aux-backed full-stats
    // view materializes the exact per-group distinct count, so the
    // most expensive aggregate at scale (distinct forces a second
    // shuffle on (group, value)) becomes a view-column read. Note the
    // fullStats (18,4) value space — the rewrite is value-space-strict
    // per kind. Plan-asserted view-only scan.
    "q_mv_distinct" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      graft.plans.GraftOptimizations.install(s)
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_mvd", Seq("o_orderkey"),
        changeFeed = true)
      val aux = LakeTable(s, root, "orders_mvd_aux",
        Seq("o_custkey", "__v"))
      val v = LakeTable(s, root, "orders_mvd_view", Seq("o_custkey"))
      t.drop(); aux.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      // aux + view initialization in ONE fused write action (§2.6)
      IncrementalView.createFullStatsPair(aux, v,
        t.read, Seq("o_custkey"), "o_totalprice")
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      IncrementalView.maintainFullStatsView(t, aux, v,
        Seq("o_custkey"), "o_totalprice", sinceVersion = v0,
        meta = MvRewrite.syncMeta(t.version))
      MvRewrite.register(t, v, Seq("o_custkey"),
        "o_totalprice", MvRewrite.FullStatsKind)
      val vDec = col("o_totalprice").cast("decimal(18,4)")
      val q = t.read.groupBy("o_custkey").agg(
          count(lit(1)).as("n"),
          countDistinct(vDec).as("n_distinct"),
          sum(vDec).cast("double").as("sum_total"),
          min(vDec).cast("double").as("min_total"),
          max(vDec).cast("double").as("max_total"))
        .orderBy("o_custkey")
      assertViewOnlyScan(q, v, "q_mv_distinct")
    },
      // distinct-count rewrite: the full-stats view's exact n_distinct
      // serves count(DISTINCT) — oracle recomputes in the same (18,4)
      // value space
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                count(DISTINCT CAST(o_totalprice AS DECIMAL(18,4)))
                  AS n_distinct,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS max_total
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // MV-rewrite avg()/count(col) serving — avg is THE most common user
    // aggregate, and the one a (sum, n) view CANNOT serve: Average's
    // count buffer counts NON-NULL values, so the fullStats view's
    // n_nonnull column is what makes the substitution correct on
    // null-bearing groups. The churn deliberately writes NULL prices
    // into surviving groups to exercise exactly that case. The rewrite
    // reuses Average's own evaluateExpression over the view columns
    // (bit-identical decimal division chain); the oracle replicates it
    // with exact integer half-up arithmetic — no float rounding on
    // either side. Plan-asserted view-only scan, like q_mv_rewrite.
    "q_mv_avg" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      graft.plans.GraftOptimizations.install(s)
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_mva", Seq("o_orderkey"),
        changeFeed = true)
      val aux = LakeTable(s, root, "orders_mva_aux", Seq("o_custkey", "__v"))
      val v = LakeTable(s, root, "orders_mva_view", Seq("o_custkey"))
      t.drop(); aux.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      // aux + view initialization in ONE fused write action (§2.6)
      IncrementalView.createFullStatsPair(aux, v,
        t.read, Seq("o_custkey"), "o_totalprice")
      t.upsert(churnBatch(orders)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 1, lit(null).cast("double"))
            .otherwise(col("o_totalprice") * 2)))
      t.delete(churnDeleted)
      IncrementalView.maintainFullStatsView(t, aux, v,
        Seq("o_custkey"), "o_totalprice", sinceVersion = v0,
        meta = MvRewrite.syncMeta(t.version))
      MvRewrite.register(t, v, Seq("o_custkey"),
        "o_totalprice", MvRewrite.FullStatsKind)
      val vDec = col("o_totalprice").cast("decimal(18,4)")
      val q = t.read.groupBy("o_custkey").agg(
          count(lit(1)).as("n"),
          count(vDec).as("n_vals"),
          avg(vDec).cast("double").as("avg_total"),
          sum(vDec).cast("double").as("sum_total"))
        .orderBy("o_custkey")
      assertViewOnlyScan(q, v, "q_mv_avg")
    },
      // avg served from the view: Spark's decimal Average divides at
      // scale 14 (precision-loss-adjusted) then casts to scale 8, both
      // HALF_UP — replicated here with exact HUGEINT arithmetic
      // (halfup(a/b) = (2a+b)//(2b) for positive operands) so neither
      // engine ever rounds a float: i4 is the exact sum in 1e-4 units,
      // v14/v8 the two half-up roundings, and the final /1e8 division is
      // IEEE-exact-input on both sides.
      s"""WITH $targetCte, $nullPriceSourceCte, $mergedCte, $finalCte,
            agg AS (
              SELECT o_custkey, count(*) AS n,
                     count(o_totalprice) AS n_vals,
                     SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                         AS HUGEINT)) AS i4
              FROM final GROUP BY o_custkey),
            rounded AS (
              SELECT o_custkey, n, n_vals, i4,
                     CASE WHEN n_vals = 0 THEN NULL ELSE
                       (2 * i4 * 10000000000 + n_vals) // (2 * n_vals)
                     END AS v14
              FROM agg)
         SELECT o_custkey, n, n_vals,
                CAST((2 * v14 + 1000000) // 2000000 AS DOUBLE)
                  / 100000000.0 AS avg_total,
                CAST(i4 AS DOUBLE) / 10000.0 AS sum_total
         FROM rounded ORDER BY o_custkey"""),

    // MV-rewrite serving UNCAST double aggregates — `avg(price)` with
    // no cast is the first query a real user writes, and the strict
    // value-space rule alone would never serve it. The registration's
    // serveDouble flag (MvRewrite class doc) asserts the price column
    // is exact in the view's (18,4) space (2-dp currency — true here),
    // under which sum/avg/min/max/count(price) are served with
    // decimal-exact accumulation and ONE final cast to double. The
    // oracle replays that contract in exact integer arithmetic; the
    // same null-bearing churn as q_mv_avg exercises Average's non-null
    // count and the null-sum groups. Plan-asserted view-only scan.
    "q_mv_avg_double" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      graft.plans.GraftOptimizations.install(s)
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_mvad", Seq("o_orderkey"),
        changeFeed = true)
      val aux = LakeTable(s, root, "orders_mvad_aux", Seq("o_custkey", "__v"))
      val v = LakeTable(s, root, "orders_mvad_view", Seq("o_custkey"))
      t.drop(); aux.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      // aux + view initialization in ONE fused write action (§2.6)
      IncrementalView.createFullStatsPair(aux, v,
        t.read, Seq("o_custkey"), "o_totalprice")
      t.upsert(churnBatch(orders)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 1, lit(null).cast("double"))
            .otherwise(col("o_totalprice") * 2)))
      t.delete(churnDeleted)
      IncrementalView.maintainFullStatsView(t, aux, v,
        Seq("o_custkey"), "o_totalprice", sinceVersion = v0,
        meta = MvRewrite.syncMeta(t.version))
      MvRewrite.register(t, v, Seq("o_custkey"),
        "o_totalprice", MvRewrite.FullStatsKind,
        serveDouble = true)
      val q = t.read.groupBy("o_custkey").agg(
          count(col("o_totalprice")).as("n_vals"),
          avg(col("o_totalprice")).as("avg_total"),
          sum(col("o_totalprice")).as("sum_total"),
          min(col("o_totalprice")).as("min_total"),
          max(col("o_totalprice")).as("max_total"))
        .orderBy("o_custkey")
      assertViewOnlyScan(q, v, "q_mv_avg_double")
    },
      // serveDouble contract replay: exact integer accumulation of the
      // 4-dp-scaled values, ONE cast to double (i4 < 2^53 at every SF, so
      // CAST(i4 AS DOUBLE)/1e4 is the correctly-rounded double of the
      // exact decimal sum — the same number Spark's decimal→double cast
      // yields), then plain IEEE division for the avg; min/max replay the
      // decimal cast chain verbatim
      s"""WITH $targetCte, $nullPriceSourceCte, $mergedCte, $finalCte,
            agg AS (
              SELECT o_custkey,
                     count(o_totalprice) AS n_vals,
                     SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                         AS HUGEINT)) AS i4,
                     MIN(CAST(o_totalprice AS DECIMAL(18,4))) AS mn,
                     MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS mx
              FROM final GROUP BY o_custkey)
         SELECT o_custkey, n_vals,
                (CAST(i4 AS DOUBLE) / 10000.0) / n_vals AS avg_total,
                CAST(i4 AS DOUBLE) / 10000.0 AS sum_total,
                CAST(mn AS DOUBLE) AS min_total,
                CAST(mx AS DOUBLE) AS max_total
         FROM agg ORDER BY o_custkey"""),

    // MV rewrite over a JOIN: the aggregate-over-join query (the two
    // most expensive operators in a 100 TB plan) is served by the
    // maintained joinSumView — same churn replay as q_ivm_join on BOTH
    // sides, the rewrite fires only because the view's two-version
    // freshness marker (mv.fact_version/mv.dim_version) matches both
    // scanned snapshots. Plan-asserted view-only scan, like q_mv_rewrite.
    "q_mv_join_rewrite" -> Paired((s, dir) => {
      graft.plans.GraftOptimizations.install(s)
      val (orders, f, d, vw) = joinTables(s, dir, "mvj")
      val (f0, d0) = (f.version, d.version)
      vw.create(IncrementalView.joinSumView(f.read, d.read,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
      f.upsert(churnSource(orders))
      f.delete(churnDeleted)
      dimChurn(d)
      IncrementalView.maintainJoinSumView(f, d, vw,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice", f0, d0,
        meta = MvRewrite.joinSyncMeta(f.version, d.version))
      MvRewrite.registerJoin(f, d, vw, Seq("o_custkey"),
        Seq("c_mktsegment"), "o_totalprice")
      val q = f.read.join(d.read, Seq("o_custkey"))
        .groupBy("c_mktsegment").agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)"))
            .cast("double").as("sum_total"))
        .orderBy("c_mktsegment")
      assertViewOnlyScan(q, vw, "q_mv_join_rewrite")
    },
      // join rewrite: the view serves the aggregate-over-join query —
      // the oracle replays both sides' churn and re-joins, identical to
      // q_ivm_join's recompute
      s"""WITH $churnedCtes, $dimChurnedCte
         SELECT c_mktsegment, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total
         FROM final JOIN dfinal ON final.o_custkey = dfinal.c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // COUNT DISTINCT incremental view maintenance (two-level /
    // support-relation IVM): per-customer distinct order priorities,
    // kept fresh through the same upsert+delete CDC batches via a
    // per-(customer, priority) multiplicity table whose 0↔positive
    // transitions roll up into the distinct count — O(changes) at
    // both levels. Oracle = the full count(DISTINCT) recompute.
    "q_ivm_distinct" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_ivmd", Seq("o_orderkey"),
        changeFeed = true)
      val aux = LakeTable(s, root, "orders_ivmd_aux",
        Seq("o_custkey", "__v"))
      val vw = LakeTable(s, root, "orders_ivmd_view",
        Seq("o_custkey"))
      t.drop(); aux.drop(); vw.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      // aux + view initialization in ONE fused write action (§2.6)
      IncrementalView.createDistinctPair(aux, vw,
        t.read, Seq("o_custkey"), "o_orderpriority")
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      IncrementalView.maintainDistinctView(t, aux, vw,
        Seq("o_custkey"), "o_orderpriority", sinceVersion = v0)
      vw.read.select(col("o_custkey"), col("n_distinct"))
        .orderBy("o_custkey")
    },
      // count(DISTINCT) full recompute — the two-level maintained view
      // must equal it exactly; null priorities (none in this data, but
      // the operator's pinned semantics) are skipped on both sides
      s"""WITH $churnedCtes
         SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_distinct
         FROM final WHERE o_orderpriority IS NOT NULL
         GROUP BY o_custkey ORDER BY o_custkey"""),

    // MOMENTS IVM: (n, sum, sum of squares) maintained through the
    // same churn as q_ivm — variance derives in closed form at read
    // time with NO rescan ever (the second moment is self-maintainable,
    // unlike min/max). Oracle recomputes var_pop from the same exact
    // decimal sums.
    "q_ivm_moments" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_ivmm", Seq("o_orderkey"),
        changeFeed = true)
      val v = LakeTable(s, root, "orders_ivmm_view",
        Seq("o_custkey"))
      t.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      v.create(IncrementalView.momentsView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      IncrementalView.maintainMomentsView(t, v,
        Seq("o_custkey"), "o_totalprice", sinceVersion = v0)
      // the maintained MOMENT STATE is the pinned output: exact decimals
      // compare with no doubles at all (a var derivation in doubles
      // would ride the >17-digit decimal->double conversion, whose
      // last-ulp rounding differs across engines); the mean's sum is
      // well inside double precision. sum_sq is emitted as its exact
      // STRING rendering — a raw DecimalType output column is the one
      // representation the oracle compare's hasher normalizes differently
      // between a Spark parquet decimal and a DuckDB decimal (round-9's
      // only red row: values bit-exact, hash mismatched), and both
      // engines render a scale-8 decimal ≥ 1 as the identical plain
      // "123.45600000" form
      v.read.select(col("o_custkey"), col("n"),
          round(col("sum_value").cast("double") / col("n"), 6)
            .as("mean_total"),
          sumSqText)
        .orderBy("o_custkey")
    },
      // moments replay: same final state, exact decimal moment state with
      // sum_sq rendered as its plain string form (both engines render a
      // scale-8 decimal >= 1 identically; a raw decimal output column is
      // the one representation the compare hashes differently)
      s"""WITH $churnedCtes,
            agg AS (
              SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                          AS DOUBLE) AS ds,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
                              * CAST(o_totalprice AS DECIMAL(19,4)))
                          AS DECIMAL(38,8)) AS sum_sq
              FROM final GROUP BY o_custkey)
         SELECT o_custkey, n,
                round(ds / n, 6) AS mean_total,
                CAST(sum_sq AS VARCHAR) AS sum_sq
         FROM agg ORDER BY o_custkey"""),

    // FUSED stats IVM: (n, Σv, min, max, Σv²) maintained from ONE read
    // of the change feed — raw signed events feed the moments, netted
    // per-(group, value) weights feed the extrema, threatened groups
    // rescan, one atomic merge (vs three separate maintainer passes).
    // Oracle = the full statsView recompute over the replayed state.
    "q_ivm_stats" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_ivmst", Seq("o_orderkey"),
        changeFeed = true)
      val v = LakeTable(s, root, "orders_ivmst_view",
        Seq("o_custkey"))
      t.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      v.create(IncrementalView.statsView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      IncrementalView.maintainStatsView(t, v,
        Seq("o_custkey"), "o_totalprice", sinceVersion = v0)
      // sums/extrema are well inside double precision; sum_sq compares
      // as its exact string rendering (the decimal-output contract)
      sumViewRows(v, "o_custkey", minMaxTotals :+ sumSqText: _*)
    },
      // fused-stats replay: same final state, every aggregate from the
      // same exact decimal value space ((18,4) to match statsView)
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS max_total,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
                              * CAST(o_totalprice AS DECIMAL(19,4)))
                          AS DECIMAL(38,8)) AS VARCHAR) AS sum_sq
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // FULL stats IVM (aux-backed): every aggregate — n, Σv, min, max,
    // Σv², exact distinct count — maintained from one feed read, with
    // extremum deletions answered from the support relation's value
    // multiset instead of ANY base rescan (the aux-backed upgrade of
    // the q_ivm_minmax rescan; bytes-read-pinned in the spec). Oracle
    // = the fullStatsView recompute over the replayed final state.
    "q_ivm_full" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_ivmfl", Seq("o_orderkey"),
        changeFeed = true)
      val aux = LakeTable(s, root, "orders_ivmfl_aux",
        Seq("o_custkey", "__v"))
      val v = LakeTable(s, root, "orders_ivmfl_view",
        Seq("o_custkey"))
      t.drop(); aux.drop(); v.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      // aux + view initialization in ONE fused write action (§2.6)
      IncrementalView.createFullStatsPair(aux, v,
        t.read, Seq("o_custkey"), "o_totalprice")
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      IncrementalView.maintainFullStatsView(t, aux, v,
        Seq("o_custkey"), "o_totalprice", sinceVersion = v0)
      sumViewRows(v, "o_custkey", minMaxTotals :+ sumSqText :+ col("n_distinct"): _*)
    },
      // full-stats replay: every aggregate from the same exact decimal
      // value space, distinct count over the SAME (18,4)-cast values
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS max_total,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
                              * CAST(o_totalprice AS DECIMAL(19,4)))
                          AS DECIMAL(38,8)) AS VARCHAR) AS sum_sq,
                count(DISTINCT CAST(o_totalprice AS DECIMAL(18,4)))
                  AS n_distinct
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // JOIN-view IVM: revenue by customer market segment, maintained
    // through one window of simultaneous fact churn (upsert + delete)
    // AND dim churn (segment moves + customer deletes) via the
    // two-table delta rule dF⋈D1 + F1⋈dD − dF⋈dD. Oracle replays the
    // final state of BOTH tables relationally and recomputes the join
    // aggregate from scratch — maintained must equal recomputed.
    "q_ivm_join" -> Paired((s, dir) => {
      val (orders, f, d, vw) = joinTables(s, dir, "ivmj")
      val (f0, d0) = (f.version, d.version)
      vw.create(IncrementalView.joinSumView(f.read, d.read,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
      f.upsert(churnSource(orders))
      f.delete(churnDeleted)
      dimChurn(d)
      IncrementalView.maintainJoinSumView(f, d, vw,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice", f0, d0)
      sumViewRows(vw, "c_mktsegment")
    },
      // JOIN-view replay: final fact state (upsert + delete) joined to
      // final dim state (segment moves + deletes), re-aggregated from
      // scratch — the maintained view must equal this exactly
      s"""WITH $churnedCtes, $dimChurnedCte
         SELECT c_mktsegment, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total
         FROM final JOIN dfinal ON final.o_custkey = dfinal.c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // JOIN-view IVM with min/max: same churn window as q_ivm_join, but
    // the maintained extrema must survive extremum-threatening deletes
    // (rescan THROUGH the join) and same-window cancellations (net
    // per-(group, value) weights — a fact insert whose customer is
    // deleted in the same window must never tighten an extremum).
    "q_ivm_join_minmax" -> Paired((s, dir) => {
      val (orders, f, d, vw) = joinTables(s, dir, "ivmjm")
      val (f0, d0) = (f.version, d.version)
      vw.create(IncrementalView.joinMinMaxView(f.read, d.read,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
      f.upsert(churnSource(orders))
      f.delete(churnDeleted)
      dimChurn(d)
      IncrementalView.maintainJoinMinMaxView(f, d, vw,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice", f0, d0)
      sumViewRows(vw, "c_mktsegment", minMaxTotals: _*)
    },
      // q_ivm_join's replay extended with exact min/max
      s"""WITH $churnedCtes, $dimChurnedCte
         SELECT c_mktsegment, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS max_total
         FROM final JOIN dfinal ON final.o_custkey = dfinal.c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT parity): a
    // positive-price constraint admits the good upsert, rejects the
    // poisoned one LOUDLY before staging, and the final state equals
    // the good-writes-only replay (the rejected write left no trace).
    "q_check_constraint" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_chk", Seq("o_orderkey"))
      t.drop()
      t.create(churnTarget(orders))
      t.addCheckConstraint("pos_price", "o_totalprice > 0")
      t.upsert(churnSource(orders))
      val vBefore = t.version
      val rejected =
        try {
          t.upsert(orders.limit(10).withColumn("o_totalprice", lit(-1.0)))
          false
        } catch { case _: IllegalStateException => true }
      t.read.agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)"))
            .cast("double").as("sum_total"))
        .withColumn("write_rejected", lit(rejected && t.version == vBefore))
    },
      // good-writes-only replay; the rejected write must have left no
      // trace (write_rejected also pins that the version didn't advance)
      s"""WITH $upsertedCtes
         SELECT count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total,
                true AS write_rejected
         FROM merged"""),

    // streaming CDC subscription: the change feed's append-only
    // parquet log consumed as a file stream (Delta readChangeFeed
    // streaming analogue) — per-change-type event counts after the
    // standard upsert+delete batches; oracle replays the counts
    // relationally
    "q_stream_cdc" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_stream_cdc",
        Seq("o_orderkey"), changeFeed = true)
      t.drop()
      t.create(churnTarget(orders))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      val drained = Streams.drainAppend(
        t.readChangeFeedStream, s"stream_cdc_${System.nanoTime()}")
      drained.groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("change_type")
    },
      // change-stream event counts replayed relationally: inserts =
      // source keys absent from target; updates = matched keys whose row
      // changed (only o_totalprice differs by construction, and it
      // always does since prices are positive — spelled out anyway);
      // deletes = post-merge rows hit by the delete predicate
      s"""WITH $upsertedCtes,
            ins AS (SELECT count(*) AS c FROM source s
                    WHERE NOT EXISTS (SELECT 1 FROM target t
                                      WHERE t.o_orderkey = s.o_orderkey)),
            upd AS (SELECT count(*) AS c FROM source s
                    JOIN target t USING (o_orderkey)
                    WHERE t.o_totalprice <> s.o_totalprice),
            del AS (SELECT count(*) AS c FROM merged
                    WHERE o_orderkey % 5 = 0)
         SELECT change_type, n FROM (
           SELECT 'delete' AS change_type, del.c AS n FROM del
           UNION ALL SELECT 'insert', ins.c FROM ins
           UNION ALL SELECT 'update_postimage', upd.c FROM upd
           UNION ALL SELECT 'update_preimage', upd.c FROM upd)
         ORDER BY change_type"""),

    // the FULL continuous-IVM loop: writer → change log → streaming
    // subscriber → view. The base takes the standard upsert+delete
    // batches; the view is then brought up to date purely by consuming
    // the CDC stream's signed deltas (inserts/post +, deletes/pre −) —
    // no snapshot read anywhere. Oracle = the q_ivm full recompute.
    "q_stream_ivm_cdc" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_sivmc",
        Seq("o_orderkey"), changeFeed = true)
      val v = LakeTable(s, root, "orders_sivmc_view",
        Seq("o_custkey"))
      t.drop(); v.drop()
      t.create(churnTarget(orders))
      v.create(IncrementalView.sumView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      Streams.maintainSumViewFromChangeFeed(
        t.readChangeFeedStream, v, Seq("o_custkey"), "o_totalprice")
      sumViewRows(v, "o_custkey")
    },
      // identical replay to q_ivm: the stream-maintained view must land
      // on the same full-recompute state
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // Streaming MIN/MAX view maintenance from the CDC stream: same
    // churn as q_stream_ivm_cdc, but the subscribed view also carries
    // per-group extrema — each micro-batch nets its events, applies
    // insert-side extrema, and rescans ONLY threatened groups (the
    // delete batch removes current maxima, so the rescan path runs
    // in-stream). Oracle = the full min/max recompute replay.
    "q_stream_ivm_minmax" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_sivmm",
        Seq("o_orderkey"), changeFeed = true)
      val v = LakeTable(s, root, "orders_sivmm_view",
        Seq("o_custkey"))
      t.drop(); v.drop()
      t.create(churnTarget(orders))
      v.create(IncrementalView.minMaxView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      Streams.maintainMinMaxViewFromChangeFeed(
        t.readChangeFeedStream, t, v, Seq("o_custkey"), "o_totalprice")
      sumViewRows(v, "o_custkey", minMaxTotals: _*)
    },
      // streaming min/max replay: same final state as q_ivm_minmax,
      // reached through the CDC-stream subscriber instead of the batch
      // maintainer
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS max_total
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // Streaming FUSED-STATS maintenance: the one-pass (n, Σv, min,
    // max, Σv²) rule applied per micro-batch from the CDC stream —
    // the streaming twin of q_ivm_stats, against the identical
    // recompute oracle.
    "q_stream_ivm_stats" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_sivst",
        Seq("o_orderkey"), changeFeed = true)
      val v = LakeTable(s, root, "orders_sivst_view",
        Seq("o_custkey"))
      t.drop(); v.drop()
      t.create(churnTarget(orders))
      v.create(IncrementalView.statsView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      Streams.maintainStatsViewFromChangeFeed(
        t.readChangeFeedStream, t, v, Seq("o_custkey"), "o_totalprice")
      sumViewRows(v, "o_custkey", minMaxTotals :+ sumSqText: _*)
    },
      // streaming fused-stats replay: same final state as q_ivm_stats,
      // reached through the CDC-stream subscriber
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS max_total,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
                              * CAST(o_totalprice AS DECIMAL(19,4)))
                          AS DECIMAL(38,8)) AS VARCHAR) AS sum_sq
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // Streaming twin of q_ivm_full: the aux-backed FULL-stats view
    // (every aggregate incl. exact distinct count; extremum deletes
    // answered from the support relation, never the base) maintained
    // by draining the CDC stream through the shared applyFullStatsDelta
    // core — two-level exactly-once (batch-id marker + the span markers
    // that make the aux/view crash window exact). Identical oracle to
    // q_ivm_full: streaming and batch full-stats maintenance are one
    // semantics.
    "q_stream_ivm_full" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_sivfl",
        Seq("o_orderkey"), changeFeed = true)
      val aux = LakeTable(s, root, "orders_sivfl_aux",
        Seq("o_custkey", "__v"))
      val v = LakeTable(s, root, "orders_sivfl_view",
        Seq("o_custkey"))
      t.drop(); aux.drop(); v.drop()
      t.create(churnTarget(orders))
      // aux + view initialization in ONE fused write action (§2.6)
      IncrementalView.createFullStatsPair(aux, v,
        t.read, Seq("o_custkey"), "o_totalprice")
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      Streams.maintainFullStatsViewFromChangeFeed(
        t.readChangeFeedStream, aux, v, Seq("o_custkey"), "o_totalprice")
      sumViewRows(v, "o_custkey", minMaxTotals :+ sumSqText :+ col("n_distinct"): _*)
    },
      // identical oracle: the streaming full-stats drain must land the
      // SAME final state as the batch maintainer
      s"""WITH $churnedCtes
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS max_total,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(19,4))
                              * CAST(o_totalprice AS DECIMAL(19,4)))
                          AS DECIMAL(38,8)) AS VARCHAR) AS sum_sq,
                count(DISTINCT CAST(o_totalprice AS DECIMAL(18,4)))
                  AS n_distinct
         FROM final GROUP BY o_custkey ORDER BY o_custkey"""),

    // Streaming JOIN-view maintenance: dim churn (segment moves +
    // deletes) absorbed by the BATCH maintainer while the fact is
    // quiet, then fact churn (upsert + delete) streamed from the fact
    // CDC feed and enriched in-stream against the final dim — each
    // window exact by the delta identity, so the composition must
    // equal the same from-scratch replay as q_ivm_join.
    "q_stream_ivm_join" -> Paired((s, dir) => {
      val (orders, f, d, vw) = joinTables(s, dir, "sivmj")
      val (f0, d0) = (f.version, d.version)
      vw.create(IncrementalView.joinSumView(f.read, d.read,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
      dimChurn(d)
      IncrementalView.maintainJoinSumView(f, d, vw,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice", f0, d0)
      f.upsert(churnSource(orders))
      f.delete(churnDeleted)
      Streams.maintainJoinSumViewFromChangeFeed(
        f.readChangeFeedStream, d.read, vw,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice")
      sumViewRows(vw, "c_mktsegment")
    },
      // identical final state to q_ivm_join — the dim window (batch) and
      // the fact window (streamed CDC) compose to the same replay
      s"""WITH $churnedCtes, $dimChurnedCte
         SELECT c_mktsegment, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total
         FROM final JOIN dfinal ON final.o_custkey = dfinal.c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // streaming JOIN-view min/max: dim churn lands first through the
    // batch maintainer, then the fact window (upsert that doubles half
    // the prices + a delete that removes current group maxima) streams
    // through the CDC subscriber — per micro-batch the fact events are
    // enriched against the dim snapshot and run the full netted
    // min/max rule, with the threatened-group rescan going THROUGH the
    // join in-stream. Oracle = the full join recompute replay
    // (identical to q_ivm_join_minmax's final state).
    "q_stream_ivm_join_minmax" -> Paired((s, dir) => {
      val (orders, f, d, vw) = joinTables(s, dir, "sivmjm")
      val (f0, d0) = (f.version, d.version)
      vw.create(IncrementalView.joinMinMaxView(f.read, d.read,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
      dimChurn(d)
      IncrementalView.maintainJoinMinMaxView(f, d, vw,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice", f0, d0)
      f.upsert(churnSource(orders))
      f.delete(churnDeleted)
      Streams.maintainJoinMinMaxViewFromChangeFeed(
        f.readChangeFeedStream, f, d.read, vw,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice")
      sumViewRows(vw, "c_mktsegment", minMaxTotals: _*)
    },
      // identical final state to q_ivm_join_minmax — the dim window
      // (batch) and the fact window (streamed CDC, rescan through the
      // join) compose to the same full-recompute replay
      s"""WITH $churnedCtes, $dimChurnedCte
         SELECT c_mktsegment, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS max_total
         FROM final JOIN dfinal ON final.o_custkey = dfinal.c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // two-feed streaming join-view maintenance: SAME final state as
    // q_stream_ivm_join_minmax, but dim churn arrives THROUGH the
    // stream too — the drain subscribes to BOTH tables' CDC feeds and
    // consumes each from the view's recorded sync versions via the
    // exact three-term batch identity (no batch path anywhere after
    // view creation)
    "q_stream_ivm_join_dim" -> Paired((s, dir) => {
      val (orders, f, d, vw) = joinTables(s, dir, "sivmjd")
      val (f0, d0) = (f.version, d.version)
      vw.create(IncrementalView.joinMinMaxView(f.read, d.read,
        Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
      // dim churn: segment re-homing + member deletion — NOT routed
      // through the batch maintainer this time
      dimChurn(d)
      // fact churn in the same window
      f.upsert(churnSource(orders))
      f.delete(churnDeleted)
      Streams.maintainJoinMinMaxViewFromBothFeeds(
        f, d, vw, Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice",
        f0, d0)
      sumViewRows(vw, "c_mktsegment", minMaxTotals: _*)
    },
      // same final state as q_stream_ivm_join_minmax — the dim churn
      // merely arrives through the two-feed streaming drain instead of
      // the batch maintainer
      s"""WITH $churnedCtes, $dimChurnedCte
         SELECT c_mktsegment, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total,
                CAST(MIN(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS min_total,
                CAST(MAX(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS max_total
         FROM final JOIN dfinal ON final.o_custkey = dfinal.c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // change-feed compaction: three churn versions net into ONE
    // synthetic feed dir (canceling chains — doubled-then-reverted,
    // deleted-then-reinserted — vanish entirely), then the sum view is
    // maintained ACROSS the compacted span; the oracle replays the
    // same three merges relationally
    "q_feed_compact" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "fc_base", Seq("o_orderkey"),
        changeFeed = true)
      val vw = LakeTable(s, root, "fc_view", Seq("o_custkey"))
      t.drop(); vw.drop()
      t.create(churnTarget(orders))
      val v0 = t.version
      vw.create(IncrementalView.sumView(
        t.read, Seq("o_custkey"), "o_totalprice"))
      t.upsert(churnSource(orders))
      t.delete(churnDeleted)
      // reverts every surviving %14 key to its original price and
      // re-inserts deleted/absent %7 keys — rich canceling structure
      t.upsert(orders.filter(col("o_orderkey") % 7 === 0))
      t.compactChangeFeed(v0, t.version)
      IncrementalView.maintainSumView(t, vw, Seq("o_custkey"),
        "o_totalprice", sinceVersion = v0)
      sumViewRows(vw, "o_custkey")
    },
      // the view state after maintenance across the COMPACTED feed span
      // == the plain relational replay of the three merges
      s"""WITH $churnedCtes,
            src7 AS (SELECT * FROM orders WHERE o_orderkey % 7 = 0),
            reverted AS (
              SELECT * FROM final t
              WHERE NOT EXISTS (SELECT 1 FROM src7 s
                                WHERE s.o_orderkey = t.o_orderkey)
              UNION ALL SELECT * FROM src7)
         SELECT o_custkey, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_total
         FROM reverted GROUP BY o_custkey ORDER BY o_custkey"""),

    // CDC change feed between table versions (Delta CDF analogue):
    // create target, merge source, read inserts/updates/deletes vs the
    // retained snapshot
    "q_cdc" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_cdc", Seq("o_orderkey"))
      t.create(churnTarget(orders))
      t.upsert(churnSource(orders))
      t.changesSince(t.availableVersions.last)
        .select(col("o_orderkey"), col("_change_type"))
        .orderBy("o_orderkey", "_change_type")
    },
      s"""WITH $targetCte, $sourceCte
         SELECT o_orderkey, _change_type FROM (
           SELECT o_orderkey, 'insert' AS _change_type FROM source
           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM target)
           UNION ALL
           SELECT o_orderkey, 'update_postimage' FROM source
           WHERE o_orderkey IN (SELECT o_orderkey FROM target)
           UNION ALL
           SELECT o_orderkey, 'update_preimage' FROM source
           WHERE o_orderkey IN (SELECT o_orderkey FROM target))
         ORDER BY o_orderkey, _change_type"""),

    // Persistent CDC-maintained IVF index (table/AnnIndex): the serving
    // shape — the quantizer trains once at build and freezes; ingest
    // waves re-assign only the touched ids from the change feed
    // (O(batch × nCells), corpus never re-scanned). Full-probe search
    // (nProbe = nCells) is provably exact, so unlike the seeded
    // q_embed_ann_ivf this row is oracle-compared: top-k over the FINAL
    // corpus state after inserts, direction-flipping updates, and
    // deletes must equal the brute-force ranking.
    "q_ann_index" -> Paired((s, dir) => {
      val e = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      val root = tableRoot(dir)
      // the vector table's id-hash layout is owned by the Bucketed
      // handle (modulus derived from corpus rows, writes stamp __db) so
      // the maintainer's touched-vector fetch — the one remaining
      // O(corpus) scan — opens only the batch ids' partitions
      val b = graft.table.DocBuckets.sized(s, root, "annq_docs",
        "vec_id", e.count(), e.filter(col("vec_id") % 3 =!= 0))
      val ai = graft.table.AnnIndex(s, root, "annq", nCells = 8,
        docParts = b.parts, idParts = 4)
      ai.build(b.read, "vec_id", "embedding")
      var synced = b.version
      b.upsert(e.filter(col("vec_id") % 3 === 0))
      b.upsert(e.filter(col("vec_id") % 11 === 4)
        .withColumn("embedding", transform(col("embedding"), x => -x)))
      b.delete(col("vec_id") % 7 === 3)
      synced = ai.maintain(b.table, "vec_id", "embedding", synced)
      ai.search(e.filter(col("vec_id") < 16), "vec_id", "embedding",
          k = 5, nProbe = 8)
        .orderBy("query_id", "rank")
    },
      // full-probe search over the maintained index == brute-force top-k
      // over the FINAL corpus (wave %3=0 inserted, %11=4 negated, %7=3
      // deleted); queries use the ORIGINAL vectors
      annTopKSql),

    // Streaming twin of q_ann_index: the same waves flow to the index
    // through the embedding table's CDC STREAM (foreachBatch over the
    // shared AnnIndex.applyChanges core, batch-id idempotent) — batch
    // and streaming index maintenance are one semantics. Identical
    // oracle. Runs the SERVING layouts under the drain (idParts +
    // docParts + bucketed vector table): the exactly-once marker rides
    // the ids sidecar (AnnIndex.markerTable) and every micro-batch
    // exercises the sidecar commit ordering end to end.
    "q_stream_ann_index" -> Paired((s, dir) => {
      val e = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      val root = tableRoot(dir)
      val b = graft.table.DocBuckets.sized(s, root, "sannq_docs",
        "vec_id", e.count(), e.filter(col("vec_id") % 3 =!= 0))
      val ai = graft.table.AnnIndex(s, root, "sannq", nCells = 8,
        docParts = b.parts, idParts = 4)
      ai.build(b.read, "vec_id", "embedding")
      b.upsert(e.filter(col("vec_id") % 3 === 0))
      b.upsert(e.filter(col("vec_id") % 11 === 4)
        .withColumn("embedding", transform(col("embedding"), x => -x)))
      b.delete(col("vec_id") % 7 === 3)
      Streams.maintainAnnIndexFromChangeFeed(
        b.readChangeFeedStream, b.table, ai, "vec_id", "embedding")
      ai.search(e.filter(col("vec_id") < 16), "vec_id", "embedding",
          k = 5, nProbe = 8)
        .orderBy("query_id", "rank")
    },
      // the streaming-maintained index must land the SAME final state —
      // identical oracle to q_ann_index
      annTopKSql),

    // foreachBatch MERGE sink as an oracle-checked query: the events
    // stream drains AvailableNow into a LakeTable with per-batch
    // latest-wins dedup + upsert. The table is deterministically reset
    // to the even-id half's latest rows first, so the stream genuinely
    // UPDATEs (overlapping keys) and INSERTs (odd-id-only keys); the
    // final state is the global latest-wins of the corpus regardless of
    // micro-batch slicing, which the oracle replays. The __ord struct
    // (ts, event_id) makes the per-key winner total-ordered.
    "q_stream_upsert" -> Paired((s, dir) => {
      // readTableStream and Tables.load both normalize events.ts, so
      // stream and batch halves see the same timestamp type
      def shape(df: DataFrame) = df
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"))
        .withColumn("__ord", struct(col("ts"), col("event_id")))
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "events_stream_upsert",
        Seq("user_id", "event_type"))
      t.create(graft.ops.CoreOps.latestWins(Seq("user_id", "event_type"), "__ord")(
        shape(Tables.load(s, dir, "events").filter(col("event_id") % 2 === 0))))
      Streams.upsertStream(
        shape(Streams.readTableStream(s, dir, "events")),
        t, Seq("user_id", "event_type"), "__ord")
      t.read.select(col("user_id"), col("event_type"),
        col("event_id").as("win_event_id"),
        round(col("value"), 2).as("win_value"))
        .orderBy("user_id", "event_type")
    },
      // final MERGE state = global latest-wins: (ts DESC, event_id DESC)
      // is exactly the __ord struct's descending order
      """SELECT user_id, event_type, event_id AS win_event_id,
                ROUND(value, 2) AS win_value
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id, event_type"""),

    // streaming incremental view maintenance: the view starts from the
    // even-event half (batch sumView), then the ODD half arrives as an
    // append-only stream whose micro-batch deltas MERGE additively into
    // the stored view (foreachBatch IVM) — the final view must equal
    // the full recompute over ALL events, which is the oracle
    "q_stream_ivm" -> Paired((s, dir) => {
      val root = tableRoot(dir)
      val v = LakeTable(s, root, "events_stream_ivm_view",
        Seq("user_id"))
      v.drop()
      v.create(IncrementalView.sumView(
        Tables.load(s, dir, "events").filter(col("event_id") % 2 === 0),
        Seq("user_id"), "value"))
      Streams.maintainSumViewStream(
        Streams.readTableStream(s, dir, "events")
          .filter(col("event_id") % 2 =!= 0),
        v, Seq("user_id"), "value")
      v.read.select(col("user_id"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("user_id")
    },
      // initial view (even events) + streamed odd-half deltas must equal
      // the one-shot aggregate over ALL events — exact decimal sums, so
      // no batch-boundary arithmetic can hide in rounding
      """SELECT user_id, count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // schema-evolving MERGE: source carries a column the target lacks;
    // after upsert the table has the union schema, pre-existing rows
    // read the new column as NULL (Delta mergeSchema parity)
    "q_schema_evolution" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val base = orders.select("o_orderkey", "o_custkey", "o_totalprice")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_evolve", Seq("o_orderkey"))
      t.create(churnTarget(base))
      t.upsert(churnBatch(base).withColumn("o_channel",
        when(col("o_orderkey") % 4 === 0, lit("web")).otherwise(lit("store"))))
      t.read.select("o_orderkey", "o_totalprice", "o_channel")
        .orderBy("o_orderkey")
    },
      s"""WITH $targetCte,
         source AS (
           SELECT o_orderkey, o_totalprice,
                  CASE WHEN o_orderkey % 4 = 0 THEN 'web' ELSE 'store' END AS o_channel
           FROM orders WHERE o_orderkey % 2 = 0)
         SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
         FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
         UNION ALL
         SELECT o_orderkey, o_totalprice, o_channel FROM source
         ORDER BY o_orderkey"""),

    // change feed across a DELETE: create, row-level delete, then read
    // the delete rows out of the version diff (the CDC branch q_cdc's
    // upsert path never exercises)
    "q_cdc_delete" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_cdcdel", Seq("o_orderkey"))
      t.create(churnTarget(orders))
      t.delete(churnDeleted)
      t.changesSince(t.availableVersions.last)
        .select(col("o_orderkey"), col("_change_type"))
        .orderBy("o_orderkey")
    },
      s"""WITH $targetCte
         SELECT o_orderkey, 'delete' AS _change_type FROM target
         WHERE o_orderkey % 5 = 0
         ORDER BY o_orderkey"""),

    // SCD Type 2 MERGE: two history-preserving upserts (initial load,
    // then a batch where 1-in-3 keys changed and 1-in-3 is a no-op);
    // fixed asOf timestamps keep reruns + oracle deterministic
    "q_scd2" -> Paired((s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") < 500)
      val batch2 = base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2) // changed
        .unionByName(base.filter(col("o_orderkey") % 3 === 1)) // unchanged
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_scd2", Seq("o_orderkey"))
      t.drop() // fresh history per run
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
      t.upsertScd2(base, Seq("o_totalprice"), t0)
      t.upsertScd2(batch2, Seq("o_totalprice"), t1)
      t.read.select("o_orderkey", "o_totalprice",
          "__valid_from", "__valid_to", "__is_current")
        .orderBy("o_orderkey", "__valid_from")
    },
      """WITH base AS (SELECT o_orderkey, o_totalprice,
                              o_orderkey % 3 = 0 AS repriced
                       FROM orders WHERE o_orderkey < 500)
         SELECT o_orderkey, o_totalprice,
                TIMESTAMP '2024-01-01 00:00:00' AS __valid_from,
                CASE WHEN repriced
                     THEN TIMESTAMP '2024-02-01 00:00:00' END AS __valid_to,
                NOT repriced AS __is_current
         FROM base
         UNION ALL
         SELECT o_orderkey, o_totalprice * 2,
                TIMESTAMP '2024-02-01 00:00:00', NULL, true
         FROM base WHERE repriced
         ORDER BY o_orderkey, __valid_from"""),

    // effective-dated lookup against the SCD2 dimension: each fact joins
    // the price version valid at its timestamp (before/after the repricing)
    "q_scd2_lookup" -> Paired((s, dir) => {
      val base = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") < 500)
      val batch2 = base.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_scd2l", Seq("o_orderkey"))
      t.drop()
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
      t.upsertScd2(base, Seq("o_totalprice"), t0)
      t.upsertScd2(batch2, Seq("o_totalprice"), t1)
      // facts: every key once mid-January (sees v1) and once mid-March
      // (sees the repriced v2 where one exists)
      val facts = base.select(col("o_orderkey"),
          explode(array(
            lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")),
            lit(java.sql.Timestamp.valueOf("2024-03-15 00:00:00"))))
            .as("fact_ts"))
      LakeTable.scd2Lookup(facts, t.read, Seq("o_orderkey"), "fact_ts")
        .select(col("o_orderkey"), col("fact_ts"),
          col("o_totalprice").as("effective_price"))
        .orderBy("o_orderkey", "fact_ts")
    },
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                       WHERE o_orderkey < 500),
            facts AS (SELECT o_orderkey, unnest([
                        TIMESTAMP '2024-01-15 00:00:00',
                        TIMESTAMP '2024-03-15 00:00:00']) AS fact_ts
                      FROM base)
         SELECT f.o_orderkey, f.fact_ts,
                CASE WHEN b.o_orderkey % 3 = 0
                      AND f.fact_ts >= TIMESTAMP '2024-02-01 00:00:00'
                     THEN b.o_totalprice * 2 ELSE b.o_totalprice END
                  AS effective_price
         FROM facts f JOIN base b USING (o_orderkey)
         ORDER BY o_orderkey, fact_ts"""),

    // S4 Excel scan end-to-end: stage a deterministic two-sheet workbook
    // from the orders table, read it back in dynamic (all-string) mode
    // with the zero-dependency XLSX reader, promote types through the
    // standard cast path, aggregate; oracle replays from orders directly
    "q_xlsx_pipeline" -> Paired((s, dir) => {
      val src = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") < 200).orderBy("o_orderkey").collect()
      val hdr = Seq("o_orderkey", "o_custkey", "o_totalprice")
      def sheet(rows: Array[org.apache.spark.sql.Row]) =
        hdr +: rows.map(r => Seq(r.getLong(0).toString, r.getLong(1).toString,
          r.getDouble(2).toString)).toSeq
      val (even, odd) = src.partition(_.getLong(0) % 2 == 0)
      val path = s"${tableRoot(dir)}/xlsx/orders.xlsx"
      graft.sources.Xlsx.write(path,
        Seq("even" -> sheet(even), "odd" -> sheet(odd)))
      graft.sources.Xlsx.readAllSheets(s, path)
        .select(col("sheet_name"),
          col("o_orderkey").cast("long").as("k"),
          col("o_totalprice").cast("double").as("p"))
        .groupBy("sheet_name").agg(
          count(lit(1)).as("n_rows"),
          sum(col("p").cast("decimal(20,4)")).cast("double").as("sum_price"))
        .orderBy("sheet_name")
    },
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'even' ELSE 'odd' END
                  AS sheet_name,
                count(*) AS n_rows,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_price
         FROM orders WHERE o_orderkey < 200
         GROUP BY 1 ORDER BY sheet_name"""),

    // file-level data skipping (zone maps): range-cluster orders into 8
    // files, then answer a narrow BETWEEN from only the files whose
    // min/max intersect it — result equality is the oracle, file-count
    // pruning is pinned in FileSkippingSpec
    "q_skipping_scan" -> Paired((s, dir) => {
      val dst = s"${tableRoot(dir)}/skip/orders"
      Tables.load(s, dir, "orders")
        .repartitionByRange(8, col("o_totalprice"))
        .write.mode("overwrite").parquet(dst)
      graft.table.FileSkipping.skippingScan(
          s, dst, "o_totalprice", 50000.0, 100000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderpriority")
    },
      // stats-pruned scan ≡ full-table filter (pruning is a physical
      // optimization; the oracle checks it cannot change the answer)
      """SELECT o_orderpriority, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_price
         FROM orders
         WHERE o_totalprice >= 50000.0 AND o_totalprice <= 100000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // metadata-only COUNT(*) over a multi-file layout: parquet footer
    // record counts, zero data pages — must equal the real count
    "q_fast_count" -> Paired((s, dir) => {
      import s.implicits._
      val dst = s"${tableRoot(dir)}/skip/orders_fc"
      churnTarget(Tables.load(s, dir, "orders"))
        .repartition(8)
        .write.mode("overwrite").parquet(dst)
      Seq(graft.table.FileSkipping.fastCount(s, dst)).toDF("n_rows")
    },
      // footer-only count must equal the real count of the written slice
      s"""WITH $targetCte SELECT count(*) AS n_rows FROM target"""),

    // per-file Bloom index point lookup: layout clustered by DATE, probe
    // by ORDER KEY — min/max zone maps see the full key span per file
    // and prune nothing, the Bloom bitmap prunes to ~1 file (pinned in
    // FileSkippingSpec); result equality is the oracle
    "q_bloom_skip" -> Paired((s, dir) => {
      val dst = s"${tableRoot(dir)}/bloomskip/orders"
      Tables.load(s, dir, "orders")
        .repartitionByRange(8, col("o_orderdate"))
        .write.mode("overwrite").parquet(dst)
      graft.table.FileSkipping.bloomSkippingScan(
          s, dst, "o_orderkey", 100L)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },
      // Bloom pruning is physical-only — the lookup answer can't change
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey = 100 ORDER BY o_orderkey"""),

    // Z-order + conjunctive skipping: Morton-clustered layout keeps
    // per-file ranges tight on BOTH columns, so a two-column range
    // conjunction prunes multiplicatively (per-dimension pruning pinned
    // in FileSkippingSpec); answer equality is the oracle
    "q_zorder_skip" -> Paired((s, dir) => {
      import graft.functions.ZOrder
      val dst = s"${tableRoot(dir)}/zskip/orders"
      val o = Tables.load(s, dir, "orders")
      val b = o.agg(min(col("o_totalprice")).as("p_lo"),
        max(col("o_totalprice")).as("p_hi"),
        min(col("o_custkey")).as("c_lo"), max(col("o_custkey")).as("c_hi"))
      val z = ZOrder.interleave(
        ZOrder.bin(col("o_totalprice"), col("p_lo"), col("p_hi")),
        ZOrder.bin(col("o_custkey"), col("c_lo"), col("c_hi")))
      o.crossJoin(broadcast(b)).withColumn("z", z)
        .repartitionByRange(8, col("z"))
        .drop("p_lo", "p_hi", "c_lo", "c_hi")
        .write.mode("overwrite").parquet(dst)
      graft.table.FileSkipping.skippingScanConj(s, dst,
          Seq(("o_totalprice", 100000.0, 200000.0), ("o_custkey", 20L, 80L)))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double")
            .as("sum_price"))
        .orderBy("o_orderpriority")
    },
      // zone-map pruning is physical-only; the conjunction's answer is a
      // plain two-predicate filter
      """SELECT o_orderpriority, count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_price
         FROM orders
         WHERE o_totalprice >= 100000.0 AND o_totalprice <= 200000.0
           AND o_custkey >= 20 AND o_custkey <= 80
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // zero-dep Avro container-file source (Avro core ships with Spark;
    // spark-avro does not): bounded dimension snapshot → two .avro files
    // → distributed binaryFile+DataFileStream read-back
    "q_avro_roundtrip" -> Paired((s, dir) => {
      import org.apache.avro.Schema.Type
      val root = s"${tableRoot(dir)}/avro"
      val src = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"),
          col("n_regionkey").cast("long"))
        .orderBy("n_nationkey").collect() // bounded: 25-row dimension
      val fields = Seq("n_nationkey" -> Type.LONG, "n_name" -> Type.STRING,
        "n_regionkey" -> Type.LONG)
      def rows(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => Seq[Any](r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val (even, odd) = src.partition(_.getLong(0) % 2 == 0)
      graft.sources.Avro.write(s"$root/part-0.avro", "nation", fields, rows(even))
      graft.sources.Avro.write(s"$root/part-1.avro", "nation", fields, rows(odd))
      graft.sources.Avro.read(s, root)
        .orderBy("n_nationkey")
    },
      // the Avro writer/reader pair must reproduce the dimension exactly
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey"""),

    // snapshot reconciliation across a REAL lake merge: full-outer diff
    // of the time-travel version the upsert displaced vs current —
    // added/changed/unchanged counts + exact net price delta (the
    // audit report a nightly MERGE publishes)
    "q_table_diff" -> Paired((s, dir) => {
      val orders = Tables.load(s, dir, "orders")
      val root = tableRoot(dir)
      val t = LakeTable(s, root, "orders_table_diff", Seq("o_orderkey"))
      t.create(churnTarget(orders))
      t.upsert(churnSource(orders))
      val prevV = t.availableVersions.max
      val prev = t.readVersion(prevV).select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("p_prev"))
      val cur = t.read.select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("p_cur"))
      prev.join(cur, Seq("k"), "full_outer")
        .withColumn("change_type",
          when(col("p_prev").isNull, "added")
            .when(col("p_cur").isNull, "removed")
            .when(col("p_cur") =!= col("p_prev"), "changed")
            .otherwise("unchanged"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n_rows"),
          round((sum(coalesce(col("p_cur"), lit(0))) -
            sum(coalesce(col("p_prev"), lit(0)))).cast("double"), 2)
            .as("net_price_delta"))
        .orderBy("change_type")
    },
      // merge semantics replayed relationally: cur = source ∪ (target
      // not overwritten); diff classes + exact decimal price delta
      s"""WITH $upsertedCtes,
         prev AS (SELECT o_orderkey AS k,
                         CAST(o_totalprice AS DECIMAL(18,2)) AS p_prev
                  FROM target),
         c2 AS (SELECT o_orderkey AS k,
                       CAST(o_totalprice AS DECIMAL(18,2)) AS p_cur
                FROM merged),
         d AS (
           SELECT CASE WHEN p.p_prev IS NULL THEN 'added'
                       WHEN c.p_cur IS NULL THEN 'removed'
                       WHEN c.p_cur <> p.p_prev THEN 'changed'
                       ELSE 'unchanged' END AS change_type,
                  p.p_prev, c.p_cur
           FROM prev p FULL OUTER JOIN c2 c ON p.k = c.k)
         SELECT change_type, count(*) AS n_rows,
                ROUND(CAST(SUM(COALESCE(p_cur, 0))
                    - SUM(COALESCE(p_prev, 0)) AS DOUBLE), 2)
                  AS net_price_delta
         FROM d GROUP BY change_type ORDER BY change_type"""),
  )
}

package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.CoreOps._
import graft.pipelines.Pipelines

/** The relational query family: the reference's five pipelines end to
  * end (orders, order items and products, plus the orders pipeline fed
  * from CSV with an inferred and a declared schema), the core operators
  * and the SQL surface (set operations, semi/anti/outer/lateral/correlated
  * joins, `q_topn`), the skew guards and join strategies (salted, bloom,
  * bucketed), and the 22 TPC-H shapes. Membership rule: a query whose
  * point is a join, set operation, relational shape or whole pipeline
  * over the TPC-H tables, rather than an aggregate, graph, statistic or
  * media computation. */
object Relational extends QueryFamily {

  /** The rows the order-items pipeline keeps, replayed as a FROM clause:
    * valid lines, the latest shipment per (order, line), lines whose
    * order exists. */
  private[queries] val itemsPipelineFromSql =
    """FROM (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY l_orderkey, l_linenumber
               ORDER BY l_shipdate DESC NULLS LAST, l_partkey, l_suppkey) AS rn
             FROM lineitem
             WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
               AND l_shipdate IS NOT NULL) t
           WHERE rn = 1
             AND EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = t.l_orderkey))"""

  /** The rows the orders pipeline keeps: valid orders, the latest per
    * order key, orders with a line. */
  private[queries] val ordersPipelineFromSql =
    """FROM (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY o_orderkey ORDER BY o_orderdate DESC NULLS LAST) AS rn
             FROM orders
             WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
               AND o_orderdate IS NOT NULL) t
           WHERE rn = 1
             AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = t.o_orderkey))"""

  /** The rows the products pipeline keeps: valid parts, the last name per
    * part key, parts that were ordered. */
  private[queries] val productsPipelineFromSql =
    """FROM (
           SELECT * FROM (
             SELECT *, row_number() OVER (
               PARTITION BY p_partkey ORDER BY p_name DESC NULLS LAST) AS rn
             FROM part
             WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL) t
           WHERE rn = 1
             AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = t.p_partkey))"""

  /** Each order status's order count and exact-decimal price total. */
  private def statusTotals(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("sum_total"))
      .orderBy("o_orderstatus")

  /** `statusTotals` over the orders pipeline's rows. */
  private val ordersPipelineSql =
    s"""SELECT o_orderstatus, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_total
         $ordersPipelineFromSql
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** A lineitem row's discounted revenue, exact in decimal. */
  private def discRevenue: Column =
    col("l_extendedprice").cast("decimal(20,4)") *
      (lit(1) - col("l_discount").cast("decimal(20,4)"))

  /** `discRevenue` in DuckDB SQL. */
  private val discRevenueSql =
    "CAST(l_extendedprice AS DECIMAL(20,4)) * (1 - CAST(l_discount AS DECIMAL(20,4)))"

  protected val paired: Seq[(String, Paired)] = Seq(

    // ---- The reference pipelines end to end ----

    "q_items_pipeline" -> Paired((s, dir) =>
      Pipelines.orderItems(s, dir)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n_items"))
        .orderBy("l_returnflag"),
      s"""SELECT l_returnflag, count(*) AS n_items
         $itemsPipelineFromSql
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    "q_orders_pipeline" -> Paired((s, dir) =>
      statusTotals(Pipelines.orders(s, dir)),
      ordersPipelineSql),

    "q_products_pipeline" -> Paired((s, dir) =>
      Pipelines.products(s, dir)
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .orderBy("p_partkey"),
      s"""SELECT p_partkey, p_name, p_brand, p_type, p_size
         $productsPipelineFromSql
         ORDER BY p_partkey"""),

    // the reference's true input mode end-to-end: header CSV → all-string
    // read → try_cast promotion → reject split (malformed rows routed to
    // the JSON sink) → dedup → RI semi-join. Valid-path output equals the
    // parquet pipeline, which is what the oracle checks.
    "q_csv_pipeline" -> Paired((s, dir) =>
      statusTotals(Pipelines.ordersFromCsv(s, dir)._1),
      // CSV round-trip is lossless and the injected malformed rows are all
      // rejected, so the oracle is the same parquet-side pipeline SQL
      ordersPipelineSql),

    // S2: the same CSV ingested with a DECLARED schema (typed parsing at
    // the reader, no inference pass); same oracle as the dynamic mode
    "q_csv_declared" -> Paired((s, dir) =>
      statusTotals(Pipelines.ordersFromCsvDeclared(s, dir)._1),
      ordersPipelineSql),

    // ---- Core operators and the SQL surface ----

    // W1 latest-wins window dedup (order_glue_job.py:113-116)
    "q_window_dedup" -> Paired((s, dir) =>
      latestWins(Seq("o_custkey"), "o_orderdate",
        tiebreakers = Seq(col("o_orderkey")))(Tables.load(s, dir, "orders"))
        .select("o_custkey", "o_orderkey", "o_orderstatus")
        .orderBy("o_custkey"),
      """SELECT o_custkey, o_orderkey, o_orderstatus FROM (
           SELECT *, row_number() OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate DESC NULLS LAST, o_orderkey) AS rn
           FROM orders) t
         WHERE rn = 1 ORDER BY o_custkey"""),

    // J1 RI semi-join (order_glue_job.py:132-140)
    "q_semi_join" -> Paired((s, dir) =>
      semiJoin(Seq("p_partkey"),
        Tables.load(s, dir, "lineitem").selectExpr("l_partkey as p_partkey"))(
        Tables.load(s, dir, "part"))
        .select("p_partkey", "p_name").orderBy("p_partkey"),
      """SELECT p_partkey, p_name FROM part p
         WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
         ORDER BY p_partkey"""),

    // K2-internal anti-join (merge emulation core, SURVEY.md §7.3):
    // parts never ordered at quantity >= 49
    "q_anti_join" -> Paired((s, dir) =>
      antiJoin(Seq("p_partkey"),
        Tables.load(s, dir, "lineitem").filter(col("l_quantity") >= 49)
          .selectExpr("l_partkey as p_partkey"))(
        Tables.load(s, dir, "part"))
        .select("p_partkey", "p_name").orderBy("p_partkey"),
      """SELECT p_partkey, p_name FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_quantity >= 49 AND l.l_partkey = p.p_partkey)
         ORDER BY p_partkey"""),

    // P4/P5 one-pass valid/reject split, surfaced as A1 one-pass metrics
    "q_valid_counts" -> Paired((s, dir) =>
      validityCounts(Seq("o_orderkey", "o_custkey", "o_orderdate"))(
        Tables.load(s, dir, "orders")).orderBy("is_valid"),
      """SELECT (o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
                 AND o_orderdate IS NOT NULL) AS is_valid, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY is_valid"""),

    // T1 EXCEPT-distinct (order_items_glue_job.py:140)
    "q_except" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      o.except(o.filter(col("o_orderstatus") === "F")).orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderstatus FROM orders
         EXCEPT
         SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_orderkey"""),

    // set operations: INTERSECT / UNION (T1's siblings)
    "q_intersect" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.filter(col("o_totalprice") > 1000).select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey FROM orders WHERE o_totalprice > 1000
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         ORDER BY o_custkey"""),

    "q_union" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderstatus")
        .unionByName(o.filter(col("o_orderstatus") === "P")
          .select("o_orderkey", "o_orderstatus"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
         ORDER BY o_orderkey"""),

    // multiset EXCEPT ALL: duplicate-preserving difference (one
    // occurrence removed per matching right row) — contrast q_except's
    // EXCEPT DISTINCT; summarized per key for a deterministic compare
    "q_except_all" -> Paired((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select("l_orderkey")
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("l_orderkey"))
      li.exceptAll(ord)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .orderBy("l_orderkey")
    },
      """SELECT l_orderkey, count(*) AS n FROM (
           SELECT l_orderkey FROM lineitem
           EXCEPT ALL
           SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)
         GROUP BY l_orderkey ORDER BY l_orderkey"""),

    // multiset INTERSECT ALL: duplicate-preserving intersection
    "q_intersect_all" -> Paired((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select("l_orderkey")
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("l_orderkey"))
      li.intersectAll(ord)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .orderBy("l_orderkey")
    },
      """SELECT l_orderkey, count(*) AS n FROM (
           SELECT l_orderkey FROM lineitem
           INTERSECT ALL
           SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0)
         GROUP BY l_orderkey ORDER BY l_orderkey"""),

    // LATERAL correlated derived table: top-2 orders per nation's
    // customers — the "top-n per key as a join" SQL idiom (decorrelates
    // to a ranked window, no per-row re-execution)
    "q_lateral" -> Paired((s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
               FROM customer c,
               LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
               WHERE c.c_custkey < 100
               ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")
    },
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c,
         LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         WHERE c.c_custkey < 100
         ORDER BY c_custkey, o_totalprice DESC, o_orderkey"""),

    // correlated scalar subquery through the SQL surface
    "q_correlated" -> Paired((s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderkey, o_custkey FROM orders o
               WHERE o_totalprice = (SELECT max(i.o_totalprice) FROM orders i
                                     WHERE i.o_custkey = o.o_custkey)
               ORDER BY o_orderkey""")
    },
      """SELECT o_orderkey, o_custkey FROM orders o
         WHERE o_totalprice = (SELECT max(i.o_totalprice) FROM orders i
                               WHERE i.o_custkey = o.o_custkey)
         ORDER BY o_orderkey"""),

    // §2.9 SQL surface: registered views + ORDER BY/LIMIT
    "q_sql_limit" -> Paired((s, dir) => {
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
               FROM orders ORDER BY o_orderkey LIMIT 10""")
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders ORDER BY o_orderkey LIMIT 10"""),

    // §2.9 SQL surface: multi-table join + agg through spark.sql
    "q_sql_join_agg" -> Paired((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT n.n_name,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(*) AS n_lines
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name ORDER BY n.n_name""")
    },
      """SELECT n.n_name,
                ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                COUNT(*) AS n_lines
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON n.n_nationkey = c.c_nationkey
         JOIN region r ON r.r_regionkey = n.n_regionkey
         WHERE r.r_name = 'ASIA'
         GROUP BY n.n_name ORDER BY n.n_name"""),

    // S6 local collection → DataFrame, broadcast-joined to a fact
    "q_local_relation" -> Paired((s, dir) => {
      val ranks = s.createDataFrame(Seq(
        ("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
        ("4-NOT SPECIFIED", 4), ("5-LOW", 5))).toDF("o_orderpriority", "prio_rank")
      Tables.load(s, dir, "orders").join(broadcast(ranks), Seq("o_orderpriority"))
        .groupBy("prio_rank").agg(count(lit(1)).as("n_orders"))
        .orderBy("prio_rank")
    },
      """SELECT prio_rank, count(*) AS n_orders
         FROM orders
         JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
                      ('4-NOT SPECIFIED', 4), ('5-LOW', 5))
              AS ranks(o_orderpriority, prio_rank) USING (o_orderpriority)
         GROUP BY prio_rank ORDER BY prio_rank"""),

    // FULL OUTER reconciliation: daily ordered vs shipped revenue with
    // either side possibly absent — the one outer-join flavor the rest
    // of the suite didn't exercise; both sides pre-aggregate to day
    // grain BEFORE the join so the outer join touches ~2.5k rows, not
    // the facts
    "q_full_outer" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(20,4)"))
          .cast("double").as("order_revenue"))
      val l = Tables.load(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(sum(discRevenue)
          .cast("double").as("shipped_revenue"))
      o.join(l, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("order_revenue"), lit(0.0)).as("order_revenue"),
          coalesce(col("shipped_revenue"), lit(0.0)).as("shipped_revenue"))
        .orderBy("day")
    },
      s"""WITH o AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                    AS order_revenue
           FROM orders GROUP BY 1),
         l AS (
           SELECT CAST(l_shipdate AS DATE) AS day,
                  CAST(SUM($discRevenueSql)
                       AS DOUBLE) AS shipped_revenue
           FROM lineitem GROUP BY 1)
         SELECT COALESCE(o.day, l.day) AS day,
                COALESCE(o.order_revenue, 0.0) AS order_revenue,
                COALESCE(l.shipped_revenue, 0.0) AS shipped_revenue
         FROM o FULL OUTER JOIN l ON o.day = l.day
         ORDER BY day"""),

    // ORDER BY + LIMIT top-n (TakeOrderedAndProject — the distributed
    // top-k physical op: per-partition heads, single driver merge)
    "q_topn" -> Paired((s, dir) =>
      Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"""),

    // ---- Skew guards and join strategies ----

    // salted skew-join: same result as the plain join (oracle-checked),
    // hot keys split across 8 reducers
    "q_salted_join" -> Paired((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_quantity"))
      val sup = Tables.load(s, dir, "supplier").select("s_suppkey", "s_name")
      graft.ops.ScaleOps.saltedJoin(li, sup, "s_suppkey", buckets = 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(20,4)")).cast("double").as("sum_qty"))
        .orderBy("s_name")
    },
      """SELECT s_name, count(*) AS n_items,
                CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY s_name ORDER BY s_name"""),

    // two-phase salted aggregation (hot-group-key skew guard): partial
    // agg on (key, salt) then merge — decomposable sums make the result
    // EXACTLY the plain groupBy, which is the oracle
    "q_salted_agg" -> Paired((s, dir) =>
      graft.ops.ScaleOps.saltedAgg(
        Tables.load(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", buckets = 8)
        .orderBy("l_returnflag"),
      // two-phase salted agg == plain groupBy for decomposable aggregates
      """SELECT l_returnflag, count(*) AS n_rows,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_value
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // bloom-filter-accelerated semi-join: fact prefiltered by a dim-key
    // bloom before the shuffle, exact semi-join finish — output is
    // EXACTLY the plain semi-join, which is what the oracle checks
    "q_bloom_join" -> Paired((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").as("s_suppkey"), col("l_quantity"))
      val sup = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") > 5000).select("s_suppkey")
      graft.ops.ScaleOps.bloomSemiJoin(li, sup, "s_suppkey")
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(20,4)")).cast("double").as("sum_qty"))
        .orderBy("s_suppkey")
    },
      """SELECT l.l_suppkey AS s_suppkey, count(*) AS n_items,
                CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
         FROM lineitem l
         WHERE EXISTS (SELECT 1 FROM supplier s
                       WHERE s.s_acctbal > 5000 AND s.s_suppkey = l.l_suppkey)
         GROUP BY l.l_suppkey ORDER BY s_suppkey"""),

    // bucketed co-located join: both sides written bucketed on the join
    // key (the write-once shuffle), then joined exchange-free — at scale
    // this converts a per-query fact shuffle into a storage layout
    // decision. Same oracle as the plain join; BucketedSpec pins the
    // no-Exchange plan.
    "q_bucketed_join" -> Paired((s, dir) => {
      import graft.table.Bucketed
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_")
      Bucketed.writeBucketed(
        Tables.load(s, dir, "lineitem")
          .select(col("l_suppkey").as("s_suppkey"), col("l_quantity")),
        s"li_bkt_$sfx", "s_suppkey", buckets = 8)
      Bucketed.writeBucketed(
        Tables.load(s, dir, "supplier").select("s_suppkey", "s_name"),
        s"sup_bkt_$sfx", "s_suppkey", buckets = 8)
      Bucketed.colocatedJoin(s, s"li_bkt_$sfx", s"sup_bkt_$sfx", Seq("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(20,4)")).cast("double").as("sum_qty"))
        .orderBy("s_name")
    },
      """SELECT s_name, count(*) AS n_items,
                CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY s_name ORDER BY s_name"""),

    // ---- TPC-H shapes ----

    "q1_agg" -> Paired((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(20,4)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(20,4)")).cast("double").as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
                ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                count(*) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // TPC-H Q2 shape (min-cost supplier per part; no partsupp table, so
    // the part↔supplier relation is the DISTINCT (partkey,suppkey) pairs
    // observed in lineitem, and s_acctbal stands in for ps_supplycost):
    // the correlated MIN subquery becomes a per-part partial agg joined
    // back on equality — arithmetic-free, so double equality is exact.
    "q_tpch_q2" -> Paired((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_type") === "LARGE" && col("p_size") < 16)
        .select(col("p_partkey").as("l_partkey"), col("p_name"))
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"),
          col("s_acctbal"), col("s_nationkey"))
      val n = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))
      val cand = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(p), Seq("l_partkey"))
        .join(broadcast(sup), Seq("l_suppkey"))
        .join(broadcast(n), Seq("s_nationkey"))
      val mins = cand.groupBy("l_partkey")
        .agg(min(col("s_acctbal")).as("min_bal"))
      cand.join(mins, Seq("l_partkey"))
        .filter(col("s_acctbal") === col("min_bal"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("p_name"))
        .orderBy(col("s_acctbal").desc, col("n_name").asc,
          col("s_name").asc, col("p_partkey").asc)
        .limit(100)
    },
      // part↔supplier relation = DISTINCT lineitem pairs; correlated MIN
      // replayed as a CTE agg + equality join (arithmetic-free)
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         cand AS (
           SELECT p.p_partkey, p.p_name, s.s_name, s.s_acctbal, n.n_name
           FROM ps
           JOIN part p ON p.p_partkey = ps.l_partkey
           JOIN supplier s ON s.s_suppkey = ps.l_suppkey
           JOIN nation n ON n.n_nationkey = s.s_nationkey
           WHERE p.p_type = 'LARGE' AND p.p_size < 16),
         mins AS (SELECT p_partkey, MIN(s_acctbal) AS min_bal
                  FROM cand GROUP BY p_partkey)
         SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey, c.p_name
         FROM cand c JOIN mins m ON m.p_partkey = c.p_partkey
         WHERE c.s_acctbal = m.min_bal
         ORDER BY c.s_acctbal DESC, c.n_name ASC, c.s_name ASC,
                  c.p_partkey ASC LIMIT 100"""),

    // TPC-H Q3 shape: selective dim filter → two-table fact join →
    // decimal-exact revenue agg → distributed top-10. The segment-filtered
    // customer key set broadcasts; orders⋈lineitem shuffles on the order
    // key; TakeOrderedAndProject merges per-partition heads.
    "q_tpch_q3" -> Paired((s, dir) => {
      val cut = lit("1998-01-01").cast("timestamp")
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < cut)
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey").as("l_orderkey"),
          col("o_orderdate"))
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o.join(broadcast(c), Seq("c_custkey")), Seq("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(discRevenue)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      s"""SELECT l_orderkey, o_orderdate,
                CAST(SUM($discRevenueSql) AS DOUBLE)
                  AS revenue
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1998-01-01'
           AND l.l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10"""),

    // TPC-H Q4 shape (order-priority checking): EXISTS over lineitem as
    // a LEFT SEMI join with a non-equi residual (shipdate > orderdate +
    // 60 days — the corpus has no commit/receipt dates) — the semi join
    // keys on the order key, so it stays a hash join with the interval
    // condition evaluated as the join residual.
    "q_tpch_q4" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_shipdate"))
      o.join(l, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1997-01-01'
           AND EXISTS (
             SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
               AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // TPC-H Q5 shape: 6-way star join (region→nation→customer ⋈ orders ⋈
    // lineitem ⋈ supplier with the nation-colocation condition) —
    // dimensions broadcast, facts shuffle once on their join keys
    "q_tpch_q5" -> Paired((s, dir) => {
      val r = Tables.load(s, dir, "region")
        .filter(col("r_name") === "ASIA").select("r_regionkey")
      val n = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey").as("r_regionkey"))
      val natAsia = n.join(broadcast(r), Seq("r_regionkey"))
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
      val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey").as("l_orderkey"))
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      l.join(o, Seq("l_orderkey"))
        .join(broadcast(c.join(broadcast(natAsia), Seq("c_nationkey"))), Seq("c_custkey"))
        .join(broadcast(sup), Seq("l_suppkey"))
        .filter(col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(sum(discRevenue)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
      s"""SELECT n_name,
                CAST(SUM($discRevenueSql) AS DOUBLE)
                  AS revenue
         FROM customer c
         JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
                        AND c.c_nationkey = s.s_nationkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         WHERE r.r_name = 'ASIA'
         GROUP BY n_name ORDER BY revenue DESC, n_name"""),

    // TPC-H Q6 shape (forecast revenue change): pure scan-side predicate
    // stack — every conjunct reaches the parquet reader as a pushed
    // filter, then one decimal-exact partial-aggregated sum. The plan to
    // want at 100 TB: no shuffle at all beyond the single-row final agg.
    "q_tpch_q6" -> Paired((s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.04 &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(20,4)") *
            col("l_discount").cast("decimal(20,4)"))
          .cast("double").as("revenue")),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4)) *
                        CAST(l_discount AS DECIMAL(20,4))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.02 AND 0.04
           AND l_quantity < 24"""),

    // TPC-H Q7 shape (volume shipping between nation pairs, by year):
    // nations pre-filtered to the pair set BEFORE joining (suppliers of
    // the set broadcast; the customer side keeps only 4/25 nations and
    // AQE picks its strategy from the measured post-filter size), the
    // cross-nation pair condition applied after both dims attach. Four
    // nations rather than TPC-H's two so the smallest test SF still
    // produces rows.
    "q_tpch_q7" -> Paired((s, dir) => {
      val pair = Seq("NATION_0", "NATION_1", "NATION_2", "NATION_3")
      val n1 = Tables.load(s, dir, "nation")
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("supp_nation"))
      val n2 = Tables.load(s, dir, "nation")
        .filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nationkey"),
          col("n_name").as("cust_nation"))
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
          "l_shipdate")
      l.join(o, Seq("l_orderkey"))
        .join(broadcast(sup.join(broadcast(n1), Seq("s_nationkey"))),
          Seq("l_suppkey"))
        .join(c.join(broadcast(n2), Seq("c_nationkey")), Seq("o_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(discRevenue)
          .cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l.l_shipdate) AS INT) AS l_year,
                CAST(SUM($discRevenueSql) AS DOUBLE)
                  AS revenue
         FROM lineitem l
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
         JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
         WHERE n1.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
           AND n2.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3')
           AND n1.n_name <> n2.n_name
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year"""),

    // TPC-H Q8 shape (national market share by year): region-filtered
    // customers on the order side, supplier nation attached by broadcast,
    // share = conditional decimal sum / total decimal sum, divided in
    // double only after both sums are exact.
    "q_tpch_q8" -> Paired((s, dir) => {
      val r = Tables.load(s, dir, "region")
        .filter(col("r_name") === "ASIA").select("r_regionkey")
      val nc = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey").as("r_regionkey"))
        .join(broadcast(r), Seq("r_regionkey"))
        .select(col("n_nationkey").as("c_nationkey"))
      val c = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(broadcast(nc), Seq("c_nationkey"))
        .select(col("c_custkey").as("o_custkey"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      val ns = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("s_nationkey"),
          col("n_name").as("supp_nation"))
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
        .join(broadcast(ns), Seq("s_nationkey"))
      val l = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      l.join(o, Seq("l_orderkey"))
        .join(c, Seq("o_custkey"))
        .join(broadcast(sup), Seq("l_suppkey"))
        .groupBy("o_year")
        .agg(round(
          sum(when(col("supp_nation") === "NATION_0", discRevenue).otherwise(lit(0)))
            .cast("double") /
          sum(discRevenue).cast("double"), 6).as("mkt_share"))
        .orderBy("o_year")
    },
      s"""SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
                ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_0'
                         THEN $discRevenueSql
                         ELSE 0 END) AS DOUBLE) /
                      CAST(SUM($discRevenueSql)
                           AS DOUBLE), 6) AS mkt_share
         FROM lineitem l
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation cn ON cn.n_nationkey = c.c_nationkey
         JOIN region r ON r.r_regionkey = cn.n_regionkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation sn ON sn.n_nationkey = s.s_nationkey
         WHERE r.r_name = 'ASIA'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY o_year ORDER BY o_year"""),

    // TPC-H Q9 shape (product-profit by nation × year): part filter →
    // three broadcast dims onto lineitem → one fact-fact shuffle with
    // orders on the order key → decimal-exact profit agg. partsupp does
    // not exist in this corpus, so p_retailprice stands in for
    // ps_supplycost in the cost term — same join/agg skeleton.
    "q_tpch_q9" -> Paired((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey").as("l_partkey"), col("p_retailprice"))
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      val n = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("nation"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"),
          year(col("o_orderdate")).as("o_year"))
      val l = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
      l.join(broadcast(p), Seq("l_partkey"))
        .join(broadcast(sup), Seq("l_suppkey"))
        .join(broadcast(n), Seq("s_nationkey"))
        .join(o, Seq("l_orderkey"))
        .groupBy("nation", "o_year")
        .agg(sum(discRevenue -
            col("p_retailprice").cast("decimal(20,4)") *
            col("l_quantity").cast("decimal(20,4)"))
          .cast("double").as("sum_profit"))
        .orderBy(col("nation").asc, col("o_year").desc)
    },
      s"""SELECT n.n_name AS nation,
                CAST(year(o.o_orderdate) AS INT) AS o_year,
                CAST(SUM($discRevenueSql -
                         CAST(p_retailprice AS DECIMAL(20,4)) *
                         CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                  AS sum_profit
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE p.p_name LIKE '%widget%'
         GROUP BY nation, o_year
         ORDER BY nation ASC, o_year DESC"""),

    // TPC-H Q10 shape (returned-item revenue, top 20 customers): date
    // window on orders + returnflag filter on lineitem BEFORE the join,
    // one fact-fact shuffle, nation broadcast onto the customer side,
    // TakeOrderedAndProject top-20.
    "q_tpch_q10" -> Paired((s, dir) => {
      val n = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
      val c = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        .join(broadcast(n), Seq("c_nationkey"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
        .select(col("o_orderkey").as("l_orderkey"),
          col("o_custkey").as("c_custkey"))
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, Seq("l_orderkey"))
        .join(c, Seq("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(sum(discRevenue)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      s"""SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
                CAST(SUM($discRevenueSql) AS DOUBLE)
                  AS revenue
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         JOIN nation n ON n.n_nationkey = c.c_nationkey
         WHERE l.l_returnflag = 'R'
           AND o.o_orderdate >= TIMESTAMP '1996-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-07-01'
         GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
         ORDER BY revenue DESC, c.c_custkey ASC LIMIT 20"""),

    // TPC-H Q11 shape (important-part inventory value; lineitem revenue
    // per part stands in for ps_supplycost·ps_availqty): the `HAVING
    // value > fraction · total` scalar subquery is the bounded
    // single-row broadcast stats attach (the bm25/unigram-LM pattern —
    // a 1-row build side, exempted by PlanLint's maxRows rule), with
    // the threshold in exact decimals (value·1000 > total ⇔ value >
    // 0.1% of total).
    "q_tpch_q11" -> Paired((s, dir) => {
      val sup = Tables.load(s, dir, "supplier")
        .filter(col("s_nationkey") < 5)
        .select(col("s_suppkey").as("l_suppkey"))
      val lv = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(broadcast(sup), Seq("l_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(discRevenue).as("value_dec"))
      val total = lv.agg(sum(col("value_dec")).as("total_dec"))
      lv.crossJoin(broadcast(total))
        .filter(col("value_dec") * 1000 > col("total_dec"))
        .select(col("l_partkey").as("p_partkey"),
          col("value_dec").cast("double").as("value"))
        .orderBy(col("value").desc, col("p_partkey").asc)
        .limit(100)
    },
      // HAVING vs global total in integer-exact form: value·1000 > total
      s"""WITH lv AS (
           SELECT l_partkey,
                  SUM($discRevenueSql) AS value_dec
           FROM lineitem l
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           WHERE s.s_nationkey < 5
           GROUP BY l_partkey),
         t AS (SELECT SUM(value_dec) AS total_dec FROM lv)
         SELECT lv.l_partkey AS p_partkey,
                CAST(lv.value_dec AS DOUBLE) AS value
         FROM lv, t WHERE lv.value_dec * 1000 > t.total_dec
         ORDER BY value DESC, p_partkey ASC LIMIT 100"""),

    // TPC-H Q12 shape (shipping-priority class counts by mode; this
    // corpus has no l_shipmode, so l_returnflag plays the 2-value mode
    // column): fact filter → one shuffle join → conditional counts.
    "q_tpch_q12" -> Paired((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "A") &&
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o, Seq("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE l_returnflag IN ('R','A')
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    // join so zero-order customers survive with count 0, then a second
    // tiny aggregation over the per-customer counts. The filtered orders
    // side shuffles once on custkey; the histogram agg is ~50 rows.
    "q_tpch_q13" -> Paired((s, dir) => {
      val c = Tables.load(s, dir, "customer").select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
      c.join(o, Seq("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
               FROM customer c
               LEFT OUTER JOIN orders o ON o.o_custkey = c.c_custkey
                 AND o.o_orderpriority <> '4-NOT SPECIFIED'
               GROUP BY c.c_custkey)
         GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""),

    // TPC-H Q14 shape (promo revenue share by month): one broadcast dim
    // onto the fact, conditional decimal agg, share computed in double
    // after the exact decimal sums.
    "q_tpch_q14" -> Paired((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_type"))
      val l = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_extendedprice", "l_discount", "l_shipdate")
      l.join(broadcast(p), Seq("l_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(round(lit(100.0) *
            sum(when(col("p_type") === "PROMO", discRevenue).otherwise(lit(0))).cast("double") /
            sum(discRevenue).cast("double"), 4).as("promo_share"))
        .orderBy("month")
    },
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS month,
                ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                        THEN $discRevenueSql
                        ELSE 0 END) AS DOUBLE) /
                      CAST(SUM($discRevenueSql)
                           AS DOUBLE), 4) AS promo_share
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         GROUP BY month ORDER BY month"""),

    // TPC-H Q15 shape (top supplier): quarter revenue per supplier, keep
    // the row(s) equal to the global max — the max is the same bounded
    // single-row broadcast attach, compared in exact decimals so ties
    // survive identically in both engines.
    "q_tpch_q15" -> Paired((s, dir) => {
      val rev = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum(discRevenue).as("total_dec"))
      val mx = rev.agg(max(col("total_dec")).as("max_dec"))
      val sup = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_dec") === col("max_dec"))
        .join(broadcast(sup), Seq("l_suppkey"))
        .select(col("l_suppkey").as("s_suppkey"), col("s_name"),
          col("total_dec").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    },
      s"""WITH rev AS (
           SELECT l_suppkey,
                  SUM($discRevenueSql) AS total_dec
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY l_suppkey),
         mx AS (SELECT MAX(total_dec) AS max_dec FROM rev)
         SELECT r.l_suppkey AS s_suppkey, s.s_name,
                CAST(r.total_dec AS DOUBLE) AS total_revenue
         FROM rev r
         JOIN supplier s ON s.s_suppkey = r.l_suppkey
         JOIN mx ON r.total_dec = mx.max_dec
         ORDER BY s_suppkey"""),

    // TPC-H Q16 shape (supplier counts per part attribute): DISTINCT
    // part↔supplier pairs from lineitem, the NOT-IN supplier exclusion
    // as a LEFT ANTI join (acctbal stands in for the complaints filter),
    // COUNT(DISTINCT) per attribute triple.
    "q_tpch_q16" -> Paired((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 49))
        .select(col("p_partkey").as("l_partkey"),
          col("p_brand"), col("p_type"), col("p_size"))
      val excl = Tables.load(s, dir, "supplier")
        .filter(col("s_acctbal") < 1000)
        .select(col("s_suppkey").as("l_suppkey"))
      Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(p), Seq("l_partkey"))
        .join(broadcast(excl), Seq("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
          col("p_type").asc, col("p_size").asc)
    },
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         SELECT p.p_brand, p.p_type, p.p_size,
                count(DISTINCT ps.l_suppkey) AS supplier_cnt
         FROM ps
         JOIN part p ON p.p_partkey = ps.l_partkey
         WHERE p.p_type <> 'PROMO'
           AND p.p_size IN (1,4,9,14,19,24,29,34,49)
           AND ps.l_suppkey NOT IN (
             SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
         GROUP BY p.p_brand, p.p_type, p.p_size
         ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC"""),

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // `l_quantity < 0.2 * avg(l_quantity per part)` rewritten as a
    // per-part partial agg joined back onto the fact, with the predicate
    // in INTEGER-EXACT form (qty·5·cnt < sum) so both engines compare
    // exact decimals — no cross-engine double-average drift. The per-part
    // agg output is tiny and AQE broadcasts it back.
    "q_tpch_q17" -> Paired((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_type") === "PROMO" && col("p_brand").like("Brand#1%"))
        .select(col("p_partkey").as("l_partkey"))
      val qty = col("l_quantity").cast("decimal(20,4)")
      val perPart = Tables.load(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(qty).as("sum_qty"), count(lit(1)).as("cnt_qty"))
      Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(p), Seq("l_partkey"))
        .join(perPart, Seq("l_partkey"))
        .filter(qty * lit(5) * col("cnt_qty") < col("sum_qty"))
        .agg((sum(col("l_extendedprice").cast("decimal(20,4)"))
          .cast("double") / 7.0).as("avg_yearly"))
    },
      // correlated 0.2·avg predicate replayed in integer-exact form
      // (qty·5·cnt < sum of exact decimals) — see the Spark side
      """WITH perpart AS (
           SELECT l_partkey,
                  SUM(CAST(l_quantity AS DECIMAL(20,4))) AS sum_qty,
                  COUNT(*) AS cnt_qty
           FROM lineitem GROUP BY l_partkey)
         SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(20,4)))
                     AS DOUBLE) / 7.0 AS avg_yearly
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey
         JOIN perpart a ON a.l_partkey = l.l_partkey
         WHERE p.p_type = 'PROMO' AND p.p_brand LIKE 'Brand#1%'
           AND CAST(l.l_quantity AS DECIMAL(20,4)) * 5 * a.cnt_qty
               < a.sum_qty"""),

    // TPC-H Q18 shape (large-quantity orders): HAVING subquery as a
    // partial-agg groupBy whose tiny output AQE broadcasts back onto
    // orders, then onto customer — the top-100 merges per-partition
    // heads (TakeOrderedAndProject), never a global sort.
    "q_tpch_q18" -> Paired((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_quantity").cast("decimal(20,4)").as("qty"))
      val qual = l.groupBy("l_orderkey")
        .agg(sum("qty").as("total_qty"))
        .filter(col("total_qty") > 9)
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"),
          col("o_orderdate"), col("o_totalprice"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_name"))
      o.join(qual, Seq("l_orderkey"))
        .join(c, Seq("o_custkey"))
        .select(col("c_name"), col("o_custkey").as("c_custkey"),
          col("l_orderkey").as("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty").cast("double").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    },
      """SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                o.o_totalprice,
                CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                  AS total_qty
         FROM customer c
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderkey IN (
           SELECT l_orderkey FROM lineitem
           GROUP BY l_orderkey
           HAVING SUM(CAST(l_quantity AS DECIMAL(20,4))) > 9)
         GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
                  o.o_totalprice
         ORDER BY o.o_totalprice DESC, o.o_orderkey ASC LIMIT 100"""),

    // TPC-H Q19 shape (disjunctive brand/size/quantity predicates): the
    // three OR'd conjunct groups stay a single scan + broadcast join —
    // the part-side disjunction (brand ∈ {...}) is pushable, the mixed
    // fact/dim residual evaluates post-join inside codegen.
    "q_tpch_q19" -> Paired((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"), col("p_size"))
      val l = Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val q = col("l_quantity")
      val hit =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
          q.between(1, 15)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
          q.between(10, 25)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
          q.between(20, 35))
      l.join(broadcast(p), Seq("l_partkey"))
        .filter(hit)
        .agg(sum(discRevenue)
          .cast("double").as("revenue"))
    },
      s"""SELECT CAST(SUM($discRevenueSql) AS DOUBLE)
                  AS revenue
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 15)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 10 AND 25)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                AND l_quantity BETWEEN 20 AND 35)"""),

    // TPC-H Q20 shape (excess-inventory suppliers; shipped-quantity
    // dominance stands in for ps_availqty > 0.5·sum): per-(part,supplier)
    // 1996 quantity vs the part total in INTEGER-EXACT form
    // (qty·2 > total), distinct dominant suppliers semi-joined onto the
    // nation-filtered supplier dim.
    "q_tpch_q20" -> Paired((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .filter(col("p_name").like("small%"))
        .select(col("p_partkey").as("l_partkey"))
      val perPS = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("decimal(20,4)").as("q"))
        .join(broadcast(p), Seq("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("q")).as("ps_qty"))
      val perP = perPS.groupBy("l_partkey")
        .agg(sum(col("ps_qty")).as("p_qty"))
      val dominant = perPS.join(perP, Seq("l_partkey"))
        .filter(col("ps_qty") * 2 > col("p_qty"))
        .select(col("l_suppkey").as("s_suppkey")).distinct()
      Tables.load(s, dir, "supplier")
        .filter(col("s_nationkey") < 20)
        .join(dominant, Seq("s_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    },
      // shipped-quantity dominance in integer-exact form: qty·2 > total
      """WITH l96 AS (
           SELECT l_partkey, l_suppkey,
                  CAST(l_quantity AS DECIMAL(20,4)) AS q
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'),
         ps AS (SELECT l_partkey, l_suppkey, SUM(q) AS ps_qty
                FROM l96 JOIN part p ON p.p_partkey = l96.l_partkey
                WHERE p.p_name LIKE 'small%'
                GROUP BY l_partkey, l_suppkey),
         pt AS (SELECT l_partkey, SUM(ps_qty) AS p_qty
                FROM ps GROUP BY l_partkey)
         SELECT s.s_name, s.s_acctbal
         FROM supplier s
         WHERE s.s_nationkey < 20 AND s.s_suppkey IN (
           SELECT ps.l_suppkey FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey
           WHERE ps.ps_qty * 2 > pt.p_qty)
         ORDER BY s.s_name"""),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the only
    // supplier with a returned line in a multi-supplier completed order —
    // EXISTS as a semi join and NOT EXISTS as an anti join, both hash
    // joins on the order key with a supplier-inequality residual.
    "q_tpch_q21" -> Paired((s, dir) => {
      val sup = Tables.load(s, dir, "supplier")
        .filter(col("s_nationkey") < 13)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      val base = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey")
        .join(o, Seq("l_orderkey"))
        .join(broadcast(sup), Seq("l_suppkey"))
      val others = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("o2_orderkey"),
          col("l_suppkey").as("o2_suppkey"))
      val othersR = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3_orderkey"),
          col("l_suppkey").as("o3_suppkey"))
      base
        .join(others, col("l_orderkey") === col("o2_orderkey") &&
          col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
        .join(othersR, col("l_orderkey") === col("o3_orderkey") &&
          col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc)
        .limit(100)
    },
      """SELECT s.s_name, count(*) AS numwait
         FROM lineitem l1
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
         JOIN supplier s ON s.s_suppkey = l1.l_suppkey
         WHERE l1.l_returnflag = 'R' AND o.o_orderstatus = 'F'
           AND s.s_nationkey < 13
           AND EXISTS (
             SELECT 1 FROM lineitem l2
             WHERE l2.l_orderkey = l1.l_orderkey
               AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (
             SELECT 1 FROM lineitem l3
             WHERE l3.l_orderkey = l1.l_orderkey
               AND l3.l_suppkey <> l1.l_suppkey
               AND l3.l_returnflag = 'R')
         GROUP BY s.s_name
         ORDER BY numwait DESC, s.s_name ASC LIMIT 100"""),

    // TPC-H Q22 shape (dormant high-balance customers): the global
    // positive-balance average as the bounded single-row broadcast
    // attach, compared in integer-exact form (bal·cnt > sum), recent
    // orders removed by a LEFT ANTI join, per-nation count + total.
    "q_tpch_q22" -> Paired((s, dir) => {
      val bal = col("c_acctbal").cast("decimal(20,4)")
      val stats = Tables.load(s, dir, "customer")
        .filter(col("c_acctbal") > 0.0 && col("c_nationkey") < 7)
        .agg(sum(bal).as("sum_bal"), count(lit(1)).as("cnt_bal"))
      val recent = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"))
      Tables.load(s, dir, "customer")
        .filter(col("c_nationkey") < 7)
        .crossJoin(broadcast(stats))
        .filter(bal * col("cnt_bal") > col("sum_bal"))
        .join(recent, Seq("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sum(bal).cast("double").as("totacctbal"))
        .orderBy("c_nationkey")
    },
      // positive-balance average in integer-exact form: bal·cnt > sum
      """WITH pos AS (
           SELECT SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS sum_bal,
                  COUNT(*) AS cnt_bal
           FROM customer WHERE c_acctbal > 0.0 AND c_nationkey < 7)
         SELECT c.c_nationkey, count(*) AS numcust,
                CAST(SUM(CAST(c.c_acctbal AS DECIMAL(20,4))) AS DOUBLE)
                  AS totacctbal
         FROM customer c, pos
         WHERE c.c_nationkey < 7
           AND CAST(c.c_acctbal AS DECIMAL(20,4)) * pos.cnt_bal
               > pos.sum_bal
           AND NOT EXISTS (
             SELECT 1 FROM orders o
             WHERE o.o_custkey = c.c_custkey
               AND o.o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY c.c_nationkey ORDER BY c.c_nationkey"""),
  )
}

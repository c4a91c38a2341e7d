package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** The aggregation query family: grouping (rollup, cube, grouping sets,
  * pivot, unpivot, distinct and date-part counts), windows and ranks,
  * the scalar string/regex/map/higher-order function surface under
  * aggregation, the distinct-count sketches (HLL bound check, KMV), the
  * histograms and profiles, and the data-quality checks (join
  * cardinality, Pareto share, the DQ suite). Membership rule: a query
  * that tests an aggregate, window or scalar function of the engine
  * itself, not a statistical model or test over the data. */
object Aggregates extends QueryFamily {
  import QueryFamily.withSQLConf

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  protected val paired: Seq[(String, Paired)] = Seq(

    // ---- Grouping ----

    "q_rollup" -> Paired((s, dir) => {
      // Spark 4.1's DetectAmbiguousSelfJoin false-positives on
      // rollup-after-join (the Expand node re-uses the grouping attrs);
      // the check is a lint, not a semantic guard — disable it ONLY for
      // this query's analysis (withSQLConf restores the previous value).
      withSQLConf(s, "spark.sql.analyzer.failAmbiguousSelfJoin", "false") {
      val c = Tables.load(s, dir, "customer")
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      val joined = c.select("c_custkey", "c_nationkey", "c_acctbal")
        .join(broadcast(n.select(col("n_nationkey").as("c_nationkey"),
          col("n_name"), col("n_regionkey"))), Seq("c_nationkey"))
        .join(broadcast(r.select(col("r_regionkey").as("n_regionkey"),
          col("r_name"))), Seq("n_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
      joined.rollup(joined("r_name"), joined("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(20,4)")).cast("double").as("sum_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
      }
    },
      """SELECT r_name, n_name, count(*) AS n_cust,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE) AS sum_bal
         FROM customer c
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"""),

    // CUBE aggregation (all grouping combinations)
    "q_cube" -> Paired((s, dir) =>
      Tables.load(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),

    // GROUPING SETS through the SQL surface
    "q_grouping_sets" -> Paired((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT r_name, n_name, count(*) AS n_cust
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name))
        ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
    },
      """SELECT r_name, n_name, count(*) AS n_cust
         FROM customer c
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY GROUPING SETS ((r_name), (n_name))
         ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""),

    "q_pivot" -> Paired((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority").pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority,
                count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
                count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
                count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // UNPIVOT (melt): the wide pivot table folded back to long form
    "q_unpivot" -> Paired((s, dir) => {
      val wide = Tables.load(s, dir, "orders")
        .groupBy("o_orderpriority").pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
      wide.unpivot(Array(col("o_orderpriority")),
        Array(col("F"), col("O"), col("P")), "status", "n")
        .orderBy("o_orderpriority", "status")
    },
      """WITH w AS (
           SELECT o_orderpriority,
                  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
                  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
                  count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n
           FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, status, n FROM (
           SELECT o_orderpriority, 'F' AS status, f_n AS n FROM w
           UNION ALL SELECT o_orderpriority, 'O', o_n FROM w
           UNION ALL SELECT o_orderpriority, 'P', p_n FROM w)
         ORDER BY o_orderpriority, status"""),

    "q_count_distinct" -> Paired((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // date-part extraction + aggregation
    "q_date_agg" -> Paired((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(20,4)")).cast("double").as("sum_total"))
        .orderBy("yr", "mo"),
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
                count(*) AS n,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_total
         FROM orders GROUP BY 1, 2 ORDER BY yr, mo"""),

    // ---- Windows and ranks ----

    // window with a RANGE frame (peers included on ties)
    "q_range_frame" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") < 30)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          count(lit(1)).over(w).as("n_leq"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
                count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS n_leq
         FROM orders WHERE o_custkey < 30 ORDER BY o_orderkey"""),

    // analytic window functions: lag + row_number + running sum
    "q_window_analytics" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
          row_number().over(w).as("seq"),
          sum(col("o_totalprice").cast("decimal(20,4)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"))
        .orderBy("o_custkey", "seq")
    },
      """SELECT o_custkey, o_orderkey,
                lag(o_orderkey, 1) OVER w AS prev_orderkey,
                row_number() OVER w AS seq,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate ASC, o_orderkey ASC
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
         FROM orders WHERE o_custkey < 50
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC)
         ORDER BY o_custkey, seq"""),

    // rank-family analytic windows: dense_rank / percent_rank / ntile /
    // cume_dist under one deterministic total order
    "q_rank_funcs" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.load(s, dir, "orders")
        .filter(col("o_custkey") < 20)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          dense_rank().over(w).as("dr"),
          round(percent_rank().over(w), 6).as("pr"),
          ntile(4).over(w).as("quartile"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
                dense_rank() OVER w AS dr,
                ROUND(percent_rank() OVER w, 6) AS pr,
                ntile(4) OVER w AS quartile,
                ROUND(cume_dist() OVER w, 6) AS cd
         FROM orders WHERE o_custkey < 20
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC)
         ORDER BY o_custkey, o_orderkey"""),

    // trending top-k: weekly top-3 parts by shipped quantity — the
    // two-level shape (time-bucket agg, then a bucket-partitioned rank
    // that WindowGroupLimit pushes map-side) behind every "trending
    // now" panel; rank on the exact decimal total with id tiebreak
    "q_trending" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val agg = Tables.load(s, dir, "lineitem")
        .groupBy(date_trunc("week", col("l_shipdate")).as("week"),
          col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(20,4)")).as("qty_dec"))
      val w = Window.partitionBy("week")
        .orderBy(col("qty_dec").desc, col("l_partkey").asc)
      agg.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("week"), col("l_partkey"),
          col("qty_dec").cast("double").as("qty"), col("rn"))
        .orderBy("week", "rn")
    },
      """WITH a AS (
           SELECT date_trunc('week', l_shipdate) AS week, l_partkey,
                  SUM(CAST(l_quantity AS DECIMAL(20,4))) AS qty_dec
           FROM lineitem GROUP BY week, l_partkey),
         r AS (SELECT *, row_number() OVER (PARTITION BY week
                 ORDER BY qty_dec DESC, l_partkey ASC) AS rn FROM a)
         SELECT week, l_partkey, CAST(qty_dec AS DOUBLE) AS qty, rn
         FROM r WHERE rn <= 3 ORDER BY week, rn"""),

    // ---- Scalar function surface ----

    // string scalar functions (upper/substring/length) under aggregation
    "q_string_funcs" -> Paired((s, dir) =>
      docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n"),
          min(upper(substring(col("text"), 1, 12))).as("min_prefix"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("source"),
      """SELECT source, count(*) AS n,
                min(upper(substr(text, 1, 12))) AS min_prefix,
                max(n_chars) AS max_chars
         FROM documents GROUP BY source ORDER BY source"""),

    // regex scalar surface: extract / extract_all / replace
    "q_regex_funcs" -> Paired((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        regexp_extract(col("text"), "([A-Za-z]+)", 1).as("first_word"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_nums"),
        length(regexp_replace(col("text"), "[aeiou]", "")).as("n_novowel"))
        .orderBy("doc_id"),
      """SELECT doc_id,
                regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
                len(regexp_extract_all(text, '[0-9]+')) AS n_nums,
                length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_novowel
         FROM documents ORDER BY doc_id"""),

    // MAP-typed column surface: build a status->count map per customer
    // (map_from_entries over sorted entries), then read it back out with
    // element_at / map_keys / size — oracle replays map-free
    "q_map_ops" -> Paired((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_custkey", "o_orderstatus").agg(count(lit(1)).as("n"))
        .groupBy("o_custkey")
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("o_orderstatus"), col("n"))))).as("m"))
        .select(col("o_custkey"),
          size(col("m")).as("n_statuses"),
          coalesce(element_at(col("m"), lit("O")), lit(0L)).as("n_open"),
          array_join(map_keys(col("m")), ",").as("statuses"))
        .orderBy("o_custkey"),
      """WITH g AS (SELECT o_custkey, o_orderstatus, count(*) AS n
                    FROM orders GROUP BY 1, 2)
         SELECT o_custkey,
                CAST(count(*) AS INT) AS n_statuses,
                CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN n END), 0)
                     AS BIGINT) AS n_open,
                string_agg(o_orderstatus, ',' ORDER BY o_orderstatus)
                  AS statuses
         FROM g GROUP BY o_custkey ORDER BY o_custkey"""),

    // higher-order-function surface: transform/aggregate/filter over the
    // embedding arrays (the declarative forms the native expressions twin)
    "q_hof" -> Paired((s, dir) =>
      emb(s, dir).select(
        col("vec_id"),
        round(aggregate(transform(col("embedding"),
          x => x.cast("double") * x.cast("double")), lit(0.0), (acc, x) => acc + x), 4)
          .as("sum_sq"),
        round(array_max(transform(col("embedding"), x => abs(x.cast("double")))), 4)
          .as("max_abs"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"))
        .orderBy("vec_id"),
      """SELECT vec_id,
                ROUND(CAST(list_sum(list_transform(embedding::DOUBLE[],
                      x -> x * x)) AS DOUBLE), 4) AS sum_sq,
                ROUND(CAST(list_max(list_transform(embedding::DOUBLE[],
                      x -> abs(x))) AS DOUBLE), 4) AS max_abs,
                len(list_filter(embedding, x -> x > 0)) AS n_pos
         FROM embeddings ORDER BY vec_id"""),

    // ---- Distinct-count sketches ----

    // HLL sketch, oracle-compared as a BOUND CHECK: the estimate itself is
    // engine-seeded (Spark HLL++ vs DuckDB HLL differ by construction),
    // but the sketch's accuracy contract is relational — the row carries
    // the exact count plus a within-3×rsd flag (rsd defaults to 0.05) the
    // oracle asserts as literal 1, so a broken/drifting sketch turns the
    // row red instead of hiding behind a rows-only check.
    // PROBABILISTIC caveat: rsd is a standard deviation, not a hard
    // guarantee — 3×rsd holds with ~99.7% probability PER GROUP, and the
    // check is deterministic per dataset (HLL++ has no runtime seed), so
    // on a NEW dataset or SF a perfectly healthy sketch can land one
    // group outside the bound and fail persistently there. A red row
    // here on fresh data means "re-derive the bound for that data"
    // before suspecting the sketch; the current testdata's worst group
    // sits well inside 15%
    "q_approx_distinct" -> Paired((s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          countDistinct(col("o_custkey")).as("exact_cust"),
          approx_count_distinct(col("o_custkey")).as("approx_cust"))
        .select(col("o_orderstatus"), col("exact_cust"),
          when(abs(col("approx_cust") - col("exact_cust")) <=
            lit(0.15) * col("exact_cust"), lit(1L)).otherwise(lit(0L))
            .as("within_bound"))
        .orderBy("o_orderstatus"),
      // HLL bound check: the estimate is engine-seeded, so the oracle
      // asserts the accuracy CONTRACT — the Spark side emits 1 only when
      // |approx - exact| <= 3*rsd*exact (rsd 0.05); a broken sketch flips
      // the flag and the hash goes red
      """SELECT o_orderstatus,
                count(DISTINCT o_custkey) AS exact_cust,
                CAST(1 AS BIGINT) AS within_bound
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // KMV distinct sketch — the deterministic md5-based k-minimum-values
    // estimator (ScaleOps.kmvDistinct): unlike the engine-seeded HLL row
    // above, a DuckDB replay reproduces it bit-for-bit (hash-green)
    "q_kmv_distinct" -> Paired((s, dir) =>
      graft.ops.ScaleOps.kmvDistinct(Tables.load(s, dir, "orders"),
        Seq("o_orderstatus"), "o_custkey", k = 64)
        .orderBy("o_orderstatus"),
      // KMV: identical md5→60-bit-hash→bottom-k→(k-1)·2^60/h_k arithmetic
      """WITH h AS (
           SELECT DISTINCT o_orderstatus,
                  ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                    AS hv
           FROM orders WHERE o_custkey IS NOT NULL),
         r AS (
           SELECT o_orderstatus, hv,
                  row_number() OVER (PARTITION BY o_orderstatus ORDER BY hv)
                    AS rn
           FROM h)
         SELECT o_orderstatus,
                CAST(CASE WHEN count(*) < 64 THEN count(*)
                          ELSE floor(63.0 * 1152921504606846976.0 /
                                     CAST(max(hv) AS DOUBLE))
                     END AS BIGINT) AS est_distinct
         FROM r WHERE rn <= 64
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // KMV set operations — the mergeability payoff: |A|, |B|, |A∪B|,
    // |A∩B| of two customer cohorts from bottom-64 sketches, exact
    // below k, ρ/k-scaled above it; deterministic md5 chain → hash-green
    "q_kmv_setops" -> Paired((s, dir) =>
      graft.ops.ScaleOps.kmvSetOps(Tables.load(s, dir, "orders"),
        "o_custkey",
        col("o_orderstatus") === "F", col("o_orderstatus") === "O",
        k = 64),
      // same md5→60-bit chain as q_kmv_distinct; tags replayed by UNION ALL
      """WITH m AS (
           SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
                    AS h,
                  bool_or(o_orderstatus = 'F') AS in_a,
                  bool_or(o_orderstatus = 'O') AS in_b
           FROM orders
           WHERE o_custkey IS NOT NULL AND o_orderstatus IN ('F','O')
           GROUP BY h),
         t AS (
           SELECT h, in_a, in_b, 'a' AS tag FROM m WHERE in_a
           UNION ALL SELECT h, in_a, in_b, 'b' FROM m WHERE in_b
           UNION ALL SELECT h, in_a, in_b, 'u' FROM m),
         r AS (SELECT *, row_number() OVER (PARTITION BY tag ORDER BY h)
                         AS rn FROM t),
         s AS (SELECT tag, count(*) AS n, max(h) AS hk,
                      CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                           AS BIGINT) AS nboth
               FROM r WHERE rn <= 64 GROUP BY tag),
         e AS (SELECT tag, n, nboth,
                      CASE WHEN n < 64 THEN n
                           ELSE CAST(floor(63.0 * 1152921504606846976.0 /
                                           CAST(hk AS DOUBLE)) AS BIGINT)
                      END AS est
               FROM s)
         SELECT MAX(CASE WHEN tag = 'a' THEN est END) AS est_a,
                MAX(CASE WHEN tag = 'b' THEN est END) AS est_b,
                MAX(CASE WHEN tag = 'u' THEN est END) AS est_union,
                MAX(CASE WHEN tag = 'u' THEN
                      CASE WHEN n < 64 THEN nboth
                           ELSE CAST(floor(CAST(nboth * est AS DOUBLE) / 64)
                                     AS BIGINT) END END) AS est_intersect
         FROM e"""),

    // ---- Histograms, profiles and checks ----

    // 20-bucket equi-width histogram of order totals — the value-
    // distribution profile behind range-partition boundary choices
    "q_numeric_hist" -> Paired((s, dir) =>
      graft.operators.Profiling.numericHistogram(
        Tables.load(s, dir, "orders"), "o_totalprice", nBuckets = 20)
        .orderBy("bucket"),
      // same clamped floor((v-lo)/((hi-lo)/20)) bucket expression
      // the v CTE casts to DOUBLE up front so every bucket operand is the
      // same IEEE double Spark's cast("double") sees — bit-identical floor
      // boundaries even if a future testdata generation stores
      // o_totalprice as DECIMAL (DuckDB would otherwise subtract exactly
      // in decimal before dividing, which can flip floor() at boundaries)
      """WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS p FROM orders
                    WHERE o_totalprice IS NOT NULL),
            b AS (SELECT MIN(p) AS lo, MAX(p) AS hi FROM v)
         SELECT CASE WHEN hi = lo THEN 0
                     ELSE least(19, CAST(floor((p - lo) /
                                               ((hi - lo) / 20)) AS INT))
                END AS bucket,
                count(*) AS n,
                ROUND(MIN(p), 4) AS bucket_min,
                ROUND(MAX(p), 4) AS bucket_max
         FROM v CROSS JOIN b
         GROUP BY bucket ORDER BY bucket"""),

    // equal-frequency histogram: order-value deciles per priority class
    // via ntile over a fully-tiebroken partitioned order — usable
    // range-partition boundaries where equi-width buckets would collapse
    "q_equidepth_hist" -> Paired((s, dir) =>
      graft.operators.Profiling.equiDepthHistogram(
        Tables.load(s, dir, "orders"),
        "o_orderpriority", "o_totalprice", "o_orderkey", nBuckets = 10)
        .orderBy("o_orderpriority", "bucket"),
      // ntile over the identical fully-tiebroken order — the SQL-standard
      // ceil(n/k)-first-buckets split is common to both engines
      """WITH v AS (SELECT o_orderpriority,
                           CAST(o_totalprice AS DOUBLE) AS p, o_orderkey
                    FROM orders WHERE o_totalprice IS NOT NULL)
         SELECT o_orderpriority, bucket, count(*) AS n,
                ROUND(MIN(p), 4) AS bucket_min,
                ROUND(MAX(p), 4) AS bucket_max
         FROM (SELECT o_orderpriority, p,
                      ntile(10) OVER (PARTITION BY o_orderpriority
                                      ORDER BY p, o_orderkey) AS bucket
               FROM v)
         GROUP BY o_orderpriority, bucket
         ORDER BY o_orderpriority, bucket"""),

    // column profiling (the reference's crawler-statistics step as an
    // engine op): one aggregate over the table → long-format stats
    "q_profile" -> Paired((s, dir) =>
      graft.ops.ScaleOps.profileColumns(
        Tables.load(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("column_name"),
      """SELECT * FROM (
           SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
                  count(o_orderkey) AS n_nonnull,
                  count(DISTINCT o_orderkey) AS n_distinct,
                  CAST(min(o_orderkey) AS VARCHAR) AS min_val,
                  CAST(max(o_orderkey) AS VARCHAR) AS max_val
           FROM orders
           UNION ALL
           SELECT 'o_custkey', count(*), count(o_custkey),
                  count(DISTINCT o_custkey),
                  CAST(min(o_custkey) AS VARCHAR),
                  CAST(max(o_custkey) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderstatus', count(*), count(o_orderstatus),
                  count(DISTINCT o_orderstatus),
                  CAST(min(o_orderstatus) AS VARCHAR),
                  CAST(max(o_orderstatus) AS VARCHAR)
           FROM orders
           UNION ALL
           SELECT 'o_orderpriority', count(*), count(o_orderpriority),
                  count(DISTINCT o_orderpriority),
                  CAST(min(o_orderpriority) AS VARCHAR),
                  CAST(max(o_orderpriority) AS VARCHAR)
           FROM orders)
         ORDER BY column_name"""),

    // one-pass whole-table profile (null rates + KMV distinct
    // estimates) over the stable-cast orders columns; md5 sketch, so
    // the estimates replay exactly in the oracle (and ARE exact for
    // the low-cardinality columns)
    "q_table_profile" -> Paired((s, dir) =>
      graft.operators.Profiling.tableProfile(
        Tables.load(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        k = 64)
        .orderBy("col_name"),
      // same md5→60-bit KMV chain as q_kmv_distinct, stacked per column
      """WITH s AS (
           SELECT 'o_orderkey' AS col_name,
                  CAST(o_orderkey AS VARCHAR) AS v FROM orders
           UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
           FROM orders
           UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
           UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
         b AS (SELECT col_name, count(*) AS n_rows,
                      count(CASE WHEN v IS NULL THEN 1 END) AS n_null
               FROM s GROUP BY col_name),
         h AS (SELECT DISTINCT col_name,
                      ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv
               FROM s WHERE v IS NOT NULL),
         r AS (SELECT col_name, hv,
                      row_number() OVER (PARTITION BY col_name ORDER BY hv)
                        AS rn
               FROM h),
         d AS (SELECT col_name,
                      CAST(CASE WHEN count(*) < 64 THEN count(*)
                           ELSE floor(63.0 * 1152921504606846976.0 /
                                      CAST(max(hv) AS DOUBLE))
                           END AS BIGINT) AS est_distinct
               FROM r WHERE rn <= 64 GROUP BY col_name)
         SELECT b.col_name AS col_name, b.n_rows AS n_rows,
                b.n_null AS n_null,
                ROUND(CAST(b.n_null AS DOUBLE) / b.n_rows, 6) AS null_rate,
                coalesce(d.est_distinct, 0) AS est_distinct
         FROM b LEFT JOIN d USING (col_name) ORDER BY col_name"""),

    // exact join-output cardinality without running the join — the
    // pre-flight explosion check (here: lineitem's l_partkey self-join,
    // the co-purchase pair-expansion cost); decimal products so hot
    // keys can't wrap a Long
    "q_join_cardinality" -> Paired((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      graft.operators.Profiling.joinCardinality(li, "l_partkey", li, "l_partkey")
    },
      // HUGEINT-exact frequency products cast to BIGINT, mirroring the
      // Spark side's decimal(38,0) products
      """WITH f AS (SELECT l_partkey AS k, count(*) AS fl
                    FROM lineitem GROUP BY l_partkey)
         SELECT count(*) AS n_matched_keys,
                CAST(SUM(fl * fl) AS BIGINT) AS join_rows,
                CAST(MAX(fl * fl) AS BIGINT) AS max_key_fanout
         FROM f"""),

    // revenue concentration (Pareto report): share of total revenue
    // held by the top 1% / 10% / 50% of customers — computed via exact
    // percentile THRESHOLDS + filtered sums, no global ranking window
    // anywhere (the windowless path to "top-x% share" at corpus scale);
    // exact decimal sums, one double division per segment
    "q_pareto" -> Paired((s, dir) => {
      val rev = Tables.load(s, dir, "orders").groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(20,4)")).as("rev_dec"))
        .withColumn("rev", col("rev_dec").cast("double"))
      val th = rev.agg(
        expr("percentile(rev, 0.99)").as("p99"),
        expr("percentile(rev, 0.90)").as("p90"),
        expr("percentile(rev, 0.50)").as("p50"),
        sum("rev_dec").as("total_dec"))
      rev.crossJoin(broadcast(th))
        .select(explode(array(
          struct(lit("top1").as("segment"), (col("rev") >= col("p99")).as("keep")),
          struct(lit("top10").as("segment"), (col("rev") >= col("p90")).as("keep")),
          struct(lit("top50").as("segment"), (col("rev") >= col("p50")).as("keep"))))
          .as("sg"), col("rev_dec"), col("total_dec"))
        .filter(col("sg.keep"))
        .groupBy(col("sg.segment").as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("rev_dec")).cast("double") /
            max(col("total_dec")).cast("double"), 6).as("revenue_share"))
        .orderBy("segment")
    },
      // same percentile thresholds + filtered decimal sums; >= boundary
      // on the identical doubles on both engines
      """WITH r AS (
           SELECT o_custkey,
                  SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS rev_dec,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE)
                    AS rev
           FROM orders GROUP BY o_custkey),
         t AS (SELECT quantile_cont(rev, 0.99) AS p99,
                      quantile_cont(rev, 0.90) AS p90,
                      quantile_cont(rev, 0.50) AS p50,
                      SUM(rev_dec) AS total_dec
               FROM r),
         seg AS (
           SELECT 'top1' AS segment, rev_dec, total_dec
           FROM r CROSS JOIN t WHERE rev >= p99
           UNION ALL
           SELECT 'top10', rev_dec, total_dec
           FROM r CROSS JOIN t WHERE rev >= p90
           UNION ALL
           SELECT 'top50', rev_dec, total_dec
           FROM r CROSS JOIN t WHERE rev >= p50)
         SELECT segment, count(*) AS n_customers,
                ROUND(CAST(SUM(rev_dec) AS DOUBLE)
                      / CAST(MAX(total_dec) AS DOUBLE), 6) AS revenue_share
         FROM seg GROUP BY segment ORDER BY segment"""),

    // declarative data-quality gate: completeness / uniqueness / bound /
    // domain / referential-integrity constraints in one scan of orders
    "q_dq_suite" -> Paired((s, dir) =>
      graft.operators.Profiling.dqSuite(
        Tables.load(s, dir, "orders"), Tables.load(s, dir, "customer"),
        keyCol = "o_orderkey", completenessCol = "o_custkey",
        boundCol = "o_totalprice", lowerBound = 0.0,
        domainCol = "o_orderstatus", domain = Seq("F", "P", "O"),
        fkCol = "o_custkey", dimKeyCol = "c_custkey")
        .orderBy("constraint"),
      // one scan of orders folds every constraint metric; the RI probe is
      // the same distinct-dim-keyset left join
      """WITH j AS (
           SELECT o.*, c.c_custkey AS dim_key
           FROM orders o
           LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
             ON o.o_custkey = c.c_custkey),
         m AS (
           SELECT count(*) AS n_rows,
             CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_complete,
             count(DISTINCT o_orderkey) AS n_distinct,
             min(CAST(o_totalprice AS DOUBLE)) AS min_bound,
             CAST(SUM(CASE WHEN o_orderstatus IN ('F','P','O')
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_in_domain,
             CAST(SUM(CASE WHEN dim_key IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_ri_ok
           FROM j)
         SELECT * FROM (
           SELECT 'row_count_nonempty' AS "constraint",
                  CAST(n_rows AS DOUBLE) AS metric, n_rows > 0 AS passed
           FROM m
           UNION ALL SELECT 'completeness_o_custkey',
             ROUND(CAST(n_complete AS DOUBLE) / n_rows, 6),
             n_complete = n_rows FROM m
           UNION ALL SELECT 'uniqueness_o_orderkey',
             ROUND(CAST(n_distinct AS DOUBLE) / n_rows, 6),
             n_distinct = n_rows FROM m
           UNION ALL SELECT 'min_bound_o_totalprice',
             ROUND(min_bound, 6), min_bound >= 0.0 FROM m
           UNION ALL SELECT 'domain_o_orderstatus',
             ROUND(CAST(n_in_domain AS DOUBLE) / n_rows, 6),
             n_in_domain = n_rows FROM m
           UNION ALL SELECT 'ri_o_custkey_c_custkey',
             ROUND(CAST(n_ri_ok AS DOUBLE) / n_rows, 6),
             n_ri_ok = n_rows FROM m)
         ORDER BY "constraint""""),
  )
}

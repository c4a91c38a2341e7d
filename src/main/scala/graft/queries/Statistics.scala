package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Stats

/** The statistics query family over the TPC-H and documents tables:
  * sampling (consistent, stratified, weighted), robust and distribution
  * statistics (robust means, Gini, median CI, Benford, skyline), models
  * and tests (OLS, correlation matrix, chi² independence, PSI, Neyman
  * allocation, price elasticity), customer analytics and feature
  * encodings (RFM, LTV, share of parent, target encoding, scaling,
  * WoE/IV) and privacy (k-anonymity, DP counts). Membership rule: a query
  * whose result is an estimate, a test statistic or a derived feature
  * rather than a plain aggregate; the events-table statistics live in
  * [[Events]]. */
object Statistics extends QueryFamily {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  protected val paired: Seq[(String, Paired)] = Seq(

    // ---- Sampling ----

    // deterministic consistent sample: 5 docs per language by smallest
    // row hash. The chosen rows are engine-specific (xxhash64), so the
    // oracle checks the invariant part — per-group sampled count =
    // min(5, group size); subset/determinism pinned in ScaleOpsSpec
    "q_consistent_sample" -> Paired((s, dir) =>
      graft.ops.ScaleOps.consistentSamplePerGroup(
        docs(s, dir), Seq("lang"), Seq("doc_id"), k = 5, seed = 11L)
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang"),
      """SELECT lang, LEAST(count(*), 5) AS n_sampled
         FROM documents GROUP BY lang ORDER BY lang"""),

    // deterministic per-stratum sampling (training-data rebalancing:
    // downsample over-represented languages) via the replayable Knuth-
    // hash threshold — exact counts cross-engine, so this gets a real
    // oracle; the engine-seeded sampleBy variant stays in the library
    // (ScaleOps.stratifiedSample), pinned by ScaleOpsSpec/PropertySpec.
    "q_stratified_sample" -> Paired((s, dir) =>
      graft.ops.ScaleOps.hashStratifiedSample(docs(s, dir), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25))
        .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang"),
      // same Knuth multiplicative hash + integer threshold, per stratum;
      // langs outside the fraction map drop (weight 0), mirroring sampleBy
      """SELECT lang, count(*) AS n_sampled
         FROM documents
         WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 <
               CAST(floor(CASE lang WHEN 'en' THEN 0.5
                                    WHEN 'de' THEN 1.0
                                    WHEN 'fr' THEN 0.25
                                    ELSE 0.0 END * 4294967296.0) AS BIGINT)
         GROUP BY lang ORDER BY lang"""),

    // Efraimidis–Spirakis weighted k-sample per language, weight =
    // n_chars (longer docs proportionally likelier) — exact-k weighted
    // sampling with a fully hash-replayable key
    "q_weighted_sample" -> Paired((s, dir) =>
      graft.ops.ScaleOps.weightedSamplePerGroup(
        docs(s, dir).select("doc_id", "lang", "n_chars"),
        Seq("lang"), "doc_id", "n_chars", k = 5, seed = 7L)
        .select("lang", "sample_rank", "doc_id", "n_chars")
        .orderBy("lang", "sample_rank"),
      // same md5(seed|id)→60-bit→u∈(0,1] chain, key = −ln(u)/w rounded to
      // 6 dp, id tiebreak, k smallest per group
      """WITH keyed AS (
           SELECT lang, doc_id, n_chars,
                  ROUND(-ln((('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                             + 1.0) / 1.152921504606846976e18)
                        / CAST(n_chars AS DOUBLE), 6) AS es_key
           FROM documents WHERE n_chars > 0),
         ranked AS (
           SELECT lang, doc_id, n_chars,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY es_key, doc_id) AS sample_rank
           FROM keyed)
         SELECT lang, sample_rank, doc_id, n_chars FROM ranked
         WHERE sample_rank <= 5 ORDER BY lang, sample_rank"""),

    // ---- Robust and distribution statistics ----

    // ——— closed-form statistics / experimentation family ———

    // robust location estimates: 10% two-sided trimmed and winsorized
    // means of the order totals per priority
    "q_robust_mean" -> Paired((s, dir) =>
      Stats.robustMeans(Tables.load(s, dir, "orders"), "o_orderpriority",
        "o_totalprice").orderBy("o_orderpriority"),
      // trimmed/winsorized replay on the same engine-compatible
      // interpolated percentiles; winsorized values rounded to 4 dp then
      // decimal-summed, matching the engine's order-free discipline
      """WITH th AS (
           SELECT o_orderpriority,
                  quantile_cont(o_totalprice, 0.1) AS lo,
                  quantile_cont(o_totalprice, 0.9) AS hi
           FROM orders GROUP BY o_orderpriority)
         SELECT o.o_orderpriority,
                CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN o.o_totalprice >= t.lo
                               AND o.o_totalprice <= t.hi
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                round(CAST(SUM(CASE WHEN o.o_totalprice >= t.lo
                                     AND o.o_totalprice <= t.hi
                               THEN CAST(o.o_totalprice AS DECIMAL(20,4))
                               END) AS DOUBLE)
                      / SUM(CASE WHEN o.o_totalprice >= t.lo
                                  AND o.o_totalprice <= t.hi
                                 THEN 1 ELSE 0 END), 6) AS trimmed_mean,
                round(CAST(SUM(CAST(round(least(greatest(o.o_totalprice, t.lo),
                                           t.hi), 4) AS DECIMAL(20,4)))
                           AS DOUBLE) / count(*), 6) AS winsorized_mean
         FROM orders o JOIN th t USING (o_orderpriority)
         GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"""),

    // Gini concentration of per-customer revenue within each market
    // segment — the inequality scalar next to q_pareto's top-share view
    "q_gini" -> Paired((s, dir) => {
      val rev = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      Stats.giniByGroup(
        rev.join(cust, rev("o_custkey") === cust("c_custkey"))
          .select(col("c_mktsegment"), col("o_custkey"), col("revenue")),
        "c_mktsegment", "o_custkey", "revenue")
        .orderBy("c_mktsegment")
    },
      // rank-weighted DECIMAL sums stay exact; only the final fixed
      // formula 2Σ(r·x)/(nΣx) − (n+1)/n runs in double
      """WITH rev AS (
           SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2)) AS x
           FROM orders GROUP BY o_custkey),
         ranked AS (
           SELECT c.c_mktsegment, r.o_custkey, r.x,
                  row_number() OVER (PARTITION BY c.c_mktsegment
                                     ORDER BY r.x ASC, r.o_custkey ASC) AS rk
           FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey)
         SELECT c_mktsegment, count(*) AS n,
                ROUND(CAST(SUM(x) AS DOUBLE), 2) AS total,
                ROUND(2.0 * CAST(SUM(x * rk) AS DOUBLE)
                      / (count(*) * CAST(SUM(x) AS DOUBLE))
                    - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini
         FROM ranked GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // median with a resampling CI — 20 DETERMINISTIC half-samples by
    // the md5 parity of (replicate, custkey), each half's exact median
    // in one pass of conditional percentiles, spread reported as the
    // half-sample standard error (rounded medians → exact moments)
    "q_median_ci" -> Paired((s, dir) => {
      val rev = Tables.load(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("rev"))
      // 4-dp round: midpoints of 2-dp values are exact at 3 dp, so no
      // boundary digit exists and interpolation ulp cannot flip it
      val halves = (0 until 20).map { b =>
        round(expr(
          s"""percentile(case when
              conv(substring(md5(concat('$b|', cast(o_custkey as string))), 1, 15), 16, 10) % 2 = 0
              then rev end, 0.5)"""), 4).cast("decimal(18,4)").as(s"m$b")
      }
      val aggCols = round(expr("percentile(rev, 0.5)"), 2).as("median") +:
        halves
      val ms = rev.agg(aggCols.head, aggCols.tail: _*)
      val cols = (0 until 20).map(b => col(s"m$b"))
      val k = lit(20.0)
      val mean = cols.reduce(_ + _).cast("double") / k
      // squares in DOUBLE over a fixed left-associated single-row
      // chain — deterministic on both engines (and DuckDB's int64
      // decimal(18) multiply would overflow on million-scale medians)
      val sumsq = cols.map(c => c.cast("double") * c.cast("double"))
        .reduce(_ + _)
      ms.select(col("median"),
        round(mean, 2).as("half_sample_mean"),
        round(sqrt(sumsq / k - mean * mean), 4).as("half_sample_se"))
    },
      // 20 deterministic half-samples via md5 parity; exact medians

      {
      val halves = (0 until 20).map { b =>
        s"""quantile_cont(CASE WHEN (('0x' || substr(md5('$b|' ||
            CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT) % 2 = 0
            THEN rev END, 0.5)"""
      }
      val mcols = (0 until 20).map(b =>
        s"CAST(ROUND(${halves(b)}, 4) AS DECIMAL(18,4)) AS m$b")
        .mkString(",\n                  ")
      val sumM = (0 until 20).map(b => s"m$b").mkString(" + ")
      val sumSq = (0 until 20)
        .map(b => s"CAST(m$b AS DOUBLE) * CAST(m$b AS DOUBLE)")
        .mkString(" + ")
      s"""WITH rev AS (
           SELECT o_custkey,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DOUBLE) AS rev
           FROM orders GROUP BY o_custkey),
         ms AS (
           SELECT ROUND(quantile_cont(rev, 0.5), 2) AS median,
                  $mcols
           FROM rev)
         SELECT median,
                ROUND(CAST($sumM AS DOUBLE) / 20.0, 2)
                  AS half_sample_mean,
                ROUND(sqrt(CAST($sumSq AS DOUBLE) / 20.0
                      - (CAST($sumM AS DOUBLE) / 20.0)
                      * (CAST($sumM AS DOUBLE) / 20.0)), 4)
                  AS half_sample_se
         FROM ms"""
    }),

    // Benford first-digit screen on order totals (digit extraction via
    // exact decimal render, not log10; expected masses fixed literals)
    "q_benford" -> Paired((s, dir) =>
      Stats.benford(Tables.load(s, dir, "orders"), "o_totalprice")
        .orderBy("digit"),
      // digit via exact DECIMAL(18,2) string render (both engines print
      // plain form); the nine Benford masses are fixed 6-dp literals
      """WITH digits AS (
           SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                         AS VARCHAR), 1, 1) AS digit,
                  count(*) AS n
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM digits),
         e(digit, expected) AS (VALUES
           ('1', CAST(0.30103  AS DOUBLE)), ('2', CAST(0.176091 AS DOUBLE)),
           ('3', CAST(0.124939 AS DOUBLE)), ('4', CAST(0.09691  AS DOUBLE)),
           ('5', CAST(0.079181 AS DOUBLE)), ('6', CAST(0.066947 AS DOUBLE)),
           ('7', CAST(0.057992 AS DOUBLE)), ('8', CAST(0.051153 AS DOUBLE)),
           ('9', CAST(0.045757 AS DOUBLE)))
         SELECT d.digit, d.n,
                ROUND(CAST(d.n AS DOUBLE) / t.n_total, 6) AS freq,
                e.expected,
                ROUND(ROUND(CAST(d.n AS DOUBLE) / t.n_total, 6)
                      - e.expected, 6) AS deviation
         FROM digits d CROSS JOIN tot t JOIN e ON e.digit = d.digit
         ORDER BY d.digit"""),

    // 2-D skyline (Pareto frontier): parts no other part beats on both
    // size and price; staircase from a 50-row per-size aggregate, no
    // all-pairs dominance join
    "q_skyline" -> Paired((s, dir) =>
      Stats.skyline2d(
        Tables.load(s, dir, "part").select("p_partkey", "p_size", "p_retailprice"),
        "p_size", "p_retailprice")
        .select(col("p_partkey"), col("p_size"),
          round(col("p_retailprice"), 2).as("p_retailprice"))
        .orderBy("p_size", "p_partkey"),
      // skyline by definition: NOT EXISTS a componentwise-dominating part
      """SELECT b.p_partkey, b.p_size,
                ROUND(b.p_retailprice, 2) AS p_retailprice
         FROM part b
         WHERE NOT EXISTS (
           SELECT 1 FROM part a
           WHERE a.p_size <= b.p_size
             AND a.p_retailprice <= b.p_retailprice
             AND (a.p_size < b.p_size OR a.p_retailprice < b.p_retailprice))
         ORDER BY b.p_size, b.p_partkey"""),

    // ---- Models and tests ----

    // per-returnflag OLS of extendedprice on quantity (+ r²): the
    // normal equations over ONE pass of exact decimal moments
    "q_ols" -> Paired((s, dir) =>
      Stats.olsByGroup(Tables.load(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag"),
      // normal equations over one-pass exact decimal moments; doubles
      // enter only in the final fixed formulas (mirrored operand order)
      """WITH m AS (
           SELECT l_returnflag, count(*) AS n,
             SUM(CAST(ROUND(CAST(l_quantity AS DOUBLE), 2)
                 AS DECIMAL(18,2))) AS sx,
             SUM(CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 2)
                 AS DECIMAL(18,2))) AS sy,
             SUM(CAST(CAST(ROUND(CAST(l_quantity AS DOUBLE), 2)
                   AS DECIMAL(18,2))
                 * CAST(ROUND(CAST(l_quantity AS DOUBLE), 2)
                   AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
             SUM(CAST(CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 2)
                   AS DECIMAL(18,2))
                 * CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 2)
                   AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
             SUM(CAST(CAST(ROUND(CAST(l_quantity AS DOUBLE), 2)
                   AS DECIMAL(18,2))
                 * CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 2)
                   AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope,
           ROUND((CAST(sy AS DOUBLE)
               - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS r2
         FROM m ORDER BY l_returnflag"""),

    // full Pearson pair matrix over the four lineitem measures in ONE
    // aggregate pass (6 pair rows unfold from the single moment row)
    "q_corr_matrix" -> Paired((s, dir) =>
      Stats.pearsonPairs(Tables.load(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("x_col", "y_col"),
      // all moments in ONE aggregate CTE; six pair rows replay the same
      // cov/√(varx·vary) formula (sqrt is IEEE-exact on both engines)
      """WITH src AS (
           SELECT CAST(ROUND(CAST(l_quantity AS DOUBLE), 2)
                  AS DECIMAL(18,2)) AS a,
                  CAST(ROUND(CAST(l_extendedprice AS DOUBLE), 2)
                  AS DECIMAL(18,2)) AS b,
                  CAST(ROUND(CAST(l_discount AS DOUBLE), 2)
                  AS DECIMAL(18,2)) AS c,
                  CAST(ROUND(CAST(l_tax AS DOUBLE), 2)
                  AS DECIMAL(18,2)) AS d
           FROM lineitem),
         m AS (
           SELECT count(*) AS n,
             SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc, SUM(d) AS sd,
             SUM(CAST(a * a AS DECIMAL(38,4))) AS saa,
             SUM(CAST(b * b AS DECIMAL(38,4))) AS sbb,
             SUM(CAST(c * c AS DECIMAL(38,4))) AS scc,
             SUM(CAST(d * d AS DECIMAL(38,4))) AS sdd,
             SUM(CAST(a * b AS DECIMAL(38,4))) AS sab,
             SUM(CAST(a * c AS DECIMAL(38,4))) AS sac,
             SUM(CAST(a * d AS DECIMAL(38,4))) AS sad,
             SUM(CAST(b * c AS DECIMAL(38,4))) AS sbc,
             SUM(CAST(b * d AS DECIMAL(38,4))) AS sbd,
             SUM(CAST(c * d AS DECIMAL(38,4))) AS scd
           FROM src)
         SELECT * FROM (
           SELECT 'l_quantity' AS x_col, 'l_extendedprice' AS y_col, n,
             ROUND((n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
               / sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6) AS corr
           FROM m
           UNION ALL
           SELECT 'l_quantity', 'l_discount', n,
             ROUND((n * CAST(sac AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sc AS DOUBLE))
               / sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (n * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))), 6)
           FROM m
           UNION ALL
           SELECT 'l_quantity', 'l_tax', n,
             ROUND((n * CAST(sad AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sd AS DOUBLE))
               / sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 6)
           FROM m
           UNION ALL
           SELECT 'l_extendedprice', 'l_discount', n,
             ROUND((n * CAST(sbc AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sc AS DOUBLE))
               / sqrt((n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                    * (n * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))), 6)
           FROM m
           UNION ALL
           SELECT 'l_extendedprice', 'l_tax', n,
             ROUND((n * CAST(sbd AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sd AS DOUBLE))
               / sqrt((n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))
                    * (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 6)
           FROM m
           UNION ALL
           SELECT 'l_discount', 'l_tax', n,
             ROUND((n * CAST(scd AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sd AS DOUBLE))
               / sqrt((n * CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                    * (n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 6)
           FROM m)
         ORDER BY x_col, y_col"""),

    // χ² independence of market segment × order priority over the
    // customer⋈orders fact — the r×c generalization of q_ab_test's 2×2;
    // empty cells folded in via Σ_all e = n (no grid materialization)
    "q_chi2_indep" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      Stats.chi2Independence(
        o.join(broadcast(c), o("o_custkey") === c("c_custkey")),
        "c_mktsegment", "o_orderpriority")
    },
      // observed-cells-only identity χ² = Σ_obs[(o−e)²/e − e] + n; terms
      // rounded at 6 dp and summed in exact decimal
      """WITH f AS (
           SELECT cu.c_mktsegment AS a, o.o_orderpriority AS b
           FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey),
         obs AS (SELECT a, b, count(*) AS o FROM f GROUP BY a, b),
         rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM obs GROUP BY a),
         ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM obs GROUP BY b),
         tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                        count(DISTINCT a) AS r, count(DISTINCT b) AS c
                 FROM obs),
         terms AS (
           SELECT tot.n, tot.r, tot.c,
                  CAST(ROUND((obs.o - CAST(rt.ra AS DOUBLE) * ct.cb / tot.n)
                           * (obs.o - CAST(rt.ra AS DOUBLE) * ct.cb / tot.n)
                           / (CAST(rt.ra AS DOUBLE) * ct.cb / tot.n)
                           - CAST(rt.ra AS DOUBLE) * ct.cb / tot.n, 6)
                       AS DECIMAL(18,6)) AS term
           FROM obs JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot)
         SELECT max(n) AS n, max(r) AS r, max(c) AS c,
                (max(r) - 1) * (max(c) - 1) AS dof,
                ROUND(CAST(SUM(term) AS DOUBLE) + max(n), 6) AS chi2
         FROM terms"""),

    // PSI drift of order totals, early era (< 1998) vs late era — the
    // model-input stability gate; per-bucket table + exact-decimal total
    "q_psi" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      Stats.psi(o.filter(col("o_orderdate") < lit("1998-01-01")),
          o.filter(col("o_orderdate") >= lit("1998-01-01")),
          "o_totalprice")
        .orderBy("bucket")
    },
      // shared pooled-bounds buckets, +1-per-occupied-bucket smoothing,
      // (p−q)·ln(p/q) terms rounded then decimal-summed
      """WITH allv AS (
           SELECT CAST(o_totalprice AS DOUBLE) AS v,
                  CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
                       THEN 1 ELSE 0 END AS is_ref
           FROM orders WHERE o_totalprice IS NOT NULL),
         bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM allv),
         bucketed AS (
           SELECT CASE WHEN b.hi = b.lo THEN 0
                       ELSE LEAST(9, CAST(FLOOR((v - b.lo)
                         / ((b.hi - b.lo) / 10)) AS INTEGER)) END AS bucket,
                  CAST(SUM(is_ref) AS BIGINT) AS n_ref,
                  CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
           FROM allv CROSS JOIN bounds b GROUP BY 1),
         totals AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
                           CAST(SUM(n_cur) AS BIGINT) AS t_cur,
                           count(*) AS nb
                    FROM bucketed),
         terms AS (
           SELECT bucket, n_ref, n_cur,
                  CAST(n_ref + 1 AS DOUBLE) / (t_ref + nb) AS p,
                  CAST(n_cur + 1 AS DOUBLE) / (t_cur + nb) AS q,
                  ROUND((CAST(n_ref + 1 AS DOUBLE) / (t_ref + nb)
                       - CAST(n_cur + 1 AS DOUBLE) / (t_cur + nb))
                      * ln((CAST(n_ref + 1 AS DOUBLE) / (t_ref + nb))
                         / (CAST(n_cur + 1 AS DOUBLE) / (t_cur + nb))), 6)
                    AS psi_term
           FROM bucketed CROSS JOIN totals),
         tot2 AS (SELECT ROUND(CAST(SUM(CAST(psi_term AS DECIMAL(18,6)))
                    AS DOUBLE), 6) AS psi_total FROM terms)
         SELECT bucket, n_ref, n_cur, ROUND(p, 6) AS p, ROUND(q, 6) AS q,
                psi_term, psi_total
         FROM terms CROSS JOIN tot2 ORDER BY bucket"""),

    // Neyman-optimal allocation of a 1000-row sample budget across
    // market segments (n_h ∝ N_h·σ_h from one exact-moment aggregate) —
    // the profiling step before hashStratifiedSample draws
    "q_neyman" -> Paired((s, dir) =>
      Stats.neymanAllocation(Tables.load(s, dir, "customer"),
        "c_mktsegment", "c_acctbal", totalN = 1000)
        .orderBy("c_mktsegment"),
      // Neyman allocation from one exact-moment aggregate; floor(x+0.5)
      // rounding so neither engine's round-half mode matters, and the
      // N_h*sd weights rounded to 10dp + decimal-summed so wtot (and
      // hence every allocation) is order-free cross-engine
      """WITH s AS (SELECT c_mktsegment, count(*) AS n_pop,
                  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS s1,
                  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))
                           * CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS s2
                FROM customer GROUP BY c_mktsegment),
         t AS (SELECT c_mktsegment, n_pop,
                 sqrt(greatest(0.0, s2 / n_pop - (s1 / n_pop) * (s1 / n_pop)))
                   AS sd
               FROM s),
         t2 AS (SELECT c_mktsegment, n_pop, sd,
                  CAST(round(n_pop * sd, 10) AS DECIMAL(28,10)) AS w
                FROM t),
         w AS (SELECT CAST(SUM(w) AS DOUBLE) AS wtot FROM t2)
         SELECT t2.c_mktsegment, t2.n_pop, ROUND(t2.sd, 6) AS sd,
                CAST(floor(CAST(1000 AS DOUBLE) * CAST(t2.w AS DOUBLE)
                           / w.wtot + 0.5) AS BIGINT) AS n_alloc
         FROM t2 CROSS JOIN w ORDER BY t2.c_mktsegment"""),

    // log-log price elasticity per return flag: OLS of ln(quantity) on
    // ln(unit price) — the econometrics readout on the star schema;
    // 6-dp lns into exact decimal moments (the zipf/heaps discipline)
    "q_price_elasticity" -> Paired((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      val x = round(log(round(col("l_extendedprice").cast("double") /
          col("l_quantity").cast("double"), 2)), 6).cast("decimal(18,6)")
      val y = round(log(col("l_quantity").cast("double")), 6)
        .cast("decimal(18,6)")
      val m = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * x).cast("decimal(38,12)")).as("sxx"),
        sum((y * y).cast("decimal(38,12)")).as("syy"),
        sum((x * y).cast("decimal(38,12)")).as("sxy"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double")
      val sy = col("sy").cast("double")
      val cov = n * col("sxy").cast("double") - sx * sy
      val vx = n * col("sxx").cast("double") - sx * sx
      val vy = n * col("syy").cast("double") - sy * sy
      m.select(col("l_returnflag"), col("n"),
        round(cov / vx, 4).as("elasticity"),
        round(cov * cov / (vx * vy), 4).as("r2"))
        .orderBy("l_returnflag")
    },
      // ln(unit price) rounded at 2 dp first (the exact ratio both
      // engines compute), then 6-dp lns into decimal moments
      """WITH src AS (
           SELECT l_returnflag,
                  CAST(ROUND(ln(ROUND(CAST(l_extendedprice AS DOUBLE)
                    / CAST(l_quantity AS DOUBLE), 2)), 6)
                    AS DECIMAL(18,6)) AS x,
                  CAST(ROUND(ln(CAST(l_quantity AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS y
           FROM lineitem
           WHERE l_quantity > 0 AND l_extendedprice > 0),
         m AS (
           SELECT l_returnflag, count(*) AS n,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
                  SUM(CAST(y * y AS DECIMAL(38,12))) AS syy,
                  SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy
           FROM src GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
             AS elasticity,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
             AS r2
         FROM m ORDER BY l_returnflag"""),

    // ---- Customer analytics and features ----

    // RFM customer scoring WITHOUT a global ranking window: quintile
    // cutoffs come from one exact-percentile aggregate broadcast back,
    // each score = 1 + Σ(x > cutoff) — the q_pareto threshold
    // discipline applied to the classic segmentation report
    "q_rfm" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val today = o.agg(to_date(max("o_orderdate")).as("today"))
      val rfm = o.crossJoin(broadcast(today))
        .groupBy("o_custkey")
        .agg(min(datediff(col("today"), to_date(col("o_orderdate"))))
          .as("recency"),
          count(lit(1)).as("frequency"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary"))
      def cuts(c: String) = Seq(0.2, 0.4, 0.6, 0.8).map(p =>
        expr(s"percentile(cast($c as double), $p)").as(s"${c}_q${(p * 100).toInt}"))
      val th = rfm.agg((cuts("recency") ++ cuts("frequency") ++
        cuts("monetary")).head,
        (cuts("recency") ++ cuts("frequency") ++ cuts("monetary")).tail: _*)
      def score(c: String, reversed: Boolean) = {
        val s0 = Seq(20, 40, 60, 80).map(q =>
          when(col(c).cast("double") > col(s"${c}_q$q"), 1).otherwise(0))
          .reduce(_ + _) + 1
        if (reversed) lit(6) - s0 else s0 // low recency = good
      }
      rfm.crossJoin(broadcast(th))
        .filter(col("o_custkey") % 50 === 0) // bounded output slice
        .select(col("o_custkey"), col("recency"), col("frequency"),
          round(col("monetary").cast("double"), 2).as("monetary"),
          score("recency", reversed = true).as("r_score"),
          score("frequency", reversed = false).as("f_score"),
          score("monetary", reversed = false).as("m_score"))
        .orderBy("o_custkey")
    },
      // quintile cutoffs from exact percentiles; score = 1 + Σ(x > cut)
      """WITH today AS (
           SELECT CAST(max(o_orderdate) AS DATE) AS today FROM orders),
         rfm AS (
           SELECT o_custkey,
                  min(datediff('day', CAST(o_orderdate AS DATE), t.today))
                    AS recency,
                  count(*) AS frequency,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
           FROM orders CROSS JOIN today t GROUP BY o_custkey),
         th AS (SELECT
             quantile_cont(CAST(recency AS DOUBLE), 0.2) AS r20,
             quantile_cont(CAST(recency AS DOUBLE), 0.4) AS r40,
             quantile_cont(CAST(recency AS DOUBLE), 0.6) AS r60,
             quantile_cont(CAST(recency AS DOUBLE), 0.8) AS r80,
             quantile_cont(CAST(frequency AS DOUBLE), 0.2) AS f20,
             quantile_cont(CAST(frequency AS DOUBLE), 0.4) AS f40,
             quantile_cont(CAST(frequency AS DOUBLE), 0.6) AS f60,
             quantile_cont(CAST(frequency AS DOUBLE), 0.8) AS f80,
             quantile_cont(CAST(monetary AS DOUBLE), 0.2) AS m20,
             quantile_cont(CAST(monetary AS DOUBLE), 0.4) AS m40,
             quantile_cont(CAST(monetary AS DOUBLE), 0.6) AS m60,
             quantile_cont(CAST(monetary AS DOUBLE), 0.8) AS m80
           FROM rfm)
         SELECT r.o_custkey, r.recency, r.frequency,
           ROUND(CAST(r.monetary AS DOUBLE), 2) AS monetary,
           6 - (1 + (CASE WHEN CAST(r.recency AS DOUBLE) > t.r20 THEN 1 ELSE 0 END)
                  + (CASE WHEN CAST(r.recency AS DOUBLE) > t.r40 THEN 1 ELSE 0 END)
                  + (CASE WHEN CAST(r.recency AS DOUBLE) > t.r60 THEN 1 ELSE 0 END)
                  + (CASE WHEN CAST(r.recency AS DOUBLE) > t.r80 THEN 1 ELSE 0 END))
             AS r_score,
           1 + (CASE WHEN CAST(r.frequency AS DOUBLE) > t.f20 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(r.frequency AS DOUBLE) > t.f40 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(r.frequency AS DOUBLE) > t.f60 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(r.frequency AS DOUBLE) > t.f80 THEN 1 ELSE 0 END)
             AS f_score,
           1 + (CASE WHEN CAST(r.monetary AS DOUBLE) > t.m20 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(r.monetary AS DOUBLE) > t.m40 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(r.monetary AS DOUBLE) > t.m60 THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(r.monetary AS DOUBLE) > t.m80 THEN 1 ELSE 0 END)
             AS m_score
         FROM rfm r CROSS JOIN th t
         WHERE r.o_custkey % 50 = 0 ORDER BY r.o_custkey"""),

    // cohort LTV curve: cumulative revenue per customer by order-age
    // year within each first-order-year cohort — the growth-finance
    // payback view; exact decimal sums, cohort-partitioned prefix
    "q_ltv_curve" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
          col("o_totalprice").cast("decimal(18,2)").as("rev"))
      val cohort = o.groupBy("o_custkey").agg(min("yr").as("cohort"))
      val byAge = o.join(cohort, Seq("o_custkey"))
        .groupBy(col("cohort"), (col("yr") - col("cohort")).as("age"))
        .agg(sum("rev").as("arev"))
      val size = cohort.groupBy("cohort").agg(count(lit(1)).as("n_customers"))
      val w = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byAge
        .withColumn("cum_rev", sum("arev").over(w))
        .join(broadcast(size), Seq("cohort"))
        .select(col("cohort"), col("age"), col("n_customers"),
          round(col("cum_rev").cast("double") / col("n_customers"), 2)
            .as("cum_ltv_per_customer"))
        .orderBy("cohort", "age")
    },
      // cohort-partitioned prefix of exact decimal sums
      """WITH o AS (
           SELECT o_custkey, year(o_orderdate) AS yr,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS rev
           FROM orders),
         ch AS (SELECT o_custkey, min(yr) AS cohort FROM o
                GROUP BY o_custkey),
         ba AS (SELECT c.cohort, o.yr - c.cohort AS age,
                       SUM(o.rev) AS arev
                FROM o JOIN ch c USING (o_custkey) GROUP BY 1, 2),
         sz AS (SELECT cohort, count(*) AS n_customers FROM ch
                GROUP BY cohort)
         SELECT ba.cohort, ba.age, sz.n_customers,
           ROUND(CAST(SUM(ba.arev) OVER (PARTITION BY ba.cohort
               ORDER BY ba.age ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS DOUBLE) / sz.n_customers, 2)
             AS cum_ltv_per_customer
         FROM ba JOIN sz USING (cohort)
         ORDER BY ba.cohort, ba.age"""),

    // share-of-parent rollup: nation revenue as a share of its region,
    // region as a share of the total — the hierarchical BI report;
    // exact decimal sums at every level, shares as rounded doubles
    "q_share_of_parent" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("rev"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nat = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val reg = Tables.load(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      val byNation = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name").agg(sum("rev").as("nrev"))
      val byRegion = byNation.groupBy("r_name")
        .agg(sum("nrev").as("rrev"))
      val total = byRegion.agg(sum("rrev").as("trev"))
      byNation.join(broadcast(byRegion), Seq("r_name"))
        .crossJoin(broadcast(total))
        .select(col("r_name"), col("n_name"),
          round(col("nrev").cast("double"), 2).as("revenue"),
          round(col("nrev").cast("double") / col("rrev").cast("double"), 6)
            .as("share_of_region"),
          round(col("rrev").cast("double") / col("trev").cast("double"), 6)
            .as("region_share_of_total"))
        .orderBy("r_name", "n_name")
    },
      // exact decimal sums at each rollup level; shares as doubles
      """WITH bn AS (
           SELECT r.r_name, n.n_name,
                  SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS nrev
           FROM orders o
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           GROUP BY r.r_name, n.n_name),
         br AS (SELECT r_name, SUM(nrev) AS rrev FROM bn GROUP BY r_name),
         t AS (SELECT SUM(rrev) AS trev FROM br)
         SELECT bn.r_name, bn.n_name,
                ROUND(CAST(bn.nrev AS DOUBLE), 2) AS revenue,
                ROUND(CAST(bn.nrev AS DOUBLE) / CAST(br.rrev AS DOUBLE), 6)
                  AS share_of_region,
                ROUND(CAST(br.rrev AS DOUBLE) / CAST(t.trev AS DOUBLE), 6)
                  AS region_share_of_total
         FROM bn JOIN br USING (r_name) CROSS JOIN t
         ORDER BY bn.r_name, bn.n_name"""),

    // ——— ML feature-engineering family ———

    // leave-one-out target encoding of market segment by order total —
    // the leakage-safe categorical encoder: each row's code excludes
    // its own target, (Σ_seg − x)/(n_seg − 1), all in exact decimal
    "q_target_encoding" -> Paired((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").as("y"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      val seg = joined.groupBy("c_mktsegment")
        .agg(sum("y").as("sy"), count(lit(1)).as("ny"))
      joined.join(broadcast(seg), Seq("c_mktsegment"))
        .filter(col("o_orderkey") % 100 === 0) // bounded output slice
        .select(col("o_orderkey"), col("c_mktsegment"),
          round(col("y").cast("double"), 2).as("y"),
          // divide in DOUBLE: decimal division scale/rounding rules are
          // engine-specific, double division is IEEE on both
          round((col("sy").cast("double") - col("y").cast("double")) /
            (col("ny") - 1), 4).as("loo_encoding"))
        .orderBy("o_orderkey")
    },
      // LOO in double: (Σ_seg − x)/(n_seg − 1); decimal only for the sums
      """WITH o AS (
           SELECT o_orderkey, o_custkey,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS y
           FROM orders),
         j AS (SELECT o.*, c.c_mktsegment
               FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
         seg AS (SELECT c_mktsegment, SUM(y) AS sy, count(*) AS ny
                 FROM j GROUP BY 1)
         SELECT j.o_orderkey, j.c_mktsegment,
                ROUND(CAST(j.y AS DOUBLE), 2) AS y,
                ROUND((CAST(s.sy AS DOUBLE) - CAST(j.y AS DOUBLE))
                      / (s.ny - 1), 4) AS loo_encoding
         FROM j JOIN seg s USING (c_mktsegment)
         WHERE j.o_orderkey % 100 = 0
         ORDER BY j.o_orderkey"""),

    // feature scaling (min-max + z-score) per group from ONE stats pass
    // attached by broadcast — the ML-preprocessing primitive; mean/sd
    // from exact decimal Σx/Σx², output bounded to a keyed slice
    "q_feature_scaling" -> Paired((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,2)").as("x"))
      val stats = li.groupBy("l_returnflag").agg(
        min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"),
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,4)")).as("sxx"))
      val mean = col("sx").cast("double") / col("n")
      val variance = col("sxx").cast("double") / col("n") - mean * mean
      li.join(broadcast(stats), Seq("l_returnflag"))
        .filter(col("l_orderkey") % 500 === 0) // bounded output slice
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          round(col("x").cast("double"), 2).as("x"),
          round((col("x").cast("double") - col("mn")) /
            (col("mx") - col("mn")), 6).as("minmax"),
          round((col("x").cast("double") - mean) / sqrt(variance), 4)
            .as("zscore"))
        // (orderkey, linenumber) is NOT unique in this synthetic data —
        // total tiebreak through flag and value
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "x")
    },
      // one stats pass per group; scaling replayed row-locally
      """WITH li AS (
           SELECT l_orderkey, l_linenumber, l_returnflag,
                  CAST(l_extendedprice AS DECIMAL(18,2)) AS x
           FROM lineitem),
         st AS (
           SELECT l_returnflag,
                  min(CAST(x AS DOUBLE)) AS mn,
                  max(CAST(x AS DOUBLE)) AS mx,
                  count(*) AS n, SUM(x) AS sx,
                  SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx
           FROM li GROUP BY 1)
         SELECT li.l_returnflag, li.l_orderkey, li.l_linenumber,
                ROUND(CAST(li.x AS DOUBLE), 2) AS x,
                ROUND((CAST(li.x AS DOUBLE) - st.mn) / (st.mx - st.mn), 6)
                  AS minmax,
                ROUND((CAST(li.x AS DOUBLE) - CAST(st.sx AS DOUBLE) / st.n)
                      / sqrt(CAST(st.sxx AS DOUBLE) / st.n
                             - (CAST(st.sx AS DOUBLE) / st.n)
                             * (CAST(st.sx AS DOUBLE) / st.n)), 4) AS zscore
         FROM li JOIN st USING (l_returnflag)
         WHERE li.l_orderkey % 500 = 0
         ORDER BY li.l_orderkey, li.l_linenumber, li.l_returnflag,
                  ROUND(CAST(li.x AS DOUBLE), 2)"""),

    // weight-of-evidence / information value of market segment vs the
    // has-urgent-order target — the credit-scoring feature screen;
    // +0.5 Laplace smoothing, ln rounded at 4 dp, IV terms rounded
    // then decimal-summed
    "q_woe_iv" -> Paired((s, dir) => {
      val tgt = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("y"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val bins = c.join(tgt, c("c_custkey") === tgt("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum("y").as("g"), sum(lit(1L) - col("y")).as("b"))
      val tot = bins.agg(sum("g").as("gt"), sum("b").as("bt"),
        count(lit(1)).as("k"))
      val pg = (col("g").cast("double") + 0.5) /
        (col("gt") + lit(0.5) * col("k"))
      val pb = (col("b").cast("double") + 0.5) /
        (col("bt") + lit(0.5) * col("k"))
      val woe = round(log(pg / pb), 4)
      val terms = bins.crossJoin(broadcast(tot))
        .withColumn("woe", woe)
        .withColumn("iv_term", round((pg - pb) * col("woe"), 6)
          .cast("decimal(18,6)"))
      val iv = terms.agg(
        round(sum("iv_term").cast("double"), 6).as("iv_total"))
      terms.crossJoin(broadcast(iv))
        .select(col("c_mktsegment"), col("g"), col("b"), col("woe"),
          col("iv_total"))
        .orderBy("c_mktsegment")
    },
      // +0.5 smoothing; 4-dp WoE; IV terms rounded then decimal-summed
      """WITH tgt AS (
           SELECT o_custkey,
                  max(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS y
           FROM orders GROUP BY 1),
         bins AS (
           SELECT c.c_mktsegment, CAST(SUM(y) AS BIGINT) AS g,
                  CAST(SUM(1 - y) AS BIGINT) AS b
           FROM customer c JOIN tgt t ON c.c_custkey = t.o_custkey
           GROUP BY 1),
         tot AS (SELECT CAST(SUM(g) AS BIGINT) AS gt,
                        CAST(SUM(b) AS BIGINT) AS bt, count(*) AS k
                 FROM bins),
         terms AS (
           SELECT bins.c_mktsegment, bins.g, bins.b,
                  ROUND(ln(((CAST(bins.g AS DOUBLE) + 0.5)
                            / (tot.gt + 0.5 * tot.k))
                         / ((CAST(bins.b AS DOUBLE) + 0.5)
                            / (tot.bt + 0.5 * tot.k))), 4) AS woe,
                  CAST(ROUND(((CAST(bins.g AS DOUBLE) + 0.5)
                              / (tot.gt + 0.5 * tot.k)
                            - (CAST(bins.b AS DOUBLE) + 0.5)
                              / (tot.bt + 0.5 * tot.k))
                           * ROUND(ln(((CAST(bins.g AS DOUBLE) + 0.5)
                                       / (tot.gt + 0.5 * tot.k))
                                    / ((CAST(bins.b AS DOUBLE) + 0.5)
                                       / (tot.bt + 0.5 * tot.k))), 4), 6)
                       AS DECIMAL(18,6)) AS iv_term
           FROM bins CROSS JOIN tot),
         iv AS (SELECT ROUND(CAST(SUM(iv_term) AS DOUBLE), 6) AS iv_total
                FROM terms)
         SELECT t.c_mktsegment, t.g, t.b, t.woe, iv.iv_total
         FROM terms t CROSS JOIN iv ORDER BY t.c_mktsegment"""),

    // ---- Privacy ----

    // k-anonymity audit over (lang, source) quasi-identifiers: the
    // privacy screen a training corpus runs before release — groups
    // smaller than k are re-identification risks
    "q_k_anonymity" -> Paired((s, dir) =>
      docs(s, dir).groupBy("lang", "source")
        .agg(count(lit(1)).as("n"))
        .withColumn("violates_k5", col("n") < 5)
        .orderBy("lang", "source"),
      // exact small-group counting; the flag is derived, not probabilistic
      """SELECT lang, source, count(*) AS n, count(*) < 5 AS violates_k5
         FROM documents GROUP BY lang, source ORDER BY lang, source"""),

    // Laplace-mechanism noisy counts over (lang, source) — the DP
    // release plumbing next to q_k_anonymity (hash-seeded u-draws make
    // the mechanism gate-replayable; production swaps in a CSPRNG)
    "q_dp_counts" -> Paired((s, dir) =>
      Stats.dpNoisyCounts(docs(s, dir), Seq("lang", "source"),
        epsilon = 1.0)
        .orderBy("lang", "source"),
      // same md5→60-bit uniform chain as q_weighted_sample; Laplace noise
      // as b·(ln u1 − ln u2), b = 1/ε = 1
      """WITH c AS (
           SELECT lang, source, count(*) AS n
           FROM documents GROUP BY 1, 2),
         u AS (
           SELECT lang, source, n,
                  ((('0x' || substr(md5('42|1|' || lang || '|' || source),
                      1, 15))::BIGINT + 1.0) / 1.152921504606846976e18)
                    AS u1,
                  ((('0x' || substr(md5('42|2|' || lang || '|' || source),
                      1, 15))::BIGINT + 1.0) / 1.152921504606846976e18)
                    AS u2
           FROM c)
         SELECT lang, source, n,
                ROUND(n + (ln(u1) - ln(u2)) / 1.0, 4) AS noisy_n
         FROM u ORDER BY lang, source"""),
  )
}

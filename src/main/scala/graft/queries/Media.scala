package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, Similarity, Stats}

/** The media query family: the `embeddings` queries (norms, near-dup
  * pairs, centroids, exact and ANN top-k, int8 quantization, nearest
  * neighbor matching, hard negatives, SemDeDup, class separation,
  * effective dimension, drift), the multimodal columns and real media
  * decoding (images, audio, GIFs, pHash), the training mixes and epochs,
  * and the two text-preparation queries (BPE tokens, PII redaction).
  * Membership rule: a query over vectors, binary media or training-data
  * preparation, other than the whitespace-tokenizer corpus queries of
  * [[Corpus]]. */
object Media extends QueryFamily {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Pixel `i` of order key `k`'s test image: its r, g, b channels. */
  private def testPixel(k: Long, i: Int): Seq[Int] =
    Seq(k, k / 3, k / 7).map(c => ((c + i) % 256).toInt)

  /** Order key `k`'s 2x2 test raster: pixel (x, y) as 0xRRGGBB. */
  private def testRaster(k: Long)(x: Int, y: Int): Int =
    testPixel(k, y * 2 + x).reduce((rgb, c) => (rgb << 8) | c)

  /** `luma`: the ITU-R 601 luma of `testPixel(o_orderkey, 0)`, in SQL. */
  private val pixel0LumaSql =
    """ROUND(0.299 * (o_orderkey % 256) +
                      0.587 * ((o_orderkey // 3) % 256) +
                      0.114 * ((o_orderkey // 7) % 256), 4) AS luma"""

  /** `v`: the embedding scaled to unit L2 norm. */
  private[queries] val unitVecSql =
    """list_transform(embedding::DOUBLE[],
                    x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                          y -> y * y)))) AS v"""

  /** `nv`: each embedding's id and `unitVecSql`. */
  private[queries] val nvCte =
    s"""nv AS (
           SELECT vec_id,
                  $unitVecSql
           FROM embeddings)"""

  /** `ranked` + the final select: each query's 5 highest-`cos`
    * neighbors in `scored`, ties broken on neighbor id. */
  private[queries] val top5CosineSql =
    """ranked AS (
           SELECT query_id, neighbor_id, cos,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, cos FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The 5 cosine-nearest neighbors of each vector with id < 16 among all
    * the other vectors. */
  private val topkCosineSql =
    s"""WITH $nvCte,
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ROUND(list_dot_product(q.v, c.v), 6) AS cos
           FROM nv q JOIN nv c ON q.vec_id < 16 AND q.vec_id <> c.vec_id),
         $top5CosineSql"""

  protected val paired: Seq[(String, Paired)] = Seq(

    // ---- Embeddings ----

    // per-label embedding-norm stats — the vector-column profile
    // (collapsed/exploded embedding detection): norms in sequential
    // double accumulation, rounded, then the decimal-sum mean pattern
    "q_embed_norms" -> Paired((s, dir) => {
      val n = emb(s, dir).select(col("label"),
        round(graft.functions.VectorFunctions.l2Norm(
          graft.functions.VectorFunctions.toDouble(col("embedding"))), 4)
          .as("norm"))
      n.groupBy("label").agg(
        count(lit(1)).as("n"),
        round(sum(col("norm").cast("decimal(20,4)")).cast("double") /
          count(lit(1)), 4).as("mean_norm"),
        min("norm").as("min_norm"),
        max("norm").as("max_norm"))
        .orderBy("label")
    },
      // same norm chain as the q_embed_topk oracle (sequential double
      // accumulation over the DOUBLE[] cast), then the decimal-sum mean
      """WITH n AS (
           SELECT label,
                  ROUND(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                     x -> x * x))), 4)
                    AS norm
           FROM embeddings)
         SELECT label, count(*) AS n,
                ROUND(CAST(SUM(CAST(norm AS DECIMAL(20,4))) AS DOUBLE)
                      / count(*), 4) AS mean_norm,
                MIN(norm) AS min_norm, MAX(norm) AS max_norm
         FROM n GROUP BY label ORDER BY label"""),

    // embedding-cosine near-dup, brute-force verify path (oracle-checked).
    // Op-level threshold sits below the final cut so the 4-decimal rounding
    // (applied in both engines) is the only boundary that matters. The
    // brute path is quadratic BY CONSTRUCTION (it is the exact
    // verification twin of the LSH sibling below), so the corpus is
    // explicitly bounded — vec_id < 500 — per this project's no-unbounded-
    // cartesian rule; the scale path is q_embed_neardup_lsh.
    "q_embed_neardup" -> Paired((s, dir) =>
      Dedup.embeddingNearDupPairs(
        emb(s, dir).filter(col("vec_id") < 500), "vec_id", "embedding",
        dim = 64, threshold = 0.35, lshBits = 0)
        .withColumn("cos", round(col("cos"), 4))
        .filter(col("cos") >= 0.4)
        .orderBy("a_id", "b_id"),
      s"""WITH nv AS (
           SELECT vec_id,
                  $unitVecSql
           FROM embeddings WHERE vec_id < 500)
         SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                ROUND(ROUND(list_dot_product(a.v, b.v), 6), 4) AS cos
         FROM nv a JOIN nv b ON a.vec_id < b.vec_id
         WHERE ROUND(ROUND(list_dot_product(a.v, b.v), 6), 4) >= 0.4
         ORDER BY a_id, b_id"""),

    // embedding-cosine near-dup, LSH-bucketed scale path. Deterministic
    // md5-Rademacher hyperplanes over integer-quantized raw vectors make
    // the CANDIDATE stage replayable bit-for-bit in DuckDB, so the row is
    // fully oracle-COMPARED even though LSH recall < 1 (the oracle replays
    // the same bucketing, not the brute-force definition). Verify chain is
    // q_embed_neardup's proven op-0.35 / round-4 / cut-0.4 rounding
    "q_embed_neardup_lsh" -> Paired((s, dir) =>
      Dedup.embeddingNearDupPairs(emb(s, dir), "vec_id", "embedding",
        dim = 64, threshold = 0.35, lshBits = 6, deterministic = true)
        .withColumn("cos", round(col("cos"), 4))
        .filter(col("cos") >= 0.4)
        .orderBy("a_id", "b_id"),
      // full replay of the deterministic LSH candidate stage (LshBitsDet):
      // Rademacher sign s(t,j,i) = bit 0 of the first hex digit of
      // md5('lsh:<1000+t>:<j>:<i>'); signature bit j of table t is the sign
      // of sum_i s*floor(raw_v_i*1e6) — exact integer arithmetic, so both
      // engines compute identical buckets; candidates share (table, bucket),
      // then the proven cosine verify chain (round 6 -> round 4 -> cut 0.4)
      s"""WITH q AS (
           SELECT vec_id,
                  [CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000)
                        AS BIGINT)
                   for i in range(1, len(embedding) + 1)] AS qv
           FROM embeddings),
         planes AS (
           SELECT t.t AS t, j.j AS j, i.i AS i,
                  CASE WHEN ((strpos('0123456789abcdef',
                               substr(md5('lsh:' || CAST(1000 + t.t AS VARCHAR)
                                          || ':' || CAST(j.j AS VARCHAR)
                                          || ':' || CAST(i.i AS VARCHAR)),
                                      1, 1)) - 1) & 1) = 1
                       THEN 1 ELSE -1 END AS s
           FROM range(0, 8) AS t(t), range(0, 6) AS j(j),
                range(0, 64) AS i(i)),
         proj AS (
           SELECT q.vec_id, p.t, p.j,
                  SUM(p.s * q.qv[CAST(p.i AS INT) + 1]) AS pr
           FROM q, planes p
           GROUP BY q.vec_id, p.t, p.j),
         sig AS (
           SELECT vec_id, t,
                  CAST(SUM(CASE WHEN pr >= 0
                                THEN (1::BIGINT << CAST(j AS INT))
                                ELSE 0 END) AS BIGINT) AS bucket
           FROM proj GROUP BY vec_id, t),
         cand AS (
           SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
           FROM sig a JOIN sig b
             ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         $nvCte
         SELECT c.a_id, c.b_id,
                ROUND(ROUND(list_dot_product(a.v, b.v), 6), 4) AS cos
         FROM cand c
         JOIN nv a ON a.vec_id = c.a_id
         JOIN nv b ON b.vec_id = c.b_id
         WHERE ROUND(ROUND(list_dot_product(a.v, b.v), 6), 4) >= 0.4
         ORDER BY a_id, b_id"""),

    // per-label centroid of the embedding column: posexplode → two hash
    // aggs (dim-wise mean, then norm) — linear, no vector ever collected
    // to the driver; the grouped-vector-aggregation staple for cluster
    // quality / drift monitoring
    "q_embed_centroids" -> Paired((s, dir) =>
      emb(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .groupBy("label", "pos")
        .agg(avg(col("col").cast("double")).as("m"), count(lit(1)).as("n"))
        .groupBy("label")
        .agg(round(sqrt(sum(col("m") * col("m"))), 6).as("centroid_norm"),
          max("n").as("n_vecs"))
        .orderBy("label"),
      """WITH d AS (
           SELECT label,
                  unnest([{'pos': i, 'v': CAST(embedding[i] AS DOUBLE)}
                          for i in range(1, len(embedding) + 1)]) AS u
           FROM embeddings),
         m AS (
           SELECT label, u.pos AS pos, AVG(u.v) AS m, count(*) AS n
           FROM d GROUP BY label, u.pos)
         SELECT label, ROUND(sqrt(SUM(m * m)), 6) AS centroid_norm,
                CAST(MAX(n) AS BIGINT) AS n_vecs
         FROM m GROUP BY label ORDER BY label"""),

    // brute-force exact top-k for a bounded query set (oracle-checked);
    // ranking on the rounded cosine with id tiebreak keeps cross-engine
    // float noise out of the rank.
    "q_embed_topk" -> Paired((s, dir) => {
      val e = emb(s, dir)
      val scored = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 16), e, "vec_id", "embedding", k = 5)
      scored.select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank")
    },
      topkCosineSql),

    // LSH-bucketed ANN in FULL-probe mode (probeBits = bits): every
    // 2^bits bucket is probed, so the bucketed plan provably equals
    // brute force and the row is oracle-COMPARED — the same
    // full-probe ≡ brute-force conversion as q_ann_index (production
    // probeBits < bits recall stays pinned by RecallSpec).
    "q_embed_ann_lsh" -> Paired((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e.filter(col("vec_id") < 16), e, "vec_id", "embedding",
        k = 5, dim = 64, bits = 8, probeBits = 8)
        .orderBy("query_id", "rank")
    },
      // full-probe LSH ≡ brute force (every bucket probed, each corpus row
      // in exactly one bucket) — identical oracle to q_embed_topk
      topkCosineSql),

    // IVF ANN in FULL-probe mode (nProbe = nCells): every Voronoi cell
    // is probed, so the celled plan provably equals brute force and the
    // row is oracle-COMPARED regardless of the k-means seeding
    // (production nProbe < nCells recall stays pinned by RecallSpec).
    "q_embed_ann_ivf" -> Paired((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e.filter(col("vec_id") < 16), e, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 16)
        .orderBy("query_id", "rank")
    },
      // full-probe IVF ≡ brute force (every cell probed; the seeded
      // quantizer only partitions work) — identical oracle to q_embed_topk
      topkCosineSql),

    // int8 scalar quantization profile: per-vector scale + EXACT integer
    // code mass + reconstruction error of the round trip — the audit you
    // run before switching an embedding store to int8
    "q_int8_quant" -> Paired((s, dir) => {
      import graft.functions.VectorFunctions._
      val e = emb(s, dir)
      // internal name "sc" ≠ output alias "scale": Spark 4's lateral
      // column alias resolution would otherwise bind the err
      // expression's scale reference to the ROUNDED output column
      val d = e.select(col("vec_id"), toDouble(col("embedding")).as("v"))
        .withColumn("sc", int8Scale(col("v")))
        .withColumn("q", int8Codes(col("v")))
      val err = zip_with(col("v"), col("q"),
        (x, qi) => x - dequant(qi, col("sc")))
      d.select(col("vec_id"), round(col("sc"), 6).as("scale"),
          aggregate(col("q"), lit(0L), (acc, qi) => acc + abs(qi)).as("code_l1"),
          round(dot(err, err) / size(col("q")), 10).as("mse"))
        .orderBy("vec_id")
    },
      // replay of the exact quantization arithmetic: scale = max |x|,
      // q = floor(x·127/scale + 0.5) clamped (the engine-neutral rounding
      // form), reconstruction error in the same sequential double chain
      """WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id, v,
                      list_max(list_transform(v, x -> abs(x))) AS scale
               FROM d),
         c AS (SELECT vec_id, v, scale,
                      list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                        ELSE CAST(greatest(-127, least(127,
                               floor(x * 127.0 / scale + 0.5))) AS INT)
                        END) AS qc
               FROM q)
         SELECT vec_id, ROUND(scale, 6) AS scale,
                CAST(list_sum(list_transform(qc,
                       x -> abs(CAST(x AS BIGINT)))) AS BIGINT) AS code_l1,
                ROUND(list_sum(list_transform(range(len(v)), i ->
                        (v[i + 1] - qc[i + 1] * scale / 127.0) *
                        (v[i + 1] - qc[i + 1] * scale / 127.0)))
                      / len(v), 10) AS mse
         FROM c ORDER BY vec_id"""),

    // ANN under fixed-scale int8 quantization of unit vectors: integer
    // dot-product ranking (4× scan bandwidth cut) — exact arithmetic,
    // so unlike LSH/IVF this approximate path has a full oracle
    "q_int8_ann" -> Paired((s, dir) => {
      val e = emb(s, dir)
      Similarity.int8TopK(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
      // integer dot products of fixed-scale int8 codes — exact arithmetic
      // end to end (|q·c| ≤ 64·127² ≪ 2^53), ties broken on neighbor id
      s"""WITH $nvCte,
         c AS (SELECT vec_id,
                      list_transform(v, x -> CAST(greatest(-127, least(127,
                        floor(x * 127.0 + 0.5))) AS DOUBLE)) AS q
               FROM nv),
         scored AS (
           SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                  CAST(list_dot_product(qq.q, cc.q) AS BIGINT) AS dot_q
           FROM c qq JOIN c cc
             ON qq.vec_id < 16 AND qq.vec_id <> cc.vec_id),
         ranked AS (
           SELECT query_id, neighbor_id, dot_q,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot_q DESC, neighbor_id) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, dot_q FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""),

    // design-based causal estimate: 1:1 nearest-neighbor matching on
    // price within returnflag strata, matched-pairs ATT of quantity
    "q_nn_match" -> Paired((s, dir) =>
      Stats.nnMatchATT(
        Tables.load(s, dir, "lineitem")
          .withColumn("li_id", col("l_orderkey") * 10 + col("l_linenumber")),
        "li_id", Seq("l_returnflag"), "l_extendedprice", "l_quantity",
        treated = col("l_orderkey") % 2 === 0)
        .orderBy("l_returnflag"),
      // Pearson over doubled average ranks (exact integers); same moment
      // formula as q_acf
      // matching replay: identical window mechanics (stratum-partitioned
      // covariate sort, IGNORE NULLS carries, same tie rules)
      """WITH base AS (
           SELECT l_returnflag AS st,
                  l_orderkey * 10 + l_linenumber AS id,
                  CAST(l_extendedprice AS DOUBLE) AS cov,
                  CAST(l_quantity AS DECIMAL(20,4)) AS y,
                  CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END AS side
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
         car AS (
           SELECT st, cov, y, side,
                  last_value(CASE WHEN side = 0 THEN cov END IGNORE NULLS)
                    OVER w1 AS pc,
                  last_value(CASE WHEN side = 0 THEN y END IGNORE NULLS)
                    OVER w1 AS py,
                  first_value(CASE WHEN side = 0 THEN cov END IGNORE NULLS)
                    OVER w2 AS nc,
                  first_value(CASE WHEN side = 0 THEN y END IGNORE NULLS)
                    OVER w2 AS ny
           FROM base
           WINDOW
             w1 AS (PARTITION BY st ORDER BY cov ASC, side ASC, id DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY st ORDER BY cov ASC, side ASC, id DESC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         m AS (
           SELECT st, y,
                  CASE WHEN pc IS NOT NULL
                        AND (nc IS NULL OR cov - pc <= nc - cov) THEN py
                       WHEN nc IS NOT NULL THEN ny END AS my
           FROM car WHERE side = 1)
         SELECT st AS l_returnflag,
                CAST(count(*) AS BIGINT) AS n_treated,
                CAST(SUM(CASE WHEN my IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_matched,
                round(CAST(SUM(CASE WHEN my IS NOT NULL THEN y - my END)
                           AS DOUBLE)
                      / SUM(CASE WHEN my IS NOT NULL THEN 1 ELSE 0 END), 6)
                  AS att
         FROM m GROUP BY st ORDER BY st"""),

    // hard-negative mining: per probe item, the 5 most-similar items of a
    // DIFFERENT label — contrastive-training negatives, exact brute pass
    // over the bounded probe set (scale path: lshTopK + label filter)
    "q_hard_negatives" -> Paired((s, dir) => {
      val e = emb(s, dir)
      Similarity.hardNegatives(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", "label", k = 5)
        .select("query_id", "rank", "neighbor_id", "cos")
        .orderBy("query_id", "rank")
    },
      s"""WITH nv AS (
           SELECT vec_id, label,
                  $unitVecSql
           FROM embeddings),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ROUND(list_dot_product(q.v, c.v), 6) AS cos
           FROM nv q JOIN nv c ON q.vec_id < 16 AND q.label <> c.label),
         $top5CosineSql"""),

    // SemDeDup (cluster-then-dedup semantic dedup): k-means cells, then
    // keep-min-id within each cell at cosine >= 0.4. k-means isn't
    // SQL-replayable -> rows-only here; the cell-local rule is pinned
    // exactly by SimilaritySpec's independent replay
    // SemDeDup in EXACT mode (nCells = 1): the per-cell pairwise pass
    // degenerates to the full all-pairs comparison, so the keep-min-id
    // survivor rule is provably independent of the k-means seeding and
    // the row is oracle-COMPARED (the same full-probe ≡ exact
    // conversion as the ANN rows; multi-cell recall stays pinned by
    // RecallSpec).
    "q_semdedup" -> Paired((s, dir) =>
      Similarity.semDedup(emb(s, dir), "vec_id", "embedding",
        threshold = 0.4, nCells = 1)
        .orderBy("id"),
      // exact-mode SemDeDup (nCells = 1 → all-pairs): a row is dropped
      // iff some LOWER-id row reaches the rounded-cosine threshold
      s"""WITH $nvCte,
         dropped AS (
           SELECT DISTINCT b.vec_id AS id
           FROM nv a JOIN nv b ON a.vec_id < b.vec_id
           WHERE ROUND(list_dot_product(a.v, b.v), 6) >= 0.4)
         SELECT n.vec_id AS id, CAST(0 AS INTEGER) AS cell,
                (d.id IS NULL) AS kept
         FROM nv n LEFT JOIN dropped d ON n.vec_id = d.id
         ORDER BY id"""),

    // Fisher-style class-separation profile of the labeled embeddings:
    // intra = mean distance to the OWN-label centroid, inter = distance
    // of that centroid to the GLOBAL centroid (between-class scatter) —
    // deliberately centroid-vs-global rather than centroid-pairs, so
    // every join is an equi-join on (label, pos)/(pos) and nothing
    // cross-products, at any number of classes. The embedding-quality
    // gate before training a classifier head on the corpus.
    "q_class_separation" -> Paired((s, dir) => {
      val d = emb(s, dir)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos"),
          col("col").cast("double").as("v"))
      val cl = d.groupBy("label", "pos").agg(avg("v").as("m"))
      val cg = d.groupBy("pos").agg(avg("v").as("g"))
      val dist = d.join(broadcast(cl), Seq("label", "pos"))
        .withColumn("sq", (col("v") - col("m")) * (col("v") - col("m")))
        .groupBy("vec_id", "label")
        .agg(round(sqrt(sum("sq")), 4).cast("decimal(18,4)").as("dist"))
      val intra = dist.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(sum("dist").cast("double") / count(lit(1)), 4).as("intra"))
      val inter = cl.join(broadcast(cg), Seq("pos"))
        .withColumn("sq", (col("m") - col("g")) * (col("m") - col("g")))
        .groupBy("label").agg(round(sqrt(sum("sq")), 4).as("inter"))
      intra.join(inter, Seq("label"))
        .withColumn("separation", round(col("inter") / col("intra"), 4))
        .orderBy("label")
    },
      // same per-dim unnest as q_embed_centroids; per-vector distances
      // rounded then decimal-summed, centroid-vs-global equi-join shape
      """WITH d AS (
           SELECT vec_id, label, u.pos AS pos, u.v AS v
           FROM (SELECT vec_id, label,
                   unnest([{'pos': i, 'v': CAST(embedding[i] AS DOUBLE)}
                           for i in range(1, len(embedding) + 1)]) AS u
                 FROM embeddings)),
         cl AS (SELECT label, pos, AVG(v) AS m FROM d GROUP BY label, pos),
         cg AS (SELECT pos, AVG(v) AS g FROM d GROUP BY pos),
         dist AS (
           SELECT d.vec_id, d.label,
                  CAST(ROUND(sqrt(SUM((d.v - c.m) * (d.v - c.m))), 4)
                       AS DECIMAL(18,4)) AS dist
           FROM d JOIN cl c ON c.label = d.label AND c.pos = d.pos
           GROUP BY d.vec_id, d.label),
         w AS (SELECT label, count(*) AS n_vecs,
                      ROUND(CAST(SUM(dist) AS DOUBLE) / count(*), 4)
                        AS intra
               FROM dist GROUP BY label),
         btw AS (
           SELECT c.label,
                  ROUND(sqrt(SUM((c.m - g.g) * (c.m - g.g))), 4) AS inter
           FROM cl c JOIN cg g USING (pos) GROUP BY c.label)
         SELECT w.label, w.n_vecs, w.intra, b.inter,
                ROUND(b.inter / w.intra, 4) AS separation
         FROM w JOIN btw b ON b.label = w.label ORDER BY w.label"""),

    // effective dimensionality of the embedding space: participation
    // ratio PR = (Σ var_d)² / Σ var_d² over per-dimension variances —
    // the eigen-free collapse detector (PR ≈ d for isotropic vectors,
    // PR ≪ d when the space has collapsed onto a few directions).
    // One unnest + one per-dim agg + one single-row fold; per-dim
    // variances rounded at 6 dp before the decimal fold so the final
    // ratio is order-free on both engines
    "q_effective_dim" -> Paired((s, dir) => {
      val d = emb(s, dir)
        .select(posexplode(col("embedding")))
        .select(col("pos"), col("col").cast("double").as("v"))
      val perDim = d.groupBy("pos")
        .agg(count(lit(1)).as("n"), avg("v").as("m"),
          avg(col("v") * col("v")).as("m2"))
        .select(col("pos"),
          round(col("m2") - col("m") * col("m"), 6)
            .cast("decimal(18,6)").as("variance"))
      perDim.agg(
        count(lit(1)).as("n_dims"),
        round(sum("variance").cast("double"), 6).as("total_variance"),
        round(
          (sum("variance").cast("double") * sum("variance").cast("double")) /
            sum((col("variance") * col("variance")).cast("decimal(38,12)"))
              .cast("double"), 4).as("participation_ratio"))
    },
      // per-dim variances rounded then decimal-folded; PR = (Σv)²/Σv²
      """WITH d AS (
           SELECT u.pos AS pos, u.v AS v
           FROM (SELECT unnest([{'pos': i, 'v': CAST(embedding[i] AS DOUBLE)}
                                for i in range(1, len(embedding) + 1)]) AS u
                 FROM embeddings)),
         pd AS (
           SELECT pos,
                  CAST(ROUND(AVG(v * v) - AVG(v) * AVG(v), 6)
                       AS DECIMAL(18,6)) AS variance
           FROM d GROUP BY pos)
         SELECT count(*) AS n_dims,
                ROUND(CAST(SUM(variance) AS DOUBLE), 6) AS total_variance,
                ROUND(CAST(SUM(variance) AS DOUBLE)
                      * CAST(SUM(variance) AS DOUBLE)
                      / CAST(SUM(CAST(variance * variance
                                      AS DECIMAL(38,12))) AS DOUBLE), 4)
                  AS participation_ratio
         FROM pd"""),

    // per-dimension embedding drift between two corpus eras (vec_id
    // parity as the deterministic era split): |Δmean| / pooled sd per
    // dim, top-10 drifted dims — the vector-space PSI analog that
    // catches an upstream encoder change before it poisons retrieval
    "q_embed_drift" -> Paired((s, dir) => {
      val d = emb(s, dir)
        .select(pmod(col("vec_id"), lit(2)).as("era"),
          posexplode(col("embedding")))
        .select(col("era"), col("pos"), col("col").cast("double").as("v"))
      val stats = d.groupBy("pos")
        .agg(
          avg(when(col("era") === 0, col("v"))).as("m0"),
          avg(when(col("era") === 1, col("v"))).as("m1"),
          avg(col("v") * col("v")).as("m2"),
          avg("v").as("m"))
      stats
        .withColumn("pooled_sd", sqrt(col("m2") - col("m") * col("m")))
        .withColumn("drift_z",
          round(abs(col("m1") - col("m0")) / col("pooled_sd"), 4))
        .select(col("pos"), round(col("m0"), 4).as("mean_a"),
          round(col("m1"), 4).as("mean_b"), col("drift_z"))
        .orderBy(col("drift_z").desc, col("pos"))
        .limit(10)
    },
      // vec_id parity era split; |Δmean|/pooled sd, rank on rounded z
      """WITH d AS (
           SELECT vec_id % 2 AS era, u.pos AS pos, u.v AS v
           FROM (SELECT vec_id,
                   unnest([{'pos': i - 1, 'v': CAST(embedding[i] AS DOUBLE)}
                           for i in range(1, len(embedding) + 1)]) AS u
                 FROM embeddings)),
         st AS (
           SELECT pos,
                  AVG(CASE WHEN era = 0 THEN v END) AS m0,
                  AVG(CASE WHEN era = 1 THEN v END) AS m1,
                  AVG(v * v) AS m2, AVG(v) AS m
           FROM d GROUP BY pos)
         SELECT pos, ROUND(m0, 4) AS mean_a, ROUND(m1, 4) AS mean_b,
                ROUND(abs(m1 - m0) / sqrt(m2 - m * m), 4) AS drift_z
         FROM st ORDER BY drift_z DESC, pos LIMIT 10"""),

    // ---- Multimodal columns and media decoding ----

    "q_multimodal_meta" -> Paired((s, dir) =>
      Multimodal.withMediaMeta(
        docs(s, dir).withColumn("payload", col("text").cast("binary")), "payload")
        .select(col("doc_id"), col("n_bytes"), col("content_md5"))
        .orderBy("doc_id"),
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS content_md5
         FROM documents ORDER BY doc_id"""),

    // decode/feature-extract over binary payloads (stubbed codec). The
    // stub's arithmetic (c = c*31 + byte mod 2^64, dims from the
    // checksum) is deterministic byte math, so it IS oracle-checkable:
    // the DuckDB twin replays it with HUGEINT mod-2^64 list_reduce over
    // a 64-byte payload bound (texts are ASCII → byte = code point)
    "q_multimodal_decode" -> Paired((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "video").otherwise("image").as("kind"),
        substring(col("text"), 1, 64).cast("binary").as("payload"))
        .as[Multimodal.MediaRow]
      Multimodal.resized(Multimodal.decodeAndFeaturize(media), 256)
        .select("media_id", "kind", "width", "height", "n_bytes", "checksum",
          "out_width", "out_height")
        .orderBy("media_id")
    },
      // replays the stub codec byte-exactly: c = c*31 + byte with 64-bit
      // wraparound via HUGEINT mod 2^64 (texts are ASCII, so ascii(char)
      // = byte); |trunc(c/7)| computed as abs(c) // 7
      """WITH m AS (
           SELECT doc_id AS media_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'video' ELSE 'image' END AS kind,
                  left(text, 64) AS p
           FROM documents),
         c AS (
           SELECT media_id, kind, len(p) AS n_raw,
                  list_reduce(
                    list_prepend(CAST(0 AS HUGEINT),
                      list_transform(range(1, len(p) + 1),
                                     i -> CAST(ascii(p[i]) AS HUGEINT))),
                    (acc, b) -> (acc * 31 + b) %
                                18446744073709551616::HUGEINT) AS m64
           FROM m),
         s AS (
           SELECT media_id, kind, n_raw,
                  CAST(CASE WHEN m64 >= 9223372036854775808::HUGEINT
                            THEN m64 - 18446744073709551616::HUGEINT
                            ELSE m64 END AS BIGINT) AS checksum
           FROM c),
         d AS (
           SELECT media_id, kind,
                  CAST(16 + abs(checksum) % 1024 AS INT) AS width,
                  CAST(16 + (abs(checksum) // 7) % 1024 AS INT) AS height,
                  CAST(n_raw AS BIGINT) AS n_bytes, checksum
           FROM s),
         r AS (
           SELECT *, least(1.0, 256.0 / greatest(width, height)) AS scale
           FROM d)
         SELECT media_id, kind, width, height, n_bytes, checksum,
                CAST(floor(width * scale) AS INT) AS out_width,
                CAST(floor(height * scale) AS INT) AS out_height
         FROM r ORDER BY media_id"""),

    "q_frame_sample" -> Paired((s, dir) =>
      Multimodal.sampleFrames(
        docs(s, dir).select(
          col("doc_id").as("media_id"),
          when(col("doc_id") % 3 === 0, "video").otherwise("image").as("kind"),
          repeat(col("text"), 50).cast("binary").as("payload")),
        stride = 2)
        .orderBy("media_id", "frame_idx"),
      """SELECT doc_id AS media_id,
                unnest(range(0, greatest(1,
                  octet_length(encode(repeat(text, 50))) // 4096), 2))
                  AS frame_idx
         FROM documents WHERE doc_id % 3 = 0
         ORDER BY media_id, frame_idx"""),

    // REAL media decode (not the stub): per order key, a deterministic
    // 1x1 P6 PPM is byte-built and decoded by the pure-JVM codec; the
    // oracle replays the ITU-R 601 luma arithmetic directly
    "q_media_decode" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 1000).as[Long].map { k =>
          graft.operators.Multimodal.MediaRow(k, "image",
            "P6\n1 1\n255\n".getBytes("US-ASCII") ++
              testPixel(k, 0).map(_.toByte))
        }
      graft.operators.Multimodal.decodeReal(rows).toDF()
        .select(col("media_id").as("o_orderkey"), col("decoded"),
          round(col("mean_level"), 4).as("luma"))
        .orderBy("o_orderkey")
    },
      s"""SELECT o_orderkey, true AS decoded,
                $pixel0LumaSql
         FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey"""),

    // REAL pixel resample: per order key a 2x2 P6 with four DISTINCT
    // pixels is built, nearest-neighbor-resized to 1x1 (which must pick
    // the top-left source pixel: src = floor(dst*2/1) = 0), and the
    // resized PPM re-decoded — the oracle replays the top-left pixel's
    // luma, so selecting any other pixel (or emitting a malformed PPM)
    // fails the hash
    "q_media_resize" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 1000).as[Long].map { k =>
          graft.operators.Multimodal.MediaRow(k, "image",
            "P6\n2 2\n255\n".getBytes("US-ASCII") ++
              (0 until 4).flatMap(testPixel(k, _)).map(_.toByte))
        }
      val resized = graft.operators.Multimodal.resizeReal(rows, 1, 1)
        .map(r => graft.operators.Multimodal.MediaRow(r.media_id, "image",
          r.payload))
      graft.operators.Multimodal.decodeReal(resized).toDF()
        .select(col("media_id").as("o_orderkey"), col("width"), col("height"),
          round(col("mean_level"), 4).as("luma"))
        .orderBy("o_orderkey")
    },
      // nearest-neighbor 2x2 -> 1x1 must keep exactly the top-left pixel,
      // whose channels replay as pure arithmetic on the order key
      s"""SELECT o_orderkey, CAST(1 AS INT) AS width, CAST(1 AS INT) AS height,
                $pixel0LumaSql
         FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey"""),

    // REAL compressed-image decode via pure-JDK javax.imageio: per order
    // key a deterministic 2x2 raster is encoded by the JDK's own writer
    // — PNG for even keys, JPEG for odd — then decoded back through
    // Codecs.decodeImage. PNG is lossless, so its ITU-R 601 mean luma
    // replays as exact arithmetic on the key in DuckDB (same sequential
    // row-major accumulation both sides); JPEG is DCT-lossy
    // (deterministic per JDK but not arithmetic-replayable), so the
    // oracle pins its format/dims/channels and leaves luma NULL
    "q_image_decode" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 600).as[Long].map { k =>
          val fmt = if (k % 2 == 0) "png" else "jpeg"
          val payload = graft.operators.Codecs.encodeImage(fmt, 2, 2, testRaster(k))
          graft.operators.Multimodal.MediaRow(k, "image", payload)
        }
      graft.operators.Multimodal.decodeReal(rows).toDF()
        .select(col("media_id").as("o_orderkey"), col("format"),
          col("width"), col("height"), col("channels"),
          when(col("format") === "png", round(col("mean_level"), 4)).as("luma"))
        .orderBy("o_orderkey")
    },
      // PNG (lossless): the 2x2 raster's mean luma replays pixel-by-pixel
      // in the same left-to-right accumulation order the decoder uses;
      // JPEG (lossy): format/dims/channels are pinned, luma is NULL
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 2 = 0 THEN 'png' ELSE 'jpeg' END
                  AS format,
                CAST(2 AS INT) AS width, CAST(2 AS INT) AS height,
                CAST(3 AS INT) AS channels,
                CASE WHEN o_orderkey % 2 = 0 THEN ROUND((
                   (0.299 * ((o_orderkey + 0) % 256) +
                    0.587 * ((o_orderkey // 3 + 0) % 256) +
                    0.114 * ((o_orderkey // 7 + 0) % 256)) +
                   (0.299 * ((o_orderkey + 1) % 256) +
                    0.587 * ((o_orderkey // 3 + 1) % 256) +
                    0.114 * ((o_orderkey // 7 + 1) % 256)) +
                   (0.299 * ((o_orderkey + 2) % 256) +
                    0.587 * ((o_orderkey // 3 + 2) % 256) +
                    0.114 * ((o_orderkey // 7 + 2) % 256)) +
                   (0.299 * ((o_orderkey + 3) % 256) +
                    0.587 * ((o_orderkey // 3 + 3) % 256) +
                    0.114 * ((o_orderkey // 7 + 3) % 256))) / 4, 4)
                END AS luma
         FROM orders WHERE o_orderkey < 600 ORDER BY o_orderkey"""),

    // REAL compressed-image pixel resample: per key a 2x2 PNG with four
    // DISTINCT pixels is NN-resized to 1x1 through the full
    // decode->sample->PNG-re-encode->decode roundtrip; NN must pick the
    // top-left source pixel (src = floor(dst*2/1) = 0) and PNG
    // re-encoding is lossless, so the surviving pixel's luma replays as
    // exact arithmetic on the key — picking any other pixel, resampling
    // lossily, or emitting a malformed PNG fails the hash
    "q_image_resize" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 600).as[Long].map { k =>
          val payload = graft.operators.Codecs.encodeImage("png", 2, 2, testRaster(k))
          graft.operators.Multimodal.MediaRow(k, "image", payload)
        }
      val resized = graft.operators.Multimodal.resizeReal(rows, 1, 1)
        .map(r => graft.operators.Multimodal.MediaRow(r.media_id, "image",
          r.payload))
      graft.operators.Multimodal.decodeReal(resized).toDF()
        .select(col("media_id").as("o_orderkey"), col("format"),
          col("width"), col("height"), round(col("mean_level"), 4).as("luma"))
        .orderBy("o_orderkey")
    },
      // NN 2x2 -> 1x1 through PNG re-encode keeps exactly the top-left
      // pixel (i=0), whose channels replay as pure arithmetic on the key
      s"""SELECT o_orderkey, 'png' AS format,
                CAST(1 AS INT) AS width, CAST(1 AS INT) AS height,
                $pixel0LumaSql
         FROM orders WHERE o_orderkey < 600 ORDER BY o_orderkey"""),

    // REAL audio feature extraction: per key an 8-sample PCM-16 WAV is
    // byte-built (samples are pure key arithmetic), then RMS / peak /
    // zero-crossings come from the codec. Every feature is exact across
    // engines: /32768 and /2^30 are power-of-two scalings, so the
    // sum-of-squares is a sum of exactly-representable dyadic rationals
    // (order-independent), and peak/ZCR are integer comparisons
    "q_audio_features" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 600).as[Long].map { k =>
          val samples = Array.tabulate[Short](8)(i =>
            (((k * 31 + i * 997) % 65536) - 32768).toShort)
          graft.operators.Multimodal.MediaRow(k, "audio",
            graft.operators.Codecs.encodeWav(8000, 1, samples))
        }
      graft.operators.Multimodal.audioFeaturesReal(rows).toDF()
        .select(col("media_id").as("o_orderkey"), col("n_samples"),
          round(col("rms"), 6).as("rms"),
          round(col("peak"), 6).as("peak"),
          col("zero_crossings"))
        .orderBy("o_orderkey")
    },
      // time-domain audio features replayed over the unnested synthetic
      // samples: /32768 and the squared terms are power-of-two scalings of
      // integers (exactly representable doubles), so SUM order can't skew
      // the RMS; ZCR is a lag-window sign-flip count; all integer-exact
      """WITH s AS (
           SELECT o_orderkey AS k, i,
                  ((o_orderkey * 31 + i * 997) % 65536) - 32768 AS raw
           FROM orders CROSS JOIN (SELECT unnest(range(8)) AS i)
           WHERE o_orderkey < 600),
         f AS (SELECT k, i, raw,
                 CASE WHEN lag(raw) OVER (PARTITION BY k ORDER BY i)
                        IS NULL THEN 0
                      WHEN (raw >= 0) <>
                        (lag(raw) OVER (PARTITION BY k ORDER BY i) >= 0)
                        THEN 1 ELSE 0 END AS flip
               FROM s)
         SELECT k AS o_orderkey, CAST(8 AS BIGINT) AS n_samples,
                ROUND(SQRT(SUM((raw / 32768.0) * (raw / 32768.0)) / 8), 6)
                  AS rms,
                ROUND(MAX(ABS(raw)) / 32768.0, 6) AS peak,
                CAST(SUM(flip) AS BIGINT) AS zero_crossings
         FROM f GROUP BY k ORDER BY o_orderkey"""),

    // REAL per-channel color means: the same deterministic 2x2 PNG as
    // q_image_decode, reduced per channel instead of to luma — each mean
    // replays as integer-sum arithmetic on the key
    "q_image_channels" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 600).as[Long].map { k =>
          val payload = graft.operators.Codecs.encodeImage("png", 2, 2, testRaster(k))
          graft.operators.Multimodal.MediaRow(k, "image", payload)
        }
      graft.operators.Multimodal.imageChannelsReal(rows).toDF()
        .select(col("media_id").as("o_orderkey"),
          round(col("r_mean"), 4).as("r_mean"),
          round(col("g_mean"), 4).as("g_mean"),
          round(col("b_mean"), 4).as("b_mean"))
        .orderBy("o_orderkey")
    },
      // per-channel means of the 2x2 raster: integer channel sums then one
      // exact /4, same accumulation both engines
      """SELECT o_orderkey,
                ROUND(((o_orderkey + 0) % 256 + (o_orderkey + 1) % 256 +
                       (o_orderkey + 2) % 256 + (o_orderkey + 3) % 256)
                      / 4.0, 4) AS r_mean,
                ROUND(((o_orderkey // 3 + 0) % 256 + (o_orderkey // 3 + 1) % 256 +
                       (o_orderkey // 3 + 2) % 256 + (o_orderkey // 3 + 3) % 256)
                      / 4.0, 4) AS g_mean,
                ROUND(((o_orderkey // 7 + 0) % 256 + (o_orderkey // 7 + 1) % 256 +
                       (o_orderkey // 7 + 2) % 256 + (o_orderkey // 7 + 3) % 256)
                      / 4.0, 4) AS b_mean
         FROM orders WHERE o_orderkey < 600 ORDER BY o_orderkey"""),

    // REAL multi-frame video-analogue sampling: per key a 6-frame 2x2
    // animated GIF (shared gray palette, interlace disabled — the two
    // conditions under which the JDK GIF roundtrip is pixel-exact),
    // strided frame decode (stride 2 → frames 0,2,4) with per-frame
    // mean luma replaying as pure key arithmetic
    "q_gif_frames" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 300).as[Long].map { k =>
          val payload = graft.operators.Codecs.encodeGifFrames(2, 2, 6,
            palette = i => i * 0x010101,
            pixelIdx = (f, x, y) =>
              ((k * 13 + f * 97 + y * 31 + x * 53) % 256).toInt)
          graft.operators.Multimodal.MediaRow(k, "video", payload)
        }
      graft.operators.Multimodal.sampleFramesReal(rows, stride = 2).toDF()
        .filter(col("decoded"))
        .select(col("media_id").as("o_orderkey"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("n_frames").cast("long").as("n_frames"),
          round(col("mean_level"), 4).as("luma"))
        .orderBy("o_orderkey", "frame_idx")
    },
      // gray palette (r=g=b=v) and a lossless GIF roundtrip make each
      // sampled frame's luma pure key arithmetic: per pixel the same
      // three-term 601 form the decoder accumulates, row-major order
      """WITH k AS (SELECT o_orderkey AS k FROM orders
                    WHERE o_orderkey < 300),
         fr AS (SELECT unnest([0, 2, 4]) AS f)
         SELECT k.k AS o_orderkey, CAST(fr.f AS BIGINT) AS frame_idx,
                CAST(6 AS BIGINT) AS n_frames,
                ROUND((
                  (0.299 * ((k.k * 13 + fr.f * 97) % 256) +
                   0.587 * ((k.k * 13 + fr.f * 97) % 256) +
                   0.114 * ((k.k * 13 + fr.f * 97) % 256)) +
                  (0.299 * ((k.k * 13 + fr.f * 97 + 53) % 256) +
                   0.587 * ((k.k * 13 + fr.f * 97 + 53) % 256) +
                   0.114 * ((k.k * 13 + fr.f * 97 + 53) % 256)) +
                  (0.299 * ((k.k * 13 + fr.f * 97 + 31) % 256) +
                   0.587 * ((k.k * 13 + fr.f * 97 + 31) % 256) +
                   0.114 * ((k.k * 13 + fr.f * 97 + 31) % 256)) +
                  (0.299 * ((k.k * 13 + fr.f * 97 + 84) % 256) +
                   0.587 * ((k.k * 13 + fr.f * 97 + 84) % 256) +
                   0.114 * ((k.k * 13 + fr.f * 97 + 84) % 256))
                ) / 4, 4) AS luma
         FROM k CROSS JOIN fr
         ORDER BY o_orderkey, frame_idx"""),

    // perceptual-hash image near-dup: 4x4 PNGs built from key
    // arithmetic (1-in-5 keys a one-unit perturbation of the previous
    // key's raster), decoded by the REAL ImageIO codec, aHash'd in
    // exact integer space (bit i: 16·s_i > Σs), paired by the banded
    // Hamming join — bands=4 > maxHamming=3, so pigeonhole makes the
    // candidate set EXACTLY the true pair set and the brute-force
    // DuckDB replay is a full oracle, not a recall bound
    "q_phash_pairs" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 600).as[Long].map { k =>
          val base = if (k % 5 == 4) k - 1 else k
          val delta = if (k % 5 == 4) 1 else 0
          // multiplicative mixing so hashes spread (a linear gradient
          // gives every image the same above-average bit pattern and
          // the pair set degenerates to all-pairs)
          val payload = graft.operators.Codecs.encodeImage("png", 4, 4, (x, y) => {
            val i = y * 4 + x
            val d = if (i == 0) delta else 0
            val r = ((base * 31 + i * 97 + d) % 256).toInt
            val g = ((base * 53 + i * 193) % 256).toInt
            val b = ((base * 71 + i * 41) % 256).toInt
            (r << 16) | (g << 8) | b
          })
          graft.operators.Multimodal.MediaRow(k, "image", payload)
        }
      val hashed = graft.operators.Multimodal.perceptualHash(rows, 4, 4)
        .toDF().filter(col("decoded"))
      graft.operators.Dedup.hammingPairs(hashed, "media_id", "phash",
          bits = 16, bands = 4, maxHamming = 3)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("a_id", "b_id")
    },
      // brute-force aHash replay: the PNG round-trip is lossless, so the
      // raster IS the key arithmetic; bits compare 16*s_i > total in pure
      // integers, pairs are all-pairs Hamming <= 3 (the Spark side's
      // banded join is provably equal by pigeonhole: 4 bands > 3 flips)
      """WITH k AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 600),
         px AS (SELECT k,
                  CASE WHEN k % 5 = 4 THEN k - 1 ELSE k END AS base,
                  CASE WHEN k % 5 = 4 THEN 1 ELSE 0 END AS delta,
                  unnest(range(16)) AS i
                FROM k),
         s AS (SELECT k, i,
                 ((base * 31 + i * 97
                   + CASE WHEN i = 0 THEN delta ELSE 0 END) % 256)
                 + ((base * 53 + i * 193) % 256)
                 + ((base * 71 + i * 41) % 256) AS s
               FROM px),
         t AS (SELECT k, SUM(s) AS tot FROM s GROUP BY k),
         h AS (SELECT s.k,
                 SUM(CASE WHEN 16 * s.s > t.tot THEN 1 << s.i ELSE 0 END) AS ph
               FROM s JOIN t USING (k) GROUP BY s.k)
         SELECT a.k AS a_id, b.k AS b_id,
                CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         FROM h a JOIN h b ON a.k < b.k
         WHERE bit_count(xor(a.ph, b.ph)) <= 3
         ORDER BY a_id, b_id"""),

    // same real-raster aHash fixture through the MULTI-INDEX Hamming
    // join (the >1e8-fingerprint scale path): blocks=4, maxHamming=2 →
    // C(4,2)=6 tables keyed on concatenated chunk PAIRS — double-width
    // keys, so ~2^chunk× fewer random candidates than the single-chunk
    // bands while pigeonhole still guarantees the EXACT pair set; the
    // brute-force DuckDB replay is again a full oracle
    "q_phash_multiindex" -> Paired((s, dir) => {
      import s.implicits._
      val rows = Tables.load(s, dir, "orders").select("o_orderkey")
        .filter(col("o_orderkey") < 600).as[Long].map { k =>
          val base = if (k % 5 == 4) k - 1 else k
          val delta = if (k % 5 == 4) 1 else 0
          val payload = graft.operators.Codecs.encodeImage("png", 4, 4, (x, y) => {
            val i = y * 4 + x
            val d = if (i == 0) delta else 0
            val r = ((base * 31 + i * 97 + d) % 256).toInt
            val g = ((base * 53 + i * 193) % 256).toInt
            val b = ((base * 71 + i * 41) % 256).toInt
            (r << 16) | (g << 8) | b
          })
          graft.operators.Multimodal.MediaRow(k, "image", payload)
        }
      val hashed = graft.operators.Multimodal.perceptualHash(rows, 4, 4)
        .toDF().filter(col("decoded"))
      graft.operators.Dedup.hammingPairsMultiIndex(hashed, "media_id", "phash",
          bits = 16, blocks = 4, maxHamming = 2)
        .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("a_id", "b_id")
    },
      // identical replay, threshold 2 — the multi-index join is exact by
      // the same pigeonhole argument (>= blocks-maxHamming chunks agree)
      """WITH k AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 600),
         px AS (SELECT k,
                  CASE WHEN k % 5 = 4 THEN k - 1 ELSE k END AS base,
                  CASE WHEN k % 5 = 4 THEN 1 ELSE 0 END AS delta,
                  unnest(range(16)) AS i
                FROM k),
         s AS (SELECT k, i,
                 ((base * 31 + i * 97
                   + CASE WHEN i = 0 THEN delta ELSE 0 END) % 256)
                 + ((base * 53 + i * 193) % 256)
                 + ((base * 71 + i * 41) % 256) AS s
               FROM px),
         t AS (SELECT k, SUM(s) AS tot FROM s GROUP BY k),
         h AS (SELECT s.k,
                 SUM(CASE WHEN 16 * s.s > t.tot THEN 1 << s.i ELSE 0 END) AS ph
               FROM s JOIN t USING (k) GROUP BY s.k)
         SELECT a.k AS a_id, b.k AS b_id,
                CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
         FROM h a JOIN h b ON a.k < b.k
         WHERE bit_count(xor(a.ph, b.ph)) <= 2
         ORDER BY a_id, b_id"""),

    // ---- Training mixes and epochs ----

    // deterministic weighted mixture sampling: per-source keep rates from
    // a pure hash of the doc id (no RNG) — reproducible across engines,
    // monotone in the weight; rates land near the weights
    "q_weighted_mix" -> Paired((s, dir) => {
      val d = docs(s, dir).withColumn("wt",
        (substring(col("source"), 4, 10).cast("int") % 5 + 1) / lit(5.0))
      val kept = graft.ops.ScaleOps.weightedMixtureSample(d, "doc_id", col("wt"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      d.groupBy("source").agg(max("wt").as("wt"), count(lit(1)).as("n_total"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("wt"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          round(coalesce(col("n_kept"), lit(0L)) / col("n_total"), 4).as("kept_rate"))
        .orderBy("source")
    },
      // same Knuth multiplicative hash + integer threshold compare
      """WITH d AS (
           SELECT doc_id, source,
                  (CAST(substr(source, 4) AS INT) % 5 + 1)
                    / CAST(5.0 AS DOUBLE) AS wt
           FROM documents),
         k AS (
           SELECT source, count(*) AS n_kept
           FROM d
           WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 <
                 CAST(floor(wt * 4294967296.0) AS BIGINT)
           GROUP BY source),
         t AS (SELECT source, MAX(wt) AS wt, count(*) AS n_total
               FROM d GROUP BY source)
         SELECT t.source AS source, t.wt AS wt, t.n_total AS n_total,
                coalesce(k.n_kept, 0) AS n_kept,
                ROUND(coalesce(k.n_kept, 0) / CAST(t.n_total AS DOUBLE), 4)
                  AS kept_rate
         FROM t LEFT JOIN k USING (source) ORDER BY source"""),

    // α=0.5 temperature-scaled source mixing: per-source keep rate
    // √(n_min/nᵢ) (sqrt is IEEE-exact on every engine — the reason the
    // operator pins α=0.5), kept set decided by the deterministic hash
    // rule; rates and kept counts replay exactly in DuckDB
    "q_temperature_mix" -> Paired((s, dir) => {
      val d = docs(s, dir)
      val kept = graft.ops.ScaleOps.temperatureMixSample(d, "source", "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      val totals = d.groupBy("source").agg(count(lit(1)).as("n_total"))
      totals.crossJoin(broadcast(totals.agg(min("n_total").as("nmin"))))
        .select(col("source"), col("n_total"),
          round(sqrt(col("nmin").cast("double") / col("n_total").cast("double")), 6)
            .as("rate"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_total"), col("rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    },
      // α=0.5 temperature mixing: sqrt-exact rates + the same hash rule
      """WITH t AS (SELECT source, count(*) AS n_total
                    FROM documents GROUP BY source),
         m AS (SELECT min(n_total) AS nmin FROM t),
         r AS (SELECT source, n_total,
                      sqrt(CAST(nmin AS DOUBLE) / CAST(n_total AS DOUBLE))
                        AS rate_full
               FROM t, m),
         k AS (SELECT d.source, count(*) AS n_kept
               FROM documents d JOIN r USING (source)
               WHERE (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 <
                     CAST(floor(rate_full * 4294967296.0) AS BIGINT)
               GROUP BY d.source)
         SELECT r.source AS source, r.n_total AS n_total,
                ROUND(r.rate_full, 6) AS rate,
                coalesce(k.n_kept, 0) AS n_kept
         FROM r LEFT JOIN k USING (source) ORDER BY source"""),

    // multi-epoch annealed mixture schedule over the skewed lang
    // grouping (sources are uniform by construction): keep-rates at
    // α ∈ {1, 1/2, 1/4} — division and sqrt only, IEEE-exact on both
    // engines (the same pinning argument as q_temperature_mix)
    "q_mix_schedule" -> Paired((s, dir) =>
      graft.ops.ScaleOps.annealedMixSchedule(
        docs(s, dir).select(col("lang").as("source")), "source")
        .orderBy("source"),
      // same IEEE-exact division/sqrt chain as the Spark side; FLOOR of
      // the identical double product, so kept counts replay exactly
      """WITH c AS (SELECT lang AS source, count(*) AS n_docs
                    FROM documents GROUP BY lang),
         m AS (SELECT MIN(n_docs) AS nmin FROM c)
         SELECT source, n_docs,
                ROUND(CAST(nmin AS DOUBLE) / n_docs, 6) AS rate_a100,
                CAST(FLOOR(n_docs * (CAST(nmin AS DOUBLE) / n_docs))
                     AS BIGINT) AS keep_a100,
                ROUND(sqrt(CAST(nmin AS DOUBLE) / n_docs), 6) AS rate_a50,
                CAST(FLOOR(n_docs * sqrt(CAST(nmin AS DOUBLE) / n_docs))
                     AS BIGINT) AS keep_a50,
                ROUND(sqrt(sqrt(CAST(nmin AS DOUBLE) / n_docs)), 6) AS rate_a25,
                CAST(FLOOR(n_docs * sqrt(sqrt(CAST(nmin AS DOUBLE) / n_docs)))
                     AS BIGINT) AS keep_a25
         FROM c CROSS JOIN m ORDER BY source"""),

    // deterministic epoch shuffle: each doc's position in two different
    // epoch permutations (pure function of (epoch, id) -> md5 order,
    // reproducible across engines); ranked with the WINDOWLESS two-phase
    // epochPositions (round 4 ranked through an unpartitioned window —
    // a single-executor funnel this suite no longer contains anywhere);
    // oracle replays the same ranking as a plain global row_number
    "q_epoch_shuffle" -> Paired((s, dir) => {
      val base = docs(s, dir).select("doc_id")
      // INT cast at the query layer to mirror the oracle's CAST(... AS
      // INT); the operator itself emits LONG positions
      def pos(epoch: Int, name: String) =
        graft.ops.ScaleOps.epochPositions(base, "doc_id", epoch)
          .select(col("doc_id"), col("pos").cast("int").as(name))
      pos(1, "pos_e1").join(pos(2, "pos_e2"), "doc_id").orderBy("doc_id")
    },
      """SELECT doc_id,
                CAST(row_number() OVER (ORDER BY
                  md5('1' || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS INT)
                  AS pos_e1,
                CAST(row_number() OVER (ORDER BY
                  md5('2' || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS INT)
                  AS pos_e2
         FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id"""),

    // the FULL-corpus epoch ranking, scale-safely: two-phase distributed
    // ranking (md5-prefix bucket -> partitioned window, plus a <=256-row
    // offset table) — identical output to a global row_number with no
    // global window anywhere in the plan
    "q_epoch_positions" -> Paired((s, dir) =>
      graft.ops.ScaleOps.epochPositions(
        docs(s, dir).select("doc_id"), "doc_id", epoch = 1)
        .select(col("doc_id"), col("pos").cast("int").as("pos"))
        .orderBy("doc_id"),
      // the two-phase ranking must equal the plain global row_number
      """SELECT doc_id,
                CAST(row_number() OVER (ORDER BY
                  md5('1' || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS INT)
                  AS pos
         FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id"""),

    // ---- Text ----

    // learned-BPE token accounting: train the merge table on a BOUNDED
    // deterministic sample (64 docs, driver-side — tokenizer practice),
    // then count subwords across the full corpus with the native encode
    // expression. The learned merges are dumped as a parquet SIDECAR so
    // the oracle can replay the greedy rank-ordered encode relationally
    // (recursive CTE over symbol lists — DuckDB recomputes every
    // subword count from the same merge table); the TRAINING loop stays
    // pinned against hand-computed merges in BpeSpec.
    "q_bpe_tokens" -> Paired((s, dir) => {
      val d = docs(s, dir)
      // Locale.ROOT: the sample's lowercase must be locale-independent
      // like the encode expression's (UTF8String) and the oracle's
      // (DuckDB lower()) — a tr_TR default locale would fold I→ı and
      // train a different merge table than the encode applies
      val sample = d.filter(col("doc_id") < 64).select("text").collect()
        .flatMap(_.getString(0).toLowerCase(java.util.Locale.ROOT)
          .split("\\s+")).filter(_.nonEmpty).toSeq
      val merges = graft.functions.Bpe.train(sample, numMerges = 100)
      // oracle sidecar (tiny: <= 100 rows), CONTENT-ADDRESSED: every
      // scale factor writes one <slug>.parquet into a SHARED dir, each
      // row stamped with the corpus fingerprint (count, sum(length(
      // text))) it was trained against. The oracle reads the whole dir
      // and selects the merge table whose fingerprint matches the
      // documents under verify — so verifying at ANY sf picks ITS OWN
      // merge table (the old per-sf path literal could only name one
      // sf and silently compared others against a foreign table), and
      // a corpus with no sidecar at all fails loudly ("no bpe sidecar
      // for this corpus"), never as an inscrutable hash diff. The
      // fingerprint needs the char sum because the generator keeps the
      // documents ROW COUNT constant across small sfs (ASCII corpus,
      // so char-count semantics agree cross-engine).
      val slug = dir.stripSuffix("/").replaceAll("[^A-Za-z0-9]", "_")
      val stats = d.agg(count(lit(1)).as("n"),
        sum(length(col("text"))).as("chars")).head()
      val (corpusDocs, corpusChars) = (stats.getLong(0), stats.getLong(1))
      import s.implicits._
      val stage = s"/tmp/graft_oracle_sidecar/.stage_bpe_$slug"
      merges.zipWithIndex
        .map { case ((a, b), i) => (i, a, b, corpusDocs, corpusChars) }
        .toDF("rank", "l", "r", "corpus_docs", "corpus_chars")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      locally {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val part = Files.list(Paths.get(stage)).filter(
          _.getFileName.toString.endsWith(".parquet")).findFirst.get
        val dst = Paths.get("/tmp/graft_oracle_sidecar/bpe_merges_all")
        Files.createDirectories(dst)
        Files.move(part, dst.resolve(s"$slug.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      d.select(col("source"),
          graft.functions.Bpe.bpeEncode(col("text"), merges).as("toks"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).as("n_subwords"))
        .orderBy("source")
    },
      // Replays the learned-BPE ENCODE from the merge-table sidecar the
      // query dumps (the path names the driver's verify SF — sf0.01):
      // per distinct word, a recursive CTE applies greedy rank-ordered
      // merges exactly like Bpe.encodeWord (strictly-lowest rank, first
      // position, one merge per step), then per-doc subword counts
      // re-aggregate per source. The merge table itself is pure driver
      // Scala pinned by BpeSpec; given it, the counts are exact.
      """WITH RECURSIVE
         mraw AS (SELECT * FROM read_parquet(
           '/tmp/graft_oracle_sidecar/bpe_merges_all/*.parquet')),
         dc AS MATERIALIZED (SELECT count(*) AS n,
                 sum(length(text)) AS chars FROM documents),
         msel AS MATERIALIZED (SELECT DISTINCT rank, l, r FROM mraw, dc
                 WHERE corpus_docs = dc.n AND corpus_chars = dc.chars),
         mn AS MATERIALIZED (SELECT count(*) AS k,
                 count(DISTINCT rank) AS dr FROM msel),
         chk AS MATERIALIZED (SELECT CASE WHEN mn.k = 0
                 THEN error('no bpe sidecar for this corpus: the content-addressed merge-table dir has no entry whose corpus fingerprint matches the documents under verify - run q_bpe_tokens at this sf first')
                 WHEN mn.k <> mn.dr
                 THEN error('ambiguous bpe sidecar: more than one stored merge table matches this corpus fingerprint (duplicate ranks after the fingerprint cut) - two regenerated corpora collided on (doc count, char sum); clear /tmp/graft_oracle_sidecar/bpe_merges_all and re-run q_bpe_tokens')
                 ELSE 1 END AS ok FROM mn),
         m AS (SELECT list(struct_pack(a := l, b := r) ORDER BY rank) AS ms
               FROM msel),
         toks AS (
           SELECT doc_id, source,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> len(x) > 0) AS t
           FROM documents),
         w0 AS (SELECT DISTINCT unnest(t) AS word FROM toks),
         enc AS (
           SELECT word, [word[i] for i in range(1, len(word)+1)] AS syms
           FROM w0
           UNION ALL
           SELECT word,
                  list_concat(list_concat(syms[1:bp-1],
                                          [syms[bp] || syms[bp+1]]),
                              syms[bp+2:])
           FROM (
             SELECT word, syms, list_min(prs) AS mn,
                    list_position(prs, list_min(prs)) AS bp
             FROM (
               SELECT e.word, e.syms,
                      [coalesce(nullif(list_position(ms,
                         struct_pack(a := e.syms[i], b := e.syms[i+1])), 0),
                         2147483647)
                       for i in range(1, len(e.syms))] AS prs
               FROM enc e, m
               WHERE len(e.syms) >= 2)
           ) WHERE mn < 2147483647),
         fin AS (
           SELECT e.word, len(e.syms) AS n_tok
           FROM enc e, m
           WHERE len(e.syms) < 2 OR
                 list_min([coalesce(nullif(list_position(ms,
                    struct_pack(a := e.syms[i], b := e.syms[i+1])), 0),
                    2147483647)
                    for i in range(1, len(e.syms))]) = 2147483647),
         doc_words AS (SELECT doc_id, source, unnest(t) AS word FROM toks),
         per_doc AS (SELECT doc_id, sum(f.n_tok) AS n_sub
                     FROM doc_words dw JOIN fin f USING (word)
                     GROUP BY doc_id)
         SELECT t.source, count(*)::BIGINT AS n_docs,
                CAST(sum(coalesce(p.n_sub, 0)) AS BIGINT) AS n_subwords
         FROM toks t LEFT JOIN per_doc p USING (doc_id) CROSS JOIN chk
         WHERE chk.ok = 1
         GROUP BY t.source ORDER BY t.source"""),

    // PII scrub: emails + long digit runs → typed placeholders, with
    // audit counts. Deterministic PII is synthesized onto the corpus
    // (doc_id-derived) so redaction coverage is nonzero and the DuckDB
    // twin replays it exactly; patterns are RE2-compatible so both regex
    // engines agree.
    "q_pii_redact" -> Paired((s, dir) => {
      val salted = docs(s, dir).withColumn("t2",
        concat(col("text"),
          when(col("doc_id") % 5 === 0, concat(lit(" contact user"),
            col("doc_id"), lit("@example.com for details"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" ref 9001234"), col("doc_id"))).otherwise(lit(""))))
      salted.select(col("doc_id"),
          piiCounts(col("t2")).as("pc"),
          md5(redactPii(col("t2")).cast("binary")).as("red_md5"))
        .select(col("doc_id"), col("pc.n_emails"), col("pc.n_digit_runs"),
          col("red_md5"))
        .orderBy("doc_id")
    },
      """WITH s AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 5 = 0
                  THEN ' contact user' || doc_id || '@example.com for details'
                  ELSE '' END ||
             CASE WHEN doc_id % 7 = 0
                  THEN ' ref 9001234' || doc_id ELSE '' END AS t2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t2,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(t2, '[0-9]{7,}')) AS INT)
             AS n_digit_runs,
           md5(regexp_replace(regexp_replace(t2,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '[0-9]{7,}', '<NUM>', 'g')) AS red_md5
         FROM s ORDER BY doc_id"""),
  )
}

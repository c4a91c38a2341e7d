package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every variant is built as
  *   row-local signature (map-only, codegen'd HOFs)
  *   → bucket key (band / band-hash / LSH prefix)
  *   → self-equi-join on the bucket key (shuffle on bucket, never all-pairs)
  *   → exact verify on the candidate pairs only.
  * The cross product never materializes; cost is O(sum of bucket² sizes),
  * which banding keeps near-linear. Skewed buckets (boilerplate docs) are
  * the known hazard — AQE skew-join handles moderate skew, and a bucket
  * size cap (`maxBucketSize`) drops degenerate buckets explicitly, the
  * standard trick in web-scale dedup.
  */
object Dedup {

  /** Exact dedup by content fingerprint: one survivor (min id) per
    * identical text. Hash-groupBy: single shuffle on a 32-char key rather
    * than the full text. */
  def exactByContent(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprintMd5(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Rows that survive exact dedup (normalized-text variant). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df
      .select(col(idCol).as("__id"), fingerprintNormalized(col(textCol)).as("fp"))
      .groupBy("fp").agg(min("__id").as(idCol))
      .drop("fp")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash signature: k hash functions h_s(x) = XXH64(x, seed=s); the
    * signature is [min_x h_s(x) for s in 0..k). One native pass per row
    * (graft.functions.MinHashSig) — the HOF formulation re-enters the
    * interpreter k×|shingles| times per document. */
  def minhashFromShingles(shCol: Column, k: Int = 64): Column =
    graft.functions.HashExpressions.minhashSig(shCol, k)

  def minhashSignature(textCol: Column, shingleN: Int = 3, k: Int = 64): Column =
    minhashFromShingles(shingles(textCol, shingleN), k)

  /** Jaccard from two precomputed (distinct) shingle arrays, with the
    * intersection size computed once via a staged projection. The
    * declarative size(array_intersect(..)) is rewritten to the native
    * counting expression by RewriteIntersectSize (no array materialized
    * per pair). */
  private def jaccardStaged(df: DataFrame, aSh: String, bSh: String): DataFrame = {
    graft.plans.GraftOptimizations.install(df.sparkSession)
    df.withColumn("__inter", size(array_intersect(col(aSh), col(bSh))))
      .withColumn("jaccard", round(col("__inter") /
        (size(col(aSh)) + size(col(bSh)) - col("__inter")), 6))
      .drop("__inter", aSh, bSh)
  }

  /** MinHash + LSH banding candidate pairs.
    *
    * Signature of k minhashes split into `bands` bands of k/bands rows;
    * docs sharing any band hash become candidates; candidates are verified
    * with exact shingle-Jaccard and filtered at `threshold`.
    * With k=64, bands=16 (r=4) the S-curve midpoint is ~(1/16)^(1/4)≈0.5.
    *
    * Output: (a_id, b_id, jaccard) with a_id < b_id, distinct.
    */
  /** `bandedPre`: the (id, buckets array) band rows when the caller
    * already materialized them under the SAME (shingleN, k, bands)
    * parameters over the SAME corpus (DedupIndex.build checkpoints them
    * for the index create) — skips this function's own banding pass,
    * which re-shingles and re-hashes the whole corpus. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucketSize: Int = 1000,
      bandedPre: Option[DataFrame] = None): DataFrame = {
    val ids = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // one row per (doc, band): bucket ids come fused out of the native
    // MinHashBands expression (no intermediate signature materialization).
    // The generator input stays the INLINE expression, not a projected
    // column: exploding a projected `buckets` attribute lets
    // InferFiltersFromGenerate add a size(buckets)>0 pre-filter that
    // pushdown rewrites into a SECOND full minhashbands(wordshingles(..))
    // evaluation per row — measured 1.7x the whole query (the catalyst
    // analogue of guide §4.4's duplicated-UDF trap). A bandedPre frame
    // is already materialized, so the inferred filter is harmless there.
    val banded = bandedPre
      .map(_.select(col("id"), posexplode(col("buckets"))))
      .getOrElse(ids.select(col("id"), posexplode(
        graft.functions.HashExpressions.minhashBands(
          shingles(col("text"), shingleN), k, bands))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // cap degenerate buckets (boilerplate) before the self-join
    val capped = banded.withColumn("bsize",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("bsize") <= maxBucketSize).drop("bsize")
    // candidate id pairs first (ids only through the shuffle), then join
    // the shingle arrays back for the exact verify — at scale this moves
    // two slim id-keyed joins instead of dragging arrays through distinct
    val a = capped.select(col("band"), col("bucket"), col("id").as("a_id"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("b_id"))
    val cand = a.join(b, Seq("band", "bucket")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    // shingles computed per verify side over the corpus — measured
    // AGAINST the candidate-pruned alternative (shingle only candidate
    // ids, the applyChanges rule): at lab scale the extra candidate
    // materialization + semi-join machinery cost 1.7-2x MORE than the
    // saved tokenization (q_minhash_pairs 1.19 -> 2.19 s unpinned,
    // still 0.6x with the candidate set checkpointed); the incremental
    // maintenance path where pruning pays is DedupIndex.applyChanges,
    // which already has it
    val shd = ids.select(col("id"), shingles(col("text"), shingleN).as("sh"))
    val withSh = cand
      .join(shd.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(shd.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
    jaccardStaged(withSh, "a_sh", "b_sh")
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Exact n-gram (shingle) Jaccard similarity between two text columns. */
  def shingleJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val sa = shingles(a, n)
    val sb = shingles(b, n)
    val inter = size(array_intersect(sa, sb)).cast("double")
    inter / (size(sa) + size(sb) - inter)
  }

  /** Exact n-gram Jaccard pairs with size-bucket blocking. The blocking
    * key is the DISTINCT shingle-set size, where the bound is a theorem:
    * J(A,B) ≥ t ⇒ max(|A|,|B|)/min(|A|,|B|) ≤ 1/t, and a ≤2^D ratio means
    * |floor(log2|A|) - floor(log2|B|)| ≤ D for the smallest D with
    * 2^D ≥ 1/t — so the a-side probes buckets within ±D and the join is
    * an EQUI-join on the bucket key (hash join, shuffle on a small int),
    * never a non-equi nested loop. Both the probe radius and the exact
    * ratio post-filter are DERIVED FROM the threshold (t=0.5 → ±1, the
    * classic 2× rule; t=0.3 → ±2), so the output is identical to the
    * all-pairs form at any threshold in (0,1]. Candidates travel as slim
    * (id, bucket) rows; shingle arrays are attached afterwards by two
    * id-keyed joins. Cost is O(sum of bucket-pair sizes) — for unblocked
    * web-scale corpora prefer minhashLshPairs, whose banding keys are
    * content-based rather than length-based. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val ratio = 1.0 / threshold
    // smallest D with 2^D ≥ ratio (integer doubling — no float-ceil slop;
    // the tolerance keeps exact powers like ratio=2.0 at D=1)
    var delta = 0
    var pow = 1.0
    while (pow * (1 + 1e-9) < ratio) { pow *= 2; delta += 1 }
    val t = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
      .withColumn("nsh", size(col("sh")))
    val tb = t.withColumn("bucket",
      floor(log2(greatest(col("nsh"), lit(1)))).cast("int"))
    val a = tb.select(col("id").as("a_id"), col("nsh").as("a_n"),
      explode(array((-delta to delta).map(d => col("bucket") + d): _*)).as("bucket"))
    val b = tb.select(col("id").as("b_id"), col("nsh").as("b_n"), col("bucket"))
    // b's bucket is unique per doc, so each (a_id, b_id) pair joins at
    // most once — no distinct needed
    val cand = a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id") &&
        col("b_n") >= col("a_n") * threshold &&
        col("a_n") >= col("b_n") * threshold)
      .select("a_id", "b_id")
    val withSh = cand
      .join(tb.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(tb.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
    jaccardStaged(withSh, "a_sh", "b_sh")
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Exact word-token Jaccard pairs via PREFIX FILTERING — the
    * high-threshold set-similarity join of SSJoin/PPJoin (Chaudhuri et
    * al. 2006, Xiao et al. 2008; public algorithms): order each doc's
    * distinct tokens rarest-first (ascending global document frequency,
    * ties by token), keep only the first |t| − ceil(θ·|t|) + 1 as the
    * doc's PREFIX, and generate candidates from pairs sharing a prefix
    * token. The prefix lemma makes the result EXACT: two sets with
    * J ≥ θ overlap in more than the suffix length, so they must share
    * at least one prefix token — no df cap, no recall loss, unlike
    * LSH's probabilistic banding.
    *
    * vs [[ngramJaccardPairs]]'s size-bucket blocking: the pruning here
    * is by CONTENT — hot boilerplate tokens sort to the suffixes and
    * never generate candidates, so candidate cost concentrates on rare
    * tokens with short posting lists (Σ prefix-df², each term bounded
    * by how rare the token is, not by a cap that sacrifices recall).
    * Shuffle shape: one df agg, one per-doc ranking window (partitioned
    * by doc id), one posting equi-join on the prefix token, two slim
    * id-keyed joins for the exact verify.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val tokSets = distinctTokenSets(df, idCol, textCol)
    val cand = prefixCandidates(tokSets, threshold)
    val withToks = cand
      .join(tokSets.select(col("id").as("a_id"), col("toks").as("a_tk")), Seq("a_id"))
      .join(tokSets.select(col("id").as("b_id"), col("toks").as("b_tk")), Seq("b_id"))
    jaccardStaged(withToks, "a_tk", "b_tk")
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  private def distinctTokenSets(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        array_distinct(tokens(col(textCol))).as("toks"))
      .filter(size(col("toks")) > 0)

  /** The prefix-filter candidate stage (exposed for the spec that pins
    * the content pruning: a token shared by every doc sorts to the
    * suffixes and must generate zero candidates on its own). */
  private[graft] def prefixCandidates(tokSets: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    val posting = tokSets.select(col("id"), explode(col("toks")).as("tok"))
    val dfreq = posting.groupBy("tok").agg(count(lit(1)).as("tdf"))
    // rarest-first rank inside each doc (total order via the token tie)
    val ranked = posting.join(dfreq, Seq("tok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("tdf").asc, col("tok").asc)))
      .join(tokSets.select(col("id"), size(col("toks")).as("n")), Seq("id"))
    // prefix length |t| - ceil(θ|t|) + 1; the tiny negative epsilon can
    // only shrink the ceil at exact integers, i.e. LENGTHEN the prefix —
    // conservative, completeness never depends on float rounding
    val prefix = ranked.filter(col("rn") <=
      col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
    val a = prefix.select(col("tok"), col("id").as("a_id"), col("n").as("a_n"))
    val b = prefix.select(col("tok"), col("id").as("b_id"), col("n").as("b_n"))
    a.join(b, Seq("tok"))
      .filter(col("a_id") < col("b_id") &&
        // length-ratio bound: J ≥ θ ⇒ sizes within 1/θ of each other
        col("b_n") >= col("a_n") * threshold &&
        col("a_n") >= col("b_n") * threshold)
      .select("a_id", "b_id").distinct()
  }

  /** Asymmetric containment near-dup pairs: C(A→B) = |g(A)∩g(B)|/|g(A)|
    * over distinct word n-gram sets — the quote/subset detector Jaccard
    * structurally misses (a short doc fully quoted inside a long one has
    * J ≈ |A|/|B| ≈ 0 but C(A→B) = 1). Reports each pair once with
    * `c_max` = max of the two directions, thresholded on the ROUNDED
    * value (cross-engine boundary rule).
    *
    * Candidates come from the n-gram postings themselves (equi-join on
    * the gram), with grams appearing in more than `maxDf` documents
    * dropped EVERYWHERE — from the candidate join and from all three
    * counts — so containment is defined over informative grams only.
    * The cap is the posting-list bound (join cost Σ df², df ≤ maxDf,
    * the same cap-the-hot-bucket contract as the LSH/deletion caps) AND
    * a precision filter: boilerplate grams shared by half the corpus
    * carry no duplication signal. The oracle replays the capped
    * definition exactly.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.5, maxDf: Int = 50): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    val g = df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("g"))
      .distinct()
    val capped = g
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("g")))
      .filter(col("__df") <= maxDf).drop("__df")
    val sizes = capped.groupBy("id").agg(count(lit(1)).as("n_g"))
    val shared = capped.select(col("id").as("a_id"), col("g"))
      .join(capped.select(col("id").as("b_id"), col("g")), Seq("g"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("a_id"), col("n_g").as("n_a")), Seq("a_id"))
      .join(sizes.select(col("id").as("b_id"), col("n_g").as("n_b")), Seq("b_id"))
      .withColumn("c_max", round(greatest(
        col("shared").cast("double") / col("n_a"),
        col("shared").cast("double") / col("n_b")), 4))
      .filter(col("c_max") >= threshold)
      .select("a_id", "b_id", "shared", "n_a", "n_b", "c_max")
  }

  /** 64-bit SimHash: per feature-hash bit, +1 if set else -1, summed over
    * features; sign of each sum is the fingerprint bit. Near-dups differ
    * in few bits (Hamming). One native pass per row
    * (graft.functions.SimHash64). */
  def simhash64(textCol: Column): Column =
    graft.functions.HashExpressions.simhash64(tokens(textCol))

  /** SimHash near-dup pairs: fingerprint over word SHINGLES (n-gram
    * features — token-level simhash clusters documents by stopword
    * distribution, emitting pairs with no real overlap), split the 64-bit
    * fingerprint into `bands` chunks (pigeonhole: docs within Hamming
    * `bands-1` share at least one exact chunk → bucket-join on chunks),
    * filter exact Hamming ≤ maxHamming, then VERIFY candidates with exact
    * shingle Jaccard ≥ verifyThreshold — same candidates→verify shape as
    * every other near-dup variant here, so hash proximity alone can never
    * emit a textually-unrelated pair.
    *
    * With `crossEngineHash = true` the fingerprint comes from the MD5-based
    * [[graft.functions.SimHash64Md5]] instead of the XXH64 one — same
    * algorithm, but a DuckDB oracle can recompute it bit-for-bit, and since
    * the banded candidate stage is pigeonhole-EXACT at `maxHamming ≤
    * bands−1`, the whole operator output becomes the relational definition
    * (all pairs with Hamming ≤ maxHamming AND Jaccard ≥ verifyThreshold) —
    * fully oracle-comparable (q_simhash_pairs).
    *
    * `maxBucketSize` is the same degenerate-bucket guard as
    * [[minhashLshPairs]]/[[winnowingPairs]]: a (band, chunk) bucket over
    * the cap is skipped at candidate GENERATION (a corpus of near-empty
    * docs collapses to a handful of fingerprints, and one shared chunk
    * bucket would self-join quadratically). Capping trades the
    * pigeonhole-exactness away for pairs whose ONLY shared chunks are
    * oversized — so unlike the hash-seeded operators above the cap
    * DEFAULTS OFF here (`Int.MaxValue`): this operator's documented
    * contract is the exact relational definition (hamming ≤ maxHamming
    * AND jaccard ≥ verifyThreshold — the q_simhash_pairs oracle and
    * RecallSpec both rely on it), and a silent default cap would change
    * existing default-arg callers' answers. Pass a finite cap
    * explicitly on degenerate corpora. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 8, maxHamming: Int = 7, shingleN: Int = 3,
      verifyThreshold: Double = 0.5, crossEngineHash: Boolean = false,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val chunk = 64 / bands
    val shd = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val fp =
      if (crossEngineHash) graft.functions.HashExpressions.simhash64Md5(col("sh"))
      else graft.functions.HashExpressions.simhash64(col("sh"))
    val withSim = shd.select(col("id"), fp.as("sim"))
    val bandedAll = withSim.select(col("id"), col("sim"),
        posexplode(array((0 until bands).map(b =>
          shiftrightunsigned(col("sim"), b * chunk)
            .bitwiseAND(lit((1L << chunk) - 1))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    val banded =
      if (maxBucketSize == Int.MaxValue) bandedAll
      else bandedAll.withColumn("bsize", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("band", "chunk")))
        .filter(col("bsize") <= maxBucketSize).drop("bsize")
    val a = banded.select(col("band"), col("chunk"), col("id").as("a_id"), col("sim").as("a_sim"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("b_id"), col("sim").as("b_sim"))
    val cand = a.join(b, Seq("band", "chunk")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val withSh = cand
      .join(shd.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(shd.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
    jaccardStaged(withSh, "a_sh", "b_sh")
      .filter(col("jaccard") >= verifyThreshold)
      .select("a_id", "b_id", "hamming", "jaccard")
  }

  /** Winnowing-fingerprint near-dup candidates: docs sharing ≥ `minShared`
    * selected rolling-hash fingerprints (Schleimer et al. local sampling —
    * robust to partial overlap/reordering, unlike whole-doc hashing).
    * Same bucket-join shape as the other dedup ops: explode fingerprints →
    * inverted index → count shared prints per pair → exact Jaccard verify. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, window: Int = 4, minShared: Int = 2,
      threshold: Double = 0.5, maxBucketSize: Int = 20): DataFrame = {
    val shd = df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val fpsAll = df.select(col(idCol).as("id"),
      explode(winnowingFingerprints(col(textCol), shingleN, window)).as("fp"))
    // drop stop-fingerprints (shared by > maxBucketSize docs): they carry
    // no discriminative signal and make the inverted-index join quadratic
    val fps = fpsAll.withColumn("bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("bsize") <= maxBucketSize).drop("bsize")
    val a = fps.select(col("fp"), col("id").as("a_id"))
    val b = fps.select(col("fp"), col("id").as("b_id"))
    val cand = a.join(b, Seq("fp")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val withSh = cand
      .join(shd.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(shd.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
    jaccardStaged(withSh, "a_sh", "b_sh")
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "n_shared", "jaccard")
  }

  /** Incremental MinHash-LSH near-dup pairs: candidates for a NEW batch
    * of documents against an existing corpus (plus within the batch)
    * WITHOUT re-pairing the corpus against itself — the production shape
    * for nightly ingestion at scale, where corpus x corpus candidate
    * generation is already done and must not be repeated. The b-side of
    * the bucket join is restricted to increment docs, so bucket-join cost
    * is O(Σ bucket_size × increment_bucket_size), linear in the increment
    * for stable bucket sizes. Same signature → band → bucket-join →
    * exact-verify shape and identical thresholds as [[minhashLshPairs]],
    * so output = the full-corpus pairs restricted to pairs touching the
    * increment.
    *
    * Output: (a_id, b_id, jaccard), a_id < b_id, b-side ∈ increment or
    * both sides ∈ increment.
    */
  def minhashLshPairsIncremental(corpus: DataFrame, increment: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, k: Int = 64,
      bands: Int = 16, threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val all = corpus.select(col(idCol).as("id"), col(textCol).as("text"))
      .unionByName(increment.select(col(idCol).as("id"), col(textCol).as("text")))
    val banded = all.select(col("id"),
        posexplode(graft.functions.HashExpressions.minhashBands(
          shingles(col("text"), shingleN), k, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val capped = banded.withColumn("bsize",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("bsize") <= maxBucketSize).drop("bsize")
    val incIds = increment.select(col(idCol).as("id")).distinct()
    val a = capped.select(col("band"), col("bucket"), col("id").as("a_id"))
    // only increment docs probe as the b-side: every emitted pair touches
    // the increment, and corpus x corpus pairs are never generated
    val b = capped.join(broadcast(incIds), Seq("id"))
      .select(col("band"), col("bucket"), col("id").as("b_id"))
    // every pair touching the increment surfaces with the increment doc
    // on the b-side regardless of id order, so normalize (least/greatest)
    // instead of filtering a < b — a plain a<b would miss pairs whose
    // increment doc carries the SMALLER id
    val cand = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    // full-corpus verify shingles, same measured ruling as
    // minhashLshPairs (candidate pruning regressed at lab scale)
    val shd = all.select(col("id"), shingles(col("text"), shingleN).as("sh"))
    val withSh = cand
      .join(shd.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(shd.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
    jaccardStaged(withSh, "a_sh", "b_sh")
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minShared` distinct word n-gram shingles with a test/eval set —
    * the standard pre-training hygiene pass (a training doc containing
    * eval n-grams inflates benchmark scores).
    *
    * Scale shape: the TEST side (small by construction — eval sets are
    * thousands of docs) collapses to its distinct shingle set and is
    * BROADCAST; the corpus side streams map-side through the broadcast
    * hash join and partially aggregates per doc — the 100 TB corpus is
    * never shuffled, only the (contaminated-doc, count) pairs are. For
    * a test set too big to broadcast, swap the broadcast for a bloom
    * prefilter (ScaleOps.bloomSemiJoin) + shuffle join.
    *
    * Output: (idCol, n_shared) for corpus docs meeting the threshold. */
  def contaminated(corpus: DataFrame, testSet: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minShared: Int = 2): DataFrame = {
    val testSh = testSet
      .select(explode(shingles(col(textCol), n)).as("sh")).distinct()
    // corpus shingles are distinct per doc already (shingles = set), so
    // the per-doc count below is the distinct-overlap size
    val corpusSh = corpus.select(col(idCol),
      explode(shingles(col(textCol), n)).as("sh"))
    corpusSh.join(broadcast(testSh), Seq("sh"))
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus n-gram duplication profile, per group (e.g. per source):
    * of the distinct word n-grams each group contributes, what fraction
    * also appears in at least `minDocs` documents corpus-wide? This is
    * the standard memorization-risk / boilerplate metric run before
    * training (high dup_rate ⇒ the source is template-heavy and a
    * substring-dedup pass will shrink it hardest) — the measuring twin
    * of the pairwise dedup operators above.
    *
    * Scale shape: explode distinct-per-doc n-grams once, one hash agg
    * for global doc-counts, one for the per-group rollup — linear in
    * corpus token count, no pairwise joins, no driver state. Docs with
    * fewer than n tokens contribute nothing (WordNgrams yields empty).
    *
    * Output: (group, n_grams, n_dup, dup_rate) — dup_rate rounded 4 dp.
    */
  def ngramDupStats(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, n: Int = 5, minDocs: Int = 2): DataFrame = {
    val grams = df.select(col(idCol).as("__doc"), col(groupCol).as("grp"),
      explode(array_distinct(
        graft.functions.TextExpressions.wordNgrams(col(textCol), n))).as("g"))
    // grams are distinct per doc, so count(*) per gram = containing docs
    val docCounts = grams.groupBy("g")
      .agg(count(lit(1)).as("nd"))
    grams.select("grp", "g").distinct()
      .join(docCounts, Seq("g"))
      .groupBy(col("grp").as(groupCol))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("nd") >= minDocs, 1)).as("n_dup"))
      .withColumn("dup_rate", round(col("n_dup") / col("n_grams"), 4))
  }

  /** Source×source n-gram overlap matrix — the pairwise leakage metric
    * between corpus sources ([[ngramDupStats]] is the per-source rollup;
    * this localizes WHICH pair of sources shares content): for each
    * unordered source pair with any overlap, the distinct-n-gram
    * intersection size, both set sizes, and the Jaccard. Run before
    * mixing sources into a training corpus — a mirrored or
    * scraped-twice source shows up as an off-diagonal spike. Pairs
    * sharing nothing are absent (inner join on the gram).
    *
    * Scale shape: distinct (source, gram) — one hash shuffle keyed on
    * the gram — then a self-equi-join on the gram whose per-key fan-out
    * is bounded by the SOURCE count (≤ S rows per gram per side, S in
    * the dozens, so the join output is ≤ S² rows per gram), then one
    * aggregation per pair and a broadcast of the tiny per-source size
    * table. Linear in corpus token count; no driver state.
    */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    val grams = df.select(col(srcCol).as("src"),
      explode(array_distinct(
        graft.functions.TextExpressions.wordNgrams(col(textCol), n))).as("g"))
      .distinct()
    val sizes = grams.groupBy("src").agg(count(lit(1)).as("n_grams"))
    grams
      .join(grams.select(col("src").as("src_b"), col("g")), Seq("g"))
      .filter(col("src") < col("src_b"))
      .groupBy(col("src").as("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("src").as("src_a"),
        col("n_grams").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"),
        col("n_grams").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared") /
          (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
  }

  /** Connected components over a near-dup pair graph: every document gets
    * the MIN id reachable through pairs as its `family` — the dedup
    * endgame (keep one survivor per family) once pairwise candidates
    * exist, since near-dup relations are not transitive but dedup
    * decisions must be.
    *
    * Iterative min-label propagation: each round, every node takes the
    * min of its own label and its neighbors' labels (one hash shuffle per
    * round); converges in O(graph diameter) rounds — tiny for near-dup
    * clusters — with an early-exit convergence probe. This is the
    * standard large-scale CC shape (the simplified form of
    * large-star/small-star); the driver loop holds only iteration count,
    * never data.
    *
    * @param ids   one row per document, column `idCol`
    * @param pairs near-dup pairs with columns a_id, b_id
    */
  def dedupFamilies(ids: DataFrame, pairs: DataFrame, idCol: String,
      maxIter: Int = 20, broadcastNodeLimit: Long = 1000000L): DataFrame = {
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct().cache()
    var labels = ids.select(col(idCol).as("id"), col(idCol).as("family"))
    // checkpointed label tables carry no size statistics, so without a
    // hint every round sort-merge-joins them; measure |V| once and
    // broadcast the label side while small (same policy as graft.Graph)
    val side: DataFrame => DataFrame =
      if (ids.count() <= broadcastNodeLimit) broadcast _ else identity _
    var i = 0
    // try/finally: an iteration throwing mid-loop must not leave the edge
    // set pinned in the block manager for the rest of a long session (the
    // same leak class the ANN caches had before round 5 fixed them)
    val done = try {
      var converged = edges.isEmpty
      while (i < maxIter && !converged) {
        // localCheckpoint TRUNCATES the lineage each round — without it
        // the plan nests the previous round's plan twice per iteration
        // and grows exponentially (the standard iterative-graph-algorithm
        // trap; a cluster deployment would use reliable checkpointing
        // instead of executor-local blocks). The convergence probe rides
        // the SAME action as an Observation on the propagate-join (one
        // job per round, not two): n_changed counts labels the
        // min-aggregation lowered this round.
        val obs = org.apache.spark.sql.Observation()
        val next = edges
          .join(side(labels.select(col("id").as("src"), col("family"))), Seq("src"))
          .select(col("dst").as("id"), col("family"))
          .unionByName(labels)
          .groupBy("id").agg(min("family").as("family"))
          .join(side(labels.withColumnRenamed("family", "prev")), Seq("id"))
          .observe(obs,
            count(when(col("family") =!= col("prev"), 1)).as("n_changed"))
          .select("id", "family")
          .localCheckpoint(true)
        converged = obs.get("n_changed").asInstanceOf[Long] == 0L
        labels = next
        i += 1
      }
      converged
    } finally edges.unpersist(blocking = true)
    if (!done)
      // partially-propagated labels would silently split true families
      // downstream (keepBestPerFamily keeping >1 survivor) — surface it
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupFamilies did not converge within maxIter=$maxIter rounds " +
          "(pair-graph diameter exceeds maxIter); labels are partially " +
          "propagated — raise maxIter for long similarity chains")
    labels.select(col("id").as(idCol), col("family"))
  }

  /** Survivor selection over dedup families: keep the highest-`scoreCol`
    * row per family (min id tiebreak) — the production choice for corpus
    * dedup (keep the BEST copy, not an arbitrary one). One window over
    * the family key. */
  def keepBestPerFamily(df: DataFrame, idCol: String, scoreCol: String,
      families: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("family")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.join(families, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Leakage-controlled train/test split: assign whole near-dup FAMILIES
    * to a split, never individual documents — a doc-level random split
    * leaks train content into eval through near-duplicate pairs, which is
    * exactly the contamination the dedup pipeline exists to prevent.
    *
    * The split decision is md5(family id) compared against a hex-prefix
    * threshold — engine-portable (any engine with md5 replays it, no
    * engine-specific RNG), deterministic under re-runs and data
    * re-partitioning, and stable under corpus growth as long as family
    * labels are stable. `testHexPrefix` "33" puts P(first two hex chars
    * < "33") = 51/256 ≈ 20% of FAMILIES in test; the doc-level fraction
    * follows the family-size distribution.
    *
    * Output: (idCol, family, split) with split in {'train','test'}.
    * One label-propagation pass ([[dedupFamilies]]) + a map — no extra
    * shuffle beyond the family computation itself.
    */
  def leakageSafeSplit(ids: DataFrame, pairs: DataFrame, idCol: String,
      testHexPrefix: String = "33", maxIter: Int = 20): DataFrame =
    dedupFamilies(ids, pairs, idCol, maxIter)
      .withColumn("split", splitColumn(col("family"), testHexPrefix))

  /** The family→split decision, exposed so every consumer (and the
    * cross-engine oracles) uses the IDENTICAL rule. */
  def splitColumn(family: Column, testHexPrefix: String = "33"): Column =
    when(substring(md5(family.cast("string")), 1, 2) < testHexPrefix, "test")
      .otherwise("train")

  /** Embedding-cosine near-duplicates: multi-table hyperplane LSH →
    * join within buckets → exact cosine verify. `lshTables` independent
    * signatures (different hyperplane seeds) are the standard recall
    * lever: a pair is a candidate if it collides in ANY table, so recall
    * is 1-(1-p^bits)^tables for per-bit agreement probability
    * p = 1-θ/π. `lshBits=0` degrades to brute force (small corpora /
    * recall measurement). Candidates travel as slim id pairs; vectors are
    * joined back only for the exact verify.
    *
    * With `deterministic = true` the signatures come from
    * [[graft.functions.LshBitsDet]] — md5-derived Rademacher hyperplanes
    * over integer-quantized RAW vectors (sign-LSH is scale-invariant, and
    * raw floats avoid the normalization's sum-order ULP) — so a DuckDB
    * oracle replays the ENTIRE candidate stage bit-for-bit and the
    * operator output is fully hash-comparable despite recall < 1
    * (q_embed_neardup_lsh). */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, lshBits: Int = 8,
      lshTables: Int = 8, deterministic: Boolean = false): DataFrame = {
    // normalize ONCE per row; per-pair work is then a single codegen'd dot
    val base = df.select(col(idCol).as("id"),
      VectorFunctions.normalize(col(vecCol)).as("v"))
    def verified(cand: DataFrame): DataFrame = cand
      .join(base.select(col("id").as("a_id"), col("v").as("a_v")), Seq("a_id"))
      .join(base.select(col("id").as("b_id"), col("v").as("b_v")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(VectorFunctions.dot(col("a_v"), col("b_v")), 6).as("cos"))
      .filter(col("cos") >= threshold)
    if (lshBits <= 0) {
      val a = base.select(col("id").as("a_id"), col("v").as("a_v"))
      val b = base.select(col("id").as("b_id"), col("v").as("b_v"))
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(VectorFunctions.dot(col("a_v"), col("b_v")), 6).as("cos"))
        .filter(col("cos") >= threshold)
    } else {
      // deterministic mode buckets on the RAW vector (exact integer
      // projection — see LshBitsDet); the seeded mode keeps its
      // historical normalized input. Both verify on normalized cosine.
      val sigInput =
        if (deterministic) df.select(col(idCol).as("id"), col(vecCol).as("rv"))
        else base.select(col("id"), col("v").as("rv"))
      def sig(t: Int) =
        if (deterministic)
          graft.functions.HashExpressions.lshBitsDet(col("rv"), lshBits, seed = 1000L + t)
        else VectorFunctions.lshBucket(col("rv"), lshBits, seed = 1000L + t)
      val banded = sigInput.select(col("id"),
          posexplode(array((0 until lshTables).map(sig): _*)))
        .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
      val a = banded.select(col("table"), col("bucket"), col("id").as("a_id"))
      val b = banded.select(col("table"), col("bucket"), col("id").as("b_id"))
      val cand = a.join(b, Seq("table", "bucket"))
        .filter(col("a_id") < col("b_id"))
        .select("a_id", "b_id").distinct()
      verified(cand)
    }
  }

  /** Generic banded Hamming self-join over a precomputed fingerprint
    * column (SimHash, perceptual image hash, any ≤64-bit signature):
    * all pairs with `popcount(a ⊕ b) ≤ maxHamming`, WITHOUT the all-pairs
    * product.
    *
    * The `bits`-wide hash splits into `bands` equal chunks; pigeonhole
    * guarantees two hashes within Hamming `bands−1` share at least one
    * exact chunk, so for `maxHamming ≤ bands−1` the banded candidate set
    * is EXACTLY the true pair set (no recall loss — the operator is
    * oracle-checkable against brute force) and cost is Σ bucket², not
    * n². `maxBucketSize` caps degenerate buckets (e.g. all-black
    * thumbnails hashing to 0): candidate generation skips over-cap
    * (band, chunk) buckets — the same boilerplate guard as every other
    * dedup path here; pass Int.MaxValue for the exact contract.
    *
    * Sizing: even on UNIFORM fingerprints, expected random bucket
    * collisions are ~bands·n²/2^(chunk+1), so the chunk width must grow
    * with the corpus — bands=8 (8-bit chunks) is for ≲10⁵ rows; a 10⁶–
    * 10⁸ corpus wants bands=4 (16-bit chunks, maxHamming ≤ 3); beyond
    * that, bands=2 (32-bit chunks, maxHamming ≤ 1) or
    * [[hammingPairsMultiIndex]], whose concatenated-subset keys keep
    * maxHamming > 1 affordable at 10⁸+ rows. Trading maxHamming down
    * with width is exactly the production pHash/SimHash dedup trade
    * (measured in the hamming scaling ladder).
    *
    * Output: (a_id, b_id, hamming), a_id < b_id. */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
      bits: Int = 64, bands: Int = 8, maxHamming: Int = 7,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(bits > 0 && bits <= 64 && bands > 0 && bits % bands == 0,
      s"bits=$bits must be a positive multiple of bands=$bands, <= 64")
    val chunk = bits / bands
    val mask = if (chunk == 64) -1L else (1L << chunk) - 1
    val keys = (0 until bands).map(b =>
      shiftrightunsigned(col("hh"), b * chunk).bitwiseAND(lit(mask)))
    bandedHammingJoin(df, idCol, hashCol, keys, maxHamming, maxBucketSize)
  }

  /** Multi-index banded Hamming self-join — the >10⁸-fingerprint scale
    * path (the pHash/SimHash-at-scale design of Manku et al.'s simhash
    * dedup, WWW'07): split the `bits`-wide hash into `blocks` chunks;
    * two hashes within Hamming `maxHamming` differ in at most
    * `maxHamming` chunks, so they AGREE on at least
    * t = blocks − maxHamming chunks — hence on at least one specific
    * t-subset. One index per t-subset (C(blocks, t) of them), keyed on
    * the CONCATENATION of that subset's chunks: the key is t·chunk bits
    * wide instead of chunk bits, so expected random collisions drop
    * from bands·n²/2^(chunk+1) to C(blocks,t)·n²/2^(t·chunk+1) —
    * bands=4/maxHamming=2 moves the key from 16 to 32 bits, i.e. ~2¹⁶×
    * fewer random candidates at the cost of 6 tables instead of 4. Same
    * pigeonhole exactness as [[hammingPairs]] (no recall loss; the two
    * operators return IDENTICAL pair sets wherever both are exact), and
    * the same degenerate-bucket cap.
    *
    * Output: (a_id, b_id, hamming), a_id < b_id. */
  def hammingPairsMultiIndex(df: DataFrame, idCol: String, hashCol: String,
      bits: Int = 64, blocks: Int = 4, maxHamming: Int = 2,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(bits > 0 && bits <= 64 && blocks > 0 && bits % blocks == 0,
      s"bits=$bits must be a positive multiple of blocks=$blocks, <= 64")
    require(maxHamming >= 0 && maxHamming < blocks,
      s"need 0 <= maxHamming < blocks for the pigeonhole guarantee " +
        s"(got maxHamming=$maxHamming, blocks=$blocks)")
    val chunk = bits / blocks
    val t = blocks - maxHamming
    val combos = (0 until blocks).combinations(t).toSeq
    require(combos.size <= 256,
      s"C($blocks, $t) = ${combos.size} index tables is past the useful " +
        "range - use fewer blocks (the table count is a real write cost)")
    val mask = if (chunk == 64) -1L else (1L << chunk) - 1
    def chunkCol(b: Int) =
      shiftrightunsigned(col("hh"), b * chunk).bitwiseAND(lit(mask))
    // concatenated-subset key: injective for t*chunk <= 64 (each shift
    // is by chunk < 64 and the accumulated width never exceeds 64)
    val keys = combos.map(idxs =>
      idxs.map(chunkCol).reduceLeft((acc, c) =>
        shiftleft(acc, chunk).bitwiseOR(c)))
    bandedHammingJoin(df, idCol, hashCol, keys, maxHamming, maxBucketSize)
  }

  /** Shared candidate stage for the banded Hamming joins: explode each
    * row into (band, key) postings, cap degenerate buckets, self-join
    * within buckets, verify exact Hamming, and dedup pairs found in
    * multiple bands. `keys(i)` is band i's bucket key over the `hh`
    * column. */
  private def bandedHammingJoin(df: DataFrame, idCol: String,
      hashCol: String, keys: Seq[Column], maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    val withHash = df.select(col(idCol).as("id"), col(hashCol).cast("long").as("hh"))
    val banded = withHash.select(col("id"), col("hh"),
        posexplode(array(keys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    val capped =
      if (maxBucketSize == Int.MaxValue) banded
      else banded.withColumn("bsize", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")))
        .filter(col("bsize") <= maxBucketSize).drop("bsize")
    val a = capped.select(col("band"), col("bkey"), col("id").as("a_id"),
      col("hh").as("a_h"))
    val b = capped.select(col("band"), col("bkey"), col("id").as("b_id"),
      col("hh").as("b_h"))
    // hamming is a pure function of the pair, so filtering BEFORE the
    // cross-band distinct is result-identical and keeps the ~all
    // candidates that fail the threshold out of the dedup shuffle
    a.join(b, Seq("band", "bkey")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_h").bitwiseXOR(col("b_h"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---- Exact substring-level dedup: duplicated spans (Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better") ----
  //
  // Doc-level dedup (everything above) misses the dominant duplication
  // mode in web corpora: long passages repeated inside otherwise-distinct
  // documents. The exact-substring definition: a character range is
  // duplicated iff it lies inside some substring of length >= minLen that
  // occurs in >= minDocs distinct documents. Since any such substring
  // contains a duplicated EXACTLY-minLen gram, anchoring on fixed-length
  // grams is complete, and merging overlapping/adjacent anchors
  // reconstructs the maximal duplicated spans.
  //
  // Scale shape (the suffix-array build in the paper is replaced by a
  // shuffle-friendly anchor join): one O(len) rolling-hash pass per doc
  // (native GramRollingHashes — 8 bytes per position, never minLen chars)
  // → groupBy hash keeping hashes seen in >= minDocs docs → extract the
  // REAL minLen-char grams for surviving candidates only (each doc's text
  // shuffled once, not once per candidate) → exact groupBy on gram text
  // (hash collisions die here, so exactness never depends on the hash) →
  // per-doc island merge under a doc-partitioned window. Candidate volume
  // is the true duplicate density plus ~n²/2⁶⁴ random collisions.

  /** (doc, 1-based pos, rolling hash) of every `minLen`-codepoint gram. */
  private def gramAnchors(docs: DataFrame, minLen: Int): DataFrame =
    docs.select(col("__id"),
        posexplode(graft.functions.TextExpressions.gramHashes(col("__t"), minLen)))
      .select(col("__id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("__h"))

  /** Real gram text for candidate (doc, pos) anchors — aggregates each
    * doc's candidate positions first so its text joins ONCE. */
  private def candidateGrams(docs: DataFrame, cand: DataFrame, minLen: Int): DataFrame = {
    val candPos = cand.groupBy("__id").agg(collect_list(col("pos")).as("__ps"))
    docs.join(candPos, "__id")
      .select(col("__id"), col("__t"), explode(col("__ps")).as("pos"))
      .select(col("__id"), col("pos"),
        substring(col("__t"), col("pos").cast("int"), lit(minLen)).as("__g"))
  }

  /** Keys (hashes or gram texts) carried by >= minDocs DISTINCT docs.
    * For the common minDocs=2, "in two distinct docs" is exactly
    * min(doc) != max(doc) — a single-phase agg with map-side combine
    * instead of countDistinct's two-level expansion (the dominant cost
    * of the anchor stage, measured in the spans scaling ladder). */
  private def multiDocKeys(df: DataFrame, keyCol: String, minDocs: Int): DataFrame =
    if (minDocs == 2)
      df.groupBy(keyCol).agg(min(col("__id")).as("__mn"), max(col("__id")).as("__mx"))
        .filter(col("__mn") =!= col("__mx")).select(keyCol)
    else
      df.groupBy(keyCol).agg(countDistinct(col("__id")).as("__nd"))
        .filter(col("__nd") >= minDocs).select(keyCol)

  /** Merge verified anchors (each covering [pos, pos+minLen-1]) into
    * maximal contiguous covered spans per doc: an anchor starts a new
    * island iff it begins past the running max end of all earlier
    * anchors + 1 (adjacency merges — the covered character set is what
    * is contiguous). Windows are doc-partitioned. */
  private def mergeAnchorSpans(anchors: DataFrame, minLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(minLen - 1).cast("long"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    anchors
      .withColumn("__brk",
        when(prevEnd.isNull || col("pos") > prevEnd + 1L, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__brk")).over(w))
      .groupBy(col("__id"), col("__island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(minLen - 1).cast("long")).as("span_end"))
      .select(col("__id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"))
  }

  /** Exact-verified duplicated-gram anchors WITH their gram text:
    * (__id, pos, __g) for every position whose gram occurs in >=
    * minDocs distinct docs. The shared core of [[duplicateSpans]] and
    * [[keepOneSpans]]. */
  private def verifiedGrams(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int): DataFrame = {
    val docs = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val anchors = gramAnchors(docs, minLen)
    val candH = multiDocKeys(anchors, "__h", minDocs)
    val cand = anchors.join(candH, Seq("__h"), "left_semi")
    // the candidate-gram frame feeds BOTH the verify aggregate and the
    // probe side of the semi join below; without pinning it, the whole
    // anchor lineage (two corpus scans + the per-doc extraction join)
    // executes twice (seen in the physical plan). It is candidate-sized
    // — true dup anchors plus ~n²/2⁶⁴ collisions — so pinning is cheap
    val grams = candidateGrams(docs, cand, minLen).localCheckpoint(true)
    val dupG = multiDocKeys(grams, "__g", minDocs)
    grams.join(dupG, Seq("__g"), "left_semi")
  }

  /** Maximal per-document character spans (1-based, inclusive, codepoint
    * units) covered by some `minLen`-gram occurring in >= `minDocs`
    * distinct documents. Output: (idCol, span_start, span_end, span_len). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int = 2): DataFrame = {
    require(minLen >= 1 && minDocs >= 2)
    val verified = verifiedGrams(df, idCol, textCol, minLen, minDocs)
      .select("__id", "pos")
    mergeAnchorSpans(verified, minLen).withColumnRenamed("__id", idCol)
  }

  /** The KEEP-ONE dedup policy (Lee et al.'s actual action: remove all
    * but one occurrence of each duplicated passage): every duplicated
    * gram is OWNED by the minimum doc id containing it and keeps all
    * its occurrences there; every other doc's occurrence is marked for
    * excision. Returns the non-owner span frame — feed it to
    * [[exciseSpans]]. A doc can own some grams and lose others; where
    * overlapping grams have different owners, any non-owned anchor
    * marks its whole window (deterministic; the union-of-windows
    * semantics spans share). The owner aggregate is one hash groupBy
    * on the (candidate-sized) verified-gram frame. */
  def keepOneSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int = 2): DataFrame = {
    require(minLen >= 1 && minDocs >= 2)
    val vg = verifiedGrams(df, idCol, textCol, minLen, minDocs)
      .localCheckpoint(true) // feeds the owner aggregate AND the probe
    val owners = vg.groupBy("__g").agg(min(col("__id")).as("__own"))
    val losing = vg.join(owners, "__g")
      .filter(col("__id") =!= col("__own")).select("__id", "pos")
    mergeAnchorSpans(losing, minLen).withColumnRenamed("__id", idCol)
  }

  /** Per-document duplicated-character budget from [[duplicateSpans]]:
    * total covered chars and their fraction of the doc (0 for clean
    * docs) — the "how much of my corpus is boilerplate" readout that
    * drives span-level filtering thresholds. */
  def duplicateSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minDocs: Int = 2): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, minLen, minDocs)
    val tot = spans.groupBy(idCol).agg(sum("span_len").as("__dc"))
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"))
      .join(tot, Seq(idCol), "left")
      .select(col(idCol), col("n_chars"),
        coalesce(col("__dc"), lit(0L)).as("dup_chars"),
        round(coalesce(col("__dc"), lit(0L)).cast("double") / col("n_chars"), 6)
          .as("dup_ratio"))
  }

  /** Intra-document repetition spans: maximal character regions covered
    * by a `minLen`-gram occurring at least twice WITHIN the same doc —
    * the degenerate/looping-text detector (periodic output covers
    * itself: "ababab…" is fully spanned). Same anchor→verify→merge
    * shape as [[duplicateSpans]], with per-(doc, gram) multiplicity as
    * the candidate rule; everything stays keyed by doc, so no
    * cross-doc shuffle at all. */
  def selfRepetitionSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 1)
    val docs = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val anchors = gramAnchors(docs, minLen)
    val candH = anchors.groupBy("__id", "__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("__id", "__h")
    val cand = anchors.join(candH, Seq("__id", "__h"), "left_semi")
    // candidate-sized; pinned for the same double-execution reason as
    // in duplicateSpans
    val grams = candidateGrams(docs, cand, minLen).localCheckpoint(true)
    val dupG = grams.groupBy("__id", "__g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("__id", "__g")
    val verified = grams.join(dupG, Seq("__id", "__g"), "left_semi")
      .select("__id", "pos")
    mergeAnchorSpans(verified, minLen).withColumnRenamed("__id", idCol)
  }

  /** Cut spans out of each document's text — the ACTION step after
    * detection ([[duplicateSpans]] boilerplate strip, or a caller's
    * keep-one policy applied to the span frame first). `spans` must be
    * per-doc non-overlapping with >= 1 char between them, which every
    * span producer here guarantees (island merge). Docs without spans
    * pass through; output is (idCol, clean_text). Row-local after one
    * per-doc span aggregation: the sorted span list folds over the
    * text in a single codegen'd HOF — no per-span joins, no window. */
  def exciseSpans(df: DataFrame, spans: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val sp = spans.groupBy(idCol).agg(
      sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("__sp"))
    val t = col(textCol)
    val stitched = aggregate(
      col("__sp"),
      struct(lit("").cast("string").as("c"), lit(0L).as("p")),
      (a, s) => struct(
        concat(a.getField("c"),
          substring(t, (a.getField("p") + 1L).cast("int"),
            greatest(s.getField("span_start") - a.getField("p") - 1L, lit(0L))
              .cast("int"))).as("c"),
        s.getField("span_end").as("p")),
      a => concat(a.getField("c"),
        substring(t, (a.getField("p") + 1L).cast("int"),
          greatest(length(t).cast("long") - a.getField("p"), lit(0L))
            .cast("int"))))
    df.join(sp, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__sp").isNull, t).otherwise(stitched).as("clean_text"))
  }

  /** Span-level decontamination: maximal spans of corpus documents whose
    * `minLen`-grams also occur in the test set — the exact-substring
    * counterpart of the doc-level [[contaminated]] (overlap with a
    * benchmark is a span property; whole-doc n-gram overlap both
    * under-reports long verbatim quotes inside big docs and over-reports
    * docs sharing only stock phrases). Output: (idCol, span_start,
    * span_end, span_len) over corpus docs. */
  def contaminatedSpans(corpus: DataFrame, testSet: DataFrame, idCol: String,
      textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 1)
    val cDocs = corpus.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val tDocs = testSet.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val cAnch = gramAnchors(cDocs, minLen)
    val tAnch = gramAnchors(tDocs, minLen)
    // hashes present on both sides gate BOTH extraction passes; pinned
    // (small) so the two gate probes don't each recompute both scans
    val sharedH = cAnch.select("__h").distinct()
      .join(tAnch.select("__h").distinct(), Seq("__h"), "left_semi")
      .localCheckpoint(true)
    val cGrams = candidateGrams(cDocs, cAnch.join(sharedH, Seq("__h"), "left_semi"), minLen)
    val tGrams = candidateGrams(tDocs, tAnch.join(sharedH, Seq("__h"), "left_semi"), minLen)
      .select("__g").distinct()
    val verified = cGrams.join(tGrams, Seq("__g"), "left_semi").select("__id", "pos")
    mergeAnchorSpans(verified, minLen).withColumnRenamed("__id", idCol)
  }
}

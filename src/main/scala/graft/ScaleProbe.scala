package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the dedup/curate family: inflates the
  * documents table ×1/×2/×4/×8 and measures wall-clock for
  * `Dedup.minhashLshPairs` and `Pipelines.curateCorpus` at each factor,
  * converting the "near-linear at scale" design argument into data.
  *
  * Inflation preserves the workload's SHAPE instead of its bytes: replica
  * r shifts ids past the original range and prefixes every token with
  * `r<r>`, so replicas are NOT near-duplicates of each other (every
  * shingle differs) while each replica reproduces the original corpus's
  * internal dup structure exactly — the true near-dup pair count scales
  * exactly ×N, which is what makes the wall-time slope interpretable.
  * (Union with verbatim copies would instead grow pairs quadratically in
  * N — a property of that synthetic data, not of the operator.)
  *
  * Also reports the LSH bucket-cap hit count (buckets over
  * `maxBucketSize` that the skew guard drops) at each factor.
  *
  * Output: one JSON line per factor on stdout. Not part of CI — run
  * manually: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ScaleProbe"`.
  */
object ScaleProbe {

  /** Shingle-disjoint ×n corpus inflation (see object doc): replica r
    * shifts ids past `maxId` and prefixes every token with `r<r>`, so
    * replicas share no shingles while each reproduces the original's
    * internal dup structure — true near-dup pairs scale exactly ×n.
    * Shared with ScaleProbeSpec so the CI re-run of a scaling-table row
    * exercises the identical inflation code. */
  def inflate(docs: DataFrame, maxId: Long, n: Int): DataFrame =
    (0 until n).map { r =>
      if (r == 0) docs
      else docs.select(
        (col("doc_id") + lit(r * maxId)).as("doc_id"),
        // prefix EVERY token: replicas share no shingles with each
        // other or the original, so near-dup structure is per-replica
        regexp_replace(col("text"), "([A-Za-z0-9]+)", s"r$r$$1").as("text"),
        col("lang"))
    }.reduce(_ unionByName _)

  /** Near-dup DENSIFIED corpus for the dense-pairs probe: every doc with
    * `doc_id % every == 0` gains `copies` near-duplicate variants (ids
    * shifted past `maxId` per variant, text prefixed with a 3-token
    * variant-distinct filler — a long doc keeps shingle-Jaccard well
    * above threshold), so the true pair volume is ≈ C(copies+1, 2)/every
    * pairs per corpus row ON TOP of the corpus's own near-dup structure.
    * This is the regime where the pairs table rivals the postings
    * sidecar in stored volume — what the symmetric `__ab` layout's 2×
    * row cost is paid in — and density is uniform across replicas, so
    * pairs still scale exactly ×n under [[inflate]]. */
  def densify(docs: DataFrame, maxId: Long, every: Int,
      copies: Int): DataFrame =
    docs.select("doc_id", "text").unionByName(
      (1 to copies).map { r =>
        docs.filter(col("doc_id") % every === 0)
          .select((col("doc_id") + lit(r * maxId)).as("doc_id"),
            concat(lit(s"dv$r vq$r zz$r "), col("text")).as("text"))
      }.reduce(_ unionByName _))

  /** Events inflation for the profiling / rolling-sketch probes: replica
    * r shifts event_id and user_id past their max while keeping
    * timestamps — each replica reproduces the original key-frequency
    * histogram over fresh keys (n_keys/n_rows scale exactly ×n,
    * max/avg frequency invariant) and per-day distinct users scale
    * exactly ×n, which is what makes the measured slope and the
    * exactness pins in ScaleProbeSpec interpretable. */
  def inflateEvents(ev: DataFrame, maxEvent: Long, maxUser: Long,
      n: Int): DataFrame =
    (0 until n).map { r =>
      if (r == 0) ev
      else ev.select(
        (col("event_id") + lit(r * maxEvent)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r * maxUser)).as("user_id"),
        col("event_type"), col("value"))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0) + 1

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // `timed` plus the input-bytes delta (sum of task inputMetrics
    // .bytesRead) over the region — the I/O counter behind the
    // flat-maintain/flat-search claims: wall-clock can flatter a scan
    // that merely got faster, bytes read cannot. The bus is drained
    // before and after so the delta covers exactly the region.
    val probeBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            { probeBytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead); () }
      })
    def timedBytes[A](f: => A): (A, Double, Long) = {
      org.apache.spark.GraftListenerBridge.drainListenerBus(
        spark.sparkContext, 30000)
      val b0 = probeBytes.get()
      val t0 = System.nanoTime()
      val a = f
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftListenerBridge.drainListenerBus(
        spark.sparkContext, 30000)
      (a, sec, probeBytes.get() - b0)
    }

    val factors = sys.env.get("SPARK_GRAFT_FACTORS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 2, 4, 8))
    // SPARK_GRAFT_FAMILIES=dedup,profiling,behavioral,basket,ann
    // restricts which probe families run (default: all)
    val families = sys.env.get("SPARK_GRAFT_FAMILIES")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("dedup", "profiling", "behavioral", "basket", "ann",
        "stats", "hamming", "ivm", "skyline", "gains", "spans", "joinivm",
        "feedreplay", "dedupidx", "dedupidxp", "dedupidxpd", "mvrewrite",
        "annidx"))
    // SPARK_GRAFT_SKEW=0.3 prepends a fixed 50-token boilerplate
    // paragraph to that fraction of docs (chosen by a deterministic id
    // hash) — the degenerate-bucket scenario the maxBucketSize guard
    // exists for: every affected doc shares the boilerplate shingles, so
    // their band buckets blow past the cap and are DROPPED instead of
    // self-joining quadratically (0.3 × 40k docs sharing ~48 shingles
    // would otherwise be ~10^8 candidate pairs from those buckets alone).
    // The probe shows capped_buckets > 0 and a bounded wall-time.
    val skew = sys.env.get("SPARK_GRAFT_SKEW").map(_.toDouble).getOrElse(0.0)
    val boiler = (1 to 50).map(i => s"boilerplate$i").mkString(" ") + " "
    // SPARK_GRAFT_NOCAP=1 disables the bucket cap — the control run that
    // shows what the guard is saving (quadratic candidate generation)
    val maxBucketSize =
      if (sys.env.get("SPARK_GRAFT_NOCAP").contains("1")) Int.MaxValue
      else 1000
    if (families("dedup")) factors.foreach { n =>
      // materialize the inflated corpus OUTSIDE the timed region (the
      // probe measures the operators, not the inflation regex)
      val base = inflate(docs, maxId, n)
      val skewed =
        if (skew <= 0) base
        else base.withColumn("text",
          // the canonical deterministic row hash (same rule/constant as
          // weightedMixtureSample), thresholded at the skew fraction
          when(graft.ops.ScaleOps.knuthHash(col("doc_id")) <
              math.floor(skew * 4294967296.0).toLong,
            concat(lit(boiler), col("text"))).otherwise(col("text")))
      val d = skewed.localCheckpoint(true)
      val rows = d.count()

      val (nPairs, pairsSec) = timed {
        graft.operators.Dedup.minhashLshPairs(
          d, "doc_id", "text", shingleN = 3, k = 64, bands = 16,
          threshold = 0.7, maxBucketSize = maxBucketSize).count()
      }

      // skew-guard audit: how many (band, bucket) groups exceed the cap
      // (the ones minhashLshPairs drops before its self-join)
      val banded = d.select(col("doc_id"),
        posexplode(graft.functions.HashExpressions.minhashBands(
          graft.functions.TextFunctions.shingles(col("text"), 3), 64, 16)))
      val cappedBuckets = banded.groupBy("pos", "col")
        .agg(count(lit(1)).as("c")).filter(col("c") > maxBucketSize).count()

      val (nSurvivors, curateSec) = timed {
        graft.pipelines.Pipelines.curateCorpus(
          d, "doc_id", "text", "lang", keepLangs = Seq("en"),
          minQuality = 0.6,
          evalPatterns = Seq("merge batch", "fast table", "hash value",
            "row fast")).count()
      }

      println(s"""{"factor":$n,"rows":$rows,"pairs_sec":${f"$pairsSec%.2f"},""" +
        s""""n_pairs":$nPairs,"capped_buckets":$cappedBuckets,""" +
        s""""curate_sec":${f"$curateSec%.2f"},"n_survivors":$nSurvivors}""")
    }

    // ---- Persistent dedup-index family: the claim is that MAINTAIN
    // cost tracks the CHANGE BATCH, not the corpus. The corpus grows ×n
    // (disjoint id-shifted replicas) while the batch is fixed on
    // replica-0 keys, so build cost must grow ~linearly and maintain
    // cost must stay flat — the nightly-ingest economics DedupIndex
    // exists for. The recompute column is what a batch re-run would
    // cost at each factor (the cost being avoided). pairs equality
    // (n_pairs == n_batch_pairs) doubles as an at-scale equivalence
    // check of the incremental rule.
    if (families("dedupidx")) factors.foreach { n =>
      val base = inflate(docs, maxId, n).select("doc_id", "text")
        .localCheckpoint(true)
      val rows = base.count()
      val root = "/tmp/graft_tables/scaleprobe_didx"
      val t = graft.table.LakeTable(spark, root, s"didx_docs_$n",
        Seq("doc_id"), changeFeed = true)
      t.drop()
      val di = graft.table.DedupIndex(spark, root, s"didx_$n",
        maxBucketSize = maxBucketSize)
      t.create(base)
      val (_, buildSec) = timed { di.build(t.read, "doc_id", "text") }
      val v0 = t.version
      // fixed batch: in-place rewrites, fresh inserts cloned from
      // replica-0 text (guaranteed new near-dup pairs), deletes
      val updates = docs.filter(col("doc_id") % 31 === 5)
        .select(col("doc_id"),
          concat(lit("zq xv wq "), col("text")).as("text"))
      val inserts = docs.filter(col("doc_id") % 37 === 11)
        .select((col("doc_id") + lit(64L * maxId)).as("doc_id"), col("text"))
      t.upsert(updates.unionByName(inserts))
      t.delete(col("doc_id") % 41 === 3 && col("doc_id") < maxId)
      val feedRows = t.changesSince(v0).count()
      val (_, maintainSec) = timed { di.maintain(t, "doc_id", "text", v0) }
      val nPairs = di.pairs.read.count()
      val (nBatchPairs, recomputeSec) = timed {
        graft.operators.Dedup.minhashLshPairs(t.read, "doc_id", "text",
          shingleN = 3, k = 64, bands = 16, threshold = 0.7,
          maxBucketSize = maxBucketSize).count()
      }
      println(s"""{"factor":$n,"rows":$rows,"feed_rows":$feedRows,""" +
        s""""build_sec":${f"$buildSec%.2f"},""" +
        s""""maintain_sec":${f"$maintainSec%.2f"},""" +
        s""""recompute_sec":${f"$recomputeSec%.2f"},""" +
        s""""n_pairs":$nPairs,"n_batch_pairs":$nBatchPairs}""")
    }

    // ---- Pruned-probe dedup-index family: the SERVING regime — a
    // fixed ~8-doc micro-batch against a corpus growing ×n, with the
    // postings sidecar sized ∝ corpus (rows×bands/2500 partitions) and
    // the packed index id-hash-partitioned. The claim: the probe reads
    // ≤ batch×bands posting partitions and the packed merge rewrites
    // ≤ batch id-partitions REGARDLESS of corpus size, so small-batch
    // maintain stays ~flat where a corpus-scan probe and full-table
    // merge would grow ×n. (For BULK batches pruning is
    // information-theoretically void — b×bands uniform buckets touch
    // every block; see DedupIndex's class doc. The standard `dedupidx`
    // family measures that regime; this one measures where pruning can
    // work at all.)
    if (families("dedupidxp")) factors.foreach { n =>
      val base = inflate(docs, maxId, n).select("doc_id", "text")
        .localCheckpoint(true)
      val rows = base.count()
      // SPARK_GRAFT_LIFT_CLAMPS=1 lifts the sizing's upper clamps — the
      // control leg for the clamp-saturation hypothesis (at large ×n the
      // defaults saturate, partitions grow with the corpus, and any
      // bytes slope could be clamp-induced rather than algorithmic)
      val lift = sys.env.get("SPARK_GRAFT_LIFT_CLAMPS").contains("1")
      val sized =
        if (lift) graft.table.DedupIndex.sizedParts(rows, bands = 16,
          maxPostingParts = 1 << 20, maxIdParts = 1 << 20)
        else graft.table.DedupIndex.sizedParts(rows, bands = 16)
      val (pParts, iParts) = (sized.postingParts, sized.idParts)
      val dParts = sized.idParts // docs rows ≈ packed-index rows
      val root = "/tmp/graft_tables/scaleprobe_didxp"
      // the DOCS table itself is id-hash-bucketed (DocBuckets.Bucketed
      // handle owns the layout): the maintainer's snapshot text fetches
      // — previously the residual O(corpus) slope of this ladder — open
      // only the touched ids' bucket partitions, measured below as
      // bytes_read
      val b = graft.table.DocBuckets.bucketed(spark, root,
        s"didxp_docs_$n", "doc_id", dParts)
      b.drop()
      val di = graft.table.DedupIndex(spark, root, s"didxp_$n",
        maxBucketSize = maxBucketSize, postingParts = pParts,
        idParts = iParts, docParts = dParts, pairParts = sized.pairParts)
      b.create(base)
      val (_, buildSec) = timed { di.build(b.read, "doc_id", "text") }
      val v0 = b.version
      // fixed micro-batch: ~8 in-place rewrites from replica 0
      b.upsert(docs.filter(col("doc_id") % 613 === 5)
        .select(col("doc_id"),
          concat(lit("zq xv wq "), col("text")).as("text")))
      val batchDocs = b.changesSince(v0)
        .select("doc_id").distinct().count()
      val corpusBytes = b.table.describeDetail
        .filter(col("is_current")).select("bytes").head().getLong(0)
      val (_, maintainSec, maintainBytes) =
        timedBytes { di.maintain(b.table, "doc_id", "text", v0) }
      val nPairs = di.currentPairs.count()
      println(s"""{"family":"dedupidxp","factor":$n,"rows":$rows,""" +
        s""""posting_parts":$pParts,"id_parts":$iParts,""" +
        s""""doc_parts":$dParts,"pair_parts":${sized.pairParts},""" +
        s""""clamps_lifted":$lift,"batch_docs":$batchDocs,""" +
        s""""corpus_bytes":$corpusBytes,""" +
        s""""build_sec":${f"$buildSec%.2f"},""" +
        s""""maintain_small_sec":${f"$maintainSec%.2f"},""" +
        s""""maintain_bytes":$maintainBytes,"n_pairs":$nPairs}""")
    }

    // ---- DENSE-pairs serving family: same fixed-micro-batch regime as
    // `dedupidxp`, but the corpus is densified (densify: every 3rd doc
    // gains 4 near-dup variants → ~10/3 true pairs per corpus row) so
    // the stored pairs table — 2× rows under the symmetric __ab layout —
    // rivals the postings sidecar in volume instead of being "the
    // cheapest table of the three". The claim under test: the stale-pair
    // lookup's pruned __ab slice and the pairs merge's touched-partition
    // rewrite keep maintain bytes flat in CORPUS size even when pair
    // volume is no longer negligible (pair bytes scale ×n, the per-batch
    // touched slice doesn't).
    if (families("dedupidxpd")) factors.foreach { n =>
      val base = densify(inflate(docs, maxId, n).select("doc_id", "text"),
        maxId * n, every = 3, copies = 4).localCheckpoint(true)
      val rows = base.count()
      // SPARK_GRAFT_LIFT_CLAMPS control leg, same role as in dedupidxp:
      // separates clamp-saturation slope from algorithmic slope
      val lift = sys.env.get("SPARK_GRAFT_LIFT_CLAMPS").contains("1")
      val sized =
        if (lift) graft.table.DedupIndex.sizedParts(rows, bands = 16,
          maxPostingParts = 1 << 20, maxIdParts = 1 << 20)
        else graft.table.DedupIndex.sizedParts(rows, bands = 16)
      val root = "/tmp/graft_tables/scaleprobe_didxpd"
      val b = graft.table.DocBuckets.bucketed(spark, root,
        s"didxpd_docs_$n", "doc_id", sized.idParts)
      b.drop()
      val di = graft.table.DedupIndex(spark, root, s"didxpd_$n",
        maxBucketSize = maxBucketSize, postingParts = sized.postingParts,
        idParts = sized.idParts, docParts = sized.idParts,
        pairParts = sized.pairParts)
      b.create(base)
      val (_, buildSec) = timed { di.build(b.read, "doc_id", "text") }
      val v0 = b.version
      // fixed micro-batch: ~1/3 of the touched docs are dense bases, so
      // the batch's stale-pair slice and pair re-derivation actually
      // exercise the dense volume
      b.upsert(docs.filter(col("doc_id") % 613 === 5)
        .select(col("doc_id"),
          concat(lit("zq xv wq "), col("text")).as("text")))
      val batchDocs = b.changesSince(v0)
        .select("doc_id").distinct().count()
      def tableBytes(t: graft.table.LakeTable): Long = t.describeDetail
        .filter(col("is_current")).select("bytes").head().getLong(0)
      val pairsBytes = tableBytes(di.pairs)
      val postingsBytes = di.postings.map(tableBytes).getOrElse(0L)
      val (_, maintainSec, maintainBytes) =
        timedBytes { di.maintain(b.table, "doc_id", "text", v0) }
      val nPairs = di.currentPairs.count()
      println(s"""{"family":"dedupidxpd","factor":$n,"rows":$rows,""" +
        s""""posting_parts":${sized.postingParts},""" +
        s""""id_parts":${sized.idParts},"pair_parts":${sized.pairParts},""" +
        s""""clamps_lifted":$lift,"batch_docs":$batchDocs,""" +
        s""""pairs_bytes":$pairsBytes,"postings_bytes":$postingsBytes,""" +
        s""""build_sec":${f"$buildSec%.2f"},""" +
        s""""maintain_small_sec":${f"$maintainSec%.2f"},""" +
        s""""maintain_bytes":$maintainBytes,"n_pairs":$nPairs}""")
    }

    // ---- MV-rewrite family: the measured claim behind plans.MvRewrite
    // — an aggregation over the base costs O(base) while the SAME query
    // served by the maintained view costs O(groups), so the gap must
    // WIDEN as the base inflates ×n (group count grows too, but each
    // group's row fan-in is what the rewrite deletes). The distinct
    // column is the headline: count(DISTINCT) forces a second shuffle
    // on (group, value) at base scale and becomes a column read.
    if (families("mvrewrite")) {
      val orders = Tables.load(spark, sfDir, "orders")
      val maxOk = orders.agg(max("o_orderkey")).head().getLong(0) + 1
      val maxCk = orders.agg(max("o_custkey")).head().getLong(0) + 1
      factors.foreach { n =>
        val base = (0 until n).map { r =>
          if (r == 0) orders
          else orders.select(
            (col("o_orderkey") + lit(r * maxOk)).as("o_orderkey"),
            (col("o_custkey") + lit(r * maxCk)).as("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
            col("o_orderpriority"))
        }.reduce(_ unionByName _)
        val root = "/tmp/graft_tables/scaleprobe_mv"
        val t = graft.table.LakeTable(spark, root, s"mv_base_$n",
          Seq("o_orderkey"), changeFeed = true)
        val v = graft.table.LakeTable(spark, root, s"mv_view_$n",
          Seq("o_custkey"))
        val aux = graft.table.LakeTable(spark, root, s"mv_aux_$n",
          Seq("o_custkey", "__v"))
        val vf = graft.table.LakeTable(spark, root, s"mv_viewf_$n",
          Seq("o_custkey"))
        t.drop(); v.drop(); aux.drop(); vf.drop()
        t.create(base)
        val rows = t.read.count()
        val v0 = t.version
        v.create(graft.table.IncrementalView.minMaxView(
          t.read, Seq("o_custkey"), "o_totalprice"))
        graft.table.IncrementalView.createFullStatsAux(aux,
          t.read, Seq("o_custkey"), "o_totalprice")
        vf.create(graft.table.IncrementalView.fullStatsView(
          t.read, Seq("o_custkey"), "o_totalprice"))
        // one real (tiny) churn batch, then maintain — the maintains
        // plant the freshness markers atomically with their merges
        t.upsert(orders.filter(col("o_orderkey") % 1009 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * 2))
        graft.table.IncrementalView.maintainMinMaxView(t, v,
          Seq("o_custkey"), "o_totalprice", v0,
          meta = graft.plans.MvRewrite.syncMeta(t.version))
        graft.table.IncrementalView.maintainFullStatsView(t, aux, vf,
          Seq("o_custkey"), "o_totalprice", v0,
          meta = graft.plans.MvRewrite.syncMeta(t.version))
        graft.plans.GraftOptimizations.install(spark)
        val vDec = col("o_totalprice").cast("decimal(20,4)")
        val v18 = col("o_totalprice").cast("decimal(18,4)")
        def aggQ = t.read.groupBy("o_custkey").agg(
          count(lit(1)).as("n"), sum(vDec).as("s"),
          min(vDec).as("mn"), max(vDec).as("mx"))
        def distQ = t.read.groupBy("o_custkey").agg(
          countDistinct(v18).as("nd"), sum(v18).as("s"))
        graft.plans.MvRewrite.unregister(t)
        val (nGroups, baseAggSec) = timed { aggQ.count() }
        val (_, baseDistSec) = timed { distQ.count() }
        graft.plans.MvRewrite.register(t, v, Seq("o_custkey"),
          "o_totalprice", graft.plans.MvRewrite.MinMaxKind)
        val (_, viewAggSec) = timed { aggQ.count() }
        graft.plans.MvRewrite.register(t, vf, Seq("o_custkey"),
          "o_totalprice", graft.plans.MvRewrite.FullStatsKind)
        val (_, viewDistSec) = timed { distQ.count() }
        graft.plans.MvRewrite.unregister(t)
        println(s"""{"factor":$n,"rows":$rows,"groups":$nGroups,""" +
          s""""base_agg_sec":${f"$baseAggSec%.2f"},""" +
          s""""view_agg_sec":${f"$viewAggSec%.2f"},""" +
          s""""base_distinct_sec":${f"$baseDistSec%.2f"},""" +
          s""""view_distinct_sec":${f"$viewDistSec%.2f"}}""")
      }
    }

    // ---- Persistent ANN-index family: the claim behind partitioning
    // the inverted file by cell — SEARCH cost tracks nProbe, not corpus
    // size, once cells are sized the standard IVF way (nCells ∝ corpus,
    // so cells hold ~constant rows). The corpus inflates ×n with
    // shifted ids, the index is built per leg with nCells = 8n, and a
    // fixed 16-query batch probes nProbe = 2: the partition-pruned
    // inverted-file read opens ~2/(8n) of the corpus, so search stays
    // flat while rows (and the full-probe search, the control column)
    // grow ×n. Before the pruning, search scanned the whole assign
    // table at ANY nProbe.
    if (families("annidx")) {
      val emb = Tables.load(spark, sfDir, "embeddings")
        .select("vec_id", "embedding")
      val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
      factors.foreach { n =>
        val corpus = (0 until n).map { r =>
          if (r == 0) emb
          else emb.select((col("vec_id") + lit(r * maxVec)).as("vec_id"),
            col("embedding"))
        }.reduce(_ unionByName _).localCheckpoint(true)
        val rows = corpus.count()
        val dParts = graft.table.DedupIndex.sizedParts(rows, 16).idParts
        val root = "/tmp/graft_tables/scaleprobe_annidx"
        // vector table id-hash-bucketed (DocBuckets.Bucketed handle):
        // the maintainer's touched-vector fetch opens only the batch
        // ids' partitions
        val b = graft.table.DocBuckets.bucketed(spark, root,
          s"annidx_docs_$n", "vec_id", dParts)
        b.drop()
        val ai = graft.table.AnnIndex(spark, root, s"annidx_$n",
          nCells = 8 * n, docParts = dParts, idParts = dParts)
        b.create(corpus)
        val (_, buildSec) = timed { ai.build(b.read, "vec_id", "embedding") }
        val v0 = b.version
        // fixed micro-batch maintain: ~8 in-place vector flips
        b.upsert(emb.filter(col("vec_id") % 613 === 5)
          .withColumn("embedding", transform(col("embedding"), x => -x)))
        val corpusBytes = b.table.describeDetail
          .filter(col("is_current")).select("bytes").head().getLong(0)
        val (_, maintainSec, maintainBytes) =
          timedBytes { ai.maintain(b.table, "vec_id", "embedding", v0) }
        val queries = emb.filter(col("vec_id") < 16).localCheckpoint(true)
        val (nHits, searchSec, searchBytes) = timedBytes {
          ai.search(queries, "vec_id", "embedding", k = 5, nProbe = 2).count()
        }
        val (_, fullSec) = timed {
          ai.search(queries, "vec_id", "embedding", k = 5,
            nProbe = 8 * n).count()
        }
        println(s"""{"family":"annidx","factor":$n,"rows":$rows,""" +
          s""""n_cells":${8 * n},"doc_parts":$dParts,""" +
          s""""corpus_bytes":$corpusBytes,""" +
          s""""build_sec":${f"$buildSec%.2f"},""" +
          s""""maintain_sec":${f"$maintainSec%.2f"},""" +
          s""""maintain_bytes":$maintainBytes,""" +
          s""""search_nprobe2_sec":${f"$searchSec%.2f"},""" +
          s""""search_bytes":$searchBytes,""" +
          s""""search_full_sec":${f"$fullSec%.2f"},"n_hits":$nHits}""")
      }
    }

    // ---- Profiling / rolling-sketch family (round-7 additions): same
    // factor ladder over shape-preserving events inflation. Expected
    // slopes: keySkewProfile ~linear (one count-agg + one single-row
    // reduce), tableProfile ~linear (one stacked agg), rollingKmvDistinct
    // ~linear in events with a calendar-bounded sketch-merge tail.
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val maxEvent = ev.agg(max("event_id")).head().getLong(0) + 1
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    if (families("profiling")) factors.foreach { n =>
      val d = inflateEvents(ev, maxEvent, maxUser, n).localCheckpoint(true)
      val rows = d.count()
      val (_, skewSec) = timed {
        graft.operators.Profiling.keySkewProfile(d, "user_id").collect()
      }
      val (_, profSec) = timed {
        graft.operators.Profiling.tableProfile(d,
          Seq("user_id", "event_type", "value"), k = 256).collect()
      }
      val (nWindows, rollSec) = timed {
        graft.ops.ScaleOps.rollingKmvDistinct(
          d.withColumn("day", to_date(col("ts"))), "day", "user_id",
          windowDays = 7, k = 1024).count()
      }
      println(s"""{"family":"profiling","factor":$n,"rows":$rows,""" +
        s""""key_skew_sec":${f"$skewSec%.2f"},""" +
        s""""table_profile_sec":${f"$profSec%.2f"},""" +
        s""""rolling_kmv_sec":${f"$rollSec%.2f"},"n_windows":$nWindows}""")
    }

    // ---- Behavioral / basket family (round-8 waves 3–5): events
    // inflation drives the 3-step sequence miner and multi-touch
    // attribution (both frontiers are events × per-user profile —
    // |types| fixed → expected ~linear slope); lineitem inflation with
    // shifted order AND part keys drives the co-purchase pair base of
    // item-item CF (per-replica basket structure identical on disjoint
    // item spaces → candidate pairs exactly ×n, the ScaleProbeSpec pin).
    if (families("behavioral")) factors.foreach { n =>
      val d = inflateEvents(ev, maxEvent, maxUser, n).localCheckpoint(true)
      val rows = d.count()
      val (nTriples, seqSec) = timed {
        graft.operators.EventOps.sequenceTripleSupport(
          d, "user_id", "event_type", "ts").count()
      }
      val (nAttr, attrSec) = timed {
        graft.operators.EventOps.multiTouchAttribution(
          d, "user_id", "event_type", "ts", "event_id", "purchase", 3)
          .count()
      }
      println(s"""{"family":"behavioral","factor":$n,"rows":$rows,""" +
        s""""seq3_sec":${f"$seqSec%.2f"},"n_triples":$nTriples,""" +
        s""""attribution_sec":${f"$attrSec%.2f"},"n_touch_types":$nAttr}""")
    }

    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey")
    val maxOrd = li.agg(max("l_orderkey")).head().getLong(0) + 1
    val maxPart = li.agg(max("l_partkey")).head().getLong(0) + 1
    if (families("basket")) factors.foreach { n =>
      val d = (0 until n).map { r =>
        if (r == 0) li
        else li.select(
          (col("l_orderkey") + lit(r * maxOrd)).as("l_orderkey"),
          (col("l_partkey") + lit(r * maxPart)).as("l_partkey"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val rows = d.count()
      val sets = d.groupBy("l_orderkey")
        .agg(array_sort(collect_set(col("l_partkey").cast("string")))
          .as("ps"))
      val (nPairs2, cfSec) = timed {
        SparkEntry.supportPrunedPairs(sets, 2).count()
      }
      println(s"""{"family":"basket","factor":$n,"rows":$rows,""" +
        s""""copurchase_pairs_sec":${f"$cfSec%.2f"},"n_pairs":$nPairs2}""")
    }

    // ---- Stats family (round-8 late wave): Poisson bootstrap is ONE
    // explode×B pass with map-side partial aggregation (shuffle rows =
    // |types|·B, invariant in n — expected ~linear wall); Holt folds a
    // calendar-bounded daily series (the daily agg dominates).
    if (families("stats")) factors.foreach { n =>
      val d = inflateEvents(ev, maxEvent, maxUser, n).localCheckpoint(true)
      val rows = d.count()
      val (nCi, bootSec) = timed {
        graft.operators.Stats.poissonBootstrap(d, Seq("event_type"),
          "event_id", "value", replicates = 40).count()
      }
      val (nFc, holtSec) = timed {
        graft.operators.Stats.holtLinearDaily(d, "event_type", "ts").count()
      }
      println(s"""{"family":"stats","factor":$n,"rows":$rows,""" +
        s""""bootstrap_sec":${f"$bootSec%.2f"},"n_ci_rows":$nCi,""" +
        s""""holt_sec":${f"$holtSec%.2f"},"n_forecast_rows":$nFc}""")
    }

    // ---- Hamming-fingerprint family (round-8 late wave): synthetic
    // 64-bit fingerprints (xxhash64 of event ids) with a planted twin at
    // Hamming 2 for 1-in-100 ids; each replica id-shifts AND XORs a
    // seeded random mask — XOR by a constant preserves all WITHIN-replica
    // distances (pair set replicates exactly ×n) while cross-replica
    // distances sit near 32 bits (no cross pairs at the threshold), so
    // constant pair density is provable and the banded join's slope is
    // the operator's, not the data's.
    //
    // Band width is the scale knob: expected RANDOM bucket collisions are
    // bands·n²/2^(bits/bands+1), so 8-bit chunks (bands=8) melt down past
    // ~10⁵ uniform fingerprints (measured: the ×64 run at bands=8 would
    // generate ~10¹¹ candidates). The probe runs the corpus-sized config
    // — bands=4 → 16-bit chunks, maxHamming=3 — the same width/threshold
    // trade a production pHash dedup makes; a 10⁸+ corpus moves to
    // 32-bit chunks (bands=2, maxHamming=1) or a multi-index scheme.
    if (families("hamming")) factors.foreach { n =>
      val idsBase = ev.select(col("event_id").as("id"))
        .withColumn("h", xxhash64(col("id")))
      val twins = idsBase.filter(col("id") % 100 === 0)
        .select((col("id") + lit(1000000000L)).as("id"),
          col("h").bitwiseXOR(lit(3L)).as("h"))
      val f0 = idsBase.unionByName(twins)
      val rnd = new scala.util.Random(42)
      val masks = (0 until n).map(_ => rnd.nextLong())
      val d = (0 until n).map { r =>
        if (r == 0) f0
        else f0.select((col("id") + lit(r * 4000000000L)).as("id"),
          col("h").bitwiseXOR(lit(masks(r))).as("h"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val rows = d.count()
      val (nPairs, hamSec) = timed {
        graft.operators.Dedup.hammingPairs(d, "id", "h",
          bits = 64, bands = 4, maxHamming = 3).count()
      }
      // multi-index variant at the same corpus: 6 tables keyed on
      // 32-bit chunk pairs (t = blocks - maxHamming = 2) — the >1e8
      // scale path; planted twins are Hamming-2 so the true pair set
      // matches the single-chunk run's
      val (nPairsM, hamMSec) = timed {
        graft.operators.Dedup.hammingPairsMultiIndex(d, "id", "h",
          bits = 64, blocks = 4, maxHamming = 2).count()
      }
      // candidate-volume accounting, derived INDEPENDENTLY of the
      // operator internals: Σ_buckets C(size,2) per indexing scheme —
      // the shuffle the verify stage actually pays. This is the number
      // the bands·n²/2^(width+1) sizing rule predicts; the probe
      // measures it instead of trusting the formula.
      val chunk = 16
      def chunkCol(b: Int) =
        shiftrightunsigned(col("h"), b * chunk).bitwiseAND(lit(0xffffL))
      def cands(keys: Seq[org.apache.spark.sql.Column]): Long =
        d.select(explode(array(keys.zipWithIndex.map { case (k, i) =>
            struct(lit(i).as("band"), k.as("k")) }: _*)).as("bk"))
          .groupBy("bk").count()
          .agg(sum(shiftright(col("count") * (col("count") - 1), 1)))
          .head().getLong(0)
      val candSingle = cands((0 until 4).map(chunkCol))
      val candMulti = cands((0 until 4).combinations(2).toSeq.map(idxs =>
        idxs.map(chunkCol).reduceLeft((a, c) =>
          shiftleft(a, chunk).bitwiseOR(c))))
      println(s"""{"family":"hamming","factor":$n,"rows":$rows,""" +
        s""""hamming_sec":${f"$hamSec%.2f"},"n_pairs":$nPairs,""" +
        s""""hamming_multi_sec":${f"$hamMSec%.2f"},"n_pairs_multi":$nPairsM,""" +
        s""""cand_single":$candSingle,"cand_multi":$candMulti}""")
    }

    // ---- ANN family (round-8): corpus inflation by id-shifted replicas
    // (identical vectors, distinct ids — each query's true top-k set is
    // invariant up to replica ids, and result size is always
    // |queries|·k). Expected slopes: both scans ~linear in corpus; the
    // int8 path trades a constant factor (quantize once, integer dots)
    // and must not diverge from the float slope.
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    if (families("ann")) factors.foreach { n =>
      val corpus = (0 until n).map { r =>
        if (r == 0) emb
        else emb.select((col("vec_id") + lit(r * maxVec)).as("vec_id"),
          col("embedding"))
      }.reduce(_ unionByName _).localCheckpoint(true)
      val rows = corpus.count()
      val q = emb.filter(col("vec_id") < 16)
      val (nBrute, bruteSec) = timed {
        graft.operators.Similarity.bruteForceTopK(
          q, corpus, "vec_id", "embedding", k = 5).count()
      }
      val (nInt8, int8Sec) = timed {
        graft.operators.Similarity.int8TopK(
          q, corpus, "vec_id", "embedding", k = 5).count()
      }
      println(s"""{"family":"ann","factor":$n,"rows":$rows,""" +
        s""""brute_sec":${f"$bruteSec%.2f"},"n_brute":$nBrute,""" +
        s""""int8_sec":${f"$int8Sec%.2f"},"n_int8":$nInt8}""")
    }

    // ---- IVM family (round-9): the O(changes) claim, measured. The
    // BASE inflates ×N (orderkey+custkey shifted per replica) while the
    // CHANGE BATCH stays FIXED (replica-0 keys only), so feed_rows must
    // be INVARIANT across factors — the data volume maintenance
    // actually consumes. maintain_sec = feed-driven delta maintenance
    // (write-time CDF: no snapshot diff); recompute_sec = the full
    // re-aggregation the reference pays per run, growing linearly with
    // the base. The remaining growth in maintain_sec is the view
    // rewrite (O(|view|) at lab scale — bounded by group count, not
    // base rows).
    if (families("ivm")) {
      val orders = Tables.load(spark, sfDir, "orders")
      val maxOk = orders.agg(max("o_orderkey")).head().getLong(0) + 1
      val maxCk = orders.agg(max("o_custkey")).head().getLong(0) + 1
      factors.foreach { n =>
        val base = (0 until n).map { r =>
          if (r == 0) orders
          else orders.select(
            (col("o_orderkey") + lit(r * maxOk)).as("o_orderkey"),
            (col("o_custkey") + lit(r * maxCk)).as("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
            col("o_orderpriority"))
        }.reduce(_ unionByName _)
        val root = "/tmp/graft_tables/scaleprobe_ivm"
        val t = graft.table.LakeTable(spark, root, s"ivm_base_$n", Seq("o_orderkey"),
          changeFeed = true)
        val v = graft.table.LakeTable(spark, root, s"ivm_view_$n", Seq("o_custkey"))
        t.drop(); v.drop()
        t.create(base)
        val v0 = t.version
        v.create(graft.table.IncrementalView.sumView(
          t.read, Seq("o_custkey"), "o_totalprice"))
        // FIXED batch on replica-0 keys: updates + inserts, then deletes
        val updates = orders.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val inserts = orders.filter(col("o_orderkey") % 89 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(64L * maxOk))
        t.upsert(updates.unionByName(inserts))
        t.delete(col("o_orderkey") % 101 === 0 &&
          col("o_orderkey") < maxOk)
        val feedRows = t.changesSince(v0).count()
        val (_, maintainSec) = timed {
          graft.table.IncrementalView.maintainSumView(
            t, v, Seq("o_custkey"), "o_totalprice", v0)
        }
        val recomp = graft.table.LakeTable(spark, root, s"ivm_recomp_$n", Seq("o_custkey"))
        recomp.drop()
        val (_, recomputeSec) = timed {
          recomp.create(graft.table.IncrementalView.sumView(
            t.read, Seq("o_custkey"), "o_totalprice"))
        }
        // two-level distinct maintenance over the same recorded feed:
        // aux/view are built from `base` — the exact pre-batch state
        // the table was created from — so maintaining from v0 applies
        // the same fixed batch at every factor
        val auxT = graft.table.LakeTable(spark, root, s"ivm_aux_$n",
          Seq("o_custkey", "__v"))
        val viewD = graft.table.LakeTable(spark, root, s"ivm_viewd_$n",
          Seq("o_custkey"))
        auxT.drop(); viewD.drop()
        auxT.create(graft.table.IncrementalView.supportView(
          base, Seq("o_custkey"), "o_orderpriority"))
        viewD.create(graft.table.IncrementalView.distinctView(
          base, Seq("o_custkey"), "o_orderpriority"))
        val (_, distinctSec) = timed {
          graft.table.IncrementalView.maintainDistinctView(
            t, auxT, viewD, Seq("o_custkey"), "o_orderpriority", v0)
        }
        // moments maintenance over the same fixed feed span — like the
        // sum view it is one delta pass + a changed-keys merge, so its
        // wall must track the (invariant) feed, not the base
        val viewM = graft.table.LakeTable(spark, root, s"ivm_viewm_$n",
          Seq("o_custkey"))
        viewM.drop()
        viewM.create(graft.table.IncrementalView.momentsView(
          base, Seq("o_custkey"), "o_totalprice"))
        val (_, momentsSec) = timed {
          graft.table.IncrementalView.maintainMomentsView(
            t, viewM, Seq("o_custkey"), "o_totalprice", v0)
        }
        // fused stats maintenance (one feed pass, all aggregates incl.
        // the threatened-extremum rescan) over the same fixed span
        val viewS = graft.table.LakeTable(spark, root, s"ivm_views_$n",
          Seq("o_custkey"))
        viewS.drop()
        viewS.create(graft.table.IncrementalView.statsView(
          base, Seq("o_custkey"), "o_totalprice"))
        val (_, statsSec) = timed {
          graft.table.IncrementalView.maintainStatsView(
            t, viewS, Seq("o_custkey"), "o_totalprice", v0)
        }
        // aux-backed full-stats maintenance: one feed pass, aux merge,
        // view merge, ZERO base reads — wall must track the feed and
        // the aux slice, not the base
        val auxF = graft.table.LakeTable(spark, root, s"ivm_auxf_$n",
          Seq("o_custkey", "__v"))
        val viewF = graft.table.LakeTable(spark, root, s"ivm_viewf_$n",
          Seq("o_custkey"))
        auxF.drop(); viewF.drop()
        graft.table.IncrementalView.createFullStatsAux(auxF,
          base, Seq("o_custkey"), "o_totalprice")
        viewF.create(graft.table.IncrementalView.fullStatsView(
          base, Seq("o_custkey"), "o_totalprice"))
        val (_, fullSec) = timed {
          graft.table.IncrementalView.maintainFullStatsView(
            t, auxF, viewF, Seq("o_custkey"), "o_totalprice", v0)
        }
        // STREAMING drains over the SAME recorded feed: each subscribes
        // a fresh AvailableNow file stream over changes/v* (implicit
        // fresh checkpoint → replays the whole fixed feed), so the wall
        // must track feed volume exactly like the batch maintainers —
        // invariant under base inflation, plus the constant
        // stream-machinery overhead (query start/stop)
        val viewSS = graft.table.LakeTable(spark, root, s"ivm_viewss_$n",
          Seq("o_custkey"))
        viewSS.drop()
        viewSS.create(graft.table.IncrementalView.sumView(
          base, Seq("o_custkey"), "o_totalprice"))
        val (_, streamSumSec) = timed {
          graft.streaming.Streams.maintainSumViewFromChangeFeed(
            t.readChangeFeedStream, viewSS, Seq("o_custkey"),
            "o_totalprice", appId = s"probe_ss_$n")
        }
        val viewSTS = graft.table.LakeTable(spark, root, s"ivm_viewsts_$n",
          Seq("o_custkey"))
        viewSTS.drop()
        viewSTS.create(graft.table.IncrementalView.statsView(
          base, Seq("o_custkey"), "o_totalprice"))
        val (_, streamStatsSec) = timed {
          graft.streaming.Streams.maintainStatsViewFromChangeFeed(
            t.readChangeFeedStream, t, viewSTS, Seq("o_custkey"),
            "o_totalprice", appId = s"probe_sst_$n")
        }
        val baseRows = t.read.count()
        println(s"""{"family":"ivm","factor":$n,"rows":$baseRows,""" +
          s""""feed_rows":$feedRows,"maintain_sec":${f"$maintainSec%.2f"},""" +
          s""""distinct_maintain_sec":${f"$distinctSec%.2f"},""" +
          s""""moments_maintain_sec":${f"$momentsSec%.2f"},""" +
          s""""stats_maintain_sec":${f"$statsSec%.2f"},""" +
          s""""full_maintain_sec":${f"$fullSec%.2f"},""" +
          s""""stream_sum_maintain_sec":${f"$streamSumSec%.2f"},""" +
          s""""stream_stats_maintain_sec":${f"$streamStatsSec%.2f"},""" +
          s""""recompute_sec":${f"$recomputeSec%.2f"}}""")
      }
    }

    // ---- joinivm family (round-9, late wave): fact orders ×N (order
    // AND cust keys shifted per replica) joined to a MATCHING inflated
    // customer dim; the churn window is FIXED on replica-0 keys — fact
    // updates + deletes AND dim segment-moves + deletes. Claim
    // measured: maintenance wall tracks the CHANGE window, not the
    // base (dF and dD fixed; the F₁⋈dD term scans the fact restricted
    // to the FIXED changed-key set), while the full recompute scales
    // with the base.
    if (families("joinivm")) {
      val orders = Tables.load(spark, sfDir, "orders")
      val customer = Tables.load(spark, sfDir, "customer")
        .withColumnRenamed("c_custkey", "o_custkey")
      val maxOk = orders.agg(max("o_orderkey")).head().getLong(0) + 1
      val maxCk = customer.agg(max("o_custkey")).head().getLong(0) + 1
      factors.foreach { n =>
        val factBase = (0 until n).map { r =>
          if (r == 0) orders
          else orders.select(
            (col("o_orderkey") + lit(r * maxOk)).as("o_orderkey"),
            (col("o_custkey") + lit(r * maxCk)).as("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
            col("o_orderpriority"))
        }.reduce(_ unionByName _)
        val dimBase = (0 until n).map { r =>
          if (r == 0) customer
          else customer.select(
            (col("o_custkey") + lit(r * maxCk)).as("o_custkey"),
            col("c_name"), col("c_nationkey"), col("c_acctbal"),
            col("c_mktsegment"))
        }.reduce(_ unionByName _)
        val root = "/tmp/graft_tables/scaleprobe_jivm"
        val f = graft.table.LakeTable(spark, root, s"jivm_fact_$n",
          Seq("o_orderkey"), changeFeed = true)
        val d = graft.table.LakeTable(spark, root, s"jivm_dim_$n",
          Seq("o_custkey"), changeFeed = true)
        val v = graft.table.LakeTable(spark, root, s"jivm_view_$n",
          Seq("c_mktsegment"))
        f.drop(); d.drop(); v.drop()
        f.create(factBase); d.create(dimBase)
        val (f0, d0) = (f.version, d.version)
        v.create(graft.table.IncrementalView.joinSumView(f.read, d.read,
          Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
        f.upsert(orders.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2))
        f.delete(col("o_orderkey") % 101 === 0 && col("o_orderkey") < maxOk)
        d.update(col("o_custkey") % 13 === 0 && col("o_custkey") < maxCk,
          Map("c_mktsegment" -> lit("MOVED")))
        d.delete(col("o_custkey") % 17 === 0 && col("o_custkey") < maxCk)
        val factFeed = f.changesSince(f0).count()
        val dimFeed = d.changesSince(d0).count()
        val (_, maintainSec) = timed {
          graft.table.IncrementalView.maintainJoinSumView(f, d, v,
            Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice", f0, d0)
        }
        // two-feed STREAMING drain over the same churn window: a fresh
        // view from the pre-churn bases, maintained by the tick-driven
        // version-marker cycle (both feeds consumed through the batch
        // identity) — its wall must track the same fixed change window,
        // plus constant stream machinery
        val v2 = graft.table.LakeTable(spark, root, s"jivm_view2_$n",
          Seq("c_mktsegment"))
        v2.drop()
        v2.create(graft.table.IncrementalView.joinSumView(factBase, dimBase,
          Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice"))
        val (_, stream2Sec) = timed {
          graft.streaming.Streams.maintainJoinSumViewFromBothFeeds(
            f, d, v2, Seq("o_custkey"), Seq("c_mktsegment"), "o_totalprice",
            f0, d0, appId = s"probe_jv2_$n")
        }
        val recomp = graft.table.LakeTable(spark, root, s"jivm_recomp_$n",
          Seq("c_mktsegment"))
        recomp.drop()
        val (_, recomputeSec) = timed {
          recomp.create(graft.table.IncrementalView.joinSumView(
            f.read, d.read, Seq("o_custkey"), Seq("c_mktsegment"),
            "o_totalprice"))
        }
        val baseRows = f.read.count()
        println(s"""{"family":"joinivm","factor":$n,"fact_rows":$baseRows,""" +
          s""""fact_feed":$factFeed,"dim_feed":$dimFeed,""" +
          s""""maintain_sec":${f"$maintainSec%.2f"},""" +
          s""""stream_twofeed_maintain_sec":${f"$stream2Sec%.2f"},""" +
          s""""recompute_sec":${f"$recomputeSec%.2f"}}""")
      }
    }

    // ---- skyline family (round-9): part ×N by shifted keys with
    // (size, price) untouched — exact duplicates are mutually
    // non-dominating, so the global staircase is unchanged and the
    // skyline row count must scale EXACTLY ×N; the staircase frame
    // stays |distinct p_size|, so wall should be ~flat + scan.
    if (families("skyline")) {
      val part = Tables.load(spark, sfDir, "part")
        .select("p_partkey", "p_size", "p_retailprice")
      val maxPk = part.agg(max("p_partkey")).head().getLong(0) + 1
      factors.foreach { n =>
        val d = (0 until n).map { r =>
          if (r == 0) part
          else part.select((col("p_partkey") + lit(r * maxPk)).as("p_partkey"),
            col("p_size"), col("p_retailprice"))
        }.reduce(_ unionByName _).localCheckpoint(true)
        val rows = d.count()
        val (nSky, skySec) = timed {
          graft.operators.Stats.skyline2d(d, "p_size", "p_retailprice").count()
        }
        println(s"""{"family":"skyline","factor":$n,"rows":$rows,""" +
          s""""skyline_sec":${f"$skySec%.2f"},"n_skyline":$nSky}""")
      }
    }

    // ---- gains family (round-9): events ×N (value distribution
    // preserved per replica), score = the row's value, label a pure
    // function of value — so total conversions scale EXACTLY ×N and
    // the table stays 10 bands; wall is one percentile aggregate + one
    // banding pass (the no-global-sort claim).
    if (families("gains")) {
      val ev2 = Tables.load(spark, sfDir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val maxE2 = ev2.agg(max("event_id")).head().getLong(0) + 1
      val maxU2 = ev2.agg(max("user_id")).head().getLong(0) + 1
      factors.foreach { n =>
        val d = inflateEvents(ev2, maxE2, maxU2, n).localCheckpoint(true)
        val rows = d.count()
        val scored = d.select(col("value").as("score"),
          (floor(col("value") * 100) % 2 === 0).cast("long").as("label"))
        val (res, gainsSec) = timed {
          graft.operators.Stats.gainsTable(scored, "score", "label")
            .agg(sum("n").as("tn"), sum("conv").as("tc"),
              count(lit(1)).as("bands")).head()
        }
        println(s"""{"family":"gains","factor":$n,"rows":$rows,""" +
          s""""gains_sec":${f"$gainsSec%.2f"},"total_n":${res.getLong(0)},""" +
          s""""total_conv":${res.getLong(1)},"bands":${res.getLong(2)}}""")
      }
    }

    // ---- spans family (round-9): exact substring-level dedup. The
    // token-prefix inflation keeps replicas char-gram-disjoint (docs
    // are word soup with tokens far shorter than minLen, so every
    // minLen-char window crosses a token boundary and carries a
    // replica prefix) while each replica reproduces the original's
    // duplicated-passage structure over longer tokens — span counts
    // are replica-stable, anchor volume stays linear in corpus chars,
    // and the candidate/verify stages only ever carry true dup
    // anchors plus ~n²/2⁶⁴ random hash collisions.
    // ---- feedreplay family (round-11): replay cost across a long
    // version span. `factor` = churn VERSIONS over a FIXED hot-key set
    // (every version re-prices the same ~keys): the RAW event log
    // grows O(versions × keys) while the post-compaction net is
    // O(keys) — one pre/post pair per key, every intermediate re-price
    // cancelled — so the replay volume (and wall) a slow consumer pays
    // drops from per-version to per-net-change. The epoch-grouped
    // reader keeps the replay PLAN at one scan in both cases; this
    // family measures the data-volume axis compaction adds on top.
    if (families("feedreplay")) {
      val orders = Tables.load(spark, sfDir, "orders")
      factors.foreach { n =>
        val root = "/tmp/graft_tables/scaleprobe_feed"
        val t = graft.table.LakeTable(spark, root, s"fr_$n",
          Seq("o_orderkey"), changeFeed = true)
        t.drop()
        t.create(orders)
        val v0 = t.version
        val hot = orders.filter(col("o_orderkey") % 293 === 0)
          .localCheckpoint(true)
        val hotKeys = hot.count()
        (1 to n).foreach { i =>
          t.upsert(hot.withColumn("o_totalprice",
            col("o_totalprice") * lit(1.0 + i * 0.01)))
        }
        val (rawRows, rawSec) = timed { t.changesSince(v0).count() }
        val (_, compactSec) = timed { t.compactChangeFeed(v0, t.version) }
        val (netRows, netSec) = timed { t.changesSince(v0).count() }
        println(s"""{"family":"feedreplay","factor":$n,"versions":$n,""" +
          s""""hot_keys":$hotKeys,"raw_rows":$rawRows,""" +
          s""""raw_replay_sec":${f"$rawSec%.2f"},""" +
          s""""compact_sec":${f"$compactSec%.2f"},""" +
          s""""net_rows":$netRows,"net_replay_sec":${f"$netSec%.2f"}}""")
      }
    }

    if (families("spans")) factors.foreach { n =>
      val d = inflate(docs, maxId, n).localCheckpoint(true)
      val chars = d.agg(sum(length(col("text")))).head().getLong(0)
      val (res, sec) = timed {
        val sp = graft.operators.Dedup
          .duplicateSpans(d, "doc_id", "text", minLen = 30)
          .agg(count(lit(1)), coalesce(sum("span_len"), lit(0L))).head()
        (sp.getLong(0), sp.getLong(1))
      }
      println(s"""{"family":"spans","factor":$n,"chars":$chars,""" +
        s""""spans_sec":${f"$sec%.2f"},"n_spans":${res._1},""" +
        s""""dup_chars":${res._2}}""")
    }
    spark.stop()
  }
}

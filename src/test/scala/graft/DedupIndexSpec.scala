package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.table.{DedupIndex, LakeTable}

/** Equivalence contract of the persistent CDC-maintained LSH index:
  * after ANY sequence of insert/update/delete batches, the maintained
  * `pairs` table must equal `Dedup.minhashLshPairs` recomputed from
  * scratch on the current corpus — and the `index` table must equal the
  * batch band rows. Exercises the real documents testdata (which has
  * genuine near-dup families), not synthetic strings only. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("a_id").cast("long"), col("b_id").cast("long"),
      col("jaccard")).as[(Long, Long, Double)].collect().toSet

  /** Exploded (id, band, bucket) view of the array-packed index. */
  private def idxSet(df: DataFrame): Set[(Long, Int, Long)] =
    df.select(col("id"), posexplode(col("buckets")))
      .select(col("id").cast("long"), col("pos").cast("int"),
        col("col").cast("long")).as[(Long, Int, Long)].collect().toSet

  private def assertConverged(di: DedupIndex, docs: LakeTable): Unit = {
    val batch = Dedup.minhashLshPairs(docs.read, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.7)
    // the CANONICAL view is the contract in both pair layouts
    assert(pairSet(di.currentPairs) == pairSet(batch))
    // symmetric layout: every canonical row has exactly its mirror
    if (di.pairs.exists && di.pairs.read.columns.contains("__ab")) {
      val mirrored = pairSet(di.pairs.read
        .filter(col("a_id") > col("b_id"))
        .select(col("b_id").as("a_id"), col("a_id").as("b_id"),
          col("jaccard")))
      assert(mirrored == pairSet(di.currentPairs),
        "symmetric pairs layout lost its mirror invariant")
    }
    val batchIdx = docs.read
      .select(col("doc_id").as("id"),
        graft.functions.HashExpressions.minhashBands(
          graft.functions.TextFunctions.shingles(col("text"), 3), 64, 16)
          .as("buckets"))
    assert(idxSet(di.index.read) == idxSet(batchIdx))
  }

  test("maintained index+pairs == batch recompute through ingest/update/delete waves") {
    val root = s"$tablesRoot/dedupidx_spec"
    val docs = LakeTable(spark, root, "didx_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val di = DedupIndex(spark, root, "didx")
    val all = Tables.load(spark, sf, "documents")
      .select("doc_id", "text")

    // wave 0: initial corpus + full build
    docs.create(all.filter(col("doc_id") % 3 === 1))
    di.build(docs.read, "doc_id", "text")
    var synced = docs.version
    assertConverged(di, docs)

    // wave 1: ingest a second tranche
    docs.upsert(all.filter(col("doc_id") % 3 === 2))
    synced = di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)

    // wave 2: ingest the rest AND rewrite some existing docs' text
    // (update = preimage+postimage through the feed; the doc's buckets
    // move and its pairs must be re-derived, not patched)
    docs.upsert(all.filter(col("doc_id") % 3 === 0))
    docs.upsert(all.filter(col("doc_id") % 11 === 4)
      .withColumn("text", concat(lit("zq xv wq "), col("text"))))
    synced = di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)

    // wave 3: delete a slice — their index rows AND every pair touching
    // them must vanish
    docs.delete(col("doc_id") % 7 === 3)
    synced = di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)
    assert(di.pairs.read.count() > 0, "testdata must exercise real pairs")

    // a deleted doc must not appear on either side
    val gone = di.pairs.read
      .filter(col("a_id") % 7 === 3 || col("b_id") % 7 === 3).count()
    assert(gone == 0)
  }

  test("postings sidecar: equivalence holds through churn, the sidecar " +
      "stays exactly the exploded index, and the probe is a " +
      "partition-PRUNED read") {
    val root = s"$tablesRoot/dedupidx_post"
    val docs = LakeTable(spark, root, "didxp_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val di = DedupIndex(spark, root, "didxp", postingParts = 64,
      idParts = 8)
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(all.filter(col("doc_id") % 3 =!= 0))
    di.build(docs.read, "doc_id", "text")
    var synced = docs.version
    // churn: ingest + text rewrites (buckets MOVE partitions — the old
    // row lives in a different __pb partition and must be retired
    // through the merge's matched-key rule) + deletes
    docs.upsert(all.filter(col("doc_id") % 3 === 0))
    docs.upsert(all.filter(col("doc_id") % 11 === 4)
      .withColumn("text", concat(lit("zq xv wq "), col("text"))))
    docs.delete(col("doc_id") % 7 === 3)
    synced = di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)
    // the sidecar must be EXACTLY the exploded packed index — no stale
    // moved-bucket rows, no missing dead-doc tombstoning
    val sidecar = di.postings.get.read
      .select(col("id").cast("long"), col("band").cast("int"),
        col("bucket").cast("long")).as[(Long, Int, Long)].collect().toSet
    assert(sidecar == idxSet(di.index.read))
    assert(sidecar.nonEmpty)

    // plan pin: a single-document probe reads ≤ bands (16) of the 64
    // posting partitions — partition filters present, partitions-read
    // metric bounded. This is the serving regime the sidecar exists for.
    val oneDoc = docs.read.filter(col("doc_id") === 1).limit(1)
    val slice = di.probeSlice(oneDoc, "doc_id", "text")
    val scans = executedScansOf(slice, "didxp_postings")
    assert(scans.nonEmpty, "probe must scan the postings sidecar")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"touched-__pb filter must reach the scan as a partition filter: $f")
      val nParts = f.metrics.get("numPartitions").map(_.value)
      assert(nParts.exists(n => n >= 1L && n <= 16L),
        s"one doc probes <= 16 of 64 posting partitions, read $nParts")
    }

    // SECOND maintain through the same sidecar'd instance: the layout
    // keys frozen at build (dedup.posting_parts / dedup.id_parts) must
    // survive the first maintain's commits (writeTo carries committed
    // meta forward), so requireLayout passes and the index converges
    docs.delete(col("doc_id") % 13 === 5)
    docs.upsert(all.filter(col("doc_id") % 17 === 2)
      .withColumn("text", concat(lit("vv kk "), col("text"))))
    synced = di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)
    assert(idxSet(di.index.read) == di.postings.get.read
      .select(col("id").cast("long"), col("band").cast("int"),
        col("bucket").cast("long")).as[(Long, Int, Long)].collect().toSet)

    // a mismatched-modulus instance must fail LOUDLY, not silently
    // degrade the pruned merge's touched-partition contract
    // (the guard fires before any frame is read, so a trivial changes
    // frame suffices)
    val oneChange = Seq(1L).toDF("doc_id")
    val wrongId = DedupIndex(spark, root, "didxp", postingParts = 64,
      idParts = 4)
    val ex1 = intercept[IllegalArgumentException] {
      wrongId.applyChanges(oneChange, docs.read, "doc_id", "text")
    }
    assert(ex1.getMessage.contains("idParts=4"))
    val wrongPb = DedupIndex(spark, root, "didxp", postingParts = 32,
      idParts = 8)
    val ex2 = intercept[IllegalArgumentException] {
      wrongPb.applyChanges(oneChange, docs.read, "doc_id", "text")
    }
    assert(ex2.getMessage.contains("postingParts=32"))
  }

  test("rebuilding with postingParts=0 removes the orphaned sidecar") {
    val root = s"$tablesRoot/dedupidx_orphan"
    val docs = LakeTable(spark, root, "didxo_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(all.filter(col("doc_id") < 80))
    DedupIndex(spark, root, "didxo", postingParts = 16)
      .build(docs.read, "doc_id", "text")
    // a plain (no-sidecar) instance REBUILDING the same name must drop
    // the orphan — otherwise requireLayout refuses every maintain and
    // its documented remedy (drop()) would loop back to the same error
    val plain = DedupIndex(spark, root, "didxo")
    plain.build(docs.read, "doc_id", "text")
    val synced = docs.version
    docs.upsert(all.filter(col("doc_id") >= 80 && col("doc_id") < 120))
    plain.maintain(docs, "doc_id", "text", synced) // must not throw
    assertConverged(plain, docs)
  }

  test("crash window with the serving sidecar: the reachable " +
      "partial-commit state (sidecar new, index+pairs old) re-runs to " +
      "convergence — the hint's old buckets stay derivable") {
    val root = s"$tablesRoot/dedupidx_crash"
    val docs = LakeTable(spark, root, "didxc_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val di = DedupIndex(spark, root, "didxc", postingParts = 32,
      idParts = 8)
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(all.filter(col("doc_id") < 120))
    di.build(docs.read, "doc_id", "text")
    val synced = docs.version
    val idxPre = di.index.version
    val pairsPre = di.pairs.version
    // churn that MOVES buckets (text rewrites) plus deletes
    docs.upsert(all.filter(col("doc_id") % 4 === 1 && col("doc_id") < 120)
      .withColumn("text", concat(lit("zq xv wq "), col("text"))))
    docs.delete(col("doc_id") % 9 === 2)
    di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)
    // simulate the one reachable mid-span crash state under the
    // (postings, index, pairs) commit order: sidecar committed, index
    // and pairs still pre-span. The commit ORDER is load-bearing: the
    // re-run's matchedPartsHint derives old buckets from the packed
    // index, so the index must still be pre-merge in any state where
    // the sidecar merge can re-run (index-first would strand moved
    // buckets' old sidecar rows — the regression this pins).
    val idxOld = di.index.readVersion(idxPre).localCheckpoint(true)
    val pairsOld = di.pairs.readVersion(pairsPre).localCheckpoint(true)
    di.index.create(idxOld)
    // create is DDL-replace and drops committed meta — restore the
    // frozen layout keys the crash would have left intact
    di.index.annotate(Map("dedup.id_parts" -> "8", "dedup.doc_parts" -> "0"))
    di.pairs.create(pairsOld)
    // re-run the SAME span (at-least-once re-delivery: the batch
    // marker rides the LAST commit, so an interrupted span replays)
    di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)
    val sidecar = di.postings.get.read
      .select(col("id").cast("long"), col("band").cast("int"),
        col("bucket").cast("long")).as[(Long, Int, Long)].collect().toSet
    assert(sidecar == idxSet(di.index.read),
      "sidecar must equal the exploded index after the crash replay")
  }

  test("pairParts symmetric layout: canonical equivalence + mirror " +
      "invariant through churn, stale-pair lookup is a partition-PRUNED " +
      "slice, and layout drift fails loudly") {
    val root = s"$tablesRoot/dedupidx_pairparts"
    val docs = LakeTable(spark, root, "didxq_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val di = DedupIndex(spark, root, "didxq", postingParts = 64,
      idParts = 8, pairParts = 8)
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(all.filter(col("doc_id") % 3 =!= 0))
    di.build(docs.read, "doc_id", "text")
    var synced = docs.version
    docs.upsert(all.filter(col("doc_id") % 3 === 0))
    docs.upsert(all.filter(col("doc_id") % 11 === 4)
      .withColumn("text", concat(lit("zq xv wq "), col("text"))))
    docs.delete(col("doc_id") % 7 === 3)
    synced = di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs) // includes the mirror invariant
    assert(di.currentPairs.count() > 0)

    // plan pin: the stored-pair lookup for 2 ids opens <= 2 of the 8
    // __ab partitions — the O(batch) slice that replaced the two
    // O(pairs) full-table semi-joins
    val slice = di.storedPairsTouching(Seq(1L, 4L).toDF("id"))
    val scans = executedScansOf(slice, "didxq_pairs")
    assert(scans.nonEmpty, "lookup must scan the pairs table")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"touched-__ab filter must reach the scan as a partition filter: $f")
      val nParts = f.metrics.get("numPartitions").map(_.value)
      assert(nParts.exists(n => n >= 0L && n <= 2L),
        s"two ids open <= 2 of 8 pair partitions, read $nParts")
    }

    // a mismatched-modulus instance must fail loudly before reading
    val wrong = DedupIndex(spark, root, "didxq", postingParts = 64,
      idParts = 8, pairParts = 4)
    val ex = intercept[IllegalArgumentException] {
      wrong.applyChanges(Seq(1L).toDF("doc_id"), docs.read,
        "doc_id", "text")
    }
    assert(ex.getMessage.contains("pairParts=4"))
  }

  test("pairParts build over a corpus with ZERO near-dup pairs: the " +
      "empty partitioned pairs snapshot is legal, readable, and " +
      "maintainable") {
    val root = s"$tablesRoot/dedupidx_nopairs"
    val docs = LakeTable(spark, root, "didxnp_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val di = DedupIndex(spark, root, "didxnp", idParts = 4, pairParts = 8)
    // every doc's tokens are globally unique — no shared shingles, so
    // the build publishes an EMPTY pairs table under the __ab layout:
    // the partitioned writer emits no data files for it, and the read
    // must come from the _schema_ddl sidecar (LakeTable.readDir)
    val corpus = (0L until 40L).map(i =>
      (i, (0 until 12).map(j => s"u${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    docs.create(corpus)
    di.build(docs.read, "doc_id", "text")
    assert(di.pairs.exists)
    assert(di.currentPairs.count() == 0)
    assert(di.pairs.read.columns.contains("__ab"))
    val synced = docs.version
    // a later batch that CREATES the first near-dup pair merges into
    // the empty partitioned snapshot
    docs.upsert(Seq((100L, (0 until 12).map(j => s"u0w$j").mkString(" ")))
      .toDF("doc_id", "text"))
    di.maintain(docs, "doc_id", "text", synced)
    assert(pairSet(di.currentPairs) == Set((0L, 100L, 1.0)))
    assertConverged(di, docs)
  }

  test("crash after the postings commit with the corpus ADVANCING " +
      "before re-delivery: span tokens detect the interrupted span, " +
      "the recovery batch drops the hint, and the sidecar invariant " +
      "still holds") {
    val root = s"$tablesRoot/dedupidx_crashadv"
    val docs = LakeTable(spark, root, "didxv_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    // LARGE postingParts + a ONE-DOC span: the dangerous state needs
    // the crashed span's buckets to land in partitions that neither
    // the pre-span index nor the newest source name — with 256
    // partitions and 16 moved bands that is the overwhelming case
    // (self-checked below), where a small modulus would mask the bug
    // by touching every partition anyway
    val di = DedupIndex(spark, root, "didxv", postingParts = 256,
      idParts = 8)
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(all.filter(col("doc_id") < 120))
    di.build(docs.read, "doc_id", "text")
    val synced = docs.version
    val idxPre = di.index.version
    val pairsPre = di.pairs.version
    // span S (will "crash"): ONE doc's text rewritten — buckets move
    docs.upsert(all.filter(col("doc_id") === 1)
      .withColumn("text", concat(lit("zq xv wq "), col("text"))))
    di.maintain(docs, "doc_id", "text", synced)
    // reachable crash state: postings committed with span S's token,
    // index and pairs still pre-span (their tokens differ from the
    // sidecar's — the detection predicate)
    val idxOld = di.index.readVersion(idxPre).localCheckpoint(true)
    val pairsOld = di.pairs.readVersion(pairsPre).localCheckpoint(true)
    di.index.create(idxOld)
    di.index.annotate(Map("dedup.id_parts" -> "8", "dedup.doc_parts" -> "0"))
    di.pairs.create(pairsOld)
    di.pairs.annotate(Map("dedup.pair_parts" -> "0"))
    assert(di.postings.get.meta.get(di.SpanKey) !=
      di.pairs.meta.get(di.SpanKey),
      "the crash state must be detectable from the span tokens")
    // the corpus ADVANCES before re-delivery: the same doc moves
    // buckets AGAIN
    docs.upsert(all.filter(col("doc_id") === 1)
      .withColumn("text", concat(lit("ab cd ef "), col("text"))))
    // fixture self-check: the crashed span's sidecar rows occupy at
    // least one partition that NEITHER the pre-span index (the hint's
    // authority) NOR the newest source rows name — the exact rows a
    // trusted hint would strand forever
    def pbOf(df: DataFrame): Set[Long] = df
      .select(pmod(xxhash64(col("band"), col("bucket")), lit(256L)).as("p"))
      .distinct().collect().map(_.getLong(0)).toSet
    def explodedBands(d: DataFrame): DataFrame = d
      .select(col("doc_id").as("id"), posexplode(
        graft.functions.HashExpressions.minhashBands(
          graft.functions.TextFunctions.shingles(col("text"), 3), 64, 16)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val crashedParts = pbOf(di.postings.get.read
      .filter(col("id") === 1L).select("band", "bucket"))
    // the hint's authority at re-delivery time is the (restored,
    // pre-span) packed index
    val hintParts = pbOf(di.index.read.filter(col("id") === 1L)
      .select(col("id"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
      .select("band", "bucket"))
    val newestParts = pbOf(explodedBands(docs.read.filter(col("doc_id") === 1))
      .select("band", "bucket"))
    assert((crashedParts -- hintParts -- newestParts).nonEmpty,
      "fixture must exercise the stranding window (tune the text " +
        "mutations if the moved buckets happen to collide)")
    // re-delivery of the whole outstanding span: the recovery batch
    // must run UNHINTED and retire the stranded rows
    di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)
    val sidecar = di.postings.get.read
      .select(col("id").cast("long"), col("band").cast("int"),
        col("bucket").cast("long")).as[(Long, Int, Long)].collect().toSet
    assert(sidecar == idxSet(di.index.read),
      "sidecar must equal the exploded index after the recovery replay")
  }

  test("re-running the same span converges (crash-replay contract)") {
    val root = s"$tablesRoot/dedupidx_replay"
    val docs = LakeTable(spark, root, "didxr_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val di = DedupIndex(spark, root, "didxr")
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(all.filter(col("doc_id") < 60))
    di.build(docs.read, "doc_id", "text")
    val synced = docs.version
    docs.upsert(all.filter(col("doc_id") >= 60 && col("doc_id") < 120))
    docs.delete(col("doc_id") % 9 === 2)
    di.maintain(docs, "doc_id", "text", synced)
    val p1 = pairSet(di.pairs.read); val i1 = idxSet(di.index.read)
    // replay the SAME span (as after a crash between commits)
    di.maintain(docs, "doc_id", "text", synced)
    assert(pairSet(di.pairs.read) == p1)
    assert(idxSet(di.index.read) == i1)
    assertConverged(di, docs)
  }

  test("streaming drain from the CDC stream == batch recompute across " +
      "per-file micro-batching; replay is a no-op") {
    val root = s"$tablesRoot/dedupidx_stream"
    val docs = LakeTable(spark, root, "didxs_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val di = DedupIndex(spark, root, "didxs")
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(all.filter(col("doc_id") % 3 === 1))
    di.build(docs.read, "doc_id", "text")
    // churn spanning several versions: two ingest waves, an in-place
    // rewrite, a delete — with maxFilesPerTrigger=1 the events split
    // into many micro-batches, and a doc whose insert and delete land
    // in DIFFERENT batches must still converge (the snapshot, not the
    // event payload, decides final state)
    docs.upsert(all.filter(col("doc_id") % 3 === 2))
    docs.upsert(all.filter(col("doc_id") % 11 === 4)
      .withColumn("text", concat(lit("zq xv wq "), col("text"))))
    docs.delete(col("doc_id") % 7 === 3)
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        docs.read.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType)))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/didxs_docs/changes/v*")
    graft.streaming.Streams.maintainDedupIndexFromChangeFeed(
      feed, docs, di, "doc_id", "text")
    assertConverged(di, docs)
    val p1 = pairSet(di.pairs.read); val i1 = idxSet(di.index.read)
    assert(p1.nonEmpty)
    // replay the whole feed: the batch marker makes it a no-op
    graft.streaming.Streams.maintainDedupIndexFromChangeFeed(
      docs.readChangeFeedStream, docs, di, "doc_id", "text")
    assert(pairSet(di.pairs.read) == p1)
    assert(idxSet(di.index.read) == i1)
  }

  test("docParts corpus layout: equivalence through churn, the snapshot " +
      "fetch is a partition-PRUNED read, and layout drift fails loudly") {
    import graft.table.DocBuckets
    val root = s"$tablesRoot/dedupidx_docparts"
    val docs = LakeTable(spark, root, "didxd_docs", Seq("doc_id"),
      partitionCols = Seq(DocBuckets.ColName), changeFeed = true,
      partitionsFromKeys = true)
    docs.drop()
    def wb(df: DataFrame) = DocBuckets.withBucket(df, "doc_id", 16)
    val di = DedupIndex(spark, root, "didxd", postingParts = 64,
      idParts = 8, docParts = 16)
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(wb(all.filter(col("doc_id") % 3 =!= 0)))
    di.build(docs.read, "doc_id", "text")
    var synced = docs.version
    docs.upsert(wb(all.filter(col("doc_id") % 3 === 0)))
    docs.upsert(wb(all.filter(col("doc_id") % 11 === 4)
      .withColumn("text", concat(lit("zq xv wq "), col("text")))))
    docs.delete(col("doc_id") % 7 === 3)
    synced = di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)

    // plan pin: fetching 2 ids opens <= 2 of the 16 docs partitions —
    // the claim that kills the last O(corpus) term of maintenance
    val ids = Seq(1L, 4L).toDF("id")
    val slice = di.fetchDocs(docs.read, "doc_id", ids)
    val scans = executedScansOf(slice, "didxd_docs")
    assert(scans.nonEmpty, "fetch must scan the docs table")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"touched-__db filter must reach the scan as a partition filter: $f")
      val nParts = f.metrics.get("numPartitions").map(_.value)
      assert(nParts.exists(n => n >= 1L && n <= 2L),
        s"two ids fetch <= 2 of 16 docs partitions, read $nParts")
    }
    // bytes pin (belt to the plan pin): the fetch reads a fraction of
    // the corpus parquet
    val corpusBytes = docs.describeDetail.filter(col("is_current"))
      .select("bytes").as[Long].head()
    val bytes = bytesReadBy { di.fetchDocs(docs.read, "doc_id", ids).collect() }
    assert(bytes < corpusBytes / 2,
      s"pruned fetch read $bytes of a $corpusBytes-byte corpus")

    // a mismatched-docParts instance must fail LOUDLY before reading
    // anything (the frozen-meta check — the in-plan assert is provably
    // blind to a modulus that divides the stored one)
    val wrong = DedupIndex(spark, root, "didxd", postingParts = 64,
      idParts = 8, docParts = 8)
    val ex = intercept[IllegalArgumentException] {
      wrong.applyChanges(Seq(1L).toDF("doc_id"), docs.read,
        "doc_id", "text")
    }
    assert(ex.getMessage.contains("docParts=8"))

    // a REBUCKETED corpus (wrong stamped derivation — e.g. a different
    // id type or a non-divisor modulus) must trip the in-plan assert on
    // the rows actually read, never silently lose fetch rows
    val bad = docs.read.drop(DocBuckets.ColName)
      .withColumn(DocBuckets.ColName,
        DocBuckets.bucket(col("doc_id") + 1, 16))
    val manyIds = all.select(col("doc_id").as("id")).limit(50)
    val ex2 = intercept[Throwable] {
      di.fetchDocs(bad, "doc_id", manyIds).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.toString + messages(t.getCause)
    assert(messages(ex2).contains("corpus layout mismatch"))
  }

  test("sizedParts / autoSized: partition counts land in the documented " +
      "rows-per-partition band and the derivation is recorded") {
    // the dedupidxp ladder's ×64 leg (500 docs × 64)
    val s64 = DedupIndex.sizedParts(32000L, bands = 16)
    val postRows = 32000.0 * 16 / s64.postingParts
    assert(postRows >= DedupIndex.TargetRowsPerPart / 2 &&
      postRows <= DedupIndex.TargetRowsPerPart * 2,
      s"posting partitions hold $postRows rows — outside the band")
    assert(s64.idParts >= 16 && 32000.0 / s64.idParts <=
      DedupIndex.TargetRowsPerPart * 2)
    // clamps engage at the extremes instead of degenerating; pairParts
    // rides the id-driven modulus (companion doc)
    assert(DedupIndex.sizedParts(100L, 16) == DedupIndex.Sizing(64, 16, 16))
    assert(DedupIndex.sizedParts(1000000000L, 16) ==
      DedupIndex.Sizing(1024, 128, 128))
    // ladder-control clamp lift: the hi clamps are parameters
    assert(DedupIndex.sizedParts(1000000000L, 16,
      maxPostingParts = 1 << 20, maxIdParts = 1 << 20) ==
      DedupIndex.Sizing(1 << 20, 400000, 400000))

    // autoSized: builds, records the derivation, and converges
    val root = s"$tablesRoot/dedupidx_auto"
    val docs = LakeTable(spark, root, "didxa_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    docs.create(all.filter(col("doc_id") % 2 === 0))
    val di = DedupIndex.autoSized(spark, root, "didxa", docs.read,
      "doc_id", "text")
    assert(di.index.meta.get("dedup.sizing").exists(m =>
      m.contains("rows=") && m.contains("postingParts=")))
    val synced = docs.version
    docs.upsert(all.filter(col("doc_id") % 2 === 1))
    di.maintain(docs, "doc_id", "text", synced)
    assertConverged(di, docs)
  }

  test("update that breaks a near-dup pair removes it; one that forms a pair adds it") {
    val root = s"$tablesRoot/dedupidx_edge"
    val docs = LakeTable(spark, root, "didxe_docs", Seq("doc_id"),
      changeFeed = true)
    docs.drop()
    val di = DedupIndex(spark, root, "didxe")
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the work is done for the day"
    docs.create(Seq(
      (1L, base), (2L, base + " extra"), (3L, "completely different text " +
        "about lakehouse tables and change feeds and minhash banding here"))
      .toDF("doc_id", "text"))
    di.build(docs.read, "doc_id", "text")
    var synced = docs.version
    assert(pairSet(di.pairs.read).map(p => (p._1, p._2)) == Set((1L, 2L)))

    // break the (1,2) pair by rewriting doc 2 far away
    docs.upsert(Seq((2L, "now doc two talks about entirely other topics " +
      "with no overlap in shingles at all whatsoever today"))
      .toDF("doc_id", "text"))
    synced = di.maintain(docs, "doc_id", "text", synced)
    assert(pairSet(di.pairs.read).isEmpty)
    assertConverged(di, docs)

    // form a NEW pair by moving doc 3 next to doc 1
    docs.upsert(Seq((3L, base + " indeed")).toDF("doc_id", "text"))
    synced = di.maintain(docs, "doc_id", "text", synced)
    assert(pairSet(di.pairs.read).map(p => (p._1, p._2)) == Set((1L, 3L)))
    assertConverged(di, docs)
  }

  test("streaming drain under the FULL serving layouts (postings + " +
      "idParts + docParts + pairParts + bucketed corpus): marker rides " +
      "pairs, a mid-drain crash between the postings and pairs commits " +
      "loses the marker, and the replayed drain re-applies through the " +
      "span-token recovery") {
    import graft.table.DocBuckets
    val root = s"$tablesRoot/dedupidx_streamserv"
    val b = DocBuckets.bucketed(spark, root, "didxz_docs", "doc_id", 8)
    b.drop()
    val di = DedupIndex(spark, root, "didxz", postingParts = 64,
      idParts = 8, docParts = 8, pairParts = 8)
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    b.create(all.filter(col("doc_id") % 3 === 1))
    di.build(b.read, "doc_id", "text")
    val idxPre = di.index.version
    val pairsPre = di.pairs.version
    b.upsert(all.filter(col("doc_id") % 3 === 2))
    b.upsert(all.filter(col("doc_id") % 11 === 4)
      .withColumn("text", concat(lit("zq xv wq "), col("text"))))
    b.delete(col("doc_id") % 7 === 3)
    // first drain: the whole feed through per-file micro-batches; every
    // batch commits postings -> index -> pairs (marker LAST)
    graft.streaming.Streams.maintainDedupIndexFromChangeFeed(
      b.readChangeFeedStream, b.table, di, "doc_id", "text")
    assertConverged(di, b.table)
    assert(di.pairs.meta.keys.exists(_.startsWith("dedupidx_last_batch")),
      "the exactly-once marker must ride the pairs (last) commit")
    // mid-drain crash after the LAST batch's postings commit: index and
    // pairs — and the marker that rides pairs — roll back together, so
    // the replay CANNOT skip the batch; the sidecar keeps the crashed
    // span's token, so the recovery batch runs unhinted
    val idxOld = di.index.readVersion(idxPre).localCheckpoint(true)
    val pairsOld = di.pairs.readVersion(pairsPre).localCheckpoint(true)
    di.index.create(idxOld)
    di.index.annotate(Map("dedup.id_parts" -> "8", "dedup.doc_parts" -> "8"))
    di.pairs.create(pairsOld)
    di.pairs.annotate(Map("dedup.pair_parts" -> "8"))
    assert(di.postings.get.meta.get(di.SpanKey) !=
      di.pairs.meta.get(di.SpanKey),
      "the crash state must be detectable from the span tokens")
    assert(di.pairs.meta.keys.forall(!_.startsWith("dedupidx_last_batch")),
      "the crash state must have lost the marker with the pairs commit")
    // replayed drain: re-applies everything and converges, sidecar
    // invariant restored
    graft.streaming.Streams.maintainDedupIndexFromChangeFeed(
      b.readChangeFeedStream, b.table, di, "doc_id", "text")
    assertConverged(di, b.table)
    val sidecar = di.postings.get.read
      .select(col("id").cast("long"), col("band").cast("int"),
        col("bucket").cast("long")).as[(Long, Int, Long)].collect().toSet
    assert(sidecar == idxSet(di.index.read),
      "sidecar must equal the exploded index after the drain recovery")
    assert(pairSet(di.currentPairs).nonEmpty)
  }
}

package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.shingles
import graft.operators.Dedup

/** Persistent MinHash-LSH near-duplicate index over a document LakeTable,
  * maintained INCREMENTALLY from the table's change feed.
  *
  * The batch pipeline ([[graft.operators.Dedup.minhashLshPairs]]) and even
  * its index-free incremental form ([[graft.operators.Dedup.minhashLshPairsIncremental]])
  * re-shingle and re-band the WHOLE corpus on every run — at 100 TB that
  * is the dominant cost of a nightly ingest, paid again each night for
  * text that has not changed. This class makes the LSH state itself a
  * lakehouse table pair, so a change batch costs O(changed docs +
  * touched-bucket candidates), independent of corpus size:
  *
  *  - `index`  (merge key (id, band)): one row per document per band —
  *    (id, band, bucket) where bucket is the banded MinHash value. A
  *    document's band COUNT is fixed by construction (k/bands rows), so
  *    an update rewrites its rows in place and only a delete removes
  *    rows; both ride one atomic MERGE-with-DELETE.
  *  - `pairs`  (merge key (a_id, b_id)): the verified near-duplicate
  *    pairs (exact shingle-Jaccard >= threshold, a_id < b_id) — kept
  *    equal to the batch recompute over the CURRENT corpus state.
  *
  * Maintenance rule per change batch (see [[applyChanges]]): dead docs'
  * index rows are deleted and alive touched docs' rows re-asserted; every
  * stored pair touching a changed doc is re-derived from scratch (probe
  * the new band rows against the standing index, verify candidates with
  * exact Jaccard against the current snapshot) and the stale remainder is
  * deleted — pairs between two UNTOUCHED docs are never re-examined,
  * which is what bounds the cost by the change batch, not the corpus.
  *
  * Equivalence contract: after any sequence of maintain calls, `pairs`
  * equals `Dedup.minhashLshPairs(current corpus)` with the same
  * parameters, PROVIDED no (band, bucket) ever exceeds `maxBucketSize`.
  * The batch form drops whole oversized buckets wherever they stand at
  * that run; an incremental history has no single "that run", so this
  * class instead skips candidate GENERATION through an oversized
  * bucket. Pairs between two UNTOUCHED docs always survive; a pair
  * touching a CHANGED doc whose only shared buckets are oversized is
  * dropped at that batch's re-derivation even if it is still a true
  * near-duplicate — the same safety valve, with best-effort divergence
  * past the cap documented rather than hidden. DedupIndexSpec pins the
  * equivalence through insert/update/delete waves.
  *
  * Scale notes — the probe's two regimes, and why BOTH exist:
  *
  *  - Default (`postingParts = 0`): the candidate probe is ONE
  *    column-pruned, shuffle-free map-side scan of the packed index
  *    against the BROADCAST batch-bucket set, amortized over the whole
  *    batch. For bulk nightly batches this is not laziness but
  *    information theory: a batch of b docs probes ~b×bands uniformly
  *    distributed hash buckets, so ANY block structure (partitions,
  *    zone-mapped files, row groups) with fewer than ~b×bands blocks is
  *    fully touched — block-level pruning is void exactly when the
  *    batch is large, at lab scale and at 100 TB alike. The scan's
  *    per-ingested-doc cost falls linearly with batch size, which is
  *    the honest lever for bulk ingest.
  *  - Serving/streaming (`postingParts > 0`): a `postings` sidecar —
  *    the (id, band, bucket) exploded form, HASH-PARTITIONED on
  *    pmod(xxhash64(band, bucket), postingParts) — makes the probe a
  *    partition-PRUNED read: the batch's touched partition set (a
  *    bounded ≤ postingParts driver-side collect) filters the scan, so
  *    a micro-batch of b docs reads ≤ min(b×bands, postingParts)
  *    partitions of the standing index instead of all of it. This wins
  *    precisely where the default can't: b×bands ≪ postingParts — CDC
  *    micro-batches, single-document upserts, interactive probes. Size
  *    postingParts at build so a partition is a comfortable file size
  *    (rows/~2.5k at lab scale; file-sized at cluster scale); the
  *    sidecar's own merge prunes to the same touched partitions (plus
  *    the matched-key partitions LakeTable's MERGE discovers — how a
  *    moved bucket's OLD row is retired), so small-batch maintenance
  *    is sublinear in the corpus end to end. The packed table stays
  *    authoritative either way: array-packed rows keep every merge
  *    1/bands the row count (the round-12 layout finding).
  *
  * Candidate verification fetches ONLY candidate docs' texts from the
  * snapshot (two slim semi-joins), never the corpus. The per-batch
  * commits ([postings, ] index, then pairs — the sidecar MUST precede
  * the index, see the ordering note at the merge sites) are not one
  * transaction: a crash between them leaves partially-fresh state, and
  * RE-RUNNING the same span converges (every merge is idempotent for a
  * fixed input span, and the batch marker rides the LAST commit so an
  * interrupted span is always re-delivered first), the same re-run
  * contract the streaming IVM maintainers document.
  *
  * `idParts > 0` additionally hash-partitions the PACKED index on
  * pmod(xxhash64(id), idParts): the merge key derives the partition, so
  * every per-batch index merge rewrites only the batch ids' partitions
  * (untouched partitions hard-link) — the write-side complement of the
  * postings sidecar's pruned read, for the same small-batch regime.
  *
  * `docParts > 0` prunes the CORPUS side of maintenance: the snapshot
  * fetches (alive touched docs; candidate texts for verification) were
  * the last O(corpus) term in the path — key-pruned semi-joins whose
  * scan side read the whole docs parquet. With the corpus table
  * hash-partitioned on [[DocBuckets]]' `__db = pmod(xxhash64(id),
  * docParts)` (writer stamps it with `DocBuckets.withBucket`), both
  * fetches filter on the batch/candidate ids' bucket set first, so the
  * scan opens ≤ min(ids, docParts) partitions regardless of corpus
  * size. Layout mismatches fail loudly in-plan (see [[DocBuckets]]).
  *
  * `pairParts > 0` prunes the PAIRS side — the last O(pairs) terms of
  * a maintain: the stale-pair derivation scanned the whole pairs table
  * twice per batch (once per side of the key), and the pairs merge on
  * an unpartitioned table rewrote all of it. The layout stores every
  * pair SYMMETRICALLY — (a,b,j) AND (b,a,j), merge key still (a_id,
  * b_id) — hash-partitioned on `__ab = pmod(xxhash64(a_id), pairParts)`
  * (key-derived → `partitionsFromKeys`, merges prune for free). The
  * "pairs touching a changed doc" lookup then partition-prunes to the
  * touched ids' `__ab` buckets and reads ONE slice: symmetry guarantees
  * every pair touching id t has a row with a_id = t, so the b-side
  * scan disappears instead of needing a mirror sidecar (which would
  * reopen the crash-ordering race the sidecars need span tokens for —
  * here both orderings ride the SAME commit, so the symmetry invariant
  * holds in every reachable crash state). Costs 2× pair rows — pairs
  * are the sparse output of near-dup detection, the cheapest table of
  * the three. Consumers read [[currentPairs]] (canonical a < b form,
  * identical to the batch recompute in both layouts).
  *
  * Crash + re-delivery: the per-batch commits are postings → index →
  * pairs, the marker rides pairs, and each commit carries the SAME
  * fresh span token ([[SpanKey]], sidecar mode only). A crash between
  * the postings and pairs commits leaves postings ≠ pairs tokens; the
  * re-delivered span then runs UNHINTED (full matched-key scan), because
  * the crashed run's committed sidecar rows sit at buckets derived from
  * the CRASH-TIME snapshot — if the corpus advanced again before
  * re-delivery, neither the pre-span hint nor the newest source buckets
  * need cover them, and a trusted hint would strand them forever
  * (pairs would stay correct through exact verification, but the
  * sidecar==exploded-index invariant would silently break and stale
  * postings would inflate candidate generation from then on).
  * DedupIndexSpec replays exactly that crash+advanced-snapshot state. */
final class DedupIndex(spark: SparkSession, root: String, name: String,
    shingleN: Int = 3, k: Int = 64, bands: Int = 16,
    threshold: Double = 0.7, maxBucketSize: Int = 1000,
    postingParts: Int = 0, idParts: Int = 0, docParts: Int = 0,
    pairParts: Int = 0) {

  /** One ARRAY-PACKED row per document (id → all band buckets), not one
    * row per (id, band): the index is 1/bands the row count, the merge
    * key is the bare id, and — the part that matters at ×64 corpus
    * scale — every per-batch index rewrite moves `bands`× fewer rows
    * (the per-(id, band) layout measured 15.9 s/maintain at 320k docs,
    * dominated by rewriting 5.1M skinny rows; round 12, ARCHITECTURE.md history). */
  val index: LakeTable = LakeTable(spark, root, s"${name}_index",
    Seq("id"),
    partitionCols = if (idParts > 0) Seq("__ib") else Nil,
    // __ib derives from the merge key, so the pruned merge can skip
    // its matched-key target scan (LakeTable.partitionsFromKeys doc)
    partitionsFromKeys = idParts > 0)

  /** Packed-index partition of an id (idParts > 0) — derived from the
    * MERGE KEY, so a row can never change partition and the pruned
    * merge's touched set is exactly the batch ids' partitions.
    * INT-typed like [[DocBuckets.bucket]]: non-empty partitioned reads
    * infer the directory-name column as int, so the stamped type must
    * match what a schema-applied read (the `_schema_ddl` empty-snapshot
    * fallback, a future change feed) would otherwise flip (pmod < parts
    * ≤ 1024 everywhere, so int is always wide enough). */
  private def ibOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(id), lit(idParts.toLong)).cast("int")

  private def withIb(packed: DataFrame): DataFrame =
    if (idParts <= 0) packed else packed.withColumn("__ib", ibOf(col("id")))

  /** Verified near-dup pairs. pairParts > 0 stores them symmetrically
    * under the `__ab` layout (class doc) — read [[currentPairs]], not
    * this table, for the canonical a < b view. */
  val pairs: LakeTable = LakeTable(spark, root, s"${name}_pairs",
    Seq("a_id", "b_id"),
    partitionCols = if (pairParts > 0) Seq("__ab") else Nil,
    partitionsFromKeys = pairParts > 0)

  /** Pairs partition of an a_id (pairParts > 0) — derived from the
    * leading merge key, so `partitionsFromKeys` holds. INT-typed (see
    * [[ibOf]]). */
  private def abOf(aId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(aId), lit(pairParts.toLong)).cast("int")

  /** Both orderings of a canonical (a_id, b_id, jaccard) frame, stamped
    * with the `__ab` layout — the symmetric storage form (class doc).
    * Identity when pairParts <= 0. */
  private def sym(canonical: DataFrame): DataFrame =
    if (pairParts <= 0) canonical
    else canonical.unionByName(canonical.select(
        col("b_id").as("a_id"), col("a_id").as("b_id"), col("jaccard")))
      .withColumn("__ab", abOf(col("a_id")))

  /** The CANONICAL pairs view (a_id < b_id, exactly the batch-recompute
    * schema) in either layout — what every consumer should read. */
  def currentPairs: DataFrame =
    if (pairParts <= 0) pairs.read
    else pairs.read.filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "jaccard")

  /** The sidecar's layout convention (name suffix, merge keys) in ONE
    * place: the partitioned handle when this instance maintains it, and
    * the probe handle [[drop]]/[[requireLayout]] use to detect an
    * orphaned sidecar regardless of this instance's configuration. */
  private def postingsProbe: LakeTable =
    LakeTable(spark, root, s"${name}_postings", Seq("id", "band"))

  /** The bucket-partitioned serving sidecar (postingParts > 0 only) —
    * see the scale notes in the class doc. */
  val postings: Option[LakeTable] =
    if (postingParts <= 0) None
    else Some(LakeTable(spark, root, s"${name}_postings",
      Seq("id", "band"), partitionCols = Seq("__pb")))

  // INT-typed like the other layout stamps (see ibOf)
  private def pbOf(band: org.apache.spark.sql.Column,
      bucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(band, bucket), lit(postingParts.toLong)).cast("int")

  private def withPb(exploded: DataFrame): DataFrame =
    exploded.withColumn("__pb", pbOf(col("band"), col("bucket")))

  def drop(): Unit = {
    index.drop(); pairs.drop()
    // drop the sidecar by PROBING for it, not by this instance's
    // configuration: a postingParts=0 instance rebuilding an index that
    // was built WITH a sidecar must remove the orphan, or requireLayout
    // would (correctly) refuse every subsequent maintain and the
    // documented remedy — drop() — would loop back to the same error
    postingsProbe.drop()
  }

  /** (id, buckets: array) rows of `docs` under this index's parameters. */
  private def bandArray(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.HashExpressions.minhashBands(
        shingles(col(textCol), shingleN), k, bands).as("buckets"))

  /** The (id, band, bucket) exploded form of an index frame — map-side
    * only (posexplode), used as the standing side of the probe join. */
  private def exploded(idx: DataFrame): DataFrame =
    idx.select(col("id"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** Full build from the current corpus: batch band rows + batch pairs.
    * The parameters (shingleN, k, bands, threshold) are FROZEN into the
    * stored state — maintain calls must come from the same instance
    * configuration or the index is meaningless. */
  private val PartsKey = "dedup.posting_parts"
  private val IdPartsKey = "dedup.id_parts"
  private val DocPartsKey = "dedup.doc_parts"
  private val PairPartsKey = "dedup.pair_parts"

  /** Span-token meta key (class doc): each sidecar-mode applyChanges
    * stamps one fresh token into all three commits; postings ≠ pairs at
    * the next call means the previous span crashed mid-sequence.
    * `private[graft]` so DedupIndexSpec can pin the detection. */
  private[graft] val SpanKey = "dedup.span"

  /** True when the previous applyChanges crashed between the postings
    * commit and the pairs (marker) commit — the one family of states
    * whose re-delivery must not trust the index-derived hint. */
  private def spanInterrupted: Boolean =
    postings.exists(p => p.meta.get(SpanKey) != pairs.meta.get(SpanKey))

  def build(docs: DataFrame, idCol: String, textCol: String): Unit = {
    drop()
    // the layout keys commit ATOMICALLY with the data (LakeTable.create
    // meta doc — a create-then-annotate crash window would leave the
    // guards' absent-key tolerance silently accepting a mismatched
    // instance). Frozen moduli, not presence checks: a presence check
    // (has __ib?) can't tell idParts=8 from 16, and the in-plan
    // DocBuckets assert alone is provably blind to a mismatch whose
    // modulus DIVIDES the stored one (stored pmod(h,16) < 8 implies
    // pmod(h,8) equals it), exactly the case a halved config would hit.
    //
    // The banded rows are materialized ONCE (the sidecar used to derive
    // from a read-back of the committed index — same single-shingling
    // guarantee, now without the intermediate commit), and all three
    // creates ride ONE fused write action (LakeTable.commitFused):
    // build cost drops from three write jobs to one.
    val banded = withIb(bandArray(docs, idCol, textCol))
      .localCheckpoint(true)
    val pIdx = index.pendingCreate(banded,
      Map(IdPartsKey -> idParts.toString,
        DocPartsKey -> docParts.toString))
    // the sidecar's partition count is FROZEN into the stored meta so a
    // mismatched instance fails loudly instead of silently mis-pruning
    // the probe
    val pPost = postings.map { p =>
      p.pendingCreate(withPb(exploded(banded.select("id", "buckets"))),
        Map(PartsKey -> postingParts.toString))
    }
    val pPairs = pairs.pendingCreate(
      // the checkpointed band rows feed the pairs derivation too
      // (bandedPre) — without it the create re-shingles and re-hashes
      // the whole corpus a second time inside minhashLshPairs
      sym(Dedup.minhashLshPairs(docs, idCol, textCol, shingleN,
        k, bands, threshold, maxBucketSize,
        bandedPre = Some(banded.select(col("id"), col("buckets"))))),
      // same frozen-modulus rule as the other layout keys
      Map(PairPartsKey -> pairParts.toString))
    LakeTable.commitFused(Seq(pIdx) ++ pPost ++ Seq(pPairs))
  }

  /** Fail LOUDLY when this instance's layout parameters disagree with
    * the STORED state — every silent-mismatch mode loses candidates:
    * a wrong postingParts mis-prunes the probe's partition IN-list, a
    * missing sidecar would be implicitly created from just one batch,
    * and an orphaned sidecar (instance built with parts, maintained
    * with 0) goes stale while probes keep trusting it. Same loud-layout
    * contract as [[IncrementalView.applyFullStatsDelta]]'s auxBuckets
    * check and [[AnnIndex]]'s centroid check. */
  private def requireLayout(): Unit = {
    postings match {
      case Some(p) =>
        require(p.exists,
          s"index $name: postingParts=$postingParts but no postings " +
            "sidecar is stored (built with postingParts=0?) — rebuild " +
            "with build() from this instance")
        val stored = p.meta.get(PartsKey)
        require(stored.contains(postingParts.toString),
          s"index $name: postingParts=$postingParts but the stored " +
            s"sidecar was built with ${stored.getOrElse("<unknown>")} — " +
            "the probe's partition pruning would silently miss rows")
      case None =>
        // probe through the shared sidecar handle, not a hand-built
        // pointer path — the layout convention lives in ONE place
        require(!postingsProbe.exists,
          s"index $name: a postings sidecar is stored but this instance " +
            "has postingParts=0 — maintaining without it would leave it " +
            "silently stale; use the original postingParts or drop()")
    }
    if (index.exists) {
      val storedIb = index.meta.get(IdPartsKey)
      require(storedIb.forall(_ == idParts.toString),
        s"index $name: idParts=$idParts but the stored packed index was " +
          s"built with ${storedIb.getOrElse("<unknown>")} — the pruned " +
          "merge's touched-partition set would silently degrade")
      // legacy state without the frozen key: fall back to the
      // presence check (detects on/off, not a modulus change)
      require(storedIb.isDefined ||
        (idParts > 0) == index.read.columns.contains("__ib"),
        s"index $name: idParts=$idParts disagrees with the stored packed " +
          "index's layout (built with a different idParts?)")
      val storedDp = index.meta.get(DocPartsKey)
      require(storedDp.forall(_ == docParts.toString),
        s"index $name: docParts=$docParts but the index was built with " +
          s"${storedDp.getOrElse("<unknown>")} — the snapshot fetch's " +
          "partition pruning would silently miss documents (the in-plan " +
          "assert cannot catch a modulus that divides the stored one)")
    }
    if (pairs.exists) {
      val storedPp = pairs.meta.get(PairPartsKey)
      require(storedPp.forall(_ == pairParts.toString),
        s"index $name: pairParts=$pairParts but the stored pairs table " +
          s"was built with ${storedPp.getOrElse("<unknown>")} — the " +
          "stale-pair lookup's partition pruning would silently miss " +
          "pairs (and the symmetric/canonical layouts would mix)")
    }
  }

  /** The standing-index rows landing in the batch's (band, bucket) set —
    * the candidate probe's corpus side. With the sidecar on, the read
    * is partition-pruned to the batch's touched `__pb` set (bounded
    * ≤ postingParts driver collect — the [[FileSkipping]] layout-sized
    * contract); otherwise a map-side scan of the packed index. Exposed
    * for plan audits: DedupIndexSpec pins the partition filters. */
  private[graft] def standingRows(probeRows: DataFrame,
      pbsPre: Option[Seq[Int]] = None): DataFrame = {
    val probeBuckets = probeRows.select("band", "bucket").distinct()
    val standing = postings match {
      case Some(p) =>
        val pbs = pbsPre.getOrElse(
          probeRows.select(pbOf(col("band"), col("bucket")).as("__pb"))
            .distinct().collect().map(_.getInt(0)).toSeq)
        p.read.filter(col("__pb").isin(pbs: _*))
          .select("id", "band", "bucket")
      case None => exploded(index.read)
    }
    // batch-bucket set: designed-small (batch×bands rows) but a BULK
    // batch inflates it — the measured gate degrades to a shuffle join
    // instead of OOMing the driver (IncrementalView's policy)
    standing.join(IncrementalView.broadcastIfSmall(probeBuckets),
      Seq("band", "bucket"))
  }

  /** [[standingRows]] for a raw document batch (spec/audit entry point). */
  private[graft] def probeSlice(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    standingRows(exploded(bandArray(docs, idCol, textCol)))

  /** Corpus-snapshot rows for an id frame (column "id"): exact
    * left_semi on the ids, with the SCAN side partition-pruned to the
    * ids' `__db` bucket set when docParts > 0 (class doc /
    * [[DocBuckets]]) — otherwise the full-corpus scan the semi-join
    * always paid before the layout existed. `private[graft]` so
    * DedupIndexSpec can pin the pruned plan. */
  private[graft] def fetchDocs(snapshot: DataFrame, idCol: String,
      ids: DataFrame, dbsPre: Option[Seq[Int]] = None): DataFrame = {
    val scan =
      if (docParts <= 0) snapshot
      else DocBuckets.pruned(snapshot, col(idCol), docParts, ids, "id",
        dbsPre)
    scan.join(ids.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
  }

  /** Apply one change-event frame against the CURRENT corpus snapshot.
    * `changes` is LakeTable change-feed output (`_change_type` column);
    * `snapshot` must be the post-change corpus state (docsTable.read).
    * `meta` commits atomically WITH the final (pairs) merge — the
    * exactly-once hook the streaming drain records its batch marker
    * through, mirroring the IVM maintainers. The events are consulted
    * ONLY for their key set; final doc state always comes from the
    * snapshot, so a batch older than the snapshot converges once the
    * remaining events drain (same rescan-consistency contract as
    * [[IncrementalView]]'s streaming maintainers). */
  def applyChanges(changes: DataFrame, snapshot: DataFrame, idCol: String,
      textCol: String, meta: Map[String, String] = Map.empty): Unit = {
    requireLayout()
    val touched = changes.select(col(idCol).as("id")).distinct()
      .localCheckpoint(true) // small by construction: the change batch's keys
    // ONE driver round-trip for every bounded, key-derived bucket set
    // the batch needs (each ≤ its layout's partition count): the packed
    // index's __ib cut, the docs table's __db fetch pruning, and the
    // pairs table's __ab slice previously each ran their own
    // distinct+collect job over the same checkpointed keys — plus the
    // index merge re-collected the identical __ib set inside
    // touchedParts. Four driver round-trips per batch fused into one
    // (guide §5 — the driver should do almost no data work; at lab
    // scale each job is ~0.2-0.3 s of fixed latency, at cluster scale
    // a full scheduling round-trip per micro-batch).
    val needIb = idParts > 0
    val needDb = docParts > 0
    val needAb = pairParts > 0
    val (ibs, dbs, abs): (Seq[Int], Seq[Int], Seq[Int]) =
      if (!needIb && !needDb && !needAb) (Nil, Nil, Nil)
      else {
        val row = touched.agg(
          collect_set(if (needIb) ibOf(col("id")) else lit(0)).as("i"),
          collect_set(if (needDb) DocBuckets.bucket(col("id"), docParts)
            else lit(0)).as("d"),
          collect_set(if (needAb) abOf(col("id")) else lit(0)).as("a"))
          .head()
        (if (needIb) row.getSeq[Int](0) else Nil,
          if (needDb) row.getSeq[Int](1) else Nil,
          if (needAb) row.getSeq[Int](2) else Nil)
      }
    // Final state of each touched id comes from the SNAPSHOT, not from
    // replaying event precedence: alive touched docs are in it (with
    // their current text), dead ones are not. The snapshot join is
    // key-pruned — and with docParts the scan itself is partition-
    // pruned to the touched ids' buckets, not just the join.
    val aliveTouched = fetchDocs(snapshot, idCol, touched,
      if (needDb) Some(dbs) else None)
      .select(col(idCol), col(textCol)).localCheckpoint(true)
    val deadIds = touched.join(
      aliveTouched.select(col(idCol).as("id")), Seq("id"), "left_anti")

    // recovery batch (previous span crashed between the postings and
    // pairs commits — class doc): the packed index is NOT a complete
    // authority for where the sidecar's touched-id rows live, so this
    // one batch runs the full matched-key scan instead of the hint
    val interrupted = spanInterrupted
    val span = java.util.UUID.randomUUID().toString
    // OLD band rows' __pb set of the touched ids — captured BEFORE the
    // index merge overwrites them, PRUNED by the packed __ib layout (an
    // O(batch) read when idParts > 0; the packed map-side scan
    // otherwise). This is the authority for which postings partitions
    // hold rows the sidecar merge must retire (a moved bucket's old
    // row lives at its old __pb) — collected directly (one bounded
    // ≤ postingParts job, read pre-commit by construction) and folded
    // into the sidecar merge's complete touched-set hint below,
    // replacing the merge's own O(corpus × bands) matched-key scan,
    // the dominant term of the dedupidxp ladder's maintain_bytes
    // slope. Completeness: the sidecar is invariantly the exploded
    // packed index (spec-pinned) EXCEPT across an interrupted span —
    // detected above, where the hint is dropped for the recovery batch.
    val oldPostPbs: Option[Seq[Int]] =
      if (interrupted) None
      else postings.map { _ =>
        val base = index.read
        val cut =
          if (idParts > 0) base.filter(col("__ib").isin(ibs: _*))
          else base
        withPb(exploded(cut.join(touched, Seq("id"), "left_semi")
          .select("id", "buckets")))
          .select("__pb").distinct().collect().map(_.getInt(0)).toSeq
      }

    val newIdx = bandArray(aliveTouched, idCol, textCol)
      .localCheckpoint(true)
    val deadIdx = deadIds.select(col("id"),
      lit(null).cast("array<long>").as("buckets"))
    val probeRows = exploded(newIdx).localCheckpoint(true)
    // the batch's NEW sidecar partitions — collected ONCE (bounded
    // ≤ postingParts) and shared by the candidate probe's pruned read
    // and the sidecar merge's touched-set hint (previously two
    // independent derivations: standingRows' internal collect + the
    // merge's touchedParts job)
    val pbs: Option[Seq[Int]] = postings.map { _ =>
      probeRows.select(pbOf(col("band"), col("bucket")).as("__pb"))
        .distinct().collect().map(_.getInt(0)).toSeq
    }

    // 1a. Sidecar merge FIRST (postingParts > 0): one exploded row per
    //     alive touched (id, band) at its NEW __pb partition; dead ids
    //     ride as per-band tombstones. A moved bucket's OLD row lives
    //     in a different partition — retired through oldPostPbs (the
    //     merge's matched-partition authority, folded into its complete
    //     touched-set hint), so stale postings can never accumulate.
    //     COMMIT ORDERING IS LOAD-BEARING for the
    //     re-run contract: oldPostPbs derives from the packed index,
    //     so the sidecar must commit BEFORE the index merge overwrites
    //     the old buckets — a crash between the two commits then
    //     re-runs with the hint still derivable (index pre-merge), and
    //     the sidecar merge is idempotent. Index-first would lose the
    //     old buckets at exactly the crash that needs them, stranding
    //     stale sidecar rows that no later span could retire
    //     (DedupIndexSpec pins the crash-state replay).
    //
    //     All three merges are STAGED as pendings and committed through
    //     ONE fused write action (LakeTable.commitFused — round-17:
    //     two fewer write jobs per batch); the pointer swaps keep the
    //     postings → index → pairs order, so the reachable crash states
    //     and the span-token recovery are unchanged.
    val pPostings = postings.map { p =>
      val deadPost = deadIds.select(col("id"),
          explode(sequence(lit(0), lit(bands - 1))).as("band"))
        .withColumn("bucket", lit(null).cast("long"))
        .withColumn("__pb", lit(null).cast("int"))
      // the frozen layout key rides EVERY merge (like the span token):
      // on an existing table it re-commits the value requireLayout just
      // validated; on a first-write-via-merge it rides the implicit-
      // create commit, so the table can never exist without its frozen
      // modulus (the guards' absent-key tolerance would otherwise
      // silently accept a mismatched later instance) — same rule at the
      // index and pairs merges below
      // complete touched-set hint (no per-merge collect): sourceParts =
      // the new rows' pbs plus the null partition (deadPost tombstones;
      // never written as data, so claiming it unconditionally is
      // harmless — no such dir ever exists), matchedParts = the touched
      // ids' OLD pbs (oldPostPbs, the sidecar==index invariant).
      // Interrupted spans pass no hint and pay the full matched-key
      // scan, exactly as before.
      p.pendingUpsertWithDelete(withPb(probeRows).unionByName(deadPost),
        col("bucket").isNull,
        meta = Map(SpanKey -> span, PartsKey -> postingParts.toString),
        touchedPartsHint = oldPostPbs.map(old =>
          None +: (pbs.get ++ old).distinct.map(v => Some(v.toString))))
    }

    // 1b. Index merge: one array-packed row per alive touched doc (an
    //    update overwrites its buckets in place — the merge key is the
    //    bare id); dead ids ride the same commit as NULL-payload
    //    tombstones (a live doc's buckets array is never null — null
    //    shingles produce a null array only for null text, which the
    //    snapshot cannot carry for an alive doc with text).
    val pIndex = index.pendingUpsertWithDelete(
      withIb(newIdx.unionByName(deadIdx)),
      col("buckets").isNull,
      meta = (if (postings.isDefined) Map(SpanKey -> span)
        else Map.empty[String, String]) +
        (IdPartsKey -> idParts.toString) +
        (DocPartsKey -> docParts.toString),
      // key-derived layout: touched = the batch ids' __ib set exactly
      // (alive AND dead ids both ride the source), already collected
      touchedPartsHint =
        if (needIb) Some(ibs.map(i => Some(i.toString))) else None)

    // 2. Pair re-derivation for the touched slice. Candidates: the
    //    batch's (band, bucket) set is BROADCAST against the standing
    //    index — partition-pruned through the sidecar when enabled, a
    //    map-side packed scan otherwise (see [[standingRows]] and the
    //    class doc's regime analysis). Only rows landing in touched
    //    buckets survive; oversized buckets are skipped at generation.
    //
    //    The standing side is the POST-merge index state, derived here
    //    from PRE-merge reads so the derivation can precede the fused
    //    commit: post-merge = pre-merge ∖ (touched ids' rows) ∪ the
    //    batch's new rows. The merge replaces ALL of a touched id's
    //    (id, band) rows (alive ids re-assert every band, dead ids
    //    tombstone every band), so the anti-join on id plus the
    //    probeRows union reproduces the post-merge slice exactly —
    //    restricted to the probe's bucket set, where every probeRow
    //    lands by definition.
    val touchedRows = standingRows(probeRows, pbs)
      .join(touched, Seq("id"), "left_anti")
      .unionByName(probeRows)
      .localCheckpoint(true) // bucket sizing AND the candidate join
    val okBuckets = touchedRows.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") <= maxBucketSize)
      .select("band", "bucket")
    val probe = probeRows.join(okBuckets, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("id").as("b_id"))
    val other = touchedRows.join(okBuckets, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("id").as("a_id"))
    val cand = other.join(probe, Seq("band", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
      .localCheckpoint(true) // feeds the id cut AND both verify joins
    // verify with exact shingle-Jaccard against current texts — the
    // snapshot is cut down to CANDIDATE ids BEFORE tokenizing, so the
    // shingling cost is O(candidates), not O(corpus) (shingling after
    // the pair join would force a full-corpus tokenization pass into
    // the shuffle — measured 2× the whole maintain cost at ×16)
    // (re-derived twice under docParts — bucket collect + fetch join —
    // but from the checkpointed cand, one cheap distinct each)
    val candIds = cand.select(col("a_id").as("id"))
      .unionByName(cand.select(col("b_id").as("id"))).distinct()
    val texts = fetchDocs(snapshot, idCol, candIds)
      .select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh"))
    val withSh = cand
      .join(texts.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(texts.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
    graft.plans.GraftOptimizations.install(spark)
    val inter = size(array_intersect(col("a_sh"), col("b_sh")))
    val fresh = withSh.withColumn("__i", inter)
      .withColumn("jaccard", round(col("__i") /
        (size(col("a_sh")) + size(col("b_sh")) - col("__i")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .localCheckpoint(true)

    // 3. Stale pairs: anything touching a changed doc that the fresh
    //    derivation did not re-assert dies in the same commit — again
    //    as NULL-payload tombstones (a verified pair's jaccard is never
    //    null), keeping the stored key schema exactly (a_id, b_id).
    //    Stored-pair lookup: under the symmetric __ab layout ONE
    //    partition-pruned slice (a_id ∈ touched — symmetry covers the
    //    b side, class doc) replaces the two full pairs-table scans;
    //    canonicalizing least/greatest collapses the mirrored rows.
    val stale = storedPairsTouching(touched,
      if (needAb) Some(abs) else None).distinct()
      .join(fresh.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_anti")
      .select(col("a_id"), col("b_id"),
        lit(null).cast("double").as("jaccard"))
    // both orderings of fresh AND stale ride this one commit (sym is
    // the identity for pairParts <= 0), so the symmetry invariant holds
    // in every crash state; the marker (and span token) commit LAST
    val pPairs = pairs.pendingUpsertWithDelete(sym(fresh.unionByName(stale)),
      col("jaccard").isNull,
      meta = (if (postings.isDefined) meta + (SpanKey -> span) else meta) +
        (PairPartsKey -> pairParts.toString))
    // ONE write action, THREE ordered pointer swaps (postings → index →
    // pairs — the class doc's crash contract, marker last)
    LakeTable.commitFused(pPostings.toSeq ++ Seq(pIndex, pPairs))
  }

  /** Stored pairs touching any id of `touched` (column "id"), in
    * CANONICAL (a_id < b_id) form — the stale-pair derivation's stored
    * side. Under the symmetric `__ab` layout this is ONE
    * partition-pruned slice (a_id ∈ touched; symmetry covers the b
    * side — class doc) with a bounded ≤ min(ids, pairParts) bucket
    * collect; otherwise the two full-table semi-joins the layout
    * exists to delete. `private[graft]` so DedupIndexSpec can pin the
    * pruned plan. */
  private[graft] def storedPairsTouching(touched: DataFrame,
      absPre: Option[Seq[Int]] = None): DataFrame =
    if (pairParts <= 0)
      pairs.read
        .join(touched.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
        .unionByName(pairs.read.join(
          touched.select(col("id").as("b_id")), Seq("b_id"), "left_semi"))
        .select("a_id", "b_id")
    else {
      val abs = absPre.getOrElse(
        touched.select(abOf(col("id")).as("b")).distinct()
          .collect().map(_.getInt(0)).toSeq)
      pairs.read.filter(col("__ab").isin(abs: _*))
        .join(touched.select(col("id").as("a_id")), Seq("a_id"), "left_semi")
        .select(least(col("a_id"), col("b_id")).as("a_id"),
          greatest(col("a_id"), col("b_id")).as("b_id"))
    }

  /** Sync the index with `docsTable`'s changes since `sinceVersion`
    * (its change feed must be on). Returns the synced version — record
    * it and pass it as the next call's `sinceVersion`. */
  def maintain(docsTable: LakeTable, idCol: String, textCol: String,
      sinceVersion: Int): Int = {
    val syncedTo = docsTable.version
    applyChanges(docsTable.changesSince(sinceVersion), docsTable.read,
      idCol, textCol)
    syncedTo
  }
}

object DedupIndex {
  def apply(spark: SparkSession, root: String, name: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucketSize: Int = 1000,
      postingParts: Int = 0, idParts: Int = 0,
      docParts: Int = 0, pairParts: Int = 0): DedupIndex =
    new DedupIndex(spark, root, name, shingleN, k, bands, threshold,
      maxBucketSize, postingParts, idParts, docParts, pairParts)

  /** Serving-layout sizing derived from corpus stats, so callers stop
    * hand-picking partition-count constants. Each partition targets
    * [[TargetRowsPerPart]] rows: the postings sidecar holds rows×bands
    * exploded rows, the packed index `rows` packed rows. Clamps keep
    * tiny corpora from degenerating to one-row partitions and huge ones
    * from exceeding a manageable directory fan-out; within the clamps
    * the realized rows-per-partition stays inside the documented
    * [target/2, target×2] band (DedupIndexSpec pins it at ×64).
    * TargetRowsPerPart is the LAB-scale band — at cluster scale pass a
    * target that puts a partition at parquet-file size (~128 MB). */
  val TargetRowsPerPart = 2500L

  /** `pairParts` reuses the id-driven modulus: pair volume is
    * corpus-dependent (the near-dup rate) and unknown at sizing time,
    * but the stale-pair lookup is keyed by the same batch ids as the
    * packed-index merge, so the same partition count gives the same
    * O(batch) touched-set bound. `maxPostingParts`/`maxIdParts` expose
    * the upper clamps for ladder controls (the defaults are the
    * documented production band). */
  final case class Sizing(postingParts: Int, idParts: Int, pairParts: Int)

  def sizedParts(rows: Long, bands: Int,
      targetRowsPerPart: Long = TargetRowsPerPart,
      maxPostingParts: Int = 1024, maxIdParts: Int = 128): Sizing = {
    def clamp(v: Long, lo: Long, hi: Long): Int =
      math.max(lo, math.min(hi, v)).toInt
    val ip = clamp(rows / targetRowsPerPart, 16, maxIdParts.toLong)
    Sizing(
      postingParts =
        clamp(rows * bands / targetRowsPerPart, 64, maxPostingParts.toLong),
      idParts = ip, pairParts = ip)
  }

  /** Build a serving-layout index sized from the corpus itself
    * ([[sizedParts]]); the derivation is recorded in the packed index's
    * committed meta (`dedup.sizing`) so an operator can audit why the
    * layout has the partition counts it has. `docParts` stays
    * caller-owned — it describes the DOCS table's layout, which this
    * index reads but does not write. */
  def autoSized(spark: SparkSession, root: String, name: String,
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBucketSize: Int = 1000,
      docParts: Int = 0): DedupIndex = {
    val rows = docs.count()
    val s = sizedParts(rows, bands)
    val di = new DedupIndex(spark, root, name, shingleN, k, bands,
      threshold, maxBucketSize, s.postingParts, s.idParts, docParts,
      s.pairParts)
    di.build(docs, idCol, textCol)
    di.index.annotate(Map("dedup.sizing" ->
      (s"rows=$rows bands=$bands target=$TargetRowsPerPart " +
        s"postingParts=${s.postingParts} idParts=${s.idParts} " +
        s"pairParts=${s.pairParts}")))
    di
  }
}

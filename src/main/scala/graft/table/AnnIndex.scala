package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dot, normalize}
import graft.operators.Similarity

/** Persistent IVF (inverted-file) ANN index over an embedding LakeTable,
  * maintained INCREMENTALLY from the table's change feed.
  *
  * [[graft.operators.Similarity.ivfTopK]] retrains centroids and
  * re-assigns the WHOLE corpus on every call — right for one-shot
  * queries, wrong for a serving index over a corpus that ingests
  * continuously. Here the IVF state is a lakehouse table pair:
  *
  *  - `centroids` (cell → unit vector): the coarse quantizer, trained
  *    once at [[build]] with the same deterministic mini k-means as
  *    `ivfTopK` and then FROZEN — the standard production split
  *    (assignments move incrementally; the quantizer retrains only on
  *    an explicit [[build]], which is a full rebuild). Frozen centroids
  *    are what make incremental maintenance exact: an assignment
  *    depends only on (vector, centroids), never on other rows.
  *  - `assign` (id → cell, unit vector): the inverted file. A change
  *    batch re-assigns only the touched ids (alive rows from the
  *    current snapshot get `cellOf(centroids)`; dead ids ride the same
  *    MERGE-with-DELETE as NULL-vector tombstones), so maintenance is
  *    O(changed rows × nCells) regardless of corpus size.
  *
  * [[search]] is `ivfTopK`'s probe plan over the PERSISTED index: the
  * query probes its `nProbe` nearest cells, candidates get exact cosine
  * verification, bounded top-k via the mergeable aggregator. With
  * `nProbe = nCells` every cell is probed and the result provably
  * equals the brute-force top-k over the current corpus — that full
  * probe is the correctness oracle; production uses nProbe ≪ nCells
  * and accepts the measured recall (RecallSpec contract, same as the
  * other ANN paths).
  *
  * The inverted file is PARTITIONED BY CELL — that is the entire scale
  * premise of IVF made physical: [[search]] restricts its index read to
  * the probed cell set (a bounded, ≤ nCells driver-side collect of the
  * probe list), so the scan opens only `|probed cells| / nCells` of the
  * corpus — partition-pruned at the parquet source, pinned by
  * AnnIndexSpec via the physical plan's partition filters. Maintenance
  * rides [[LakeTable]]'s partition-pruned MERGE: only the cells the
  * batch lands in (plus the touched ids' PREVIOUS cells, discovered by
  * the merge's matched-key rule — a re-assigned vector must leave its
  * old cell) are rewritten; untouched cell partitions hard-link. At
  * production scale pick nCells so cells stay bounded (corpus/nCells ≈
  * constant), the standard IVF sizing — the `annidx` scaling ladder
  * measures search cost flat in corpus under exactly that discipline.
  *
  * `docParts > 0` prunes the touched-vector fetch from the snapshot:
  * with the corpus table hash-partitioned on [[DocBuckets]]' `__db`
  * (stamped by the writer over the id CAST TO LONG, the type this
  * index reads ids at), the fetch filters on the batch ids' bucket set
  * so the scan opens ≤ min(batch, docParts) partitions regardless of
  * corpus size. Layout mismatches fail loudly in-plan
  * (see [[DocBuckets]]).
  *
  * `idParts > 0` prunes the LAST O(corpus) term of maintenance — the
  * assign merge's matched-key partition discovery. `cell` is not a
  * function of the merge key (a re-assigned vector moves cells), so
  * the pruned MERGE must learn the touched ids' OLD cells; without a
  * cheaper authority that is a column-pruned scan of the whole
  * inverted file per batch. The `ids` sidecar ((id, cell),
  * hash-partitioned on pmod(xxhash64(id), idParts) — key-derived, so
  * its own merges prune for free) answers it with an O(batch)
  * id-pruned read, passed as the assign merge's matchedPartsHint.
  * Commit ORDER is load-bearing (same argument as
  * [[DedupIndex.applyChanges]]'s sidecar-before-index rule): the hint
  * CONSUMER (assign) commits before its AUTHORITY (ids) updates, so
  * every reachable crash state re-runs with the old cells still
  * derivable; the exactly-once batch marker rides the LAST commit
  * ([[markerTable]]), so an interrupted span is always re-delivered.
  *
  * Re-delivery after a crash BETWEEN the two commits additionally
  * runs UNHINTED (the pre-r15 column-pruned matched-key scan): the
  * sidecar's cells describe the pre-span state, but the crashed run's
  * committed assign rows sit at cells computed from the CRASH-TIME
  * snapshot — if the corpus advanced again before re-delivery, the
  * re-run's source cells come from the NEWEST snapshot and neither
  * set need cover the crashed cells, so a trusted hint would strand a
  * stale vector in an unrewritten cell partition (duplicate merge key,
  * served by search forever). Detection is a span token: every
  * [[applyChanges]] stamps the SAME fresh token into both commits'
  * meta ([[SpanKey]]); assign ≠ ids means the previous span was
  * interrupted, and exactly that one recovery batch pays the full
  * matched-key scan (AnnIndexSpec replays the crash+advanced-snapshot
  * state and pins both the detection and the converged result). */
final class AnnIndex(spark: SparkSession, root: String, name: String,
    nCells: Int = 16, docParts: Int = 0, idParts: Int = 0) {

  val centroids: LakeTable = LakeTable(spark, root, s"${name}_centroids",
    Seq("cell"))
  val assign: LakeTable = LakeTable(spark, root, s"${name}_assign",
    Seq("id"), partitionCols = Seq("cell"))

  /** The (id → cell) sidecar (idParts > 0 only) — see the class doc. */
  val ids: Option[LakeTable] =
    if (idParts <= 0) None
    else Some(LakeTable(spark, root, s"${name}_ids", Seq("id"),
      partitionCols = Seq("__ib"), partitionsFromKeys = true))

  /** The sidecar's layout convention in ONE place (the probe handle
    * drop()/requireLayout() use regardless of this instance's config). */
  private def idsProbe: LakeTable =
    LakeTable(spark, root, s"${name}_ids", Seq("id"))

  // INT-typed like DocBuckets.bucket: non-empty partitioned reads infer
  // the directory column as int, so the stamped type must match what a
  // schema-applied read would otherwise flip (pmod < idParts, always
  // int-sized)
  private def ibOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(xxhash64(id), lit(idParts.toLong)).cast("int")

  /** The table the exactly-once batch marker rides: the LAST commit of
    * [[applyChanges]] — the ids sidecar when present, assign otherwise. */
  private[graft] def markerTable: LakeTable = ids.getOrElse(assign)

  def drop(): Unit = { centroids.drop(); assign.drop(); idsProbe.drop() }

  /** Full (re)build: train the quantizer on the current corpus, assign
    * every row. */
  def build(docs: DataFrame, idCol: String, vecCol: String,
      iters: Int = 2): Unit = {
    import spark.implicits._
    val c = docs.select(col(idCol).cast("long").as("id"),
      normalize(col(vecCol)).as("v"))
    val cached = c.cache()
    val cents =
      try Similarity.trainCentroids(cached, "id", "v", nCells, iters)
      finally cached.unpersist(blocking = true)
    // fail FAST on a corpus smaller than the quantizer: training would
    // seed fewer centroids, build would "succeed", and every later
    // maintain/search would permanently trip loadCentroids' check with
    // a misleading message (round-12 ADVICE)
    require(cents.length == nCells,
      s"index $name: corpus has only ${cents.length} rows — cannot train " +
        s"a $nCells-cell quantizer (build with nCells <= corpus size)")
    drop()
    // layout config frozen ATOMICALLY with the data (LakeTable.create
    // meta doc), like DedupIndex's layout keys: the in-plan DocBuckets
    // assert is blind to a mismatched modulus that DIVIDES the stored
    // one, so config drift must fail here, loudly.
    //
    // The assignments are materialized ONCE (the sidecar used to derive
    // from a read-back of the committed assign table — same
    // single-scoring guarantee, now without the intermediate commit)
    // and all creates ride ONE fused write action (LakeTable.commitFused).
    val pCent = centroids.pendingCreate(cents.zipWithIndex
      .map { case (v, i) => (i, v) }.toSeq.toDF("cell", "v"),
      Map(DocPartsKey -> docParts.toString,
        IdPartsKey -> idParts.toString))
    val assigned = c.withColumn("cell", Similarity.cellOf(cents, col("v")))
      .localCheckpoint(true)
    val pAssign = assign.pendingCreate(assigned)
    val pIds = ids.map(t => t.pendingCreate(
      assigned.select(col("id"), col("cell"))
        .withColumn("__ib", ibOf(col("id")))))
    LakeTable.commitFused(Seq(pCent, pAssign) ++ pIds)
  }

  private val DocPartsKey = "ann.doc_parts"
  private val IdPartsKey = "ann.id_parts"

  /** Span-token meta key (class doc): each applyChanges stamps one
    * fresh token into BOTH commits; a mismatch at the next call means
    * the previous span crashed between them. `private[graft]` so
    * AnnIndexSpec can pin the detection. */
  private[graft] val SpanKey = "ann.span"

  /** True when the previous applyChanges crashed between the assign
    * and sidecar commits — the one state whose re-delivery must not
    * trust the sidecar-derived hint (class doc). */
  private def spanInterrupted: Boolean =
    ids.exists(t => assign.meta.get(SpanKey) != t.meta.get(SpanKey))

  private def requireLayout(): Unit = {
    val storedDp = centroids.meta.get(DocPartsKey)
    require(storedDp.forall(_ == docParts.toString),
      s"index $name: docParts=$docParts but the index was built with " +
        s"${storedDp.getOrElse("<unknown>")} — the snapshot fetch's " +
        "partition pruning would silently miss vectors")
    val storedIp = centroids.meta.get(IdPartsKey)
    require(storedIp.forall(_ == idParts.toString),
      s"index $name: idParts=$idParts but the index was built with " +
        s"${storedIp.getOrElse("<unknown>")} — the assign merge's " +
        "matched-partition hint would silently miss old cells")
    if (ids.isEmpty)
      // an orphaned sidecar would go stale while a future idParts>0
      // instance keeps trusting it — same loud rule as DedupIndex's
      // postings probe
      require(!idsProbe.exists,
        s"index $name: an ids sidecar is stored but this instance has " +
          "idParts=0 — maintaining without it would leave it silently " +
          "stale; use the original idParts or rebuild with build()")
  }

  /** The frozen quantizer, loaded from the table (bounded: nCells rows). */
  private def loadCentroids(): Array[Seq[Double]] = {
    val rows = centroids.read.orderBy("cell")
      .select("cell", "v").collect()
    require(rows.length == nCells &&
      rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"index $name: centroid table does not hold cells 0..${nCells - 1} " +
        "(built with a different nCells?)")
    rows.map(_.getSeq[Double](1))
  }

  /** Apply one change-event frame against the CURRENT corpus snapshot:
    * touched ids' final state comes from the SNAPSHOT (same convergence
    * contract as [[DedupIndex.applyChanges]] — events contribute only
    * their key set), the quantizer is not retrained, and `meta` commits
    * atomically WITH the assignment merge (the streaming drain's
    * exactly-once batch marker). */
  def applyChanges(changes: DataFrame, snapshot: DataFrame, idCol: String,
      vecCol: String, meta: Map[String, String] = Map.empty): Unit = {
    requireLayout()
    val cents = loadCentroids()
    val touched = changes
      .select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint(true)
    // ONE driver round-trip for the batch's bounded key-derived bucket
    // sets (the sidecar's __ib cut + the docs table's __db pruning —
    // previously one distinct+collect job each; the ids merge
    // re-collected the same __ib set a third time inside touchedParts).
    // Guide §5: fewer fixed-latency driver round-trips per micro-batch.
    val needIb = idParts > 0
    val needDb = docParts > 0
    val (ibs, dbs): (Seq[Int], Seq[Int]) =
      if (!needIb && !needDb) (Nil, Nil)
      else {
        val row = touched.agg(
          collect_set(if (needIb) ibOf(col("id")) else lit(0)).as("i"),
          collect_set(if (needDb) DocBuckets.bucket(col("id"), docParts)
            else lit(0)).as("d")).head()
        (if (needIb) row.getSeq[Int](0) else Nil,
          if (needDb) row.getSeq[Int](1) else Nil)
      }
    // recovery batch (previous span crashed between the commits —
    // class doc): the sidecar is NOT a complete authority for the
    // touched ids' current cells, so this one batch runs unhinted
    val interrupted = spanInterrupted
    // OLD cells of the touched ids from the id-pruned sidecar — the
    // assign merge's matched-partition authority (class doc). Read
    // BEFORE any commit (the hint is collected eagerly at pending
    // construction, before any pointer swap); the sidecar itself
    // updates LAST. No checkpoint: the frame has exactly one consumer
    // (touchedParts' bounded collect inside the assign pending).
    val oldCellParts =
      if (interrupted) None
      else ids.map { t => idSlice(t, touched, Some(ibs)).select("cell") }
    val span = java.util.UUID.randomUUID().toString
    val alive = fetchVecs(snapshot, idCol, touched,
      if (needDb) Some(dbs) else None)
      .select(col(idCol).cast("long").as("id"),
        normalize(col(vecCol)).as("v"))
      .withColumn("cell", Similarity.cellOf(cents, col("v")))
      .localCheckpoint(true)
    val dead = touched.join(alive.select("id"), Seq("id"), "left_anti")
      .select(col("id"), lit(null).cast(alive.schema("v").dataType).as("v"),
        lit(null).cast("int").as("cell"))
    // hint consumer first; the marker rides the LAST commit so an
    // interrupted span re-delivers (markerTable doc). Both commits
    // carry this span's token so the NEXT call can detect a crash
    // between them (spanInterrupted). The two merges are staged as
    // pendings and committed through ONE fused write action
    // (LakeTable.commitFused — one fewer write job per batch); the
    // pointer swaps keep the assign → ids order, so the span-token
    // crash contract is unchanged.
    val pAssign = assign.pendingUpsertWithDelete(
      alive.select("id", "v", "cell").unionByName(dead), col("v").isNull,
      meta = if (ids.isDefined) Map(SpanKey -> span) else meta,
      matchedPartsHint = oldCellParts)
    val pIds = ids.map { t =>
      val src = alive.select(col("id"), col("cell"))
        .unionByName(dead.select(col("id"), col("cell")))
        .withColumn("__ib", ibOf(col("id")))
      // key-derived layout: touched = the batch ids' __ib set exactly
      // (alive AND dead both ride the source), already collected
      t.pendingUpsertWithDelete(src, col("cell").isNull,
        meta = meta + (SpanKey -> span),
        touchedPartsHint = Some(ibs.map(i => Some(i.toString))))
    }
    LakeTable.commitFused(Seq(pAssign) ++ pIds)
  }

  /** The sidecar rows of an id frame (column "id"), partition-pruned by
    * the ids' `__ib` buckets. `private[graft]` for plan pins. */
  private[graft] def idSlice(t: LakeTable, idFrame: DataFrame,
      ibsPre: Option[Seq[Int]] = None): DataFrame = {
    val ibs = ibsPre.getOrElse(
      idFrame.select(ibOf(col("id")).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq)
    t.read.filter(col("__ib").isin(ibs: _*))
      .join(idFrame, Seq("id"), "left_semi")
  }

  /** Corpus-snapshot rows for a LONG id frame (column "id"): exact
    * left_semi, with the scan partition-pruned to the ids' `__db`
    * buckets when docParts > 0 (class doc / [[DocBuckets]]).
    * `private[graft]` so AnnIndexSpec can pin the pruned plan. */
  private[graft] def fetchVecs(snapshot: DataFrame, idCol: String,
      ids: DataFrame, dbsPre: Option[Seq[Int]] = None): DataFrame = {
    val scan =
      if (docParts <= 0) snapshot
      else DocBuckets.pruned(snapshot, col(idCol).cast("long"), docParts,
        ids, "id", dbsPre)
    scan.join(ids.select(col("id").as(idCol)), Seq(idCol), "left_semi")
  }

  /** Sync assignments with `docsTable`'s changes since `sinceVersion`
    * (change feed required). Returns the synced version. */
  def maintain(docsTable: LakeTable, idCol: String, vecCol: String,
      sinceVersion: Int): Int = {
    val syncedTo = docsTable.version
    applyChanges(docsTable.changesSince(sinceVersion), docsTable.read,
      idCol, vecCol)
    syncedTo
  }

  /** `ivfTopK`'s probe plan over the persisted index. `nProbe = nCells`
    * is the exact (full-probe) mode.
    *
    * The index read is PRUNED to the probed cells: the probe list is
    * checkpointed once, its distinct cell set collected (bounded by
    * nCells rows — the same layout-sized-collect contract as
    * [[FileSkipping]]), and the inverted-file scan filtered on that
    * static IN-list so partition pruning reaches the parquet source —
    * the scan opens |probed| of the nCells cell partitions, never the
    * whole corpus. */
  def search(queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int): DataFrame = {
    val cents = loadCentroids()
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      normalize(col(vecCol)).as("q_v"))
    val sortedCells = array_sort(Similarity.cellScores(cents, col("q_v")),
      (l, r) => when(l("s") > r("s"), -1).when(l("s") < r("s"), 1)
        .otherwise((l("cell") - r("cell")).cast("int")))
    val probes = q.withColumn("cell",
        explode(transform(slice(sortedCells, 1, nProbe), s => s("cell"))))
      .localCheckpoint(true) // computed once: cell-set collect AND the join
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val index = assign.read
      .filter(col("cell").isin(probedCells: _*))
      .select(col("id").as("neighbor_id"), col("v").as("c_v"), col("cell"))
    // probes = |queries| × nProbe rows: designed-small, but a bulk query
    // batch must degrade to a shuffle join, not OOM the driver
    val scored = IncrementalView.broadcastIfSmall(probes)
      .join(index, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("q_v"), col("c_v")), 6).as("cos"))
    Similarity.topKPerGroup(scored, k)
  }
}

object AnnIndex {
  def apply(spark: SparkSession, root: String, name: String,
      nCells: Int = 16, docParts: Int = 0, idParts: Int = 0): AnnIndex =
    new AnnIndex(spark, root, name, nCells, docParts, idParts)

  /** nCells ≈ √rows — the standard IVF sizing (FAISS's guideline):
    * cells then hold ~√rows vectors, so a search probing nProbe cells
    * scores nProbe·√rows candidates and the quantizer stays trainable
    * (≥ ~1 vector per cell guaranteed by the clamp). Clamped to 4096
    * cells: past that the per-cell directory fan-out and the bounded
    * centroid collect (nCells rows) stop being "metadata-sized". */
  def sizedCells(rows: Long): Int =
    math.max(1L, math.min(4096L,
      math.sqrt(rows.toDouble).toLong)).toInt

  /** Build an index sized from the corpus itself ([[sizedCells]]);
    * derivation recorded in the centroid table's committed meta
    * (`ann.sizing`). `docParts` stays caller-owned (docs-table layout). */
  def autoSized(spark: SparkSession, root: String, name: String,
      docs: DataFrame, idCol: String, vecCol: String,
      docParts: Int = 0, idParts: Int = 0, iters: Int = 2): AnnIndex = {
    val rows = docs.count()
    val cells = sizedCells(rows)
    val ai = new AnnIndex(spark, root, name, cells, docParts, idParts)
    ai.build(docs, idCol, vecCol, iters)
    ai.centroids.annotate(Map("ann.sizing" ->
      s"rows=$rows nCells=$cells"))
    ai
  }
}

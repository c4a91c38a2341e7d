package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Id-hash bucket layout for a document/embedding corpus table — the
  * read-side complement of [[DedupIndex]]'s `idParts` packed-index
  * layout, applied to the CORPUS table itself.
  *
  * Why it exists: the CDC index maintainers ([[DedupIndex.applyChanges]],
  * [[AnnIndex.applyChanges]]) fetch the touched/candidate rows' payloads
  * (texts, vectors) from the current corpus snapshot with a key-pruned
  * semi-join — but the SCAN side of that join reads the whole corpus
  * parquet, the last O(corpus) term in an otherwise O(changes)
  * maintenance path (the measured residual slope of the `dedupidxp`
  * scaling ladder). Hash-partitioning the corpus table on
  * `__db = pmod(xxhash64(id), parts)` turns that fetch into a
  * partition-PRUNED read: a batch of b ids touches ≤ min(b, parts)
  * partitions, so the fetch opens only the touched ids' files
  * regardless of corpus size. At 100 TB with single-document CDC
  * batches this is the difference between a full-corpus scan per batch
  * and a handful of file opens.
  *
  * The bucket is derived from the MERGE KEY, so a row can never change
  * partition across updates (same invariant as `idParts`/`postingParts`),
  * and [[LakeTable]]'s partition-pruned MERGE makes corpus churn writes
  * O(touched buckets) as a side effect.
  *
  * Layout contract: the writer must stamp `__db` with [[withBucket]]
  * (or [[bucket]]) over the id column AT THE TYPE THE INDEX READS IT —
  * xxhash64 is type-sensitive, so an int-typed id hashed by the writer
  * and long-cast by the reader would bucket differently. A consumer's
  * pruned fetch re-derives the bucket per fetched row and fails LOUDLY
  * (in-plan assert) on any row whose stored `__db` disagrees, so a
  * mixed-modulus or mixed-type layout can never silently lose rows
  * inside the probed partitions. */
object DocBuckets {

  /** The derived partition column's name. */
  val ColName = "__db"

  /** The bucket of an id under a `parts`-way layout. INT-typed: the
    * stored column must match what partition-directory type inference
    * reads back (small integral dir names infer as int), or a reader
    * that applies the TABLE schema to the change-feed parquet — the
    * CDC stream source — hits a physical INT64 under a logical int
    * (parts is clamped ≤ 1024 everywhere, so int is always wide
    * enough). */
  def bucket(id: Column, parts: Int): Column =
    pmod(xxhash64(id), lit(parts.toLong)).cast("int")

  /** Stamp the layout column onto a corpus frame before writing it to a
    * `partitionCols = Seq(DocBuckets.ColName)` LakeTable. */
  def withBucket(df: DataFrame, idCol: String, parts: Int): DataFrame =
    df.withColumn(ColName, bucket(col(idCol), parts))

  /** Prune `snapshot` to the partitions the `ids` frame's id values can
    * live in: collect the ids' distinct bucket set (bounded ≤ min(ids,
    * parts) rows — the layout-sized-collect contract of
    * [[FileSkipping]]), filter on a static IN-list so partition pruning
    * reaches the parquet source, and fold in the loud layout assert
    * (stored `__db` must equal the re-derived bucket for every row
    * actually read). The caller still applies its exact id semi-join —
    * this only bounds the scan. */
  def pruned(snapshot: DataFrame, snapshotId: Column, parts: Int,
      ids: DataFrame, idsCol: String,
      dbsPre: Option[Seq[Int]] = None): DataFrame = {
    require(snapshot.columns.contains(ColName),
      s"corpus snapshot has no $ColName layout column — write it with " +
        s"DocBuckets.withBucket (modulus $parts) into a " +
        s"partitionCols = Seq(\"$ColName\") table, or set docParts = 0")
    // dbsPre: the ids' bucket set when the caller already collected it
    // (the index maintainers fuse it into their one per-batch
    // bucket-set round-trip); derived here otherwise
    val dbs = dbsPre.getOrElse(
      ids.select(bucket(col(idsCol), parts).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq)
    snapshot.filter(col(ColName).isin(dbs: _*))
      .filter(assert_true(col(ColName) === bucket(snapshotId, parts),
        concat(lit(s"corpus layout mismatch: stored $ColName disagrees " +
          s"with pmod(xxhash64(id), $parts) for id "),
          snapshotId.cast("string"),
          lit(" — the table was bucketed with a different modulus or id " +
            "type; a pruned fetch would silently lose rows"))).isNull)
  }

  /** Frozen-modulus meta key ([[Bucketed.create]] commits it; the
    * factory refuses a handle whose `parts` disagrees — the in-plan
    * assert alone is provably blind to a modulus that DIVIDES the
    * stored one, same argument as [[DedupIndex]]'s layout keys). */
  val PartsKey = "docbuckets.parts"

  /** Lab-scale rows-per-partition target, same band as
    * [[DedupIndex.TargetRowsPerPart]] — at cluster scale pass a target
    * that puts one bucket at parquet-file size (~128 MB). */
  val TargetRowsPerPart = 2500L

  /** `docParts` derived from corpus rows: one bucket ≈
    * [[TargetRowsPerPart]] rows, clamped so a tiny corpus doesn't
    * degenerate to one-row directories and a huge one keeps the
    * per-write partition fan-out (and the pruned fetch's bounded
    * bucket collect) metadata-sized. */
  def sizedParts(rows: Long,
      targetRowsPerPart: Long = TargetRowsPerPart): Int =
    math.max(8L, math.min(1024L, rows / targetRowsPerPart)).toInt

  /** A corpus LakeTable whose id-hash layout is owned by the HANDLE:
    * every write stamps `__db` over the declared id column, the table
    * is created with `partitionCols = Seq(__db), partitionsFromKeys =
    * true`, and the modulus is frozen into committed meta at create —
    * collapsing the create-site boilerplate (withBucket at every write
    * + the three-argument layout declaration) that was previously
    * hand-written per call site and could silently drift apart. The
    * underlying [[LakeTable]] stays reachable via [[Bucketed.table]]
    * for consumers that take the raw handle (index maintainers,
    * change-feed streams). */
  final class Bucketed private[DocBuckets] (val table: LakeTable,
      idCol: String, val parts: Int) {
    /** Drift guard — the complement of the in-plan assert (which only
      * fires on rows a pruned fetch actually reads): any DATA access
      * through a handle whose modulus disagrees with the stored layout
      * fails loudly. Checked lazily (not at construction) so the
      * create-first pattern — build a handle, drop whatever config a
      * previous run stored, recreate — stays legal; create() itself is
      * DDL-replace and re-freezes the modulus. Cached after the first
      * success — but RESET by [[drop]]: once this handle drops the
      * table, any OTHER handle can recreate it with a different
      * modulus, so the next data access here must re-validate against
      * whatever layout got stored. */
    private var checked = false
    private def requireStored(): Unit = if (!checked) {
      if (table.exists) table.meta.get(PartsKey).foreach(stored =>
        require(stored == parts.toString,
          s"table ${table.tablePath}: parts=$parts but the stored layout " +
            s"was bucketed with $stored — a pruned fetch would silently " +
            "lose rows; use the stored modulus or recreate the table"))
      checked = true
    }
    /** Stamp the layout column — exposed for writes that go through
      * the raw table (e.g. a caller composing its own merge). */
    def stamp(df: DataFrame): DataFrame = withBucket(df, idCol, parts)
    def create(df: DataFrame,
        extraMeta: Map[String, String] = Map.empty): Unit = {
      // the modulus freezes ATOMICALLY with the first version
      // (LakeTable.create meta doc)
      table.create(stamp(df), extraMeta + (PartsKey -> parts.toString))
      checked = true
    }
    /** Every merge carries the frozen-modulus key: on an EXISTING table
      * it re-commits the value [[requireStored]] just validated (or
      * retro-freezes a legacy absent key), and on a NOT-YET-CREATED
      * table it rides LakeTable's implicit-create commit — without it,
      * a first-write-via-merge would create the table with NO frozen
      * key, and a later handle with a different modulus would pass the
      * guard's absent-key tolerance and silently mis-prune. */
    private def layoutMeta: Map[String, String] =
      Map(PartsKey -> parts.toString)
    def upsert(df: DataFrame): Unit = {
      requireStored(); table.upsert(stamp(df), meta = layoutMeta)
    }
    def upsertWithDelete(df: DataFrame, deleteWhen: Column): Unit = {
      requireStored()
      table.upsertWithDelete(stamp(df), deleteWhen, meta = layoutMeta)
    }
    def delete(condition: Column): Unit = { requireStored(); table.delete(condition) }
    def read: DataFrame = { requireStored(); table.read }
    def version: Int = table.version
    def changesSince(v: Int): DataFrame = { requireStored(); table.changesSince(v) }
    def readChangeFeedStream: DataFrame = { requireStored(); table.readChangeFeedStream }
    def drop(): Unit = { table.drop(); checked = false }
  }

  /** Handle factory. A handle whose `parts` disagrees with a STORED
    * layout fails loudly at first data access (see the guard in
    * [[Bucketed]]). `changeFeed` defaults ON: the layout exists for
    * CDC index maintenance. */
  def bucketed(spark: SparkSession, root: String, name: String,
      idCol: String, parts: Int, changeFeed: Boolean = true): Bucketed = {
    require(parts > 0, s"bucketed table $name needs parts > 0 (got $parts)")
    val t = LakeTable(spark, root, name, Seq(idCol),
      partitionCols = Seq(ColName), changeFeed = changeFeed,
      partitionsFromKeys = true)
    new Bucketed(t, idCol, parts)
  }

  /** The create-flow factory the serving call sites use: modulus
    * derived from `sizeRows` ([[sizedParts]] — pass the FULL corpus
    * count even when only the first ingest wave lands at create), any
    * previous run's table DROPPED first (a recorded change feed or a
    * different stored modulus must not leak into this corpus), and the
    * first wave created with the frozen layout plus the sizing
    * derivation in the SAME committed meta. */
  def sized(spark: SparkSession, root: String, name: String,
      idCol: String, sizeRows: Long, initial: DataFrame,
      changeFeed: Boolean = true): Bucketed = {
    val b = bucketed(spark, root, name, idCol, sizedParts(sizeRows),
      changeFeed)
    b.drop()
    b.create(initial, Map("docbuckets.sizing" ->
      s"rows=$sizeRows target=$TargetRowsPerPart parts=${b.parts}"))
    b
  }
}
